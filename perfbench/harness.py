"""Run context: environment pinning, session, op accounting, memory.

One ``Run`` per benchmark process. It owns the per-run working
directory inside the checkout, the Spark session, the tracer, the
peak-memory sampler and the counts of attempted and failed operations.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import sys
import threading
import time
import traceback

from .trace import Tracer

DRIVER_MEMORY = "2g"  # well under the host's RAM; the package default is 16g


def cpu_probe() -> float:
    """Single-core host probe: seconds for a fixed pure-Python loop, the
    same loop as ``bench.py``'s probe, so host drift between runs shows."""
    t0 = time.perf_counter()
    s = 0
    for i in range(5_000_000):
        s += i * i
    if not s:
        raise RuntimeError("probe loop was optimised away")
    return time.perf_counter() - t0


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def tree_rss_bytes(root: int) -> int:
    """Resident bytes of ``root`` and all its descendants (driver, JVM
    and Python workers), pages shared between them counted once: the
    sum of their proportional set sizes. Python workers are forked from
    one daemon, so plain RSS would count the daemon's pages per worker."""
    kids = _children_map()
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            pass  # the process ended between listing and reading
        todo += kids.get(pid, [])
    return total


def heap_held_bytes(jvm) -> tuple[int, int]:
    """The JVM heap's committed bytes, and the bytes its heap pools held
    after its most recent garbage collection (0 before the first one).
    The non-heap pools a collection also reports (metaspace, code cache)
    are resident outside the heap and already in the process's PSS."""
    mf = jvm.java.lang.management.ManagementFactory
    committed = mf.getMemoryMXBean().getHeapMemoryUsage().getCommitted()
    heap = {p.getName() for p in mf.getMemoryPoolMXBeans() if p.getType().name() == "HEAP"}
    latest, held = -1, 0
    for gc in mf.getGarbageCollectorMXBeans():
        info = gc.getLastGcInfo()
        if info is not None and info.getEndTime() > latest:
            latest = info.getEndTime()
            after = info.getMemoryUsageAfterGc()
            held = sum(after.get(k).getUsed() for k in after.keySet() if k in heap)
    return committed, held


class MemSampler:
    """Peak memory of the process tree, sampled every ``interval``
    seconds. Each sample is the tree's resident bytes (sum of PSS) with
    the JVM heap counted as what it held after its latest garbage
    collection instead of its committed size: the heap is committed and
    touched up front (``pin_environment``), so its resident size is a
    setting, while what survives a collection is the program's."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak = 0  # over the whole run
        self.window_peak = 0  # since the last ``reset_window``
        self.jvm = None  # set by ``attach`` once the JVM runs
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def attach(self, jvm) -> None:
        self.jvm = jvm

    def sample(self) -> int:
        committed, held = heap_held_bytes(self.jvm)
        return tree_rss_bytes(os.getpid()) + held - committed

    def _loop(self) -> None:
        while not self._stop.is_set():
            # no samples until ``attach``: while the session starts, the
            # JVM's pinned heap is resident but cannot be accounted for
            if self.jvm is not None:
                try:
                    b = self.sample()
                except Exception:
                    b = 0  # the JVM is stopping
                self.peak = max(self.peak, b)
                self.window_peak = max(self.window_peak, b)
            self._stop.wait(self.interval)

    def reset_window(self) -> None:
        self.window_peak = 0

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def pin_environment(root: str, run_dir: str) -> None:
    """Everything the session and its workers need, set before the JVM
    starts: all cores, a driver heap below host RAM, the package on the
    workers' PYTHONPATH, and working and temp dirs inside the run dir."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    pp = os.environ.get("PYTHONPATH", "")
    os.environ.update(
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEMORY,
        PYTHONPATH=root + (os.pathsep + pp if pp else ""),
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"),
        TMPDIR=tmp,
        # The heap is committed and touched up front (-Xms = -Xmx): a heap
        # that grows on demand reaches a different resident size on every
        # run depending on GC timing. MemSampler counts the heap by what
        # survives a collection instead.
        PYSPARK_SUBMIT_ARGS=(
            f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData '
            f'-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch" pyspark-shell'
        ),
    )


class OpFailed(Exception):
    """A layer call raised; the run cannot continue."""


class Run:
    def __init__(self, workload: str, seed: int, seconds: float, trace: bool, root: str):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.root = root
        self.dir = os.path.join(root, ".perfbench_run", f"{workload}-{seed}-{os.getpid()}")
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.tracer = Tracer(False, f"{workload}-{seed}")
        self.mem = MemSampler()

    # ----------------------------------------------------------- session

    def start_session(self) -> float:
        """(Re)start the SparkSession through the package factory;
        returns the seconds it took."""
        from twilio_event_streams_reporting_example_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        t0 = time.perf_counter()
        self.spark = get_spark(app_name=f"perfbench-{self.workload}")
        # keep every micro-batch's progress for the freshness join
        self.spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "10000")
        self.tracer.sc = self.spark.sparkContext
        self.mem.attach(self.spark.sparkContext._jvm)
        return time.perf_counter() - t0

    def path(self, *parts: str) -> str:
        return os.path.join(self.dir, *parts)

    def release(self) -> None:
        from twilio_event_streams_reporting_example_spark.registry import release_caches

        release_caches()

    # -------------------------------------------------------- accounting

    @contextlib.contextmanager
    def op(self, name: str, **attrs):
        """One layer call: counted as attempted, as failed if it raises,
        and traced as a span when tracing is on."""
        self.attempted += 1
        with self.tracer.span(name, **attrs) as s:
            try:
                yield s
            except Exception as e:
                self.failed += 1
                self.problems.append(f"{name}: {type(e).__name__}: {e}"[:2000])
                traceback.print_exc(file=sys.stderr)
                raise OpFailed(name) from e

    def check(self, ok: bool, what: str) -> bool:
        """One output check: counted as attempted, and as failed if not ok."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.problems.append(what)
            print(f"check failed: {what}", file=sys.stderr)
        return ok

    # ---------------------------------------------------------- lifetime

    def open(self) -> None:
        shutil.rmtree(self.dir, ignore_errors=True)
        os.makedirs(self.dir)
        pin_environment(self.root, self.dir)
        self.mem.start()

    def close(self) -> None:
        self.mem.stop()
        if self.spark is not None:
            try:
                for q in self.spark.streams.active:
                    q.stop()
                self.spark.stop()
            finally:
                from pyspark import SparkContext

                gw = SparkContext._gateway
                if gw is not None:
                    gw.shutdown()
                    proc = getattr(gw, "proc", None)
                    if proc is not None:
                        # the gateway JVM exits when its stdin closes
                        if proc.stdin is not None:
                            proc.stdin.close()
                        try:
                            proc.wait(timeout=30)
                        except Exception:
                            proc.kill()
                            proc.wait(timeout=30)
        shutil.rmtree(self.dir, ignore_errors=True)
        parent = os.path.dirname(self.dir)
        with contextlib.suppress(OSError):
            os.rmdir(parent)  # only when no other run is using it

"""The workloads: backfill and live_stream.

Each workload has ``inputs`` (seeded input generation, repeated for the
``setup_s`` median), ``build`` (one-time set-up such as starting a
streaming query), ``window`` (the measured, untraced window),
``traced`` (what a traced run does instead of ``window``), ``check``
(output checks, outside any timing) and ``layer`` (per-layer figures
of a traced run).

A window returns its end-to-end figures: ``latency_p50_ms``,
``latency_tail_ms`` and the sample count.
"""

from __future__ import annotations

import os
import time

from . import checks
from . import gen_corpus as GC
from . import gen_taskrouter as G
from . import reports as R
from .trace import StatusCollector, counters_for, median, tail, total_self

TAIL_Q = 0.99  # the tail reported: p99, or the highest percentile the samples support


def _write_raw(path: str, events: list[G.Event], first_idx: int = 0) -> None:
    """(arrival_idx, raw) parquet — the input shape of the batch plans."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.table({
            "arrival_idx": pa.array(range(first_idx, first_idx + len(events)), pa.int64()),
            "raw": [e.json() for e in events],
        }),
        path,
    )


def _tree_files(path: str, suffix: str = ".parquet") -> tuple[int, int]:
    n = size = 0
    for d, _, files in os.walk(path):
        for f in files:
            if f.endswith(suffix):
                n += 1
                size += os.path.getsize(os.path.join(d, f))
    return n, size


def _figures(samples_s: list[float]) -> dict:
    return {
        "latency_p50_ms": 1000 * median(samples_s),
        "latency_tail_ms": 1000 * tail(samples_s, TAIL_Q),
        "samples": len(samples_s),
    }


def _measured(run, fn, traced: bool):
    """Run ``fn`` with tracing on or off; returns (result, peak memory MB
    while it ran)."""
    run.mem.reset_window()
    run.tracer.enabled = traced
    try:
        out = fn()
    finally:
        run.tracer.enabled = False
    return out, run.mem.window_peak / 2**20


# ------------------------------------------------------------------ backfill


class Backfill:
    """Rebuild event log, fact and dimension from a seeded history in a
    fresh process; traced runs also merge an update batch into a durable
    store and serve the report mix over it."""

    name = "backfill"
    LAYER_METRICS = (
        "taskrouter.ingest_s", "taskrouter.segments_s", "taskrouter.agents_s",
        "taskrouter.rows_in", "taskrouter.rows_deduped", "taskrouter.segments_rows",
        "taskrouter.jobs", "taskrouter.stages", "taskrouter.shuffle_write_bytes",
        "taskrouter.spill_bytes", "taskrouter.executor_cpu_s",
        "sinks.write_s", "sinks.files_written", "sinks.bytes_written",
        "incremental.merge_s", "incremental.touched_dates", "incremental.rows_rewritten",
        "incremental.write_amplification", "incremental.jobs",
        "incremental.shuffle_write_bytes", "incremental.fact_files",
        "report.bytes_read", "report.files_read", *(f"report.{s}_ms" for s in R.REPORTS),
        "merge_p50_s", "report_p50_ms", "report_p95_ms",
    )
    BASE_TASKS = 1200
    N_BATCHES = 8
    BATCH_TASKS = 30
    MERGES_TRACED = 1
    REPORTS_PER_SHAPE = 2  # reads of each report shape after a merge

    def inputs(self, run, rep: int) -> None:
        self.plan = p = G.merge_history(run.seed, self.BASE_TASKS, self.N_BATCHES,
                                        self.BATCH_TASKS)
        self.raw = run.path("raw.parquet")
        _write_raw(self.raw, p.events)
        if run.trace:
            # the same events as a base and update batches, for the merge
            self.batch_raw = [run.path(f"batch{j}.parquet") for j in range(self.N_BATCHES + 1)]
            first = 0
            for path, evs in zip(self.batch_raw, [p.base] + p.batches):
                _write_raw(path, evs, first)
                first += len(evs)

    def build(self, run) -> None:
        self.k = 0  # each backfill writes a fresh directory

    def _backfill(self, run, raw=None) -> float:
        """One ``initialize_taskrouter`` of ``raw`` (default: the whole
        history) into a fresh directory; returns its seconds."""
        from twilio_event_streams_reporting_example_spark.sources.incremental import (
            initialize_taskrouter,
        )

        self.out = run.path(f"backfill{self.k}")
        self.k += 1
        if raw is None:
            raw = run.spark.read.parquet(self.raw)
        t0 = time.perf_counter()
        with run.op("sources.incremental.initialize_taskrouter"):
            initialize_taskrouter(run.spark, raw, self.out)
        dt = time.perf_counter() - t0
        run.release()
        return dt

    def window(self, run, seconds: float) -> dict:
        """One backfill: the cold one a fresh batch job pays, JIT and code
        generation included. Its input, not ``seconds``, sets how long it
        runs; a time-boxed loop would add warm runs whenever the cold one
        got shorter than the window and change what the median means."""
        return _figures([self._backfill(run)])

    def traced(self, run, seconds: float) -> tuple[dict, dict, dict]:
        """Per-layer figures instead of the timed window: tracing overhead
        from one traced and one untraced backfill of a small batch (the
        tracer costs per call, not per row); the calls of a backfill of
        the base, split into plans and sinks; one update batch merged into
        it, followed by the report client. Returns the workload's named
        figures and the untraced and traced figures."""
        small = run.spark.read.parquet(self.batch_raw[1])
        self._backfill(run, small)  # compiles the plans, so the split below is warm
        got, got_peak = _measured(run, lambda: self._backfill(run, small), traced=True)
        ref, ref_peak = _measured(run, lambda: self._backfill(run, small), traced=False)
        _measured(run, lambda: self._decomposed(run), traced=True)
        _measured(run, lambda: self._merge_session(run), traced=True)
        return ({"latency.samples": 1},
                {**_figures([ref]), "peak_mem_mb": ref_peak},
                {**_figures([got]), "peak_mem_mb": got_peak})

    def _decomposed(self, run) -> None:
        """The calls ``initialize_taskrouter`` makes, over the base batch,
        one span each, with every plan first forced through a ``noop``
        sink so plan time and sink time separate. The tables written are
        the base the update batch is merged into."""
        from twilio_event_streams_reporting_example_spark.plans import taskrouter as P
        from twilio_event_streams_reporting_example_spark.sources import sinks

        spark = run.spark
        raw = spark.read.parquet(self.batch_raw[0])
        plans = {
            "ingest": lambda: P.ingest_taskrouter(raw),
            "segments": lambda: P.taskrouter_segments_df(spark, raw),
            "agents": lambda: P.taskrouter_agents_df(spark, raw, with_ordering=True),
        }
        for name, plan in plans.items():
            with run.op(f"plans.taskrouter.{name}"):
                plan().write.format("noop").mode("overwrite").save()
            run.release()
        out = self.store = run.path("store")
        writes = {
            "event_log": (sinks.write_event_log, "ingest"),
            "segments": (sinks.write_segments, "segments"),
            "agents": (sinks.write_agents, "agents"),
        }
        for name, (write, plan) in writes.items():
            with run.op(f"sources.sinks.write_{name}"):
                write(plans[plan](), f"{out}/{name}")
            run.release()
        self.base_files = _tree_files(out)
        self.base_rows = {t: spark.read.parquet(f"{out}/{t}").count()
                          for t in ("event_log", "segments")}

    # ------------------------------------------------- merge and report

    def _store_paths(self) -> tuple[str, str]:
        return f"{self.store}/segments", f"{self.store}/agents"

    def _merge_session(self, run) -> None:
        """Each update batch merged into the base and followed by a
        closed-loop report client. The base holds what
        ``initialize_taskrouter`` writes (agents with ``last_ts``);
        ``sources.sinks.materialize_taskrouter`` writes agents without
        it, and a later merge then fails."""
        from twilio_event_streams_reporting_example_spark.sources.incremental import (
            incremental_taskrouter_update,
        )

        spark = run.spark
        p = self.plan
        mix = R.ReportMix(run.seed, p.tasks, p.workers, p.start_s, p.days)
        self.merges, self.reads = [], []
        for j in range(1, 1 + self.MERGES_TRACED):
            t0 = time.perf_counter()
            with run.op("sources.incremental.incremental_taskrouter_update", batch=j):
                out = incremental_taskrouter_update(
                    spark, spark.read.parquet(self.batch_raw[j]), self.store)
            m = {"s": time.perf_counter() - t0, "touched": len(out["touched_dates"])}
            run.release()
            m.update(self._rewrite_counts(run, j, out["touched_dates"]))
            self.merges.append(m)
            fact, agents = self._store_paths()
            for shape, params in mix.round(self.REPORTS_PER_SHAPE):
                t0 = time.perf_counter()
                with run.op(f"report.{shape}"):
                    spark.sql(R.spark_sql(shape, params, fact, agents)).collect()
                self.reads.append((shape, time.perf_counter() - t0))
        self.applied = 1 + self.MERGES_TRACED

    def _rewrite_counts(self, run, j: int, touched: list[str]) -> dict:
        """Rows in the rewritten date partitions, and rows recomputed
        (the fact rows of the batch's affected conversations and workers)."""
        from pyspark.sql import functions as F

        fact = run.spark.read.parquet(self._store_paths()[0])
        rewritten = fact.filter(F.col("segment_date").cast("string").isin(touched)).count()
        evs = self.plan.batches[j - 1]
        keys = {e.task["task_sid"] for e in evs if e.task} | {
            e.worker_sid for e in evs if e.task is None and e.worker_sid}
        recomputed = fact.filter(F.col("segment_external_id").isin(list(keys))).count()
        return {"rewritten": rewritten, "recomputed": recomputed}

    def _files_read(self, run) -> int:
        """Files the report scans opened: the "number of files read"
        metric of every SQL execution run by a report span."""
        report_groups = {run.tracer.job_group(s) for s in run.tracer.spans
                         if s.name.startswith("report.")}
        store = run.spark._jsparkSession.sharedState().statusStore()
        jobs = run.spark.sparkContext._jsc.sc().statusStore()
        total = 0
        execs = store.executionsList()
        for i in range(execs.size()):
            ex = execs.apply(i)
            groups = set()
            it = ex.jobs().keys().iterator()
            while it.hasNext():
                g = jobs.job(int(it.next())).jobGroup()
                if g.isDefined():
                    groups.add(g.get())
            if not groups & report_groups:
                continue
            accs = set()
            nodes = store.planGraph(ex.executionId()).allNodes()
            for n in range(nodes.size()):
                ms = nodes.apply(n).metrics()
                for m in range(ms.size()):
                    if ms.apply(m).name() == "number of files read":
                        accs.add(int(ms.apply(m).accumulatorId()))
            it = store.executionMetrics(ex.executionId()).iterator()
            while it.hasNext():
                e = it.next()
                if int(e._1()) in accs:
                    total += int(str(e._2()).replace(",", "").split()[0])
        return total

    def layer(self, run, groups: dict) -> dict:
        spans = run.tracer.spans
        names = ("ingest", "segments", "agents")
        tr = counters_for(run.tracer, groups, {f"plans.taskrouter.{n}" for n in names})
        plan_s = {n: total_self(spans, f"plans.taskrouter.{n}") for n in names}
        write_s = sum(total_self(spans, f"sources.sinks.write_{n}")
                      for n in ("event_log", "segments", "agents"))
        base_files, base_size = self.base_files
        n_base = len(self.plan.base)
        inc = counters_for(run.tracer, groups,
                           {"sources.incremental.incremental_taskrouter_update"})
        rep = counters_for(run.tracer, groups, {f"report.{s}" for s in R.REPORTS})
        n_merges = max(1, len(self.merges))
        rewritten = sum(m["rewritten"] for m in self.merges)
        recomputed = sum(m["recomputed"] for m in self.merges)
        merge_s = median([m["s"] for m in self.merges])
        reads = [s for _, s in self.reads]
        out = {
            "taskrouter.ingest_s": plan_s["ingest"],
            "taskrouter.segments_s": plan_s["segments"],
            "taskrouter.agents_s": plan_s["agents"],
            "taskrouter.rows_in": n_base,
            "taskrouter.rows_deduped": n_base - self.base_rows["event_log"],
            "taskrouter.segments_rows": self.base_rows["segments"],
            "taskrouter.jobs": tr["jobs"],
            "taskrouter.stages": tr["stages"],
            "taskrouter.shuffle_write_bytes": tr["shuffle_write_bytes"],
            "taskrouter.spill_bytes": tr["spill_bytes"],
            "taskrouter.executor_cpu_s": tr["executor_cpu_ns"] / 1e9,
            "sinks.write_s": max(0.0, write_s - sum(plan_s.values())),
            "sinks.files_written": base_files,
            "sinks.bytes_written": base_size,
            "incremental.merge_s": merge_s,
            "incremental.touched_dates": sum(m["touched"] for m in self.merges) / n_merges,
            "incremental.rows_rewritten": rewritten,
            "incremental.write_amplification": rewritten / recomputed if recomputed else 0.0,
            "incremental.jobs": inc["jobs"] / n_merges,
            "incremental.shuffle_write_bytes": inc["shuffle_write_bytes"] / n_merges,
            "incremental.fact_files": _tree_files(self._store_paths()[0])[0],
            "report.bytes_read": rep["input_bytes"],
            "report.files_read": self._files_read(run),
            "merge_p50_s": merge_s,
            "report_p50_ms": 1000 * median(reads),
            "report_p95_ms": 1000 * tail(reads, 0.95),
        }
        for shape in R.REPORTS:
            out[f"report.{shape}_ms"] = 1000 * median([s for n, s in self.reads if n == shape])
        return out

    def check(self, run) -> None:
        if run.trace:
            self._check_merge(run)
            return
        spark = run.spark
        h = self.plan.history
        fact = spark.read.parquet(f"{self.out}/segments")
        problems = checks.diff_fingerprints(
            checks.fact_fingerprint(fact), G.expected_fingerprint(h.segments))
        run.check(not problems, f"backfill fact fingerprint: {problems[:3]}")
        got = checks.agent_rows(spark.read.parquet(f"{self.out}/agents"))
        problems = checks.diff_agents(got, h.agents)
        run.check(not problems, f"backfill agents: {problems[:3]}")
        distinct = len({e.event_id for e in self.plan.events})
        n_log = spark.read.parquet(f"{self.out}/event_log").count()
        run.check(n_log == distinct, f"backfill event log rows {n_log} != distinct ids {distinct}")

    def _check_merge(self, run) -> None:
        """The merged store equals one ``initialize_taskrouter`` over every
        applied batch (the parity ``sources.incremental`` promises), and
        every report shape answers like DuckDB over the same files."""
        import duckdb
        from twilio_event_streams_reporting_example_spark.sources.incremental import (
            initialize_taskrouter,
        )

        spark = run.spark
        one_shot = run.path("one_shot")
        initialize_taskrouter(spark, spark.read.parquet(*self.batch_raw[: self.applied]),
                              one_shot)
        run.release()
        for table, exclude in [("segments", ("uuid",)), ("agents", ()), ("event_log", ())]:
            a = checks.full_fingerprint(spark.read.parquet(f"{self.store}/{table}"), exclude)
            b = checks.full_fingerprint(spark.read.parquet(f"{one_shot}/{table}"), exclude)
            run.check(a == b, f"merge parity {table}: merged {a} != one-shot {b}")
        fact, agents = self._store_paths()
        p = self.plan
        mix = R.ReportMix(run.seed + 1, p.tasks, p.workers, p.start_s, p.days)
        con = duckdb.connect()
        try:
            for shape, params in mix.round(1):
                got = spark.sql(R.spark_sql(shape, params, fact, agents)).collect()
                want = con.execute(R.duckdb_sql(shape, params, fact, agents)).fetchall()
                run.check(checks.canonical([tuple(r) for r in got]) == checks.canonical(want),
                          f"report {shape} {params}: spark {len(got)} rows != duckdb "
                          f"{len(want)} rows")
        finally:
            con.close()


# --------------------------------------------------------------- live_stream


class LiveStream:
    """Open-loop JSON-lines files into the streaming segment pipeline."""

    name = "live_stream"
    LAYER_METRICS = (
        "stream.batches", "stream.batch_ms_p50", "stream.batch_ms_p95",
        "stream.add_batch_ms_p50", "stream.planning_ms_p50", "stream.commit_ms_p50",
        "stream.state_rows", "stream.state_bytes", "stream.state_commit_ms_p50",
        "stream.backlog_events_max", "gen.events", "gen.late_ms_p99",
        "freshness_p50_s", "freshness_p99_s", "corpus_docs_per_s",
    )
    # Events per second offered once conversations overlap: half of 2,400,
    # the highest rate at which, on a 4-core host, the generator kept its
    # schedule and the backlog gate held (saturation.py). The stream
    # itself would sustain more (README.md, "Live rate").
    RATE = 1200
    TICK = 0.25  # seconds between input files
    # The shares below are assumptions, not measured traffic; README.md
    # gives the reason for each.
    LATE_SHARE = 0.03  # closing events written 2-4 s after their event time
    # Closing events no later event of their task depends on. A late
    # reservation.accepted could arrive after its own completion in a
    # later micro-batch; the stream, which correlates in arrival order
    # across batches, would then drop the conversation.
    LATE_TYPES = {"reservation.completed", "task.canceled", *G.FAILED_KIND}
    DUP_SHARE = 0.02  # events written a second time 1-3 s later
    WORKER_SHARE = 0.05  # worker.activity.update events among all
    STATE_PARTITIONS = "16"  # what run_scale_stream sets for the stream

    def inputs(self, run, rep: int) -> None:
        """The windows' schedules (a traced run has two), with event
        times relative to the window start (``window`` shifts them to the
        wall clock), and the warm-up conversations."""
        self.schedules = [self._schedule(run.seed * 7 + w, run.seconds, f"L{w}")
                          for w in ((1, 2) if run.trace else (1,))]
        g = G.TaskRouterGen(run.seed, n_workers=20, gap_lo=1, gap_hi=3, id_prefix="W")
        self.warm = [e for k in range(40) for e in g.task(k)[0]]

    def _schedule(self, seed: int, seconds: float, prefix: str):
        """(write_due, event, first_write) for every write, sorted by due
        time, and the expected segments."""
        g = G.TaskRouterGen(seed, n_workers=50, gap_lo=1, gap_hi=3, id_prefix=prefix)
        rng = g.rng
        writes, segments = [], []
        per_task = 6.5
        n_tasks = int(self.RATE * (1 - self.WORKER_SHARE) * seconds / per_task)
        for _ in range(n_tasks):
            evs, segs = g.task(int(rng.uniform(0, seconds)))
            segments += segs
            for e in evs:
                due = e.sec + e.ms / 1000
                if e.eventtype in self.LATE_TYPES and rng.random() < self.LATE_SHARE:
                    due += rng.uniform(2, 4)
                writes.append((due, e, True))
                if rng.random() < self.DUP_SHARE:
                    writes.append((due + rng.uniform(1, 3), e, False))
        for _ in range(int(self.RATE * self.WORKER_SHARE * seconds)):
            sec = rng.randrange(int(seconds))
            e = G.Event(g.event_id(), "worker.activity.update", sec, rng.randrange(1000),
                        worker_sid=rng.choice(g.workers), activity=rng.choice(G.ACTIVITIES),
                        wtip=rng.randrange(1, 600))
            writes.append((sec + e.ms / 1000, e, True))
        writes.sort(key=lambda w: w[0])
        return writes, segments

    def build(self, run) -> None:
        """Start the query and push one warm-up file through it, so the
        window starts on compiled plans and running Python workers. The
        window starts as soon as the warm-up rows are consumed: the
        no-data batch that follows costs what a data batch costs, so the
        window's first files wait for it as they would for a batch in
        steady state."""
        from twilio_event_streams_reporting_example_spark.streaming import taskrouter_stream as TS

        spark = run.spark
        base = run.path("live")
        self.indir, self.outdir = f"{base}/in", f"{base}/out"
        os.makedirs(self.indir)
        spark.conf.set(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        )
        spark.conf.set("spark.sql.shuffle.partitions", self.STATE_PARTITIONS)
        buckets = TS.lifecycle_buckets(16, cores=spark.sparkContext.defaultParallelism)
        raw = spark.readStream.format("text").load(self.indir)
        seg = TS.conversation_segments_stream(TS.parse_stream(raw), buckets=buckets)
        self.q = TS.write_segments_stream(seg, self.outdir, f"{base}/ckpt").start()
        hour_ago = int(time.time()) - 3600
        for e in self.warm:
            e.sec += hour_ago
        self.lines_written = len(self.warm)
        self._write_file(0, [e.json() for e in self.warm])
        self._drain(self.lines_written)
        self.windows = 0
        self.first_batch = len(self.q.recentProgress)

    def _write_file(self, k: int, lines: list[str]) -> float:
        tmp = os.path.join(self.indir, f".tmp-{k}")
        with open(tmp, "w") as f:
            f.write("\n".join(lines) + "\n")
        os.rename(tmp, os.path.join(self.indir, f"part-{k:07d}.json"))
        return time.time()

    def window(self, run, seconds: float) -> dict:
        writes, segments = self.schedules[self.windows]
        self.windows += 1
        base_s = int(time.time()) + 1
        for _, e, first in writes:
            if first:
                e.sec += base_s
        writes = [(due + base_s, e, first) for due, e, first in writes]
        end = base_s + seconds
        written_at: dict[str, float] = {}
        ticks: list[tuple[float, float, int]] = []  # (scheduled, written, lines)
        file_k = self.windows * 100_000

        def generate() -> None:
            i, k = 0, 0
            while True:
                due = base_s + k * self.TICK
                if due > end:
                    return
                pause = due - time.time()
                if pause > 0:
                    time.sleep(pause)
                lines, ids = [], []
                while i < len(writes) and writes[i][0] <= due:
                    _, e, first = writes[i]
                    lines.append(e.json())
                    if first:
                        ids.append(e.event_id)
                    i += 1
                if lines:
                    t = self._write_file(file_k + k, lines)
                    for eid in ids:
                        written_at.setdefault(eid, t)
                    ticks.append((due, t, len(lines)))
                k += 1

        # open loop: the stream runs in the JVM's threads, so writing on
        # schedule from this thread never waits for it
        with run.op("gen.live_window"):
            generate()
        with run.op("streaming.taskrouter_stream.drain"):
            self._drain(self.lines_written + sum(n for _, _, n in ticks))
        progress = list(self.q.recentProgress[self.first_batch:])
        self.first_batch += len(progress)
        batches = []
        for p in progress:
            t0 = _epoch(p.timestamp)
            batches.append({
                "start": t0, "end": t0 + p.durationMs.get("triggerExecution", 0) / 1000,
                "rows": p.numInputRows, "p": p,
            })
        fresh = self._check_window(run, segments, written_at, batches)
        late = [w - s for s, w, _ in ticks]
        lines = sum(n for _, _, n in ticks)
        for b, n in zip(batches, self._backlog(batches, ticks)):
            b["backlog"] = n
        # validity gate: the generator kept its schedule, the backlog did not grow
        run.check(tail(late, TAIL_Q) < 2 * self.TICK,
                  f"generator late p99 {tail(late, TAIL_Q):.3f}s")
        # the offered rate once conversations overlap: the second half's
        steady = sum(n for due, _, n in ticks if due >= base_s + seconds / 2) / (seconds / 2)
        grew = backlog_growth(batches, end, steady)
        run.check(grew is None, f"live_stream window {self.windows}: {grew}")
        self.lines_written += lines
        self.stream = {"batches": batches, "late": late, "lines": lines, "gen_end": end}
        return _figures(fresh)

    def _drain(self, lines: int, timeout: float = 120) -> None:
        """Wait until completed micro-batches have consumed ``lines`` input
        lines. Unlike ``processAllAvailable`` this does not also wait for
        the no-data batch that follows the last data batch."""
        deadline = time.time() + timeout
        while sum(p.numInputRows for p in self.q.recentProgress) < lines:
            if time.time() > deadline or self.q.exception() is not None:
                raise RuntimeError(f"stream did not consume {lines} lines: "
                                   f"{self.q.exception()}")
            time.sleep(0.05)

    def _check_window(self, run, segments, written_at: dict, batches: list[dict]) -> list[float]:
        """Every terminal segment whose closing event was written is in
        the sink exactly once with the expected measures. Returns the
        freshness of each: closing file written → end of the micro-batch
        that wrote the segment's sink file."""
        expected = {s.key(): s for s in segments
                    if s.terminal is not None and s.terminal.event_id in written_at}
        seen: dict[tuple, int] = {}
        bad, fresh = [], []
        for key, measures, mtime in self._sink_rows(run, f"L{self.windows}"):
            seen[key] = seen.get(key, 0) + 1
            s = expected.get(key)
            if s is None:
                bad.append(f"unexpected {key}")
                continue
            want = tuple(s.measures.get(m) for m in G.MEASURES[:5])
            if measures != want:
                bad.append(f"{key}: measures {measures} != {want}")
            b = _batch_of(batches, mtime)
            if b is None:
                bad.append(f"{key}: sink file outside every micro-batch")
            elif seen[key] == 1:
                fresh.append(b["end"] - written_at[s.terminal.event_id])
        missing = [k for k in expected if seen.get(k, 0) != 1]
        run.check(not bad and not missing,
                  f"live_stream window {self.windows}: {len(missing)} terminal segments "
                  f"missing or repeated, {len(bad)} wrong: {(missing + bad)[:3]}")
        return fresh

    def _backlog(self, batches: list[dict], ticks: list) -> list[int]:
        """Lines written but not yet consumed at each batch's start."""
        out = []
        consumed = self.lines_written  # earlier windows were drained completely
        for b in batches:
            written = self.lines_written + sum(n for _, w, n in ticks if w < b["start"])
            out.append(max(0, written - consumed))
            consumed += b["rows"]
        return out

    def _sink_rows(self, run, prefix: str):
        from pyspark.sql import functions as F

        cols = ["segment_kind", "conversation_id", "reservation_sid"]
        df = run.spark.read.parquet(self.outdir).filter(
            F.col("conversation_id").startswith(f"WT{prefix}"))
        rows = df.select(*cols, *G.MEASURES[:5], F.input_file_name().alias("f")).collect()
        mtimes: dict[str, float] = {}
        for r in rows:
            f = r["f"]
            if f not in mtimes:
                mtimes[f] = os.path.getmtime(f.removeprefix("file:"))
            yield (r[0], r[1], r[2]), tuple(r[m] for m in G.MEASURES[:5]), mtimes[f]

    def traced(self, run, seconds: float) -> tuple[dict, dict, dict]:
        """An untraced window, a second, traced window of the same stream,
        then, with the stream idle, one traced pass of the corpus
        operators, which no TaskRouter layer touches. Returns the
        workload's named figures and the untraced and traced figures."""
        a, a_peak = _measured(run, lambda: self.window(run, seconds), traced=False)
        b, b_peak = _measured(run, lambda: self.window(run, seconds), traced=True)
        self.corpus = CorpusDedup()
        self.corpus.inputs(run, 0)
        self.corpus_s, _ = _measured(run, lambda: self.corpus.run_pass(run), traced=True)
        named = {"freshness_p50_s": a["latency_p50_ms"] / 1000,
                 "freshness_p99_s": a["latency_tail_ms"] / 1000,
                 "latency.samples": a["samples"]}
        return named, {**a, "peak_mem_mb": a_peak}, {**b, "peak_mem_mb": b_peak}

    def layer(self, run, groups: dict) -> dict:
        st = self.stream
        ps = [b["p"] for b in st["batches"]]

        def dur(key: str) -> list[float]:
            return [p.durationMs.get(key, 0) for p in ps]

        ops = [o for p in ps[-1:] for o in p.stateOperators]
        return {
            "stream.batches": len(ps),
            "stream.batch_ms_p50": median(dur("triggerExecution")),
            "stream.batch_ms_p95": tail(dur("triggerExecution"), 0.95),
            "stream.add_batch_ms_p50": median(dur("addBatch")),
            "stream.planning_ms_p50": median(dur("queryPlanning")),
            "stream.commit_ms_p50": median(
                [p.durationMs.get("commitOffsets", 0) + p.durationMs.get("walCommit", 0)
                 for p in ps]),
            "stream.state_rows": sum(o.numRowsTotal for o in ops),
            "stream.state_bytes": sum(o.memoryUsedBytes for o in ops),
            "stream.state_commit_ms_p50": median(
                [sum(o.commitTimeMs for o in p.stateOperators) for p in ps]),
            "stream.backlog_events_max": max((b["backlog"] for b in st["batches"]), default=0),
            "gen.events": st["lines"],
            "gen.late_ms_p99": 1000 * tail(st["late"], TAIL_Q),
            "corpus_docs_per_s": len(self.corpus.c.docs) / self.corpus_s,
            **self.corpus.layer(run, groups),
        }

    def check(self, run) -> None:
        """The stream is checked per window, after each drain; the corpus
        pass of a traced run here."""
        if run.trace:
            self.corpus.check(run)


GROWTH_LIMIT = 2.0  # how much longer than the window's first batch the last may run


def backlog_growth(batches: list[dict], gen_end: float, rate: float,
                   k: float = GROWTH_LIMIT) -> str | None:
    """The live window's backlog gate: what is wrong, or None.

    It looks at the data batches (``rows`` > 0) that started while the
    generator was writing (before ``gen_end``). The first of them starts
    on about one tick of input, so its duration is close to the fixed
    cost of a micro-batch. A batch that starts on more input runs
    longer, and takes longer still if the stream is near its limit: at a
    rate that uses a share u of what the stream sustains, batches settle
    at 1 / (1 - u) times that fixed cost, and above the limit they keep
    getting longer. So the last batch may run at most ``k`` times the
    first and start on at most the input of ``k`` first batches at
    ``rate``: with ``k`` = 2, the stream must keep half its capacity
    spare, the headroom ``LiveStream.RATE`` is chosen with."""
    data = [b for b in batches if b["rows"] > 0 and b["start"] < gen_end]
    if len(data) < 2:
        return f"only {len(data)} data micro-batch while generating: it ran the whole window"
    first, last = (b["end"] - b["start"] for b in (data[0], data[-1]))
    if last > k * first:
        return f"the last micro-batch took {last:.2f}s, over {k:g}x the first {first:.2f}s"
    if data[-1]["backlog"] > k * rate * first:
        return (f"the last micro-batch started on {data[-1]['backlog']} events, over "
                f"{k:g}x the {rate * first:.0f} that arrive during the first")
    return None


def _epoch(iso_ts: str) -> float:
    import datetime as dt

    return dt.datetime.fromisoformat(iso_ts.replace("Z", "+00:00")).timestamp()


def _batch_of(batches: list[dict], mtime: float, slack: float = 0.05):
    for b in batches:
        if b["start"] - slack <= mtime <= b["end"] + slack:
            return b
    return None


# ------------------------------------------------------------- corpus_dedup


class CorpusDedup:
    """MinHash near-duplicate candidates, semantic dedup and IVF kNN over
    a seeded corpus with planted duplicates and neighbours. Runs as one
    cold pass inside a traced ``live_stream`` run."""

    LAYER_METRICS = (
        "dedup.candidates_s", "dedup.candidate_pairs", "dedup.candidate_precision",
        "dedup.shuffle_write_bytes", "similarity.semantic_dedup_s", "similarity.knn_ivf_s",
        "similarity.shuffle_write_bytes", "neardup_recall", "knn_recall_at_10",
    )
    BASE_DOCS = 1000
    N_VECTORS = 2000
    MIN_NEARDUP_RECALL = 0.9
    MIN_KNN_RECALL = 0.9
    # semantic_dedup compares vectors only within their nearest-centroid
    # cell, so a planted pair split by a cell boundary is kept by design
    MIN_SEMDEDUP_RECALL = 0.95

    def inputs(self, run, rep: int) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        self.c = c = GC.corpus(run.seed, self.BASE_DOCS, self.N_VECTORS)
        ids, texts = zip(*c.docs)
        self.docs_path, self.emb_path = run.path("docs.parquet"), run.path("emb.parquet")
        pq.write_table(pa.table({"doc_id": pa.array(ids, pa.int64()), "text": texts}),
                       self.docs_path)
        pq.write_table(pa.table({"id": pa.array(c.vec_ids, pa.int64()),
                                 "v": pa.array(list(c.vectors), pa.list_(pa.float64()))}),
                       self.emb_path)

    def run_pass(self, run) -> float:
        """One pass of the three operators; returns its seconds."""
        from twilio_event_streams_reporting_example_spark.operators import dedup as D
        from twilio_event_streams_reporting_example_spark.operators import similarity as S

        spark = run.spark
        docs = spark.read.parquet(self.docs_path)
        emb = spark.read.parquet(self.emb_path)
        n_cells = S.semdedup_n_cells(self.N_VECTORS)
        calls = {
            "operators.dedup.minhash_candidate_pairs":
                lambda: D.minhash_candidate_pairs(docs).select("doc_a", "doc_b"),
            "operators.similarity.semantic_dedup":
                lambda: S.semantic_dedup(spark, None, emb=S.with_norm(emb),
                                         n_cells=n_cells).select("vec_id", "kept"),
            "operators.similarity.knn_ivf":
                lambda: S.knn_ivf(spark, None, emb=emb).select("query_id", "neighbor_id"),
        }
        out = {}
        t0 = time.perf_counter()
        for name, call in calls.items():
            with run.op(name):
                out[name] = call().collect()
            run.release()
        self.out = out
        return time.perf_counter() - t0

    def quality(self, run) -> dict:
        from twilio_event_streams_reporting_example_spark.operators import similarity as S

        pairs = {(r[0], r[1]) for r in self.out["operators.dedup.minhash_candidate_pairs"]}
        planted = self.c.planted_pairs
        found = len(pairs & planted)
        emb = run.spark.read.parquet(self.emb_path)
        exact = S.knn_bruteforce(emb.filter(f"id < {GC.N_QUERIES}"),
                                 emb.filter(f"id >= {GC.N_QUERIES}"), GC.TOP_K).collect()
        exact = {(r["query_id"], r["neighbor_id"]) for r in exact}
        ivf = {(r[0], r[1]) for r in self.out["operators.similarity.knn_ivf"]}
        dropped = {r[0] for r in self.out["operators.similarity.semantic_dedup"] if r[1] == 0}
        return {
            "neardup_recall": found / len(planted),
            "candidate_pairs": len(pairs),
            "candidate_precision": found / len(pairs) if pairs else 0.0,
            "knn_recall_at_10": len(exact & ivf) / len(exact),
            "semdedup_planted_dropped": len(self.c.planted_vec_dups & dropped)
            / len(self.c.planted_vec_dups),
        }

    def check(self, run) -> None:
        q = self.q = self.quality(run)
        run.check(q["neardup_recall"] >= self.MIN_NEARDUP_RECALL,
                  f"near-duplicate recall {q['neardup_recall']:.3f}")
        run.check(q["knn_recall_at_10"] >= self.MIN_KNN_RECALL,
                  f"knn recall@10 {q['knn_recall_at_10']:.3f}")
        run.check(q["semdedup_planted_dropped"] >= self.MIN_SEMDEDUP_RECALL,
                  f"semantic dedup dropped {q['semdedup_planted_dropped']:.3f} of planted "
                  "duplicates")

    def layer(self, run, groups: dict) -> dict:
        spans = run.tracer.spans
        dd = counters_for(run.tracer, groups, {"operators.dedup.minhash_candidate_pairs"})
        sim = counters_for(run.tracer, groups, {"operators.similarity.semantic_dedup",
                                                "operators.similarity.knn_ivf"})
        return {
            "dedup.candidates_s": total_self(spans, "operators.dedup.minhash_candidate_pairs"),
            "dedup.candidate_pairs": self.q["candidate_pairs"],
            "dedup.candidate_precision": self.q["candidate_precision"],
            "dedup.shuffle_write_bytes": dd["shuffle_write_bytes"],
            "similarity.semantic_dedup_s": total_self(spans, "operators.similarity.semantic_dedup"),
            "similarity.knn_ivf_s": total_self(spans, "operators.similarity.knn_ivf"),
            "similarity.shuffle_write_bytes": sim["shuffle_write_bytes"],
            "neardup_recall": self.q["neardup_recall"],
            "knn_recall_at_10": self.q["knn_recall_at_10"],
        }


LiveStream.LAYER_METRICS += CorpusDedup.LAYER_METRICS
WORKLOADS = {w.name: w for w in (Backfill, LiveStream)}


def collect_groups(run) -> dict:
    return StatusCollector(run.spark.sparkContext).by_group()

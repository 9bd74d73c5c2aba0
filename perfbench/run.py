#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Runs one workload of ``BENCHMARK.json`` from the root of a checkout:
set-up (repeated, median reported as ``setup_s``), a measured window of
``--seconds``, output checks, and one JSON result as the last line of
stdout. ``--trace 1`` runs the workload's traced variant instead, with
spans and status-store counters, prints the per-layer metrics, and
writes the spans to ``.perfbench_traces/``. Exits 1 when an output check
fails, 2 when the program under test is not in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "twilio_event_streams_reporting_example_spark"
SETUP_REPS = 3
WINDOW_FIGURES = ("latency_p50_ms", "latency_tail_ms")
END_TO_END = ("setup_s", "peak_mem_mb", *WINDOW_FIGURES)
# per-layer figures every traced run reports, besides its workload's own
COMMON_LAYER = (
    "session.start_s", "host.cpu_probe_s", "latency.samples", "op_error_rate",
    *(f"trace_overhead.{k}" for k in (*WINDOW_FIGURES, "peak_mem_mb")),
)


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def execute(run, wl, spec: dict) -> dict:
    """Set-up, the measured window, a traced window when asked, checks;
    returns the metrics named in ``spec`` for this mode."""
    from perfbench.harness import cpu_probe
    from perfbench.trace import median
    from perfbench.workloads import collect_groups

    probe = cpu_probe()
    print(f"host cpu probe {probe:.3f}s", file=sys.stderr)
    session_start = run.start_session()
    reps = []
    for rep in range(SETUP_REPS):
        t0 = time.perf_counter()
        wl.inputs(run, rep)
        reps.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    wl.build(run)
    build_s = time.perf_counter() - t0
    setup_s = session_start + median(reps) + build_s
    print(f"setup: session {session_start:.3f}s, inputs {[round(x, 3) for x in reps]}, "
          f"build {build_s:.3f}s", file=sys.stderr)
    if not run.trace:
        a = wl.window(run, run.seconds)
        print(f"window {a}", file=sys.stderr)
        wl.check(run)
        values = {"setup_s": setup_s, "peak_mem_mb": run.mem.peak / 2**20,
                  **{k: a[k] for k in WINDOW_FIGURES}}
        names = spec["end_to_end"]
    else:
        named, ref, traced = wl.traced(run, run.seconds)
        wl.check(run)
        groups = collect_groups(run)
        values = {**wl.layer(run, groups), **named}
        own = set(values) - set(COMMON_LAYER)
        if own != set(wl.LAYER_METRICS):
            raise KeyError(f"{wl.name} emitted {sorted(own ^ set(wl.LAYER_METRICS))} "
                           "contrary to its LAYER_METRICS")
        values.update({
            "session.start_s": session_start,
            "host.cpu_probe_s": probe,
            "op_error_rate": run.failed / max(1, run.attempted),
            **{f"trace_overhead.{k}": traced[k] - ref[k]
               for k in (*WINDOW_FIGURES, "peak_mem_mb")},
        })
        names = spec["per_layer"]
        os.makedirs(os.path.join(ROOT, ".perfbench_traces"), exist_ok=True)
        spans = os.path.join(ROOT, ".perfbench_traces", f"{wl.name}-{run.seed}.spans.jsonl")
        run.tracer.write(spans, groups)
        print(f"spans written to {spans}", file=sys.stderr)
    known = {m["name"] for m in names}
    unknown = set(values) - known
    if unknown:
        raise KeyError(f"metrics missing from BENCHMARK.json: {sorted(unknown)}")
    missing = known - set(values)
    if missing and not run.trace:
        raise KeyError(f"end-to-end metrics not measured: {sorted(missing)}")
    # per-layer metrics of a layer the workload bypasses read 0
    return {m["name"]: {"value": float(values.get(m["name"], 0)), "unit": m["unit"]}
            for m in names}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"{PACKAGE} is not in {ROOT}: nothing to benchmark", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.harness import OpFailed, Run
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    spec = _spec()
    wl = WORKLOADS[args.workload]()
    run = Run(args.workload, args.seed, args.seconds, bool(args.trace), ROOT)
    run.open()
    metrics = {}
    try:
        metrics = execute(run, wl, spec)
    except OpFailed:
        pass  # already counted and reported
    except Exception as e:  # a benchmark fault: report it, exit non-zero
        import traceback

        traceback.print_exc()
        run.problems.append(f"benchmark error: {type(e).__name__}: {e}")
        run.failed += 1
    finally:
        run.close()
    for p in run.problems:
        print(f"problem: {p}", file=sys.stderr)
    correct = run.failed == 0 and bool(metrics)
    print(json.dumps({"correct": correct, "attempted": max(1, run.attempted),
                      "failed": run.failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())

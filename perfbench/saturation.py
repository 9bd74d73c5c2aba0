#!/usr/bin/env python3
"""Measure the rate at which the live stream saturates on the host it runs on.

    python3 perfbench/saturation.py --rates 1200,2400,4800 --seconds 30 --seed 1

Sets up the ``live_stream`` workload's pipeline once, then offers one
open-loop window per rate, lowest first, each on a drained stream. Per
rate it prints one JSON line: the micro-batches of the window, their
median and last duration, the rate consumed while busy, and whether the
backlog gate (``workloads.backlog_growth``) and the generator's
lateness check held. ``LiveStream.RATE`` is half the highest rate at
which both hold.

``--slow-ms-per-row`` puts a sleep of that many milliseconds per input
row in front of the pipeline, which lowers the rate the stream sustains:
the backlog gate failing at a rate it held without the sleep is its
negative control on the real stream.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _slow_down(per_row_s: float) -> None:
    """Make the live pipeline's parse step sleep ``per_row_s`` per row."""
    from twilio_event_streams_reporting_example_spark.streaming import taskrouter_stream as TS

    parse = TS.parse_stream

    def slow_parse(raw):
        def sleep_rows(batches):
            import time

            for pdf in batches:
                time.sleep(len(pdf) * per_row_s)
                yield pdf

        return parse(raw.mapInPandas(sleep_rows, raw.schema))

    TS.parse_stream = slow_parse


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--rates", default="1200,2400,4800")
    ap.add_argument("--seconds", type=float, default=30)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--slow-ms-per-row", type=float, default=0.0)
    args = ap.parse_args(argv)
    sys.path.insert(0, ROOT)
    if args.slow_ms_per_row:
        _slow_down(args.slow_ms_per_row / 1000)
    from perfbench.harness import Run
    from perfbench.trace import median
    from perfbench.workloads import LiveStream

    rates = [int(r) for r in args.rates.split(",")]
    wl = LiveStream()
    run = Run("saturation", args.seed, args.seconds, False, ROOT)
    run.open()
    try:
        run.start_session()
        wl.inputs(run, 0)
        wl.schedules = []
        for w, rate in enumerate(rates, 1):
            wl.RATE = rate
            wl.schedules.append(wl._schedule(args.seed * 7 + w, args.seconds, f"L{w}"))
        wl.build(run)
        for rate in rates:
            seen = len(run.problems)
            wl.window(run, args.seconds)
            data = [b for b in wl.stream["batches"] if b["rows"] > 0]
            took = [b["end"] - b["start"] for b in data]
            print(json.dumps({
                "rate": rate,
                "offered_per_s": round(wl.stream["lines"] / args.seconds, 1),
                "batches": len(data),
                "batch_s_median": round(median(took), 3),
                "batch_s_last": round(took[-1], 3) if took else None,
                "consumed_per_s_busy": round(sum(b["rows"] for b in data) / sum(took), 1)
                if took else None,
                "backlog_max": max((b["backlog"] for b in data), default=0),
                # per data micro-batch: start after the generator's end (s,
                # negative while it wrote), duration (s), rows, backlog
                "batch_detail": [[round(b["start"] - wl.stream["gen_end"], 2),
                                  round(b["end"] - b["start"], 2), b["rows"], b["backlog"]]
                                 for b in data],
                "problems": run.problems[seen:],
            }), flush=True)
    finally:
        run.close()
    return 0


if __name__ == "__main__":
    sys.exit(main())

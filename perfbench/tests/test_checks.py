"""Output checks against a real engine run, and negative controls: one
corrupted output row must fail its check."""

import os

import pytest

from perfbench import checks
from perfbench import gen_taskrouter as G
from perfbench.harness import Run
from perfbench.workloads import _write_raw

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="module")
def backfilled():
    from twilio_event_streams_reporting_example_spark.sources.incremental import (
        initialize_taskrouter,
    )

    run = Run("selftest", 1, 1, False, ROOT)
    run.open()
    try:
        run.start_session()
        p = G.merge_history(4, 40, 2, 5, n_workers=6)
        _write_raw(run.path("raw.parquet"), p.events)
        initialize_taskrouter(run.spark, run.spark.read.parquet(run.path("raw.parquet")),
                              run.path("out"))
        yield run, p.history
    finally:
        run.close()


def test_fact_fingerprint_matches_closed_form(backfilled):
    run, h = backfilled
    fact = run.spark.read.parquet(run.path("out/segments"))
    got = checks.fact_fingerprint(fact)
    assert checks.diff_fingerprints(got, G.expected_fingerprint(h.segments)) == []


def test_one_corrupted_fact_row_fails(backfilled):
    from pyspark.sql import functions as F

    run, h = backfilled
    fact = run.spark.read.parquet(run.path("out/segments"))
    victim = fact.filter(F.col("segment_kind") == "CONVERSATION").limit(1).collect()[0]
    corrupted = fact.withColumn(
        "talk_time",
        F.when(F.col("uuid") == victim["uuid"], F.col("talk_time") + 1)
        .otherwise(F.col("talk_time")),
    )
    problems = checks.diff_fingerprints(checks.fact_fingerprint(corrupted),
                                        G.expected_fingerprint(h.segments))
    assert problems and problems[0].startswith("CONVERSATION")
    # a changed id with unchanged measures still fails on the row checksum
    renamed = fact.withColumn(
        "agent_uuid",
        F.when(F.col("uuid") == victim["uuid"], F.lit("WK-other"))
        .otherwise(F.col("agent_uuid")),
    )
    assert checks.diff_fingerprints(checks.fact_fingerprint(renamed),
                                    G.expected_fingerprint(h.segments))


def test_agents_check_and_corruption(backfilled):
    run, h = backfilled
    got = checks.agent_rows(run.spark.read.parquet(run.path("out/agents")))
    assert checks.diff_agents(got, h.agents) == []
    some = sorted(got)[0]
    got[some] = {**got[some], "state": "Deleted" if got[some]["state"] == "Active" else "Active"}
    assert checks.diff_agents(got, h.agents)


def test_full_fingerprint_sees_one_changed_cell(backfilled):
    from pyspark.sql import functions as F

    run, _ = backfilled
    agents = run.spark.read.parquet(run.path("out/agents"))
    first = sorted(r["agent_uuid"] for r in agents.collect())[0]
    changed = agents.withColumn(
        "email", F.when(F.col("agent_uuid") == first, F.lit("x@example.com"))
        .otherwise(F.col("email")))
    assert checks.full_fingerprint(agents) == checks.full_fingerprint(agents.select("*"))
    assert checks.full_fingerprint(agents) != checks.full_fingerprint(changed)


def test_canonical_report_compare():
    a = [("Q01", "QUEUE", 3, 1.0000000001), ("Q00", None, 2, None)]
    assert checks.canonical(a) == checks.canonical(list(reversed(a)))
    assert checks.canonical(a) != checks.canonical([("Q01", "QUEUE", 4, 1.0), a[1]])


def _stream(use, rate=300.0, fixed=1.0, seconds=30.0):
    """Back-to-back micro-batches of a stream that uses the share ``use``
    of the rate it sustains: a batch costs ``fixed`` seconds plus ``use``
    times the time its input took to arrive. The first starts on one
    0.25-s tick of input."""
    out, t, prev = [], 0.0, 0.25
    while t < seconds:
        backlog = int(rate * prev)
        d = fixed + use * prev
        out.append({"start": t, "end": t + d, "rows": backlog, "backlog": backlog})
        t, prev = t + d, d
    return out


def test_backlog_gate_passes_a_stream_with_headroom():
    from perfbench.workloads import backlog_growth

    for use in (0.1, 0.3, 0.45):
        assert backlog_growth(_stream(use), gen_end=30.0, rate=300.0) is None


def test_backlog_gate_fails_a_stream_that_falls_behind():
    """Negative control: past the rate the stream sustains (use >= 1),
    every batch runs longer than the one before it; so does a stream
    with less than half its capacity spare, which the gate also fails."""
    from perfbench.workloads import backlog_growth

    for use in (0.7, 1.0, 1.04, 1.5):
        assert backlog_growth(_stream(use), gen_end=30.0, rate=300.0) is not None


def test_backlog_gate_needs_two_batches():
    from perfbench.workloads import backlog_growth

    assert backlog_growth(_stream(0.2, fixed=31.0), gen_end=30.0, rate=300.0) is not None
    # a loaded host: two long batches that hold their duration pass
    assert backlog_growth(_stream(0.2, fixed=15.0), gen_end=30.0, rate=300.0) is None
    # idle batches (no rows) and batches started after generation are not judged
    batches = _stream(0.2, seconds=7.0)
    grown = {"start": 7.5, "end": 30.0, "rows": 9000, "backlog": 9000}
    idle = {"start": 6.9, "end": 6.95, "rows": 0, "backlog": 0}
    assert backlog_growth(batches + [idle, grown], gen_end=7.0, rate=300.0) is None


def test_mem_sampler_counts_heap_the_program_holds(backfilled):
    """The JVM heap is committed up front, so its resident size never
    moves; the sampler must still see heap the program keeps alive."""
    run, _ = backfilled
    jvm = run.spark.sparkContext._jvm
    jvm.java.lang.System.gc()
    before = run.mem.sample()
    held = jvm.java.nio.ByteBuffer.allocate(400 << 20)
    jvm.java.lang.System.gc()
    after = run.mem.sample()
    assert held.capacity() == 400 << 20
    assert after - before > 300 << 20

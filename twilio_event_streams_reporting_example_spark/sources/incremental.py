"""Incremental fact maintenance (S6 at scale): merge a new event batch
into the durable tables by recomputing ONLY what the batch touches.

The reference updates segments in place per event (events.js:298-334);
the batch engine recomputes the world. At 100 TB neither extreme works:
a day's events touch a sliver of all conversations, so the right unit
of work is *affected conversations*, and the right storage primitive is
*partition-level replace* (the hand-rolled parquet form of a Delta/
Iceberg MERGE — swap the write below for MERGE INTO on a table format
and nothing else changes).

Per update batch:
  1. affected keys   = task_sids in the batch (conversations) and
                       worker_sids of worker.* events (agent sessions +
                       dimension) — two tiny broadcast sets.
  2. scoped history  = durable event log semi-joined to the affected
                       keys (parquet partition pruning + min-max on the
                       sid columns keeps this a sliver of the log).
  3. recompute       = the SAME segments_from_parsed plan over
                       (scoped history ∪ new batch, id-deduplicated) —
                       no parallel incremental semantics to drift.
  4. merge           = rewrite only the date partitions holding either a
                       recomputed row or a stale affected row; inside
                       those partitions keep every unaffected row
                       (anti-join on segment_external_id), swap in the
                       recomputed rows. Untouched dates are not read,
                       not written.
  5. log append      = append only events not already in the scoped
                       history (CloudEvent-id redelivery across batches
                       lands exactly once).
  6. agents          = latest-wins merge of the batch dimension into the
                       durable one (same plan as the streaming
                       foreachBatch upsert).

``arrival_idx`` must be a globally monotone ingest sequence across
batches (a Kafka-offset analog): first-arrival dedup and same-timestamp
tie-breaks then replay identically to a one-shot batch recompute, which
is what the parity test asserts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..registry import track
from ..taskrouter import schema as S

_WORKER_EVENTS = [
    "worker.created",
    "worker.deleted",
    "worker.activity.update",
    "worker.attributes.update",
]


def _dedup_first_arrival(parsed: DataFrame) -> DataFrame:
    w = W.partitionBy("event_id").orderBy("arrival_idx")
    return (
        parsed.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


def initialize_taskrouter(spark: SparkSession, raw: DataFrame, base_dir: str) -> dict:
    """First materialization: event log + fact + agents dimension.
    The dimension keeps ``last_ts`` so later batches can merge."""
    from ..plans.taskrouter import (
        ingest_taskrouter,
        taskrouter_agents_df,
        taskrouter_segments_df,
    )
    from .sinks import write_agents, write_event_log, write_segments

    paths = _paths(base_dir)
    write_event_log(ingest_taskrouter(raw), paths["event_log"])
    write_segments(taskrouter_segments_df(spark, raw), paths["segments"])
    write_agents(taskrouter_agents_df(spark, raw, with_ordering=True), paths["agents"])
    return paths


def _paths(base_dir: str) -> dict:
    return {
        "event_log": f"{base_dir}/event_log",
        "segments": f"{base_dir}/segments",
        "agents": f"{base_dir}/agents",
    }


def incremental_taskrouter_update(
    spark: SparkSession, new_raw: DataFrame, base_dir: str
) -> dict:
    """Merge one new batch of raw CloudEvents into the durable tables.
    Returns the paths plus the list of rewritten fact dates."""
    from ..plans.taskrouter import ingest_taskrouter, segments_from_parsed
    from .sinks import upsert_agents

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    paths = _paths(base_dir)
    new_parsed = track(ingest_taskrouter(new_raw).cache())

    # 1. affected keys (tiny → broadcast)
    aff_tasks = new_parsed.select("task_sid").filter(F.col("task_sid").isNotNull()).distinct()
    aff_workers = (
        new_parsed.filter(F.col("eventtype").isin(_WORKER_EVENTS))
        .select("worker_sid")
        .filter(F.col("worker_sid").isNotNull())
        .distinct()
    )

    # 2. scoped history: only the affected conversations'/workers' events
    log = spark.read.parquet(paths["event_log"]).drop("event_date")
    scoped_log = log.join(F.broadcast(aff_tasks), "task_sid", "left_semi").unionByName(
        log.filter(F.col("eventtype").isin(_WORKER_EVENTS)).join(
            F.broadcast(aff_workers), "worker_sid", "left_semi"
        )
    ).dropDuplicates(["event_id"]).cache()
    scoped_log = track(scoped_log)

    # 3. recompute the affected slice with the one true batch plan
    scoped_new = new_parsed.join(F.broadcast(aff_tasks), "task_sid", "left_semi").unionByName(
        new_parsed.filter(F.col("eventtype").isin(_WORKER_EVENTS)).join(
            F.broadcast(aff_workers), "worker_sid", "left_semi"
        )
    ).dropDuplicates(["event_id"])
    scoped_all = _dedup_first_arrival(
        scoped_log.unionByName(scoped_new.select(*scoped_log.columns))
    )
    recomputed = track(segments_from_parsed(spark, scoped_all).cache())

    # 4. partition-level merge into the fact
    aff_ext = (
        aff_tasks.select(F.col("task_sid").alias("segment_external_id"))
        .unionByName(aff_workers.select(F.col("worker_sid").alias("segment_external_id")))
        .distinct()
    )
    fact = spark.read.parquet(paths["segments"])
    stale = fact.join(F.broadcast(aff_ext), "segment_external_id", "left_semi")
    touched = sorted(
        r["d"]
        for r in recomputed.select(F.to_date("date").alias("d"))
        .unionByName(stale.select(F.col("segment_date").alias("d")))
        .distinct()
        .collect()
        if r["d"] is not None
    )
    if touched:
        keep = (
            fact.filter(F.col("segment_date").isin(touched))
            .join(F.broadcast(aff_ext), "segment_external_id", "left_anti")
            .drop("segment_date")
        )
        cols = [c for c, _ in S.SEGMENT_COLUMNS]
        merged = keep.select(*cols, "uuid").unionByName(
            recomputed.select(*cols).withColumn("uuid", F.expr("uuid()"))
        )
        # materialize before writing: the merge reads the very partitions
        # the dynamic overwrite replaces (day-sized slice, not the table)
        from ..registry import checkpoint_rdd_id, unpersist_rdd_ids

        sc = spark.sparkContext
        merged = merged.localCheckpoint(eager=True)
        ckpt_id = checkpoint_rdd_id(merged)
        (
            merged.withColumn("segment_date", F.to_date("date"))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("segment_date")
            .parquet(paths["segments"])
        )
        # the write was the checkpoint's only consumer — drop its blocks now
        if ckpt_id is not None:
            unpersist_rdd_ids(sc, {ckpt_id})

    # 5. append only genuinely-new events to the log. Dedup against the FULL
    # log's event_ids, not the affected-key-scoped slice: a redelivered
    # workspace/queue-level event (null task_sid, not a worker event) falls
    # outside the scope and would otherwise be appended twice. The anti-join
    # probes a single pruned column (event_id); at scale, restrict the log
    # scan to the batch's event_date range for partition pruning.
    to_append = new_parsed.join(
        log.select("event_id"), "event_id", "left_anti"
    )
    (
        to_append.withColumn("event_date", F.to_date("ts"))
        .write.mode("append")
        .partitionBy("event_date")
        .parquet(paths["event_log"])
    )

    # 6. latest-wins merge of the agents dimension
    from ..plans.taskrouter import taskrouter_agents_df

    upsert_agents(
        taskrouter_agents_df(spark, new_raw, with_ordering=True), paths["agents"]
    )

    new_parsed.unpersist()
    scoped_log.unpersist()
    recomputed.unpersist()
    return {**paths, "touched_dates": [str(d) for d in touched]}

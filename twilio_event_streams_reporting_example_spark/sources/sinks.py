"""Materialization sinks (S4/S5): the durable storage story.

The reference keeps everything in a volatile in-memory store (LokiJS
without an adapter, app.js:13 — data lost on restart, README.md:13).
The engine materializes three tables as parquet:

  event log  (S4) — append-only source of truth, partitioned by event
               date: a recompute or a point investigation prunes to the
               days it needs (reference caches every taskrouter event,
               events.js:488-500, but cannot survive a restart).
  segments   (S5) — the conversations fact, partitioned by segment date
               (the natural report filter).
  agents     — the small current-state dimension, single partition
               (broadcast-side at query time).

At 100 TB the event log is the big table; date partitioning plus
parquet min-max on the sid columns replaces the reference's LokiJS
indices (SURVEY §4). Writes use dynamic partition overwrite so an
incremental daily recompute replaces only the affected days.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_event_log(parsed: DataFrame, path: str) -> None:
    """S4: append-only raw event log, date-partitioned."""
    (
        parsed.withColumn("event_date", F.to_date("ts"))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("event_date")
        .parquet(path)
    )


def write_segments(segments: DataFrame, path: str) -> None:
    """S5: conversations fact, partitioned by segment date.

    The row id (P12, reference events.js:217 ``uuid()``) is minted at
    write time — the queryable views stay deterministic (oracle-
    hashable); only durable rows carry the synthetic key."""
    (
        segments.withColumn("uuid", F.expr("uuid()"))
        .withColumn("segment_date", F.to_date("date"))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("segment_date")
        .parquet(path)
    )


def write_agents(agents: DataFrame, path: str) -> None:
    """Current-state dimension: small, one file, broadcast at read time."""
    agents.coalesce(1).write.mode("overwrite").parquet(path)


def _merge_agents(existing: DataFrame | None, batch_dim: DataFrame) -> DataFrame:
    """Latest-wins merge of a batch's agent rows into the current dim:
    newest ``last_ts`` supplies the whole attribute row + state/date_left
    (each reference upsert fully overwrites, events.js:240-246);
    date_joined keeps the global minimum."""
    from ..taskrouter.schema import AGENT_COLUMNS

    merged = batch_dim if existing is None else existing.unionByName(batch_dim)
    attr_cols = [c for c, _ in AGENT_COLUMNS if c not in ("agent_uuid", "date_joined")]
    packed = merged.select(
        "agent_uuid",
        "date_joined",
        "last_ts",
        F.struct(*attr_cols).alias("row"),
    )
    agg = packed.groupBy("agent_uuid").agg(
        F.max_by("row", "last_ts").alias("row"),
        F.min("date_joined").alias("date_joined"),
        F.max("last_ts").alias("last_ts"),
    )
    return agg.select(
        "agent_uuid",
        *[F.col(f"row.{c}").alias(c) for c in attr_cols if c != "date_joined"],
        "date_joined",
        "last_ts",
    ).select(*[c for c, _ in AGENT_COLUMNS], "last_ts")


def upsert_agents(batch_dim: DataFrame, path: str) -> None:
    """Merge a batch's agent rows (``taskrouter_agents_df(...,
    with_ordering=True)``, so each carries ``last_ts``) into the durable
    dimension at ``path``, creating it if absent.

    On plain parquet the merge is read→union→latest-wins→staging-write→
    swap (atomic enough for a single writer); on a table format with
    MERGE INTO (Delta/Iceberg) the same ``_merge_agents`` plan becomes
    the MERGE source. Both the batch incremental update and the
    streaming foreachBatch sink upsert through here."""
    existing = (
        batch_dim.sparkSession.read.parquet(path) if os.path.exists(path) else None
    )
    staging = f"{path}__staging"
    write_agents(_merge_agents(existing, batch_dim), staging)
    if os.path.exists(path):
        shutil.rmtree(path)
    os.replace(staging, path)

"""Output checks: fact and dimension fingerprints, result comparison.

Everything here runs outside the timed window.
"""

from __future__ import annotations

import math

from . import gen_taskrouter as G


def fact_fingerprint(fact) -> dict:
    """Per segment kind: count, measure sums and the sum of a CRC-32 per
    row over ``G.FINGERPRINT_COLUMNS`` — the Spark twin of
    ``gen_taskrouter.expected_fingerprint``."""
    from pyspark.sql import functions as F

    def text(c: str):
        col = F.date_format("date", "yyyy-MM-dd HH:mm:ss") if c == "date" else F.col(c)
        return F.coalesce(col.cast("string"), F.lit("~"))

    row = F.concat_ws("|", *[text(c) for c in G.FINGERPRINT_COLUMNS])
    aggs = [F.count(F.lit(1)).alias("n"), F.sum(F.crc32(row)).alias("crc")]
    aggs += [F.sum(F.coalesce(F.col(m), F.lit(0))).alias(m) for m in G.MEASURES]
    out = {}
    for r in fact.groupBy("segment_kind").agg(*aggs).collect():
        out[r["segment_kind"]] = {k: int(r[k] or 0) for k in ["n", "crc", *G.MEASURES]}
    return out


def full_fingerprint(df, exclude: tuple[str, ...] = ("uuid",)) -> tuple[int, int]:
    """(rows, sum of CRC-32 over every column but ``exclude``): equal
    for two tables holding the same multiset of rows."""
    from pyspark.sql import functions as F

    cols = sorted(c for c in df.columns if c not in exclude)
    row = F.concat_ws("|", *[F.coalesce(F.col(c).cast("string"), F.lit("~")) for c in cols])
    r = df.agg(F.count(F.lit(1)).alias("n"), F.sum(F.crc32(row)).alias("crc")).collect()[0]
    return int(r["n"]), int(r["crc"] or 0)


def agent_rows(agents) -> dict:
    from pyspark.sql import functions as F

    ts = "yyyy-MM-dd HH:mm:ss"
    rows = agents.select(
        "agent_uuid", "email", "team_name", "state",
        F.date_format("date_joined", ts).alias("date_joined"),
        F.date_format("date_left", ts).alias("date_left"),
    ).collect()
    return {r["agent_uuid"]: r.asDict() for r in rows}


def diff_fingerprints(got: dict, want: dict) -> list[str]:
    problems = []
    for kind in sorted(set(got) | set(want)):
        if got.get(kind) != want.get(kind):
            problems.append(f"{kind}: got {got.get(kind)} want {want.get(kind)}")
    return problems


def diff_agents(got: dict, want: dict) -> list[str]:
    problems = [f"agent {k}: got {got.get(k)} want {want.get(k)}"
                for k in sorted(set(got) | set(want)) if got.get(k) != want.get(k)]
    return problems[:10]


def canonical(rows: list[tuple]) -> list[tuple]:
    """Order-insensitive, float-tolerant form of a result set."""
    def cell(v):
        if isinstance(v, float):
            return None if math.isnan(v) else round(v, 6)
        if hasattr(v, "isoformat"):
            return v.isoformat(sep=" ") if hasattr(v, "hour") else v.isoformat()
        return v

    return sorted((tuple(cell(v) for v in r) for r in rows), key=repr)

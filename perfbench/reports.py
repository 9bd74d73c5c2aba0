"""The report mix: six read shapes over the durable fact and dimension.

The shapes mirror ``plans.taskrouter_queries`` (conversation lookup,
agents report, queue KPIs, queue wait/talk percentiles, channel rollup,
agent activity), written as SQL text that Spark and DuckDB both run over
the same parquet files: Spark for the timed reads, DuckDB as the
reference answer.
"""

from __future__ import annotations

import random

from .gen_taskrouter import day_time

REPORTS = {
    "conversation_lookup": """
        SELECT segment_kind, reservation_sid, agent_uuid, date, queue_time, ring_time,
               talk_time, wrapup_time, abandon_time
        FROM {fact} WHERE conversation_id = '{task}'""",
    "agent_lookup": """
        SELECT agent_uuid, email, team_name, state, date_joined, date_left
        FROM {agents} WHERE agent_uuid = '{worker}'""",
    "queue_kpis": """
        SELECT queue, segment_kind, COUNT(*) AS n, SUM(queue_time) AS q, SUM(ring_time) AS r,
               SUM(talk_time) AS t, SUM(wrapup_time) AS w,
               SUM(CASE WHEN abandoned = 'Yes' THEN 1 ELSE 0 END) AS a
        FROM {fact} WHERE segment_date BETWEEN DATE '{d1}' AND DATE '{d2}'
        GROUP BY queue, segment_kind""",
    "queue_percentiles": """
        SELECT queue, COUNT(queue_time) AS n,
               {pct}(CAST(queue_time AS DOUBLE), 0.5) AS q50,
               {pct}(CAST(queue_time AS DOUBLE), 0.9) AS q90,
               {pct}(CAST(talk_time AS DOUBLE), 0.5) AS t50,
               {pct}(CAST(talk_time AS DOUBLE), 0.9) AS t90
        FROM {fact}
        WHERE segment_kind IN ('QUEUE', 'CONVERSATION')
          AND segment_date BETWEEN DATE '{d1}' AND DATE '{d2}'
        GROUP BY queue""",
    "channel_rollup": """
        SELECT channel, direction, GROUPING(channel) AS g_channel,
               GROUPING(direction) AS g_direction, COUNT(*) AS n, SUM(talk_time) AS t
        FROM {fact} WHERE segment_date BETWEEN DATE '{d1}' AND DATE '{d2}'
        GROUP BY ROLLUP (channel, direction)""",
    "agent_activity": """
        SELECT agent_uuid, activity, COUNT(*) AS n,
               SUM(COALESCE(activity_time, 0)) AS seconds,
               SUM(CASE WHEN activity_time IS NULL THEN 1 ELSE 0 END) AS open_intervals
        FROM {fact}
        WHERE segment_kind IN ('AGENT STATUS', 'AGENT STATUS IN PROGRESS')
          AND segment_date = DATE '{d1}'
        GROUP BY agent_uuid, activity""",
}


class ReportMix:
    """Seeded reads: report shapes with parameters drawn from the
    history's conversations, workers and days."""

    def __init__(self, seed: int, tasks: list[str], workers: list[str], first_day_s: int,
                 days: int):
        self.rng = random.Random(seed)
        self.tasks, self.workers = tasks, workers
        self.first_day_s, self.days = first_day_s, days

    def _day(self, k: int) -> str:
        return day_time(self.first_day_s + 86400 * k)[:10]

    def params(self) -> dict:
        rng = self.rng
        k = rng.randrange(self.days)
        span = rng.randint(1, 3)
        return {
            "task": rng.choice(self.tasks),
            "worker": rng.choice(self.workers),
            "d1": self._day(k),
            "d2": self._day(min(self.days - 1, k + span)),
        }

    def round(self, per_shape: int) -> list[tuple[str, dict]]:
        """Every shape ``per_shape`` times, in a seeded order."""
        shapes = [s for s in REPORTS for _ in range(per_shape)]
        self.rng.shuffle(shapes)
        return [(s, self.params()) for s in shapes]


def spark_sql(shape: str, params: dict, fact_path: str, agents_path: str) -> str:
    return REPORTS[shape].format(
        fact=f"parquet.`{fact_path}`", agents=f"parquet.`{agents_path}`", pct="percentile",
        **params,
    )


def duckdb_sql(shape: str, params: dict, fact_path: str, agents_path: str) -> str:
    return REPORTS[shape].format(
        fact=f"read_parquet('{fact_path}/*/*.parquet', hive_partitioning = true)",
        agents=f"read_parquet('{agents_path}/*.parquet')",
        pct="quantile_cont",
        **params,
    )

"""Shared daily-close / daily-return builders for the securities
plans (d62's proven discipline, reused by d65-d70).

Lives under functions/ (not plans/) because the plan modules of
several subjects share it: plan modules hold queries, and their
shared helpers live in functions/ or operators/.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from security_master_spark.datasets import load_table

#: shared daily-close CTE prefix for oracle SQL: last print of the day
#: by (ts, event_id) DESC row_number — deterministic cross-engine.
DAILY_SQL = """
    ranked AS (
        SELECT event_type,
               DATE_TRUNC('day', ts) AS day, value,
               ROW_NUMBER() OVER (PARTITION BY event_type,
                                  DATE_TRUNC('day', ts)
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
    ), daily AS (
        SELECT event_type, day, value AS close
        FROM ranked WHERE rn = 1
    )
"""

#: oracle CTE for simple daily returns over ``daily`` (append after
#: DAILY_SQL): close/lag−1 per series, first day drops out.
RETS_SQL = """
    rets AS (
        SELECT event_type, day,
               close / LAG(close) OVER (PARTITION BY event_type
                                        ORDER BY day) - 1 AS r
        FROM daily
    ), rr AS (
        SELECT * FROM rets WHERE r IS NOT NULL
    )
"""


def daily_closes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(event_type, day) last print — the Spark twin of
    ``DAILY_SQL``. One shuffle on (event_type, day)."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy(
        "event_type", F.date_trunc("day", F.col("ts"))
    ).orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        events.select(
            "event_type",
            F.date_trunc("day", F.col("ts")).alias("day"),
            "value",
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") == 1)
        .select("event_type", "day", F.col("value").alias("close"))
    )


def daily_returns(daily: DataFrame) -> DataFrame:
    """close/lag(close) − 1 per series; the first day drops out.

    try_divide, not ``/``: the sf0.1 fixture contains value = 0.0
    rows, and under ANSI mode a plain double division by a zero close
    would THROW at bench scale. A zero-close day yields a NULL return
    that drops out — hash-neutral at the oracle SFs, where no daily
    close is zero (the oracle keeps plain division)."""
    w = Window.partitionBy("event_type").orderBy("day")
    return (
        daily.select(
            "event_type",
            "day",
            (F.try_divide(F.col("close"), F.lag("close").over(w)) - 1).alias(
                "r"
            ),
        )
        .filter(F.col("r").isNotNull())
    )

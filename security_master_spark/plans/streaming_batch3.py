"""Round-6 streaming batch-twin batch 3 (SURVEY.md §2.10): windowed
top-k trending — the foreachBatch leaderboard pattern (tumbling
window → per-window rank → share of window), certified on the exact
``F.window`` bucketing the streaming job uses.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from security_master_spark.datasets import load_table
from security_master_spark.functions.rounding import dround, sql_dround
from security_master_spark.plans.registry import register

#: tumbling window width (seconds) and leaderboard depth.
_T6_BUCKET_S = 21600  # 6 hours
_T6_TOP_K = 3


@register(
    "t6_windowed_topk_trending",
    oracle=f"""
    WITH bucketed AS (
        SELECT CAST(TO_TIMESTAMP(FLOOR(EPOCH(ts) / {_T6_BUCKET_S})
                                 * {_T6_BUCKET_S}) AS TIMESTAMP) AS bucket,
               user_id,
               CAST(COUNT(*) AS BIGINT) AS n_events
        FROM events
        GROUP BY 1, 2
    ), ranked AS (
        SELECT bucket, user_id, n_events,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY bucket
                   ORDER BY n_events DESC, user_id ASC) AS BIGINT) AS rank,
               SUM(n_events) OVER (PARTITION BY bucket) AS bucket_total
        FROM bucketed
    )
    SELECT bucket, rank, user_id, n_events,
           {sql_dround(
               "n_events / CAST(bucket_total AS DOUBLE)", 6
           )} AS share
    FROM ranked
    WHERE rank <= {_T6_TOP_K}
    """,
)
def t6_windowed_topk_trending(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-window trending leaderboard: top-3 users by event count in
    each 6-hour tumbling window, with each leader's share of the
    window's total traffic. This is the streaming "what's hot right
    now" job: in production the SAME groupBy(window(...), user_id)
    runs under readStream + withWatermark in update mode, and the
    rank/share stage runs in foreachBatch over each micro-batch's
    completed windows (rank is not a streaming-incremental operator —
    splitting the plan exactly there is the point being certified).

    Determinism: rank carries the user_id tie-break; share divides
    two exact counts.

    Scale: the window-bucket aggregate shuffles (bucket, user) keyed
    partial counts — map-side combined, never raw events; the rank
    and share windows partition by bucket over the collapsed
    O(buckets·active-users) frame. Skewed buckets (flash events)
    salt on user ranges like any d11-style hot key."""
    events = load_table(spark, sf_dir, "events")
    bucketed = (
        events.groupBy(
            F.window("ts", f"{_T6_BUCKET_S} seconds"), "user_id"
        )
        .agg(F.count("*").cast("bigint").alias("n_events"))
        .select(
            F.col("window.start").alias("bucket"),
            "user_id",
            "n_events",
        )
    )
    wrank = Window.partitionBy("bucket").orderBy(
        F.desc("n_events"), F.asc("user_id")
    )
    wtot = Window.partitionBy("bucket")
    return (
        bucketed.select(
            "bucket",
            F.row_number().over(wrank).cast("bigint").alias("rank"),
            "user_id",
            "n_events",
            dround(
                F.col("n_events")
                / F.sum("n_events").over(wtot).cast("double"),
                6,
            ).alias("share"),
        )
        .filter(F.col("rank") <= _T6_TOP_K)
    )

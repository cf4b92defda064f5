"""Round-7 data-quality batch 2 (SURVEY.md §2.11 dq): near-time
duplicate detection — replayed events that exact-key screens (dq8)
miss because the copies arrive microseconds-to-a-second apart.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from security_master_spark.datasets import load_table
from security_master_spark.functions.rounding import dround, sql_dround
from security_master_spark.plans.registry import register

#: near-duplicate window (microseconds): same (user, type), distinct
#: event ids, timestamps within this gap. 60 s here — the fixture's
#: event streams are sparse (minimum per-(user, type) gap ≈ 8 s at
#: sf0.01), so a production-style 1 s window would certify only an
#: empty screen; the window is the operator's parameter, the
#: bucketing algebra is identical at any width.
_NEAR_US = 60_000_000


@register(
    "dq15_near_duplicate_events",
    oracle=f"""
    WITH e AS (
        SELECT user_id, event_type, event_id, epoch_us(ts) AS us
        FROM events
    ), pairs AS (
        SELECT DISTINCT a.event_type,
               LEAST(a.event_id, b.event_id) AS id_lo,
               GREATEST(a.event_id, b.event_id) AS id_hi,
               ABS(a.us - b.us) AS gap_us,
               a.user_id
        FROM e a JOIN e b
          ON a.user_id = b.user_id AND a.event_type = b.event_type
         AND a.event_id < b.event_id
         AND ABS(a.us - b.us) <= {_NEAR_US}
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(MIN(gap_us) AS BIGINT) AS min_gap_us,
           CAST(MAX(gap_us) AS BIGINT) AS max_gap_us,
           {sql_dround("AVG(CAST(gap_us AS DOUBLE))", 6)}
               AS mean_gap_us
    FROM pairs
    GROUP BY event_type
    """,
)
def dq15_near_duplicate_events(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Near-time duplicate screen: pairs of DISTINCT events from the
    same (user, stream) within the _NEAR_US window of each other —
    the replay signature dq8's exact-key screen cannot see (a
    replayed feed usually re-stamps the clock). Reports per stream:
    pair count, affected users, and the gap distribution.

    Scale discipline (the d2 interval-join form): events bucket by
    floor(ts / window); the probe side carries each event under its OWN
    bucket AND the next one, so every qualifying pair co-locates in
    at least one bucket — the join is a pure EQUI-join on
    (user, type, bucket) with the |Δt| predicate as a filter, never
    a time-range theta join; LEAST/GREATEST + DISTINCT collapses the
    one-or-two orientations each pair can surface under. Per-bucket
    blowup is bounded by per-(user, second) event counts — the honest
    skew knob, monitorable with dq7's rate-spike screen."""
    events = load_table(spark, sf_dir, "events")
    e = events.select(
        "user_id",
        "event_type",
        "event_id",
        F.unix_micros("ts").alias("us"),
    )
    bucket = F.floor(F.col("us") / _NEAR_US)
    left = e.select(
        "user_id", "event_type", "event_id", "us",
        bucket.alias("bkt"),
    )
    right = e.select(
        "user_id",
        "event_type",
        F.col("event_id").alias("event_id_b"),
        F.col("us").alias("us_b"),
        F.explode(
            F.array(bucket.cast("long"), bucket.cast("long") + 1)
        ).alias("bkt"),
    )
    pairs = (
        left.join(right, ["user_id", "event_type", "bkt"])
        .filter(
            (F.col("event_id") != F.col("event_id_b"))
            & (
                F.abs(F.col("us") - F.col("us_b"))
                <= F.lit(_NEAR_US)
            )
        )
        .select(
            "event_type",
            "user_id",
            F.least("event_id", "event_id_b").alias("id_lo"),
            F.greatest("event_id", "event_id_b").alias("id_hi"),
            F.abs(F.col("us") - F.col("us_b")).alias("gap_us"),
        )
        .distinct()
    )
    return pairs.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_pairs"),
        F.countDistinct("user_id").cast("bigint").alias("n_users"),
        F.min("gap_us").cast("bigint").alias("min_gap_us"),
        F.max("gap_us").cast("bigint").alias("max_gap_us"),
        dround(F.avg(F.col("gap_us").cast("double")), 6).alias(
            "mean_gap_us"
        ),
    )

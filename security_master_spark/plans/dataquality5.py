"""Round-7 data-quality batch (SURVEY.md §2.11 dq): calendar
completeness per stream and feed staleness — the two monitoring
queries an ingestion SLA dashboard refreshes continuously.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from security_master_spark.datasets import load_table
from security_master_spark.functions.rounding import dround, sql_dround
from security_master_spark.plans.registry import register

#: staleness alarm threshold (hours since last print).
_STALE_H = 24.0


@register(
    "dq13_completeness_grid",
    oracle=f"""
    WITH d AS (
        SELECT event_type,
               CAST(DATE_TRUNC('day', ts) AS DATE) AS day
        FROM events
    )
    SELECT event_type,
           MIN(day) AS first_day,
           MAX(day) AS last_day,
           CAST(DATE_DIFF('day', MIN(day), MAX(day)) + 1 AS BIGINT)
               AS span_days,
           CAST(COUNT(DISTINCT day) AS BIGINT) AS present_days,
           CAST(DATE_DIFF('day', MIN(day), MAX(day)) + 1
                - COUNT(DISTINCT day) AS BIGINT) AS missing_days,
           {sql_dround(
               "CAST(COUNT(DISTINCT day) AS DOUBLE)"
               " / (DATE_DIFF('day', MIN(day), MAX(day)) + 1)", 6
           )} AS completeness
    FROM d GROUP BY event_type
    """,
)
def dq13_completeness_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar completeness per stream: each series' first/last
    observed day, its calendar span, the days actually present, and
    the missing-day count/ratio — the coverage matrix that
    distinguishes "feed went quiet" from "feed never carried this
    day". Complements d18 (which lists the individual gap intervals)
    with the per-stream summary an SLA dashboard actually alerts on.

    Shape: project to (series, day) at the scan, then ONE
    map-side-combined groupBy — the distinct-day count collapses to
    at most one (series, day) pair per partition before shuffling, so
    network is O(series × days), never O(ticks)."""
    events = load_table(spark, sf_dir, "events")
    d = events.select(
        "event_type",
        F.date_trunc("day", F.col("ts")).cast("date").alias("day"),
    )
    span = F.datediff(F.max("day"), F.min("day")) + 1
    return d.groupBy("event_type").agg(
        F.min("day").alias("first_day"),
        F.max("day").alias("last_day"),
        span.cast("bigint").alias("span_days"),
        F.countDistinct("day").cast("bigint").alias("present_days"),
        (span - F.countDistinct("day")).cast("bigint").alias(
            "missing_days"
        ),
        dround(
            F.countDistinct("day").cast("double") / span, 6
        ).alias("completeness"),
    )


@register(
    "dq14_staleness",
    oracle=f"""
    WITH mx AS (
        SELECT MAX(ts) AS max_ts FROM events
    ), gaps AS (
        SELECT event_type, ts,
               CAST(epoch_us(ts) - epoch_us(
                   LAG(ts) OVER (PARTITION BY event_type
                                 ORDER BY ts, event_id)
               ) AS DOUBLE) / 1000000 AS gap_s
        FROM events
    )
    SELECT g.event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           MAX(g.ts) AS last_ts,
           {sql_dround(
               "CAST(epoch_us(MAX(mx.max_ts)) - epoch_us(MAX(g.ts))"
               " AS DOUBLE) / 3600000000", 6
           )} AS age_hours,
           CAST(epoch_us(MAX(mx.max_ts)) - epoch_us(MAX(g.ts))
                AS DOUBLE) / 3600000000 > {_STALE_H} AS is_stale,
           {sql_dround("QUANTILE_CONT(g.gap_s, 0.5)", 6)}
               AS median_gap_s,
           {sql_dround("MAX(g.gap_s)", 6)} AS max_gap_s
    FROM gaps g, mx
    GROUP BY g.event_type
    """,
)
def dq14_staleness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feed staleness panel: per stream, the last print, its age
    against the dataset's watermark (hours), a 24 h stale alarm, and
    the median/max inter-arrival gap — the heartbeat summary paired
    with dq13's calendar view (dq13 says which DAYS are missing; this
    says whether the feed is alive NOW and how bursty it is).

    Determinism: all arithmetic is integer epoch-microseconds divided
    by IEEE constants — exactly representable, bit-identical across
    engines; the median gap uses the proven percentile ==
    QUANTILE_CONT pairing. Shape: one lag window per stream (the
    per-series sort) feeding one map-side-combined groupBy; the
    dataset watermark is a 1-row broadcast."""
    events = load_table(spark, sf_dir, "events")
    mx = events.agg(F.max("ts").alias("max_ts"))
    wlag = Window.partitionBy("event_type").orderBy("ts", "event_id")
    gaps = events.select(
        "event_type",
        "ts",
        (
            (
                F.unix_micros("ts")
                - F.unix_micros(F.lag("ts").over(wlag))
            ).cast("double")
            / 1000000
        ).alias("gap_s"),
    )
    age_h = (
        F.unix_micros(F.max("max_ts")) - F.unix_micros(F.max("ts"))
    ).cast("double") / 3600000000
    return (
        gaps.crossJoin(F.broadcast(mx))
        .groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.max("ts").alias("last_ts"),
            dround(age_h, 6).alias("age_hours"),
            (age_h > _STALE_H).alias("is_stale"),
            dround(F.percentile("gap_s", 0.5), 6).alias(
                "median_gap_s"
            ),
            dround(F.max("gap_s"), 6).alias("max_gap_s"),
        )
    )

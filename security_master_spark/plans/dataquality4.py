"""Round-6 data-quality batch (SURVEY.md §2.11 QA panel): ingest
volume-anomaly monitoring — the robust z-score discipline of
d19_mad_outliers applied to the operational metric every pipeline
pages on (daily row counts per stream).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from security_master_spark.datasets import load_table
from security_master_spark.functions.rounding import dround, sql_dround
from security_master_spark.plans.registry import register

#: scaled-MAD consistency constant (Φ⁻¹(0.75) reciprocal), the d19
#: convention — written identically in both engines.
_MAD_K = 0.6745


@register(
    "dq11_volume_anomaly",
    oracle=f"""
    WITH daily AS (
        SELECT event_type,
               CAST(DATE_TRUNC('day', ts) AS TIMESTAMP) AS day,
               CAST(COUNT(*) AS DOUBLE) AS n
        FROM events
        GROUP BY event_type, DATE_TRUNC('day', ts)
    ), med AS (
        SELECT event_type, day, n,
               MEDIAN(n) OVER (PARTITION BY event_type) AS med
        FROM daily
    ), mad AS (
        SELECT event_type, day, n, med,
               MEDIAN(ABS(n - med)) OVER (PARTITION BY event_type) AS mad
        FROM med
    )
    SELECT event_type, day,
           CAST(n AS BIGINT) AS n_events,
           {sql_dround(f"{_MAD_K} * (n - med) / NULLIF(mad, 0)", 6)}
               AS robust_z,
           COALESCE(
               ABS({_MAD_K} * (n - med) / NULLIF(mad, 0)) > 3, FALSE
           ) AS is_anomaly
    FROM mad
    """,
)
def dq11_volume_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-volume anomaly panel: per (stream, day) row counts
    scored with the robust z (scaled MAD deviation from the stream's
    median daily volume) and a |z| > 3 anomaly flag — the monitoring
    query that catches a half-delivered day or a double-loaded feed
    before any downstream consumer does. Every day is emitted with
    its score (not only the anomalies), so quiet fixtures still
    hash-certify the scoring math.

    Shape: the fact table collapses to O(streams · days) BEFORE any
    window touches it — the windows run over the tiny daily frame,
    never the ticks. try_divide/NULLIF handles the constant-volume
    stream (MAD 0 → z NULL → flag FALSE via the null-aware coalesce,
    identical both engines)."""
    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.count("*").cast("double").alias("n"))
    w = Window.partitionBy("event_type")
    scored = daily.select(
        "event_type",
        "day",
        "n",
        F.percentile("n", F.lit(0.5)).over(w).alias("med"),
    ).select(
        "event_type",
        "day",
        "n",
        "med",
        F.percentile(F.abs(F.col("n") - F.col("med")), F.lit(0.5))
        .over(w)
        .alias("mad"),
    )
    # Same expression TREE as the oracle text (K·(n−med))/mad — the
    # d19 associativity rule: K·((n−med)/mad) differs in the last ulp
    # and can flip the |z| > 3 flag on a borderline stream-day.
    z = F.try_divide(
        F.lit(_MAD_K) * (F.col("n") - F.col("med")),
        F.nullif(F.col("mad"), F.lit(0.0)),
    )
    return scored.select(
        "event_type",
        "day",
        F.col("n").cast("bigint").alias("n_events"),
        dround(z, 6).alias("robust_z"),
        F.coalesce(F.abs(z) > 3, F.lit(False)).alias("is_anomaly"),
    )


@register(
    "dq12_winsorized_stats",
    oracle=f"""
    WITH scored AS (
        SELECT event_type, value,
               QUANTILE_CONT(value, 0.01) OVER (PARTITION BY event_type)
                   AS p01,
               QUANTILE_CONT(value, 0.99) OVER (PARTITION BY event_type)
                   AS p99
        FROM events
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           {sql_dround("MAX(p01)", 6)} AS p01,
           {sql_dround("MAX(p99)", 6)} AS p99,
           {sql_dround("AVG(value)", 6)} AS mean_raw,
           {sql_dround(
               "AVG(LEAST(GREATEST(value, p01), p99))", 6
           )} AS mean_winsorized,
           CAST(SUM(CASE WHEN value < p01 OR value > p99
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped
    FROM scored
    GROUP BY event_type
    """,
)
def dq12_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized robust means: clip each series at its own exact
    1st/99th percentiles and report raw vs winsorized mean plus the
    clip count — the outlier-tolerant summary a dq pipeline publishes
    where a single fat-fingered print would poison a plain AVG. Uses
    the d39/d62-proven exact-percentile pairing (Spark `percentile`
    as a window == DuckDB `QUANTILE_CONT ... OVER`), so the clip
    thresholds are identical on both engines, and the clip itself is
    LEAST/GREATEST — no float boundary beyond the certified
    percentile value.

    Scale: one shuffle on the series key serves both the percentile
    window and the final aggregate (same-key reuse); the per-series
    sort is the honest cost of an exact percentile — the screening
    path at 100 TB is a13's t-digest sketch, with this exact form as
    the audit."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type")
    scored = events.select(
        "event_type",
        "value",
        F.expr("percentile(value, 0.01)").over(w).alias("p01"),
        F.expr("percentile(value, 0.99)").over(w).alias("p99"),
    )
    clipped = F.least(F.greatest(F.col("value"), F.col("p01")), F.col("p99"))
    return scored.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n"),
        dround(F.max("p01"), 6).alias("p01"),
        dround(F.max("p99"), 6).alias("p99"),
        dround(F.avg("value"), 6).alias("mean_raw"),
        dround(F.avg(clipped), 6).alias("mean_winsorized"),
        F.sum(
            F.when(
                (F.col("value") < F.col("p01"))
                | (F.col("value") > F.col("p99")),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_clipped"),
    )

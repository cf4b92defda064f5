"""Round-4 securities-master candidates (SURVEY.md §2.11): robust
outlier detection (median/MAD) and position & cost-basis tracking.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from security_master_spark.datasets import load_table
from security_master_spark.functions.rounding import dround, sql_dround
from security_master_spark.plans.registry import register

_MAD_K = 0.6745  # Phi^-1(0.75): scales MAD to sigma-equivalent units
_MAD_CUT = 3.5  # Iglewicz-Hoaglin modified z-score threshold


@register(
    "d19_mad_outliers",
    oracle=f"""
    WITH m AS (
        SELECT event_id, event_type, ts, value,
               MEDIAN(value) OVER (PARTITION BY event_type) AS med
        FROM events
    ), d AS (
        SELECT *,
               MEDIAN(ABS(value - med)) OVER (PARTITION BY event_type)
                   AS mad
        FROM m
    )
    SELECT event_id, event_type, ts, value,
           {sql_dround(f"{_MAD_K} * (value - med) / mad", 4)} AS robust_z
    FROM d
    WHERE ABS({_MAD_K} * (value - med) / mad) > {_MAD_CUT}
    """,
)
def d19_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-series outlier detection: modified z-score
    0.6745·(x − median)/MAD with the Iglewicz-Hoaglin 3.5 cut. Median
    and MAD are breakdown-resistant where mean/stddev (d17-style
    moments) are dragged by the very outliers being hunted. Two
    stacked whole-partition window aggregates on ONE partitioning
    (med, then MAD of |x−med|) — a single Exchange, no join-back of a
    stats table. Exact interpolated percentile on both engines
    (Spark `percentile` ≡ DuckDB `MEDIAN`); dround absorbs the
    division's engine-order ulps."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type")
    m = events.select(
        "event_id",
        "event_type",
        "ts",
        "value",
        F.percentile("value", F.lit(0.5)).over(w).alias("med"),
    )
    d = m.withColumn(
        "mad",
        F.percentile(F.abs(F.col("value") - F.col("med")), F.lit(0.5)).over(w),
    )
    # try_divide: a window where >=50% of values are identical makes
    # MAD exactly 0 — ANSI `/` would crash the job on that data; NULL
    # z-scores fall out of the |z| > cut filter on both engines.
    # ASSOCIATIVITY MUST MATCH THE ORACLE: the SQL text parses as
    # ((K · (v − med)) / mad); spelling it K · ((v − med)/mad) differs
    # in the last ulp, which flipped one borderline row across the
    # |z| > 3.5 boundary at sf0.1 (~600k rows; the boundary-flip risk
    # is measure-zero per row but scales with n).
    z = F.try_divide(
        F.lit(_MAD_K) * (F.col("value") - F.col("med")), F.col("mad")
    )
    return (
        d.filter(F.abs(z) > _MAD_CUT)
        .select(
            "event_id",
            "event_type",
            "ts",
            "value",
            dround(z, 4).alias("robust_z"),
        )
    )


@register(
    "d20_position_tracking",
    oracle=f"""
    SELECT user_id, ts, event_id,
           ROW_NUMBER() OVER w AS position,
           {sql_dround(
               "SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) OVER w"
               " / CAST(100 AS DOUBLE)", 4
           )} AS cum_cost,
           {sql_dround(
               "SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) OVER w"
               " / CAST(100 AS DOUBLE) / ROW_NUMBER() OVER w", 4
           )} AS avg_cost
    FROM events
    WHERE event_type = 'purchase'
    WINDOW w AS (
        PARTITION BY user_id ORDER BY ts, event_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
    )
    """,
)
def d20_position_tracking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Position and average-cost-basis tracking: per account, each
    fill updates running position (unit lots here) and running
    average cost — the core of any holdings ledger. One running
    window per account; the filter pushes into the parquet scan
    (plan-checked pattern). An explicit ROWS frame keeps both
    engines' running-sum frames identical; at 100 TB the account id
    is the distribution key and a single account's fill history is
    always executor-sized.

    The running cost accumulates in exact integer CENTS: the
    adversarial skew fixture (one account owning half the fills)
    showed the double running sum diverging between Spark's
    sequential frame accumulation and DuckDB's segment-tree
    association at the 4dp quantum — integer sums have no
    association to disagree about (the io21/q28 lesson, applied to
    windows)."""
    events = load_table(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100 + 0.5).cast("long")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    rn = F.row_number().over(
        Window.partitionBy("user_id").orderBy("ts", "event_id")
    )
    fills = events.filter(F.col("event_type") == "purchase")
    cum = F.sum(cents).over(w) / F.lit(100.0)
    return fills.select(
        "user_id",
        "ts",
        "event_id",
        rn.alias("position"),
        dround(cum, 4).alias("cum_cost"),
        dround(cum / rn, 4).alias("avg_cost"),
    )

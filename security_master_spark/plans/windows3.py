"""Round-6 window batch 3 (SURVEY.md §2.5): IGNORE NULLS navigation —
the SQL:2008 null-treatment clause on first/last/nth_value that turns
a window into forward-fill / backward-fill / nth-observation lookup.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from security_master_spark.datasets import load_table
from security_master_spark.functions.rounding import dround, sql_dround
from security_master_spark.plans.registry import register


@register(
    "w9_ignore_nulls_navigation",
    oracle=f"""
    WITH gaps AS (
        SELECT event_id, user_id, ts,
               CASE WHEN event_type = 'error' THEN NULL
                    ELSE value END AS v
        FROM events
    )
    SELECT event_id, user_id,
           {sql_dround("v", 6)} AS v,
           {sql_dround(
               "last_value(v IGNORE NULLS) OVER ("
               "PARTITION BY user_id ORDER BY ts, event_id "
               "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)", 6
           )} AS ffill,
           {sql_dround(
               "first_value(v IGNORE NULLS) OVER ("
               "PARTITION BY user_id ORDER BY ts, event_id "
               "ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)", 6
           )} AS bfill,
           {sql_dround(
               "nth_value(v, 2 IGNORE NULLS) OVER ("
               "PARTITION BY user_id ORDER BY ts, event_id "
               "ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)",
               6
           )} AS second_obs
    FROM gaps
    """,
)
def w9_ignore_nulls_navigation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IGNORE NULLS navigation functions (SQL:2008 null treatment):
    forward-fill (last non-null so far), backward-fill (next non-null),
    and the account's second-ever observation — the gap-repair idioms
    every sparse time series needs, as pure window surface. NULLs are
    minted deterministically ('error' events carry no value), so both
    engines see identical gaps; a row before any observation stays
    NULL (pinned by the hash — the semantics that separate IGNORE
    NULLS from COALESCE-over-lag hacks).

    This is the WINDOW-SURFACE sibling of d38_forward_fill_distributed
    (the segmented-scan operator for series too long for one
    partition's window): same semantics, different scale regime —
    window when a key's history fits an executor, segmented scan when
    it doesn't.

    Shape: three frames over ONE partitioning (account) — one
    exchange, chained WindowExecs, no joins."""
    events = load_table(spark, sf_dir, "events")
    gaps = events.select(
        "event_id",
        "user_id",
        "ts",
        F.when(F.col("event_type") == "error", F.lit(None))
        .otherwise(F.col("value"))
        .alias("v"),
    )
    base = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wf = base.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wb = base.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    wall = base.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return gaps.select(
        "event_id",
        "user_id",
        dround(F.col("v"), 6).alias("v"),
        dround(F.last("v", ignorenulls=True).over(wf), 6).alias("ffill"),
        dround(F.first("v", ignorenulls=True).over(wb), 6).alias("bfill"),
        dround(
            F.nth_value("v", 2, ignoreNulls=True).over(wall), 6
        ).alias("second_obs"),
    )


@register(
    "w10_time_range_frame",
    oracle=f"""
    SELECT event_id, event_type,
           CAST(COUNT(*) OVER w AS BIGINT) AS n_24h,
           {sql_dround("SUM(value) OVER w", 6)} AS value_24h
    FROM events
    WINDOW w AS (PARTITION BY event_type ORDER BY ts
                 RANGE BETWEEN INTERVAL 24 HOURS PRECEDING
                           AND CURRENT ROW)
    """,
)
def w10_time_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 24-hour RANGE frame over a TIMESTAMP order column —
    the time-interval window (w1's RANGE is numeric; this is the
    wall-clock variant every "last N hours" metric needs). RANGE
    semantics make ties (equal timestamps) peers of each other, so
    the frame is a deterministic function of the DATA — no tie-break
    column required, unlike ROWS frames.

    Authored as SQL text on both engines because the DataFrame API's
    rangeBetween takes numeric offsets only — the SQL surface is
    where interval frames live (Spark parses INTERVAL bounds into
    the same RangeFrame physical node).

    Scale: one (series, time) shuffle; the running interval frame is
    a single sorted pass per partition (Spark's sliding-frame
    aggregation buffers only the in-frame rows). HONEST LIMIT: the
    partition key is the series alone, so parallelism = |series| —
    w11 is the halo-parallelized production rewrite of this exact
    frame (hash-certified equal), measured faster already at sf0.1."""
    from security_master_spark.datasets import load_tables

    load_tables(spark, sf_dir)
    return spark.sql(f"""
    SELECT event_id, event_type,
           CAST(COUNT(*) OVER w AS BIGINT) AS n_24h,
           {sql_dround("SUM(value) OVER w", 6)} AS value_24h
    FROM events
    WINDOW w AS (PARTITION BY event_type ORDER BY ts
                 RANGE BETWEEN INTERVAL 24 HOURS PRECEDING
                           AND CURRENT ROW)
    """)


@register(
    "w11_halo_parallel_time_window",
    oracle=f"""
    SELECT event_id, event_type,
           CAST(COUNT(*) OVER w AS BIGINT) AS n_24h,
           {sql_dround("SUM(value) OVER w", 6)} AS value_24h
    FROM events
    WINDOW w AS (PARTITION BY event_type ORDER BY ts
                 RANGE BETWEEN INTERVAL 24 HOURS PRECEDING
                           AND CURRENT ROW)
    """,
)
def w11_halo_parallel_time_window(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """w10's trailing-24h frame as an O(n) PREFIX DIFFERENCE
    (operators/trailing.py): cum(t) − cum(t − 24h − 1µs), one
    incremental running-total window + one as-of carry of the
    boundary prefix + a join back by row id — zero per-row frame
    re-scans. The oracle stays the UNPARALLELIZED plain-RANGE
    spelling, so the hash certifies exact equality of the rewrite.

    History: the round-7 form of this query was the HALO-BUCKET
    rewrite (duplicate each row into its successor day-bucket, window
    per (series, bucket), emit home rows) — it bought
    |series|·|days|-way parallelism but kept Spark's O(rows ×
    frame-rows) sliding-RANGE cost per bucket: measured at the
    6M-tick stress corpus (10× ticks, 10× frame density), w10 went
    2.4 s → 454 s and the halo form 0.9 s → 136 s. The prefix-diff
    form removes the quadratic term entirely (PLANS.md round-8 study
    has the numbers). The halo technique remains the right tool for
    NON-invertible trailing aggregates (MAX/MIN can't difference
    prefixes) — that regime note lives in operators/trailing.py.

    Exactness: values are exact 2-dp money, so the prefix runs in
    integer CENTS — a float prefix over a long history followed by a
    subtraction is catastrophic cancellation at scale (the io21/q28
    integer-cent lesson); integer prefixes make cum − bnd bit-exact
    at any corpus size."""
    from security_master_spark.operators.trailing import (
        trailing_interval_sum,
    )

    events = load_table(spark, sf_dir, "events")
    e = events.select(
        "event_id",
        "event_type",
        F.unix_micros(F.col("ts")).alias("us"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    res = trailing_interval_sum(
        e,
        keys=["event_type"],
        ts_us="us",
        lookback_us=86_400_000_000,
        units=F.col("cents"),
        row_id="event_id",
        out_n="n_24h",
        out_units="cents_24h",
    )
    return res.select(
        "event_id",
        "event_type",
        F.col("n_24h").cast("bigint").alias("n_24h"),
        dround(F.col("cents_24h") / 100.0, 6).alias("value_24h"),
    )

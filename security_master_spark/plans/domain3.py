"""Round-3 securities-master batch 2 (SURVEY.md §2.11): EWMA,
RSI, time-series gap detection, and a Deequ-style data-quality
constraint profile.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from security_master_spark.datasets import load_table
from security_master_spark.functions.rounding import dround, sql_dround

from security_master_spark.plans.registry import register

_EWMA_ALPHA = 0.1
_EWMA_LAGS = 50  # (1-alpha)^50 ≈ 0.005 — truncation error < 0.5%


@register(
    "d16_ewma",
    oracle=f"""
    WITH base AS (
        SELECT event_type, ts, value,
               ROW_NUMBER() OVER (
                   PARTITION BY event_type ORDER BY ts, event_id
               ) AS rn
        FROM events
    ), contrib AS (
        SELECT event_type,
               rn + k.k AS rn_t,
               value * POWER({1 - _EWMA_ALPHA}, k.k) AS wx,
               POWER({1 - _EWMA_ALPHA}, k.k) AS w
        FROM base, UNNEST(generate_series(0, {_EWMA_LAGS - 1})) AS k(k)
    ), agg AS (
        SELECT event_type, rn_t, SUM(wx) AS num, SUM(w) AS den
        FROM contrib GROUP BY event_type, rn_t
    )
    SELECT b.event_type, b.ts, b.value,
           {sql_dround("a.num / a.den", 4)} AS ewma
    FROM base b
    JOIN agg a ON a.event_type = b.event_type AND a.rn_t = b.rn
    """,
)
def d16_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially weighted moving average per series, truncated at
    50 lags ((1-α)^50 ≈ 0.5% tail mass — a principled cutoff, not an
    approximation shortcut).

    The recursive EWMA definition is inherently sequential; the
    distributed form here inverts it into *contributions*: each
    observation is exploded into the 50 future row-positions it
    weights (one `sequence`+`explode`, no window dependency chain),
    then one groupBy sums weighted numerator and weight mass per
    target position. Shuffle volume is O(rows · lags) of 4-column
    records — embarrassingly parallel, no per-series sequential scan,
    so a 100 TB tick table EWMAs at full cluster width. The exact
    (non-truncated) sequential recurrence is
    operators/ewma.py:ewma_exact, equivalence-tested against this
    form; dround(…, 4) absorbs cross-engine POWER/summation-order
    ulps."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    base = events.select(
        "event_type", "ts", "value", F.row_number().over(w).alias("rn")
    )
    # The k=0 contribution row carries the target row's own (ts, value)
    # payload, so the aggregate REBUILDS the output row and no join
    # back to `base` is needed — one Exchange fewer, measured ~9%
    # faster at sf0.1 (interleaved A/B minimums; join form 2.28 s,
    # this form 2.09 s). Phantom rn_t past a series' end have no k=0
    # row → null ts → filtered. The lag kernel is a PLAN-TIME literal
    # (operators/ewma.py:lag_weight_structs) — no per-row pow
    # (measured 2.3× on the same shape in d23's stage 1).
    from security_master_spark.operators.ewma import lag_weight_structs

    e = F.col("e")
    contrib = base.select(
        "event_type",
        "rn",
        "ts",
        "value",
        F.explode(
            lag_weight_structs(_EWMA_LAGS, w=1 - _EWMA_ALPHA)
        ).alias("e"),
    ).select(
        "event_type",
        (F.col("rn") + e.k).alias("rn_t"),
        (F.col("value") * e.w).alias("wx"),
        e.w.alias("w"),
        F.when(e.k == 0, F.col("ts")).alias("ts0"),
        F.when(e.k == 0, F.col("value")).alias("v0"),
    )
    agg = contrib.groupBy("event_type", "rn_t").agg(
        F.sum("wx").alias("num"),
        F.sum("w").alias("den"),
        F.max("ts0").alias("ts"),
        F.max("v0").alias("value"),
    )
    return agg.filter(F.col("ts").isNotNull()).select(
        "event_type",
        "ts",
        "value",
        dround(F.col("num") / F.col("den"), 4).alias("ewma"),
    )


_RSI_PERIOD = 14


@register(
    "d17_rsi",
    oracle=f"""
    WITH d AS (
        SELECT event_type, ts, event_id,
               value - LAG(value) OVER (
                   PARTITION BY event_type ORDER BY ts, event_id
               ) AS delta,
               ROW_NUMBER() OVER (
                   PARTITION BY event_type ORDER BY ts, event_id
               ) AS rn
        FROM events
    ), g AS (
        SELECT event_type, ts, rn,
               AVG(CASE WHEN delta > 0 THEN delta ELSE 0 END) OVER w
                   AS avg_gain,
               AVG(CASE WHEN delta < 0 THEN -delta ELSE 0 END) OVER w
                   AS avg_loss
        FROM d
        WINDOW w AS (
            PARTITION BY event_type ORDER BY ts, event_id
            ROWS BETWEEN {_RSI_PERIOD - 1} PRECEDING AND CURRENT ROW
        )
    )
    SELECT event_type, ts,
           {sql_dround("100.0 * avg_gain / NULLIF(avg_gain + avg_loss, 0)", 4)}
               AS rsi
    FROM g WHERE rn > {_RSI_PERIOD}
    """,
)
def d17_rsi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relative Strength Index (simple-average form) over a 14-step
    window per series: RSI = 100·avgGain/(avgGain+avgLoss). Two window
    passes on ONE partitioning+ordering (lag, then sliding avg) — a
    single sort carries both, no extra Exchange. Wilder's recursive
    smoothing variant is the sequential sibling (same applyInPandas
    shape as operators/ewma.py); the simple form is the distributed
    default. NULLIF guards the all-flat window; dround absorbs
    sliding-window summation-order ulps."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    d = events.select(
        "event_type",
        "ts",
        "event_id",
        (F.col("value") - F.lag("value").over(w)).alias("delta"),
        F.row_number().over(w).alias("rn"),
    )
    w14 = w.rowsBetween(-(_RSI_PERIOD - 1), 0)
    gain = F.when(F.col("delta") > 0, F.col("delta")).otherwise(F.lit(0.0))
    loss = F.when(F.col("delta") < 0, -F.col("delta")).otherwise(F.lit(0.0))
    g = d.select(
        "event_type",
        "ts",
        "rn",
        F.avg(gain).over(w14).alias("avg_gain"),
        F.avg(loss).over(w14).alias("avg_loss"),
    )
    rsi = F.lit(100.0) * F.col("avg_gain") / F.nullif(
        F.col("avg_gain") + F.col("avg_loss"), F.lit(0.0)
    )
    return g.filter(F.col("rn") > _RSI_PERIOD).select(
        "event_type", "ts", dround(rsi, 4).alias("rsi")
    )


_GAP_SECONDS = 3600.0


@register(
    "d18_gap_detection",
    oracle=f"""
    WITH g AS (
        SELECT event_type, ts AS gap_start,
               LEAD(ts) OVER (
                   PARTITION BY event_type ORDER BY ts, event_id
               ) AS gap_end
        FROM events
    )
    SELECT event_type, gap_start, gap_end,
           EPOCH(gap_end) - EPOCH(gap_start) AS gap_sec
    FROM g
    WHERE EPOCH(gap_end) - EPOCH(gap_start) > {_GAP_SECONDS}
    """,
)
def d18_gap_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Missing-data detection: intervals between consecutive
    observations of a series exceeding a threshold (1 h) — the
    standard feed-integrity check on a securities master. One window
    pass (lead) then a filter; at scale this is a single sort per
    series partition, no join. Epoch doubles at µs granularity are
    exactly representable, so the subtraction hash-compares without
    rounding."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    g = events.select(
        "event_type",
        F.col("ts").alias("gap_start"),
        F.lead("ts").over(w).alias("gap_end"),
    )
    gap = F.col("gap_end").cast("double") - F.col("gap_start").cast("double")
    return g.withColumn("gap_sec", gap).filter(F.col("gap_sec") > _GAP_SECONDS)


@register(
    "dq1_quality_profile",
    oracle="""
    WITH m AS (
        SELECT COUNT(*) AS rows_total,
               COUNT(*) - COUNT(o_orderkey) AS orderkey_nulls,
               COUNT(*) - COUNT(DISTINCT o_orderkey) AS orderkey_dupes,
               COUNT(DISTINCT o_custkey) AS custkey_distinct,
               COUNT(*) FILTER (WHERE o_totalprice <= 0)
                   AS totalprice_nonpositive,
               COUNT(*) FILTER (WHERE o_totalprice > 400000)
                   AS totalprice_over_400k,
               COUNT(*) FILTER (
                   WHERE o_orderstatus NOT IN ('O', 'F', 'P')
               ) AS orderstatus_invalid,
               COUNT(*) FILTER (
                   WHERE o_orderdate >= TIMESTAMP '2000-01-01'
               ) AS orderdate_after_2000
        FROM orders
    )
    SELECT 'rows_total' AS metric, rows_total AS value FROM m
    UNION ALL SELECT 'orderkey_nulls', orderkey_nulls FROM m
    UNION ALL SELECT 'orderkey_dupes', orderkey_dupes FROM m
    UNION ALL SELECT 'custkey_distinct', custkey_distinct FROM m
    UNION ALL SELECT 'totalprice_nonpositive', totalprice_nonpositive FROM m
    UNION ALL SELECT 'totalprice_over_400k', totalprice_over_400k FROM m
    UNION ALL SELECT 'orderstatus_invalid', orderstatus_invalid FROM m
    UNION ALL SELECT 'orderdate_after_2000', orderdate_after_2000 FROM m
    """,
)
def dq1_quality_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deequ-style data-quality profile of the orders feed as a long
    (metric, value) table: completeness (null counts), uniqueness
    (key dupes), cardinality, and domain-constraint violation counts
    (price sign/magnitude, status whitelist, date horizon). ONE full
    scan computes every metric as a single aggregate row (conditional
    counts share the pass — map-side partials, no per-metric jobs),
    then `stack` unpivots it. At 100 TB this is exactly one
    shuffle-to-one-row; add metrics by adding columns, not scans.
    All-integer output hash-compares exactly."""
    orders = load_table(spark, sf_dir, "orders")
    m = orders.agg(
        F.count("*").alias("rows_total"),
        (F.count("*") - F.count("o_orderkey")).alias("orderkey_nulls"),
        (F.count("*") - F.countDistinct("o_orderkey")).alias("orderkey_dupes"),
        F.countDistinct("o_custkey").alias("custkey_distinct"),
        F.count_if(F.col("o_totalprice") <= 0).alias("totalprice_nonpositive"),
        F.count_if(F.col("o_totalprice") > 400000).alias(
            "totalprice_over_400k"
        ),
        F.count_if(~F.col("o_orderstatus").isin("O", "F", "P")).alias(
            "orderstatus_invalid"
        ),
        F.count_if(F.col("o_orderdate") >= F.lit("2000-01-01").cast(
            "timestamp"
        )).alias("orderdate_after_2000"),
    )
    return m.selectExpr(
        """stack(8,
            'rows_total', rows_total,
            'orderkey_nulls', orderkey_nulls,
            'orderkey_dupes', orderkey_dupes,
            'custkey_distinct', custkey_distinct,
            'totalprice_nonpositive', totalprice_nonpositive,
            'totalprice_over_400k', totalprice_over_400k,
            'orderstatus_invalid', orderstatus_invalid,
            'orderdate_after_2000', orderdate_after_2000
        ) AS (metric, value)"""
    )

"""Securities-master technical indicators (SURVEY.md §2.11): EWMA, RSI,
VWAP, Bollinger bands, MACD, stochastic oscillator, ATR, OBV,
seasonality and the exact distributed EWMA / forward-fill scans.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from security_master_spark.datasets import load_table
from security_master_spark.functions.ordering import (
    sql_tick_order_key,
    tick_order_key,
)
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


@register(
    "d21_vwap",
    oracle=f"""
    SELECT event_type,
           CAST(DATE_TRUNC('day', ts) AS TIMESTAMP) AS day,
           {sql_dround(
               "SUM(value * CAST(props->>'$.k' AS INT))"
               " / NULLIF(SUM(CAST(props->>'$.k' AS INT)), 0)", 6)} AS vwap,
           CAST(SUM(CAST(props->>'$.k' AS INT)) AS BIGINT) AS volume
    FROM events
    GROUP BY event_type, DATE_TRUNC('day', ts)
    """,
)
def d21_vwap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume-weighted average price per (series, day), volume taken
    from the JSON props payload. Sibling of d12_twap (time-weighted):
    VWAP needs no window pass at all — it is a single partial+final
    hash aggregate of (value*qty, qty) sums, the cheapest possible
    shape, and the JSON extraction stays in whole-stage codegen. At
    100 TB this is one shuffle of (type, day) keys carrying two
    doubles."""
    events = load_table(spark, sf_dir, "events")
    qty = F.get_json_object("props", "$.k").cast("int")
    return (
        events.groupBy(
            "event_type", F.date_trunc("day", "ts").alias("day")
        )
        .agg(
            dround(
                F.try_divide(F.sum(F.col("value") * qty), F.sum(qty)), 6
            ).alias("vwap"),
            F.sum(qty).cast("bigint").alias("volume"),
        )
    )


_BOLL_N = 20  # classic 20-observation Bollinger window
_BOLL_K = 2  # band half-width in standard deviations


@register(
    "d22_bollinger",
    oracle=f"""
    WITH w AS (
        SELECT event_type, ts, value,
               ROW_NUMBER() OVER win AS rn,
               AVG(value) OVER (win ROWS BETWEEN {_BOLL_N - 1} PRECEDING
                                AND CURRENT ROW) AS mid,
               STDDEV_SAMP(value) OVER (win ROWS BETWEEN {_BOLL_N - 1}
                                        PRECEDING AND CURRENT ROW) AS sd
        FROM events
        WINDOW win AS (PARTITION BY event_type ORDER BY ts, event_id)
    )
    SELECT event_type, ts, value,
           {sql_dround("mid", 4)} AS mid,
           {sql_dround(f"mid + {_BOLL_K} * sd", 4)} AS upper,
           {sql_dround(f"mid - {_BOLL_K} * sd", 4)} AS lower,
           {sql_dround(
               f"(value - (mid - {_BOLL_K} * sd))"
               f" / NULLIF(2 * {_BOLL_K} * sd, 0)", 4)} AS pct_b
    FROM w
    WHERE rn >= {_BOLL_N}
    """,
)
def d22_bollinger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bollinger bands (20-observation mean ± 2σ) and %B position per
    series. One window pass computes row number, rolling mean, and
    rolling sample stddev over the same frame — Spark evaluates all
    three in a single WindowExec over one (type) shuffle-and-sort, no
    self-join. Rows before the window fills are dropped on both sides
    so the stddev warm-up region (n<20) can't drift cross-engine."""
    events = load_table(spark, sf_dir, "events")
    win = Window.partitionBy("event_type").orderBy("ts", "event_id")
    frame = win.rowsBetween(-(_BOLL_N - 1), Window.currentRow)
    mid, sd = F.avg("value").over(frame), F.stddev_samp("value").over(frame)
    upper = mid + _BOLL_K * sd
    lower = mid - _BOLL_K * sd
    return (
        events.select(
            "event_type",
            "ts",
            "value",
            F.row_number().over(win).alias("rn"),
            dround(mid, 4).alias("mid"),
            dround(upper, 4).alias("upper"),
            dround(lower, 4).alias("lower"),
            dround(
                F.try_divide(F.col("value") - lower, F.lit(2 * _BOLL_K) * sd), 4
            ).alias("pct_b"),
        )
        .filter(F.col("rn") >= _BOLL_N)
        .drop("rn")
    )


# MACD(12, 26, 9) with the d16 truncated-contribution EWMA form.
# (1-2/27)^70 ≈ 0.0045 — both fast and slow EMAs truncate at 70 lags;
# the 9-period signal EMA truncates at 24 ((1-0.2)^24 ≈ 0.005). Both
# engines compute the SAME truncated definition, so results match
# exactly (dround absorbs summation-order ulps only).
_MACD_FAST_A = 2.0 / 13.0
_MACD_SLOW_A = 2.0 / 27.0
_MACD_LAGS = 70
_SIG_A = 2.0 / 10.0
_SIG_LAGS = 24


@register(
    "d23_macd",
    oracle=f"""
    WITH base AS (
        SELECT event_type, ts, value,
               ROW_NUMBER() OVER (
                   PARTITION BY event_type ORDER BY ts, event_id
               ) AS rn
        FROM events
    ), contrib AS (
        SELECT event_type, rn + k.k AS rn_t,
               value * POWER({1 - _MACD_FAST_A}, k.k) AS fx,
               POWER({1 - _MACD_FAST_A}, k.k) AS fw,
               value * POWER({1 - _MACD_SLOW_A}, k.k) AS sx,
               POWER({1 - _MACD_SLOW_A}, k.k) AS sw,
               CASE WHEN k.k = 0 THEN ts END AS ts0,
               CASE WHEN k.k = 0 THEN value END AS v0
        FROM base, UNNEST(generate_series(0, {_MACD_LAGS - 1})) AS k(k)
    ), macd AS (
        SELECT event_type, rn_t AS rn, MAX(ts0) AS ts, MAX(v0) AS value,
               SUM(fx) / SUM(fw) - SUM(sx) / SUM(sw) AS macd
        FROM contrib GROUP BY event_type, rn_t
        HAVING MAX(ts0) IS NOT NULL
    ), sig_contrib AS (
        SELECT event_type, rn + k.k AS rn_t,
               macd * POWER({1 - _SIG_A}, k.k) AS gx,
               POWER({1 - _SIG_A}, k.k) AS gw,
               CASE WHEN k.k = 0 THEN ts END AS ts0,
               CASE WHEN k.k = 0 THEN value END AS v0,
               CASE WHEN k.k = 0 THEN macd END AS m0
        FROM macd, UNNEST(generate_series(0, {_SIG_LAGS - 1})) AS k(k)
    )
    SELECT event_type, MAX(ts0) AS ts, MAX(v0) AS value,
           {sql_dround("MAX(m0)", 4)} AS macd,
           {sql_dround("SUM(gx) / SUM(gw)", 4)} AS signal,
           {sql_dround("MAX(m0) - SUM(gx) / SUM(gw)", 4)} AS histogram
    FROM sig_contrib GROUP BY event_type, rn_t
    HAVING MAX(ts0) IS NOT NULL
    """,
)
def d23_macd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MACD(12,26) line, 9-period signal, and histogram per series —
    two chained truncated-contribution EWMAs (the d16_ewma recipe):
    stage 1 explodes each observation into the 70 future positions it
    weights under BOTH decay rates (one explode, two weight columns)
    and rebuilds (ts, value, macd) per row; stage 2 repeats with 24
    lags over the macd stream for the signal line. No sequential
    recurrence anywhere: two explode→groupBy rounds, each an
    embarrassingly-parallel shuffle of O(rows · lags) 6-column
    records, so a 100 TB tick table MACDs at full cluster width. The
    k=0 row carries the payload so no join back to base is needed
    (the measured single-Exchange d16 trick, applied twice)."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    base = events.select(
        "event_type", "ts", "value", F.row_number().over(w).alias("rn")
    )
    # Both decay kernels ride ONE explode as plan-time literal struct
    # fields (operators/ewma.py:lag_weight_structs) — no per-row pow:
    # measured 2.50 s → 1.10 s for this stage at sf0.1 (fresh-JVM
    # interleaved minimums; the round-6 bench audit showed the ~4 s
    # battery number was real cost, and pow — 4 evaluations per
    # exploded record × 7M records — was most of it).
    from security_master_spark.operators.ewma import lag_weight_structs

    e = F.col("e")
    contrib = base.select(
        "event_type",
        "rn",
        "ts",
        "value",
        F.explode(
            lag_weight_structs(
                _MACD_LAGS, fw=1 - _MACD_FAST_A, sw=1 - _MACD_SLOW_A
            )
        ).alias("e"),
    ).select(
        "event_type",
        (F.col("rn") + e.k).alias("rn_t"),
        (F.col("value") * e.fw).alias("fx"),
        e.fw.alias("fw"),
        (F.col("value") * e.sw).alias("sx"),
        e.sw.alias("sw"),
        F.when(e.k == 0, F.col("ts")).alias("ts0"),
        F.when(e.k == 0, F.col("value")).alias("v0"),
    )
    macd = (
        contrib.groupBy("event_type", "rn_t")
        .agg(
            F.max("ts0").alias("ts"),
            F.max("v0").alias("value"),
            (
                F.sum("fx") / F.sum("fw") - F.sum("sx") / F.sum("sw")
            ).alias("macd"),
        )
        .filter(F.col("ts").isNotNull())
        .withColumnRenamed("rn_t", "rn")
    )
    sig_contrib = macd.select(
        "event_type",
        "rn",
        "ts",
        "value",
        "macd",
        F.explode(lag_weight_structs(_SIG_LAGS, gw=1 - _SIG_A)).alias("e"),
    ).select(
        "event_type",
        (F.col("rn") + e.k).alias("rn_t"),
        (F.col("macd") * e.gw).alias("gx"),
        e.gw.alias("gw"),
        F.when(e.k == 0, F.col("ts")).alias("ts0"),
        F.when(e.k == 0, F.col("value")).alias("v0"),
        F.when(e.k == 0, F.col("macd")).alias("m0"),
    )
    out = (
        sig_contrib.groupBy("event_type", "rn_t")
        .agg(
            F.max("ts0").alias("ts"),
            F.max("v0").alias("value"),
            F.max("m0").alias("m"),
            (F.sum("gx") / F.sum("gw")).alias("sig"),
        )
        .filter(F.col("ts").isNotNull())
    )
    return out.select(
        "event_type",
        "ts",
        "value",
        dround(F.col("m"), 4).alias("macd"),
        dround(F.col("sig"), 4).alias("signal"),
        dround(F.col("m") - F.col("sig"), 4).alias("histogram"),
    )


_BETA_N = 10  # trailing days in the rolling beta window


@register(
    "d24_rolling_beta",
    oracle=f"""
    WITH daily AS (
        SELECT event_type,
               CAST(DATE_TRUNC('day', ts) AS TIMESTAMP) AS day,
               AVG(value) AS y
        FROM events GROUP BY event_type, DATE_TRUNC('day', ts)
    ), market AS (
        SELECT CAST(DATE_TRUNC('day', ts) AS TIMESTAMP) AS day,
               AVG(value) AS x
        FROM events GROUP BY DATE_TRUNC('day', ts)
    ), joined AS (
        SELECT d.event_type, d.day, d.y, m.x FROM daily d
        JOIN market m ON m.day = d.day
    ), win AS (
        SELECT event_type, day, y, x,
               ROW_NUMBER() OVER w AS rn,
               COUNT(*) OVER f AS n,
               SUM(x * y) OVER f AS sxy,
               SUM(x) OVER f AS sx,
               SUM(y) OVER f AS sy,
               SUM(x * x) OVER f AS sxx
        FROM joined
        WINDOW w AS (PARTITION BY event_type ORDER BY day),
               f AS (PARTITION BY event_type ORDER BY day
                     ROWS BETWEEN {_BETA_N - 1} PRECEDING AND CURRENT ROW)
    )
    SELECT event_type, day,
           {sql_dround("y", 6)} AS y,
           {sql_dround("x", 6)} AS x,
           {sql_dround(
               "(n * sxy - sx * sy) / NULLIF(n * sxx - sx * sx, 0)", 6)}
               AS beta
    FROM win WHERE rn >= {_BETA_N}
    """,
)
def d24_rolling_beta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 10-day beta of each series' daily level vs the
    all-series market composite. Two tiny daily aggregates (one keyed
    by (type, day), one by day alone), an equi-join on day — the
    market side is days-count rows, so Catalyst broadcasts it — then
    ONE window pass accumulating the four regression sums
    (Σxy, Σx, Σy, Σx²) over the trailing frame; beta is closed-form
    from the sums, no second pass and no per-window regression UDF.
    Scale shape: the expensive input scan collapses to O(types·days)
    rows before any window work happens."""
    events = load_table(spark, sf_dir, "events")
    day = F.date_trunc("day", "ts").alias("day")
    daily = events.groupBy("event_type", day).agg(F.avg("value").alias("y"))
    market = events.groupBy(day).agg(F.avg("value").alias("x"))
    joined = daily.join(F.broadcast(market), "day")
    w = Window.partitionBy("event_type").orderBy("day")
    f = w.rowsBetween(-(_BETA_N - 1), Window.currentRow)
    n = F.count(F.lit(1)).over(f)
    sxy = F.sum(F.col("x") * F.col("y")).over(f)
    sx, sy = F.sum("x").over(f), F.sum("y").over(f)
    sxx = F.sum(F.col("x") * F.col("x")).over(f)
    return (
        joined.select(
            "event_type",
            "day",
            dround(F.col("y"), 6).alias("y"),
            dround(F.col("x"), 6).alias("x"),
            F.row_number().over(w).alias("rn"),
            dround(
                F.try_divide(n * sxy - sx * sy, n * sxx - sx * sx), 6
            ).alias("beta"),
        )
        .filter(F.col("rn") >= _BETA_N)
        .drop("rn")
    )


# d29-d32 collapse the tick scan to O(types x days) daily bars in one
# hash aggregate first (the d25 discipline), so every window after the
# first Exchange runs on a tiny frame — the shape that survives 100 TB.


# open/close pick by the SHARED (ts, event_id) total order — a bare
# ts is engine-arbitrary on same-instant prints (functions/ordering.py)
_BARS_SQL = f"""
        SELECT event_type,
               CAST(DATE_TRUNC('day', ts) AS TIMESTAMP) AS day,
               ARG_MIN(value, {sql_tick_order_key()}) AS open,
               MAX(value)         AS high,
               MIN(value)         AS low,
               ARG_MAX(value, {sql_tick_order_key()}) AS close,
               COUNT(*)           AS volume
        FROM events
        GROUP BY event_type, DATE_TRUNC('day', ts)
"""


def _daily_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O(types x days) OHLCV bars in one hash aggregate (min_by/max_by
    open/close — no self-join back to the tick stream)."""
    events = load_table(spark, sf_dir, "events")
    return events.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(
        F.min_by("value", tick_order_key()).alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.max_by("value", tick_order_key()).alias("close"),
        F.count("*").alias("volume"),
    )


@register(
    "d29_stochastic_oscillator",
    oracle=f"""
    WITH bars AS ({_BARS_SQL}),
    k AS (
        SELECT event_type, day, close,
               MIN(low)  OVER w AS l14,
               MAX(high) OVER w AS h14,
               COUNT(*)  OVER w AS n_win
        FROM bars
        WINDOW w AS (PARTITION BY event_type ORDER BY day
                     ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
    ), kk AS (
        SELECT event_type, day, n_win,
               {sql_dround(
                   "100.0 * (close - l14) / NULLIF(h14 - l14, 0)", 6
               )} AS pct_k
        FROM k
    ), kd AS (
        -- pct_d BEFORE the warm-up filter (WHERE runs before window
        -- functions in the same block; Spark computes the smoothing
        -- over the unfiltered frame, so the oracle must too)
        SELECT event_type, day, n_win, pct_k,
               {sql_dround(
                   "AVG(pct_k) OVER (PARTITION BY event_type ORDER BY day "
                   "ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)", 6
               )} AS pct_d
        FROM kk
    )
    SELECT event_type, day, pct_k, pct_d
    FROM kd
    WHERE n_win >= 14
    """,
)
def d29_stochastic_oscillator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stochastic oscillator %K/%D: where today's close sits inside
    the trailing 14-day high-low range (0 = at the low, 100 = at the
    high), smoothed by a 3-day SMA — the classic overbought/oversold
    gauge. Warm-up rows (< 14 bars of history) are dropped AFTER %D is
    computed so the smoothing never sees a partial range; a flat
    14-day range (h14 == l14) yields NULL via NULLIF on both engines
    rather than a divide-by-zero artifact. Two WindowExecs share one
    (event_type, day) sort order, so Catalyst plans a single Exchange
    + sort for the whole chain over the collapsed daily frame."""
    bars = _daily_bars(spark, sf_dir)
    w14 = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-13, Window.currentRow)
    )
    k = bars.select(
        "event_type",
        "day",
        dround(
            100.0
            * (F.col("close") - F.min("low").over(w14))
            / F.nullif(F.max("high").over(w14) - F.min("low").over(w14), F.lit(0.0)),
            6,
        ).alias("pct_k"),
        F.count("*").over(w14).alias("n_win"),
    )
    w3 = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-2, Window.currentRow)
    )
    return (
        k.withColumn("pct_d", dround(F.avg("pct_k").over(w3), 6))
        .filter(F.col("n_win") >= 14)
        .select("event_type", "day", "pct_k", "pct_d")
    )


@register(
    "d30_atr",
    oracle=f"""
    WITH bars AS ({_BARS_SQL}),
    tr AS (
        SELECT event_type, day,
               GREATEST(
                   high - low,
                   ABS(high - LAG(close) OVER w),
                   ABS(low  - LAG(close) OVER w)
               ) AS true_range,
               ROW_NUMBER() OVER w AS rn
        FROM bars
        WINDOW w AS (PARTITION BY event_type ORDER BY day)
    ), smoothed AS (
        -- atr14 BEFORE the first-bar filter (WHERE runs before window
        -- functions in the same block; Spark's 14-row frame includes
        -- the NULL first-bar row, so the oracle's frame must too)
        SELECT event_type, day, rn,
               {sql_dround("true_range", 6)} AS true_range,
               {sql_dround(
                   "AVG(true_range) OVER (PARTITION BY event_type ORDER BY day "
                   "ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)", 6
               )} AS atr14
        FROM tr
    )
    SELECT event_type, day, true_range, atr14
    FROM smoothed
    WHERE rn > 1
    """,
)
def d30_atr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average true range: the gap-aware volatility unit behind stop
    placement and position sizing. True range extends high-low with
    the overnight gap vs the prior close (GREATEST of the three legs);
    ATR-14 is its trailing simple average (the SMA variant, so the
    DuckDB oracle is exact — Wilder's recursive smoothing is the
    d16_ewma shape if needed). The first bar per series has no prior
    close and is dropped on both sides; GREATEST/F.greatest both skip
    the NULL legs otherwise. Same single-sort window chain over the
    collapsed daily frame as d29."""
    bars = _daily_bars(spark, sf_dir)
    w = Window.partitionBy("event_type").orderBy("day")
    prev_close = F.lag("close").over(w)
    tr = bars.select(
        "event_type",
        "day",
        F.greatest(
            F.col("high") - F.col("low"),
            F.abs(F.col("high") - prev_close),
            F.abs(F.col("low") - prev_close),
        ).alias("true_range"),
        F.row_number().over(w).alias("rn"),
    )
    w14 = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-13, Window.currentRow)
    )
    return (
        tr.withColumn("atr14", dround(F.avg("true_range").over(w14), 6))
        .filter(F.col("rn") > 1)
        .select(
            "event_type",
            "day",
            dround(F.col("true_range"), 6).alias("true_range"),
            "atr14",
        )
    )


@register(
    "d31_obv",
    oracle=f"""
    WITH bars AS ({_BARS_SQL}),
    signed AS (
        SELECT event_type, day, volume,
               CASE
                   WHEN close > LAG(close) OVER w THEN volume
                   WHEN close < LAG(close) OVER w THEN -volume
                   ELSE 0
               END AS signed_volume
        FROM bars
        WINDOW w AS (PARTITION BY event_type ORDER BY day)
    )
    SELECT event_type, day,
           CAST(volume AS BIGINT) AS volume,
           CAST(SUM(signed_volume) OVER (
               PARTITION BY event_type ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS obv
    FROM signed
    """,
)
def d31_obv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """On-balance volume: cumulative volume signed by the direction of
    the daily close-to-close move (the volume-confirms-price
    indicator). The first bar per series has no prior close, so its
    contribution is 0 on both engines (CASE's ELSE catches the NULL
    comparison). Daily volume here is the bar's tick count — the
    fixture has no size column; the cumulative-sum shape is
    identical. Running total via ROWS UNBOUNDED PRECEDING keeps the
    frame cumulative (never RANGE, which would merge tied days)."""
    bars = _daily_bars(spark, sf_dir)
    w = Window.partitionBy("event_type").orderBy("day")
    prev_close = F.lag("close").over(w)
    signed = bars.select(
        "event_type",
        "day",
        "volume",
        F.when(F.col("close") > prev_close, F.col("volume"))
        .when(F.col("close") < prev_close, -F.col("volume"))
        .otherwise(F.lit(0))
        .alias("signed_volume"),
    )
    cum = Window.partitionBy("event_type").orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return signed.select(
        "event_type",
        "day",
        F.col("volume").cast("bigint").alias("volume"),
        F.sum("signed_volume").over(cum).cast("bigint").alias("obv"),
    )


@register(
    "d32_return_autocorr",
    oracle=f"""
    WITH bars AS ({_BARS_SQL}),
    rets AS (
        SELECT event_type, day,
               close / NULLIF(LAG(close) OVER w, 0) - 1 AS r
        FROM bars
        WINDOW w AS (PARTITION BY event_type ORDER BY day)
    ), pairs AS (
        SELECT event_type, r,
               LAG(r) OVER (PARTITION BY event_type ORDER BY day) AS r_prev
        FROM rets
    )
    SELECT event_type,
           CAST(COUNT(*) FILTER (
               WHERE r IS NOT NULL AND r_prev IS NOT NULL
           ) AS BIGINT) AS n_pairs,
           {sql_dround("CORR(r, r_prev)", 6)} AS autocorr_lag1
    FROM pairs
    GROUP BY event_type
    """,
)
def d32_return_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 autocorrelation of daily simple returns per series — the
    mean-reversion / momentum diagnostic (negative = choppy
    mean-reverting tape, positive = trending). Returns come off the
    daily bars via LAG (NULLIF guards a zero prior close), pair up
    with their own lag, and reduce through the built-in sample CORR
    aggregate, which skips NULL pairs identically in Spark and DuckDB
    (warm-up rows and zero-close gaps drop out of both the count and
    the correlation). n_pairs is reported so a reader can judge
    significance (|rho| ~ 2/sqrt(n))."""
    bars = _daily_bars(spark, sf_dir)
    w = Window.partitionBy("event_type").orderBy("day")
    rets = bars.select(
        "event_type",
        "day",
        (
            F.col("close") / F.nullif(F.lag("close").over(w), F.lit(0.0)) - 1
        ).alias("r"),
    )
    pairs = rets.select(
        "event_type", "r", F.lag("r").over(w).alias("r_prev")
    )
    both = F.col("r").isNotNull() & F.col("r_prev").isNotNull()
    return pairs.groupBy("event_type").agg(
        F.count(F.when(both, 1)).cast("bigint").alias("n_pairs"),
        dround(F.corr("r", "r_prev"), 6).alias("autocorr_lag1"),
    )


@register(
    "d33_sharpe_ratio",
    oracle=f"""
    WITH bars AS ({_BARS_SQL}),
    rets AS (
        SELECT event_type,
               close / NULLIF(LAG(close) OVER (
                   PARTITION BY event_type ORDER BY day
               ), 0) - 1 AS r
        FROM bars
    )
    SELECT event_type,
           CAST(COUNT(r) AS BIGINT) AS n_days,
           {sql_dround("AVG(r) * 252", 6)} AS ann_return,
           {sql_dround("STDDEV_SAMP(r) * SQRT(252)", 6)} AS ann_vol,
           {sql_dround(
               "AVG(r) * 252 / NULLIF(STDDEV_SAMP(r) * SQRT(252), 0)", 6
           )} AS sharpe,
           {sql_dround(
               "SQRT(AVG(CASE WHEN r < 0 THEN r * r ELSE 0.0 END)) * SQRT(252)",
               6,
           )} AS downside_dev
    FROM rets
    GROUP BY event_type
    """,
)
def d33_sharpe_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Annualized Sharpe ratio plus downside deviation (the Sortino
    denominator) per series, from daily close-to-close returns — the
    headline risk-adjusted-return summary. Returns come off the
    collapsed daily bars via LAG (NULLIF guards zero closes; the
    per-series first bar contributes NULL and drops out of every
    aggregate consistently), then ONE hash aggregate produces all
    five statistics — mean, sample stddev, their ratio, and the
    root-mean-square of negative returns — with map-side partials.
    STDDEV_SAMP is the sample (n-1) estimator in both engines; the
    rf=0 convention is documented rather than parameterized since
    the fixture has no rates series."""
    bars = _daily_bars(spark, sf_dir)
    w = Window.partitionBy("event_type").orderBy("day")
    rets = bars.select(
        "event_type",
        (
            F.col("close") / F.nullif(F.lag("close").over(w), F.lit(0.0)) - 1
        ).alias("r"),
    )
    ann_ret = F.avg("r") * 252
    ann_vol = F.stddev_samp("r") * F.sqrt(F.lit(252.0))
    downside = F.sqrt(
        F.avg(F.when(F.col("r") < 0, F.col("r") * F.col("r")).otherwise(0.0))
    ) * F.sqrt(F.lit(252.0))
    return rets.groupBy("event_type").agg(
        F.count("r").cast("bigint").alias("n_days"),
        dround(ann_ret, 6).alias("ann_return"),
        dround(ann_vol, 6).alias("ann_vol"),
        dround(ann_ret / F.nullif(ann_vol, F.lit(0.0)), 6).alias("sharpe"),
        dround(downside, 6).alias("downside_dev"),
    )


@register(
    "d34_intraday_seasonality",
    oracle=f"""
    WITH h AS (
        SELECT event_type,
               CAST(EXTRACT(hour FROM ts) AS INT) AS hour,
               COUNT(*) AS n,
               AVG(value) AS avg_value
        FROM events
        GROUP BY event_type, EXTRACT(hour FROM ts)
    ), tot AS (
        SELECT event_type, SUM(n) AS tot FROM h GROUP BY event_type
    )
    SELECT h.event_type, h.hour,
           CAST(h.n AS BIGINT) AS n_events,
           {sql_dround("h.avg_value", 6)} AS avg_value,
           {sql_dround("CAST(h.n AS DOUBLE) / t.tot", 6)} AS volume_share
    FROM h JOIN tot t ON t.event_type = h.event_type
    """,
)
def d34_intraday_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intraday (hour-of-day) seasonality profile: activity share and
    average level per hour per series — the U-shaped-volume /
    open-close-concentration diagnostic that drives execution
    scheduling (when to trade) and anomaly baselines (what is normal
    for 3am). One (type, hour) hash aggregate collapses the tick
    scan to at most types x 24 rows; the per-type totals are a
    second agg OF THAT RESULT (never a second corpus pass) broadcast
    back for the share arithmetic. UTC session timezone pins
    EXTRACT(hour) identically on both engines."""
    events = load_table(spark, sf_dir, "events")
    h = events.groupBy(
        "event_type", F.hour("ts").alias("hour")
    ).agg(F.count("*").alias("n"), F.avg("value").alias("avg_value"))
    tot = h.groupBy("event_type").agg(F.sum("n").alias("tot"))
    return h.join(F.broadcast(tot), "event_type").select(
        "event_type",
        F.col("hour").cast("int").alias("hour"),
        F.col("n").cast("bigint").alias("n_events"),
        dround(F.col("avg_value"), 6).alias("avg_value"),
        dround(F.col("n").cast("double") / F.col("tot"), 6).alias(
            "volume_share"
        ),
    )


@register(
    "d35_execution_slippage",
    oracle=f"""
    WITH vw AS (
        SELECT event_type,
               CAST(DATE_TRUNC('day', ts) AS TIMESTAMP) AS day,
               SUM(value * 1) / SUM(1) AS vwap
        FROM events
        GROUP BY event_type, DATE_TRUNC('day', ts)
    )
    SELECT e.event_type,
           CAST(COUNT(*) AS BIGINT) AS n_ticks,
           {sql_dround(
               "AVG(ABS(e.value - v.vwap) / NULLIF(ABS(v.vwap), 0))", 6
           )} AS avg_abs_slippage,
           {sql_dround(
               "AVG((e.value - v.vwap) / NULLIF(ABS(v.vwap), 0))", 6
           )} AS avg_signed_slippage
    FROM events e
    JOIN vw v ON v.event_type = e.event_type
              AND v.day = CAST(DATE_TRUNC('day', e.ts) AS TIMESTAMP)
    GROUP BY e.event_type
    """,
)
def d35_execution_slippage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Execution quality vs the daily VWAP benchmark: each print's
    relative deviation from its own day's volume-weighted average
    price (equal weights here — the fixture has no size column, same
    convention as d21), absolute for dispersion and signed for
    systematic bias. The VWAP table is O(types x days) off one hash
    aggregate and BROADCASTS back onto the tick scan, so the per-tick
    scoring join is map-side — the tick stream is never shuffled; the
    only wide exchange is the final per-type summary. NULLIF guards
    zero-VWAP days (the fixture has a few zero prints)."""
    events = load_table(spark, sf_dir, "events")
    vw = events.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg((F.sum("value") / F.count("*")).alias("vwap"))
    e = events.withColumn("day", F.date_trunc("day", "ts"))
    denom = F.nullif(F.abs(F.col("vwap")), F.lit(0.0))
    return (
        e.join(F.broadcast(vw), ["event_type", "day"])
        .groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_ticks"),
            dround(F.avg(F.abs(F.col("value") - F.col("vwap")) / denom), 6)
            .alias("avg_abs_slippage"),
            dround(F.avg((F.col("value") - F.col("vwap")) / denom), 6)
            .alias("avg_signed_slippage"),
        )
    )


@register(
    "d36_seasonal_decomposition",
    oracle=f"""
    WITH daily AS (
        SELECT event_type,
               CAST(DATE_TRUNC('day', ts) AS TIMESTAMP) AS day,
               AVG(value) AS y
        FROM events
        GROUP BY event_type, DATE_TRUNC('day', ts)
    ), tr AS (
        SELECT event_type, day, y,
               AVG(y) OVER w AS trend,
               COUNT(*) OVER w AS n_win
        FROM daily
        WINDOW w AS (PARTITION BY event_type ORDER BY day
                     ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    ), full_rows AS (
        SELECT event_type, day,
               CAST(EXTRACT(isodow FROM day) AS INT) AS dow,
               y, trend, y - trend AS detrended
        FROM tr WHERE n_win = 7
    ), seas AS (
        SELECT event_type, dow, AVG(detrended) AS seasonal
        FROM full_rows GROUP BY event_type, dow
    )
    SELECT f.event_type, f.day,
           {sql_dround("f.y", 6)} AS y,
           {sql_dround("f.trend", 6)} AS trend,
           {sql_dround("s.seasonal", 6)} AS seasonal,
           {sql_dround("f.detrended - s.seasonal", 6)} AS residual
    FROM full_rows f
    JOIN seas s ON s.event_type = f.event_type AND s.dow = f.dow
    """,
)
def d36_seasonal_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive seasonal decomposition (the moving-average
    X-11 core, one pass of it): trend = centered 7-day moving
    average, weekly seasonal = mean detrended value per ISO weekday,
    residual = what neither explains — the series-hygiene tool that
    separates 'volume is up' from 'it's Monday'. Edge rows without a
    full centered window drop out BEFORE the seasonal means so both
    engines average identical supports; the weekday means are a tiny
    O(types x 7) aggregate of the already-collapsed daily frame,
    broadcast back. The whole thing is two hash aggregates + one
    shared-sort window chain — scale cost is the first tick-collapse
    aggregate, everything after is O(types x days)."""
    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.avg("value").alias("y"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-3, 3)
    )
    tr = daily.select(
        "event_type",
        "day",
        "y",
        F.avg("y").over(w).alias("trend"),
        F.count("*").over(w).alias("n_win"),
    )
    full_rows = tr.filter(F.col("n_win") == 7).select(
        "event_type",
        "day",
        F.dayofweek(F.date_sub("day", 1)).alias("dow_raw"),
        "y",
        "trend",
        (F.col("y") - F.col("trend")).alias("detrended"),
    )
    # ISO weekday (Mon=1..Sun=7): Spark dayofweek is Sun=1..Sat=7;
    # shifting the date back one day re-bases Sunday-first to
    # Monday-first without a CASE ladder.
    full_rows = full_rows.withColumn("dow", F.col("dow_raw").cast("int")).drop(
        "dow_raw"
    )
    seas = full_rows.groupBy("event_type", "dow").agg(
        F.avg("detrended").alias("seasonal")
    )
    return (
        full_rows.join(F.broadcast(seas), ["event_type", "dow"])
        .select(
            "event_type",
            "day",
            dround(F.col("y"), 6).alias("y"),
            dround(F.col("trend"), 6).alias("trend"),
            dround(F.col("seasonal"), 6).alias("seasonal"),
            dround(F.col("detrended") - F.col("seasonal"), 6).alias(
                "residual"
            ),
        )
    )


@register("d37_ewma_exact_distributed")  # per-row recursive output: not
# SQL-expressible without per-row recursion; certified by exact
# equivalence tests against the sequential twin instead (weak driver row)
def d37_ewma_exact_distributed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strategy 3 of the EWMA family (see operators/ewma.py): exact
    adjust-form EWMA with no truncation AND no per-series sequential
    bottleneck — the segmented scan. The recurrence is a ratio of two
    linear prefix sums, and a chunk of rows acts on the incoming
    state as an affine map, so chunks compose: one parallel pass
    summarizes each (partition, series) run, the driver folds the
    O(partitions x series) summaries (the only sequential step — over
    chunk COUNT, not rows), and a second parallel pass emits exact
    per-row values. Handles the case the other two strategies cannot:
    a single series larger than one executor's working set (measured:
    one 6M-row series, 9.4 s sequential -> 4.5 s at local[32];
    the gap widens with executor count since the sequential form is
    pinned to one core). Exactness: equivalence-tested to 1e-9
    against the applyInPandas twin across partition counts."""
    from security_master_spark.operators.ewma import ewma_exact_distributed

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "event_type", "value"
    )
    out = ewma_exact_distributed(
        events,
        ["event_type"],
        ["ts", "event_id"],
        "value",
        alpha=0.1,
        num_partitions=16,
    )
    return out.select(
        "event_id",
        "event_type",
        dround(F.col("ewma"), 6).alias("ewma"),
    )


@register(
    "d38_forward_fill_distributed",
    oracle="""
    SELECT event_id, user_id, ts,
           LAST_VALUE(CASE WHEN event_type = 'error' THEN NULL
                           ELSE value END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS value_filled
    FROM events
    """,
)
def d38_forward_fill_distributed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward-fill as a segmented scan (operators/scan.py): the same
    quote-carry-forward semantics as d3, but with NO single-task-per-
    series constraint — chunk summaries ("last non-null seen") compose
    by newest-wins, the driver folds the O(partitions x series) carry
    table, and a second parallel pass fills exactly, including
    leading-null chunks that need the carried state. Unlike the EWMA
    scan, this one IS SQL-expressible, so the driver hash-certifies
    the distributed implementation against LAST_VALUE IGNORE NULLS —
    the strongest form of evidence the segmented-scan machinery
    itself can get."""
    events = load_table(spark, sf_dir, "events")
    gapped = events.select(
        "event_id",
        "user_id",
        "ts",
        F.when(F.col("event_type") == "error", None)
        .otherwise(F.col("value"))
        .alias("value_filled"),
    )
    from security_master_spark.operators.scan import forward_fill_distributed

    return forward_fill_distributed(
        gapped, ["user_id"], ["ts", "event_id"], "value_filled",
        num_partitions=16,
    )


@register(
    "dq2_benford",
    oracle=f"""
    WITH pos AS (
        SELECT event_type, value FROM events WHERE value > 0
    ), digits AS (
        SELECT event_type,
               CAST(FLOOR(value / POWER(10, FLOOR(LOG10(value)))) AS INT)
                   AS d
        FROM pos
    ), counts AS (
        SELECT event_type, d, COUNT(*) AS n FROM digits GROUP BY event_type, d
    ), tot AS (
        SELECT event_type, SUM(n) AS tot FROM counts GROUP BY event_type
    )
    SELECT c.event_type, c.d,
           CAST(c.n AS BIGINT) AS n,
           {sql_dround("CAST(c.n AS DOUBLE) / t.tot", 6)} AS observed,
           {sql_dround("LOG10(1.0 + 1.0 / c.d)", 6)} AS benford,
           {sql_dround(
               "ABS(CAST(c.n AS DOUBLE) / t.tot - LOG10(1.0 + 1.0 / c.d))",
               6)} AS abs_dev
    FROM counts c JOIN tot t ON t.event_type = c.event_type
    """,
)
def dq2_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law screening: leading-digit distribution per series
    vs the log10(1 + 1/d) expectation — the forensic data-quality
    test for fabricated or re-scaled numeric feeds (fixture values
    are ~N(100, 20), so they FAIL Benford conspicuously — the point
    is the measurement, and a price feed spanning decades of
    magnitude should pass). Leading digit extracted arithmetically
    (value / 10^floor(log10 v)) — identical IEEE ops both engines, no
    string round-trip; zero/negative prints excluded on both sides.
    One (type, digit) hash agg + a 9-row-per-type totals broadcast."""
    events = load_table(spark, sf_dir, "events")
    pos = events.filter(F.col("value") > 0)
    d = F.floor(
        F.col("value") / F.pow(F.lit(10.0), F.floor(F.log10("value")))
    ).cast("int")
    counts = pos.select("event_type", d.alias("d")).groupBy(
        "event_type", "d"
    ).agg(F.count("*").alias("n"))
    tot = counts.groupBy("event_type").agg(F.sum("n").alias("tot"))
    obs = F.col("n").cast("double") / F.col("tot")
    ben = F.log10(1.0 + 1.0 / F.col("d"))
    return counts.join(F.broadcast(tot), "event_type").select(
        "event_type",
        "d",
        F.col("n").cast("bigint").alias("n"),
        dround(obs, 6).alias("observed"),
        dround(ben, 6).alias("benford"),
        dround(F.abs(obs - ben), 6).alias("abs_dev"),
    )

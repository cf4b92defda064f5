"""Round-4 securities-master candidates (SURVEY.md §2.11): VWAP,
Bollinger bands, MACD, and rolling beta vs the market composite.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from security_master_spark.datasets import load_table
from security_master_spark.functions.rounding import dround, sql_dround
from security_master_spark.plans.registry import register


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

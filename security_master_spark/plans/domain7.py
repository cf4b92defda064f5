"""Round-5 securities-master candidates (SURVEY.md §2.11): stochastic
oscillator, average true range, on-balance volume, and return
autocorrelation — the remaining classic technical/diagnostic family.

All four collapse the tick scan to O(types x days) daily bars in one
hash aggregate first (the d25 discipline), so every window after the
first Exchange runs on a tiny frame — the shape that survives 100 TB.
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

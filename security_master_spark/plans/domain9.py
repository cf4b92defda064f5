"""Round-5 securities-master domain candidates, batch 5 (SURVEY.md
§2.11): downside-risk-adjusted performance (Sortino / Calmar) and
Amihud illiquidity — the risk-report columns next to d33's Sharpe and
d15's drawdown.
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


@register(
    "d42_sortino_calmar",
    oracle=f"""
    WITH daily AS (
        SELECT event_type, CAST(DATE_TRUNC('day', ts) AS TIMESTAMP) AS d,
               ARG_MAX(value, {sql_tick_order_key()}) AS close
        FROM events GROUP BY 1, 2
    ), ret AS (
        SELECT event_type,
               close / NULLIF(LAG(close) OVER (
                   PARTITION BY event_type ORDER BY d), 0) - 1.0 AS r
        FROM daily
    ), downside AS (
        SELECT event_type,
               CAST(COUNT(r) AS BIGINT) AS n_days,
               AVG(r) AS mean_ret,
               SQRT(AVG(POW(LEAST(r, 0), 2))) AS dd
        FROM ret GROUP BY event_type
    ), eq AS (
        SELECT event_type, ts, event_id,
               SUM(value) OVER (
                   PARTITION BY event_type ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS equity
        FROM events
    ), gaps AS (
        SELECT event_type,
               MAX(equity) OVER (
                   PARTITION BY event_type ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) - equity AS gap,
               LAST_VALUE(equity) OVER (
                   PARTITION BY event_type ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING
                        AND UNBOUNDED FOLLOWING
               ) AS final_eq
        FROM eq
    ), mdd AS (
        SELECT event_type, MAX(gap) AS max_dd, MAX(final_eq) AS total_pnl
        FROM gaps GROUP BY event_type
    )
    SELECT d.event_type,
           d.n_days,
           {sql_dround("d.mean_ret", 8)} AS mean_ret,
           {sql_dround("d.dd", 8)} AS downside_dev,
           {sql_dround("d.mean_ret / NULLIF(d.dd, 0)", 6)} AS sortino,
           {sql_dround("m.max_dd", 4)} AS max_dd,
           {sql_dround("m.total_pnl / NULLIF(m.max_dd, 0)", 6)} AS calmar
    FROM downside d JOIN mdd m ON m.event_type = d.event_type
    """,
)
def d42_sortino_calmar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Downside-risk-adjusted performance per event type: Sortino
    ratio (mean daily return over the downside deviation — the
    root-mean-square of NEGATIVE returns only, zero-floored so calm
    days don't dilute the penalty) and Calmar ratio (total PnL over
    the maximum drawdown of the tick-level cumulative-PnL curve).

    Two branches over one events scan, each collapse-first: the
    Sortino branch is the d6 daily-bar aggregate (O(types×days) rows
    after one hash agg) with a lag window; the Calmar branch is the
    d15 running-peak stack (cumsum → cummax → max gap) whose single
    per-type sort carries all three window passes. The branches join
    on the tiny type key. NULLIF guards divide-by-zero on flat series
    identically in both engines (try-divide semantics, no ANSI
    throw)."""
    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("d")
    ).agg(F.max_by("value", tick_order_key()).alias("close"))
    w_lag = Window.partitionBy("event_type").orderBy("d")
    ret = daily.select(
        "event_type",
        (
            F.try_divide(
                F.col("close"),
                F.nullif(F.lag("close").over(w_lag), F.lit(0.0)),
            )
            - 1.0
        ).alias("r"),
    )
    downside = ret.groupBy("event_type").agg(
        F.count("r").cast("bigint").alias("n_days"),
        F.avg("r").alias("mean_ret"),
        F.sqrt(F.avg(F.pow(F.least(F.col("r"), F.lit(0.0)), 2))).alias("dd"),
    )
    w_run = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    eq = events.select(
        "event_type", F.sum("value").over(w_run).alias("equity"), "ts", "event_id"
    )
    # The peak window re-sorts on the SAME (ts, event_id) order, so the
    # executed plan reuses one sort per type partition.
    w_peak = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_final = Window.partitionBy("event_type").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    mdd = (
        eq.select(
            "event_type",
            (F.max("equity").over(w_peak) - F.col("equity")).alias("gap"),
            F.last("equity").over(w_final).alias("final_eq"),
        )
        .groupBy("event_type")
        .agg(
            F.max("gap").alias("max_dd"),
            F.max("final_eq").alias("total_pnl"),
        )
    )
    return downside.join(mdd, "event_type").select(
        "event_type",
        "n_days",
        dround(F.col("mean_ret"), 8).alias("mean_ret"),
        dround(F.col("dd"), 8).alias("downside_dev"),
        dround(
            F.try_divide(F.col("mean_ret"), F.nullif(F.col("dd"), F.lit(0.0))),
            6,
        ).alias("sortino"),
        dround(F.col("max_dd"), 4).alias("max_dd"),
        dround(
            F.try_divide(
                F.col("total_pnl"), F.nullif(F.col("max_dd"), F.lit(0.0))
            ),
            6,
        ).alias("calmar"),
    )


@register(
    "d43_amihud_illiquidity",
    oracle=f"""
    WITH daily AS (
        SELECT event_type, CAST(DATE_TRUNC('day', ts) AS TIMESTAMP) AS d,
               ARG_MAX(value, {sql_tick_order_key()}) AS close,
               SUM(ABS(value)) AS notional
        FROM events GROUP BY 1, 2
    ), ret AS (
        SELECT event_type, d, notional,
               close / NULLIF(LAG(close) OVER (
                   PARTITION BY event_type ORDER BY d), 0) - 1.0 AS r
        FROM daily
    )
    SELECT event_type,
           CAST(COUNT(r) AS BIGINT) AS n_days,
           {sql_dround(
               "AVG(ABS(r) / NULLIF(notional, 0)) * CAST(1000000 AS DOUBLE)",
               8,
           )} AS amihud_x1m,
           {sql_dround("AVG(notional)", 4)} AS avg_notional
    FROM ret
    GROUP BY event_type
    """,
)
def d43_amihud_illiquidity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Amihud illiquidity per event type: the mean of |daily return| /
    daily notional (×10⁶ for the conventional scale) — the standard
    price-impact-per-dollar-traded proxy — plus average daily
    notional. One daily-bar hash aggregate (close AND notional in the
    same pass), one lag window over the O(types×days) collapsed
    table; nothing after the first aggregate touches tick data."""
    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("d")
    ).agg(
        F.max_by("value", tick_order_key()).alias("close"),
        F.sum(F.abs(F.col("value"))).alias("notional"),
    )
    w_lag = Window.partitionBy("event_type").orderBy("d")
    ret = daily.select(
        "event_type",
        "notional",
        (
            F.try_divide(
                F.col("close"),
                F.nullif(F.lag("close").over(w_lag), F.lit(0.0)),
            )
            - 1.0
        ).alias("r"),
    )
    return ret.groupBy("event_type").agg(
        F.count("r").cast("bigint").alias("n_days"),
        dround(
            F.avg(
                F.try_divide(
                    F.abs(F.col("r")), F.nullif(F.col("notional"), F.lit(0.0))
                )
            )
            * F.lit(1000000.0),
            8,
        ).alias("amihud_x1m"),
        dround(F.avg("notional"), 4).alias("avg_notional"),
    )


@register(
    "d44_pair_spread_zscore",
    oracle=f"""
    WITH daily AS (
        SELECT event_type, CAST(DATE_TRUNC('day', ts) AS TIMESTAMP) AS d,
               ARG_MAX(value, {sql_tick_order_key()}) AS close
        FROM events
        WHERE event_type IN ('view', 'click')
        GROUP BY 1, 2
    ), spread AS (
        SELECT a.d,
               a.close / NULLIF(b.close, 0) AS ratio
        FROM daily a JOIN daily b ON b.d = a.d
        WHERE a.event_type = 'view' AND b.event_type = 'click'
    )
    SELECT d,
           {sql_dround("ratio", 8)} AS ratio,
           {sql_dround(
               "(ratio - AVG(ratio) OVER w)"
               " / NULLIF(STDDEV_SAMP(ratio) OVER w, 0)",
               6,
           )} AS zscore
    FROM spread
    WINDOW w AS (ORDER BY d ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
    """,
)
def d44_pair_spread_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairs-trading spread monitor: the daily close RATIO between two
    series (view/click stand in for the cointegrated pair) and its
    20-day rolling z-score — |z| > 2 is the classic mean-reversion
    entry signal. One daily-bar hash aggregate feeds a self-join on
    the day key (both sides are the same O(days) collapsed frame) and
    a single ordered window; nothing after the first aggregate
    touches tick data. NULLIF guards flat/zero closes identically on
    both engines."""
    events = load_table(spark, sf_dir, "events")
    daily = (
        events.filter(F.col("event_type").isin("view", "click"))
        .groupBy("event_type", F.date_trunc("day", F.col("ts")).alias("d"))
        .agg(F.max_by("value", tick_order_key()).alias("close"))
    )
    a = daily.filter(F.col("event_type") == "view").select(
        "d", F.col("close").alias("ca")
    )
    b = daily.filter(F.col("event_type") == "click").select(
        "d", F.col("close").alias("cb")
    )
    spread = a.join(b, "d").select(
        "d",
        F.try_divide(F.col("ca"), F.nullif(F.col("cb"), F.lit(0.0))).alias(
            "ratio"
        ),
    )
    w = Window.orderBy("d").rowsBetween(-19, 0)
    return spread.select(
        "d",
        dround(F.col("ratio"), 8).alias("ratio"),
        dround(
            F.try_divide(
                F.col("ratio") - F.avg("ratio").over(w),
                F.nullif(F.stddev_samp("ratio").over(w), F.lit(0.0)),
            ),
            6,
        ).alias("zscore"),
    )


@register(
    "d45_time_to_convert",
    oracle=f"""
    WITH fv AS (
        SELECT user_id, MIN(ts) AS v FROM events
        WHERE event_type = 'view' GROUP BY user_id
    ), fp AS (
        SELECT e.user_id, MIN(e.ts) AS p
        FROM events e JOIN fv ON fv.user_id = e.user_id AND e.ts > fv.v
        WHERE e.event_type = 'purchase'
        GROUP BY e.user_id
    ), lat AS (
        SELECT fv.user_id,
               CAST(EPOCH(fp.p) - EPOCH(fv.v) AS DOUBLE) AS secs
        FROM fv JOIN fp ON fp.user_id = fv.user_id
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_converted,
           {sql_dround("QUANTILE_CONT(secs, 0.5)", 4)} AS median_secs,
           {sql_dround("QUANTILE_CONT(secs, 0.9)", 4)} AS p90_secs,
           {sql_dround("AVG(secs)", 4)} AS mean_secs
    FROM lat
    """,
)
def d45_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion-latency distribution: per user, seconds from FIRST
    view to the first strictly-later purchase (the d41 funnel's
    chaining discipline), summarized as exact median/p90/mean — the
    latency SLA panel next to d41's conversion-rate panel. Two
    per-user MIN aggregates and the latency join all shuffle on the
    same user_id key (exchange-aligned); the percentile runs over the
    O(converted users) collapsed frame using the a10-proven
    percentile == QUANTILE_CONT pairing, with epoch-seconds arithmetic
    (UNIX_TIMESTAMP ↔ EPOCH) agreed on both engines."""
    ev = load_table(spark, sf_dir, "events")
    fv = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("v"))
    )
    fp = (
        ev.filter(F.col("event_type") == "purchase")
        .join(fv, "user_id")
        .filter(F.col("ts") > F.col("v"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("p"))
    )
    # CAST(ts AS DOUBLE) keeps fractional seconds (micros) — the
    # whole-second unix_timestamp() truncation visibly shifts the
    # percentiles (caught by the sf0.01 hash gate).
    lat = fv.join(fp, "user_id").select(
        (F.col("p").cast("double") - F.col("v").cast("double")).alias("secs")
    )
    return lat.agg(
        F.count("*").cast("bigint").alias("n_converted"),
        dround(F.percentile("secs", 0.5), 4).alias("median_secs"),
        dround(F.percentile("secs", 0.9), 4).alias("p90_secs"),
        dround(F.avg("secs"), 4).alias("mean_secs"),
    )


@register(
    "d46_isin_validation",
    oracle="""
    WITH ids AS (
        SELECT s_suppkey,
               LPAD(CAST(s_suppkey AS VARCHAR), 7, '0') AS body,
               s_suppkey % 7 = 0 AS corrupt,
               CAST(FLOOR(s_suppkey / 1000000) % 10 AS BIGINT) AS d1,
               CAST(FLOOR(s_suppkey / 100000) % 10 AS BIGINT) AS d2,
               CAST(FLOOR(s_suppkey / 10000) % 10 AS BIGINT) AS d3,
               CAST(FLOOR(s_suppkey / 1000) % 10 AS BIGINT) AS d4,
               CAST(FLOOR(s_suppkey / 100) % 10 AS BIGINT) AS d5,
               CAST(FLOOR(s_suppkey / 10) % 10 AS BIGINT) AS d6,
               s_suppkey % 10 AS d7
        FROM supplier
    ), checked AS (
        -- Closed-form ISO 6166 Luhn for the FIXED template
        -- 'US' 'SM' ddddddd: expansion '30282822' + d1..d7 (15 digits),
        -- doubled positions contribute ds(d) = 2d if d<5 else 2d-9;
        -- the fixed prefix contributes the constant 36.
        SELECT s_suppkey, body, corrupt, d7,
               (10 - (36
                      + CASE WHEN d1 < 5 THEN 2*d1 ELSE 2*d1 - 9 END
                      + d2
                      + CASE WHEN d3 < 5 THEN 2*d3 ELSE 2*d3 - 9 END
                      + d4
                      + CASE WHEN d5 < 5 THEN 2*d5 ELSE 2*d5 - 9 END
                      + d6
                      + CASE WHEN d7 < 5 THEN 2*d7 ELSE 2*d7 - 9 END
                     ) % 10) % 10 AS check_digit
        FROM ids
    )
    SELECT s_suppkey,
           'USSM'
               || CASE WHEN corrupt
                       THEN SUBSTR(body, 1, 6)
                            || CAST((d7 + 1) % 10 AS VARCHAR)
                       ELSE body END
               || CAST(check_digit AS VARCHAR) AS isin,
           NOT corrupt AS is_valid
    FROM checked
    """,
)
def d46_isin_validation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ISIN check-digit validation (ISO 6166) — the identity layer of
    a securities master; every inbound instrument feed runs this
    screen. Synthetic ISINs are minted from supplier keys on the fixed
    template US + SM + 7 digits, a deterministic 1-in-7 subset gets a
    digit corrupted AFTER the check digit is computed, and the GENERIC
    expression-level Luhn validator (functions/identifiers.py —
    base-36 expansion + transform/aggregate fold, validated against
    real-world ISINs in tests) must flag exactly the corrupted ones.
    The oracle derives validity from an INDEPENDENT closed-form Luhn
    specialized to the template, so the generic fold is cross-checked
    digit-by-digit, not self-certified. All JVM expressions in the
    scan projection — zero shuffles, zero Python."""
    from security_master_spark.functions.identifiers import (
        isin_check_digit,
        isin_is_valid,
    )

    supp = load_table(spark, sf_dir, "supplier")
    s = F.col("s_suppkey")
    body = F.lpad(s.cast("string"), 7, "0")
    corrupt = s % 7 == 0
    d7 = (s % 10).cast("int")
    check = isin_check_digit(F.concat(F.lit("USSM"), body))
    body_out = F.when(
        corrupt,
        F.concat(F.substring(body, 1, 6), ((d7 + 1) % 10).cast("string")),
    ).otherwise(body)
    isin = F.concat(
        F.lit("USSM"), body_out, check.cast("string")
    )
    return supp.select(
        "s_suppkey",
        isin.alias("isin"),
        isin_is_valid(isin).alias("is_valid"),
    )

"""Securities-master tick and calendar operators (SURVEY.md §2.11) over
the events series: as-of and interval joins, forward-fill, bars and
OHLC, sessions, interpolation, calendar alignment and the
microstructure estimators (volume bars, Kyle's lambda, tick-rule
imbalance, volume profile, sign autocorrelation).

The orders/lineitem 1990s dates are disjoint from events' 2024 range
(FIXTURES.md), so point-in-time joins are events-to-events: 'purchase'
rows play the fact quotes, 'view'/'signup' rows play the reference
series.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from security_master_spark.datasets import load_table
from security_master_spark.functions.rounding import dround, sql_dround
from security_master_spark.operators.asof import asof_join, asof_join_bucketed
from security_master_spark.operators.intervals import interval_join
from security_master_spark.operators.sessionize import session_stats
from security_master_spark.operators.timeseries import (
    forward_fill,
    latest_per_key,
    ohlc,
)
from security_master_spark.plans.registry import register


@register(
    "d1_asof_join",
    oracle="""
    SELECT p.event_id, p.user_id, p.ts, p.value, v.view_ts, v.view_value
    FROM (SELECT event_id, user_id, ts, value FROM events
          WHERE event_type = 'purchase') p
    JOIN (SELECT user_id, ts AS view_ts, value AS view_value
          FROM events WHERE event_type = 'view') v
      ON p.user_id = v.user_id AND v.view_ts <= p.ts
    QUALIFY row_number() OVER (
        PARTITION BY p.event_id
        ORDER BY v.view_ts DESC, v.view_value DESC
    ) = 1
    """,
)
def d1_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time lookup: for each purchase, the latest prior (or
    simultaneous) view by the same user — the securities-master 'price
    as of date' pattern. Cites SURVEY.md §2.3 (recipe verified exact vs
    DuckDB; until round 9 the oracle was DuckDB's native ASOF JOIN,
    which is hash-equal on tie-free data but leaves duplicate
    (user, view_ts) rows ENGINE-ARBITRARY — the adversarial fixture
    has them, so both sides now pin the tie with view_value DESC; the
    window spelling is the only way DuckDB can express that)."""
    events = load_table(spark, sf_dir, "events")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    views = events.filter(F.col("event_type") == "view").select(
        "user_id",
        F.col("ts").alias("view_ts"),
        F.col("value").alias("view_value"),
    )
    return asof_join(
        purchases,
        views,
        on=["user_id"],
        left_ts="ts",
        right_ts="view_ts",
        tiebreak=[F.col("view_value").desc()],
    )


@register(
    "d2_interval_join",
    oracle="""
    WITH intervals AS (
        SELECT user_id, ts AS valid_from,
               COALESCE(LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts),
                        TIMESTAMP '2100-01-01 00:00:00') AS valid_to,
               value AS session_value
        FROM events WHERE event_type = 'signup'
    )
    SELECT e.event_id, e.user_id, e.ts,
           i.valid_from, i.valid_to, i.session_value
    FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click') e
    JOIN intervals i
      ON e.user_id = i.user_id
     AND i.valid_from <= e.ts AND e.ts < i.valid_to
    """,
)
def d2_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Validity-interval (symbol-mapping) join: signup events define
    per-user validity windows [ts, next_ts); clicks map to the window
    containing them. Equi-key hash join + range residual — never a
    nested loop."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts")
    intervals = (
        events.filter(F.col("event_type") == "signup")
        .select(
            "user_id",
            F.col("ts").alias("valid_from"),
            F.coalesce(
                F.lead("ts").over(w),
                F.lit("2100-01-01 00:00:00").cast("timestamp"),
            ).alias("valid_to"),
            F.col("value").alias("session_value"),
        )
    )
    clicks = events.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    return interval_join(
        clicks,
        intervals,
        on=["user_id"],
        ts="ts",
        valid_from="valid_from",
        valid_to="valid_to",
    ).select(
        "event_id", "user_id", "ts", "valid_from", "valid_to", "session_value"
    )


@register(
    "d3_forward_fill",
    oracle="""
    SELECT event_id, user_id, ts,
           LAST_VALUE(value_gapped IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS value_filled
    FROM (
        SELECT event_id, user_id, ts,
               CASE WHEN event_type = 'error' THEN NULL ELSE value END AS value_gapped
        FROM events
    )
    """,
)
def d3_forward_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quote carry-forward: error events have no valid quote (NULL);
    carry the last observed value per user. last(ignorenulls) over a
    running frame == LAST_VALUE IGNORE NULLS."""
    events = load_table(spark, sf_dir, "events")
    gapped = events.select(
        "event_id",
        "user_id",
        "ts",
        F.when(F.col("event_type") == "error", None)
        .otherwise(F.col("value"))
        .alias("value_gapped"),
    )
    filled = forward_fill(
        gapped, keys=["user_id"], ts="ts", cols=["value_gapped"]
    )
    # forward_fill orders by ts only; event_id tiebreak for exactness:
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return gapped.select(
        "event_id",
        "user_id",
        "ts",
        F.last("value_gapped", ignorenulls=True).over(w).alias("value_filled"),
    )


@register(
    "d4_adjustment_factor",
    oracle=f"""
    SELECT user_id, ts, event_id,
           {sql_dround("SUM(LN(1.0 + value / 1000.0)) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)", 4)} AS cum_log_factor
    FROM events
    WHERE event_type = 'purchase'
    """,
)
def d4_adjustment_factor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corporate-action style cumulative adjustment: running product of
    per-event factors (1 + value/1000) per user in time order, carried
    in LOG space — a built-in windowed agg, no UDF. SURVEY.md §2.11.

    Log space is the scale contract, not a convenience: a linear
    running product of thousands of factors overflows double (the
    adversarial skew fixture drives one user's product past 1e8 within
    days, where a single exp/ln libm ulp exceeds the rounding quantum
    and ultimately the product hits inf). The additive log form stays
    in a few-thousand magnitude band at any history length; consumers
    exp() a bounded SLICE (factor between two dates = exp(diff of two
    cum logs)), never the unbounded prefix."""
    events = load_table(spark, sf_dir, "events")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id", (1.0 + F.col("value") / 1000.0).alias("factor")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return purchases.select(
        "user_id",
        "ts",
        "event_id",
        dround(F.sum(F.log("factor")).over(w), 4).alias("cum_log_factor"),
    )


@register(
    "d5_daily_ohlc",
    oracle=f"""
    WITH ranked AS (
        SELECT user_id, CAST(DATE_TRUNC('day', ts) AS TIMESTAMP) AS bucket,
               value,
               ROW_NUMBER() OVER (
                   PARTITION BY user_id, DATE_TRUNC('day', ts)
                   ORDER BY ts ASC, event_id ASC) AS rn_open,
               ROW_NUMBER() OVER (
                   PARTITION BY user_id, DATE_TRUNC('day', ts)
                   ORDER BY ts DESC, event_id DESC) AS rn_close
        FROM events
    )
    SELECT user_id, bucket,
           MAX(CASE WHEN rn_open = 1 THEN value END)  AS open,
           MAX(value)                                 AS high,
           MIN(value)                                 AS low,
           MAX(CASE WHEN rn_close = 1 THEN value END) AS close,
           COUNT(*)                                   AS n_obs
    FROM ranked
    GROUP BY user_id, bucket
    """,
)
def d5_daily_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resample to daily OHLC bars per user: single-pass min_by/max_by
    (no self-joins), the canonical EOD-bar construction. Open/close
    break same-instant ties on event_id (the ohlc operator's struct
    ordering key) — real feeds DO carry same-instant prints, and the
    adversarial tie fixture showed arg-by-timestamp alone is
    engine-arbitrary there."""
    events = load_table(spark, sf_dir, "events")
    return ohlc(
        events, keys=["user_id"], ts="ts", price="value", every="day",
        tiebreak="event_id",
    )


@register(
    "d6_returns_rolling_vol",
    oracle=f"""
    WITH daily AS (
        -- close = last print of the day, event_id breaks same-instant
        -- ties (ARG_MAX(value, ts) alone is engine-arbitrary on them)
        SELECT user_id, d, value AS close FROM (
            SELECT user_id,
                   CAST(DATE_TRUNC('day', ts) AS TIMESTAMP) AS d, value,
                   ROW_NUMBER() OVER (
                       PARTITION BY user_id, DATE_TRUNC('day', ts)
                       ORDER BY ts DESC, event_id DESC) AS rn
            FROM events)
        WHERE rn = 1
    ), ret AS (
        SELECT user_id, d, close,
               close / LAG(close) OVER (PARTITION BY user_id ORDER BY d) - 1.0 AS ret
        FROM daily
    )
    SELECT user_id, d, {sql_dround("close", 4)} AS close,
           {sql_dround("ret", 6)} AS ret,
           {sql_dround("STDDEV_SAMP(ret) OVER (PARTITION BY user_id ORDER BY d ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)", 6)} AS vol5
    FROM ret
    """,
)
def d6_returns_rolling_vol(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily close → simple returns → 5-bar rolling volatility. The
    lag/stddev window stack every quant pipeline runs."""
    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(
        "user_id", F.date_trunc("day", F.col("ts")).alias("d")
    ).agg(
        F.max_by("value", F.struct("ts", "event_id")).alias("close")
    )
    w = Window.partitionBy("user_id").orderBy("d")
    ret = daily.withColumn(
        # try_divide: a zero prior close yields NULL, matching DuckDB's
        # x/0 → NULL — ANSI `/` would instead throw, and zero closes
        # do occur from sf0.1 up (column pruning hides this from
        # count()-only checks, so keep the full-collect sim honest).
        "ret", F.try_divide(F.col("close"), F.lag("close").over(w)) - 1.0
    )
    wv = w.rowsBetween(-4, 0)
    return ret.select(
        "user_id",
        "d",
        dround(F.col("close"), 4).alias("close"),
        dround(F.col("ret"), 6).alias("ret"),
        dround(F.stddev_samp("ret").over(wv), 6).alias("vol5"),
    )


@register(
    "d7_scd_latest",
    oracle="""
    SELECT user_id, event_id, ts, event_type, value
    FROM (
        SELECT user_id, event_id, ts, event_type, value,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
    ) WHERE rn = 1
    """,
)
def d7_scd_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD 'current record': newest event per user — the upsert-view
    over an append-only log (reference pattern: latest vendor record
    per symbol)."""
    events = load_table(spark, sf_dir, "events")
    return latest_per_key(
        events.select("user_id", "event_id", "ts", "event_type", "value"),
        keys=["user_id"],
        order=[F.desc("ts"), F.desc("event_id")],
    )


@register(
    "d8_sessionize",
    oracle="""
    WITH flagged AS (
        SELECT user_id, ts,
               CASE WHEN LAG(ts) OVER w IS NULL
                         OR EPOCH(ts) - EPOCH(LAG(ts) OVER w) > 1800
                    THEN 1 ELSE 0 END AS is_new
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), sessions AS (
        SELECT user_id, ts,
               CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        FROM flagged
    )
    SELECT user_id, session_id,
           MIN(ts) AS session_start,
           MAX(ts) AS session_end,
           COUNT(*) AS n_events,
           EPOCH(MAX(ts)) - EPOCH(MIN(ts)) AS span_sec
    FROM sessions
    GROUP BY user_id, session_id
    """,
)
def d8_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30 min) via the lag/cumsum recipe;
    the native session_window twin is cross-checked in tests
    (SURVEY.md §2.10: both yielded identical session counts)."""
    events = load_table(spark, sf_dir, "events")
    return session_stats(events, keys=["user_id"], ts="ts", gap_seconds=1800)


@register(
    "d9_eod_pipeline",
    oracle=f"""
    WITH prices AS (
        SELECT p.p_partkey AS symbol_id,
               t.day AS day,
               {sql_dround("p.p_retailprice * (1 + t.day / CAST(100 AS DOUBLE))", 6)}
                   AS close
        FROM part p, UNNEST(generate_series(1, 5)) AS t(day)
        WHERE p.p_partkey <= 300
    ), with_ret AS (
        SELECT symbol_id, day, close,
               close / LAG(close) OVER (PARTITION BY symbol_id ORDER BY day) - 1
                   AS ret
        FROM prices
    )
    SELECT symbol_id, day, close,
           {sql_dround("COALESCE(ret, 0)", 8)} AS ret,
           {sql_dround(
               "EXP(SUM(LN(1 + COALESCE(ret, 0))) OVER "
               "(PARTITION BY symbol_id ORDER BY day "
               "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))", 6)}
               AS growth_factor
    FROM with_ret
    """,
)
def d9_eod_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end securities EOD pipeline — the reference's whole job in
    one plan: ingest a (stubbed, deterministic) vendor price feed →
    per-symbol daily returns (lag) → cumulative growth factor via the
    exp·sum·log window product (the corporate-action adjustment
    machinery of d4 applied to returns). Every stage is a window or
    projection over the (symbol, day) partitioning — one shuffle total."""
    from pyspark.sql import Window

    part = load_table(spark, sf_dir, "part").filter(F.col("p_partkey") <= 300)
    days = F.explode(F.sequence(F.lit(1), F.lit(5))).alias("day")
    prices = part.select(
        F.col("p_partkey").alias("symbol_id"), F.col("p_retailprice"), days
    ).select(
        "symbol_id",
        F.col("day").cast("long").alias("day"),
        dround(
            F.col("p_retailprice") * (1 + F.col("day") / F.lit(100.0)), 6
        ).alias("close"),
    )
    w = Window.partitionBy("symbol_id").orderBy("day")
    cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    with_ret = prices.withColumn(
        "ret",
        F.coalesce(
            F.try_divide(F.col("close"), F.lag("close").over(w)) - 1, F.lit(0.0)
        ),
    )
    return with_ret.select(
        "symbol_id",
        "day",
        "close",
        dround(F.col("ret"), 8).alias("ret"),
        dround(F.exp(F.sum(F.log(1 + F.col("ret"))).over(cum)), 6).alias(
            "growth_factor"
        ),
    )


@register(
    "d11_skew_safe_rollup",
    oracle="""
    SELECT c_mktsegment,
           COUNT(*) AS n_orders,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_checksum,
           MIN(o_totalprice) AS min_price
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
)
def d11_skew_safe_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-mitigated join + aggregation, value-identical to the plain
    forms (salt changes placement, never matching): the fact side joins
    through ``salted_join`` (dim replicated per salt value, hot keys
    spread over salt tasks) and the rollup runs through ``skewed_agg``
    (partial on (key, salt), final on key). Aggregates chosen
    order-independent-exact (count, integer sum, min/max) so the salted
    re-association cannot drift a float sum; the oracle is the plain
    SQL join + GROUP BY."""
    from security_master_spark.operators.skew import salted_join, skewed_agg

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    customer = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    joined = salted_join(
        orders,
        customer.withColumnRenamed("c_custkey", "o_custkey"),
        on=["o_custkey"],
        salt=8,
    )
    agg = skewed_agg(
        joined,
        keys=["c_mktsegment"],
        aggs={"o_orderkey": "sum", "o_custkey": "count",
              "o_totalprice": "min"},
        salt=8,
    )
    return agg.select(
        "c_mktsegment",
        F.col("count_o_custkey").alias("n_orders"),
        F.col("sum_o_orderkey").alias("key_checksum"),
        F.col("min_o_totalprice").alias("min_price"),
    )


@register(
    "d10_calendar_align",
    oracle=f"""
    WITH cal AS (
        SELECT CAST(d.d AS TIMESTAMP) AS day
        FROM UNNEST(generate_series(TIMESTAMP '2024-01-01',
                                    TIMESTAMP '2024-01-30',
                                    INTERVAL 1 DAY)) AS d(d)
    ), daily AS (
        SELECT DATE_TRUNC('day', ts) AS day,
               COUNT(*) AS n_events,
               {sql_dround("SUM(value)", 4)} AS total_value
        FROM events
        WHERE event_type = 'purchase'
        GROUP BY 1
    )
    SELECT cal.day,
           COALESCE(daily.n_events, 0) AS n_events,
           COALESCE(daily.total_value,
                    LAST_VALUE(daily.total_value IGNORE NULLS)
                        OVER (ORDER BY cal.day ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW)) AS total_value
    FROM cal LEFT JOIN daily ON cal.day = daily.day
    """,
)
def d10_calendar_align(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trading-calendar alignment: a generated complete calendar dim
    left-joined against observed daily aggregates — missing sessions
    get count 0 and a forward-filled value (the quote-carry rule).
    The calendar is a broadcastable generated dim; at scale the join
    partitions by date like any fact⋈date-dim."""
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events")
    cal = spark.range(1).select(
        F.explode(
            F.sequence(
                F.lit("2024-01-01").cast("timestamp"),
                F.lit("2024-01-30").cast("timestamp"),
                F.expr("INTERVAL 1 DAY"),
            )
        ).alias("day")
    )
    daily = (
        events.filter(F.col("event_type") == "purchase")
        .groupBy(F.date_trunc("day", "ts").alias("day"))
        .agg(
            F.count("*").alias("n_events"),
            dround(F.sum("value"), 4).alias("total_value"),
        )
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    joined = cal.join(daily, "day", "left")
    return joined.select(
        "day",
        F.coalesce("n_events", F.lit(0)).alias("n_events"),
        F.coalesce(
            "total_value", F.last("total_value", ignorenulls=True).over(w)
        ).alias("total_value"),
    )


@register(
    "d12_twap",
    oracle=f"""
    WITH seg AS (
        SELECT event_type,
               CAST(DATE_TRUNC('day', ts) AS TIMESTAMP) AS day,
               value,
               EPOCH(LEAD(ts) OVER (PARTITION BY event_type ORDER BY ts, event_id))
                   - EPOCH(ts) AS dur
        FROM events
    )
    SELECT event_type, day,
           {sql_dround("SUM(value * dur) / SUM(dur)", 6)} AS twap
    FROM seg
    WHERE dur IS NOT NULL
    GROUP BY event_type, day
    HAVING SUM(dur) > 0
    """,
)
def d12_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average price per (event_type, day): each
    observation is weighted by how long it was the prevailing value
    (until the next event in the same series). One window pass for the
    durations (lead), one shuffle for the rollup — the standard
    TWAP/VWAP shape. Segments belong to the day they start in; the last
    observation of a series has no duration and is excluded on both
    sides."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    seg = events.select(
        "event_type",
        F.date_trunc("day", "ts").alias("day"),
        "value",
        (
            F.lead("ts").over(w).cast("double") - F.col("ts").cast("double")
        ).alias("dur"),
    ).filter(F.col("dur").isNotNull())
    return (
        seg.groupBy("event_type", "day")
        .agg(
            dround(
                F.try_divide(F.sum(F.col("value") * F.col("dur")), F.sum("dur")), 6
            ).alias("twap"),
            F.sum("dur").alias("__total_dur"),
        )
        .filter(F.col("__total_dur") > 0)
        .drop("__total_dur")
    )


_BUCKET_SECONDS = 7 * 86400


@register(
    "d13_asof_bucketed",
    oracle=f"""
    WITH p AS (
        SELECT event_id, user_id, ts, value FROM events
        WHERE event_type = 'purchase'
    ), v AS (
        SELECT user_id, ts AS view_ts, value AS view_value FROM events
        WHERE event_type = 'view'
    )
    SELECT p.event_id, p.user_id, p.ts, p.value, v.view_ts, v.view_value
    FROM p JOIN v
      ON p.user_id = v.user_id
     AND v.view_ts <= p.ts
     AND EPOCH(v.view_ts) >=
         (FLOOR(EPOCH(p.ts) / {_BUCKET_SECONDS}) - 1) * {_BUCKET_SECONDS}
    QUALIFY row_number() OVER (
        PARTITION BY p.event_id
        ORDER BY v.view_ts DESC, v.view_value DESC
    ) = 1
    """,
)
def d13_asof_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The bucketed as-of join (operators/asof.py:asof_join_bucketed) on
    the d1 fixture slices, 7-day buckets: for each purchase, the latest
    prior view by the same user *no older than the preceding time
    bucket*. The bucket id joins the shuffle key, so a 100 TB as-of
    co-locates by (key, time-range) and bounds per-task fan-out to ~2
    buckets of right rows (see the crossover table in operators/asof.py).
    The oracle states the bucket restriction explicitly — matches the
    operator's semantics, not just its fixture output."""
    events = load_table(spark, sf_dir, "events")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    views = events.filter(F.col("event_type") == "view").select(
        "user_id",
        F.col("ts").alias("view_ts"),
        F.col("value").alias("view_value"),
    )
    return asof_join_bucketed(
        purchases,
        views,
        on=["user_id"],
        left_ts="ts",
        right_ts="view_ts",
        bucket_seconds=_BUCKET_SECONDS,
        # same duplicate-(user, ts) pin as d1: without it the pick
        # among same-instant views is engine/partition-arbitrary
        tiebreak=[F.col("view_value").desc()],
    ).select("event_id", "user_id", "ts", "value", "view_ts", "view_value")


@register(
    "d14_linear_interpolation",
    oracle=f"""
    WITH gapped AS (
        SELECT event_id, user_id, ts,
               CASE WHEN event_type = 'error' THEN NULL ELSE value END AS v
        FROM events
    ), ctx AS (
        SELECT event_id, user_id, ts, v,
               LAST_VALUE(v IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ) AS pv,
               LAST_VALUE(CASE WHEN v IS NOT NULL THEN ts END IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ) AS pts,
               FIRST_VALUE(v IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING
               ) AS nv,
               FIRST_VALUE(CASE WHEN v IS NOT NULL THEN ts END IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING
               ) AS nts
        FROM gapped
    )
    SELECT event_id, user_id, ts,
           {sql_dround(
               "CASE WHEN v IS NOT NULL THEN v "
               "WHEN pv IS NULL THEN nv "
               "WHEN nv IS NULL THEN pv "
               "ELSE pv + (nv - pv) * (EPOCH(ts) - EPOCH(pts)) "
               "/ (EPOCH(nts) - EPOCH(pts)) END",
               6,
           )} AS value_interp
    FROM ctx
    """,
)
def d14_linear_interpolation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap repair by linear interpolation: error events (no valid
    quote) get the time-proportional blend of the neighboring observed
    values per user; leading/trailing gaps fall back to the one
    available neighbor. Two window passes (backward-looking last,
    forward-looking first, both IGNORE NULLS) — no self-join, no UDF;
    same ordering contract as d3_forward_fill (ts, event_id)."""
    events = load_table(spark, sf_dir, "events")
    gapped = events.select(
        "event_id",
        "user_id",
        "ts",
        F.when(F.col("event_type") == "error", None)
        .otherwise(F.col("value"))
        .alias("v"),
    )
    wb = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wf = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(1, Window.unboundedFollowing)
    )
    obs_ts = F.when(F.col("v").isNotNull(), F.col("ts"))
    ctx = gapped.select(
        "event_id",
        "user_id",
        "ts",
        "v",
        F.last("v", ignorenulls=True).over(wb).alias("pv"),
        F.last(obs_ts, ignorenulls=True).over(wb).alias("pts"),
        F.first("v", ignorenulls=True).over(wf).alias("nv"),
        F.first(obs_ts, ignorenulls=True).over(wf).alias("nts"),
    )
    frac = F.try_divide(
        F.col("ts").cast("double") - F.col("pts").cast("double"),
        F.col("nts").cast("double") - F.col("pts").cast("double"),
    )
    interp = (
        F.when(F.col("v").isNotNull(), F.col("v"))
        .when(F.col("pv").isNull(), F.col("nv"))
        .when(F.col("nv").isNull(), F.col("pv"))
        .otherwise(F.col("pv") + (F.col("nv") - F.col("pv")) * frac)
    )
    return ctx.select(
        "event_id", "user_id", "ts", dround(interp, 6).alias("value_interp")
    )


@register(
    "d15_max_drawdown",
    oracle=f"""
    WITH cum AS (
        SELECT user_id, ts, event_id,
               SUM(value) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS equity
        FROM events WHERE event_type = 'purchase'
    ), dd AS (
        SELECT user_id,
               MAX(equity) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS peak,
               equity
        FROM cum
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_obs,
           {sql_dround("MAX(peak - equity)", 6)} AS max_drawdown
    FROM dd
    GROUP BY user_id
    """,
)
def d15_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown per user over the cumulative purchase series:
    running equity (window cumsum in time order), running peak over the
    same order, and the deepest peak-to-trough gap. Two stacked window
    passes over ONE partitioning — Spark plans a single Exchange on
    user_id and evaluates the windows back-to-back without
    re-shuffling; the final rollup reuses the same hash partitioning.
    The window order is pinned (ts, event_id) so the float summation
    sequence — and therefore the result — is identical across
    engines."""
    events = load_table(spark, sf_dir, "events")
    w_time = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = events.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        "event_id",
        F.sum("value").over(w_time).alias("equity"),
    )
    dd = cum.select(
        "user_id",
        F.max("equity").over(w_time).alias("peak"),
        "equity",
    )
    return dd.groupBy("user_id").agg(
        F.count("*").alias("n_obs"),
        dround(F.max(F.col("peak") - F.col("equity")), 6).alias("max_drawdown"),
    )


# d5/d34 aggregate by CLOCK time; d50 adds the event-time alternative
# quant desks actually sample on — bars closed by traded volume, so
# information arrives at a constant rate per bar. d15 reported max
# drawdown DEPTH; d51 adds the duration dimension (how LONG the series
# stays underwater). d52 closes the microstructure set: the regression
# of price change on signed volume that d35 (slippage) and d43 (Amihud)
# bracket.


_BAR_VOLUME = 500  # shares per volume bar (k ∈ 0..99, ~50 avg → ~10 ticks/bar)


@register(
    "d50_volume_bars",
    oracle=f"""
    WITH t AS (
        SELECT event_type, ts, event_id, value,
               CAST(props->>'$.k' AS INT) AS qty,
               ROW_NUMBER() OVER win AS rn,
               SUM(CAST(props->>'$.k' AS INT)) OVER
                   (win ROWS UNBOUNDED PRECEDING) AS cum_qty
        FROM events
        WINDOW win AS (PARTITION BY event_type ORDER BY ts, event_id)
    ), bars AS (
        SELECT event_type,
               CAST(FLOOR((cum_qty - qty) / {_BAR_VOLUME}.0) AS BIGINT)
                   AS bar_id,
               qty, value, rn
        FROM t
    )
    SELECT event_type, bar_id,
           {sql_dround("ARG_MIN(value, rn)", 6)} AS open,
           {sql_dround("MAX(value)", 6)} AS high,
           {sql_dround("MIN(value)", 6)} AS low,
           {sql_dround("ARG_MAX(value, rn)", 6)} AS close,
           {sql_dround(
               "SUM(value * qty) / NULLIF(SUM(qty), 0)", 6)} AS vwap,
           CAST(SUM(qty) AS BIGINT) AS volume,
           COUNT(*) AS n_ticks
    FROM bars
    GROUP BY event_type, bar_id
    """,
)
def d50_volume_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume bars: OHLC + VWAP sampled every ``_BAR_VOLUME`` shares of
    traded quantity instead of every N minutes (the event-time bars of
    López de Prado's 'Advances in Financial ML' ch. 2 — constant
    information per bar, robust to intraday activity bursts that make
    clock bars heteroskedastic). A tick belongs to the bar its volume
    STARTS in (bar_id = floor(exclusive-prefix-volume / threshold)),
    so the assignment is a pure function of the running sum — no
    iterative bar-closing loop.

    Plan: one WindowExec per series computes (row_number, cumulative
    volume) in a single pass, then a hash aggregate on (series,
    bar_id) with ARG_MIN/ARG_MAX by tick order for open/close. Two
    shuffles total, both on series keys; the window state is one
    running sum. At 100 TB the per-series sort is the honest cost of
    event-time sampling — identical posture to d5 daily OHLC."""
    events = load_table(spark, sf_dir, "events")
    win = Window.partitionBy("event_type").orderBy("ts", "event_id")
    # Parse the JSON qty ONCE in a projection below the window; window
    # expressions don't CSE with each other, so referencing the raw
    # get_json_object both as a column and inside the running sum
    # parses every props payload twice (measured 15.2s → 5.2s warm on
    # the 6M-tick stress corpus for this single-parse form).
    parsed = events.select(
        "event_type",
        "value",
        "ts",
        "event_id",
        F.get_json_object("props", "$.k").cast("int").alias("qty"),
    )
    t = parsed.select(
        "event_type",
        "value",
        "qty",
        F.row_number().over(win).alias("rn"),
        F.sum("qty").over(win.rowsBetween(Window.unboundedPreceding, 0))
        .alias("cum_qty"),
    )
    bar = F.floor((F.col("cum_qty") - F.col("qty")) / float(_BAR_VOLUME))
    return (
        t.withColumn("bar_id", bar.cast("bigint"))
        .groupBy("event_type", "bar_id")
        .agg(
            dround(F.min_by("value", "rn"), 6).alias("open"),
            dround(F.max("value"), 6).alias("high"),
            dround(F.min("value"), 6).alias("low"),
            dround(F.max_by("value", "rn"), 6).alias("close"),
            dround(
                F.try_divide(F.sum(F.col("value") * F.col("qty")),
                             F.sum("qty")), 6
            ).alias("vwap"),
            F.sum("qty").cast("bigint").alias("volume"),
            F.count("*").alias("n_ticks"),
        )
    )


@register(
    "d51_drawdown_duration",
    oracle=f"""
    WITH t AS (
        SELECT event_type, value,
               ROW_NUMBER() OVER win AS rn,
               MAX(value) OVER (win ROWS UNBOUNDED PRECEDING) AS runmax
        FROM events
        WINDOW win AS (PARTITION BY event_type ORDER BY ts, event_id)
    ), flagged AS (
        SELECT event_type, rn,
               CASE WHEN value < runmax THEN 1 ELSE 0 END AS uw,
               rn - ROW_NUMBER() OVER (
                   PARTITION BY event_type,
                       CASE WHEN value < runmax THEN 1 ELSE 0 END
                   ORDER BY rn) AS grp
        FROM t
    ), spells AS (
        SELECT event_type, grp, COUNT(*) AS spell_len
        FROM flagged WHERE uw = 1
        GROUP BY event_type, grp
    ), totals AS (
        SELECT event_type, COUNT(*) AS n_ticks FROM t GROUP BY event_type
    )
    SELECT totals.event_type,
           totals.n_ticks,
           CAST(COALESCE(COUNT(spells.spell_len), 0) AS BIGINT) AS n_spells,
           CAST(COALESCE(MAX(spells.spell_len), 0) AS BIGINT)
               AS max_spell_len,
           {sql_dround(
               "COALESCE(SUM(spells.spell_len), 0)"
               " / CAST(totals.n_ticks AS DOUBLE)", 6)} AS underwater_frac
    FROM totals
    LEFT JOIN spells ON spells.event_type = totals.event_type
    GROUP BY totals.event_type, totals.n_ticks
    """,
)
def d51_drawdown_duration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drawdown SPELL statistics per series: number of underwater
    spells (maximal runs of ticks strictly below the running peak),
    the longest spell, and the fraction of time spent underwater —
    the duration complement to d15's max-drawdown depth. Spells are
    found with the classic gaps-and-islands subtraction (global row
    number minus per-state row number is constant within a run), so
    the whole operator is two window passes over one per-series sort
    plus two tiny aggregates — no self-join, no iteration. The final
    LEFT JOIN is per-series rows only (5 rows here, broadcast; at any
    scale it is |symbols|, never |ticks|)."""
    events = load_table(spark, sf_dir, "events")
    win = Window.partitionBy("event_type").orderBy("ts", "event_id")
    t = events.select(
        "event_type",
        "value",
        F.row_number().over(win).alias("rn"),
        F.max("value")
        .over(win.rowsBetween(Window.unboundedPreceding, 0))
        .alias("runmax"),
    )
    flagged = t.select(
        "event_type",
        "rn",
        F.when(F.col("value") < F.col("runmax"), 1).otherwise(0).alias("uw"),
    ).withColumn(
        "grp",
        F.col("rn")
        - F.row_number().over(
            Window.partitionBy("event_type", "uw").orderBy("rn")
        ),
    )
    spell_stats = (
        flagged.filter(F.col("uw") == 1)
        .groupBy("event_type", "grp")
        .agg(F.count("*").alias("spell_len"))
        .groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_spells"),
            F.max("spell_len").cast("bigint").alias("max_spell_len"),
            F.sum("spell_len").alias("uw_ticks"),
        )
    )
    totals = t.groupBy("event_type").agg(F.count("*").alias("n_ticks"))
    return totals.join(F.broadcast(spell_stats), "event_type", "left").select(
        "event_type",
        "n_ticks",
        F.coalesce(F.col("n_spells"), F.lit(0)).cast("bigint")
        .alias("n_spells"),
        F.coalesce(F.col("max_spell_len"), F.lit(0)).cast("bigint")
        .alias("max_spell_len"),
        dround(
            F.coalesce(F.col("uw_ticks"), F.lit(0))
            / F.col("n_ticks").cast("double"),
            6,
        ).alias("underwater_frac"),
    )


@register(
    "d52_kyle_lambda",
    oracle=f"""
    WITH t AS (
        SELECT event_type,
               value - LAG(value) OVER win AS dp,
               CAST(props->>'$.k' AS INT) AS qty
        FROM events
        WINDOW win AS (PARTITION BY event_type ORDER BY ts, event_id)
    ), signed AS (
        SELECT event_type, dp,
               CASE WHEN dp > 0 THEN qty
                    WHEN dp < 0 THEN -qty
                    ELSE 0 END AS signed_vol
        FROM t WHERE dp IS NOT NULL
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_obs,
           {sql_dround("REGR_SLOPE(dp, signed_vol)", 10)} AS kyle_lambda,
           {sql_dround("REGR_R2(dp, signed_vol)", 8)} AS r2
    FROM signed
    GROUP BY event_type
    """,
)
def d52_kyle_lambda(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kyle's lambda: per-series OLS slope of price change on signed
    volume (tick-rule signed, Lee-Ready without quotes) — the
    standard price-impact coefficient bridging d35 (realized
    slippage) and d43 (Amihud illiquidity, the |return|/volume
    ratio). One lag window pass to difference prices, then a single
    hash aggregate: ``regr_slope``/``regr_r2`` are algebraic
    (sum/sum-of-products sketches), so partial aggregation happens
    map-side and the shuffle carries five doubles per series. Same
    two-shuffle posture as d6; scale is bounded by the per-series
    sort."""
    events = load_table(spark, sf_dir, "events")
    win = Window.partitionBy("event_type").orderBy("ts", "event_id")
    qty = F.get_json_object("props", "$.k").cast("int")
    t = events.select(
        "event_type",
        (F.col("value") - F.lag("value").over(win)).alias("dp"),
        qty.alias("qty"),
    ).filter(F.col("dp").isNotNull())
    signed = t.select(
        "event_type",
        "dp",
        F.when(F.col("dp") > 0, F.col("qty"))
        .when(F.col("dp") < 0, -F.col("qty"))
        .otherwise(0)
        .alias("signed_vol"),
    )
    return signed.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_obs"),
        dround(F.regr_slope("dp", "signed_vol"), 10).alias("kyle_lambda"),
        dround(F.regr_r2("dp", "signed_vol"), 8).alias("r2"),
    )


@register(
    "d53_cusip_sedol_validation",
    oracle="""
    WITH p AS (
        SELECT p_partkey,
               LPAD(CAST(p_partkey AS VARCHAR), 6, '0') AS body,
               p_partkey % 5 = 0 AS corrupt,
               CAST(FLOOR(p_partkey / 100000) % 10 AS BIGINT) AS d1,
               CAST(FLOOR(p_partkey / 10000) % 10 AS BIGINT) AS d2,
               CAST(FLOOR(p_partkey / 1000) % 10 AS BIGINT) AS d3,
               CAST(FLOOR(p_partkey / 100) % 10 AS BIGINT) AS d4,
               CAST(FLOOR(p_partkey / 10) % 10 AS BIGINT) AS d5,
               p_partkey % 10 AS d6
        FROM part
    ), pc AS (
        -- closed-form CUSIP mod-10 double-add-double for the FIXED
        -- template 'S''M' dddddd: 'S'=28 (odd pos, digit-sum 10),
        -- 'M'=22 (even pos, doubled 44 -> 8); digit positions 3..8
        -- alternate single/double starting single.
        SELECT p_partkey, body, corrupt, d6,
               (10 - (10 + 8
                      + d1 + CASE WHEN d2 < 5 THEN 2*d2 ELSE 2*d2 - 9 END
                      + d3 + CASE WHEN d4 < 5 THEN 2*d4 ELSE 2*d4 - 9 END
                      + d5 + CASE WHEN d6 < 5 THEN 2*d6 ELSE 2*d6 - 9 END
                     ) % 10) % 10 AS check_digit
        FROM p
    ), cusips AS (
        SELECT 'CUSIP' AS id_type, p_partkey AS entity_key,
               'SM' || CASE WHEN corrupt
                            THEN SUBSTR(body, 1, 5)
                                 || CAST((d6 + 1) % 10 AS VARCHAR)
                            ELSE body END
                    || CAST(check_digit AS VARCHAR) AS identifier,
               NOT corrupt AS is_valid
        FROM pc
    ), s AS (
        SELECT s_suppkey,
               LPAD(CAST(s_suppkey AS VARCHAR), 5, '0') AS body,
               s_suppkey % 4 = 0 AS corrupt,
               CAST(FLOOR(s_suppkey / 10000) % 10 AS BIGINT) AS d1,
               CAST(FLOOR(s_suppkey / 1000) % 10 AS BIGINT) AS d2,
               CAST(FLOOR(s_suppkey / 100) % 10 AS BIGINT) AS d3,
               CAST(FLOOR(s_suppkey / 10) % 10 AS BIGINT) AS d4,
               s_suppkey % 10 AS d5
        FROM supplier
    ), sc AS (
        -- closed-form SEDOL weighted mod-10 for the FIXED template
        -- 'B' ddddd: 'B'=11 at weight 1; digit weights 3,1,7,3,9.
        SELECT s_suppkey, body, corrupt, d5,
               (10 - (11 + 3*d1 + d2 + 7*d3 + 3*d4 + 9*d5) % 10) % 10
                   AS check_digit
        FROM s
    ), sedols AS (
        SELECT 'SEDOL' AS id_type, s_suppkey AS entity_key,
               'B' || CASE WHEN corrupt
                           THEN SUBSTR(body, 1, 4)
                                || CAST((d5 + 1) % 10 AS VARCHAR)
                           ELSE body END
                   || CAST(check_digit AS VARCHAR) AS identifier,
               NOT corrupt AS is_valid
        FROM sc
    )
    SELECT * FROM cusips UNION ALL SELECT * FROM sedols
    """,
)
def d53_cusip_sedol_validation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSIP (ANSI X9.6) and SEDOL check-digit validation — the two
    remaining identifier layers of a securities master next to d46's
    ISIN. Synthetic identifiers are minted on fixed templates (CUSIP
    'SM'+6 digits from part keys, SEDOL 'B'+5 digits from supplier
    keys), deterministic subsets get a digit corrupted AFTER the
    check digit is computed, and the GENERIC expression-level
    validators (functions/identifiers.py — transform/zip_with +
    aggregate folds, no UDF) must flag exactly the corrupted ones.
    The oracle derives validity from INDEPENDENT closed-form
    specializations of each algorithm to its template — the generic
    folds are cross-checked digit-by-digit, not self-certified. All
    JVM expressions in the scan projections; the union is two
    dimension scans, zero shuffles."""
    from security_master_spark.functions.identifiers import (
        cusip_check_digit,
        cusip_is_valid,
        sedol_check_digit,
        sedol_is_valid,
    )

    part = load_table(spark, sf_dir, "part")
    pk = F.col("p_partkey")
    pbody = F.lpad(pk.cast("string"), 6, "0")
    pcorrupt = pk % 5 == 0
    pd6 = (pk % 10).cast("int")
    pcheck = cusip_check_digit(F.concat(F.lit("SM"), pbody))
    pbody_out = F.when(
        pcorrupt,
        F.concat(F.substring(pbody, 1, 5), ((pd6 + 1) % 10).cast("string")),
    ).otherwise(pbody)
    cusip = F.concat(F.lit("SM"), pbody_out, pcheck.cast("string"))
    cusips = part.select(
        F.lit("CUSIP").alias("id_type"),
        pk.alias("entity_key"),
        cusip.alias("identifier"),
        cusip_is_valid(cusip).alias("is_valid"),
    )

    supp = load_table(spark, sf_dir, "supplier")
    sk = F.col("s_suppkey")
    sbody = F.lpad(sk.cast("string"), 5, "0")
    scorrupt = sk % 4 == 0
    sd5 = (sk % 10).cast("int")
    scheck = sedol_check_digit(F.concat(F.lit("B"), sbody))
    sbody_out = F.when(
        scorrupt,
        F.concat(F.substring(sbody, 1, 4), ((sd5 + 1) % 10).cast("string")),
    ).otherwise(sbody)
    sedol = F.concat(F.lit("B"), sbody_out, scheck.cast("string"))
    sedols = supp.select(
        F.lit("SEDOL").alias("id_type"),
        sk.alias("entity_key"),
        sedol.alias("identifier"),
        sedol_is_valid(sedol).alias("is_valid"),
    )
    return cusips.unionByName(sedols)


_HALF_PI = 1.5707963267948966  # pi/2, written identically in both engines


@register(
    "d60_realized_vol_jump",
    oracle=f"""
    WITH ticks AS (
        SELECT event_type, ts, event_id,
               CAST(DATE_TRUNC('day', ts) AS TIMESTAMP) AS day, value,
               LAG(value) OVER (
                   PARTITION BY event_type, DATE_TRUNC('day', ts)
                   ORDER BY ts, event_id
               ) AS prev
        FROM events
    ), rets AS (
        SELECT event_type, day, ts, event_id,
               ln(CASE WHEN value > 0 AND prev > 0
                       THEN value / prev END) AS r
        FROM ticks
    ), paired AS (
        SELECT event_type, day, r,
               LAG(r) OVER (
                   PARTITION BY event_type, day ORDER BY ts, event_id
               ) AS r_prev
        FROM rets
    )
    SELECT event_type, day,
           CAST(COUNT(r) AS BIGINT) AS n_returns,
           {sql_dround("SUM(r * r)", 8)} AS realized_var,
           {sql_dround(f"{_HALF_PI} * SUM(ABS(r) * ABS(r_prev))", 8)}
               AS bipower_var,
           {sql_dround(
               f"GREATEST(SUM(r * r) - {_HALF_PI}"
               f" * SUM(ABS(r) * ABS(r_prev)), 0)"
               f" / NULLIF(SUM(r * r), 0)", 6)} AS jump_share
    FROM paired
    GROUP BY event_type, day
    """,
)
def d60_realized_vol_jump(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Realized-variance decomposition per (series, day): RV = Σr²
    over intraday log returns, bipower variation BV = (π/2)·Σ|rᵢ||rᵢ₋₁|
    (robust to jumps — products of adjacent returns suppress a single
    outlier that squares would amplify), and the jump share
    max(RV−BV, 0)/RV — the standard continuous-vs-jump split
    (Barndorff-Nielsen–Shephard estimator family).

    Shape: one window SPEC computes both the return lag and the
    adjacent-return pairing — r_prev = lag(r) nests over r's output,
    so Spark chains two WindowExecs over the SAME partitioning (one
    exchange feeds both; no second shuffle), then a per-day hash
    aggregate with map-side partials. Log-return positivity is guarded identically on
    both engines (DuckDB ln() ERRORS on non-positive input where
    Spark NULLs, so the CASE guard is cross-engine load-bearing, not
    decoration); NULLIF guards the all-zero-returns day."""
    events = load_table(spark, sf_dir, "events")
    day = F.date_trunc("day", "ts")
    w = Window.partitionBy("event_type", day).orderBy("ts", "event_id")
    prev = F.lag("value").over(w)
    r = F.log(
        F.when((F.col("value") > 0) & (prev > 0), F.col("value") / prev)
    )
    ticks = events.select(
        "event_type",
        day.alias("day"),
        r.alias("r"),
        F.lag(r).over(w).alias("r_prev"),
    )
    rv = F.sum(F.col("r") * F.col("r"))
    bv = F.lit(_HALF_PI) * F.sum(F.abs("r") * F.abs("r_prev"))
    return ticks.groupBy("event_type", "day").agg(
        F.count("r").cast("bigint").alias("n_returns"),
        dround(rv, 8).alias("realized_var"),
        dround(bv, 8).alias("bipower_var"),
        dround(
            F.greatest(rv - bv, F.lit(0.0)) / F.nullif(rv, F.lit(0.0)), 6
        ).alias("jump_share"),
    )


@register(
    "d61_tick_rule_imbalance",
    oracle=f"""
    WITH signed AS (
        SELECT event_type,
               CAST(DATE_TRUNC('day', ts) AS TIMESTAMP) AS day,
               SIGN(value - LAG(value) OVER (
                   PARTITION BY event_type ORDER BY ts, event_id
               )) AS s
        FROM events
    )
    SELECT event_type, day,
           CAST(SUM(CASE WHEN s > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS buy_ticks,
           CAST(SUM(CASE WHEN s < 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS sell_ticks,
           CAST(SUM(CASE WHEN s = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS zero_ticks,
           {sql_dround(
               "(SUM(CASE WHEN s > 0 THEN 1 ELSE 0 END)"
               " - SUM(CASE WHEN s < 0 THEN 1 ELSE 0 END))"
               " / CAST(NULLIF(SUM(CASE WHEN s > 0 THEN 1 ELSE 0 END)"
               " + SUM(CASE WHEN s < 0 THEN 1 ELSE 0 END), 0) AS DOUBLE)",
               6)} AS imbalance
    FROM signed
    GROUP BY event_type, day
    """,
)
def d61_tick_rule_imbalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tick-rule order-flow imbalance per (series, day): classify each
    tick as buyer-initiated (uptick), seller-initiated (downtick), or
    indeterminate (no change / first tick), then the daily imbalance
    (buys − sells)/(buys + sells) — the Lee-Ready tick-test proxy used
    when quote data is absent.

    Shape: the sign lag partitions by series ONLY (a day's first tick
    classifies against the prior day's close — the standard
    convention), then one per-day hash aggregate. NULLIF guards an
    all-indeterminate day. The sign column stays a double (SIGN's
    native type on both engines) until the conditional counts
    collapse it."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    s = F.signum(F.col("value") - F.lag("value").over(w))
    signed = events.select(
        "event_type",
        F.date_trunc("day", "ts").alias("day"),
        s.alias("s"),
    )
    buys = F.sum(F.when(F.col("s") > 0, 1).otherwise(0))
    sells = F.sum(F.when(F.col("s") < 0, 1).otherwise(0))
    zeros = F.sum(F.when(F.col("s") == 0, 1).otherwise(0))
    return signed.groupBy("event_type", "day").agg(
        buys.cast("bigint").alias("buy_ticks"),
        sells.cast("bigint").alias("sell_ticks"),
        zeros.cast("bigint").alias("zero_ticks"),
        dround(
            (buys - sells) / F.nullif(buys + sells, F.lit(0)).cast("double"),
            6,
        ).alias("imbalance"),
    )


_VAR_P = 0.05  # 95% one-day VaR


@register(
    "d62_var_backtest",
    oracle=f"""
    WITH ranked AS (
        SELECT event_type,
               DATE_TRUNC('day', ts) AS day, value,
               ROW_NUMBER() OVER (PARTITION BY event_type,
                                  DATE_TRUNC('day', ts)
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
    ), daily AS (
        SELECT event_type, day, value AS close
        FROM ranked WHERE rn = 1
    ), rets AS (
        SELECT event_type,
               CASE WHEN LAG(close) OVER (PARTITION BY event_type
                                          ORDER BY day) <> 0
                    THEN close / LAG(close) OVER (PARTITION BY event_type
                                                  ORDER BY day) - 1
               END AS r
        FROM daily
    ), scored AS (
        SELECT event_type, r,
               QUANTILE_CONT(r, {_VAR_P}) OVER (
                   PARTITION BY event_type
               ) AS var95
        FROM rets WHERE r IS NOT NULL
    ), agg AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_days,
               MAX(var95) AS var95,
               CAST(SUM(CASE WHEN r < var95 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_breaches
        FROM scored GROUP BY event_type
    )
    SELECT event_type, n_days,
           {sql_dround("var95", 6)} AS var_95,
           n_breaches,
           {sql_dround("n_breaches / CAST(n_days AS DOUBLE)", 6)}
               AS breach_rate,
           {sql_dround(
               f"-2 * ((n_days - n_breaches) * ln(1 - {_VAR_P})"
               f" + n_breaches * ln({_VAR_P})"
               f" - CASE WHEN n_breaches < n_days"
               f"        THEN (n_days - n_breaches)"
               f"             * ln(1 - n_breaches / CAST(n_days AS DOUBLE))"
               f"        ELSE 0 END"
               f" - CASE WHEN n_breaches > 0"
               f"        THEN n_breaches"
               f"             * ln(n_breaches / CAST(n_days AS DOUBLE))"
               f"        ELSE 0 END)", 6)} AS kupiec_lr
    FROM agg
    """,
)
def d62_var_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Historical-simulation VaR with a Kupiec unconditional-coverage
    backtest per series: the empirical 5th percentile of daily returns
    is the 95% one-day VaR; breaches (r < VaR) are counted and the
    Kupiec likelihood ratio −2·ln[L(p)/L(x/n)] scores whether the
    observed breach rate is consistent with the promised coverage —
    the regulatory (Basel traffic-light) model-validation primitive.
    In-sample by construction (the VaR is estimated on the window it
    is tested against); the operator shape is identical for a proper
    out-of-sample split.

    Shape: ticks collapse to daily closes first (d59's rank-1
    discipline), returns via one lag window, the exact windowed
    percentile runs over the O(series · days) collapsed frame, ONE
    aggregate folds breaches — the fact table is scanned once. The
    x = 0 and x = n Kupiec terms use the 0·ln(0) = 0 convention via
    CASE, written identically on both engines (DuckDB ln() errors on
    0 where a naive spelling would feed it)."""
    events = load_table(spark, sf_dir, "events")
    rnw = Window.partitionBy(
        "event_type", F.date_trunc("day", "ts")
    ).orderBy(F.desc("ts"), F.desc("event_id"))
    daily = (
        events.select(
            "event_type",
            F.date_trunc("day", "ts").alias("day"),
            "value",
            F.row_number().over(rnw).alias("rn"),
        )
        .filter(F.col("rn") == 1)
        .select("event_type", "day", F.col("value").alias("close"))
    )
    lw = Window.partitionBy("event_type").orderBy("day")
    # zero prior close -> undefined ratio return -> NULL, not a crash:
    # ANSI division threw DIVIDE_BY_ZERO on the adversarial fixture's
    # value=0 ticks (tools/gen_adversarial.py sweep); the CASE guard is
    # written identically in the oracle so both engines drop the row.
    prev = F.lag("close").over(lw)
    rets = daily.select(
        "event_type",
        F.when(prev != 0, F.col("close") / prev - 1).alias("r"),
    ).filter(F.col("r").isNotNull())
    vw = Window.partitionBy("event_type")
    scored = rets.select(
        "event_type",
        "r",
        F.percentile("r", F.lit(_VAR_P)).over(vw).alias("var95"),
    )
    agg = scored.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_days"),
        F.max("var95").alias("var95"),
        F.sum(F.when(F.col("r") < F.col("var95"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_breaches"),
    )
    n = F.col("n_days").cast("double")
    x = F.col("n_breaches").cast("double")
    lr = F.lit(-2.0) * (
        (n - x) * F.lit(math.log(1 - _VAR_P))
        + x * F.lit(math.log(_VAR_P))
        - F.when(
            F.col("n_breaches") < F.col("n_days"),
            (n - x) * F.log(1 - x / n),
        ).otherwise(F.lit(0.0))
        - F.when(
            F.col("n_breaches") > 0, x * F.log(x / n)
        ).otherwise(F.lit(0.0))
    )
    return agg.select(
        "event_type",
        "n_days",
        dround(F.col("var95"), 6).alias("var_95"),
        "n_breaches",
        dround(x / n, 6).alias("breach_rate"),
        dround(lr, 6).alias("kupiec_lr"),
    )


#: price bins per series.
_VP_BINS = 20


@register(
    "d86_volume_profile",
    oracle=f"""
    WITH ext AS (
        SELECT event_type, value,
               MIN(value) OVER (PARTITION BY event_type) AS lo,
               MAX(value) OVER (PARTITION BY event_type) AS hi
        FROM events
    ), binned AS (
        SELECT event_type, lo, hi,
               CASE WHEN hi = lo THEN 0
                    ELSE LEAST({_VP_BINS - 1}, CAST(FLOOR(
                        (value - lo) * {_VP_BINS} / (hi - lo))
                        AS INT))
               END AS bin
        FROM ext
    ), prof AS (
        SELECT event_type, bin,
               MAX(lo) AS lo, MAX(hi) AS hi,
               COUNT(*) AS n,
               SUM(COUNT(*)) OVER (PARTITION BY event_type)
                   AS total,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY COUNT(*) DESC, bin ASC)
                   AS rnk
        FROM binned GROUP BY event_type, bin
    )
    SELECT event_type,
           CAST(bin AS BIGINT) AS bin,
           {sql_dround(
               f"lo + (bin + 0.5) * (hi - lo) / {_VP_BINS}", 6
           )} AS bin_mid,
           CAST(n AS BIGINT) AS n_prints,
           {sql_dround("n / CAST(total AS DOUBLE)", 6)} AS share,
           rnk = 1 AS is_poc
    FROM prof
    """,
)
def d86_volume_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume profile: bucket each series' prints into 20 equal-width
    price bins over the series' own range, report per-bin counts and
    share, and flag the point of control (the most-traded price bin —
    deterministic tie-break to the lower bin) — the market-profile
    histogram behind support/resistance and value-area analytics
    (a15 is the generic histogram; this is the per-series-extent,
    POC-flagged domain form).

    Determinism: the bin edge arithmetic is (v − lo)·B/(hi − lo) with
    explicit FLOOR (DuckDB's CAST rounds where Spark's truncates —
    the l66 lesson applied), LEAST pins v = hi into the top bin, and
    a degenerate flat series (hi = lo) collapses to bin 0 on both
    engines. Shape: per-series extents as partition windows (one
    series-key shuffle), then one map-side-combined groupBy; the POC
    rank runs over the O(series × 20) profile frame, not the ticks."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type")
    ext = events.select(
        "event_type",
        "value",
        F.min("value").over(w).alias("lo"),
        F.max("value").over(w).alias("hi"),
    )
    bin_col = (
        F.when(F.col("hi") == F.col("lo"), 0)
        .otherwise(
            F.least(
                F.lit(_VP_BINS - 1),
                F.floor(
                    (F.col("value") - F.col("lo"))
                    * _VP_BINS
                    / (F.col("hi") - F.col("lo"))
                ).cast("int"),
            )
        )
        .alias("bin")
    )
    prof = (
        ext.select("event_type", "lo", "hi", bin_col)
        .groupBy("event_type", "bin")
        .agg(
            F.max("lo").alias("lo"),
            F.max("hi").alias("hi"),
            F.count("*").alias("n"),
        )
    )
    wtot = Window.partitionBy("event_type")
    wrnk = Window.partitionBy("event_type").orderBy(
        F.col("n").desc(), F.col("bin").asc()
    )
    return prof.select(
        "event_type",
        F.col("bin").cast("bigint").alias("bin"),
        dround(
            F.col("lo")
            + (F.col("bin") + 0.5)
            * (F.col("hi") - F.col("lo"))
            / _VP_BINS,
            6,
        ).alias("bin_mid"),
        F.col("n").cast("bigint").alias("n_prints"),
        dround(
            F.col("n") / F.sum("n").over(wtot).cast("double"), 6
        ).alias("share"),
        (F.row_number().over(wrnk) == 1).alias("is_poc"),
    )


#: sign-autocorrelation lags (ticks).
_SIGN_LAGS = (1, 2, 3, 5)


def _lag_cols_sql() -> str:
    return ",\n               ".join(
        f"LAG(s, {k}) OVER w AS s{k}" for k in _SIGN_LAGS
    )


@register(
    "d89_sign_autocorrelation",
    oracle=f"""
    WITH signed AS (
        SELECT event_type, ts, event_id,
               SIGN(value - LAG(value) OVER (
                   PARTITION BY event_type
                   ORDER BY ts, event_id)) AS s
        FROM events
    ), nz AS (
        SELECT event_type, ts, event_id, s FROM signed WHERE s <> 0
    ), lagged AS (
        SELECT event_type, s,
               {_lag_cols_sql()}
        FROM nz
        WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_ticks,
           {", ".join(
        sql_dround(f"CORR(s, s{k})", 6) + f" AS rho_{k}"
        for k in _SIGN_LAGS
    )}
    FROM lagged
    GROUP BY event_type
    """,
)
def d89_sign_autocorrelation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Order-flow persistence: autocorrelation of tick-rule trade
    signs at lags 1/2/3/5 per series — the slow-decaying positive
    sign autocorrelation that large-order splitting leaves in every
    real market (LeBaron/Bouchaud's "long memory of order flow");
    d61 reports the sign IMBALANCE, d32 the RETURN autocorrelation —
    this is the flow-direction memory between them. Zero-signs
    (unchanged price) are dropped before lagging, matching the
    standard convention.

    Shape: the tick-rule sign and all four sign lags share ONE
    per-series (ts, event_id) sort — Spark fuses the five window
    expressions into a single WindowExec pass — then one
    map-side-combined groupBy of CORR partials. CORR on ±1 series is
    exact integer sums inside the moments, so cross-engine agreement
    is limited only by the final division, rounded at 6dp."""
    events = load_table(spark, sf_dir, "events")
    wtick = Window.partitionBy("event_type").orderBy("ts", "event_id")
    signed = events.select(
        "event_type",
        "ts",
        "event_id",
        F.signum(
            F.col("value") - F.lag("value").over(wtick)
        ).alias("s"),
    ).filter(F.col("s") != 0)
    lag_cols = [
        F.lag("s", k).over(wtick).alias(f"s{k}") for k in _SIGN_LAGS
    ]
    lagged = signed.select("event_type", "s", *lag_cols)
    return lagged.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_ticks"),
        *[
            dround(F.corr("s", f"s{k}"), 6).alias(f"rho_{k}")
            for k in _SIGN_LAGS
        ],
    )

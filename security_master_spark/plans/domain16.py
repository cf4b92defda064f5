"""Round-6 securities-domain batch 4 (SURVEY.md §2.11): benchmark-
relative performance (tracking error / information ratio), the Roll
effective-spread estimator, the Lo-MacKinlay variance-ratio test, and
RFM customer segmentation — portfolio-reporting, microstructure,
econometric and behavioral primitives.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from security_master_spark.datasets import load_table
from security_master_spark.functions.daily import (
    DAILY_SQL as _DAILY_SQL,
)
from security_master_spark.functions.daily import (
    RETS_SQL as _RETS_SQL,
)
from security_master_spark.functions.daily import (
    daily_closes,
    daily_returns,
)
from security_master_spark.functions.rounding import dround, sql_dround
from security_master_spark.plans.registry import register


@register(
    "d68_tracking_error",
    oracle=f"""
    WITH {_DAILY_SQL}, {_RETS_SQL}, mkt AS (
        SELECT day, AVG(r) AS m FROM rr GROUP BY day
    ), active AS (
        SELECT rr.event_type, rr.r - mkt.m AS a
        FROM rr JOIN mkt ON mkt.day = rr.day
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           {sql_dround("AVG(a)", 6)} AS mean_active,
           {sql_dround("STDDEV_SAMP(a)", 6)} AS tracking_error,
           {sql_dround("AVG(a) / NULLIF(STDDEV_SAMP(a), 0)", 6)}
               AS information_ratio
    FROM active
    GROUP BY event_type
    """,
)
def d68_tracking_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-relative performance per series: active return vs
    the equal-weight market, tracking error (stddev of active), and
    the information ratio (mean active / TE) — the triple every
    portfolio report leads with next to d33's Sharpe. Daily units
    (annualization is a constant the caller applies). A zero-TE
    series (perfectly tracking the benchmark) divides to NULL on both
    engines (NULLIF / try_divide).

    Scale: the d67 frame discipline — the fact scan collapses to
    O(series·days) once, the O(days) market frame broadcasts back,
    and the final agg shuffles per-series partials only."""
    rr = daily_returns(daily_closes(spark, sf_dir))
    mkt = rr.groupBy("day").agg(F.avg("r").alias("m"))
    active = rr.join(F.broadcast(mkt), "day").select(
        "event_type", (F.col("r") - F.col("m")).alias("a")
    )
    te = F.stddev_samp("a")
    return active.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_days"),
        dround(F.avg("a"), 6).alias("mean_active"),
        dround(te, 6).alias("tracking_error"),
        dround(F.try_divide(F.avg("a"), te), 6).alias("information_ratio"),
    )


@register(
    "d69_roll_spread",
    oracle=f"""
    WITH pairs AS (
        SELECT event_type, dp,
               LAG(dp) OVER w AS dp_prev
        FROM (
            SELECT event_type, ts, event_id,
                   value - LAG(value) OVER w AS dp
            FROM events
            WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
        )
        WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
    ), agg AS (
        SELECT event_type,
               CAST(COUNT(*) FILTER (WHERE dp IS NOT NULL
                                     AND dp_prev IS NOT NULL) AS BIGINT)
                   AS n_pairs,
               COVAR_SAMP(dp, dp_prev) AS c
        FROM pairs
        GROUP BY event_type
    )
    SELECT event_type, n_pairs,
           {sql_dround("c", 6)} AS serial_cov,
           {sql_dround(
               "CASE WHEN c < 0 THEN 2 * SQRT(-c) END", 6
           )} AS roll_spread
    FROM agg
    """,
)
def d69_roll_spread(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Roll (1984) effective-spread estimator per series: bid-ask
    bounce makes successive price CHANGES negatively autocorrelated,
    and the implied spread is s = 2·√(−cov(Δp_t, Δp_{t−1})). A
    non-negative serial covariance (no bounce detectable) yields NULL
    spread — the estimator's documented failure mode, identical CASE
    on both engines. COVAR_SAMP is a plain aggregate (not windowed)
    so it is portable; only the two LAG passes are windows, and they
    share one (series, time) partitioning — one shuffle, two chained
    frames, one agg of per-partition partials."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    deltas = events.select(
        "event_type",
        "ts",
        "event_id",
        (F.col("value") - F.lag("value").over(w)).alias("dp"),
    )
    pairs = deltas.select(
        "event_type", "dp", F.lag("dp").over(w).alias("dp_prev")
    )
    c = F.covar_samp("dp", "dp_prev")
    return (
        pairs.groupBy("event_type")
        .agg(
            F.count(
                F.when(
                    F.col("dp").isNotNull() & F.col("dp_prev").isNotNull(),
                    1,
                )
            )
            .cast("bigint")
            .alias("n_pairs"),
            c.alias("__c"),
        )
        .select(
            "event_type",
            "n_pairs",
            dround(F.col("__c"), 6).alias("serial_cov"),
            dround(
                F.when(F.col("__c") < 0, 2 * F.sqrt(-F.col("__c"))), 6
            ).alias("roll_spread"),
        )
    )


#: variance-ratio aggregation horizon (days).
_VR_K = 5


@register(
    "d70_variance_ratio",
    oracle=f"""
    WITH {_DAILY_SQL}, logret AS (
        SELECT event_type, day,
               LN(close / LAG(close) OVER (PARTITION BY event_type
                                           ORDER BY day)) AS r
        FROM (SELECT * FROM daily WHERE close > 0) daily
    ), rr AS (
        SELECT * FROM logret WHERE r IS NOT NULL
    ), kret AS (
        SELECT event_type, day, r,
               SUM(r) OVER w AS rk,
               COUNT(*) OVER w AS nk
        FROM rr
        WINDOW w AS (PARTITION BY event_type ORDER BY day
                     ROWS BETWEEN {_VR_K - 1} PRECEDING AND CURRENT ROW)
    ), agg AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_obs,
               VAR_SAMP(r) AS v1,
               VAR_SAMP(CASE WHEN nk = {_VR_K} THEN rk END) AS vk
        FROM kret
        GROUP BY event_type
    )
    SELECT event_type, n_obs,
           {sql_dround("v1", 6)} AS var_1d,
           {sql_dround("vk", 6)} AS var_kd,
           {sql_dround(f"vk / NULLIF({_VR_K} * v1, 0)", 6)}
               AS variance_ratio
    FROM agg
    """,
)
def d70_variance_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lo-MacKinlay variance-ratio test statistic VR(5) per series:
    under a random walk, the variance of 5-day log returns is 5× the
    1-day variance, so VR ≈ 1; VR > 1 flags momentum, VR < 1 mean
    reversion. Overlapping 5-day returns (the standard small-sample
    choice) come from one rolling SUM window; both variances fold in
    a single aggregate pass (the k-day variance via a CASE that
    drops partial head windows).

    close > 0 is filtered BEFORE the log on both engines: the sf0.1
    fixture contains zero values, Spark's ln(0) is NULL but DuckDB's
    ERRORS — the shared-fixture hazard documented in the verify
    skill. A constant series (v1 = 0) divides to NULL VR identically
    (NULLIF / try_divide).

    Scale: O(series·days) after the first collapse; one shuffle, two
    chained window frames on the same partitioning, one agg."""
    daily = daily_closes(spark, sf_dir).filter(F.col("close") > 0)
    w = Window.partitionBy("event_type").orderBy("day")
    rr = daily.select(
        "event_type",
        "day",
        F.log(F.col("close") / F.lag("close").over(w)).alias("r"),
    ).filter(F.col("r").isNotNull())
    wk = w.rowsBetween(-(_VR_K - 1), Window.currentRow)
    kret = rr.select(
        "event_type",
        "r",
        F.sum("r").over(wk).alias("rk"),
        F.count("*").over(wk).alias("nk"),
    )
    return (
        kret.groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_obs"),
            F.var_samp("r").alias("__v1"),
            F.var_samp(
                F.when(F.col("nk") == _VR_K, F.col("rk"))
            ).alias("__vk"),
        )
        .select(
            "event_type",
            "n_obs",
            dround(F.col("__v1"), 6).alias("var_1d"),
            dround(F.col("__vk"), 6).alias("var_kd"),
            dround(
                F.try_divide(F.col("__vk"), F.lit(_VR_K) * F.col("__v1")), 6
            ).alias("variance_ratio"),
        )
    )


@register(
    "d71_rfm_segmentation",
    oracle=f"""
    WITH anchor AS (
        SELECT MAX(o_orderdate) AS maxd FROM orders
    ), base AS (
        SELECT o_custkey AS custkey,
               DATE_DIFF('day', MAX(o_orderdate),
                         (SELECT maxd FROM anchor)) AS recency_days,
               CAST(COUNT(*) AS BIGINT) AS frequency,
               {sql_dround("SUM(o_totalprice)", 4)} AS monetary
        FROM orders
        GROUP BY o_custkey
    )
    SELECT custkey, recency_days, frequency, monetary,
           CAST(NTILE(5) OVER (ORDER BY recency_days DESC, custkey)
                AS BIGINT) AS r_score,
           CAST(NTILE(5) OVER (ORDER BY frequency ASC, custkey)
                AS BIGINT) AS f_score,
           CAST(NTILE(5) OVER (ORDER BY monetary ASC, custkey)
                AS BIGINT) AS m_score
    FROM base
    """,
)
def d71_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: per customer, recency (days since last
    order, against the dataset's max date), frequency (order count)
    and monetary (total spend), each scored 1-5 by NTILE quintile —
    5 = most recent / most frequent / highest spend. Every NTILE
    ordering carries the custkey tie-break, so bucket boundaries are
    total orders both engines agree on (and monetary is quantized by
    dround BEFORE scoring, so the sort key is the exact hashed
    value — the l22/l62 float-sort-key discipline).

    Scale: the base agg is one groupBy over orders; the three global
    NTILEs are single-partition sorts of the O(customers) collapsed
    frame — honest for a report-sized output, and the documented
    swap at 100 TB customers is broadcast quantile boundaries from
    a10's exact percentile (or a13's sketch) instead of NTILE."""
    orders = load_table(spark, sf_dir, "orders")
    anchor = orders.agg(F.max("o_orderdate").alias("maxd"))
    base = (
        orders.groupBy(F.col("o_custkey").alias("custkey"))
        .agg(
            F.max("o_orderdate").alias("lastd"),
            F.count("*").cast("bigint").alias("frequency"),
            dround(F.sum("o_totalprice"), 4).alias("monetary"),
        )
        .join(F.broadcast(anchor))
        .select(
            "custkey",
            F.datediff(F.col("maxd"), F.col("lastd")).alias("recency_days"),
            "frequency",
            "monetary",
        )
    )
    wr = Window.orderBy(F.desc("recency_days"), F.asc("custkey"))
    wf = Window.orderBy(F.asc("frequency"), F.asc("custkey"))
    wm = Window.orderBy(F.asc("monetary"), F.asc("custkey"))
    return base.select(
        "custkey",
        "recency_days",
        "frequency",
        "monetary",
        F.ntile(5).over(wr).cast("bigint").alias("r_score"),
        F.ntile(5).over(wf).cast("bigint").alias("f_score"),
        F.ntile(5).over(wm).cast("bigint").alias("m_score"),
    )

"""Securities-master statistical tests and regressions (SURVEY.md §2.11):
rank correlation, rolling beta, tracking error, variance ratio,
portfolio VaR decomposition, CUSUM changepoints, lead-lag
correlation, the Hurst exponent and cointegration screening.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from security_master_spark.datasets import load_table
from security_master_spark.functions.daily import daily_closes, daily_returns
from security_master_spark.functions.daily import DAILY_SQL as _DAILY_SQL
from security_master_spark.functions.daily import RETS_SQL as _RETS_SQL
from security_master_spark.functions.daily import daily_closes as _daily_closes_shared
from security_master_spark.functions.daily import daily_returns as _daily_returns
from security_master_spark.functions.rounding import dround, sql_dround
from security_master_spark.plans.registry import register


@register(
    "d65_spearman_corr",
    oracle=f"""
    WITH {_DAILY_SQL}, {_RETS_SQL}, pairs AS (
        SELECT a.event_type AS type_a, b.event_type AS type_b,
               a.day AS day, a.r AS ra, b.r AS rb
        FROM rr a JOIN rr b
          ON a.day = b.day AND a.event_type < b.event_type
    ), rk AS (
        SELECT type_a, type_b,
               ROW_NUMBER() OVER (PARTITION BY type_a, type_b
                                  ORDER BY ra, day) AS ka,
               ROW_NUMBER() OVER (PARTITION BY type_a, type_b
                                  ORDER BY rb, day) AS kb
        FROM pairs
    )
    SELECT type_a, type_b,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           {sql_dround("CORR(CAST(ka AS DOUBLE), CAST(kb AS DOUBLE))", 6)}
               AS spearman_rho
    FROM rk
    GROUP BY type_a, type_b
    """,
)
def d65_spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation of daily returns for every series
    pair — the outlier-robust dependence measure used where Pearson
    (d25-style moment correlation) is fooled by fat tails: rank the
    two return series over their COMMON days, then Pearson-correlate
    the ranks.

    Ranking uses ROW_NUMBER over (return, day): the day tie-break
    makes the permutation total and deterministic, and the return
    values themselves are bit-identical across engines (close/lag−1
    is pure IEEE arithmetic on parquet doubles), so both engines rank
    identically — the float is safe as a sort key HERE, unlike
    derived aggregates (l22 discipline), because it is not a
    summation. CORR of integer ranks then differs only in float
    association order → dround(6).

    Scale: everything after the first shuffle operates on the
    O(series·days) daily frame — the pair join is a day-keyed
    equi-join of that collapsed frame with a comparison residual
    (pairs = |types|² not |rows|²), and each rank window partitions
    by pair. The fact scan collapses FIRST; nothing pairwise ever
    touches raw events."""
    rr = _daily_returns(_daily_closes_shared(spark, sf_dir))
    a = rr.select(
        F.col("event_type").alias("type_a"),
        "day",
        F.col("r").alias("ra"),
    )
    b = rr.select(
        F.col("event_type").alias("type_b"),
        F.col("day").alias("day_b"),
        F.col("r").alias("rb"),
    )
    pairs = a.join(
        b,
        (F.col("day") == F.col("day_b"))
        & (F.col("type_a") < F.col("type_b")),
    )
    wa = Window.partitionBy("type_a", "type_b").orderBy("ra", "day")
    wb = Window.partitionBy("type_a", "type_b").orderBy("rb", "day")
    rk = pairs.select(
        "type_a",
        "type_b",
        F.row_number().over(wa).alias("ka"),
        F.row_number().over(wb).alias("kb"),
    )
    return rk.groupBy("type_a", "type_b").agg(
        F.count("*").cast("bigint").alias("n_days"),
        dround(
            F.corr(F.col("ka").cast("double"), F.col("kb").cast("double")),
            6,
        ).alias("spearman_rho"),
    )


@register(
    "d66_adjusted_close",
    oracle=f"""
    WITH {_DAILY_SQL}, marked AS (
        SELECT event_type, day, close,
               CASE WHEN date_part('day', day) % 10 = 0 THEN -1
                    WHEN date_part('day', day) % 7 = 0 THEN 1
                    ELSE 0 END AS log2f
        FROM daily
    ), net AS (
        SELECT event_type, day, close, log2f,
               COALESCE(SUM(log2f) OVER (
                   PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING
               ), 0) AS net_exp
        FROM marked
    )
    SELECT event_type,
           CAST(day AS DATE) AS trade_day,
           close,
           {sql_dround("POWER(CAST(2 AS DOUBLE), net_exp)", 6)}
               AS adj_factor,
           {sql_dround("close * POWER(CAST(2 AS DOUBLE), net_exp)", 6)}
               AS adj_close
    FROM net
    """,
)
def d66_adjusted_close(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corporate-action back-adjusted close: each day's adjustment
    factor is the running PRODUCT of all LATER days' action factors
    (the standard back-adjustment convention — today's raw price is
    already adjusted, history gets divided by subsequent splits).
    Actions are minted deterministically from the calendar: 2:1 splits
    on day-of-month multiples of 10 (factor ½), 1:2 reverse splits on
    multiples of 7 that aren't also multiples of 10 (factor 2).

    The distributed cumulative product: with power-of-two factors the
    product collapses EXACTLY to 2^(Σ log2-factors) — one suffix-sum
    window over integers, then one pow. For arbitrary positive
    factors the same plan swaps the integer column for ln(factor) and
    the pow for exp() (the general log-space segmented cumprod); the
    integer form is chosen here because 2^n is exact IEEE on both
    engines, so the oracle hash certifies the windowing with zero
    transcendental noise.

    Scale: one shuffle collapses the fact table to O(series·days);
    the suffix window runs on that collapsed frame per series. No
    sequential scan — the suffix sum is the same expanding-window
    machinery as d63's lost-demand max, frame-reversed."""
    daily = _daily_closes_shared(spark, sf_dir)
    dom = F.dayofmonth("day")
    marked = daily.withColumn(
        "log2f",
        F.when(dom % 10 == 0, F.lit(-1))
        .when(dom % 7 == 0, F.lit(1))
        .otherwise(F.lit(0)),
    )
    wfwd = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(1, Window.unboundedFollowing)
    )
    net = marked.withColumn(
        "net_exp", F.coalesce(F.sum("log2f").over(wfwd), F.lit(0))
    )
    factor = F.pow(F.lit(2.0), F.col("net_exp"))
    return net.select(
        "event_type",
        F.col("day").cast("date").alias("trade_day"),
        "close",
        dround(factor, 6).alias("adj_factor"),
        dround(F.col("close") * factor, 6).alias("adj_close"),
    )


#: trailing OLS window length (trading days).
_BETA_WIN = 20


@register(
    "d67_rolling_beta",
    oracle=f"""
    WITH {_DAILY_SQL}, {_RETS_SQL}, mkt AS (
        SELECT day, AVG(r) AS m FROM rr GROUP BY day
    ), joined AS (
        SELECT rr.event_type, rr.day, rr.r AS x, mkt.m AS y
        FROM rr JOIN mkt ON mkt.day = rr.day
    ), sums AS (
        SELECT event_type, day,
               COUNT(*) OVER w AS n,
               SUM(x) OVER w AS sx, SUM(y) OVER w AS sy,
               SUM(x * y) OVER w AS sxy, SUM(y * y) OVER w AS syy
        FROM joined
        WINDOW w AS (PARTITION BY event_type ORDER BY day
                     ROWS BETWEEN {_BETA_WIN - 1} PRECEDING
                              AND CURRENT ROW)
    ), beta AS (
        SELECT event_type, day, n,
               (n * sxy - sx * sy) / NULLIF(n * syy - sy * sy, 0) AS b,
               sx / n AS mx, sy / n AS my
        FROM sums WHERE n = {_BETA_WIN}
    )
    SELECT event_type,
           CAST(day AS DATE) AS trade_day,
           {sql_dround("b", 6)} AS beta,
           {sql_dround("mx - b * my", 6)} AS alpha
    FROM beta
    """,
)
def d67_rolling_beta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 20-day OLS beta (and alpha) of each series'
    daily returns against the equal-weight market return — the CAPM
    exposure every risk report leads with. Beta is assembled from
    windowed SUMS ((nΣxy−ΣxΣy)/(nΣy²−(Σy)²)) rather than a windowed
    covar/var call: the five running sums are plain aggregates every
    engine windows identically, where covar_samp-as-a-window is not
    universally available. A zero-variance market window divides to
    NULL on both engines (NULLIF / try_divide) and only full windows
    (n = 20) emit.

    The market is the equal-weight mean across ALL series including
    the asset itself (index convention; with |series| = 5 the
    self-weight is honest and identical both engines).

    Scale: the market frame is O(days) — broadcast back onto the
    O(series·days) return frame; the five window sums share ONE frame
    spec so they run in a single window pass per series. Nothing
    here rescans raw events after the first collapse."""
    rr = _daily_returns(_daily_closes_shared(spark, sf_dir))
    mkt = rr.groupBy("day").agg(F.avg("r").alias("m"))
    joined = rr.join(F.broadcast(mkt), "day").select(
        "event_type", "day", F.col("r").alias("x"), F.col("m").alias("y")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-(_BETA_WIN - 1), Window.currentRow)
    )
    sums = joined.select(
        "event_type",
        "day",
        F.count("*").over(w).alias("n"),
        F.sum("x").over(w).alias("sx"),
        F.sum("y").over(w).alias("sy"),
        F.sum(F.col("x") * F.col("y")).over(w).alias("sxy"),
        F.sum(F.col("y") * F.col("y")).over(w).alias("syy"),
    ).filter(F.col("n") == _BETA_WIN)
    b = F.try_divide(
        F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"),
        F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"),
    )
    return sums.select(
        "event_type",
        F.col("day").cast("date").alias("trade_day"),
        dround(b, 6).alias("beta"),
        dround(F.col("sx") / F.col("n") - b * (F.col("sy") / F.col("n")), 6).alias(
            "alpha"
        ),
    )


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


#: one-sided normal quantiles for the VaR confidence levels — exact
#: double literals shared by both engines.
_Z95 = 1.6448536269514722
_Z99 = 2.3263478740408408


@register(
    "d78_parametric_portfolio_var",
    oracle=f"""
    WITH {_DAILY_SQL}, {_RETS_SQL}, k AS (
        SELECT COUNT(DISTINCT event_type) AS k FROM rr
    ), fulldays AS (
        SELECT day FROM rr GROUP BY day
        HAVING COUNT(*) = (SELECT k FROM k)
    ), aligned AS (
        SELECT r.event_type, r.day, r.r
        FROM rr r JOIN fulldays USING (day)
    ), port AS (
        SELECT day, SUM(r) / (SELECT k FROM k) AS p
        FROM aligned GROUP BY day
    ), direct AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
               STDDEV_SAMP(p) AS vol_a
        FROM port
    ), pervol AS (
        SELECT event_type, STDDEV_SAMP(r) AS s
        FROM aligned GROUP BY event_type
    ), pairs AS (
        SELECT a.event_type AS ea, b.event_type AS eb,
               COVAR_SAMP(a.r, b.r) AS cv
        FROM aligned a
        JOIN aligned b ON a.day = b.day AND a.event_type <= b.event_type
        GROUP BY 1, 2
    ), decomp AS (
        SELECT SUM(cv * CASE WHEN ea = eb THEN 1 ELSE 2 END)
               / ((SELECT k FROM k) * (SELECT k FROM k)) AS var_b
        FROM pairs
    ), sumvol AS (
        SELECT SUM(s) / (SELECT k FROM k) AS wvol FROM pervol
    )
    SELECT n_days,
           CAST((SELECT k FROM k) AS BIGINT) AS n_series,
           {sql_dround("vol_a", 6)} AS port_vol,
           {sql_dround("SQRT(var_b)", 6)} AS port_vol_decomp,
           {sql_dround("vol_a - SQRT(var_b)", 6)} AS decomp_residual,
           {sql_dround(f"{_Z95} * vol_a", 6)} AS var_95,
           {sql_dround(f"{_Z99} * vol_a", 6)} AS var_99,
           {sql_dround("wvol / vol_a", 6)} AS diversification_ratio
    FROM direct, decomp, sumvol
    """,
)
def d78_parametric_portfolio_var(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Parametric (variance-covariance) portfolio VaR over the
    equal-weight portfolio of all series, with the decomposition
    identity certified IN the result: the direct spelling (stddev of
    the daily portfolio return) and the decomposition spelling
    (√(wᵀΣw) from pairwise sample covariances) must agree —
    `decomp_residual` rounds to 0 because Var(Σwᵢrᵢ) = ΣᵢΣⱼwᵢwⱼσᵢⱼ is
    exact for sample moments over the SAME aligned days. Also reports
    the diversification ratio (Σwᵢσᵢ / σ_p ≥ 1).

    Shape: everything happens on the collapsed daily-returns frame
    (O(series × days), never the ticks). Alignment (days where every
    series has a return — the correctness condition for the identity)
    is a groupBy + 1-row-broadcast count filter; the covariance
    matrix is a day-key self-join of the tiny frame (O(days · K²)
    with K = #series, K ≪ days); every series-count division is a
    1-row broadcast. At 100 TB the daily collapse IS the operator —
    the risk math never touches fact-table scale."""
    # Persisted (round-15): rets feeds k_df / fulldays / aligned, and
    # aligned feeds port, pervol, and BOTH sides of the covariance
    # self-join — without the cuts the tick->daily collapse re-derived
    # per consumer. Both frames are the collapsed O(series x days)
    # daily panel, never tick-scale.
    rets = daily_returns(daily_closes(spark, sf_dir)).persist()
    k_df = rets.select(F.countDistinct("event_type").alias("k"))
    fulldays = (
        rets.groupBy("day")
        .agg(F.count("*").alias("c"))
        .join(F.broadcast(k_df), F.col("c") == F.col("k"))
        .select("day")
    )
    aligned = rets.join(F.broadcast(fulldays), "day").persist()
    port = (
        aligned.groupBy("day")
        .agg(F.sum("r").alias("sr"))
        .crossJoin(F.broadcast(k_df))
        .select("day", (F.col("sr") / F.col("k")).alias("p"))
    )
    direct = port.agg(
        F.count("*").cast("bigint").alias("n_days"),
        F.stddev_samp("p").alias("vol_a"),
    )
    pervol = aligned.groupBy("event_type").agg(
        F.stddev_samp("r").alias("s")
    )
    a, b = aligned.alias("a"), aligned.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.day") == F.col("b.day"))
            & (F.col("a.event_type") <= F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("ea"),
            F.col("b.event_type").alias("eb"),
        )
        .agg(F.covar_samp("a.r", "b.r").alias("cv"))
    )
    decomp = (
        pairs.agg(
            F.sum(
                F.col("cv")
                * F.when(F.col("ea") == F.col("eb"), 1).otherwise(2)
            ).alias("sv")
        )
        .crossJoin(F.broadcast(k_df))
        .select((F.col("sv") / (F.col("k") * F.col("k"))).alias("var_b"))
    )
    sumvol = (
        pervol.agg(F.sum("s").alias("ss"))
        .crossJoin(F.broadcast(k_df))
        .select((F.col("ss") / F.col("k")).alias("wvol"))
    )
    return (
        direct.crossJoin(decomp)
        .crossJoin(sumvol)
        .crossJoin(F.broadcast(k_df))
        .select(
            "n_days",
            F.col("k").cast("bigint").alias("n_series"),
            dround(F.col("vol_a"), 6).alias("port_vol"),
            dround(F.sqrt(F.col("var_b")), 6).alias("port_vol_decomp"),
            dround(F.col("vol_a") - F.sqrt(F.col("var_b")), 6).alias(
                "decomp_residual"
            ),
            dround(F.lit(_Z95) * F.col("vol_a"), 6).alias("var_95"),
            dround(F.lit(_Z99) * F.col("vol_a"), 6).alias("var_99"),
            dround(F.col("wvol") / F.col("vol_a"), 6).alias(
                "diversification_ratio"
            ),
        )
    )


#: CUSUM decision threshold multiplier (≈ 95% under H0 for a
#: Brownian-bridge max — the standard KS-style constant).
_CUSUM_K = 1.358


@register(
    "d79_cusum_changepoint",
    oracle=f"""
    WITH {_DAILY_SQL}, {_RETS_SQL}, z AS (
        SELECT event_type, day,
               (r - AVG(r) OVER (PARTITION BY event_type))
               / NULLIF(STDDEV_SAMP(r) OVER (PARTITION BY event_type), 0)
                   AS z,
               COUNT(*) OVER (PARTITION BY event_type) AS n
        FROM rr
    ), s AS (
        SELECT event_type, day, n,
               SUM(z) OVER (PARTITION BY event_type ORDER BY day
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS cusum
        FROM z
    ), cu_ranked AS (
        SELECT event_type, day, n, cusum,
               ROW_NUMBER() OVER (
                   PARTITION BY event_type
                   ORDER BY {sql_dround("ABS(cusum)", 9)} DESC, day ASC
               ) AS rn
        FROM s
    )
    SELECT event_type,
           CAST(n AS BIGINT) AS n_days,
           {sql_dround("ABS(cusum)", 6)} AS s_max_abs,
           day AS change_day,
           {sql_dround(f"{_CUSUM_K} * SQRT(n)", 6)} AS threshold,
           {sql_dround("ABS(cusum)", 9)} > {_CUSUM_K} * SQRT(n)
               AS is_changepoint
    FROM cu_ranked WHERE rn = 1
    """,
)
def d79_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint detection per series: standardize the daily
    returns by the full-series mean/std, accumulate Sₜ = Σzᵢ, and
    report the max |Sₜ|, the day attaining it (the classic changepoint
    location estimate), and the KS-style 95% decision
    (|S|max > 1.358·√n) — the drift monitor a data-quality or
    regime-detection pipeline runs per instrument.

    Determinism: the argmax ranks on the 9dp-rounded |CUSUM| (the
    driver's own float tolerance) with day ASC as the tie-break, so
    both engines pick the same row even when their partial-sum
    orderings differ in the last ulp. One sort per series partition
    serves the standardizing window, the running sum, AND the rank —
    Spark fuses same-(partition, order) windows into a single
    WindowExec pass over the collapsed daily frame."""
    rets = daily_returns(daily_closes(spark, sf_dir))
    return cusum_panel(rets)


def cusum_panel(rets: DataFrame) -> DataFrame:
    """The CUSUM pipeline over any (event_type, day, r) frame — the
    d79 core, factored out so synthetic planted-changepoint frames
    exercise the identical plan (tests/test_round7_invariants.py)."""
    wp = Window.partitionBy("event_type")
    wrun = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    z = rets.select(
        "event_type",
        "day",
        F.try_divide(
            F.col("r") - F.avg("r").over(wp),
            F.nullif(F.stddev_samp("r").over(wp), F.lit(0.0)),
        ).alias("z"),
        F.count("*").over(wp).alias("n"),
    )
    s = z.select(
        "event_type", "day", "n", F.sum("z").over(wrun).alias("cusum")
    )
    wrank = Window.partitionBy("event_type").orderBy(
        dround(F.abs(F.col("cusum")), 9).desc(), F.col("day").asc()
    )
    return (
        s.withColumn("rn", F.row_number().over(wrank))
        .filter(F.col("rn") == 1)
        .select(
            "event_type",
            F.col("n").cast("bigint").alias("n_days"),
            dround(F.abs(F.col("cusum")), 6).alias("s_max_abs"),
            F.col("day").alias("change_day"),
            dround(F.lit(_CUSUM_K) * F.sqrt(F.col("n")), 6).alias(
                "threshold"
            ),
            (
                dround(F.abs(F.col("cusum")), 9)
                > F.lit(_CUSUM_K) * F.sqrt(F.col("n"))
            ).alias("is_changepoint"),
        )
    )


#: cross-correlation lags (trading days); negative = a leads b.
_XCORR_LAGS = (-2, -1, 0, 1, 2)
_XCORR_LAGS_SQL = ", ".join(f"({x})" for x in _XCORR_LAGS)


@register(
    "d80_lead_lag_xcorr",
    oracle=f"""
    WITH {_DAILY_SQL}, {_RETS_SQL}, rd AS (
        SELECT event_type,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY event_type ORDER BY day
               ) AS BIGINT) AS idx,
               r
        FROM rr
    ), lags(lag) AS (
        VALUES {_XCORR_LAGS_SQL}
    )
    SELECT a.event_type AS et_a,
           b.event_type AS et_b,
           CAST(l.lag AS BIGINT) AS lag,
           CAST(COUNT(*) AS BIGINT) AS n,
           {sql_dround("CORR(a.r, b.r)", 6)} AS xcorr
    FROM rd a
    CROSS JOIN lags l
    JOIN rd b ON b.idx = a.idx + l.lag
             AND a.event_type < b.event_type
    GROUP BY 1, 2, 3
    """,
)
def d80_lead_lag_xcorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lead-lag cross-correlation panel: corr(rₐ(t), r_b(t + lag)) for
    every ordered series pair at lags −2..+2 trading days — the
    price-discovery screen that finds which instrument moves first
    (the off-zero lag with the correlation peak).

    Shape: lag means TRADING position, not calendar date — each
    series gets a dense per-series ROW_NUMBER trading-day index (one
    window sort per series, partitioned by event_type, on a frame ~6
    orders smaller than the fact table), so lag ±1 across a weekend/
    holiday gap pairs adjacent SESSIONS instead of silently dropping
    (the round-8 ADVICE fix: calendar DATE arithmetic lost those
    pairs). Each lag is then an equi-join on the shifted index (never
    a per-lag re-sort, never a range join); the 5-row lag dim
    broadcasts, and CORR's partial aggregation map-side-combines per
    (pair, lag). O(days · K² · L) total."""
    rets = daily_returns(daily_closes(spark, sf_dir)).select(
        "event_type",
        F.row_number()
        .over(
            Window.partitionBy("event_type").orderBy("day")
        )
        .cast("bigint")
        .alias("idx"),
        "r",
    )
    lags = spark.createDataFrame(
        [(x,) for x in _XCORR_LAGS], "lag int"
    )
    a, b = rets.alias("a"), rets.alias("b")
    return (
        a.crossJoin(F.broadcast(lags))
        .join(
            b,
            (F.col("b.idx") == F.col("a.idx") + F.col("lag"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("et_a"),
            F.col("b.event_type").alias("et_b"),
            F.col("lag").cast("bigint").alias("lag"),
        )
        .agg(
            F.count("*").cast("bigint").alias("n"),
            dround(F.corr("a.r", "b.r"), 6).alias("xcorr"),
        )
    )


#: R/S block sizes (trading days) — the three scales the log-log
#: slope regresses over.
_RS_SIZES = (8, 16, 32)


def _rs_size_sql(s: int) -> str:
    """One per-size CTE chain: full blocks of ``s`` returns, within
    each block the cumulative deviation from the block mean, then
    R = max(W) − min(W) over S = population stddev, averaged across
    the series' blocks."""
    return f"""
        SELECT event_type, {s} AS sz,
               AVG(rs) AS mean_rs
        FROM (
            SELECT event_type, blk,
                   (MAX(w) - MIN(w))
                       / NULLIF(SQRT(SUM(dev * dev) / COUNT(*)), 0)
                       AS rs
            FROM (
                SELECT event_type, blk, dev,
                       SUM(dev) OVER (PARTITION BY event_type, blk
                                      ORDER BY day
                                      ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND CURRENT ROW) AS w
                FROM (
                    SELECT event_type, day, blk,
                           r - AVG(r) OVER (PARTITION BY event_type,
                                            blk) AS dev,
                           COUNT(*) OVER (PARTITION BY event_type,
                                          blk) AS cnt
                    FROM (
                        SELECT event_type, day, r,
                               (ROW_NUMBER() OVER (
                                   PARTITION BY event_type
                                   ORDER BY day) - 1) // {s} AS blk
                        FROM rr
                    )
                ) WHERE cnt = {s}
            ) GROUP BY event_type, blk
        ) WHERE rs IS NOT NULL
        GROUP BY event_type"""


@register(
    "d83_hurst_rs",
    oracle=f"""
    WITH {_DAILY_SQL}, {_RETS_SQL}, rs_panel AS (
        {" UNION ALL ".join(_rs_size_sql(s) for s in _RS_SIZES)}
    )
    SELECT event_type,
           {sql_dround(
               "MAX(CASE WHEN sz = 8 THEN mean_rs END)", 6)} AS rs_8,
           {sql_dround(
               "MAX(CASE WHEN sz = 16 THEN mean_rs END)", 6)} AS rs_16,
           {sql_dround(
               "MAX(CASE WHEN sz = 32 THEN mean_rs END)", 6)} AS rs_32,
           {sql_dround(
               "REGR_SLOPE(LN(mean_rs), LN(CAST(sz AS DOUBLE)))", 6
           )} AS hurst
    FROM rs_panel
    GROUP BY event_type
    """,
)
def d83_hurst_rs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hurst exponent by rescaled-range analysis: split each series'
    daily returns into full blocks of 8/16/32 days; per block compute
    R (range of the cumulative deviation from the block mean) over S
    (population stddev); average R/S per scale; H = the slope of
    ln(R/S) against ln(scale) via REGR_SLOPE — random walks give
    H ≈ 0.5, trends > 0.5, mean reversion < 0.5. d70's variance
    ratio is the two-scale cousin; this is the classic Mandelbrot
    multi-scale spelling, with the per-scale means published so the
    regression inputs are themselves hash-certified.

    Shape: per scale, ONE chain of same-key windows over the
    collapsed daily frame (block id from a per-series row_number,
    block mean + count as partition windows, the cumulative deviation
    as a running sum — all sharing the (series, block) sort), then a
    count-only rollup; the three scales union ~O(series) rows and the
    final REGR_SLOPE folds 3 points per series. Nothing here ever
    touches tick scale, and no scale requires a second shuffle."""
    # Persisted (round-15): the three R/S scales each re-derived the
    # full tick->daily-close window collapse + returns lag; the cached
    # frame is the collapsed O(series x days) daily-returns panel,
    # never tick-scale (1.25 -> measured below, same-era A/B).
    rets = daily_returns(daily_closes(spark, sf_dir)).persist()
    panels = []
    for s in _RS_SIZES:
        widx = Window.partitionBy("event_type").orderBy("day")
        blk = F.floor((F.row_number().over(widx) - 1) / s)
        based = rets.select(
            "event_type", "day", "r", blk.alias("blk")
        )
        wblk = Window.partitionBy("event_type", "blk")
        wrun = (
            Window.partitionBy("event_type", "blk")
            .orderBy("day")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        dev = based.select(
            "event_type",
            "day",
            "blk",
            (F.col("r") - F.avg("r").over(wblk)).alias("dev"),
            F.count("*").over(wblk).alias("cnt"),
        ).filter(F.col("cnt") == s)
        w = dev.select(
            "event_type",
            "blk",
            "dev",
            F.sum("dev").over(wrun).alias("w"),
        )
        rs = (
            w.groupBy("event_type", "blk")
            .agg(
                F.try_divide(
                    F.max("w") - F.min("w"),
                    F.nullif(
                        F.sqrt(
                            F.sum(F.col("dev") * F.col("dev"))
                            / F.count("*")
                        ),
                        F.lit(0.0),
                    ),
                ).alias("rs")
            )
            .filter(F.col("rs").isNotNull())
        )
        panels.append(
            rs.groupBy("event_type")
            .agg(F.avg("rs").alias("mean_rs"))
            .withColumn("sz", F.lit(s))
        )
    panel = panels[0].unionByName(panels[1]).unionByName(panels[2])
    return panel.groupBy("event_type").agg(
        dround(
            F.max(F.when(F.col("sz") == 8, F.col("mean_rs"))), 6
        ).alias("rs_8"),
        dround(
            F.max(F.when(F.col("sz") == 16, F.col("mean_rs"))), 6
        ).alias("rs_16"),
        dround(
            F.max(F.when(F.col("sz") == 32, F.col("mean_rs"))), 6
        ).alias("rs_32"),
        dround(
            F.regr_slope(
                F.log(F.col("mean_rs")),
                F.log(F.col("sz").cast("double")),
            ),
            6,
        ).alias("hurst"),
    )


#: 5% critical value of the ADF t-distribution with intercept
#: (Dickey-Fuller tau-mu, large n).
_ADF_CRIT_5 = -2.86

#: the ADF t-stat from REGR_* aggregates (regression of Δe on e_{t-1}
#: with intercept): t = slope / SE, SE² = SSE / ((n−2)·Sxx),
#: SSE = Syy − slope²·Sxx.
_ADF_T_SQL = (
    "regr_slope(de, elag) / NULLIF(SQRT("
    "(regr_syy(de, elag)"
    " - regr_slope(de, elag) * regr_slope(de, elag)"
    "   * regr_sxx(de, elag))"
    " / ((regr_count(de, elag) - 2) * regr_sxx(de, elag))"
    "), 0)"
)


@register(
    "d87_cointegration_adf",
    oracle=f"""
    WITH {_DAILY_SQL}, paired AS (
        SELECT a.event_type AS et_a, b.event_type AS et_b,
               a.day, a.close AS pa, b.close AS pb
        FROM daily a
        JOIN daily b ON a.day = b.day
                    AND a.event_type < b.event_type
    ), params AS (
        SELECT et_a, et_b,
               regr_slope(pa, pb) AS beta,
               regr_intercept(pa, pb) AS alpha,
               regr_count(pa, pb) AS n
        FROM paired GROUP BY 1, 2
    ), resid AS (
        SELECT p.et_a, p.et_b, p.day, q.n,
               p.pa - q.alpha - q.beta * p.pb AS e
        FROM paired p
        JOIN params q ON q.et_a = p.et_a AND q.et_b = p.et_b
    ), lagged AS (
        SELECT et_a, et_b, n,
               e - LAG(e) OVER (PARTITION BY et_a, et_b
                                ORDER BY day) AS de,
               LAG(e) OVER (PARTITION BY et_a, et_b
                            ORDER BY day) AS elag
        FROM resid
    )
    SELECT l.et_a, l.et_b,
           CAST(MAX(l.n) AS BIGINT) AS n_days,
           {sql_dround("MAX(q.beta)", 6)} AS hedge_beta,
           {sql_dround(_ADF_T_SQL, 6)} AS adf_t,
           COALESCE({_ADF_T_SQL} < {_ADF_CRIT_5}, FALSE)
               AS is_cointegrated
    FROM lagged l
    JOIN params q ON q.et_a = l.et_a AND q.et_b = l.et_b
    WHERE l.de IS NOT NULL
    GROUP BY l.et_a, l.et_b
    """,
)
def d87_cointegration_adf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engle-Granger cointegration screen for every ordered series
    pair: (1) the hedge regression pa = α + β·pb over aligned daily
    closes; (2) an augmented-Dickey-Fuller test (zero lags, with
    intercept) on the residual — Δeₜ regressed on eₜ₋₁, where the
    t-statistic comes CLOSED-FORM from the five REGR_* aggregates
    (t = γ/SE, SE² = (Syy − γ²Sxx)/((n−2)Sxx)), flagged against the
    5% tau-mu critical value. This is the statistical gate in front
    of d44's pair-spread z-score and d59's min-variance pairing: a
    z-score on a non-cointegrated spread is noise.

    Shape: the pair panel is a day-key self-join of the collapsed
    daily frame (O(days · K²)); both regression passes are map-side-
    combined REGR_* folds on the pair key, and the residual lag is
    one window per pair sharing that key — three same-key stages, no
    iteration, no driver-side math. The same plan at 100 TB screens
    thousands of candidate pairs in two shuffles."""
    daily = daily_closes(spark, sf_dir)
    a, b = daily.alias("a"), daily.alias("b")
    paired = a.join(
        b,
        (F.col("a.day") == F.col("b.day"))
        & (F.col("a.event_type") < F.col("b.event_type")),
    ).select(
        F.col("a.event_type").alias("et_a"),
        F.col("b.event_type").alias("et_b"),
        F.col("a.day").alias("day"),
        F.col("a.close").alias("pa"),
        F.col("b.close").alias("pb"),
    )
    params = paired.groupBy("et_a", "et_b").agg(
        F.regr_slope("pa", "pb").alias("beta"),
        F.regr_intercept("pa", "pb").alias("alpha"),
        F.regr_count("pa", "pb").alias("n"),
    )
    resid = paired.join(params, ["et_a", "et_b"]).select(
        "et_a",
        "et_b",
        "day",
        "n",
        (
            F.col("pa") - F.col("alpha") - F.col("beta") * F.col("pb")
        ).alias("e"),
    )
    wlag = Window.partitionBy("et_a", "et_b").orderBy("day")
    lagged = resid.select(
        "et_a",
        "et_b",
        "n",
        (F.col("e") - F.lag("e").over(wlag)).alias("de"),
        F.lag("e").over(wlag).alias("elag"),
    ).filter(F.col("de").isNotNull())
    gamma = F.regr_slope("de", "elag")
    se = F.sqrt(
        (
            F.regr_syy("de", "elag")
            - gamma * gamma * F.regr_sxx("de", "elag")
        )
        / ((F.regr_count("de", "elag") - 2) * F.regr_sxx("de", "elag"))
    )
    adf_t = F.try_divide(gamma, F.nullif(se, F.lit(0.0)))
    return (
        lagged.join(
            params.select("et_a", "et_b", "beta"), ["et_a", "et_b"]
        )
        .groupBy("et_a", "et_b")
        .agg(
            F.max("n").cast("bigint").alias("n_days"),
            dround(F.max("beta"), 6).alias("hedge_beta"),
            dround(adf_t, 6).alias("adf_t"),
            F.coalesce(adf_t < _ADF_CRIT_5, F.lit(False)).alias(
                "is_cointegrated"
            ),
        )
    )

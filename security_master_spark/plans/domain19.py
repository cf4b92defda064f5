"""Round-7 securities-domain batch: portfolio risk aggregation
(SURVEY.md §2.11) — parametric portfolio VaR with its
variance-covariance decomposition certified in-query, CUSUM
changepoint detection, and lead-lag cross-correlation discovery.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from security_master_spark.functions.daily import (
    DAILY_SQL as _DAILY_SQL,
)
from security_master_spark.functions.daily import (
    RETS_SQL as _RETS_SQL,
)
from security_master_spark.functions.daily import daily_closes, daily_returns
from security_master_spark.functions.rounding import dround, sql_dround
from security_master_spark.plans.registry import register

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

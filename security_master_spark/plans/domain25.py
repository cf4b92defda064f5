"""Round-7 securities-domain batch 7 (SURVEY.md §2.11): Engle-Granger
cointegration screening — hedge regression + closed-form ADF t-stat
on the residual, the statistical backbone of every pairs-trading desk
(d44's spread z-score ASSUMES the pair cointegrates; this tests it).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from security_master_spark.functions.daily import (
    DAILY_SQL as _DAILY_SQL,
)
from security_master_spark.functions.daily import daily_closes
from security_master_spark.functions.rounding import dround, sql_dround
from security_master_spark.plans.registry import register

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

"""Round-7 securities-domain batch 4 (SURVEY.md §2.11): the
information coefficient (IC) panel — the factor-evaluation staple
that scores a signal by the daily cross-sectional rank correlation
with next-day returns.
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

#: minimum cross-section width for a day's IC to count.
_IC_MIN_N = 3


@register(
    "d84_information_coefficient",
    oracle=f"""
    WITH {_DAILY_SQL}, {_RETS_SQL}, sigfwd AS (
        SELECT event_type, day, r AS signal,
               LEAD(r) OVER (PARTITION BY event_type ORDER BY day)
                   AS fwd
        FROM rr
    ), xs AS (
        SELECT event_type, day,
               RANK() OVER (PARTITION BY day
                            ORDER BY signal, event_type) AS rs,
               RANK() OVER (PARTITION BY day
                            ORDER BY fwd, event_type) AS rf,
               COUNT(*) OVER (PARTITION BY day) AS n_xs
        FROM sigfwd WHERE fwd IS NOT NULL
    ), daily_ic AS (
        SELECT day,
               CORR(CAST(rs AS DOUBLE), CAST(rf AS DOUBLE)) AS ic
        FROM xs WHERE n_xs >= {_IC_MIN_N}
        GROUP BY day
    )
    SELECT CAST(COUNT(ic) AS BIGINT) AS n_days,
           {sql_dround("AVG(ic)", 6)} AS mean_ic,
           {sql_dround("STDDEV_SAMP(ic)", 6)} AS std_ic,
           {sql_dround("AVG(ic) / NULLIF(STDDEV_SAMP(ic), 0)", 6)}
               AS icir,
           {sql_dround(
               "AVG(ic) / NULLIF(STDDEV_SAMP(ic)"
               " / SQRT(COUNT(ic)), 0)", 6)} AS t_stat
    FROM daily_ic
    """,
)
def d84_information_coefficient(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Information coefficient panel: use today's return as the
    signal, tomorrow's as the outcome, rank both within each day's
    cross-section, and let ICₜ = the daily Pearson correlation of the
    ranks (= Spearman); publish mean IC, its volatility, the IC
    information ratio, and the t-stat — the standard "does this
    factor predict?" scorecard (d65 is the pairwise-series Spearman;
    this is the per-DAY cross-sectional one every factor report
    runs).

    Determinism: ranks tie-break on the series key, so the rank
    lattice is exact integers on both engines and CORR's inputs are
    identical — no float-ordering hazard. Shape: one lead window per
    series, two rank windows sharing the per-day sort, one per-day
    CORR (map-side-combined), one 1-row summary. Days narrower than
    {_IC_MIN_N} series drop out via a plain windowed count filter —
    no dataset-wide constant, no broadcast."""
    rets = daily_returns(daily_closes(spark, sf_dir))
    wlead = Window.partitionBy("event_type").orderBy("day")
    sigfwd = rets.select(
        "event_type",
        "day",
        F.col("r").alias("signal"),
        F.lead("r").over(wlead).alias("fwd"),
    ).filter(F.col("fwd").isNotNull())
    wday_s = Window.partitionBy("day").orderBy("signal", "event_type")
    wday_f = Window.partitionBy("day").orderBy("fwd", "event_type")
    wday = Window.partitionBy("day")
    xs = sigfwd.select(
        "day",
        F.rank().over(wday_s).cast("double").alias("rs"),
        F.rank().over(wday_f).cast("double").alias("rf"),
        F.count("*").over(wday).alias("n_xs"),
    ).filter(F.col("n_xs") >= _IC_MIN_N)
    daily_ic = xs.groupBy("day").agg(F.corr("rs", "rf").alias("ic"))
    return daily_ic.agg(
        F.count("ic").cast("bigint").alias("n_days"),
        dround(F.avg("ic"), 6).alias("mean_ic"),
        dround(F.stddev_samp("ic"), 6).alias("std_ic"),
        dround(
            F.try_divide(
                F.avg("ic"), F.nullif(F.stddev_samp("ic"), F.lit(0.0))
            ),
            6,
        ).alias("icir"),
        dround(
            F.try_divide(
                F.avg("ic"),
                F.nullif(
                    F.stddev_samp("ic") / F.sqrt(F.count("ic")),
                    F.lit(0.0),
                ),
            ),
            6,
        ).alias("t_stat"),
    )

"""Round-6 securities-domain batch 3 (SURVEY.md §2.11): rank
correlation between return series, corporate-action back-adjustment
(the distributed cumulative-product pattern), and rolling OLS beta —
three cross-sectional/time-series primitives every master needs.
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
from security_master_spark.functions.daily import (
    daily_closes as _daily_closes_shared,
)
from security_master_spark.functions.daily import (
    daily_returns as _daily_returns,
)
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

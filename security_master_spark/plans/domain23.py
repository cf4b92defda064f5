"""Round-7 securities-domain batch 5 (SURVEY.md §2.11): up/down
capture ratios — the asymmetric-beta scorecard (how much of the
market's up days does this series capture vs how much of the down
days it suffers).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
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


@register(
    "d85_capture_ratios",
    oracle=f"""
    WITH {_DAILY_SQL}, {_RETS_SQL}, mkt AS (
        SELECT day, AVG(r) AS mr FROM rr GROUP BY day
    ), joined AS (
        SELECT rr.event_type, rr.day, rr.r, m.mr,
               CASE WHEN m.mr > 0 THEN 1
                    WHEN m.mr < 0 THEN -1 ELSE 0 END AS side
        FROM rr JOIN mkt m USING (day)
    )
    SELECT event_type,
           CAST(SUM(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_up,
           CAST(SUM(CASE WHEN side = -1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_down,
           {sql_dround(
               "AVG(CASE WHEN side = 1 THEN r END)"
               " / NULLIF(AVG(CASE WHEN side = 1 THEN mr END), 0)", 6
           )} AS up_capture,
           {sql_dround(
               "AVG(CASE WHEN side = -1 THEN r END)"
               " / NULLIF(AVG(CASE WHEN side = -1 THEN mr END), 0)", 6
           )} AS down_capture,
           {sql_dround(
               "(AVG(CASE WHEN side = 1 THEN r END)"
               " / NULLIF(AVG(CASE WHEN side = 1 THEN mr END), 0))"
               " / NULLIF(AVG(CASE WHEN side = -1 THEN r END)"
               " / NULLIF(AVG(CASE WHEN side = -1 THEN mr END), 0), 0)",
               6
           )} AS capture_spread
    FROM joined
    GROUP BY event_type
    """,
)
def d85_capture_ratios(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Up/down capture ratios vs the equal-weight market: on
    market-up days, the series' average return over the market's
    average return (up capture); same on market-down days (down
    capture); and their quotient — the asymmetric-beta scorecard
    behind 'defensive vs aggressive' fund classifications (d67's
    rolling beta is the symmetric cousin). Flat market days (mr = 0)
    belong to neither side by construction.

    Shape: the market proxy is one day-key groupBy of the collapsed
    daily-returns frame joined straight back on day (the d67/d68
    market-join discipline — at scale the per-day market frame is
    O(days) and broadcasts); the conditional averages fold in ONE
    map-side-combined groupBy per series. try_divide/NULLIF guards a
    one-sided fixture (no up or no down days) identically on both
    engines."""
    rets = daily_returns(daily_closes(spark, sf_dir))
    mkt = rets.groupBy("day").agg(F.avg("r").alias("mr"))
    side = (
        F.when(F.col("mr") > 0, 1)
        .when(F.col("mr") < 0, -1)
        .otherwise(0)
    )
    joined = rets.join(mkt, "day").select(
        "event_type", "r", "mr", side.alias("side")
    )
    up_r = F.avg(F.when(F.col("side") == 1, F.col("r")))
    up_m = F.avg(F.when(F.col("side") == 1, F.col("mr")))
    dn_r = F.avg(F.when(F.col("side") == -1, F.col("r")))
    dn_m = F.avg(F.when(F.col("side") == -1, F.col("mr")))
    up_cap = F.try_divide(up_r, F.nullif(up_m, F.lit(0.0)))
    dn_cap = F.try_divide(dn_r, F.nullif(dn_m, F.lit(0.0)))
    return joined.groupBy("event_type").agg(
        F.sum(F.when(F.col("side") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_up"),
        F.sum(F.when(F.col("side") == -1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_down"),
        dround(up_cap, 6).alias("up_capture"),
        dround(dn_cap, 6).alias("down_capture"),
        dround(
            F.try_divide(up_cap, F.nullif(dn_cap, F.lit(0.0))), 6
        ).alias("capture_spread"),
    )

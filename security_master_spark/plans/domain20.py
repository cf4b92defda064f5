"""Round-7 securities-domain batch 2 (SURVEY.md §2.11): portfolio
turnover from value weights, and calendar (day-of-week) effects with
per-cell t-statistics.
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


@register(
    "d81_portfolio_turnover",
    oracle=f"""
    WITH {_DAILY_SQL}, k AS (
        SELECT COUNT(DISTINCT event_type) AS k FROM daily
    ), fulldays AS (
        SELECT day FROM daily GROUP BY day
        HAVING COUNT(*) = (SELECT k FROM k)
    ), al AS (
        SELECT d.event_type, d.day, d.close
        FROM daily d JOIN fulldays USING (day)
    ), tot AS (
        SELECT day, SUM(close) AS tc FROM al GROUP BY day
    ), wts AS (
        SELECT a.event_type, a.day, a.close / t.tc AS w
        FROM al a JOIN tot t USING (day)
    ), ch AS (
        SELECT event_type, day,
               ABS(w - LAG(w) OVER (PARTITION BY event_type
                                    ORDER BY day)) AS dw
        FROM wts
    )
    SELECT day,
           CAST(COUNT(dw) AS BIGINT) AS n_series,
           {sql_dround("SUM(dw)", 6)} AS turnover
    FROM ch WHERE dw IS NOT NULL
    GROUP BY day
    """,
)
def d81_portfolio_turnover(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily portfolio turnover of the value-weighted portfolio:
    wᵢₜ = closeᵢₜ / Σⱼ closeⱼₜ and turnoverₜ = Σᵢ |wᵢₜ − wᵢ,ₜ₋₁| —
    the rebalancing-cost driver every index and strategy desk
    publishes. Only fully-aligned days (every series present) carry a
    weight, so day-over-day deltas always compare complete portfolios.

    Shape: collapse to the daily frame first; weights are one
    day-key groupBy + join (the per-day total is O(days) rows);
    the delta is one lag window per series; the final rollup shuffles
    counts and sums only. try_divide on the Spark side (the sf0.1
    fixture has zero prices; a zero day-total would THROW under ANSI —
    hash-neutral at the oracle SFs where totals are positive)."""
    # Persisted (round-15): daily feeds k_df / fulldays / al, and al
    # feeds tot AND wts — without the cuts the tick->daily collapse
    # re-derived per consumer (the d78 shape). Both frames are the
    # collapsed O(series x days) daily panel, never tick-scale.
    daily = daily_closes(spark, sf_dir).persist()
    k_df = daily.select(F.countDistinct("event_type").alias("k"))
    fulldays = (
        daily.groupBy("day")
        .agg(F.count("*").alias("c"))
        .join(F.broadcast(k_df), F.col("c") == F.col("k"))
        .select("day")
    )
    al = daily.join(F.broadcast(fulldays), "day").persist()
    tot = al.groupBy("day").agg(F.sum("close").alias("tc"))
    wts = al.join(tot, "day").select(
        "event_type",
        "day",
        F.try_divide(F.col("close"), F.col("tc")).alias("w"),
    )
    wlag = Window.partitionBy("event_type").orderBy("day")
    ch = wts.select(
        "event_type",
        "day",
        F.abs(F.col("w") - F.lag("w").over(wlag)).alias("dw"),
    ).filter(F.col("dw").isNotNull())
    return ch.groupBy("day").agg(
        F.count("dw").cast("bigint").alias("n_series"),
        dround(F.sum("dw"), 6).alias("turnover"),
    )


@register(
    "d82_calendar_effects",
    oracle=f"""
    WITH {_DAILY_SQL}, {_RETS_SQL}
    SELECT event_type,
           CAST(date_part('isodow', day) AS BIGINT) AS iso_dow,
           CAST(COUNT(*) AS BIGINT) AS n,
           {sql_dround("AVG(r)", 8)} AS mean_ret,
           {sql_dround(
               "AVG(r) / NULLIF(STDDEV_SAMP(r) / SQRT(COUNT(*)), 0)", 6
           )} AS t_stat,
           COALESCE(
               ABS(AVG(r) / NULLIF(STDDEV_SAMP(r) / SQRT(COUNT(*)), 0))
                   > 2,
               FALSE
           ) AS is_significant
    FROM rr
    GROUP BY 1, 2
    """,
)
def d82_calendar_effects(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week calendar effects: per (series, ISO weekday) mean
    daily return with its one-sample t-statistic (mean / (sd/√n)) and
    a |t| > 2 significance flag — the seasonality screen behind every
    'Monday effect' claim, published as a full panel so quiet cells
    still certify the math.

    Engine note: Spark has no isodow; ((dayofweek + 5) % 7) + 1 maps
    Sunday=1..Saturday=7 onto ISO Monday=1..Sunday=7 and is asserted
    equal to DuckDB's date_part('isodow') by the oracle hash itself.
    Shape: one groupBy over the collapsed daily-returns frame —
    partial aggregation map-side-combines (count/sum/sumsq), so the
    shuffle carries O(series × 7) rows at any scale."""
    rets = daily_returns(daily_closes(spark, sf_dir))
    iso_dow = ((F.dayofweek("day") + 5) % 7 + 1).cast("bigint")
    t = F.try_divide(
        F.avg("r"),
        F.nullif(
            F.stddev_samp("r") / F.sqrt(F.count("*")), F.lit(0.0)
        ),
    )
    return rets.groupBy(
        "event_type", iso_dow.alias("iso_dow")
    ).agg(
        F.count("*").cast("bigint").alias("n"),
        dround(F.avg("r"), 8).alias("mean_ret"),
        dround(t, 6).alias("t_stat"),
        F.coalesce(F.abs(t) > 2, F.lit(False)).alias("is_significant"),
    )

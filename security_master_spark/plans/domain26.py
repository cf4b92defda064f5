"""Round-7 securities-domain batch 8 (SURVEY.md §2.11): overnight vs
intraday return decomposition — the close-to-open / open-to-close
split behind every "when does the return actually accrue?" study.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from security_master_spark.datasets import load_table
from security_master_spark.functions.rounding import dround, sql_dround
from security_master_spark.plans.registry import register

#: oracle CTE: first AND last print per (series, day) in one pass.
_OC_SQL = """
    ranked AS (
        SELECT event_type,
               DATE_TRUNC('day', ts) AS day, value,
               ROW_NUMBER() OVER (PARTITION BY event_type,
                                  DATE_TRUNC('day', ts)
                                  ORDER BY ts ASC, event_id ASC) AS rn_a,
               ROW_NUMBER() OVER (PARTITION BY event_type,
                                  DATE_TRUNC('day', ts)
                                  ORDER BY ts DESC, event_id DESC) AS rn_d
        FROM events
    ), oc AS (
        SELECT event_type, day,
               MAX(CASE WHEN rn_a = 1 THEN value END) AS open,
               MAX(CASE WHEN rn_d = 1 THEN value END) AS close
        FROM ranked GROUP BY event_type, day
    )
"""


@register(
    "d88_overnight_intraday",
    oracle=f"""
    WITH {_OC_SQL}, rets AS (
        SELECT event_type, day,
               open / LAG(close) OVER (PARTITION BY event_type
                                       ORDER BY day) - 1 AS r_on,
               close / open - 1 AS r_id
        FROM oc
    ), rr AS (
        SELECT * FROM rets
        WHERE r_on IS NOT NULL AND r_id IS NOT NULL
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           {sql_dround("AVG(r_on)", 8)} AS mean_overnight,
           {sql_dround("AVG(r_id)", 8)} AS mean_intraday,
           {sql_dround("STDDEV_SAMP(r_on)", 8)} AS vol_overnight,
           {sql_dround("STDDEV_SAMP(r_id)", 8)} AS vol_intraday,
           {sql_dround(
               "VAR_SAMP(r_on) / NULLIF(VAR_SAMP(r_on)"
               " + VAR_SAMP(r_id), 0)", 6)} AS overnight_var_share,
           {sql_dround("CORR(r_on, r_id)", 6)} AS on_id_corr
    FROM rr
    GROUP BY event_type
    """,
)
def d88_overnight_intraday(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overnight vs intraday return decomposition: split each day's
    move into close→open (overnight gap) and open→close (intraday)
    legs and report per series the mean/vol of each, the overnight
    share of total variance, and the correlation between the legs —
    the microstructure study behind "returns accrue overnight"
    (Cliff-Cooper-Gulen-style) and every gap-risk limit.

    Shape: opens and closes come from the SAME per-(series, day)
    sort — two row_numbers over one window ordering (ascending and
    descending tie-broken by event_id, the d5/daily discipline) fold
    into one groupBy; the overnight leg is a single lag window on the
    collapsed daily frame; the final stats are one map-side-combined
    groupBy. try_divide on the Spark side (zero closes exist at
    sf0.1; oracle SFs have none — hash-neutral)."""
    events = load_table(spark, sf_dir, "events")
    day = F.date_trunc("day", F.col("ts"))
    wa = Window.partitionBy("event_type", day).orderBy(
        F.asc("ts"), F.asc("event_id")
    )
    wd = Window.partitionBy("event_type", day).orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    ranked = events.select(
        "event_type",
        day.alias("day"),
        "value",
        F.row_number().over(wa).alias("rn_a"),
        F.row_number().over(wd).alias("rn_d"),
    )
    oc = ranked.groupBy("event_type", "day").agg(
        F.max(F.when(F.col("rn_a") == 1, F.col("value"))).alias("open"),
        F.max(F.when(F.col("rn_d") == 1, F.col("value"))).alias(
            "close"
        ),
    )
    wlag = Window.partitionBy("event_type").orderBy("day")
    rr = oc.select(
        "event_type",
        "day",
        (
            F.try_divide(F.col("open"), F.lag("close").over(wlag)) - 1
        ).alias("r_on"),
        (F.try_divide(F.col("close"), F.col("open")) - 1).alias(
            "r_id"
        ),
    ).filter(F.col("r_on").isNotNull() & F.col("r_id").isNotNull())
    return rr.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_days"),
        dround(F.avg("r_on"), 8).alias("mean_overnight"),
        dround(F.avg("r_id"), 8).alias("mean_intraday"),
        dround(F.stddev_samp("r_on"), 8).alias("vol_overnight"),
        dround(F.stddev_samp("r_id"), 8).alias("vol_intraday"),
        dround(
            F.try_divide(
                F.var_samp("r_on"),
                F.nullif(
                    F.var_samp("r_on") + F.var_samp("r_id"),
                    F.lit(0.0),
                ),
            ),
            6,
        ).alias("overnight_var_share"),
        dround(F.corr("r_on", "r_id"), 6).alias("on_id_corr"),
    )

"""Round-6 aggregation batch (SURVEY.md §2.4): exact weighted median
via the collapse-then-cumulate discipline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from security_master_spark.datasets import load_table
from security_master_spark.functions.rounding import dround, sql_dround
from security_master_spark.plans.registry import register


@register(
    "a28_weighted_median",
    oracle=f"""
    WITH pw AS (
        SELECT l_returnflag,
               CAST(l_extendedprice AS DOUBLE) AS p,
               SUM(CAST(l_quantity AS DOUBLE)) AS w
        FROM lineitem
        GROUP BY l_returnflag, CAST(l_extendedprice AS DOUBLE)
    ), c AS (
        SELECT l_returnflag, p, w,
               SUM(w) OVER (PARTITION BY l_returnflag ORDER BY p) AS cum,
               SUM(w) OVER (PARTITION BY l_returnflag) AS tot
        FROM pw
    )
    SELECT l_returnflag,
           {sql_dround("MAX(tot)", 2)} AS total_weight,
           {sql_dround("MIN(CASE WHEN cum >= tot / 2 THEN p END)", 2)}
               AS weighted_median
    FROM c
    GROUP BY l_returnflag
    """,
)
def a28_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact weighted median (lower): the smallest price whose
    cumulative quantity-weight reaches half the group's total — the
    robust location statistic for notional-weighted prices (a28's
    unweighted sibling is a10's percentile).

    Scale shape: collapse to DISTINCT (group, price) first — the
    cumulative window then runs over O(distinct prices) rows, not
    O(lineitems), and because prices are distinct within a partition
    the default RANGE frame equals ROWS on both engines (no
    tie-ordering ambiguity, which is what makes an exact cross-engine
    hash possible). One hash aggregate + one bounded window + one
    final aggregate; never a full sort of the fact table."""
    li = load_table(spark, sf_dir, "lineitem")
    pw = li.groupBy(
        "l_returnflag",
        F.col("l_extendedprice").cast("double").alias("p"),
    ).agg(F.sum(F.col("l_quantity").cast("double")).alias("w"))
    wc = Window.partitionBy("l_returnflag").orderBy("p")
    wt = Window.partitionBy("l_returnflag")
    c = pw.select(
        "l_returnflag",
        "p",
        F.sum("w").over(wc).alias("cum"),
        F.sum("w").over(wt).alias("tot"),
    )
    return c.groupBy("l_returnflag").agg(
        dround(F.max("tot"), 2).alias("total_weight"),
        dround(
            F.min(F.when(F.col("cum") >= F.col("tot") / 2, F.col("p"))), 2
        ).alias("weighted_median"),
    )

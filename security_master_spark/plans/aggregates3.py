"""Round-5 aggregation candidates (SURVEY.md §2.4): weighted moments
and FILTER-style conditional aggregates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from security_master_spark.datasets import load_table
from security_master_spark.functions.rounding import dround, sql_dround
from security_master_spark.plans.registry import register


@register(
    "a17_weighted_stats",
    oracle=f"""
    SELECT l_returnflag,
           {sql_dround("SUM(l_quantity)", 4)} AS total_w,
           {sql_dround(
               "SUM(l_extendedprice * l_quantity) / SUM(l_quantity)", 6
           )} AS wmean_price,
           {sql_dround(
               "SQRT(SUM(l_extendedprice * l_extendedprice * l_quantity)"
               " / SUM(l_quantity)"
               " - (SUM(l_extendedprice * l_quantity) / SUM(l_quantity))"
               " * (SUM(l_extendedprice * l_quantity) / SUM(l_quantity)))",
               4,
           )} AS wstd_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def a17_weighted_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted mean and weighted standard deviation (quantity-
    weighted price moments) — the notional-weighted statistics every
    position/market report needs, which no built-in aggregate
    provides directly. Expressed as three plain SUMs composed
    arithmetically AFTER the aggregate, so the whole thing is one
    hash aggregate with map-side partials (never a two-pass
    mean-then-deviation join). The E[x²]−E[x]² form is written
    IDENTICALLY in both engines so floating-point agreement holds at
    the rounding precision; wstd rounds at 4dp (one cancellation digit
    looser than the 6dp means) since catastrophic cancellation on the
    difference of ~1e8-scale terms costs a few ulps more."""
    li = load_table(spark, sf_dir, "lineitem")
    w = F.sum("l_quantity")
    wx = F.sum(F.col("l_extendedprice") * F.col("l_quantity"))
    wx2 = F.sum(
        F.col("l_extendedprice") * F.col("l_extendedprice") * F.col("l_quantity")
    )
    # try_divide: l_quantity >= 1 in the fixtures, but a weighted-stats
    # operator must survive an all-zero weight group on arbitrary data.
    wmean = F.try_divide(wx, w)
    return li.groupBy("l_returnflag").agg(
        dround(w, 4).alias("total_w"),
        dround(wmean, 6).alias("wmean_price"),
        dround(F.sqrt(F.try_divide(wx2, w) - wmean * wmean), 4).alias(
            "wstd_price"
        ),
    )


@register(
    "a18_conditional_aggregates",
    oracle=f"""
    SELECT l_returnflag,
           CAST(COUNT(*) FILTER (WHERE l_discount > 0.05) AS BIGINT)
               AS n_discounted,
           {sql_dround(
               "COALESCE(SUM(l_extendedprice) FILTER (WHERE l_tax = 0), 0)", 4
           )} AS taxfree_revenue,
           {sql_dround(
               "AVG(l_quantity) FILTER (WHERE l_shipdate >= TIMESTAMP '1995-01-01')",
               6,
           )} AS recent_avg_qty
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def a18_conditional_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTER-clause conditional aggregation: three differently-
    predicated aggregates computed in ONE pass over the fact table
    (count of discounted lines, tax-free revenue, post-1995 average
    quantity per return flag) — the idiom that replaces N filtered
    self-scans with one. Spark expresses each as agg(when(pred, x))
    — count counts non-null, sum/avg skip null — which is exactly
    SQL's FILTER semantics, and everything stays inside one
    whole-stage-codegen hash aggregate with map-side partials.
    COALESCE pins the empty-tax-free-group case to 0 on both engines
    (SUM over no rows is NULL)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count(F.when(F.col("l_discount") > 0.05, 1))
        .cast("bigint")
        .alias("n_discounted"),
        dround(
            F.coalesce(
                F.sum(F.when(F.col("l_tax") == 0, F.col("l_extendedprice"))),
                F.lit(0.0),
            ),
            4,
        ).alias("taxfree_revenue"),
        dround(
            F.avg(
                F.when(
                    F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp"),
                    F.col("l_quantity"),
                )
            ),
            6,
        ).alias("recent_avg_qty"),
    )


@register(
    "a19_grouping_id",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           CAST(GROUPING_ID(l_returnflag, l_linestatus) AS BIGINT)
               AS grouping_level,
           CAST(COUNT(*) AS BIGINT) AS n,
           {sql_dround("SUM(l_quantity)", 4)} AS sum_qty
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def a19_grouping_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING_ID over a rollup: the bitmask that distinguishes a
    genuine NULL grouping value from the NULL that marks a subtotal
    row — without it, rollup outputs are ambiguous the moment a
    grouping column is nullable (the classic reporting-layer bug).
    Level 0 = detail rows, 1 = per-returnflag subtotals, 3 = grand
    total; both engines compute the identical bitmask (left-to-right
    bit order per the SQL standard), so the oracle certifies the
    semantics, not just the totals."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.grouping_id().cast("bigint").alias("grouping_level"),
        F.count("*").cast("bigint").alias("n"),
        dround(F.sum("l_quantity"), 4).alias("sum_qty"),
    ).select(
        "l_returnflag", "l_linestatus", "grouping_level", "n", "sum_qty"
    )

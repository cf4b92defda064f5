"""Round-6 SQL-surface batch (SURVEY.md §2.9): LATERAL correlated
subqueries and LIMIT/OFFSET pagination.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from security_master_spark.datasets import load_tables
from security_master_spark.functions.rounding import sql_dround
from security_master_spark.plans.registry import register


@register(
    "q24_lateral_subquery",
    oracle=f"""
    SELECT o.o_orderkey,
           CAST(o.o_totalprice AS DOUBLE) AS o_totalprice,
           t.n_items,
           t.items_total
    FROM orders o,
         LATERAL (
             SELECT CAST(COUNT(*) AS BIGINT) AS n_items,
                    {sql_dround(
                        "SUM(CAST(l.l_extendedprice AS DOUBLE))", 2
                    )} AS items_total
             FROM lineitem l
             WHERE l.l_orderkey = o.o_orderkey
         ) t
    WHERE o.o_orderkey <= 1000
    """,
)
def q24_lateral_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL correlated subquery (SQL:1999) — a per-row subquery
    over another table, the "for each order, summarize its items"
    idiom. Catalyst DECORRELATES it into a plain aggregate-then-join
    (DecorrelateInnerQuery): the lineitem side aggregates once by
    l_orderkey and joins back — never one subquery execution per outer
    row, which is the difference between O(n) and O(n·m) at 100 TB.
    An order with no lineitems still appears (COUNT 0, SUM NULL) —
    LATERAL over an aggregate subquery is scalar, not filtering; the
    oracle pins those null-row semantics cross-engine."""
    load_tables(spark, sf_dir)
    return spark.sql(f"""
    SELECT o.o_orderkey,
           CAST(o.o_totalprice AS DOUBLE) AS o_totalprice,
           t.n_items,
           t.items_total
    FROM orders o,
         LATERAL (
             SELECT CAST(COUNT(*) AS BIGINT) AS n_items,
                    {sql_dround(
                        "SUM(CAST(l.l_extendedprice AS DOUBLE))", 2
                    )} AS items_total
             FROM lineitem l
             WHERE l.l_orderkey = o.o_orderkey
         ) t
    WHERE o.o_orderkey <= 1000
    """)


@register(
    "q25_limit_offset",
    oracle="""
    SELECT o_orderkey,
           CAST(o_totalprice AS DOUBLE) AS o_totalprice,
           o_orderpriority
    FROM orders
    ORDER BY CAST(o_totalprice AS DOUBLE) DESC, o_orderkey
    LIMIT 50 OFFSET 100
    """,
)
def q25_limit_offset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIMIT/OFFSET pagination over a total order — page 3 of the
    priciest orders. The ORDER BY carries a UNIQUE tiebreaker
    (o_orderkey), without which OFFSET pagination is nondeterministic
    on every engine — the classic paging bug this query pins
    cross-engine. Spark plans the whole thing as a single
    TakeOrderedAndProject(limit=offset+k) — a top-150 heap per
    partition then one merge, never a global sort of the table
    (the l34 lesson, now certified on the pagination surface)."""
    from pyspark.sql import functions as F

    from security_master_spark.datasets import load_table

    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.select(
            "o_orderkey",
            F.col("o_totalprice").cast("double").alias("o_totalprice"),
            "o_orderpriority",
        )
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .offset(100)
        .limit(50)
    )

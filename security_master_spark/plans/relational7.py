"""Round-7 SQL-surface batch (SURVEY.md §2.9 / §2.7): bag (multiset)
set operations — INTERSECT ALL / EXCEPT ALL, the duplicate-preserving
semantics q8's set-flavored ops cannot express — and multi-column
(row-value) IN subqueries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from security_master_spark.datasets import load_table, load_tables
from security_master_spark.functions.rounding import dround, sql_dround
from security_master_spark.plans.registry import register


@register(
    "q27_bag_set_ops",
    oracle="""
    WITH a AS (
        SELECT l_suppkey FROM lineitem WHERE l_quantity < 25
    ), b AS (
        SELECT l_suppkey FROM lineitem WHERE l_discount > 0.04
    ), i AS (
        SELECT l_suppkey, COUNT(*) AS n_intersect_all
        FROM (SELECT * FROM a INTERSECT ALL SELECT * FROM b)
        GROUP BY l_suppkey
    ), e AS (
        SELECT l_suppkey, COUNT(*) AS n_except_all
        FROM (SELECT * FROM a EXCEPT ALL SELECT * FROM b)
        GROUP BY l_suppkey
    )
    SELECT COALESCE(i.l_suppkey, e.l_suppkey) AS suppkey,
           CAST(COALESCE(i.n_intersect_all, 0) AS BIGINT)
               AS n_intersect_all,
           CAST(COALESCE(e.n_except_all, 0) AS BIGINT) AS n_except_all
    FROM i FULL OUTER JOIN e ON i.l_suppkey = e.l_suppkey
    """,
)
def q27_bag_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag (multiset) set operations: INTERSECT ALL keeps
    min(multiplicity) copies per value and EXCEPT ALL keeps
    max(0, mult_A − mult_B) — the duplicate-preserving SQL:2003
    semantics that q8's set-flavored INTERSECT/EXCEPT collapse away.
    Both multisets are per-key counted afterward so the full
    multiplicity arithmetic is hash-certified key by key.

    Shape: Spark plans INTERSECT ALL / EXCEPT ALL as ONE aggregate
    computing both sides' counts then a replicate — never a
    sort-merge of duplicate rows; the follow-up per-key counts reuse
    the same key partitioning. At 100 TB the shuffle carries
    (value, count) pairs, not duplicate tuples."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    a = lineitem.filter(F.col("l_quantity") < 25).select("l_suppkey")
    b = lineitem.filter(F.col("l_discount") > 0.04).select("l_suppkey")
    i = (
        a.intersectAll(b)
        .groupBy("l_suppkey")
        .agg(F.count("*").alias("n_intersect_all"))
    )
    e = (
        a.exceptAll(b)
        .groupBy("l_suppkey")
        .agg(F.count("*").alias("n_except_all"))
    )
    return (
        i.join(e, "l_suppkey", "full_outer")
        .select(
            F.col("l_suppkey").alias("suppkey"),
            F.coalesce(F.col("n_intersect_all"), F.lit(0))
            .cast("bigint")
            .alias("n_intersect_all"),
            F.coalesce(F.col("n_except_all"), F.lit(0))
            .cast("bigint")
            .alias("n_except_all"),
        )
    )


#: high-value order threshold for the row-value IN subquery.
_HIGH_VALUE = 400000.0


@register(
    "q28_row_value_in_subquery",
    oracle=f"""
    SELECT o.o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(FLOOR(o.o_totalprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS total_price_cents
    FROM orders o
    WHERE EXISTS (
        SELECT 1 FROM orders h
        WHERE h.o_totalprice > {_HIGH_VALUE}
          AND h.o_custkey = o.o_custkey
          AND h.o_orderpriority = o.o_orderpriority
    )
    GROUP BY o.o_orderstatus
    """,
)
def q28_row_value_in_subquery(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Row-value (multi-column) IN subquery: keep every order whose
    (customer, priority) TUPLE also occurs among high-value orders —
    the composite-key membership predicate applications write
    constantly, exercised as genuine `(a, b) IN (SELECT ...)` SQL
    surface rather than a hand-rolled semi join.

    Plan: Catalyst compiles the row-value IN to a LEFT SEMI hash join
    on both columns with the subquery side deduped and broadcast when
    small — exactly the plan you'd hand-write, certified here through
    the SQL front door. The aggregate after it map-side-combines."""
    load_tables(spark, sf_dir)
    return spark.sql(f"""
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS total_price_cents
    FROM orders
    WHERE (o_custkey, o_orderpriority) IN (
        SELECT o_custkey, o_orderpriority
        FROM orders WHERE o_totalprice > {_HIGH_VALUE}
    )
    GROUP BY o_orderstatus
    """)

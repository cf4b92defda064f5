"""Round-5 UDF-surface candidates, batch 3 (SURVEY.md §2.13): SQL
user-defined functions — scalar (CREATE FUNCTION ... RETURN expr) and
table-valued (RETURNS TABLE) — the Spark 4 surface that lets users
package reusable logic WITHOUT leaving the JVM: a SQL UDF inlines
into the calling plan at analysis time, so unlike u1/u2's Python
crossings it costs nothing at run time.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from security_master_spark.datasets import load_tables
from security_master_spark.functions.rounding import sql_dround
from security_master_spark.plans.registry import register


@register(
    "u10_sql_scalar_udf",
    oracle=f"""
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           {sql_dround("SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax))", 4)}
               AS charged
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def u10_sql_scalar_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL scalar UDF (CREATE FUNCTION ... RETURNS DOUBLE RETURN expr,
    Spark 4): the discounted-and-taxed charge formula packaged as a
    named reusable function. The function body INLINES into the
    calling query at analysis time — the executed plan is the same
    whole-stage-codegen hash aggregate as writing the expression
    out (which is exactly what the oracle does), with no UDF call
    boundary, no Python worker, no serialization. This is the
    correct first choice for shared business logic; u1/u2 exist for
    logic SQL genuinely cannot express."""
    load_tables(spark, sf_dir)
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION charge(
            price DOUBLE, discount DOUBLE, tax DOUBLE)
        RETURNS DOUBLE
        RETURN price * (1 - discount) * (1 + tax)
        """
    )
    return spark.sql(f"""
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           {sql_dround("SUM(charge(l_extendedprice, l_discount, l_tax))", 4)}
               AS charged
    FROM lineitem
    GROUP BY l_returnflag
    """)


@register(
    "u11_sql_table_udf",
    oracle=f"""
    SELECT n.n_name AS nation,
           CAST(COUNT(*) AS BIGINT) AS n_big_orders,
           {sql_dround("SUM(o.o_totalprice)", 4)} AS revenue
    FROM orders o
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    WHERE o.o_totalprice > 250000
    GROUP BY n.n_name
    """,
)
def u11_sql_table_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL table-valued UDF (CREATE FUNCTION ... RETURNS TABLE(...),
    Spark 4): a parameterized view — big orders above a threshold —
    consumed with ordinary joins. Like the scalar form, the body
    inlines at analysis time: the threshold parameter becomes a
    pushed-down scan filter in the calling plan, and the dims
    broadcast exactly as in q2. The SQL-native sibling of u6's
    Python UDTF, at zero runtime cost."""
    load_tables(spark, sf_dir)
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION big_orders(min_price DOUBLE)
        RETURNS TABLE(o_orderkey BIGINT, o_custkey BIGINT,
                      o_totalprice DOUBLE)
        RETURN SELECT o_orderkey, o_custkey, o_totalprice
               FROM orders WHERE o_totalprice > min_price
        """
    )
    return spark.sql(f"""
    SELECT n.n_name AS nation,
           CAST(COUNT(*) AS BIGINT) AS n_big_orders,
           {sql_dround("SUM(o.o_totalprice)", 4)} AS revenue
    FROM big_orders(CAST(250000 AS DOUBLE)) o
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    GROUP BY n.n_name
    """)

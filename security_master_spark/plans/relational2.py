"""Round-5 SQL-surface candidates (SURVEY.md §2.9): recursive CTEs
(new in Spark 4) and observed metrics (`df.observe` — QA counters that
piggyback on the query's own pass, the production observability
surface).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from security_master_spark.datasets import load_tables, load_table
from security_master_spark.functions.rounding import dround, sql_dround
from security_master_spark.plans.registry import register


@register(
    "q16_recursive_cte",
    oracle=f"""
    WITH RECURSIVE spine(month, last_month) AS (
        SELECT CAST(DATE_TRUNC('month', MIN(o_orderdate)) AS TIMESTAMP),
               CAST(DATE_TRUNC('month', MAX(o_orderdate)) AS TIMESTAMP)
        FROM orders
        UNION ALL
        SELECT month + INTERVAL 1 MONTH, last_month FROM spine
        WHERE month + INTERVAL 1 MONTH <= last_month
    ), m AS (
        SELECT CAST(DATE_TRUNC('month', o_orderdate) AS TIMESTAMP) AS month,
               COUNT(*) AS n,
               SUM(o_totalprice) AS rev
        FROM orders GROUP BY 1
    )
    SELECT s.month,
           CAST(COALESCE(m.n, 0) AS BIGINT) AS n_orders,
           {sql_dround("COALESCE(m.rev, CAST(0 AS DOUBLE))", 4)} AS revenue
    FROM spine s LEFT JOIN m ON m.month = s.month
    """,
)
def q16_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (WITH RECURSIVE — lands in Spark 4): build the
    complete month spine between the first and last order date by
    recursion, then left-join monthly order rollups so months with
    ZERO orders still appear — the reporting gap a plain GROUP BY
    silently hides, and the textbook recursion the SQL surface must
    support (same construct the l42 oracle uses for transitive
    closure). The recursion depth is O(months) — bounded by the data's
    calendar span, not its row count — and each iteration is a
    one-row-per-month frame; the heavy work (the monthly rollup) stays
    a single ordinary hash aggregate. The recursion BOUND rides along
    as a column (last_month) instead of a correlated scalar subquery —
    a subquery in the recursive term re-executes against the fact
    table on EVERY iteration (measured 16 s → 1.3 s at sf0.1 for the
    ~80-month spine; at 100 TB a per-iteration fact scan would be
    fatal). Identical WITH RECURSIVE text runs on both engines; only
    the interval-arithmetic spelling differs."""
    load_tables(spark, sf_dir)
    return spark.sql(f"""
    WITH RECURSIVE spine(month, last_month) AS (
        SELECT CAST(DATE_TRUNC('month', MIN(o_orderdate)) AS TIMESTAMP),
               CAST(DATE_TRUNC('month', MAX(o_orderdate)) AS TIMESTAMP)
        FROM orders
        UNION ALL
        SELECT month + INTERVAL '1' MONTH, last_month FROM spine
        WHERE month + INTERVAL '1' MONTH <= last_month
    ), m AS (
        SELECT CAST(DATE_TRUNC('month', o_orderdate) AS TIMESTAMP) AS month,
               COUNT(*) AS n,
               SUM(o_totalprice) AS rev
        FROM orders GROUP BY 1
    )
    SELECT s.month,
           CAST(COALESCE(m.n, 0) AS BIGINT) AS n_orders,
           {sql_dround("COALESCE(m.rev, CAST(0 AS DOUBLE))", 4)} AS revenue
    FROM spine s LEFT JOIN m ON m.month = s.month
    """)


@register(
    "dq3_observed_metrics",
    oracle=f"""
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           {sql_dround("SUM(l_extendedprice * (1 - l_discount))", 4)} AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1995-01-01'
    GROUP BY l_returnflag
    """,
)
def dq3_observed_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Observed metrics (`df.observe`): QA counters — rows entering
    the aggregate, null-quantity count, revenue checksum — collected
    DURING the query's own single pass, not by a second audit scan.
    At 100 TB the difference between `observe` and a follow-up
    `SELECT COUNT(*)...` is a whole extra read of the table; observe's
    accumulators ride the task results for free and feed circuit
    breakers (abort the pipeline if null-rate spikes) via
    QueryExecutionListener in production and `Observation.get` here.
    The observation node is transparent to the optimizer (filter
    still pushes to the scan), so the RESULT stays oracle-checkable —
    the metric values themselves are asserted in
    tests/test_operators.py::test_observed_metrics_match_result."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp")
    )
    obs = Observation("dq3")
    observed = li.observe(
        obs,
        F.count(F.lit(1)).alias("rows_in"),
        F.count(F.when(F.col("l_quantity").isNull(), 1)).alias("null_qty"),
        F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
            "rev_checksum"
        ),
    )
    return observed.groupBy("l_returnflag").agg(
        F.count("*").cast("bigint").alias("n_items"),
        dround(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
        ).alias("revenue"),
    )

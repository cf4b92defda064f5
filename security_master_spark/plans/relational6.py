"""Round-6 SQL-surface batch 2 (SURVEY.md §2.9): correlated LATERAL
join — the "top-N per outer row" subquery shape (Spark 3.4+ lateral
subquery support) that replaces the window-rank idiom when the inner
query carries its own ORDER BY ... LIMIT.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from security_master_spark.datasets import load_tables
from security_master_spark.functions.rounding import sql_dround
from security_master_spark.plans.registry import register


@register(
    "q26_lateral_topk",
    oracle=f"""
    SELECT r.r_name AS region,
           t.c_name AS customer,
           {sql_dround("t.acctbal", 4)} AS acctbal
    FROM region r,
         LATERAL (
             SELECT c.c_name, CAST(c.c_acctbal AS DOUBLE) AS acctbal
             FROM customer c JOIN nation n
               ON n.n_nationkey = c.c_nationkey
             WHERE n.n_regionkey = r.r_regionkey
             ORDER BY c.c_acctbal DESC, c.c_custkey ASC
             LIMIT 2
         ) t
    """,
)
def q26_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery: the two richest customers of
    every region, written as `FROM region, LATERAL (... ORDER BY ...
    LIMIT 2)` — the per-outer-row table subquery (Spark 3.4+ SQL
    surface). Catalyst decorrelates this into a join + per-key
    window-rank plan — the certification is that the LATERAL spelling
    produces identical rows (deterministic (acctbal DESC, custkey)
    order, the float-tie discipline: the tie-break is an integer key).

    Scale: no per-outer-row re-execution survives decorrelation, but
    the plan is NOT identical to the hand-written w6/q3 rank idiom —
    Catalyst carries the correlated ORDER BY as a range-partitioned
    GLOBAL pre-sort of customer feeding an order-insensitive
    row_number, i.e. one extra full sort + shuffle (distributed via
    range partitioning, not one-task — audit_plans.py notes it as a
    documented exception). The LATERAL dialect is the subject here;
    w6/q3 is the production spelling of per-group top-k."""
    load_tables(spark, sf_dir)
    return spark.sql(f"""
    SELECT r.r_name AS region,
           t.c_name AS customer,
           {sql_dround("t.acctbal", 4)} AS acctbal
    FROM region r,
         LATERAL (
             SELECT c.c_name, CAST(c.c_acctbal AS DOUBLE) AS acctbal
             FROM customer c JOIN nation n
               ON n.n_nationkey = c.c_nationkey
             WHERE n.n_regionkey = r.r_regionkey
             ORDER BY c.c_acctbal DESC, c.c_custkey ASC
             LIMIT 2
         ) t
    """)

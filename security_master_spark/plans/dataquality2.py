"""Round-5 data-quality batch 2 (SURVEY.md §2 DQ adjunct):
referential-integrity audit across the star schema's foreign keys.

dq1 profiles columns in isolation; dq9 is the CROSS-TABLE contract
check — orphan detection over every FK edge of the schema, the audit
every warehouse load gate runs before publishing a snapshot.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from security_master_spark.datasets import load_table
from security_master_spark.functions.rounding import dround, sql_dround
from security_master_spark.plans.registry import register

# (edge label, child table, child FK col, parent table, parent PK col,
#  parent is dimension-sized → broadcast the anti-join build side)
_FK_EDGES = [
    ("lineitem.orderkey->orders", "lineitem", "l_orderkey",
     "orders", "o_orderkey", False),
    ("lineitem.partkey->part", "lineitem", "l_partkey",
     "part", "p_partkey", True),
    ("lineitem.suppkey->supplier", "lineitem", "l_suppkey",
     "supplier", "s_suppkey", True),
    ("orders.custkey->customer", "orders", "o_custkey",
     "customer", "c_custkey", True),
    ("customer.nationkey->nation", "customer", "c_nationkey",
     "nation", "n_nationkey", True),
    ("events.user_id->customer", "events", "user_id",
     "customer", "c_custkey", True),
]


def _edge_sql(label: str, child: str, fk: str, parent: str, pk: str) -> str:
    return f"""
    SELECT '{label}' AS fk_edge,
           (SELECT COUNT(*) FROM {child}) AS n_child_rows,
           COUNT(*) AS n_orphan_rows,
           {sql_dround(
               f"COUNT(*) / CAST((SELECT COUNT(*) FROM {child}) AS DOUBLE)",
               8)} AS orphan_frac,
           CAST(COUNT(DISTINCT c.{fk}) AS BIGINT) AS n_orphan_keys
    FROM {child} c
    WHERE c.{fk} IS NOT NULL
      AND NOT EXISTS (SELECT 1 FROM {parent} p WHERE p.{pk} = c.{fk})
    """


@register(
    "dq9_referential_integrity",
    oracle=" UNION ALL ".join(
        _edge_sql(label, child, fk, parent, pk)
        for label, child, fk, parent, pk, _ in _FK_EDGES
    ),
)
def dq9_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit: for every FK edge of the schema,
    count child rows whose key has no parent (orphans), as rows and
    as distinct keys. The TPC-H-shaped edges should audit clean (the
    zero rows ARE the assertion); events.user_id→customer is the
    deliberately dirty edge — the events feed references users
    outside the customer dimension, which is what this audit exists
    to catch before a snapshot publishes.

    Shape per edge: the child's FK column LEFT-joins the parent's
    deduped key set (the dedup makes the join row-preserving even if
    a parent ever violated its PK), and ONE aggregate reads off total
    rows, orphan rows (matched-null), and distinct orphan keys — no
    separate COUNT pass, no driver-side action. Dimension parents
    broadcast (part / supplier / customer / nation); the one
    fact-fact edge (lineitem→orders) shuffles on the key like any
    big join. Each edge collapses to a single accounting row, so the
    union is |edges| rows; the child scan is pruned to the FK column
    (ReadSchema shows the single column)."""
    summaries = []
    for label, child, fk, parent, pk, small_parent in _FK_EDGES:
        c = load_table(spark, sf_dir, child).select(fk)
        p = (
            load_table(spark, sf_dir, parent)
            .select(F.col(pk).alias("__pk"))
            .distinct()
        )
        if small_parent:
            p = F.broadcast(p)
        j = c.join(p, F.col(fk) == F.col("__pk"), "left")
        orphan = F.col(fk).isNotNull() & F.col("__pk").isNull()
        summaries.append(
            j.agg(
                F.lit(label).alias("fk_edge"),
                F.count("*").alias("n_child_rows"),
                F.sum(F.when(orphan, 1).otherwise(0))
                .cast("bigint")
                .alias("n_orphan_rows"),
                dround(
                    F.sum(F.when(orphan, 1).otherwise(0))
                    / F.count("*").cast("double"),
                    8,
                ).alias("orphan_frac"),
                F.count_distinct(F.when(orphan, F.col(fk)))
                .cast("bigint")
                .alias("n_orphan_keys"),
            )
        )
    return reduce(DataFrame.unionByName, summaries)

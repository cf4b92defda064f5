"""Round-3 source/sink addition: schema evolution across parquet
batches (SURVEY.md §2.1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from security_master_spark.datasets import load_table
from security_master_spark.plans.registry import register


# io_scratch is register-free, so this import cannot perturb
# registration order; it also honors the configurable scratch
# root (spark.sms.scratch.root / SPARK_GRAFT_SCRATCH_ROOT) —
# a hardcoded /tmp copy silently escaped that config point.
from security_master_spark.plans.io_scratch import _scratch


@register(
    "io7_schema_evolution",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice,
           CASE WHEN o_orderkey % 2 = 1 THEN o_orderpriority END
               AS o_orderpriority
    FROM orders
    """,
)
def io7_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on read: an early ingest batch written without
    ``o_orderpriority`` (even keys) and a later batch written with it
    (odd keys) are read together with ``mergeSchema=true`` — the
    late-added column surfaces as NULL for old files. This is the
    append-only lakehouse evolution path: *widening* needs no rewrite
    of historical files, the reader reconciles footers. (At scale,
    schema merging reads every file footer — pin the merged schema in a
    catalog once the table settles instead of re-deriving it per
    query.) The oracle reconstructs the same union from the original
    table."""
    orders = load_table(spark, sf_dir, "orders")
    v1 = _scratch(sf_dir, "orders_evo_v1")
    v2 = _scratch(sf_dir, "orders_evo_v2")
    even = F.col("o_orderkey") % 2 == 0
    orders.filter(even).select(
        "o_orderkey", "o_custkey", "o_totalprice"
    ).write.mode("overwrite").parquet(v1)
    orders.filter(~even).select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority"
    ).write.mode("overwrite").parquet(v2)
    return (
        spark.read.option("mergeSchema", "true")
        .parquet(v1, v2)
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")
    )

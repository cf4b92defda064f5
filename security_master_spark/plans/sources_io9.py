"""Round-6 io batch (SURVEY.md §2.1): dynamic partition overwrite —
the idempotent-backfill write mode every partitioned lakehouse job
needs (re-run one day's pipeline, replace ONLY that day's
partitions, leave the rest untouched).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from security_master_spark.datasets import load_table
from security_master_spark.functions.rounding import dround, sql_dround
from security_master_spark.plans.io_scratch import _scratch
from security_master_spark.plans.registry import register


@register(
    "io18_dynamic_partition_overwrite",
    oracle=f"""
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           {sql_dround(
               "SUM(CASE WHEN o_orderstatus = 'F'"
               "         THEN CAST(o_totalprice AS DOUBLE) * 2"
               "         ELSE CAST(o_totalprice AS DOUBLE) END)", 2
           )} AS total_price
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def io18_dynamic_partition_overwrite(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Dynamic partition overwrite (`partitionOverwriteMode=dynamic`):
    a backfill rewrites ONLY the partitions present in its output —
    here the 'F' partition with doubled prices — while every other
    partition survives untouched. Under the default STATIC mode the
    same `mode("overwrite")` write would have DELETED the 'O' and 'P'
    partitions first; this query certifies the exact semantics that
    make partitioned re-runs idempotent instead of destructive.

    The oracle derives the expected post-backfill state from the
    source table alone (F rows doubled, others original), so the hash
    certifies both the overwrite scoping AND that no row was lost or
    duplicated across the two writes. Conf is save/restored — the mode
    is a session-level dial a shared platform must not leak.

    Scale: overwrite granularity is the partition directory — the
    backfill's cost is O(partitions rewritten), never a full-table
    rewrite; at 100 TB this is THE mechanism for reprocessing one day
    of a years-deep date-partitioned table."""
    orders = load_table(spark, sf_dir, "orders")
    path = _scratch(sf_dir, "orders_dyn_overwrite")
    conf = "spark.sql.sources.partitionOverwriteMode"
    saved = spark.conf.get(conf)
    v1 = orders.select("o_orderkey", "o_totalprice", "o_orderstatus")
    try:
        # v1: full table, partitioned by status (static mode is fine —
        # the target starts empty).
        v1.write.mode("overwrite").partitionBy("o_orderstatus").parquet(path)
        # backfill: ONLY the F partition, prices doubled — dynamic
        # mode scopes the overwrite to partitions in this frame.
        spark.conf.set(conf, "dynamic")
        orders.filter(F.col("o_orderstatus") == "F").select(
            "o_orderkey",
            (F.col("o_totalprice") * 2).alias("o_totalprice"),
            "o_orderstatus",
        ).write.mode("overwrite").partitionBy("o_orderstatus").parquet(path)
    finally:
        spark.conf.set(conf, saved)
    # Explicit schema on read-back: an EMPTY source writes zero
    # partition directories, and schema inference over a bare
    # _SUCCESS marker raises UNABLE_TO_INFER_SCHEMA — a production
    # backfill target must read as an empty frame instead, so the
    # write-side schema is the read-side contract.
    back = spark.read.schema(v1.schema).parquet(path)
    return back.groupBy("o_orderstatus").agg(
        F.count("*").cast("bigint").alias("n_orders"),
        dround(
            F.sum(F.col("o_totalprice").cast("double")), 2
        ).alias("total_price"),
    )

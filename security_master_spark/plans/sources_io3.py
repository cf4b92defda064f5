"""Round-4 source/sink candidates (SURVEY.md §2.1): CDC snapshot diff
(time-travel + changelog over the copy-on-write MERGE store).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from security_master_spark.datasets import load_table
from security_master_spark.functions.rounding import dround, sql_dround
from security_master_spark.plans.registry import register
from security_master_spark.plans.io_scratch import _scratch


@register(
    "io8_snapshot_diff",
    oracle=f"""
    WITH v1 AS (
        SELECT o_orderkey, o_custkey, o_orderstatus,
               {sql_dround("o_totalprice", 4)} AS o_totalprice
        FROM orders
    ), updates AS (
        SELECT o_orderkey, o_custkey,
               'U' AS o_orderstatus,
               {sql_dround(sql_dround("o_totalprice", 4) + " * 1.1", 4)}
                   AS o_totalprice,
               (o_orderkey % 97 = 0) AS is_delete
        FROM orders WHERE o_orderkey % 10 = 0
        UNION ALL
        SELECT o_orderkey + 20000000, o_custkey,
               'N' AS o_orderstatus,
               {sql_dround("o_totalprice", 4)} AS o_totalprice,
               FALSE AS is_delete
        FROM orders WHERE o_orderkey % 500 = 0
    ), v2 AS (
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
        FROM updates WHERE NOT is_delete
        UNION ALL
        SELECT b.* FROM v1 b
        WHERE NOT EXISTS (SELECT 1 FROM updates u
                          WHERE u.o_orderkey = b.o_orderkey)
    )
    SELECT COALESCE(v2.o_orderkey, v1.o_orderkey) AS o_orderkey,
           CASE WHEN v1.o_orderkey IS NULL THEN 'insert'
                WHEN v2.o_orderkey IS NULL THEN 'delete'
                ELSE 'update' END AS change_type,
           COALESCE(v2.o_custkey, v1.o_custkey) AS o_custkey,
           COALESCE(v2.o_orderstatus, v1.o_orderstatus) AS o_orderstatus,
           COALESCE(v2.o_totalprice, v1.o_totalprice) AS o_totalprice
    FROM v1 FULL OUTER JOIN v2 ON v1.o_orderkey = v2.o_orderkey
    WHERE v1.o_orderkey IS NULL OR v2.o_orderkey IS NULL
       OR (v1.o_custkey, v1.o_orderstatus, v1.o_totalprice)
          IS DISTINCT FROM
          (v2.o_custkey, v2.o_orderstatus, v2.o_totalprice)
    """,
)
def io8_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-capture over the copy-on-write MERGE store: write
    snapshot v1 (orders base), apply an updates batch (re-prices →
    updates, key-mod deletes, offset-key inserts) as v2, then
    `snapshot_diff` emits one changelog row per changed key — the
    Delta-CDF/Iceberg-changelog equivalent for plain parquet
    (operators/merge.py:snapshot_diff). Both snapshot writes AND the
    time-travel reads are under the oracle check; the diff itself is a
    key-wise full-outer compare (one shuffle per side, struct
    equality, unchanged keys dropped before any downstream work)."""
    import shutil

    from security_master_spark.operators.merge import (
        snapshot_diff,
        upsert_parquet_snapshot,
    )

    base_dir = _scratch(sf_dir, "orders_cdc")
    shutil.rmtree(base_dir, ignore_errors=True)  # deterministic per call

    base = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        dround(F.col("o_totalprice"), 4).alias("o_totalprice"),
    )
    upsert_parquet_snapshot(spark, base_dir, base, keys=["o_orderkey"])
    updates = base.filter(F.col("o_orderkey") % 10 == 0).select(
        "o_orderkey",
        "o_custkey",
        F.lit("U").alias("o_orderstatus"),
        dround(F.col("o_totalprice") * 1.1, 4).alias("o_totalprice"),
        (F.col("o_orderkey") % 97 == 0).alias("is_delete"),
    ).unionByName(
        base.filter(F.col("o_orderkey") % 500 == 0).select(
            (F.col("o_orderkey") + 20000000).alias("o_orderkey"),
            "o_custkey",
            F.lit("N").alias("o_orderstatus"),
            F.col("o_totalprice"),
            F.lit(False).alias("is_delete"),
        )
    )
    upsert_parquet_snapshot(
        spark, base_dir, updates, keys=["o_orderkey"], delete_col="is_delete"
    )
    return snapshot_diff(spark, base_dir, 1, 2, keys=["o_orderkey"])

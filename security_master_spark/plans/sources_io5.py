"""Round-5 source/sink candidates (SURVEY.md §2.1): compressed-codec
roundtrip.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from security_master_spark.datasets import load_table
from security_master_spark.plans.io_scratch import _scratch
from security_master_spark.plans.registry import register

_SUPPLIER_SCHEMA = (
    "s_suppkey long, s_name string, s_nationkey int, s_acctbal double"
)


@register(
    "io10_gzip_csv_roundtrip",
    oracle="""
    SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier
    """,
)
def io10_gzip_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compressed-text-codec fidelity: write supplier as gzip CSV,
    read it back through a declared schema, certify exact values
    against the oracle reading the original parquet. Spark picks the
    codec per part-file from the .gz extension on read — no option
    needed — and gzip part-files are NOT splittable, which is the
    production trade: fine for modest files or as an interchange
    format, wrong for a 1 TB single file (one task would own it; use
    bucketed parquet/zstd for the lake itself — the io3/io4 path).
    Shortest-roundtrip doubles + declared read schema, same fidelity
    discipline as io1."""
    src = load_table(spark, sf_dir, "supplier")
    path = _scratch(sf_dir, "supplier_csv_gz")
    (
        src.write.mode("overwrite")
        .option("header", "true")
        .option("compression", "gzip")
        .csv(path)
    )
    return (
        spark.read.schema(_SUPPLIER_SCHEMA)
        .option("header", "true")
        .csv(path)
        .select("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
    )

"""Round-4 source/sink candidates (SURVEY.md §2.1): ORC round-trip.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from security_master_spark.datasets import load_table
from security_master_spark.functions.rounding import dround, sql_dround
from security_master_spark.plans.registry import register
from security_master_spark.plans.io_scratch import _scratch


@register(
    "io9_orc_roundtrip",
    oracle=f"""
    SELECT p_brand,
           CAST(COUNT(*) AS BIGINT) AS n_parts,
           {sql_dround("SUM(p_retailprice)", 4)} AS retail_total,
           {sql_dround("AVG(p_size)", 6)} AS avg_size
    FROM part
    GROUP BY p_brand
    """,
)
def io9_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """part → ORC → read back → per-brand rollup. ORC is the second
    columnar format Spark ships natively (vectorized reader, predicate
    pushdown into stripe/row-group indexes, zlib/zstd stripes) and the
    interchange format for Hive-ecosystem consumers of this engine's
    output. The file is self-describing, so the read-back needs no
    declared schema — the oracle (running on the ORIGINAL parquet)
    certifies that longs, strings, ints and doubles survive the
    write/read cycle bit-exactly; the aggregate forces every column
    through the vectorized ORC reader rather than a metadata-only
    count."""
    path = _scratch(sf_dir, "part_orc")
    load_table(spark, sf_dir, "part").write.mode("overwrite").orc(path)
    back = spark.read.orc(path)
    return back.groupBy("p_brand").agg(
        F.count("*").cast("bigint").alias("n_parts"),
        dround(F.sum("p_retailprice"), 4).alias("retail_total"),
        dround(F.avg("p_size"), 6).alias("avg_size"),
    )

"""Round-6 source/sink batch (SURVEY.md §2.1): zstd parquet codec
roundtrip — the lake-format compression this repo's scale posture
recommends over gzip (splittable pages, ~gzip ratio at several times
the decode speed).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from security_master_spark.datasets import load_table
from security_master_spark.functions.rounding import dround, sql_dround
from security_master_spark.plans.io_scratch import _scratch
from security_master_spark.plans.registry import register


@register(
    "io19_zstd_parquet_roundtrip",
    oracle=f"""
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           {sql_dround("SUM(l_extendedprice)", 4)} AS total_price,
           {sql_dround("AVG(l_discount)", 6)} AS avg_discount
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def io19_zstd_parquet_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zstd parquet codec fidelity: write lineitem's pricing columns
    as zstd-compressed parquet, read them back, and certify an
    aggregate over the roundtrip against the oracle reading the
    ORIGINAL file — codec transparency proven by value equality, not
    by metadata inspection (tests/test_io_skipping.py asserts the
    footer actually says ZSTD, so a silent fallback to snappy cannot
    pass as a false positive).

    Zstd is the lake-codec recommendation at 100 TB: unlike io10's
    gzip CSV (whole-file codec, one task per file), parquet
    compresses per page inside splittable row groups, so a 1 TB
    zstd file still fans out across the cluster; zstd decodes
    several times faster than gzip at a comparable ratio. Column
    pruning on the read side is unaffected by the codec (pages
    decompress per column chunk)."""
    src = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice", "l_discount"
    )
    path = _scratch(sf_dir, "lineitem_zstd")
    src.write.mode("overwrite").option("compression", "zstd").parquet(path)
    back = spark.read.parquet(path)
    return back.groupBy("l_returnflag").agg(
        F.count("*").cast("bigint").alias("n_rows"),
        dround(F.sum("l_extendedprice"), 4).alias("total_price"),
        dround(F.avg("l_discount"), 6).alias("avg_discount"),
    )

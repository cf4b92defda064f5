"""Round-5 source/sink candidates, batch 3 (SURVEY.md §2.1): XML
round-trip — Spark 4 ships the (formerly spark-xml) XML data source
natively, and enterprise feeds (ISO 20022, FIXML, vendor security
masters) still arrive as XML.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from security_master_spark.datasets import load_table
from security_master_spark.functions.rounding import dround, sql_dround
from security_master_spark.plans.registry import register
from security_master_spark.plans.io_scratch import _scratch

_SUPPLIER_SCHEMA = (
    "s_suppkey long, s_name string, s_nationkey int, s_acctbal double"
)


@register(
    "io13_xml_roundtrip",
    oracle=f"""
    SELECT s_nationkey,
           CAST(COUNT(*) AS BIGINT) AS n_suppliers,
           {sql_dround("SUM(s_acctbal)", 4)} AS acctbal_total,
           MIN(s_name) AS first_name
    FROM supplier
    GROUP BY s_nationkey
    """,
)
def io13_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """supplier → XML (rowTag records) → read back with a DECLARED
    schema → per-nation rollup. Schema declaration matters twice at
    scale: it skips the inference pre-pass (a full extra read of the
    dataset), and it pins types against XML's stringly nature (an
    acctbal of "911.0" must come back double, not string). The oracle
    runs on the ORIGINAL parquet, so longs, ints, doubles and strings
    are value-certified through the serialize/parse cycle. XML files
    split per-record at rowTag boundaries, so a large feed still
    parallelizes across tasks."""
    path = _scratch(sf_dir, "supplier_xml")
    (
        load_table(spark, sf_dir, "supplier")
        .select("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
        .write.mode("overwrite")
        .format("xml")
        .option("rowTag", "supplier")
        .save(path)
    )
    back = (
        spark.read.format("xml")
        .option("rowTag", "supplier")
        .schema(_SUPPLIER_SCHEMA)
        .load(path)
    )
    return back.groupBy("s_nationkey").agg(
        F.count("*").cast("bigint").alias("n_suppliers"),
        dround(F.sum("s_acctbal"), 4).alias("acctbal_total"),
        F.min("s_name").alias("first_name"),
    )


@register(
    "io14_file_metadata",
    oracle="""
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(1 AS BIGINT) AS n_files,
           CAST(COUNT(*) - 1 AS BIGINT) AS max_row_index
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def io14_file_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hidden file-metadata columns (`_metadata.file_name` /
    `row_index`, Spark 3.5+): per-source-file provenance surfaced
    through the scan — the lineage/audit surface (which file did this
    row come from, where in it) that debugging a bad ingest at 100 TB
    depends on; zero-cost because it rides the scan, no join against
    a manifest. The layout is pinned first (repartition by the
    partition column → exactly ONE file per status directory), so the
    oracle can DERIVE what the metadata must be from the original
    table: one distinct file per status, and a dense 0..n-1 row_index
    whose max is n_rows − 1. A metadata bug (duplicate indices, rows
    attributed to the wrong file, a stray second file) breaks the
    hash."""
    path = _scratch(sf_dir, "orders_meta")
    orders = load_table(spark, sf_dir, "orders")
    (
        orders.repartition("o_orderstatus")
        .write.mode("overwrite")
        .partitionBy("o_orderstatus")
        .parquet(path)
    )
    # Declared read schema: a zero-row source writes no data files at
    # all (just _SUCCESS), and schema inference has nothing to read —
    # the empty-dataset robustness contract (tests/test_robustness.py).
    back = spark.read.schema(orders.schema).parquet(path)
    return back.groupBy("o_orderstatus").agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.countDistinct("_metadata.file_name").cast("bigint").alias("n_files"),
        F.max("_metadata.row_index").cast("bigint").alias("max_row_index"),
    )


@register(
    "io15_incremental_aggregate",
    oracle=f"""
    SELECT CAST(DATE_TRUNC('month', o_orderdate) AS TIMESTAMP) AS month,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           {sql_dround("SUM(o_totalprice)", 4)} AS revenue
    FROM orders
    GROUP BY 1
    """,
)
def io15_incremental_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance (materialized-view refresh):
    the orders stream arrives in TWO batches (orderkey parity split);
    each batch's partial monthly rollup MERGEs additively into a
    snapshot-versioned state table (read current state → outer-join
    the delta → add → write snapshot N+1 via operators/merge). The
    oracle is the FULL recompute over all rows, so the hash certifies
    the core incremental-ETL contract end-to-end: merge(agg(b1),
    agg(b2)) == agg(b1 ∪ b2), including months present in only one
    batch. Each refresh costs one scan of the DELTA plus a state-table
    merge — at 100 TB/day this is the difference between a nightly
    full recompute and a per-batch refresh; sum/count aggregates
    compose additively (avg derives), which is exactly the
    partial-aggregation algebra Spark uses map-side."""
    from security_master_spark.operators.merge import (
        read_snapshot,
        upsert_parquet_snapshot,
    )

    orders = load_table(spark, sf_dir, "orders")
    base_dir = _scratch(sf_dir, "incr_agg_state")
    import shutil

    shutil.rmtree(base_dir, ignore_errors=True)

    month = F.date_trunc("month", F.col("o_orderdate")).alias("month")
    for half in (0, 1):
        delta = (
            orders.filter(F.pmod(F.col("o_orderkey"), 2) == half)
            .groupBy(month)
            .agg(
                F.count("*").cast("bigint").alias("n_orders"),
                F.sum("o_totalprice").alias("revenue"),
            )
        )
        if half == 0:
            merged = delta
        else:
            state = read_snapshot(spark, base_dir)
            merged = (
                state.select(
                    "month",
                    F.col("n_orders").alias("n0"),
                    F.col("revenue").alias("r0"),
                )
                .join(
                    delta.select(
                        "month",
                        F.col("n_orders").alias("n1"),
                        F.col("revenue").alias("r1"),
                    ),
                    "month",
                    "full_outer",
                )
                .select(
                    "month",
                    (
                        F.coalesce(F.col("n0"), F.lit(0))
                        + F.coalesce(F.col("n1"), F.lit(0))
                    ).alias("n_orders"),
                    (
                        F.coalesce(F.col("r0"), F.lit(0.0))
                        + F.coalesce(F.col("r1"), F.lit(0.0))
                    ).alias("revenue"),
                )
            )
        upsert_parquet_snapshot(spark, base_dir, merged, keys=["month"])
    final = read_snapshot(spark, base_dir)
    return final.select(
        "month",
        "n_orders",
        dround(F.col("revenue"), 4).alias("revenue"),
    )


@register(
    "io16_malformed_csv_handling",
    oracle=f"""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN o_orderkey % 13 = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_corrupt,
           CAST(SUM(CASE WHEN o_orderkey % 13 <> 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_good,
           {sql_dround(
               "SUM(CASE WHEN o_orderkey % 13 <> 0 THEN o_totalprice"
               " ELSE CAST(0 AS DOUBLE) END)", 4
           )} AS good_total
    FROM orders
    """,
)
def io16_malformed_csv_handling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-record handling on ingest: a CSV feed where a
    deterministic 1-in-13 of the rows is corrupted (non-numeric
    amount), read in PERMISSIVE mode with a `_corrupt_record` column —
    the quarantine-don't-crash contract every real feed loader needs
    (DROPMALFORMED silently loses data; FAILFAST takes the job down
    for one bad row; PERMISSIVE keeps the row, nulls the bad fields,
    and preserves the raw line for the reprocessing queue). The
    oracle derives the exact expected good/corrupt split and the
    good-row checksum from the corruption rule, so the parser's
    classification is value-certified, not just counted."""
    orders = load_table(spark, sf_dir, "orders")
    path = _scratch(sf_dir, "orders_malformed_csv")
    line = F.concat_ws(
        ",",
        F.col("o_orderkey").cast("string"),
        F.when(F.col("o_orderkey") % 13 == 0, F.lit("NOT_A_NUMBER")).otherwise(
            F.col("o_totalprice").cast("string")
        ),
        F.col("o_orderstatus"),
    )
    orders.select(line.alias("value")).write.mode("overwrite").text(path)
    back = (
        spark.read.schema(
            "o_orderkey long, o_totalprice double, o_orderstatus string, "
            "_corrupt_record string"
        )
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(path)
    )
    # _corrupt_record columns can't be filtered straight off the scan
    # (Spark requires a materialization boundary); cache-free trick:
    # project to a plain column first.
    back = back.select(
        "o_orderkey",
        "o_totalprice",
        F.col("_corrupt_record").isNotNull().alias("is_corrupt"),
    )
    return back.agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.sum(F.when(F.col("is_corrupt"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_corrupt"),
        F.sum(F.when(~F.col("is_corrupt"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_good"),
        dround(
            F.sum(
                F.when(~F.col("is_corrupt"), F.col("o_totalprice")).otherwise(
                    0.0
                )
            ),
            4,
        ).alias("good_total"),
    )

"""Source/sink roundtrip queries (SURVEY.md §2.1).

Each query writes a fixture table out through a format and reads it
back before computing, so the DuckDB oracle (running on the original
parquet) certifies end-to-end format fidelity: types, timestamps,
doubles, nulls. The write happens when the query function is called
(eager side effect under /tmp); the returned DataFrame lazily scans
the written files.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from security_master_spark.datasets import load_table
from security_master_spark.functions.rounding import dround, sql_dround
from security_master_spark.plans.registry import register
from security_master_spark.sources.io import (
    read_csv,
    read_json,
    write_csv,
    write_json,
    write_parquet_partitioned,
)

from security_master_spark.plans.io_scratch import _scratch


_CUSTOMER_SCHEMA = (
    "c_custkey long, c_name string, c_nationkey int, "
    "c_acctbal double, c_mktsegment string"
)


@register(
    "io1_csv_roundtrip",
    oracle="""
    SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
    FROM customer
    """,
)
def io1_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """customer → CSV → read back, full rows. Doubles survive because
    Spark writes shortest-roundtrip representations; the declared read
    schema restores exact types (no inference pass)."""
    path = _scratch(sf_dir, "customer_csv")
    write_csv(load_table(spark, sf_dir, "customer"), path)
    return read_csv(spark, path, _CUSTOMER_SCHEMA).select(
        "c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"
    )


_ORDERS_SCHEMA = (
    "o_orderkey long, o_custkey long, o_orderstatus string, "
    "o_totalprice double, o_orderdate timestamp, o_orderpriority string"
)


@register(
    "io2_json_roundtrip",
    oracle=f"""
    SELECT CAST(DATE_TRUNC('month', o_orderdate) AS TIMESTAMP) AS order_month,
           o_orderstatus,
           COUNT(*) AS n_orders,
           {sql_dround("SUM(o_totalprice)", 4)} AS revenue
    FROM orders
    GROUP BY 1, 2
    """,
)
def io2_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders → JSON lines → read back → monthly revenue rollup. The
    aggregate runs on re-parsed rows, so timestamp serialization
    (ISO-8601, UTC) is value-checked through the whole write/read
    cycle."""
    path = _scratch(sf_dir, "orders_json")
    write_json(load_table(spark, sf_dir, "orders"), path)
    back = read_json(spark, path, _ORDERS_SCHEMA)
    return (
        back.groupBy(
            F.date_trunc("month", "o_orderdate").alias("order_month"),
            "o_orderstatus",
        )
        .agg(
            F.count("*").alias("n_orders"),
            dround(F.sum("o_totalprice"), 4).alias("revenue"),
        )
    )


@register(
    "io3_parquet_sink_partitioned",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           COUNT(*) AS n_items,
           {sql_dround("SUM(l_quantity)", 4)} AS sum_qty
    FROM lineitem
    WHERE l_returnflag = 'R'
    GROUP BY 1, 2
    """,
)
def io3_parquet_sink_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem → parquet partitioned by l_returnflag → read back with a
    partition filter. The filter prunes to one directory at planning
    time (the sink layout IS the index); the oracle aggregates the
    original unpartitioned file."""
    path = _scratch(sf_dir, "lineitem_part")
    src = load_table(spark, sf_dir, "lineitem")
    write_parquet_partitioned(src, path, ["l_returnflag"])
    # Declared schema on read: production discipline (never infer), and
    # the only thing that makes an all-empty partitioned dataset
    # readable at all (zero part-files → nothing to infer from).
    back = (
        spark.read.schema(src.schema)
        .parquet(path)
        .filter(F.col("l_returnflag") == "R")
    )
    return back.groupBy("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n_items"),
        dround(F.sum("l_quantity"), 4).alias("sum_qty"),
    )


@register(
    "io4_bucketed_join",
    oracle=f"""
    SELECT c_mktsegment,
           COUNT(*) AS n_orders,
           {sql_dround("SUM(o_totalprice)", 4)} AS revenue
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
)
def io4_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-located join via bucketing: both sides written bucketed by
    the join key (8 buckets), so the join itself plans with NO shuffle
    on either side (asserted in tests/test_operators.py) — the layout
    investment that amortizes across every downstream join at scale.
    The oracle joins the original unbucketed tables.

    The bucketed scratch tables carry only the columns this query's
    join + aggregate read (guide §2.3/§6: project before the
    write-side exchange — the bucketed WRITE is the query's dominant
    cost, and serializing the 7 unused orders/customer columns was
    pure overhead; measured r15: 1.44 → 1.35 s min-of-brackets at
    sf0.1, and the saving grows with table width at scale). A
    production layout investment would write the full table once for
    ALL downstream consumers — amortized across them, not billed to
    one query, so the projected write is the honest per-query cost."""
    from security_master_spark.sources.io import write_bucketed_table

    tag = "".join(
        ch if ch.isalnum() else "_"
        for ch in (os.path.basename(os.path.normpath(sf_dir)) or "sf")
    )
    orders_t, cust_t = f"sms_orders_b_{tag}", f"sms_customer_b_{tag}"
    write_bucketed_table(
        load_table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice"),
        orders_t,
        "o_custkey",
        8,
        path=_scratch(sf_dir, "orders_bucketed"),
    )
    write_bucketed_table(
        load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment"),
        cust_t,
        "c_custkey",
        8,
        path=_scratch(sf_dir, "customer_bucketed"),
    )
    orders_b = spark.table(orders_t)
    cust_b = spark.table(cust_t)
    return (
        orders_b.join(cust_b, orders_b.o_custkey == cust_b.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_orders"),
            dround(F.sum("o_totalprice"), 4).alias("revenue"),
        )
    )


@register(
    "io6_merge_upsert",
    oracle=f"""
    WITH base AS (
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
        FROM orders
    ), updates AS (
        SELECT o_orderkey, o_custkey,
               'U' AS o_orderstatus,
               {sql_dround("o_totalprice * 1.1", 4)} AS o_totalprice,
               (o_orderkey % 97 = 0) AS is_delete
        FROM orders WHERE o_orderkey % 10 = 0
    ), merged AS (
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, is_delete
        FROM updates
        UNION ALL
        SELECT b.o_orderkey, b.o_custkey, b.o_orderstatus, b.o_totalprice,
               FALSE AS is_delete
        FROM base b
        WHERE NOT EXISTS (SELECT 1 FROM updates u
                          WHERE u.o_orderkey = b.o_orderkey)
    )
    SELECT o_orderkey, o_custkey, o_orderstatus,
           {sql_dround("o_totalprice", 4)} AS o_totalprice
    FROM merged WHERE NOT is_delete
    """,
)
def io6_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO parquet via copy-on-write snapshots (the write-side
    upsert the reference's store performs; Delta/Iceberg MERGE is the
    100 TB deployment, flagged out of scope — this is the same
    semantics on plain parquet). Snapshot v1 = the orders base; the
    updates batch re-prices every 10th order (WHEN MATCHED UPDATE) and
    deletes every 970th (WHEN MATCHED DELETE); the returned DataFrame
    reads snapshot v2 from disk, so merge AND parquet round-trip are
    both under oracle check. The merge itself is one shuffle on the
    key (union + row_number, no join)."""
    import shutil

    from security_master_spark.operators.merge import upsert_parquet_snapshot

    base_dir = _scratch(sf_dir, "orders_upsert")
    shutil.rmtree(base_dir, ignore_errors=True)  # deterministic per call

    base = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    upsert_parquet_snapshot(spark, base_dir, base, keys=["o_orderkey"])
    updates = base.filter(F.col("o_orderkey") % 10 == 0).select(
        "o_orderkey",
        "o_custkey",
        F.lit("U").alias("o_orderstatus"),
        dround(F.col("o_totalprice") * 1.1, 4).alias("o_totalprice"),
        (F.col("o_orderkey") % 97 == 0).alias("is_delete"),
    )
    merged = upsert_parquet_snapshot(
        spark, base_dir, updates, keys=["o_orderkey"], delete_col="is_delete"
    )
    return merged.select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        dround(F.col("o_totalprice"), 4).alias("o_totalprice"),
    )


@register(
    "io5_api_ingest",
    oracle=f"""
    SELECT p.p_partkey AS symbol_id,
           t.day AS day,
           p.p_retailprice AS open,
           {sql_dround("p.p_retailprice * (1 + t.day / CAST(100 AS DOUBLE))", 6)}
               AS close,
           CAST(p.p_partkey % 1000 + t.day * 10 AS BIGINT) AS volume
    FROM part p, UNNEST(generate_series(1, 5)) AS t(day)
    WHERE p.p_partkey <= 500
    """,
)
def io5_api_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vendor-API ingestion seam (the reference's core job, SURVEY.md
    §1.2/§2.1): a mapInPandas fetcher turns each 'symbol' row into its
    EOD price series — one Arrow batch of symbols in, a frame of price
    rows out, fetch parallelized across partitions. The HTTP call is
    stubbed with a deterministic generator so the oracle can replay it;
    a real client swaps into ``fetch`` unchanged."""
    import pandas as pd

    def fetch_batches(batches):
        def fetch(symbol_id: int, retail: float) -> pd.DataFrame:
            days = list(range(1, 6))
            return pd.DataFrame(
                {
                    "symbol_id": symbol_id,
                    "day": days,
                    "open": retail,
                    "close": [retail * (1 + d / 100.0) for d in days],
                    "volume": [symbol_id % 1000 + d * 10 for d in days],
                }
            )

        for pdf in batches:
            for row in pdf.itertuples(index=False):
                yield fetch(row.p_partkey, row.p_retailprice)

    part = load_table(spark, sf_dir, "part").filter(F.col("p_partkey") <= 500)
    out = part.select("p_partkey", "p_retailprice").mapInPandas(
        fetch_batches,
        schema="symbol_id long, day long, open double, close double, volume long",
    )
    return out.withColumn("close", dround(F.col("close"), 6))

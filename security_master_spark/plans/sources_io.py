"""Source/sink roundtrip queries (SURVEY.md §2.1).

Each query writes a fixture table out through a format and reads it
back before computing, so the DuckDB oracle (running on the original
parquet) certifies end-to-end format fidelity: types, timestamps,
doubles, nulls. The write happens when the query function is called
(eager side effect under the scratch root); the returned DataFrame
lazily scans the written files.

The scratch root is ONE config point, so the 100-TB story —
io-roundtrip payloads living on a lake-backed scratch path
(s3://…/tmp, hdfs://…/scratch) instead of local /tmp — is code, not a
docstring. Resolution order, dearest first:

1. active SparkSession conf ``spark.sms.scratch.root`` (runtime-
   settable; how a cluster points at the lake),
2. env ``SPARK_GRAFT_SCRATCH_ROOT`` (how the bench/driver harness
   redirects without touching session confs),
3. ``/tmp/sms_io`` (the local[32] sandbox default).
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from security_master_spark.datasets import load_table
from security_master_spark.functions.rounding import dround, sql_dround
from security_master_spark.plans.registry import register
from security_master_spark.session import configure_session
from security_master_spark.sources.io import (
    read_csv,
    read_json,
    write_csv,
    write_json,
    write_parquet_partitioned,
)
from security_master_spark.sources.pyds import SyntheticTicksDataSource


SCRATCH_CONF_KEY = "spark.sms.scratch.root"
_DEFAULT_ROOT = "/tmp/sms_io"


def _root() -> str:
    try:  # active-session conf wins — the cluster-side config point
        from pyspark.sql import SparkSession

        spark = SparkSession.getActiveSession()
        if spark is not None:
            v = spark.conf.get(SCRATCH_CONF_KEY, None)
            if v:
                return v.rstrip("/")
    except Exception:  # pragma: no cover - session teardown races
        pass
    return os.environ.get("SPARK_GRAFT_SCRATCH_ROOT", _DEFAULT_ROOT).rstrip(
        "/"
    )


def _scratch(sf_dir: str, name: str) -> str:
    tag = os.path.basename(os.path.normpath(sf_dir)) or "sf"
    return f"{_root()}/{tag}/{name}"


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


_ROWS = 5000


@register(
    "io11_python_datasource",
    oracle=f"""
    WITH ticks AS (
        SELECT i AS tick_id,
               TIMESTAMP '2024-01-01 00:00:00' + i * INTERVAL 1 SECOND AS ts,
               CAST((i * 2654435761) % 10000 AS DOUBLE) / 100.0 AS price
        FROM (SELECT unnest(generate_series(0, {_ROWS - 1})) AS i)
    )
    SELECT CAST(EXTRACT(hour FROM ts) AS INT) AS hour,
           CAST(COUNT(*) AS BIGINT) AS n_ticks,
           {sql_dround("AVG(price)", 6)} AS avg_price,
           {sql_dround("MAX(price)", 6)} AS max_price
    FROM ticks
    GROUP BY EXTRACT(hour FROM ts)
    """,
)
def io11_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom Python DataSource (Spark 4 ``pyspark.sql.datasource``):
    the integration path for feeds Spark has no reader for. The source
    declares schema AND partitions up front, so generation runs as 8
    parallel executor tasks (never a driver-side materialize), and
    the rows are a pure function of the row id — which is what lets a
    SQL oracle regenerate the identical stream from generate_series
    and certify the whole custom-source path end-to-end (schema,
    values, timestamp arithmetic) rather than rows-only. Downstream
    is an ordinary JVM hash aggregate; the Python boundary is the
    batched Arrow handoff the DataSource API uses natively.
    ``sf_dir`` is unused: the source IS the data."""
    configure_session(spark)
    # idempotent per-session registration (re-register overwrites)
    spark.dataSource.register(SyntheticTicksDataSource)
    ticks = (
        spark.read.format("synthetic_ticks")
        .option("rows", _ROWS)
        .option("partitions", 8)
        .load()
    )
    return ticks.groupBy(F.hour("ts").alias("hour")).agg(
        F.count("*").cast("bigint").alias("n_ticks"),
        dround(F.avg("price"), 6).alias("avg_price"),
        dround(F.max("price"), 6).alias("max_price"),
    ).select(F.col("hour").cast("int").alias("hour"), "n_ticks", "avg_price", "max_price")


@register(
    "io12_zorder_roundtrip",
    oracle=f"""
    SELECT CAST(event_id AS BIGINT) AS event_id, user_id,
           {sql_dround("value", 6)} AS value
    FROM events
    WHERE user_id BETWEEN 100 AND 200
      AND ts >= (SELECT MIN(ts) FROM events) + INTERVAL 2 DAY
      AND ts <  (SELECT MIN(ts) FROM events) + INTERVAL 9 DAY
    """,
)
def io12_zorder_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order layout end-to-end: write events clustered on the
    (user_id, epoch-seconds) Morton curve, read back through a
    TWO-dimensional predicate (a user band AND a time window — the
    query shape multi-dim clustering exists for), and certify exact
    values against the oracle reading the original parquet. Each
    dimension's predicate can prune files via the tightened footer
    stats (proven quantitatively in tests/test_io_skipping.py); this
    query certifies the layout loses nothing — quantization drives
    placement only. The time window is anchored to MIN(ts) on both
    sides so the query is fixture-date-agnostic."""
    from security_master_spark.datasets import load_table
    from security_master_spark.sources.io import write_zordered_parquet

    events = load_table(spark, sf_dir, "events").withColumn(
        "ts_sec", F.unix_timestamp("ts")
    )
    path = _scratch(sf_dir, "events_zorder")
    write_zordered_parquet(events, path, "user_id", "ts_sec", n_files=16)
    back = spark.read.schema(events.schema).parquet(path)
    lo = events.agg(F.min("ts").alias("m")).first().m
    import datetime

    if lo is None:  # empty fixture: window collapses, zero rows either way
        lo = datetime.datetime(1970, 1, 1)
    t0 = lo + datetime.timedelta(days=2)
    t1 = lo + datetime.timedelta(days=9)
    return (
        back.filter(
            F.col("user_id").between(100, 200)
            & (F.col("ts") >= F.lit(t0))
            & (F.col("ts") < F.lit(t1))
        )
        .select(
            F.col("event_id").cast("bigint").alias("event_id"),
            "user_id",
            dround(F.col("value"), 6).alias("value"),
        )
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


# Text is how raw LLM pretraining dumps actually arrive (one document
# per line, no schema), so the roundtrip is certified through the same
# write→read→values gate as the structured formats.


@register(
    "io17_text_roundtrip",
    oracle="""
    SELECT doc_id, lang, text FROM documents
    """,
)
def io17_text_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → line-oriented text files (`doc_id\\tlang\\ttext`,
    the one-doc-per-line dump format of web-crawl deliveries) → read
    back with ``spark.read.text`` → split the leading metadata fields
    off the payload. The split uses two bounded SUBSTRING_INDEX-style
    expressions, not a 3-way split, so payload text containing the
    delimiter would survive (fixtures are space-tokenized, but the
    recipe must not depend on that). Value-certified against the
    original table — serialization, line framing, and field splitting
    all inside the hash gate.

    Scale: text read is splittable by line (HDFS-style input splits),
    the parse is two JVM string expressions in the scan projection,
    and nothing shuffles. This is the entry plan of every real
    pretraining ingest.

    Line framing vs payload newlines: a raw embedded newline would
    split one document across two lines (the adversarial fixture has
    one — the read-back then mis-frames and the id cast explodes), so
    the writer applies the standard crawl-dump escape — backslash
    first (``\\`` → ``\\\\``), then newline/CR (→ ``\\n`` / ``\\r``)
    — and the reader reverses it exactly (odd-backslash-parity
    match, so an escaped backslash followed by a literal ``n``
    survives). Lossless for every payload."""
    docs = load_table(spark, sf_dir, "documents")
    path = _scratch(sf_dir, "documents_text")
    esc = F.regexp_replace(F.col("text"), r"\\", r"\\\\")
    esc = F.regexp_replace(esc, "\n", r"\\n")
    esc = F.regexp_replace(esc, "\r", r"\\r")
    (
        docs.select(
            F.concat_ws("\t", F.col("doc_id").cast("string"), "lang", esc)
            .alias("value")
        )
        .write.mode("overwrite")
        .text(path)
    )
    lines = spark.read.text(path)
    doc_id = F.substring_index("value", "\t", 1).cast("bigint")
    lang = F.substring_index(F.substring_index("value", "\t", 2), "\t", -1)
    # Everything after the second tab — length arithmetic, immune to
    # further delimiters inside the payload.
    head_len = (
        F.length(F.substring_index("value", "\t", 2)) + F.lit(2)
    )
    text = F.col("value").substr(head_len, F.length("value"))
    # unescape: \n / \r preceded by an EVEN number of backslashes is a
    # framing escape; the captured pairs are kept (they unescape next)
    un = F.regexp_replace(text, r"(?<!\\)((\\\\)*)\\n", "$1\n")
    un = F.regexp_replace(un, r"(?<!\\)((\\\\)*)\\r", "$1\r")
    un = F.regexp_replace(un, r"\\\\", r"\\")
    return lines.select(
        doc_id.alias("doc_id"), lang.alias("lang"), un.alias("text")
    )


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


#: docs slice for the multiline payload.
_N_DOCS = 200


def _payload(col_text: Column, col_lang: Column) -> Column:
    """Adversarial CSV field: embedded newline, embedded double quote,
    embedded comma — everything the quoting/escaping layer must get
    right, derived deterministically from fixture columns."""
    return F.concat(
        col_lang,
        F.lit("\n\"q\","),
        F.substring(col_text, 1, 48),
        F.lit("\nEND"),
    )


@register(
    "io20_multiline_csv",
    oracle=f"""
    WITH payload AS (
        SELECT doc_id,
               lang || chr(10) || '"q",' || substr(text, 1, 48)
                    || chr(10) || 'END' AS v
        FROM documents WHERE doc_id < {_N_DOCS}
    )
    SELECT doc_id,
           CAST(length(v) AS BIGINT) AS n_chars,
           CAST(length(v) - length(replace(v, chr(10), '')) AS BIGINT)
               AS n_newlines,
           md5(v) AS checksum
    FROM payload
    """,
)
def io20_multiline_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiline CSV roundtrip: build an adversarial text field
    (embedded newline, embedded double quote, embedded comma) per
    document, write it to CSV, read it back with `multiLine` enabled,
    and publish per-row length / newline-count / md5 — compared
    against an oracle that derives the SAME payload straight from the
    fixture and never touches the file, so any quoting, escaping, or
    record-splitting defect in the roundtrip breaks the hash.

    Scale note (the honest trade): `multiLine` disables newline-based
    record splitting, so each CSV FILE becomes one read task (like
    io10's gzip) — the layout answer is many medium files, and this
    writer shuffles to 4 files to keep read parallelism. Clean
    single-line CSV stays the splittable default (io1)."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < _N_DOCS
    )
    payload = docs.select(
        "doc_id", _payload(F.col("text"), F.col("lang")).alias("v")
    )
    path = _scratch(sf_dir, "multiline_csv")
    (
        payload.repartition(4)
        .write.mode("overwrite")
        .option("header", "true")
        .csv(path)
    )
    back = (
        spark.read.schema("doc_id long, v string")
        .option("header", "true")
        .option("multiLine", "true")
        .csv(path)
    )
    return back.select(
        "doc_id",
        F.length("v").cast("bigint").alias("n_chars"),
        (
            F.length("v")
            - F.length(F.regexp_replace("v", "\n", ""))
        )
        .cast("bigint")
        .alias("n_newlines"),
        F.md5(F.col("v").cast("binary")).alias("checksum"),
    )


_NESTED_SCHEMA = (
    "o_orderkey long, o_orderstatus string, "
    "items array<struct<ln: int, qty: double, price: double>>"
)


@register(
    "io21_nested_json_roundtrip",
    oracle=f"""
    SELECT o.o_orderstatus,
           CAST(COUNT(DISTINCT o.o_orderkey) AS BIGINT) AS n_orders,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(SUM(CAST(FLOOR(l.l_quantity + 0.5) AS BIGINT))
                AS BIGINT) AS total_qty,
           CAST(SUM(CAST(FLOOR(l.l_extendedprice * 100 + 0.5)
                         AS BIGINT)) AS BIGINT) AS total_price_cents
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderstatus
    """,
)
def io21_nested_json_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Nested JSON roundtrip: denormalize each order into a document
    (order header + a sorted array of line-item structs), write JSON
    lines, read back with an explicit NESTED schema, re-flatten with
    explode, and aggregate — certified against an oracle that joins
    the original tables and never sees a document. Array-of-struct
    fidelity (field names, element order, double round-tripping
    inside nested fields) all have to survive for the sums to hash.
    Sums are EXACT integer cents (quantities/prices are 2-decimal
    values): at sf0.1 the per-status double sums reach ~7e9, where
    summation-order ulp noise exceeds a 4dp round — integer sums are
    order-independent and scale-proof.

    Scale: the nest is ONE groupBy (collect_list bounded by lines per
    order, ≤7 in TPC-H shape); the read-back declares the schema so
    there is no inference pass over the JSON; explode restores the
    flat stream pipeline-side. This is the document-interchange path
    (order APIs, event payloads) run through the engine end-to-end."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    nested = (
        li.select(
            "l_orderkey",
            F.struct(
                F.col("l_linenumber").cast("int").alias("ln"),
                F.col("l_quantity").alias("qty"),
                F.col("l_extendedprice").alias("price"),
            ).alias("item"),
        )
        .groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_list("item")).alias("items"))
        .join(
            orders.select("o_orderkey", "o_orderstatus"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select("o_orderkey", "o_orderstatus", "items")
    )
    path = _scratch(sf_dir, "nested_json")
    nested.write.mode("overwrite").json(path)
    back = spark.read.schema(_NESTED_SCHEMA).json(path)
    flat = back.select(
        "o_orderkey",
        "o_orderstatus",
        F.explode("items").alias("item"),
    )
    return flat.groupBy("o_orderstatus").agg(
        F.countDistinct("o_orderkey").cast("bigint").alias("n_orders"),
        F.count("*").cast("bigint").alias("n_items"),
        F.sum(F.floor(F.col("item.qty") + 0.5).cast("bigint"))
        .cast("bigint")
        .alias("total_qty"),
        F.sum(
            F.floor(F.col("item.price") * 100 + 0.5).cast("bigint")
        )
        .cast("bigint")
        .alias("total_price_cents"),
    )


#: the custom NULL sentinel the dialect writes for missing values.
_NULL_MARK = "\\N"


@register(
    "io22_tsv_dialect_roundtrip",
    oracle=f"""
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN c_acctbal < 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_nulled,
           {sql_dround(
               "SUM(CASE WHEN c_acctbal >= 0 THEN c_acctbal END)", 4
           )} AS sum_bal,
           CAST(SUM(length(c_name) -
                    length(replace(c_name, '\t', ''))) AS BIGINT)
               AS n_tabs_in_names
    FROM (
        SELECT c_mktsegment, c_acctbal,
               c_name || chr(9) || 'x' AS c_name
        FROM customer
    )
    GROUP BY c_mktsegment
    """,
)
def io22_tsv_dialect_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TSV dialect roundtrip: write customers with (1) a TAB
    separator, (2) an embedded TAB planted inside every name (so the
    quoting layer must fire on the separator itself), and (3) a
    custom NULL sentinel ``\\N`` standing in for negative balances —
    then read it back declaring the same dialect and aggregate. The
    oracle applies the same null-out rule to the original table and
    never touches the file, so separator quoting, sentinel encode/
    decode, and double round-tripping are all hash-certified.

    The ``\\N`` sentinel is the classic MySQL-dump convention — the
    single most common "why are my NULLs the string backslash-N"
    ingest bug; this query pins the engine handles it symmetrically.
    Shape: plain splittable single-line records (unlike io20's
    multiLine), so the read parallelizes per file split as usual."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_mktsegment",
        F.concat(F.col("c_name"), F.lit("\tx")).alias("c_name"),
        F.when(F.col("c_acctbal") >= 0, F.col("c_acctbal")).alias(
            "c_acctbal"
        ),
    )
    path = _scratch(sf_dir, "tsv_dialect")
    (
        cust.write.mode("overwrite")
        .option("header", "true")
        .option("sep", "\t")
        .option("nullValue", _NULL_MARK)
        .csv(path)
    )
    back = (
        spark.read.schema(
            "c_mktsegment string, c_name string, c_acctbal double"
        )
        .option("header", "true")
        .option("sep", "\t")
        .option("nullValue", _NULL_MARK)
        .csv(path)
    )
    return back.groupBy("c_mktsegment").agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.sum(F.when(F.col("c_acctbal").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_nulled"),
        dround(F.sum("c_acctbal"), 4).alias("sum_bal"),
        F.sum(
            F.length("c_name")
            - F.length(F.regexp_replace("c_name", "\t", ""))
        )
        .cast("bigint")
        .alias("n_tabs_in_names"),
    )


#: orderkey split point between the "old" and "new" file generations.
_GEN_SPLIT = 30000


@register(
    "io23_parquet_merge_schema",
    oracle=f"""
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CASE WHEN o_orderkey < {_GEN_SPLIT}
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_legacy,
           CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS total_price_cents,
           CAST(SUM(CASE WHEN o_orderkey >= {_GEN_SPLIT}
                    THEN CAST(FLOOR((o_totalprice * 0.1) * 1000 + 0.5)
                              AS BIGINT) END) AS BIGINT)
               AS total_fee_mils
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def io23_parquet_merge_schema(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Parquet schema-merge read: the dataset's "legacy" generation
    (orderkey < split) is written WITHOUT the fee column, the "new"
    generation with it; ``mergeSchema`` unifies the footers so legacy
    rows surface NULL fees — the additive-column evolution every
    long-lived lake table goes through, here at the FILE level rather
    than io7's declared-schema level. The aggregate exercises exactly
    the NULL semantics evolution creates (fee sums skip legacy rows;
    counts include them), certified against the original table. Sums
    are EXACT integers (cents for price, mils for the 10% fee —
    fee×1000 = price×100, an integer): at sf0.1 per-status double
    sums exceed what a 4dp round absorbs in summation-order noise.

    Scale note: mergeSchema reads EVERY file's footer at planning
    time — fine per-partition-directory, expensive over 10⁶ loose
    files; the production posture is evolution tracked in a catalog
    (or io7's declared schema) with mergeSchema as the ad-hoc tool.
    Data reads stay splittable and column-pruned either way."""
    orders = load_table(spark, sf_dir, "orders")
    legacy = orders.filter(F.col("o_orderkey") < _GEN_SPLIT).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    modern = orders.filter(F.col("o_orderkey") >= _GEN_SPLIT).select(
        "o_orderkey",
        "o_orderstatus",
        "o_totalprice",
        (F.col("o_totalprice") * 0.1).alias("o_fee"),
    )
    path = _scratch(sf_dir, "merge_schema")
    legacy.write.mode("overwrite").parquet(f"{path}/gen=legacy")
    modern.write.mode("overwrite").parquet(f"{path}/gen=modern")
    back = spark.read.option("mergeSchema", "true").parquet(
        f"{path}/gen=legacy", f"{path}/gen=modern"
    )
    return back.groupBy("o_orderstatus").agg(
        F.count("*").cast("bigint").alias("n_orders"),
        F.sum(F.when(F.col("o_fee").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_legacy"),
        F.sum(
            F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint")
        )
        .cast("bigint")
        .alias("total_price_cents"),
        F.sum(
            F.floor(F.col("o_fee") * 1000 + 0.5).cast("bigint")
        )
        .cast("bigint")
        .alias("total_fee_mils"),
    )

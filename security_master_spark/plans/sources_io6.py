"""Round-5 source/sink candidates, batch 2 (SURVEY.md §2.1): the
Spark 4 Python DataSource API.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from security_master_spark.functions.rounding import dround, sql_dround
from security_master_spark.plans.io_scratch import _scratch
from security_master_spark.plans.registry import register
from security_master_spark.session import configure_session
from security_master_spark.sources.pyds import SyntheticTicksDataSource

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

"""Fixture-table loading with schema normalization.

The ten graded tables (TESTDATA.md / FIXTURES.md) live as one parquet
file per table under a scale-factor directory. ``load_table`` is the
single choke point for reading them so the events nanos-timestamp fix
is applied exactly once, identically, everywhere.

Scale notes: a parquet *file* here stands in for a parquet *dataset*
(directory of part-files, possibly hive-partitioned) in production;
``spark.read.parquet`` handles both transparently, and predicate
pushdown / column pruning reach the scan either way.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from security_master_spark.session import configure_session

#: The graded fixture tables, in FK-dependency order.
TABLES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def normalize_events_ts(df: DataFrame, col: str = "ts") -> DataFrame:
    """Normalize an events-style timestamp column to session-zoned
    TIMESTAMP regardless of how the fixture generation stored it (the
    driver has shipped two layouts):

    - TIMESTAMP(NANOS) + ``nanosAsLong=true`` (rounds 1-3): arrives as
      long nanos, converted via *integer* division (``ts div 1000`` —
      float division drifts ±1µs through the double mantissa and
      breaks value-equality with engines that read nanos natively;
      FIXTURES.md gotcha #2).
    - TIMESTAMP(MICROS) (round 4+): arrives as TIMESTAMP_NTZ; cast to
      session-zoned TIMESTAMP (UTC session, so values are identical)
      to keep one downstream type across layouts.
    """
    ts_type = dict(df.dtypes).get(col)
    if ts_type == "bigint":
        return df.withColumn(col, F.timestamp_micros(F.expr(f"{col} div 1000")))
    if ts_type == "timestamp_ntz":
        return df.withColumn(col, F.col(col).cast("timestamp"))
    return df


#: (sf_dir, table) → inferred read schema. Schema inference reads the
#: parquet footer on EVERY ``spark.read.parquet`` call (~75 ms of the
#: ~120 ms per load_table, measured); across a battery that touches
#: tables hundreds of times that is tens of seconds of pure repeated
#: footer I/O. The schema of a fixture dir is immutable for the
#: process lifetime, so infer once and hand it back via
#: ``reader.schema(...)`` afterwards. Keyed by directory, so tmp-dir
#: test fixtures and different scale factors never collide.
_SCHEMA_CACHE: dict[tuple[str, str], "object"] = {}


def clear_schema_cache() -> None:
    """Drop every cached read schema. The cache assumes fixture dirs
    are immutable for the process lifetime; a test that REWRITES a
    fixture in place with a different schema must call this first —
    otherwise ``spark.read.schema(stale)`` silently yields NULLs for
    renamed/missing columns instead of failing."""
    _SCHEMA_CACHE.clear()


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table, normalizing types (``events.ts`` via
    :func:`normalize_events_ts` — the single choke point for the two
    storage layouts the driver has shipped)."""
    configure_session(spark)
    path = f"{sf_dir}/{name}.parquet"
    key = (sf_dir, name)
    cached = _SCHEMA_CACHE.get(key)
    if cached is not None:
        df = spark.read.schema(cached).parquet(path)
    else:
        df = spark.read.parquet(path)
        _SCHEMA_CACHE[key] = df.schema
    if name == "events":
        df = normalize_events_ts(df)
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load all fixture tables and register them as temp views.

    Registering views gives the SQL surface (``spark.sql``) the same
    table names the DuckDB oracle uses, so queries can be authored in
    either API against identical names.
    """
    out: dict[str, DataFrame] = {}
    for name in TABLES:
        df = load_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out


def fan_out(df: DataFrame, partitions: int | None = None) -> DataFrame:
    """Round-robin repartition to restore map-side parallelism when a
    scan collapses to fewer partitions than cores (single-row-group
    files here; few-file or skewed layouts at scale — parquet can't be
    split below row-group granularity).

    Use immediately before per-row-expensive stages (hashing, n-gram
    expansion, Python batch UDFs): the shuffle of the narrow input is
    cheap relative to the compute it spreads across the cluster. Not
    for cheap scans — there the extra exchange only costs.

    Repartitions unconditionally: probing the current partition count
    (``df.rdd.getNumPartitions()``) forces a plan→RDD conversion per
    call — a real driver-side cost on wide plans — and with AQE
    coalescing enabled the pre-execution number is unreliable anyway.
    When the input already has ≥ target partitions the round-robin
    exchange it adds is one narrow shuffle of data that the following
    per-row-heavy stage dwarfs (that trade is this function's
    contract). Note it can therefore also SHRINK a wider input down to
    ``target``: callers whose input is already wider than
    ``defaultParallelism`` (e.g. a many-file scan on a big cluster)
    must pass ``partitions=`` explicitly to keep their parallelism —
    this function cannot probe the current count without forcing a
    plan→RDD conversion, and under AQE the pre-execution number lies."""
    spark = df.sparkSession
    target = partitions or spark.sparkContext.defaultParallelism
    return df.repartition(target)

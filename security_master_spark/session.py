"""SparkSession factory and mandatory runtime configuration.

Two entry paths:
- ``get_spark()``        — build our own session (tests, bench).
- ``configure_session`` — apply the runtime-settable confs to an
  externally-provided session (the driver passes its own session to
  ``entry()`` / ``queries()``), so every code path goes through it.

Mandatory confs (FIXTURES.md gotchas):
- ``spark.sql.legacy.parquet.nanosAsLong=true`` — events.parquet stores
  TIMESTAMP(NANOS); Spark 4.x refuses it otherwise. The column then
  arrives as ``long`` nanos and is converted in datasets.load_table.
- UTC session timezone — keeps collected timestamp values canonical and
  matching DuckDB's naive-timestamp reads.
- AQE on — runtime partition coalescing + skew-join handling is the
  scale story for the 100 TB target.

Python worker daemon (``get_spark`` with a ``local`` master only):
pyspark's worker calls ``importlib.invalidate_caches()`` before every
task, and on CPython 3.11 each cached zip importer then re-reads its
archive's whole central directory: the spark-core jar (5,359 entries,
27-47 ms per importer) and pyspark.zip (1,328 entries, one importer per
imported subpackage). Measured inside a worker on a 4-vCPU host, that
call took 0.26 s per task, while a whole one-task job with no Python
stage takes about 50 ms. ``pydaemon`` re-reads an archive only when it
changed: the call drops to 0.15 ms and a one-task ``mapInPandas`` job
takes about 0.11 s. Sessions passed in from outside and non-local
masters keep pyspark's daemon and pay the cost.
"""

from __future__ import annotations

import atexit
import os
import pathlib
import tempfile
import zipfile

from pyspark.sql import SparkSession

#: Runtime-settable SQL confs applied to *every* session we touch.
RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Start shuffles WIDE and let AQE coalesce down to the advisory
    # size: a fixed spark.sql.shuffle.partitions can only be wrong in
    # one direction per query (AQE merges small partitions but never
    # splits oversized ones outside skew-join). Measured on a 6M-tick
    # corpus: the explode-heavy EWMA/MACD shuffles stop spilling
    # (d23 32.0 s → 18.8 s) while a small-query battery is unchanged
    # (AQE coalesces those back to a handful of partitions).
    "spark.sql.adaptive.coalescePartitions.initialPartitionNum": "256",
    # Let AQE re-optimize plans that MATERIALIZE or READ a cached
    # frame (default false only to keep a cache's output partitioning
    # stable for co-partitioning consumers, which this engine never
    # relies on). Without it every .persist() boundary pins the full
    # initialPartitionNum=256 on tiny cached frames AND disables
    # runtime join re-planning beneath the cache — measured r15 on the
    # persist-carrying battery subset (fresh-JVM interleaved A/B/A/B
    # minimums): g6 5.8→2.4 s, g1 3.1→2.0 s, d47 1.8→0.9 s,
    # g3 1.3→0.9 s, g2 1.9→1.6 s; no query outside noise in the other
    # direction once g4's pair stage got its fan_out. Scale-correct,
    # not a local[32] constant: it re-enables the same
    # bytes-per-partition AQE coalescing every uncached exchange
    # already gets.
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
    # Arrow for pandas UDF / toPandas interchange (the fast path).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Write timestamps as INT64 micros, not legacy INT96: INT96 row
    # groups carry NO min/max statistics, which silently disables
    # timestamp data skipping on everything this engine writes
    # (tests/test_io_skipping.py proves the footer stats exist).
    "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
}


#: Python worker daemon ``get_spark`` selects for ``local`` masters; the
#: workers import it from the package zip (``spark.executorEnv.PYTHONPATH``).
PYTHON_DAEMON_MODULE = "security_master_spark.pydaemon"

_PKG_ZIP_PATH: str | None = None


def _remove_package_zip() -> None:
    if _PKG_ZIP_PATH is not None and os.path.exists(_PKG_ZIP_PATH):
        os.remove(_PKG_ZIP_PATH)


def _package_zip() -> str:
    """Zip this package once per process for shipping to executors.

    The zip is deleted when the interpreter exits. ``get_spark`` builds
    it before its session starts, so the exit hook runs after pyspark's
    own (atexit is last-in, first-out), when the JVM and the workers
    that import from the zip are gone. A session passed in from outside
    ships the zip with ``addPyFile``, whose workers read Spark's copy.
    """
    global _PKG_ZIP_PATH
    if _PKG_ZIP_PATH is None:
        atexit.register(_remove_package_zip)
    if _PKG_ZIP_PATH is None or not os.path.exists(_PKG_ZIP_PATH):
        pkg_dir = pathlib.Path(__file__).resolve().parent
        fd, path = tempfile.mkstemp(prefix="security_master_spark_", suffix=".zip")
        os.close(fd)
        with zipfile.ZipFile(path, "w") as zf:
            for py in sorted(pkg_dir.rglob("*.py")):
                zf.write(py, arcname=str(py.relative_to(pkg_dir.parent)))
        _PKG_ZIP_PATH = path
    return _PKG_ZIP_PATH


def _ship_package(spark: SparkSession) -> None:
    """Make the package importable on Python *workers*.

    Module-level UDF/UDTF functions are cloudpickled **by reference**
    (module + qualname), so executors must be able to import
    ``security_master_spark`` — the driver having it on ``sys.path`` is
    not enough (workers inherit the JVM's PYTHONPATH, not the driver's
    ``sys.path``). ``addPyFile`` is the runtime equivalent of
    ``spark-submit --py-files``: it distributes the zip and prepends it
    to every worker's import path, locally and on a real cluster alike.
    """
    sc = spark.sparkContext
    zip_path = _package_zip()
    shipped = {os.path.basename(p) for p in getattr(sc, "_python_includes", [])}
    if os.path.basename(zip_path) not in shipped:
        sc.addPyFile(zip_path)


def configure_session(spark: SparkSession, shuffle_partitions: int | None = None) -> SparkSession:
    """Apply runtime confs to an existing session (idempotent)."""
    for key, value in RUNTIME_CONFS.items():
        spark.conf.set(key, value)
    if shuffle_partitions is not None:
        spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    _ship_package(spark)
    return spark


def get_spark(
    app_name: str = "security-master-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    ``master=None`` always means ``local[$SPARK_GRAFT_CPUS]`` (env,
    default 32), and the builder's ``.master()`` overrides any master
    given to spark-submit: to run on a cluster, pass its master here or
    build the session yourself and hand it to ``configure_session``.

    For ``local`` masters only, Python workers run the engine daemon
    (``pydaemon``), which skips pyspark's per-task re-read of every zip
    archive's directory; other masters, and sessions passed in from
    outside, keep pyspark's daemon.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
    )
    if master.split("[", 1)[0] == "local":
        builder = builder.config("spark.python.daemon.module", PYTHON_DAEMON_MODULE).config(
            "spark.executorEnv.PYTHONPATH", _package_zip()
        )
    for key, value in RUNTIME_CONFS.items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    # getOrCreate may have returned a pre-existing session — re-apply.
    return configure_session(spark, shuffle_partitions)

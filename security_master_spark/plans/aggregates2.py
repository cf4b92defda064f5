"""Round-4 aggregation candidates (SURVEY.md §2.4): equi-width
histogram and deterministic per-group mode.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from security_master_spark.datasets import load_table
from security_master_spark.functions.rounding import dround, sql_dround
from security_master_spark.plans.registry import register

_HIST_BINS = 20


@register(
    "a15_histogram",
    oracle=f"""
    WITH ext AS (
        SELECT MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi FROM orders
    ), bucketed AS (
        SELECT LEAST(CAST(FLOOR((o_totalprice - ext.lo)
                                / ((ext.hi - ext.lo) / {_HIST_BINS}))
                          AS INT), {_HIST_BINS - 1}) AS bucket,
               ext.lo, ext.hi
        FROM orders, ext
    )
    SELECT bucket,
           CAST(COUNT(*) AS BIGINT) AS n,
           {sql_dround(
               f"MAX(lo) + bucket * ((MAX(hi) - MAX(lo)) / {_HIST_BINS})",
               4)} AS bin_lo,
           {sql_dround(
               f"MAX(lo) + (bucket + 1) * ((MAX(hi) - MAX(lo)) / {_HIST_BINS})",
               4)} AS bin_hi
    FROM bucketed GROUP BY bucket
    """,
)
def a15_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram of order totals in 20 bins — the
    data-profiling / UI-sparkline primitive. Two passes by necessity
    (bin edges need the global extent before any row can be bucketed):
    pass 1 is a 1-row min/max aggregate, broadcast; pass 2 buckets
    map-side and hash-aggregates 20 keys. The bucket expression is
    written with IDENTICAL operation order on both engines — same
    IEEE doubles, same ops, same result — and the top edge clamps
    into the last bin (the LEAST) instead of an epsilon hack.
    dround only decorates the *reported* edges, never the bucketing
    math."""
    orders = load_table(spark, sf_dir, "orders")
    ext = orders.agg(
        F.min("o_totalprice").alias("lo"), F.max("o_totalprice").alias("hi")
    )
    width = (F.col("hi") - F.col("lo")) / _HIST_BINS
    # try_divide: a constant column makes hi == lo -> width 0; ANSI `/`
    # would crash, NULL buckets match the oracle's NULL division.
    bucket = F.least(
        F.floor(
            F.try_divide(F.col("o_totalprice") - F.col("lo"), width)
        ).cast("int"),
        F.lit(_HIST_BINS - 1),
    )
    bucketed = orders.crossJoin(F.broadcast(ext)).select(
        bucket.alias("bucket"), "lo", "hi"
    )
    rep_width = (F.max("hi") - F.max("lo")) / _HIST_BINS
    return bucketed.groupBy("bucket").agg(
        F.count("*").cast("bigint").alias("n"),
        dround(F.max("lo") + F.col("bucket") * rep_width, 4).alias("bin_lo"),
        dround(
            F.max("lo") + (F.col("bucket") + 1) * rep_width, 4
        ).alias("bin_hi"),
    )


@register(
    "a16_mode",
    oracle="""
    WITH counts AS (
        SELECT l_returnflag, l_quantity, COUNT(*) AS cnt
        FROM lineitem GROUP BY l_returnflag, l_quantity
    )
    SELECT l_returnflag, l_quantity AS mode_qty, CAST(cnt AS BIGINT) AS cnt
    FROM (
        SELECT l_returnflag, l_quantity, cnt,
               ROW_NUMBER() OVER (PARTITION BY l_returnflag
                                  ORDER BY cnt DESC, l_quantity) AS rn
        FROM counts
    ) WHERE rn = 1
    """,
)
def a16_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-group mode: most frequent quantity per return
    flag, ties broken toward the SMALLEST value (engine-native mode()
    functions are first-seen on ties — arrival-order-dependent and
    not reproducible cross-engine, so the rank recipe is the portable
    form). Count aggregate first (map-side combine collapses the
    stream to distinct (group, value) pairs), then a per-group top-1
    window — Spark turns the rn=1 filter into WindowGroupLimit, a
    map-side running top-k that never materializes full per-group
    sorts."""
    li = load_table(spark, sf_dir, "lineitem")
    counts = li.groupBy("l_returnflag", "l_quantity").agg(
        F.count("*").alias("cnt")
    )
    w = Window.partitionBy("l_returnflag").orderBy(
        F.col("cnt").desc(), F.col("l_quantity")
    )
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "l_returnflag",
            F.col("l_quantity").alias("mode_qty"),
            F.col("cnt").cast("bigint").alias("cnt"),
        )
    )

"""Round-4 securities-master candidates, batch 2 (SURVEY.md §2.11):
range-based volatility estimators, cross-sectional ranking,
rank-based winsorization, and the pairwise correlation matrix.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from security_master_spark.datasets import load_table
from security_master_spark.functions.ordering import (
    sql_tick_order_key,
    tick_order_key,
)
from security_master_spark.functions.rounding import dround, sql_dround
from security_master_spark.plans.registry import register


@register(
    "d25_range_volatility",
    oracle=f"""
    WITH bars AS (
        SELECT event_type,
               CAST(DATE_TRUNC('day', ts) AS TIMESTAMP) AS day,
               ARG_MIN(value, {sql_tick_order_key()}) AS open,
               MAX(value)         AS high,
               MIN(value)         AS low,
               ARG_MAX(value, {sql_tick_order_key()}) AS close
        FROM events
        GROUP BY event_type, DATE_TRUNC('day', ts)
    )
    SELECT event_type, day,
           {sql_dround("LN(high / low) * LN(high / low) / (4 * LN(2))", 6)}
               AS parkinson_var,
           {sql_dround(
               "0.5 * LN(high / low) * LN(high / low)"
               " - (2 * LN(2) - 1) * LN(close / open) * LN(close / open)",
               6)} AS garman_klass_var
    FROM bars
    WHERE low > 0
    """,
)
def d25_range_volatility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parkinson and Garman-Klass daily variance estimators from OHLC
    bars — the range-based vol family that extracts ~5-7x more
    information per bar than close-to-close returns. One hash
    aggregate builds the bars (min_by/max_by open/close, no
    self-join), then the estimators are pure per-row expressions in
    whole-stage codegen. ``low > 0`` guards the logs (the fixture has
    a handful of exact-zero prints; a real feed would drop them as
    bad ticks anyway). At 100 TB the tick scan collapses to
    O(types·days) rows at the first aggregate and everything after is
    free."""
    events = load_table(spark, sf_dir, "events")
    bars = events.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(
        F.min_by("value", tick_order_key()).alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.max_by("value", tick_order_key()).alias("close"),
    )
    hl = F.log(F.col("high") / F.col("low"))
    co = F.log(F.col("close") / F.col("open"))
    ln2 = float(__import__("math").log(2.0))
    return bars.filter(F.col("low") > 0).select(
        "event_type",
        "day",
        dround(hl * hl / (4 * ln2), 6).alias("parkinson_var"),
        dround(0.5 * hl * hl - (2 * ln2 - 1) * co * co, 6).alias(
            "garman_klass_var"
        ),
    )


@register(
    "d26_cross_sectional_rank",
    oracle=f"""
    WITH daily AS (
        SELECT event_type,
               CAST(DATE_TRUNC('day', ts) AS TIMESTAMP) AS day,
               {sql_dround("AVG(value)", 6)} AS y
        FROM events GROUP BY event_type, DATE_TRUNC('day', ts)
    )
    SELECT event_type, day, y,
           RANK() OVER w AS xs_rank,
           {sql_dround("PERCENT_RANK() OVER w", 6)} AS xs_pct
    FROM daily
    WINDOW w AS (PARTITION BY day ORDER BY y, event_type)
    """,
)
def d26_cross_sectional_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-sectional ranking: each series' daily level ranked
    against every other series ON THE SAME DAY (the factor-momentum /
    relative-strength primitive — 'is this instrument rich or cheap
    vs the universe today'). Note the window is partitioned by DAY
    (wide, one partition per date), the transpose of every other
    window in this repo — on a cluster this shuffles by date so each
    day's universe sorts locally; the input was already collapsed to
    O(types·days) rows by the daily aggregate, so the sort is tiny.
    The rank key is the dround-ed average (ties then broken by
    event_type) so cross-engine summation-order ulps cannot flip
    adjacent ranks."""
    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(dround(F.avg("value"), 6).alias("y"))
    w = Window.partitionBy("day").orderBy("y", "event_type")
    return daily.select(
        "event_type",
        "day",
        "y",
        F.rank().over(w).alias("xs_rank"),
        dround(F.percent_rank().over(w), 6).alias("xs_pct"),
    )


_WINSOR_PCT = 5  # clip the bottom/top 5% by rank


@register(
    "d27_winsorize",
    oracle=f"""
    WITH ranked AS (
        SELECT event_type, value,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY value, event_id) AS rn,
               COUNT(*) OVER (PARTITION BY event_type) AS n
        FROM events
    ), banded AS (
        SELECT event_type, value, n,
               FLOOR(n * {_WINSOR_PCT} / 100.0) + 1 AS k_lo,
               n - FLOOR(n * {_WINSOR_PCT} / 100.0) AS k_hi,
               rn
        FROM ranked
    ), bounds AS (
        SELECT event_type,
               MIN(CASE WHEN rn >= k_lo THEN value END) AS lo,
               MAX(CASE WHEN rn <= k_hi THEN value END) AS hi
        FROM banded GROUP BY event_type
    )
    SELECT b.event_type,
           {sql_dround("MAX(s.lo)", 6)} AS lo,
           {sql_dround("MAX(s.hi)", 6)} AS hi,
           CAST(SUM(CASE WHEN b.value < s.lo THEN 1 ELSE 0 END) AS BIGINT)
               AS n_clipped_low,
           CAST(SUM(CASE WHEN b.value > s.hi THEN 1 ELSE 0 END) AS BIGINT)
               AS n_clipped_high,
           {sql_dround(
               "AVG(LEAST(GREATEST(b.value, s.lo), s.hi))", 6)} AS win_mean
    FROM banded b JOIN bounds s ON s.event_type = b.event_type
    GROUP BY b.event_type
    """,
)
def d27_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-based winsorization: clamp each series' values to its own
    [5th, 95th] percentile band before computing moments — the
    outlier-robust normalization step of every cross-sectional factor
    pipeline. Bounds come from ROW_NUMBER positions, NOT interpolated
    percentiles: rank arithmetic is pure integers, so both engines
    pick bit-identical bound VALUES (an interpolated quantile can
    differ by an ulp cross-engine, silently flipping the
    classification of a value equal to the threshold). One window
    pass ranks, one aggregate extracts the band edges per key (tiny,
    broadcast back onto the stream), one final aggregate clips and
    averages."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    ranked = events.select(
        "event_type",
        "value",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(Window.partitionBy("event_type")).alias("n"),
    )
    k = F.floor(F.col("n") * _WINSOR_PCT / 100.0)
    banded = ranked.select(
        "event_type",
        "value",
        "rn",
        (k + 1).alias("k_lo"),
        (F.col("n") - k).alias("k_hi"),
    )
    bounds = banded.groupBy("event_type").agg(
        F.min(F.when(F.col("rn") >= F.col("k_lo"), F.col("value"))).alias("lo"),
        F.max(F.when(F.col("rn") <= F.col("k_hi"), F.col("value"))).alias("hi"),
    )
    joined = banded.join(F.broadcast(bounds), "event_type")
    clipped = F.least(F.greatest(F.col("value"), F.col("lo")), F.col("hi"))
    return joined.groupBy("event_type").agg(
        dround(F.max("lo"), 6).alias("lo"),
        dround(F.max("hi"), 6).alias("hi"),
        F.sum((F.col("value") < F.col("lo")).cast("long"))
        .cast("bigint")
        .alias("n_clipped_low"),
        F.sum((F.col("value") > F.col("hi")).cast("long"))
        .cast("bigint")
        .alias("n_clipped_high"),
        dround(F.avg(clipped), 6).alias("win_mean"),
    )


@register(
    "d28_pairwise_correlation",
    oracle=f"""
    WITH daily AS (
        SELECT event_type,
               CAST(DATE_TRUNC('day', ts) AS TIMESTAMP) AS day,
               AVG(value) AS y
        FROM events GROUP BY event_type, DATE_TRUNC('day', ts)
    )
    SELECT a.event_type AS series_a, b.event_type AS series_b,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           {sql_dround("CORR(a.y, b.y)", 4)} AS corr
    FROM daily a JOIN daily b
      ON a.day = b.day AND a.event_type < b.event_type
    GROUP BY a.event_type, b.event_type
    """,
)
def d28_pairwise_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise correlation matrix across all series (upper triangle):
    daily levels per series, self-equi-join on day with an
    anti-symmetric type predicate, CORR per pair — the risk-model /
    cluster-analysis input. Scale shape: the tick scan collapses to
    O(types·days) rows FIRST; the self-join then shuffles only that
    tiny daily matrix on day, and each day contributes k² pair rows
    locally (types is the small dimension — for k in the thousands
    you'd block the pair space, but the join stays day-local either
    way). dround(4) absorbs corr's cross-engine accumulation-order
    ulps."""
    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.avg("value").alias("y"))
    a = daily.alias("a")
    b = daily.alias("b")
    return (
        a.join(
            b,
            (F.col("a.day") == F.col("b.day"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("series_a"),
            F.col("b.event_type").alias("series_b"),
        )
        .agg(
            F.count("*").cast("bigint").alias("n_days"),
            dround(F.corr(F.col("a.y"), F.col("b.y")), 4).alias("corr"),
        )
    )

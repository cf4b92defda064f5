"""Round-5 domain candidates, batch 6 (SURVEY.md §2.11 adjunct —
commercial analytics over the order graph): market-basket lift,
cohort retention, and fulfillment-SLA latency — the three classic
product/ops panels every warehouse ships.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from security_master_spark.datasets import load_table
from security_master_spark.functions.rounding import dround, sql_dround

from security_master_spark.plans.registry import register

# Hard cap on distinct brands per order in the d47 pair stage: bounds
# the per-order quadratic at 64*63/2 pairs regardless of data shape
# (the g4 hub-cap discipline). TPC-H orders carry <= 7 line items, so
# the fixture result is provably unchanged.
_MAX_BASKET_BREADTH = 64


@register(
    "d47_basket_lift",
    oracle=f"""
    WITH ob AS (
        SELECT DISTINCT l.l_orderkey AS okey, p.p_brand AS brand
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    ), n AS (
        SELECT CAST(COUNT(DISTINCT okey) AS DOUBLE) AS n_orders FROM ob
    ), sup AS (
        SELECT brand, CAST(COUNT(*) AS DOUBLE) AS n FROM ob GROUP BY brand
    ), capped AS (
        SELECT okey FROM ob GROUP BY okey HAVING COUNT(*) <= 64
    ), pairs AS (
        SELECT a.brand AS brand_a, b.brand AS brand_b,
               CAST(COUNT(*) AS DOUBLE) AS n_both
        FROM ob a JOIN ob b ON b.okey = a.okey AND a.brand < b.brand
        JOIN capped c ON c.okey = a.okey
        GROUP BY a.brand, b.brand
    )
    SELECT p.brand_a, p.brand_b,
           CAST(p.n_both AS BIGINT) AS n_both,
           {sql_dround("p.n_both / n.n_orders", 8)} AS support,
           {sql_dround("p.n_both / sa.n", 8)} AS confidence_a_to_b,
           {sql_dround(
               "(p.n_both / n.n_orders) / ((sa.n / n.n_orders)"
               " * (sb.n / n.n_orders))", 6
           )} AS lift
    FROM pairs p
    JOIN sup sa ON sa.brand = p.brand_a
    JOIN sup sb ON sb.brand = p.brand_b
    CROSS JOIN n
    WHERE p.n_both >= 10
    """,
)
def d47_basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association at BRAND granularity: support,
    confidence and lift for brand pairs co-occurring in an order
    (lift > 1 = bought together more than chance — the
    cross-sell/bundling panel). Collapse-first discipline twice over:
    line items collapse to DISTINCT (order, brand) before any pair
    work, and the quadratic stage runs per order over its distinct
    brands with a HARD breadth cap (orders with > 64 distinct brands
    — ``_MAX_BASKET_BREADTH`` — are dropped before the pair stage — the g4 hub-cap
    reasoning: the bound is a property of the PLAN, not a hope about
    the data; on TPC-H-shaped orders, ≤7 lines each, nothing is ever
    dropped, and at scale a pathological mega-basket can no longer
    go quadratic). Support/total denominators stay over the FULL
    basket set, so capping only under-counts pair support for dropped
    mega-baskets — the same documented trade-off as g4's dropped
    hubs. The n_both floor drops the noise tail before the metric
    arithmetic. Support tables broadcast; the 1-row order-count
    crossJoin is the allowlisted a15 shape."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    raw = (
        # no forced broadcast: part is SF-linear (round-12 audit)
        li.join(
            part.select("p_partkey", "p_brand"),
            li.l_partkey == F.col("p_partkey"),
        )
        .select(F.col("l_orderkey").alias("okey"), F.col("p_brand").alias("brand"))
    )
    # Round-15 optimization: ONE exchange on okey replaces the old
    # 5-branch relational shape (distinct + per-branch re-derivation +
    # a 555k × 555k pair SMJ — 4 redundant scans of the fact join in
    # the final plan, plans/r15/d47_*.txt). collect_set dedupes
    # per-order brands IN the aggregate (subsuming the old global
    # distinct), and every downstream statistic reads the persisted
    # ~150k-row basket frame. The collect_set buffer is bounded by
    # distinct brands per order — the brand DIMENSION'S cardinality
    # class, and the breadth cap drops mega-baskets right after the
    # aggregate (buffer-per-key advisory inventory site; adjudicated
    # in plan_audit.py's inventory pin).
    # No fan_out before the aggregate (round-16 re-adjudication, the
    # a28/d49 near-unique-key lesson): okey is ~150k distinct keys over
    # ~600k rows, so the map-side partial collect_set barely collapses
    # anything and the round-robin exchange fan_out adds is pure cost —
    # the groupBy's own hash exchange already provides the reduce-side
    # parallelism. Fresh-JVM min-of-5 brackets (4 interleaved): persist
    # without fan_out won 3/4 brackets and the min (1.90 vs 2.01 s);
    # it was also the only driver-confirmed regression of round 15
    # (2.97 → 3.53 s), resolved by this removal.
    baskets = (
        raw
        .groupBy("okey")
        .agg(F.sort_array(F.collect_set("brand")).alias("brands"))
        .persist()
    )
    n = baskets.agg(F.count("*").cast("double").alias("n_orders"))
    sup = (
        baskets.select(F.explode("brands").alias("brand"))
        .groupBy("brand")
        .agg(F.count("*").cast("double").alias("n"))
    )
    # Pair generation per order from its sorted distinct-brand array
    # (a < b by construction), quadratic stage still hard-capped by
    # _MAX_BASKET_BREADTH before any pair is emitted.
    pairs = (
        baskets.filter(F.size("brands") <= _MAX_BASKET_BREADTH)
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(brands, (x, i) -> "
                    "transform(slice(brands, i + 2, size(brands)), "
                    "y -> struct(x AS brand_a, y AS brand_b))))"
                )
            ).alias("p")
        )
        .select("p.brand_a", "p.brand_b")
        .groupBy("brand_a", "brand_b")
        .agg(F.count("*").cast("double").alias("n_both"))
        .filter(F.col("n_both") >= 10)
    )
    sa = sup.select(F.col("brand").alias("brand_a"), F.col("n").alias("na"))
    sb = sup.select(F.col("brand").alias("brand_b"), F.col("n").alias("nb"))
    return (
        pairs.join(F.broadcast(sa), "brand_a")
        .join(F.broadcast(sb), "brand_b")
        .crossJoin(F.broadcast(n))
        .select(
            "brand_a",
            "brand_b",
            F.col("n_both").cast("bigint").alias("n_both"),
            dround(F.col("n_both") / F.col("n_orders"), 8).alias("support"),
            dround(F.col("n_both") / F.col("na"), 8).alias(
                "confidence_a_to_b"
            ),
            dround(
                (F.col("n_both") / F.col("n_orders"))
                / (
                    (F.col("na") / F.col("n_orders"))
                    * (F.col("nb") / F.col("n_orders"))
                ),
                6,
            ).alias("lift"),
        )
    )


@register(
    "d48_cohort_retention",
    oracle=f"""
    WITH first_seen AS (
        SELECT user_id,
               CAST(DATE_TRUNC('week', MIN(ts)) AS TIMESTAMP) AS cohort
        FROM events GROUP BY user_id
    ), activity AS (
        SELECT DISTINCT e.user_id, f.cohort,
               CAST(FLOOR(EPOCH(CAST(DATE_TRUNC('week', e.ts) AS TIMESTAMP)
                                - f.cohort) / 604800) AS BIGINT) AS week_n
        FROM events e JOIN first_seen f ON f.user_id = e.user_id
    ), sizes AS (
        SELECT cohort, CAST(COUNT(*) AS BIGINT) AS cohort_size
        FROM first_seen GROUP BY cohort
    )
    SELECT a.cohort, a.week_n,
           CAST(COUNT(*) AS BIGINT) AS n_active,
           s.cohort_size,
           {sql_dround(
               "CAST(COUNT(*) AS DOUBLE) / s.cohort_size", 6
           )} AS retention
    FROM activity a JOIN sizes s ON s.cohort = a.cohort
    GROUP BY a.cohort, a.week_n, s.cohort_size
    """,
)
def d48_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users cohorted by first-activity week,
    each later week's active share of the original cohort — THE
    product-analytics panel (reads down a column for week-over-week
    decay, across a row for cohort-quality drift). Every shuffle on
    user_id until the final O(cohorts × weeks) rollup: one MIN
    aggregate builds cohorts, the activity join is co-partitioned on
    the same key, and DISTINCT collapses to user-weeks before
    counting. Week arithmetic is epoch-integer division, identical on
    both engines (no calendar-week dialect drift — DATE_TRUNC('week')
    is ISO-Monday on both)."""
    ev = load_table(spark, sf_dir, "events")
    first_seen = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort")
    )
    activity = (
        ev.join(first_seen, "user_id")
        .select(
            "user_id",
            "cohort",
            F.floor(
                (
                    F.date_trunc("week", F.col("ts")).cast("double")
                    - F.col("cohort").cast("double")
                )
                / 604800
            )
            .cast("bigint")
            .alias("week_n"),
        )
        .distinct()
    )
    sizes = first_seen.groupBy("cohort").agg(
        F.count("*").cast("bigint").alias("cohort_size")
    )
    return (
        activity.groupBy("cohort", "week_n")
        .agg(F.count("*").cast("bigint").alias("n_active"))
        .join(F.broadcast(sizes), "cohort")
        .select(
            "cohort",
            "week_n",
            "n_active",
            "cohort_size",
            dround(
                F.col("n_active").cast("double") / F.col("cohort_size"), 6
            ).alias("retention"),
        )
    )


@register(
    "d49_fulfillment_sla",
    oracle=f"""
    WITH lat AS (
        SELECT o.o_orderpriority AS priority,
               CAST(EPOCH(l.l_shipdate) - EPOCH(o.o_orderdate) AS DOUBLE)
                   / 86400 AS days
        FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    )
    SELECT priority,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           {sql_dround("AVG(days)", 6)} AS avg_days,
           {sql_dround("QUANTILE_CONT(days, 0.5)", 6)} AS median_days,
           {sql_dround("QUANTILE_CONT(days, 0.95)", 6)} AS p95_days,
           {sql_dround(
               "AVG(CASE WHEN days <= 60 THEN CAST(1 AS DOUBLE)"
               " ELSE CAST(0 AS DOUBLE) END)", 6
           )} AS pct_within_60d
    FROM lat
    GROUP BY priority
    """,
)
def d49_fulfillment_sla(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fulfillment-SLA panel: order-to-ship latency per priority class
    — mean/median/p95 days plus the share inside a 60-day SLA. The
    operations mirror of d45's user-side conversion latency: one
    broadcast dim join annotates the fact scan, the percentile runs
    per priority group on the a10-proven exact pairing, and the SLA
    share is a map-side CASE average — nothing but the one grouped
    aggregate shuffles."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    # no forced broadcast: orders is the SF-linear FACT table — the
    # worst possible forced-broadcast side; the planner broadcasts the
    # 3-col projection while it fits and shuffle-joins at scale
    # (round-12 audit, PLANS.md)
    lat = li.join(
        orders.select("o_orderkey", "o_orderpriority", "o_orderdate"),
        li.l_orderkey == F.col("o_orderkey"),
    ).select(
        F.col("o_orderpriority").alias("priority"),
        (
            (
                # NTZ columns cast to double only via TIMESTAMP (UTC
                # session, so values are identical)
                F.col("l_shipdate").cast("timestamp").cast("double")
                - F.col("o_orderdate").cast("timestamp").cast("double")
            )
            / 86400
        ).alias("days"),
    )
    return lat.groupBy("priority").agg(
        F.count("*").cast("bigint").alias("n_lines"),
        dround(F.avg("days"), 6).alias("avg_days"),
        dround(F.percentile("days", 0.5), 6).alias("median_days"),
        dround(F.percentile("days", 0.95), 6).alias("p95_days"),
        dround(
            F.avg(F.when(F.col("days") <= 60, 1.0).otherwise(0.0)), 6
        ).alias("pct_within_60d"),
    )

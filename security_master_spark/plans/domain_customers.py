"""Commercial and behavioral analytics over the order graph and the event
journeys (SURVEY.md §2.11 adjunct): market-basket lift, cohort
retention, fulfillment SLAs, touch attribution, Markov transitions and
Kaplan-Meier survival.
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


#: touch channels credited by the attribution models; 'purchase' is
#: the conversion event.
_TOUCH_TYPES = ("view", "click", "signup", "error")
_TOUCH_SQL = ", ".join(f"'{t}'" for t in _TOUCH_TYPES)


@register(
    "d72_touch_attribution",
    oracle=f"""
    WITH stream AS (
        SELECT user_id, ts, event_id, event_type,
               SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW) AS cum_p
        FROM events
    ), touches AS (
        SELECT user_id, ts, event_id, event_type,
               cum_p + 1 AS conv_id
        FROM stream WHERE event_type IN ({_TOUCH_SQL})
    ), convs AS (
        SELECT user_id, cum_p AS conv_id
        FROM stream WHERE event_type = 'purchase'
    ), journeys AS (
        SELECT t.user_id, t.conv_id, t.event_type, t.ts, t.event_id,
               COUNT(*) OVER (PARTITION BY t.user_id, t.conv_id)
                   AS n_touches,
               ROW_NUMBER() OVER (PARTITION BY t.user_id, t.conv_id
                                  ORDER BY t.ts, t.event_id) AS rn_first,
               ROW_NUMBER() OVER (PARTITION BY t.user_id, t.conv_id
                                  ORDER BY t.ts DESC, t.event_id DESC)
                   AS rn_last
        FROM touches t JOIN convs c
          ON c.user_id = t.user_id AND c.conv_id = t.conv_id
    )
    SELECT event_type AS channel,
           CAST(SUM(CASE WHEN rn_first = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS first_touch,
           CAST(SUM(CASE WHEN rn_last = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS last_touch,
           {sql_dround("SUM(1.0 / n_touches)", 6)} AS linear_credit
    FROM journeys
    GROUP BY event_type
    """,
)
def d72_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-touch conversion attribution: every purchase is a
    conversion; the touches since the user's previous purchase form
    its journey, and each channel is credited under three standard
    models at once — first-touch (1 to the journey's first touch),
    last-touch (1 to its last), and linear (1/n to every touch).
    Credits across channels sum to the number of attributed
    conversions under each model — the accounting identity BI teams
    reconcile against.

    Journey assembly is pure windows, no self-join on time: one
    cumulative purchase count over the user's ordered stream gives
    every touch its NEXT conversion id (cum_p + 1) and every purchase
    its own id (cum_p, which already counts itself), so journeys are
    an equi-join of touches to conversions on (user, conv_id) —
    touches after the last purchase fall out (unconverted), purchases
    with no prior touch fall out (unattributable), both engines
    identically.

    Scale: one (user, time) window shuffle + one (user, conv_id)
    equi-join + per-journey windows on the same key + one channel
    rollup of counts — nothing wider than the event stream ever
    shuffles, and the final frame is |channels| rows."""
    events = load_table(spark, sf_dir, "events")
    wcum = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    stream = events.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.sum(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        )
        .over(wcum)
        .alias("cum_p"),
    )
    touches = stream.filter(F.col("event_type").isin(*_TOUCH_TYPES)).select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        (F.col("cum_p") + 1).alias("conv_id"),
    )
    convs = stream.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("cum_p").alias("conv_id")
    )
    wj = Window.partitionBy("user_id", "conv_id")
    wf = wj.orderBy("ts", "event_id")
    wl = wj.orderBy(F.desc("ts"), F.desc("event_id"))
    journeys = touches.join(convs, ["user_id", "conv_id"]).select(
        "event_type",
        F.count("*").over(wj).alias("n_touches"),
        F.row_number().over(wf).alias("rn_first"),
        F.row_number().over(wl).alias("rn_last"),
    )
    return journeys.groupBy(F.col("event_type").alias("channel")).agg(
        F.sum(F.when(F.col("rn_first") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("first_touch"),
        F.sum(F.when(F.col("rn_last") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("last_touch"),
        dround(F.sum(F.lit(1.0) / F.col("n_touches")), 6).alias(
            "linear_credit"
        ),
    )


@register(
    "d73_markov_transitions",
    oracle=f"""
    WITH pairs AS (
        SELECT user_id,
               LAG(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS from_type,
               event_type AS to_type
        FROM events
    ), counts AS (
        SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n
        FROM pairs WHERE from_type IS NOT NULL
        GROUP BY from_type, to_type
    )
    SELECT from_type, to_type, n,
           {sql_dround(
               "n / CAST(SUM(n) OVER (PARTITION BY from_type) AS DOUBLE)",
               6,
           )} AS prob
    FROM counts
    """,
)
def d73_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of the event stream:
    P(next type | current type) estimated per user-ordered adjacent
    pair — the model behind journey simulation, removal-effect
    attribution, and anomaly scoring of improbable paths. Each
    user's first event has no predecessor and drops out.

    Scale: one (user, time) window pass over the stream, then the
    transition counting collapses everything to a |types|² frame —
    the row-normalizing window runs on those ≤ 25 rows. The heavy
    lifting (lag) shares the d69/d72 partitioning; at 100 TB this is
    one shuffle of the fact table and map-side-combined counts."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = events.select(
        F.lag("event_type").over(w).alias("from_type"),
        F.col("event_type").alias("to_type"),
    ).filter(F.col("from_type").isNotNull())
    counts = pairs.groupBy("from_type", "to_type").agg(
        F.count("*").cast("bigint").alias("n")
    )
    wrow = Window.partitionBy("from_type")
    return counts.select(
        "from_type",
        "to_type",
        "n",
        dround(
            F.col("n") / F.sum("n").over(wrow).cast("double"), 6
        ).alias("prob"),
    )


@register(
    "d74_kaplan_meier",
    oracle=f"""
    WITH lifetimes AS (
        SELECT user_id,
               DATE_DIFF('day', CAST(MIN(ts) AS DATE),
                         CAST(MAX(ts) AS DATE)) AS dur,
               CASE WHEN ARG_MAX(event_type, {sql_tick_order_key()})
                         = 'purchase'
                    THEN 1 ELSE 0 END AS observed
        FROM events
        GROUP BY user_id
    ), by_t AS (
        SELECT dur AS t,
               CAST(SUM(observed) AS BIGINT) AS d,
               CAST(COUNT(*) AS BIGINT) AS m
        FROM lifetimes GROUP BY dur
    ), risk AS (
        SELECT t, d, m,
               CAST((SELECT COUNT(*) FROM lifetimes) -
                    COALESCE(SUM(m) OVER (ORDER BY t
                             ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND 1 PRECEDING), 0)
                    AS BIGINT) AS n_risk
        FROM by_t
    ), death_times AS (
        SELECT t, d, n_risk,
               SUM(CASE WHEN d < n_risk
                        THEN LN(1 - d / CAST(n_risk AS DOUBLE))
                        ELSE 0 END)
                   OVER (ORDER BY t) AS log_s,
               MAX(CASE WHEN d >= n_risk THEN 1 ELSE 0 END)
                   OVER (ORDER BY t) AS died_out
        FROM risk WHERE d > 0
    )
    SELECT t AS duration_days, d AS n_deaths, n_risk,
           {sql_dround(
               "CASE WHEN died_out = 1 THEN 0.0 ELSE EXP(log_s) END", 6
           )} AS survival
    FROM death_times
    """,
)
def d74_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival curve over user lifetimes: duration =
    days between a user's first and last event; the lifetime is an
    observed 'death' if the final event is a purchase (exit) and
    right-censored otherwise. S(t) = Π_{death times ≤ t} (1 − d/n)
    with n = at-risk count — the product expressed as exp of a
    running LOG sum (the d66 log-space cumprod, here with genuinely
    non-dyadic factors). The d = n boundary (everyone at risk dies)
    would be ln(0): both engines route it through a CASE — the term
    is excluded from the log sum and a running died-out flag pins
    S = 0 from that time on (DuckDB's ln ERRORS on zero; the CASE is
    the documented guard).

    Scale: one groupBy collapses the fact table to O(users), a second
    to O(distinct durations) — the curve frame. The at-risk suffix
    count and the log-sum run on that tiny ordered frame (the
    single-partition window is |curve| rows by construction). The
    censoring indicator uses max_by on the same (ts, event_id) total
    order as every stream operator."""
    events = load_table(spark, sf_dir, "events")
    # the shared (ts, event_id) total order — see
    # functions/ordering.py (this module pioneered the pattern; the
    # round-9 adversarial sweep promoted it to a shared helper)
    ordkey = tick_order_key()
    lifetimes = events.groupBy("user_id").agg(
        F.datediff(
            F.max("ts").cast("date"), F.min("ts").cast("date")
        ).alias("dur"),
        F.when(F.max_by("event_type", ordkey) == "purchase", 1)
        .otherwise(0)
        .alias("observed"),
    )
    by_t = lifetimes.groupBy(F.col("dur").alias("t")).agg(
        F.sum("observed").cast("bigint").alias("d"),
        F.count("*").cast("bigint").alias("m"),
    )
    n_total = lifetimes.agg(F.count("*").alias("n_total"))
    wprev = (
        Window.orderBy("t")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wcum = Window.orderBy("t").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    risk = (
        by_t.join(F.broadcast(n_total))
        .select(
            "t",
            "d",
            (
                F.col("n_total")
                - F.coalesce(F.sum("m").over(wprev), F.lit(0))
            ).alias("n_risk"),
        )
        .filter(F.col("d") > 0)
    )
    log_term = F.when(
        F.col("d") < F.col("n_risk"),
        F.log(1 - F.col("d") / F.col("n_risk").cast("double")),
    ).otherwise(F.lit(0.0))
    died = F.max(
        F.when(F.col("d") >= F.col("n_risk"), 1).otherwise(0)
    ).over(wcum)
    curve = risk.select(
        "t",
        "d",
        "n_risk",
        F.sum(log_term).over(wcum).alias("log_s"),
        died.alias("died_out"),
    )
    return curve.select(
        F.col("t").alias("duration_days"),
        F.col("d").alias("n_deaths"),
        "n_risk",
        dround(
            F.when(F.col("died_out") == 1, F.lit(0.0)).otherwise(
                F.exp(F.col("log_s"))
            ),
            6,
        ).alias("survival"),
    )

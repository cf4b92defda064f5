"""Round-5 securities-master domain candidates, batch 4 (SURVEY.md
§2.11): tail-risk measures (VaR / expected shortfall), market
concentration (HHI), and event-funnel conversion — the risk/compliance
and behavioral-analytics surfaces of a production master.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from security_master_spark.datasets import load_table
from security_master_spark.functions.rounding import dround, sql_dround
from security_master_spark.plans.registry import register


@register(
    "d39_var_es",
    oracle=f"""
    WITH px AS (
        SELECT c.c_mktsegment AS segment,
               CAST(o.o_totalprice AS DOUBLE) AS price,
               ROW_NUMBER() OVER (
                   PARTITION BY c.c_mktsegment
                   ORDER BY o.o_totalprice DESC, o.o_orderkey
               ) AS rn,
               COUNT(*) OVER (PARTITION BY c.c_mktsegment) AS n
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    )
    SELECT segment,
           CAST(MAX(n) AS BIGINT) AS n_orders,
           {sql_dround("QUANTILE_CONT(price, 0.95)", 4)} AS var95,
           {sql_dround(
               "AVG(price) FILTER (WHERE rn <= CAST(CEIL(0.05 * n) AS BIGINT))",
               4,
           )} AS es95,
           CAST(COUNT(*) FILTER (WHERE rn <= CAST(CEIL(0.05 * n) AS BIGINT))
                AS BIGINT) AS n_tail
    FROM px
    GROUP BY segment
    """,
)
def d39_var_es(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tail risk per market segment: 95% Value-at-Risk (exact
    interpolated percentile — the a10-proven Spark `percentile` ==
    DuckDB `QUANTILE_CONT` pairing) and expected shortfall as the mean
    of the top-5%-by-rank tail. ES deliberately uses INTEGER rank
    discipline (row_number with a deterministic (price DESC, orderkey)
    tie-break, tail = rn <= ceil(0.05·n)) rather than `price >= VaR`:
    a float-boundary filter can flip rows on last-ulp differences
    between engines, while the rank boundary is exact on both. One
    shuffle on the segment key for the window, reused by the final
    aggregate (same key); the customer dim broadcasts into the fact
    scan.

    Plan decision (round 11, measured — PLANS.md "d39 rank-plan study"):
    the round-10 verdict named this query as the registry consumer
    for operators/rolling.py:distributed_row_number. The swap was
    built, hash-certified green against this unchanged oracle, and
    A/B-measured: **0.49× at sf0.1** (0.87 → 1.77 s — the rank's
    load-bearing persist + extra exchanges are fixed overhead that
    dominates at 150k rows) vs **1.39× at a 10×-replicated 96%-
    one-segment corpus** (3.77 → 2.72 s), so the REGISTERED plan
    stays the portable window form and the distributed plan ships as
    :func:`d39_var_es_distributed` below — held value-equal by
    tests/test_round11_fixes.py, the a23/w10-w11 precedent. At 100 TB
    the per-segment sort is the honest cost of an exact tail; the
    sketch path for screening is a13's t-digest, and the rank half's
    exact parallel spelling is one function away when a dominant
    segment makes the window form straggle."""
    px = _d39_px(spark, sf_dir)
    w = Window.partitionBy("segment").orderBy(
        F.col("price").desc(), F.col("o_orderkey")
    )
    wn = Window.partitionBy("segment")
    px = px.withColumn("rn", F.row_number().over(w)).withColumn(
        "n", F.count("*").over(wn)
    )
    return _d39_tail_agg(px)


def _d39_px(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    return (
        # no forced broadcast: customer is SF-linear; the raw-table
        # projection's file stats let the planner broadcast while
        # small and shuffle-join at scale (round-12 audit, PLANS.md)
        orders.join(
            customer.select("c_custkey", "c_mktsegment"),
            orders.o_custkey == F.col("c_custkey"),
        )
        .select(
            F.col("c_mktsegment").alias("segment"),
            F.col("o_totalprice").cast("double").alias("price"),
            "o_orderkey",
        )
    )


def _d39_tail_agg(px: DataFrame) -> DataFrame:
    in_tail = F.col("rn") <= F.ceil(0.05 * F.col("n")).cast("bigint")
    return px.groupBy("segment").agg(
        F.max("n").cast("bigint").alias("n_orders"),
        dround(F.percentile("price", 0.95), 4).alias("var95"),
        dround(F.avg(F.when(in_tail, F.col("price"))), 4).alias("es95"),
        F.count(F.when(in_tail, 1)).cast("bigint").alias("n_tail"),
    )


def d39_var_es_distributed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """d39_var_es with BOTH exact halves parallel — the full scale
    spelling of the tail-risk query, value-equal to the registered
    window form by test (bit-equal, not rounded-equal):

    - RANK half: operators/rolling.py:distributed_row_number —
      range-partition + offset prefix-sum instead of one WindowExec
      sort task per segment — with the per-segment counts riding
      along via ``counts_col`` (zero extra input scans).
    - PERCENTILE half: Spark's ``percentile`` aggregate buffers every
      group value on one reduce task per key (the serial half the d39
      docstring documents). Here the SAME descending rank the tail
      already uses locates the two interpolation anchors: ascending
      value index i (0-based) is descending rank n−i, so
      ``pos = 0.95·(n−1)``, ``v_lo = price at rn = n−floor(pos)``,
      ``v_hi = price at rn = n−ceil(pos)`` — two conditional
      aggregates inside the segment rollup already being computed,
      interpolated with Percentile's own formula term-for-term. No
      per-key value buffer, no second pass, no extra shuffle.
      (The general standalone operator is
      operators/rolling.py:distributed_percentile, bit-equal to the
      aggregate by test; this inline form exists because the rank is
      already in hand.)

    NOT in the registry (round-9 freeze; and the measured sf0.1
    negative in the d39 docstring keeps the bench on the window
    form): 1.39× at the 10×-skew corpus, cluster-size-bound beyond
    it. Embeds the rank's bounded load-bearing persist (3 narrow
    columns of orders; cache_registry is the release path)."""
    from security_master_spark.operators.rolling import (
        distributed_row_number,
    )

    px = distributed_row_number(
        _d39_px(spark, sf_dir),
        ["segment"],
        [F.col("price").desc(), "o_orderkey"],
        out_col="rn",
        counts_col="n",
    )
    in_tail = F.col("rn") <= F.ceil(0.05 * F.col("n")).cast("bigint")
    pos = F.lit(0.95) * (F.col("n") - 1).cast("double")
    lo = F.floor(pos).cast("long")
    hi = F.ceil(pos).cast("long")
    agg = px.groupBy("segment").agg(
        F.max("n").cast("bigint").alias("n_orders"),
        F.max(F.when(F.col("rn") == F.col("n") - lo, F.col("price"))).alias(
            "_vlo"
        ),
        F.max(F.when(F.col("rn") == F.col("n") - hi, F.col("price"))).alias(
            "_vhi"
        ),
        F.max(pos).alias("_pos"),
        F.max(lo).alias("_lo"),
        F.max(hi).alias("_hi"),
        dround(F.avg(F.when(in_tail, F.col("price"))), 4).alias("es95"),
        F.count(F.when(in_tail, 1)).cast("bigint").alias("n_tail"),
    )
    var_raw = F.when(F.col("_lo") == F.col("_hi"), F.col("_vlo")).otherwise(
        (F.col("_hi").cast("double") - F.col("_pos")) * F.col("_vlo")
        + (F.col("_pos") - F.col("_lo").cast("double")) * F.col("_vhi")
    )
    return agg.select(
        "segment",
        "n_orders",
        dround(var_raw, 4).alias("var95"),
        "es95",
        "n_tail",
    )


@register(
    "d40_hhi_concentration",
    oracle=f"""
    WITH rev AS (
        SELECT s.s_nationkey, l.l_suppkey,
               SUM(l.l_extendedprice * (1 - l.l_discount)) AS rev
        FROM lineitem l JOIN supplier s ON s.s_suppkey = l.l_suppkey
        GROUP BY s.s_nationkey, l.l_suppkey
    ), tot AS (
        SELECT s_nationkey, SUM(rev) AS tot, COUNT(*) AS n_suppliers
        FROM rev GROUP BY s_nationkey
    )
    SELECT n.n_name AS nation,
           CAST(t.n_suppliers AS BIGINT) AS n_suppliers,
           {sql_dround("SUM(POW(r.rev / t.tot, 2))", 6)} AS hhi,
           {sql_dround("MAX(r.rev / t.tot)", 6)} AS top_share
    FROM rev r
    JOIN tot t ON t.s_nationkey = r.s_nationkey
    JOIN nation n ON n.n_nationkey = r.s_nationkey
    GROUP BY n.n_name, t.n_suppliers
    """,
)
def d40_hhi_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-concentration screen: Herfindahl–Hirschman index of
    supplier revenue shares within each nation (1/n_suppliers = fully
    even, 1.0 = monopoly) plus the top supplier's share — the
    antitrust / venue-concentration diagnostic. One (nation, supplier)
    hash aggregate over the fact table is the root of everything
    downstream: the per-nation totals are a rollup of that small
    result, broadcast back for the share arithmetic, and the nation
    name dim broadcasts too — the corpus is scanned ONCE and every
    subsequent operator works on O(suppliers) rows."""
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    rev = (
        # no forced broadcast: supplier is SF-linear (round-12 audit)
        li.join(
            supp.select("s_suppkey", "s_nationkey"),
            li.l_suppkey == F.col("s_suppkey"),
        )
        .groupBy("s_nationkey", "l_suppkey")
        .agg(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "rev"
            )
        )
    )
    tot = rev.groupBy("s_nationkey").agg(
        F.sum("rev").alias("tot"), F.count("*").alias("n_suppliers")
    )
    share = F.col("rev") / F.col("tot")
    return (
        rev.join(F.broadcast(tot), "s_nationkey")
        .join(
            F.broadcast(nation.select("n_nationkey", "n_name")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .groupBy(F.col("n_name").alias("nation"), "n_suppliers")
        .agg(
            dround(F.sum(F.pow(share, 2)), 6).alias("hhi"),
            dround(F.max(share), 6).alias("top_share"),
        )
        .select(
            "nation",
            F.col("n_suppliers").cast("bigint").alias("n_suppliers"),
            "hhi",
            "top_share",
        )
    )


@register(
    "d41_event_funnel",
    oracle=f"""
    WITH fv AS (
        SELECT user_id, MIN(ts) AS v FROM events
        WHERE event_type = 'view' GROUP BY user_id
    ), fc AS (
        SELECT e.user_id, MIN(e.ts) AS c
        FROM events e JOIN fv ON fv.user_id = e.user_id AND e.ts > fv.v
        WHERE e.event_type = 'click'
        GROUP BY e.user_id
    ), fp AS (
        SELECT e.user_id, MIN(e.ts) AS p
        FROM events e JOIN fc ON fc.user_id = e.user_id AND e.ts > fc.c
        WHERE e.event_type = 'purchase'
        GROUP BY e.user_id
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_viewed,
           CAST(COUNT(fc.user_id) AS BIGINT) AS n_clicked,
           CAST(COUNT(fp.user_id) AS BIGINT) AS n_purchased,
           {sql_dround(
               "CAST(COUNT(fc.user_id) AS DOUBLE) / COUNT(*)", 6
           )} AS view_to_click,
           {sql_dround(
               "CAST(COUNT(fp.user_id) AS DOUBLE)"
               " / NULLIF(COUNT(fc.user_id), 0)", 6
           )} AS click_to_purchase
    FROM fv
    LEFT JOIN fc ON fc.user_id = fv.user_id
    LEFT JOIN fp ON fp.user_id = fv.user_id
    """,
)
def d41_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel over the event stream: first view →
    first click strictly AFTER that view → first purchase strictly
    AFTER that click, with per-step user counts and conversion rates.
    The strictly-after chaining is what distinguishes a funnel from
    three independent counts — a click that preceded the user's first
    view does NOT convert. Three per-user MIN aggregates, every
    shuffle on the same user_id key so the exchanges line up
    (co-partitioned joins, no re-shuffle); per-user state is O(1) and
    skew-free (a user has one first-view). In streaming this same
    shape runs as applyInPandasWithState keyed on user_id with the
    three timestamps as state (streaming/jobs.py)."""
    ev = load_table(spark, sf_dir, "events")
    fv = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("v"))
    )
    fc = (
        ev.filter(F.col("event_type") == "click")
        .join(fv, "user_id")
        .filter(F.col("ts") > F.col("v"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("c"))
    )
    fp = (
        ev.filter(F.col("event_type") == "purchase")
        .join(fc, "user_id")
        .filter(F.col("ts") > F.col("c"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("p"))
    )
    joined = fv.join(
        fc.select("user_id", F.lit(1).alias("clicked")), "user_id", "left"
    ).join(
        fp.select("user_id", F.lit(1).alias("purchased")), "user_id", "left"
    )
    return joined.agg(
        F.count("*").cast("bigint").alias("n_viewed"),
        F.count("clicked").cast("bigint").alias("n_clicked"),
        F.count("purchased").cast("bigint").alias("n_purchased"),
        dround(
            F.count("clicked").cast("double") / F.count("*"), 6
        ).alias("view_to_click"),
        dround(
            F.count("purchased").cast("double")
            / F.nullif(F.count("clicked"), F.lit(0)),
            6,
        ).alias("click_to_purchase"),
    )

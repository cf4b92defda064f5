"""Securities-master returns and risk (SURVEY.md §2.11): range volatility,
cross-sectional rank, winsorization, correlation, VaR / expected
shortfall, concentration, downside-risk ratios, illiquidity, capture
ratios and overnight/intraday decomposition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from security_master_spark.datasets import load_table
from security_master_spark.functions.daily import daily_closes, daily_returns
from security_master_spark.functions.daily import DAILY_SQL as _DAILY_SQL
from security_master_spark.functions.daily import RETS_SQL as _RETS_SQL
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
    an exact distributed rank (range-partition + offset prefix-sum in
    place of one WindowExec sort task per segment) was built, matched
    this oracle, and A/B-measured: **0.49× at sf0.1** (0.87 → 1.77 s —
    its load-bearing persist and extra exchanges are fixed overhead
    that dominates at 150k rows) vs **1.39× at a 10×-replicated 96%-
    one-segment corpus** (3.77 → 2.72 s). No registered corpus is that
    skewed, so the window form is the only spelling. At 100 TB the
    per-segment sort is the honest cost of an exact tail; the sketch
    path for screening is a13's t-digest."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    px = (
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
    w = Window.partitionBy("segment").orderBy(
        F.col("price").desc(), F.col("o_orderkey")
    )
    wn = Window.partitionBy("segment")
    px = px.withColumn("rn", F.row_number().over(w)).withColumn(
        "n", F.count("*").over(wn)
    )
    in_tail = F.col("rn") <= F.ceil(0.05 * F.col("n")).cast("bigint")
    return px.groupBy("segment").agg(
        F.max("n").cast("bigint").alias("n_orders"),
        dround(F.percentile("price", 0.95), 4).alias("var95"),
        dround(F.avg(F.when(in_tail, F.col("price"))), 4).alias("es95"),
        F.count(F.when(in_tail, 1)).cast("bigint").alias("n_tail"),
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


@register(
    "d42_sortino_calmar",
    oracle=f"""
    WITH daily AS (
        SELECT event_type, CAST(DATE_TRUNC('day', ts) AS TIMESTAMP) AS d,
               ARG_MAX(value, {sql_tick_order_key()}) AS close
        FROM events GROUP BY 1, 2
    ), ret AS (
        SELECT event_type,
               close / NULLIF(LAG(close) OVER (
                   PARTITION BY event_type ORDER BY d), 0) - 1.0 AS r
        FROM daily
    ), downside AS (
        SELECT event_type,
               CAST(COUNT(r) AS BIGINT) AS n_days,
               AVG(r) AS mean_ret,
               SQRT(AVG(POW(LEAST(r, 0), 2))) AS dd
        FROM ret GROUP BY event_type
    ), eq AS (
        SELECT event_type, ts, event_id,
               SUM(value) OVER (
                   PARTITION BY event_type ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS equity
        FROM events
    ), gaps AS (
        SELECT event_type,
               MAX(equity) OVER (
                   PARTITION BY event_type ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) - equity AS gap,
               LAST_VALUE(equity) OVER (
                   PARTITION BY event_type ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING
                        AND UNBOUNDED FOLLOWING
               ) AS final_eq
        FROM eq
    ), mdd AS (
        SELECT event_type, MAX(gap) AS max_dd, MAX(final_eq) AS total_pnl
        FROM gaps GROUP BY event_type
    )
    SELECT d.event_type,
           d.n_days,
           {sql_dround("d.mean_ret", 8)} AS mean_ret,
           {sql_dround("d.dd", 8)} AS downside_dev,
           {sql_dround("d.mean_ret / NULLIF(d.dd, 0)", 6)} AS sortino,
           {sql_dround("m.max_dd", 4)} AS max_dd,
           {sql_dround("m.total_pnl / NULLIF(m.max_dd, 0)", 6)} AS calmar
    FROM downside d JOIN mdd m ON m.event_type = d.event_type
    """,
)
def d42_sortino_calmar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Downside-risk-adjusted performance per event type: Sortino
    ratio (mean daily return over the downside deviation — the
    root-mean-square of NEGATIVE returns only, zero-floored so calm
    days don't dilute the penalty) and Calmar ratio (total PnL over
    the maximum drawdown of the tick-level cumulative-PnL curve).

    Two branches over one events scan, each collapse-first: the
    Sortino branch is the d6 daily-bar aggregate (O(types×days) rows
    after one hash agg) with a lag window; the Calmar branch is the
    d15 running-peak stack (cumsum → cummax → max gap) whose single
    per-type sort carries all three window passes. The branches join
    on the tiny type key. NULLIF guards divide-by-zero on flat series
    identically in both engines (try-divide semantics, no ANSI
    throw)."""
    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("d")
    ).agg(F.max_by("value", tick_order_key()).alias("close"))
    w_lag = Window.partitionBy("event_type").orderBy("d")
    ret = daily.select(
        "event_type",
        (
            F.try_divide(
                F.col("close"),
                F.nullif(F.lag("close").over(w_lag), F.lit(0.0)),
            )
            - 1.0
        ).alias("r"),
    )
    downside = ret.groupBy("event_type").agg(
        F.count("r").cast("bigint").alias("n_days"),
        F.avg("r").alias("mean_ret"),
        F.sqrt(F.avg(F.pow(F.least(F.col("r"), F.lit(0.0)), 2))).alias("dd"),
    )
    w_run = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    eq = events.select(
        "event_type", F.sum("value").over(w_run).alias("equity"), "ts", "event_id"
    )
    # The peak window re-sorts on the SAME (ts, event_id) order, so the
    # executed plan reuses one sort per type partition.
    w_peak = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_final = Window.partitionBy("event_type").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    mdd = (
        eq.select(
            "event_type",
            (F.max("equity").over(w_peak) - F.col("equity")).alias("gap"),
            F.last("equity").over(w_final).alias("final_eq"),
        )
        .groupBy("event_type")
        .agg(
            F.max("gap").alias("max_dd"),
            F.max("final_eq").alias("total_pnl"),
        )
    )
    return downside.join(mdd, "event_type").select(
        "event_type",
        "n_days",
        dround(F.col("mean_ret"), 8).alias("mean_ret"),
        dround(F.col("dd"), 8).alias("downside_dev"),
        dround(
            F.try_divide(F.col("mean_ret"), F.nullif(F.col("dd"), F.lit(0.0))),
            6,
        ).alias("sortino"),
        dround(F.col("max_dd"), 4).alias("max_dd"),
        dround(
            F.try_divide(
                F.col("total_pnl"), F.nullif(F.col("max_dd"), F.lit(0.0))
            ),
            6,
        ).alias("calmar"),
    )


@register(
    "d43_amihud_illiquidity",
    oracle=f"""
    WITH daily AS (
        SELECT event_type, CAST(DATE_TRUNC('day', ts) AS TIMESTAMP) AS d,
               ARG_MAX(value, {sql_tick_order_key()}) AS close,
               SUM(ABS(value)) AS notional
        FROM events GROUP BY 1, 2
    ), ret AS (
        SELECT event_type, d, notional,
               close / NULLIF(LAG(close) OVER (
                   PARTITION BY event_type ORDER BY d), 0) - 1.0 AS r
        FROM daily
    )
    SELECT event_type,
           CAST(COUNT(r) AS BIGINT) AS n_days,
           {sql_dround(
               "AVG(ABS(r) / NULLIF(notional, 0)) * CAST(1000000 AS DOUBLE)",
               8,
           )} AS amihud_x1m,
           {sql_dround("AVG(notional)", 4)} AS avg_notional
    FROM ret
    GROUP BY event_type
    """,
)
def d43_amihud_illiquidity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Amihud illiquidity per event type: the mean of |daily return| /
    daily notional (×10⁶ for the conventional scale) — the standard
    price-impact-per-dollar-traded proxy — plus average daily
    notional. One daily-bar hash aggregate (close AND notional in the
    same pass), one lag window over the O(types×days) collapsed
    table; nothing after the first aggregate touches tick data."""
    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("d")
    ).agg(
        F.max_by("value", tick_order_key()).alias("close"),
        F.sum(F.abs(F.col("value"))).alias("notional"),
    )
    w_lag = Window.partitionBy("event_type").orderBy("d")
    ret = daily.select(
        "event_type",
        "notional",
        (
            F.try_divide(
                F.col("close"),
                F.nullif(F.lag("close").over(w_lag), F.lit(0.0)),
            )
            - 1.0
        ).alias("r"),
    )
    return ret.groupBy("event_type").agg(
        F.count("r").cast("bigint").alias("n_days"),
        dround(
            F.avg(
                F.try_divide(
                    F.abs(F.col("r")), F.nullif(F.col("notional"), F.lit(0.0))
                )
            )
            * F.lit(1000000.0),
            8,
        ).alias("amihud_x1m"),
        dround(F.avg("notional"), 4).alias("avg_notional"),
    )


@register(
    "d44_pair_spread_zscore",
    oracle=f"""
    WITH daily AS (
        SELECT event_type, CAST(DATE_TRUNC('day', ts) AS TIMESTAMP) AS d,
               ARG_MAX(value, {sql_tick_order_key()}) AS close
        FROM events
        WHERE event_type IN ('view', 'click')
        GROUP BY 1, 2
    ), spread AS (
        SELECT a.d,
               a.close / NULLIF(b.close, 0) AS ratio
        FROM daily a JOIN daily b ON b.d = a.d
        WHERE a.event_type = 'view' AND b.event_type = 'click'
    )
    SELECT d,
           {sql_dround("ratio", 8)} AS ratio,
           {sql_dround(
               "(ratio - AVG(ratio) OVER w)"
               " / NULLIF(STDDEV_SAMP(ratio) OVER w, 0)",
               6,
           )} AS zscore
    FROM spread
    WINDOW w AS (ORDER BY d ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
    """,
)
def d44_pair_spread_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairs-trading spread monitor: the daily close RATIO between two
    series (view/click stand in for the cointegrated pair) and its
    20-day rolling z-score — |z| > 2 is the classic mean-reversion
    entry signal. One daily-bar hash aggregate feeds a self-join on
    the day key (both sides are the same O(days) collapsed frame) and
    a single ordered window; nothing after the first aggregate
    touches tick data. NULLIF guards flat/zero closes identically on
    both engines."""
    events = load_table(spark, sf_dir, "events")
    daily = (
        events.filter(F.col("event_type").isin("view", "click"))
        .groupBy("event_type", F.date_trunc("day", F.col("ts")).alias("d"))
        .agg(F.max_by("value", tick_order_key()).alias("close"))
    )
    a = daily.filter(F.col("event_type") == "view").select(
        "d", F.col("close").alias("ca")
    )
    b = daily.filter(F.col("event_type") == "click").select(
        "d", F.col("close").alias("cb")
    )
    spread = a.join(b, "d").select(
        "d",
        F.try_divide(F.col("ca"), F.nullif(F.col("cb"), F.lit(0.0))).alias(
            "ratio"
        ),
    )
    w = Window.orderBy("d").rowsBetween(-19, 0)
    return spread.select(
        "d",
        dround(F.col("ratio"), 8).alias("ratio"),
        dround(
            F.try_divide(
                F.col("ratio") - F.avg("ratio").over(w),
                F.nullif(F.stddev_samp("ratio").over(w), F.lit(0.0)),
            ),
            6,
        ).alias("zscore"),
    )


@register(
    "d45_time_to_convert",
    oracle=f"""
    WITH fv AS (
        SELECT user_id, MIN(ts) AS v FROM events
        WHERE event_type = 'view' GROUP BY user_id
    ), fp AS (
        SELECT e.user_id, MIN(e.ts) AS p
        FROM events e JOIN fv ON fv.user_id = e.user_id AND e.ts > fv.v
        WHERE e.event_type = 'purchase'
        GROUP BY e.user_id
    ), lat AS (
        SELECT fv.user_id,
               CAST(EPOCH(fp.p) - EPOCH(fv.v) AS DOUBLE) AS secs
        FROM fv JOIN fp ON fp.user_id = fv.user_id
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_converted,
           {sql_dround("QUANTILE_CONT(secs, 0.5)", 4)} AS median_secs,
           {sql_dround("QUANTILE_CONT(secs, 0.9)", 4)} AS p90_secs,
           {sql_dround("AVG(secs)", 4)} AS mean_secs
    FROM lat
    """,
)
def d45_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion-latency distribution: per user, seconds from FIRST
    view to the first strictly-later purchase (the d41 funnel's
    chaining discipline), summarized as exact median/p90/mean — the
    latency SLA panel next to d41's conversion-rate panel. Two
    per-user MIN aggregates and the latency join all shuffle on the
    same user_id key (exchange-aligned); the percentile runs over the
    O(converted users) collapsed frame using the a10-proven
    percentile == QUANTILE_CONT pairing, with epoch-seconds arithmetic
    (UNIX_TIMESTAMP ↔ EPOCH) agreed on both engines."""
    ev = load_table(spark, sf_dir, "events")
    fv = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("v"))
    )
    fp = (
        ev.filter(F.col("event_type") == "purchase")
        .join(fv, "user_id")
        .filter(F.col("ts") > F.col("v"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("p"))
    )
    # CAST(ts AS DOUBLE) keeps fractional seconds (micros) — the
    # whole-second unix_timestamp() truncation visibly shifts the
    # percentiles (caught by the sf0.01 hash gate).
    lat = fv.join(fp, "user_id").select(
        (F.col("p").cast("double") - F.col("v").cast("double")).alias("secs")
    )
    return lat.agg(
        F.count("*").cast("bigint").alias("n_converted"),
        dround(F.percentile("secs", 0.5), 4).alias("median_secs"),
        dround(F.percentile("secs", 0.9), 4).alias("p90_secs"),
        dround(F.avg("secs"), 4).alias("mean_secs"),
    )


@register(
    "d46_isin_validation",
    oracle="""
    WITH ids AS (
        SELECT s_suppkey,
               LPAD(CAST(s_suppkey AS VARCHAR), 7, '0') AS body,
               s_suppkey % 7 = 0 AS corrupt,
               CAST(FLOOR(s_suppkey / 1000000) % 10 AS BIGINT) AS d1,
               CAST(FLOOR(s_suppkey / 100000) % 10 AS BIGINT) AS d2,
               CAST(FLOOR(s_suppkey / 10000) % 10 AS BIGINT) AS d3,
               CAST(FLOOR(s_suppkey / 1000) % 10 AS BIGINT) AS d4,
               CAST(FLOOR(s_suppkey / 100) % 10 AS BIGINT) AS d5,
               CAST(FLOOR(s_suppkey / 10) % 10 AS BIGINT) AS d6,
               s_suppkey % 10 AS d7
        FROM supplier
    ), checked AS (
        -- Closed-form ISO 6166 Luhn for the FIXED template
        -- 'US' 'SM' ddddddd: expansion '30282822' + d1..d7 (15 digits),
        -- doubled positions contribute ds(d) = 2d if d<5 else 2d-9;
        -- the fixed prefix contributes the constant 36.
        SELECT s_suppkey, body, corrupt, d7,
               (10 - (36
                      + CASE WHEN d1 < 5 THEN 2*d1 ELSE 2*d1 - 9 END
                      + d2
                      + CASE WHEN d3 < 5 THEN 2*d3 ELSE 2*d3 - 9 END
                      + d4
                      + CASE WHEN d5 < 5 THEN 2*d5 ELSE 2*d5 - 9 END
                      + d6
                      + CASE WHEN d7 < 5 THEN 2*d7 ELSE 2*d7 - 9 END
                     ) % 10) % 10 AS check_digit
        FROM ids
    )
    SELECT s_suppkey,
           'USSM'
               || CASE WHEN corrupt
                       THEN SUBSTR(body, 1, 6)
                            || CAST((d7 + 1) % 10 AS VARCHAR)
                       ELSE body END
               || CAST(check_digit AS VARCHAR) AS isin,
           NOT corrupt AS is_valid
    FROM checked
    """,
)
def d46_isin_validation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ISIN check-digit validation (ISO 6166) — the identity layer of
    a securities master; every inbound instrument feed runs this
    screen. Synthetic ISINs are minted from supplier keys on the fixed
    template US + SM + 7 digits, a deterministic 1-in-7 subset gets a
    digit corrupted AFTER the check digit is computed, and the GENERIC
    expression-level Luhn validator (functions/identifiers.py —
    base-36 expansion + transform/aggregate fold, validated against
    real-world ISINs in tests) must flag exactly the corrupted ones.
    The oracle derives validity from an INDEPENDENT closed-form Luhn
    specialized to the template, so the generic fold is cross-checked
    digit-by-digit, not self-certified. All JVM expressions in the
    scan projection — zero shuffles, zero Python."""
    from security_master_spark.functions.identifiers import (
        isin_check_digit,
        isin_is_valid,
    )

    supp = load_table(spark, sf_dir, "supplier")
    s = F.col("s_suppkey")
    body = F.lpad(s.cast("string"), 7, "0")
    corrupt = s % 7 == 0
    d7 = (s % 10).cast("int")
    check = isin_check_digit(F.concat(F.lit("USSM"), body))
    body_out = F.when(
        corrupt,
        F.concat(F.substring(body, 1, 6), ((d7 + 1) % 10).cast("string")),
    ).otherwise(body)
    isin = F.concat(
        F.lit("USSM"), body_out, check.cast("string")
    )
    return supp.select(
        "s_suppkey",
        isin.alias("isin"),
        isin_is_valid(isin).alias("is_valid"),
    )


@register(
    "d85_capture_ratios",
    oracle=f"""
    WITH {_DAILY_SQL}, {_RETS_SQL}, mkt AS (
        SELECT day, AVG(r) AS mr FROM rr GROUP BY day
    ), joined AS (
        SELECT rr.event_type, rr.day, rr.r, m.mr,
               CASE WHEN m.mr > 0 THEN 1
                    WHEN m.mr < 0 THEN -1 ELSE 0 END AS side
        FROM rr JOIN mkt m USING (day)
    )
    SELECT event_type,
           CAST(SUM(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_up,
           CAST(SUM(CASE WHEN side = -1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_down,
           {sql_dround(
               "AVG(CASE WHEN side = 1 THEN r END)"
               " / NULLIF(AVG(CASE WHEN side = 1 THEN mr END), 0)", 6
           )} AS up_capture,
           {sql_dround(
               "AVG(CASE WHEN side = -1 THEN r END)"
               " / NULLIF(AVG(CASE WHEN side = -1 THEN mr END), 0)", 6
           )} AS down_capture,
           {sql_dround(
               "(AVG(CASE WHEN side = 1 THEN r END)"
               " / NULLIF(AVG(CASE WHEN side = 1 THEN mr END), 0))"
               " / NULLIF(AVG(CASE WHEN side = -1 THEN r END)"
               " / NULLIF(AVG(CASE WHEN side = -1 THEN mr END), 0), 0)",
               6
           )} AS capture_spread
    FROM joined
    GROUP BY event_type
    """,
)
def d85_capture_ratios(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Up/down capture ratios vs the equal-weight market: on
    market-up days, the series' average return over the market's
    average return (up capture); same on market-down days (down
    capture); and their quotient — the asymmetric-beta scorecard
    behind 'defensive vs aggressive' fund classifications (d67's
    rolling beta is the symmetric cousin). Flat market days (mr = 0)
    belong to neither side by construction.

    Shape: the market proxy is one day-key groupBy of the collapsed
    daily-returns frame joined straight back on day (the d67/d68
    market-join discipline — at scale the per-day market frame is
    O(days) and broadcasts); the conditional averages fold in ONE
    map-side-combined groupBy per series. try_divide/NULLIF guards a
    one-sided fixture (no up or no down days) identically on both
    engines."""
    rets = daily_returns(daily_closes(spark, sf_dir))
    mkt = rets.groupBy("day").agg(F.avg("r").alias("mr"))
    side = (
        F.when(F.col("mr") > 0, 1)
        .when(F.col("mr") < 0, -1)
        .otherwise(0)
    )
    joined = rets.join(mkt, "day").select(
        "event_type", "r", "mr", side.alias("side")
    )
    up_r = F.avg(F.when(F.col("side") == 1, F.col("r")))
    up_m = F.avg(F.when(F.col("side") == 1, F.col("mr")))
    dn_r = F.avg(F.when(F.col("side") == -1, F.col("r")))
    dn_m = F.avg(F.when(F.col("side") == -1, F.col("mr")))
    up_cap = F.try_divide(up_r, F.nullif(up_m, F.lit(0.0)))
    dn_cap = F.try_divide(dn_r, F.nullif(dn_m, F.lit(0.0)))
    return joined.groupBy("event_type").agg(
        F.sum(F.when(F.col("side") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_up"),
        F.sum(F.when(F.col("side") == -1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_down"),
        dround(up_cap, 6).alias("up_capture"),
        dround(dn_cap, 6).alias("down_capture"),
        dround(
            F.try_divide(up_cap, F.nullif(dn_cap, F.lit(0.0))), 6
        ).alias("capture_spread"),
    )


#: oracle CTE: first AND last print per (series, day) in one pass.
_OC_SQL = """
    ranked AS (
        SELECT event_type,
               DATE_TRUNC('day', ts) AS day, value,
               ROW_NUMBER() OVER (PARTITION BY event_type,
                                  DATE_TRUNC('day', ts)
                                  ORDER BY ts ASC, event_id ASC) AS rn_a,
               ROW_NUMBER() OVER (PARTITION BY event_type,
                                  DATE_TRUNC('day', ts)
                                  ORDER BY ts DESC, event_id DESC) AS rn_d
        FROM events
    ), oc AS (
        SELECT event_type, day,
               MAX(CASE WHEN rn_a = 1 THEN value END) AS open,
               MAX(CASE WHEN rn_d = 1 THEN value END) AS close
        FROM ranked GROUP BY event_type, day
    )
"""


@register(
    "d88_overnight_intraday",
    oracle=f"""
    WITH {_OC_SQL}, rets AS (
        SELECT event_type, day,
               open / LAG(close) OVER (PARTITION BY event_type
                                       ORDER BY day) - 1 AS r_on,
               close / open - 1 AS r_id
        FROM oc
    ), rr AS (
        SELECT * FROM rets
        WHERE r_on IS NOT NULL AND r_id IS NOT NULL
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           {sql_dround("AVG(r_on)", 8)} AS mean_overnight,
           {sql_dround("AVG(r_id)", 8)} AS mean_intraday,
           {sql_dround("STDDEV_SAMP(r_on)", 8)} AS vol_overnight,
           {sql_dround("STDDEV_SAMP(r_id)", 8)} AS vol_intraday,
           {sql_dround(
               "VAR_SAMP(r_on) / NULLIF(VAR_SAMP(r_on)"
               " + VAR_SAMP(r_id), 0)", 6)} AS overnight_var_share,
           {sql_dround("CORR(r_on, r_id)", 6)} AS on_id_corr
    FROM rr
    GROUP BY event_type
    """,
)
def d88_overnight_intraday(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overnight vs intraday return decomposition: split each day's
    move into close→open (overnight gap) and open→close (intraday)
    legs and report per series the mean/vol of each, the overnight
    share of total variance, and the correlation between the legs —
    the microstructure study behind "returns accrue overnight"
    (Cliff-Cooper-Gulen-style) and every gap-risk limit.

    Shape: opens and closes come from the SAME per-(series, day)
    sort — two row_numbers over one window ordering (ascending and
    descending tie-broken by event_id, the d5/daily discipline) fold
    into one groupBy; the overnight leg is a single lag window on the
    collapsed daily frame; the final stats are one map-side-combined
    groupBy. try_divide on the Spark side (zero closes exist at
    sf0.1; oracle SFs have none — hash-neutral)."""
    events = load_table(spark, sf_dir, "events")
    day = F.date_trunc("day", F.col("ts"))
    wa = Window.partitionBy("event_type", day).orderBy(
        F.asc("ts"), F.asc("event_id")
    )
    wd = Window.partitionBy("event_type", day).orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    ranked = events.select(
        "event_type",
        day.alias("day"),
        "value",
        F.row_number().over(wa).alias("rn_a"),
        F.row_number().over(wd).alias("rn_d"),
    )
    oc = ranked.groupBy("event_type", "day").agg(
        F.max(F.when(F.col("rn_a") == 1, F.col("value"))).alias("open"),
        F.max(F.when(F.col("rn_d") == 1, F.col("value"))).alias(
            "close"
        ),
    )
    wlag = Window.partitionBy("event_type").orderBy("day")
    rr = oc.select(
        "event_type",
        "day",
        (
            F.try_divide(F.col("open"), F.lag("close").over(wlag)) - 1
        ).alias("r_on"),
        (F.try_divide(F.col("close"), F.col("open")) - 1).alias(
            "r_id"
        ),
    ).filter(F.col("r_on").isNotNull() & F.col("r_id").isNotNull())
    return rr.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_days"),
        dround(F.avg("r_on"), 8).alias("mean_overnight"),
        dround(F.avg("r_id"), 8).alias("mean_intraday"),
        dround(F.stddev_samp("r_on"), 8).alias("vol_overnight"),
        dround(F.stddev_samp("r_id"), 8).alias("vol_intraday"),
        dround(
            F.try_divide(
                F.var_samp("r_on"),
                F.nullif(
                    F.var_samp("r_on") + F.var_samp("r_id"),
                    F.lit(0.0),
                ),
            ),
            6,
        ).alias("overnight_var_share"),
        dround(F.corr("r_on", "r_id"), 6).alias("on_id_corr"),
    )

"""Window-function surface (SURVEY.md §2.5) + sort/top-k (§2.6).

Determinism rule: every ORDER BY inside a window that feeds
row_number/ntile/lag/limit carries a unique tiebreaker column, because
the driver hash is exact and ties would otherwise be engine-dependent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from security_master_spark.datasets import load_table
from security_master_spark.functions.daily import daily_closes, daily_returns
from security_master_spark.functions.daily import DAILY_SQL as _DAILY_SQL
from security_master_spark.functions.daily import RETS_SQL as _RETS_SQL
from security_master_spark.functions.rounding import dround, sql_dround
from security_master_spark.plans.registry import register


R = 4


@register(
    "w1_ranking_functions",
    oracle="""
    SELECT c_custkey, c_nationkey,
           RANK()         OVER w AS rnk,
           DENSE_RANK()   OVER w AS drnk,
           ROW_NUMBER()   OVER w AS rn,
           NTILE(4)       OVER w AS quartile,
           {pr} AS pctrank,
           {cd} AS cumedist
    FROM customer
    WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey)
    """.format(
        pr=sql_dround("PERCENT_RANK() OVER w", 6),
        cd=sql_dround("CUME_DIST() OVER w", 6),
    ),
)
def w1_ranking_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(
        F.desc("c_acctbal"), F.asc("c_custkey")
    )
    return customer.select(
        "c_custkey",
        "c_nationkey",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.row_number().over(w).alias("rn"),
        F.ntile(4).over(w).alias("quartile"),
        dround(F.percent_rank().over(w), 6).alias("pctrank"),
        dround(F.cume_dist().over(w), 6).alias("cumedist"),
    )


@register(
    "w2_lag_lead",
    oracle="""
    SELECT event_id, user_id, ts,
           LAG(value)  OVER w AS prev_value,
           LEAD(value) OVER w AS next_value,
           FIRST_VALUE(value) OVER w AS first_val,
           NTH_VALUE(value, 2) OVER w AS second_val
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def w2_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wf = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return events.select(
        "event_id",
        "user_id",
        "ts",
        F.lag("value").over(w).alias("prev_value"),
        F.lead("value").over(w).alias("next_value"),
        F.first("value").over(wf).alias("first_val"),
        F.nth_value("value", 2).over(wf).alias("second_val"),
    )


@register(
    "w3_moving_average",
    oracle=f"""
    SELECT o_custkey, o_orderkey, o_orderdate,
           {sql_dround("AVG(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)", 4)} AS ma3,
           {sql_dround("SUM(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)", 4)} AS running_total
    FROM orders
    """,
)
def w3_moving_average(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return orders.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        dround(F.avg("o_totalprice").over(w.rowsBetween(-2, 0)), R).alias("ma3"),
        dround(
            F.sum("o_totalprice").over(
                w.rowsBetween(Window.unboundedPreceding, 0)
            ),
            R,
        ).alias("running_total"),
    )


@register(
    "w4_range_frame",
    oracle="""
    SELECT s_suppkey, s_nationkey, s_acctbal,
           COUNT(*) OVER (PARTITION BY s_nationkey ORDER BY s_acctbal
                          RANGE BETWEEN 1000 PRECEDING AND CURRENT ROW) AS peers_within_1000
    FROM supplier
    """,
)
def w4_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    supplier = load_table(spark, sf_dir, "supplier")
    w = (
        Window.partitionBy("s_nationkey")
        .orderBy("s_acctbal")
        .rangeBetween(-1000, 0)
    )
    return supplier.select(
        "s_suppkey",
        "s_nationkey",
        "s_acctbal",
        F.count("*").over(w).alias("peers_within_1000"),
    )


@register(
    "w5_topk_per_group",
    oracle="""
    SELECT * FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               ROW_NUMBER() OVER (PARTITION BY o_custkey
                                  ORDER BY o_totalprice DESC, o_orderkey) AS rn
        FROM orders
    ) WHERE rn <= 3
    """,
)
def w5_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        orders.select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") <= 3)
    )


@register(
    "w6_global_topk",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 25
    """,
)
def w6_global_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Plans as TakeOrderedAndProject: per-partition top-25, merge on
    # driver — no global sort at any scale.
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(25)
    )


# w7's oracle runs DuckDB's NATIVE `EXCLUDE CURRENT ROW` — the
# strongest kind of oracle in the repo: the engines run genuinely
# different formulations (Spark = algebraic rewrite, DuckDB = the
# SQL:2011 frame clause itself), so the hash match proves the rewrite
# law. w8's GROUPS frame is unimplemented in BOTH engines (DuckDB
# parser-verified), so its oracle derives the semantics by a third
# route (LAG/LEAD over collapsed groups). SURVEY.md's
# engine-limitations note points here.


_HALF = 10  # ±10 rows → 21-row centered frame


@register(
    "w7_exclude_current_row",
    oracle=f"""
    SELECT event_id, event_type,
           {sql_dround(
               f"AVG(value) OVER (PARTITION BY event_type"
               f" ORDER BY ts, event_id"
               f" ROWS BETWEEN {_HALF} PRECEDING AND {_HALF} FOLLOWING"
               f" EXCLUDE CURRENT ROW)", 6)} AS peer_mean,
           {sql_dround(
               f"value - AVG(value) OVER (PARTITION BY event_type"
               f" ORDER BY ts, event_id"
               f" ROWS BETWEEN {_HALF} PRECEDING AND {_HALF} FOLLOWING"
               f" EXCLUDE CURRENT ROW)", 6)} AS self_vs_peers
    FROM events
    """,
)
def w7_exclude_current_row(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`EXCLUDE CURRENT ROW` frames (SQL:2011), which Spark's window
    engine does not implement: the leave-one-out peer mean — compare
    each observation to its neighborhood WITHOUT letting it pull the
    average toward itself (the standard form for peer-deviation
    signals and leave-one-out baselines). Portable rewrite: the
    excluded mean is algebra over the plain frame, (sum −
    coalesce(x,0))/(cnt − [x not null]), so Spark evaluates one
    ordinary 21-row frame computing sum and count — same single
    WindowExec, no second pass. The null-aware form matters:
    count('value') already excludes null rows, so a NULL current row
    must subtract nothing from either side — the naive (sum−x)/(cnt−1)
    would go NULL and double-discount while the frame clause still
    averages the peers. The oracle runs DuckDB's NATIVE `EXCLUDE
    CURRENT ROW`, so the hash match certifies the rewrite law
    itself."""
    events = load_table(spark, sf_dir, "events")
    frame = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(-_HALF, _HALF)
    )
    x = F.col("value")
    loo = F.try_divide(
        F.sum("value").over(frame) - F.coalesce(x, F.lit(0.0)),
        F.count("value").over(frame)
        - F.when(x.isNotNull(), 1).otherwise(0),
    )
    return events.select(
        "event_id",
        "event_type",
        dround(loo, 6).alias("peer_mean"),
        dround(F.col("value") - loo, 6).alias("self_vs_peers"),
    )


@register(
    "w8_groups_frame",
    oracle=f"""
    WITH daily AS (
        SELECT event_type,
               CAST(DATE_TRUNC('day', ts) AS TIMESTAMP) AS day,
               SUM(value) AS s, COUNT(*) AS c
        FROM events
        GROUP BY event_type, DATE_TRUNC('day', ts)
    ), neigh AS (
        SELECT event_type, day,
               COALESCE(LAG(s) OVER w, 0) + s
                   + COALESCE(LEAD(s) OVER w, 0) AS g_sum,
               COALESCE(LAG(c) OVER w, 0) + c
                   + COALESCE(LEAD(c) OVER w, 0) AS g_cnt
        FROM daily
        WINDOW w AS (PARTITION BY event_type ORDER BY day)
    )
    SELECT event_type, day,
           {sql_dround("g_sum / CAST(g_cnt AS DOUBLE)", 6)} AS grouped_avg,
           CAST(g_cnt AS BIGINT) AS grouped_cnt
    FROM neigh
    """,
)
def w8_groups_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`GROUPS` frames (SQL:2011 — frame bounds count DISTINCT order
    values, not rows), also absent from Spark: the 3-day neighborhood
    average where each day is one 'group' regardless of how many
    ticks it holds. Portable rewrite: collapse to one row per (key,
    day) carrying (sum, cnt) — after which GROUPS≡ROWS — run the ±1
    ROWS frame over the collapsed table, and divide the summed sums
    by the summed counts. This is also the SCALE-right form: the
    window input shrinks from ticks to days before any sort, so the
    per-partition sort is O(days), not O(ticks). (This DuckDB build
    also lacks GROUPS — parser-verified — so the oracle derives the
    same semantics a third way: LAG/LEAD + COALESCE over the
    collapsed days. Different formulation, one hash.)"""
    events = load_table(spark, sf_dir, "events")
    daily = (
        events.groupBy(
            "event_type", F.date_trunc("day", "ts").alias("day")
        )
        .agg(F.sum("value").alias("s"), F.count("*").alias("c"))
    )
    frame = (
        Window.partitionBy("event_type").orderBy("day").rowsBetween(-1, 1)
    )
    return daily.select(
        "event_type",
        "day",
        dround(
            F.sum("s").over(frame) / F.sum("c").over(frame), 6
        ).alias("grouped_avg"),
        F.sum("c").over(frame).cast("bigint").alias("grouped_cnt"),
    )


@register(
    "w9_ignore_nulls_navigation",
    oracle=f"""
    WITH gaps AS (
        SELECT event_id, user_id, ts,
               CASE WHEN event_type = 'error' THEN NULL
                    ELSE value END AS v
        FROM events
    )
    SELECT event_id, user_id,
           {sql_dround("v", 6)} AS v,
           {sql_dround(
               "last_value(v IGNORE NULLS) OVER ("
               "PARTITION BY user_id ORDER BY ts, event_id "
               "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)", 6
           )} AS ffill,
           {sql_dround(
               "first_value(v IGNORE NULLS) OVER ("
               "PARTITION BY user_id ORDER BY ts, event_id "
               "ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)", 6
           )} AS bfill,
           {sql_dround(
               "nth_value(v, 2 IGNORE NULLS) OVER ("
               "PARTITION BY user_id ORDER BY ts, event_id "
               "ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)",
               6
           )} AS second_obs
    FROM gaps
    """,
)
def w9_ignore_nulls_navigation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IGNORE NULLS navigation functions (SQL:2008 null treatment):
    forward-fill (last non-null so far), backward-fill (next non-null),
    and the account's second-ever observation — the gap-repair idioms
    every sparse time series needs, as pure window surface. NULLs are
    minted deterministically ('error' events carry no value), so both
    engines see identical gaps; a row before any observation stays
    NULL (pinned by the hash — the semantics that separate IGNORE
    NULLS from COALESCE-over-lag hacks).

    This is the WINDOW-SURFACE sibling of d38_forward_fill_distributed
    (the segmented-scan operator for series too long for one
    partition's window): same semantics, different scale regime —
    window when a key's history fits an executor, segmented scan when
    it doesn't.

    Shape: three frames over ONE partitioning (account) — one
    exchange, chained WindowExecs, no joins."""
    events = load_table(spark, sf_dir, "events")
    gaps = events.select(
        "event_id",
        "user_id",
        "ts",
        F.when(F.col("event_type") == "error", F.lit(None))
        .otherwise(F.col("value"))
        .alias("v"),
    )
    base = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wf = base.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wb = base.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    wall = base.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return gaps.select(
        "event_id",
        "user_id",
        dround(F.col("v"), 6).alias("v"),
        dround(F.last("v", ignorenulls=True).over(wf), 6).alias("ffill"),
        dround(F.first("v", ignorenulls=True).over(wb), 6).alias("bfill"),
        dround(
            F.nth_value("v", 2, ignoreNulls=True).over(wall), 6
        ).alias("second_obs"),
    )


@register(
    "w10_time_range_frame",
    oracle=f"""
    SELECT event_id, event_type,
           CAST(COUNT(*) OVER w AS BIGINT) AS n_24h,
           {sql_dround("SUM(value) OVER w", 6)} AS value_24h
    FROM events
    WINDOW w AS (PARTITION BY event_type ORDER BY ts
                 RANGE BETWEEN INTERVAL 24 HOURS PRECEDING
                           AND CURRENT ROW)
    """,
)
def w10_time_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 24-hour RANGE frame over a TIMESTAMP order column —
    the time-interval window (w1's RANGE is numeric; this is the
    wall-clock variant every "last N hours" metric needs). RANGE
    semantics make ties (equal timestamps) peers of each other, so
    the frame is a deterministic function of the DATA — no tie-break
    column required, unlike ROWS frames.

    Authored as SQL text on both engines because the DataFrame API's
    rangeBetween takes numeric offsets only — the SQL surface is
    where interval frames live (Spark parses INTERVAL bounds into
    the same RangeFrame physical node).

    Scale: one (series, time) shuffle; the running interval frame is
    a single sorted pass per partition (Spark's sliding-frame
    aggregation buffers only the in-frame rows). HONEST LIMIT: the
    partition key is the series alone, so parallelism = |series| —
    w11 is the halo-parallelized production rewrite of this exact
    frame (hash-certified equal), measured faster already at sf0.1."""
    from security_master_spark.datasets import load_tables

    load_tables(spark, sf_dir)
    return spark.sql(f"""
    SELECT event_id, event_type,
           CAST(COUNT(*) OVER w AS BIGINT) AS n_24h,
           {sql_dround("SUM(value) OVER w", 6)} AS value_24h
    FROM events
    WINDOW w AS (PARTITION BY event_type ORDER BY ts
                 RANGE BETWEEN INTERVAL 24 HOURS PRECEDING
                           AND CURRENT ROW)
    """)


@register(
    "w11_halo_parallel_time_window",
    oracle=f"""
    SELECT event_id, event_type,
           CAST(COUNT(*) OVER w AS BIGINT) AS n_24h,
           {sql_dround("SUM(value) OVER w", 6)} AS value_24h
    FROM events
    WINDOW w AS (PARTITION BY event_type ORDER BY ts
                 RANGE BETWEEN INTERVAL 24 HOURS PRECEDING
                           AND CURRENT ROW)
    """,
)
def w11_halo_parallel_time_window(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """w10's trailing-24h frame as an O(n) PREFIX DIFFERENCE
    (operators/trailing.py): cum(t) − cum(t − 24h − 1µs), one
    incremental running-total window + one as-of carry of the
    boundary prefix + a join back by row id — zero per-row frame
    re-scans. The oracle stays the UNPARALLELIZED plain-RANGE
    spelling, so the hash certifies exact equality of the rewrite.

    History: the round-7 form of this query was the HALO-BUCKET
    rewrite (duplicate each row into its successor day-bucket, window
    per (series, bucket), emit home rows) — it bought
    |series|·|days|-way parallelism but kept Spark's O(rows ×
    frame-rows) sliding-RANGE cost per bucket: measured at the
    6M-tick stress corpus (10× ticks, 10× frame density), w10 went
    2.4 s → 454 s and the halo form 0.9 s → 136 s. The prefix-diff
    form removes the quadratic term entirely (PLANS.md round-8 study
    has the numbers). The halo technique remains the right tool for
    NON-invertible trailing aggregates (MAX/MIN can't difference
    prefixes) — that regime note lives in operators/trailing.py.

    Exactness: values are exact 2-dp money, so the prefix runs in
    integer CENTS — a float prefix over a long history followed by a
    subtraction is catastrophic cancellation at scale (the io21/q28
    integer-cent lesson); integer prefixes make cum − bnd bit-exact
    at any corpus size."""
    from security_master_spark.operators.trailing import (
        trailing_interval_sum,
    )

    events = load_table(spark, sf_dir, "events")
    e = events.select(
        "event_id",
        "event_type",
        F.unix_micros(F.col("ts")).alias("us"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    res = trailing_interval_sum(
        e,
        keys=["event_type"],
        ts_us="us",
        lookback_us=86_400_000_000,
        units=F.col("cents"),
        row_id="event_id",
        out_n="n_24h",
        out_units="cents_24h",
    )
    return res.select(
        "event_id",
        "event_type",
        F.col("n_24h").cast("bigint").alias("n_24h"),
        dround(F.col("cents_24h") / 100.0, 6).alias("value_24h"),
    )


@register(
    "w12_streak_islands",
    oracle=f"""
    WITH {_DAILY_SQL}, {_RETS_SQL}, base AS (
        SELECT event_type, day,
               CASE WHEN r > 0 THEN 1 ELSE 0 END AS up
        FROM rr
    ), marked AS (
        SELECT event_type, up,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY day)
               - ROW_NUMBER() OVER (PARTITION BY event_type, up
                                    ORDER BY day) AS grp
        FROM base
    ), islands AS (
        SELECT event_type, up, grp, COUNT(*) AS len
        FROM marked GROUP BY 1, 2, 3
    )
    SELECT event_type,
           CAST(MAX(CASE WHEN up = 1 THEN len ELSE 0 END) AS BIGINT)
               AS longest_up,
           CAST(MAX(CASE WHEN up = 0 THEN len ELSE 0 END) AS BIGINT)
               AS longest_down,
           CAST(SUM(CASE WHEN up = 1 THEN len ELSE 0 END) AS BIGINT)
               AS n_up_days,
           CAST(SUM(CASE WHEN up = 1 AND len >= 3 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_up_streaks_ge3
    FROM islands GROUP BY event_type
    """,
)
def w12_streak_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands streak detection: longest run of consecutive
    up days (and down days) per series, total up days, and the count
    of up-streaks of length ≥ 3 — the window idiom (row_number minus
    per-group row_number as the island key) that turns "consecutive"
    into a plain groupBy, with no frame clause and no iteration.

    Shape: the two row_numbers share the per-series sort (the second
    partitions by (series, up) — a sub-partition of the first, so the
    sort order is reusable); islands then aggregate counts only. At
    any scale this is one sort per series over the collapsed daily
    frame plus count-carrying shuffles — the same cost as a single
    window pass, and never a self-join or recursion."""
    rets = daily_returns(daily_closes(spark, sf_dir))
    base = rets.select(
        "event_type",
        "day",
        F.when(F.col("r") > 0, 1).otherwise(0).alias("up"),
    )
    w_all = Window.partitionBy("event_type").orderBy("day")
    w_up = Window.partitionBy("event_type", "up").orderBy("day")
    marked = base.select(
        "event_type",
        "up",
        (
            F.row_number().over(w_all) - F.row_number().over(w_up)
        ).alias("grp"),
    )
    islands = marked.groupBy("event_type", "up", "grp").agg(
        F.count("*").alias("len")
    )
    up_len = F.when(F.col("up") == 1, F.col("len")).otherwise(0)
    return islands.groupBy("event_type").agg(
        F.max(up_len).cast("bigint").alias("longest_up"),
        F.max(
            F.when(F.col("up") == 0, F.col("len")).otherwise(0)
        )
        .cast("bigint")
        .alias("longest_down"),
        F.sum(up_len).cast("bigint").alias("n_up_days"),
        F.sum(
            F.when(
                (F.col("up") == 1) & (F.col("len") >= 3), 1
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_up_streaks_ge3"),
    )


@register(
    "w13_ratio_to_report",
    oracle=f"""
    WITH rev AS (
        SELECT n.n_regionkey AS regionkey,
               c.c_nationkey AS nationkey,
               SUM(o.o_totalprice) AS nation_rev
        FROM orders o
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n ON n.n_nationkey = c.c_nationkey
        GROUP BY 1, 2
    )
    SELECT regionkey, nationkey,
           {sql_dround("nation_rev", 4)} AS nation_rev,
           {sql_dround(
               "nation_rev / SUM(nation_rev)"
               " OVER (PARTITION BY regionkey)", 6
           )} AS share_of_region,
           {sql_dround(
               "nation_rev / SUM(nation_rev) OVER ()", 6
           )} AS share_of_total,
           CAST(RANK() OVER (PARTITION BY regionkey
                             ORDER BY nation_rev DESC, nationkey)
                AS BIGINT) AS rank_in_region
    FROM rev
    """,
)
def w13_ratio_to_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ratio-to-report: each nation's revenue as a share of its
    region AND of the grand total, plus the within-region rank — the
    contribution-analysis idiom (Oracle's RATIO_TO_REPORT) that every
    reporting layer reinvents, certified here as windowed-sum
    divisions so subtotal and grand-total shares come from ONE pass
    over the pre-aggregated frame.

    Shape: the fact table collapses to O(nations) rows FIRST (one
    map-side-combined groupBy through two broadcast dim joins); all
    three windows then run over that tiny frame — the region
    partition for share and rank share one sort, and the global sum
    is a single-partition pass over ~25 rows (fine HERE because the
    windowed frame is the pre-aggregated rollup, never the facts —
    the same reason w6's global top-k is safe)."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    rev = (
        # no forced broadcast on customer (SF-linear; round-12 audit) —
        # nation below keeps its hint (25-row bounded dim)
        orders.join(
            cust,
            orders.o_custkey == cust.c_custkey,
        )
        .join(
            F.broadcast(nation),
            cust.c_nationkey == nation.n_nationkey,
        )
        .groupBy(
            F.col("n_regionkey").alias("regionkey"),
            F.col("c_nationkey").alias("nationkey"),
        )
        .agg(F.sum("o_totalprice").alias("nation_rev"))
    )
    wreg = Window.partitionBy("regionkey")
    wall = Window.partitionBy()
    wrank = Window.partitionBy("regionkey").orderBy(
        F.col("nation_rev").desc(), F.col("nationkey")
    )
    return rev.select(
        "regionkey",
        "nationkey",
        dround(F.col("nation_rev"), 4).alias("nation_rev"),
        dround(
            F.col("nation_rev") / F.sum("nation_rev").over(wreg), 6
        ).alias("share_of_region"),
        dround(
            F.col("nation_rev") / F.sum("nation_rev").over(wall), 6
        ).alias("share_of_total"),
        F.rank().over(wrank).cast("bigint").alias("rank_in_region"),
    )

"""Round-6 securities-domain batch 2 (SURVEY.md §2.11): FIFO
lot-matching realized PnL — the position-accounting operator at the
heart of every trade ledger, expressed as a cumulative-range interval
join instead of a sequential lot queue.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from security_master_spark.datasets import load_table
from security_master_spark.functions.rounding import dround, sql_dround
from security_master_spark.plans.registry import register


@register(
    "d63_fifo_realized_pnl",
    oracle=f"""
    WITH trades AS (
        SELECT user_id, ts, event_id,
               CASE WHEN event_type = 'view' THEN 'B' ELSE 'S' END AS side,
               CAST(event_id % 5 + 1 AS BIGINT) AS qty,
               value AS px
        FROM events
        WHERE event_type IN ('view', 'purchase')
    ), stream AS (
        SELECT user_id, ts, event_id, side, qty, px,
               SUM(CASE WHEN side = 'B' THEN qty ELSE 0 END) OVER w AS cumb,
               SUM(CASE WHEN side = 'S' THEN qty ELSE 0 END) OVER w AS cums
        FROM trades
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ), sell_fill AS (
        SELECT user_id, ts, event_id, px,
               cums - GREATEST(MAX(CASE WHEN side = 'S'
                                        THEN cums - cumb END) OVER w,
                               0) AS f
        FROM stream
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ), sells AS (
        SELECT user_id, px,
               COALESCE(LAG(f) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id), 0) AS lo,
               f AS hi
        FROM (SELECT s.* FROM sell_fill s JOIN trades t
              USING (user_id, ts, event_id) WHERE t.side = 'S')
    ), buys AS (
        SELECT user_id, px,
               SUM(qty) OVER w - qty AS lo,
               SUM(qty) OVER w AS hi
        FROM trades WHERE side = 'B'
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), matched AS (
        SELECT b.user_id,
               LEAST(b.hi, s.hi) - GREATEST(b.lo, s.lo) AS mqty,
               s.px - b.px AS unit_pnl
        FROM buys b JOIN sells s
          ON s.user_id = b.user_id
         AND b.lo < s.hi AND s.lo < b.hi
    )
    SELECT user_id,
           CAST(SUM(mqty) AS BIGINT) AS matched_qty,
           {sql_dround("SUM(mqty * unit_pnl)", 6)} AS realized_pnl
    FROM matched
    GROUP BY user_id
    """,
)
def d63_fifo_realized_pnl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FIFO realized PnL per account, WITHOUT a sequential lot queue.

    The queue is replaced by closed-form cumulative positions. Buy
    lots occupy [cum−qty, cum) on the account's buy axis. A sell's
    FILLED cumulative position is the clipped prefix sum
    F_i = Q_i − max(0, max_{j≤i}(Q_j − B(t_j))), where Q is sell-qty
    cumsum and B(t) is buy-qty owned at sell time: the inner running
    max is the account's LOST DEMAND (sell units that found no
    inventory — lost forever, exactly the sequential queue's oversell
    behavior; it is monotone, so one expanding-max window computes
    it). Sell i then consumes buy-axis units [F_{i−1}, F_i), and FIFO
    matching is plain RANGE OVERLAP: realized PnL =
    Σ overlap · (sell_px − buy_px). Equality with a literal
    sequential lot-queue simulation — interleavings, oversells and
    all — is pinned in tests/test_round6_fixes.py.

    Trades are minted deterministically from events ('view' = buy,
    'purchase' = sell, qty = event_id % 5 + 1, px = value), so both
    engines derive the identical ledger.

    Scale: two window passes over the trade stream (one partitioning,
    chained frames) + one equi-keyed interval join with a range
    residual (the d2 discipline) + one aggregate — no sequential scan
    anywhere; the bucketed-range join (operators/intervals.py) is the
    drop-in for pathological single-account books."""
    events = load_table(spark, sf_dir, "events")
    trades = events.filter(
        F.col("event_type").isin("view", "purchase")
    ).select(
        "user_id",
        "ts",
        "event_id",
        F.when(F.col("event_type") == "view", "B").otherwise("S").alias(
            "side"
        ),
        (F.col("event_id") % 5 + 1).cast("bigint").alias("qty"),
        F.col("value").alias("px"),
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wcum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    is_b = F.col("side") == "B"
    stream = trades.select(
        "user_id",
        "ts",
        "event_id",
        "side",
        "qty",
        "px",
        F.sum(F.when(is_b, F.col("qty")).otherwise(0)).over(wcum).alias(
            "cumb"
        ),
        F.sum(F.when(~is_b, F.col("qty")).otherwise(0)).over(wcum).alias(
            "cums"
        ),
    )
    deficit = F.greatest(
        F.max(
            F.when(~is_b, F.col("cums") - F.col("cumb"))
        ).over(wcum),
        F.lit(0),
    )
    sells = (
        stream.withColumn("f", F.col("cums") - deficit)
        .filter(~is_b)
        .select(
            "user_id",
            "px",
            F.coalesce(F.lag("f").over(w), F.lit(0)).alias("lo"),
            F.col("f").alias("hi"),
        )
    )
    buys = trades.filter(is_b).select(
        "user_id",
        "px",
        (F.sum("qty").over(w) - F.col("qty")).alias("lo"),
        F.sum("qty").over(w).alias("hi"),
    )
    b, s = buys.alias("b"), sells.alias("s")
    matched = b.join(
        s,
        (F.col("s.user_id") == F.col("b.user_id"))
        & (F.col("b.lo") < F.col("s.hi"))
        & (F.col("s.lo") < F.col("b.hi")),
    ).select(
        F.col("b.user_id").alias("user_id"),
        (
            F.least(F.col("b.hi"), F.col("s.hi"))
            - F.greatest(F.col("b.lo"), F.col("s.lo"))
        ).alias("mqty"),
        (F.col("s.px") - F.col("b.px")).alias("unit_pnl"),
    )
    return matched.groupBy("user_id").agg(
        F.sum("mqty").cast("bigint").alias("matched_qty"),
        dround(F.sum(F.col("mqty") * F.col("unit_pnl")), 6).alias(
            "realized_pnl"
        ),
    )


@register(
    "d64_unrealized_pnl",
    oracle=f"""
    WITH trades AS (
        SELECT user_id, ts, event_id,
               CASE WHEN event_type = 'view' THEN 'B' ELSE 'S' END AS side,
               CAST(event_id % 5 + 1 AS BIGINT) AS qty,
               value AS px
        FROM events
        WHERE event_type IN ('view', 'purchase')
    ), stream AS (
        SELECT user_id, ts, event_id, side, qty, px,
               SUM(CASE WHEN side = 'B' THEN qty ELSE 0 END) OVER w AS cumb,
               SUM(CASE WHEN side = 'S' THEN qty ELSE 0 END) OVER w AS cums
        FROM trades
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ), filled AS (
        SELECT user_id,
               COALESCE(MAX(cums - GREATEST(d, 0)), 0) AS f_total
        FROM (
            SELECT user_id, cums,
                   MAX(CASE WHEN side = 'S' THEN cums - cumb END)
                       OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND CURRENT ROW) AS d
            FROM stream WHERE side = 'S'
        ) GROUP BY user_id
    ), last_px AS (
        SELECT user_id, px AS mark
        FROM (
            SELECT user_id, px,
                   ROW_NUMBER() OVER (PARTITION BY user_id
                                      ORDER BY ts DESC, event_id DESC) AS rn
            FROM trades
        ) WHERE rn = 1
    ), lots AS (
        SELECT user_id, px,
               SUM(qty) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   - qty AS lo,
               SUM(qty) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   AS hi
        FROM trades WHERE side = 'B'
    ), open_lots AS (
        SELECT l.user_id,
               l.hi - GREATEST(l.lo, COALESCE(f.f_total, 0)) AS oqty,
               l.px
        FROM lots l LEFT JOIN filled f ON f.user_id = l.user_id
        WHERE l.hi > COALESCE(f.f_total, 0)
    )
    SELECT o.user_id,
           CAST(SUM(o.oqty) AS BIGINT) AS open_qty,
           {sql_dround("SUM(o.oqty * o.px)", 6)} AS open_cost,
           {sql_dround("SUM(o.oqty * (m.mark - o.px))", 6)}
               AS unrealized_pnl
    FROM open_lots o JOIN last_px m ON m.user_id = o.user_id
    GROUP BY o.user_id
    """,
)
def d64_unrealized_pnl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mark-to-market unrealized PnL — d63's complement, closing the
    ledger: FIFO matching consumed buy-axis units [0, F_total); every
    buy-lot unit ABOVE the account's total filled quantity is still
    open, so each lot's open quantity is the closed form
    max(0, hi − max(lo, F_total)), costed at its own purchase price
    and marked at the account's last trade print. open_cost is the
    position's book value; unrealized = Σ open · (mark − lot px).

    Same lost-demand running-max machinery as d63 (one expression
    change: the per-account MAX of the fill cumsum instead of the
    per-sell ranges), then a lot-level projection — no interval join
    at all on this side, because clipping against a single scalar
    F_total replaces it.

    Scale: two window passes + two tiny per-account aggregates +
    one broadcast-sized join of per-account scalars onto the lot
    stream. Accounts with no open lots drop out on both engines."""
    events = load_table(spark, sf_dir, "events")
    trades = events.filter(
        F.col("event_type").isin("view", "purchase")
    ).select(
        "user_id",
        "ts",
        "event_id",
        F.when(F.col("event_type") == "view", "B").otherwise("S").alias(
            "side"
        ),
        (F.col("event_id") % 5 + 1).cast("bigint").alias("qty"),
        F.col("value").alias("px"),
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wcum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    is_b = F.col("side") == "B"
    stream = trades.select(
        "user_id",
        "ts",
        "event_id",
        "side",
        "qty",
        "px",
        F.sum(F.when(is_b, F.col("qty")).otherwise(0)).over(wcum).alias(
            "cumb"
        ),
        F.sum(F.when(~is_b, F.col("qty")).otherwise(0)).over(wcum).alias(
            "cums"
        ),
    )
    deficit = F.max(
        F.when(~is_b, F.col("cums") - F.col("cumb"))
    ).over(wcum)
    filled = (
        stream.withColumn("d", deficit)
        .filter(~is_b)
        .groupBy("user_id")
        .agg(
            F.coalesce(
                F.max(F.col("cums") - F.greatest(F.col("d"), F.lit(0))),
                F.lit(0),
            ).alias("f_total")
        )
    )
    rnw = Window.partitionBy("user_id").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    last_px = (
        trades.select(
            "user_id", "px", F.row_number().over(rnw).alias("rn")
        )
        .filter(F.col("rn") == 1)
        .select("user_id", F.col("px").alias("mark"))
    )
    lots = trades.filter(is_b).select(
        "user_id",
        "px",
        (F.sum("qty").over(w) - F.col("qty")).alias("lo"),
        F.sum("qty").over(w).alias("hi"),
    )
    f0 = F.coalesce(F.col("f_total"), F.lit(0))
    open_lots = (
        lots.join(filled, "user_id", "left")
        .filter(F.col("hi") > f0)
        .select(
            "user_id",
            (F.col("hi") - F.greatest(F.col("lo"), f0)).alias("oqty"),
            "px",
        )
    )
    return open_lots.join(last_px, "user_id").groupBy("user_id").agg(
        F.sum("oqty").cast("bigint").alias("open_qty"),
        dround(F.sum(F.col("oqty") * F.col("px")), 6).alias("open_cost"),
        dround(
            F.sum(F.col("oqty") * (F.col("mark") - F.col("px"))), 6
        ).alias("unrealized_pnl"),
    )

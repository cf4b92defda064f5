"""Securities-master trading and P&L (SURVEY.md §2.11): robust outliers,
position tracking, FIFO realized and unrealized P&L, portfolio
turnover, calendar effects, the information coefficient and the
cross-sectional momentum backtest.
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


_MAD_K = 0.6745  # Phi^-1(0.75): scales MAD to sigma-equivalent units
_MAD_CUT = 3.5  # Iglewicz-Hoaglin modified z-score threshold


@register(
    "d19_mad_outliers",
    oracle=f"""
    WITH m AS (
        SELECT event_id, event_type, ts, value,
               MEDIAN(value) OVER (PARTITION BY event_type) AS med
        FROM events
    ), d AS (
        SELECT *,
               MEDIAN(ABS(value - med)) OVER (PARTITION BY event_type)
                   AS mad
        FROM m
    )
    SELECT event_id, event_type, ts, value,
           {sql_dround(f"{_MAD_K} * (value - med) / mad", 4)} AS robust_z
    FROM d
    WHERE ABS({_MAD_K} * (value - med) / mad) > {_MAD_CUT}
    """,
)
def d19_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-series outlier detection: modified z-score
    0.6745·(x − median)/MAD with the Iglewicz-Hoaglin 3.5 cut. Median
    and MAD are breakdown-resistant where mean/stddev (d17-style
    moments) are dragged by the very outliers being hunted. Two
    stacked whole-partition window aggregates on ONE partitioning
    (med, then MAD of |x−med|) — a single Exchange, no join-back of a
    stats table. Exact interpolated percentile on both engines
    (Spark `percentile` ≡ DuckDB `MEDIAN`); dround absorbs the
    division's engine-order ulps."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type")
    m = events.select(
        "event_id",
        "event_type",
        "ts",
        "value",
        F.percentile("value", F.lit(0.5)).over(w).alias("med"),
    )
    d = m.withColumn(
        "mad",
        F.percentile(F.abs(F.col("value") - F.col("med")), F.lit(0.5)).over(w),
    )
    # try_divide: a window where >=50% of values are identical makes
    # MAD exactly 0 — ANSI `/` would crash the job on that data; NULL
    # z-scores fall out of the |z| > cut filter on both engines.
    # ASSOCIATIVITY MUST MATCH THE ORACLE: the SQL text parses as
    # ((K · (v − med)) / mad); spelling it K · ((v − med)/mad) differs
    # in the last ulp, which flipped one borderline row across the
    # |z| > 3.5 boundary at sf0.1 (~600k rows; the boundary-flip risk
    # is measure-zero per row but scales with n).
    z = F.try_divide(
        F.lit(_MAD_K) * (F.col("value") - F.col("med")), F.col("mad")
    )
    return (
        d.filter(F.abs(z) > _MAD_CUT)
        .select(
            "event_id",
            "event_type",
            "ts",
            "value",
            dround(z, 4).alias("robust_z"),
        )
    )


@register(
    "d20_position_tracking",
    oracle=f"""
    SELECT user_id, ts, event_id,
           ROW_NUMBER() OVER w AS position,
           {sql_dround(
               "SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) OVER w"
               " / CAST(100 AS DOUBLE)", 4
           )} AS cum_cost,
           {sql_dround(
               "SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) OVER w"
               " / CAST(100 AS DOUBLE) / ROW_NUMBER() OVER w", 4
           )} AS avg_cost
    FROM events
    WHERE event_type = 'purchase'
    WINDOW w AS (
        PARTITION BY user_id ORDER BY ts, event_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
    )
    """,
)
def d20_position_tracking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Position and average-cost-basis tracking: per account, each
    fill updates running position (unit lots here) and running
    average cost — the core of any holdings ledger. One running
    window per account; the filter pushes into the parquet scan
    (plan-checked pattern). An explicit ROWS frame keeps both
    engines' running-sum frames identical; at 100 TB the account id
    is the distribution key and a single account's fill history is
    always executor-sized.

    The running cost accumulates in exact integer CENTS: the
    adversarial skew fixture (one account owning half the fills)
    showed the double running sum diverging between Spark's
    sequential frame accumulation and DuckDB's segment-tree
    association at the 4dp quantum — integer sums have no
    association to disagree about (the io21/q28 lesson, applied to
    windows)."""
    events = load_table(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100 + 0.5).cast("long")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    rn = F.row_number().over(
        Window.partitionBy("user_id").orderBy("ts", "event_id")
    )
    fills = events.filter(F.col("event_type") == "purchase")
    cum = F.sum(cents).over(w) / F.lit(100.0)
    return fills.select(
        "user_id",
        "ts",
        "event_id",
        rn.alias("position"),
        dround(cum, 4).alias("cum_cost"),
        dround(cum / rn, 4).alias("avg_cost"),
    )


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


@register(
    "d81_portfolio_turnover",
    oracle=f"""
    WITH {_DAILY_SQL}, k AS (
        SELECT COUNT(DISTINCT event_type) AS k FROM daily
    ), fulldays AS (
        SELECT day FROM daily GROUP BY day
        HAVING COUNT(*) = (SELECT k FROM k)
    ), al AS (
        SELECT d.event_type, d.day, d.close
        FROM daily d JOIN fulldays USING (day)
    ), tot AS (
        SELECT day, SUM(close) AS tc FROM al GROUP BY day
    ), wts AS (
        SELECT a.event_type, a.day, a.close / t.tc AS w
        FROM al a JOIN tot t USING (day)
    ), ch AS (
        SELECT event_type, day,
               ABS(w - LAG(w) OVER (PARTITION BY event_type
                                    ORDER BY day)) AS dw
        FROM wts
    )
    SELECT day,
           CAST(COUNT(dw) AS BIGINT) AS n_series,
           {sql_dround("SUM(dw)", 6)} AS turnover
    FROM ch WHERE dw IS NOT NULL
    GROUP BY day
    """,
)
def d81_portfolio_turnover(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily portfolio turnover of the value-weighted portfolio:
    wᵢₜ = closeᵢₜ / Σⱼ closeⱼₜ and turnoverₜ = Σᵢ |wᵢₜ − wᵢ,ₜ₋₁| —
    the rebalancing-cost driver every index and strategy desk
    publishes. Only fully-aligned days (every series present) carry a
    weight, so day-over-day deltas always compare complete portfolios.

    Shape: collapse to the daily frame first; weights are one
    day-key groupBy + join (the per-day total is O(days) rows);
    the delta is one lag window per series; the final rollup shuffles
    counts and sums only. try_divide on the Spark side (the sf0.1
    fixture has zero prices; a zero day-total would THROW under ANSI —
    hash-neutral at the oracle SFs where totals are positive)."""
    # Persisted (round-15): daily feeds k_df / fulldays / al, and al
    # feeds tot AND wts — without the cuts the tick->daily collapse
    # re-derived per consumer (the d78 shape). Both frames are the
    # collapsed O(series x days) daily panel, never tick-scale.
    daily = daily_closes(spark, sf_dir).persist()
    k_df = daily.select(F.countDistinct("event_type").alias("k"))
    fulldays = (
        daily.groupBy("day")
        .agg(F.count("*").alias("c"))
        .join(F.broadcast(k_df), F.col("c") == F.col("k"))
        .select("day")
    )
    al = daily.join(F.broadcast(fulldays), "day").persist()
    tot = al.groupBy("day").agg(F.sum("close").alias("tc"))
    wts = al.join(tot, "day").select(
        "event_type",
        "day",
        F.try_divide(F.col("close"), F.col("tc")).alias("w"),
    )
    wlag = Window.partitionBy("event_type").orderBy("day")
    ch = wts.select(
        "event_type",
        "day",
        F.abs(F.col("w") - F.lag("w").over(wlag)).alias("dw"),
    ).filter(F.col("dw").isNotNull())
    return ch.groupBy("day").agg(
        F.count("dw").cast("bigint").alias("n_series"),
        dround(F.sum("dw"), 6).alias("turnover"),
    )


@register(
    "d82_calendar_effects",
    oracle=f"""
    WITH {_DAILY_SQL}, {_RETS_SQL}
    SELECT event_type,
           CAST(date_part('isodow', day) AS BIGINT) AS iso_dow,
           CAST(COUNT(*) AS BIGINT) AS n,
           {sql_dround("AVG(r)", 8)} AS mean_ret,
           {sql_dround(
               "AVG(r) / NULLIF(STDDEV_SAMP(r) / SQRT(COUNT(*)), 0)", 6
           )} AS t_stat,
           COALESCE(
               ABS(AVG(r) / NULLIF(STDDEV_SAMP(r) / SQRT(COUNT(*)), 0))
                   > 2,
               FALSE
           ) AS is_significant
    FROM rr
    GROUP BY 1, 2
    """,
)
def d82_calendar_effects(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week calendar effects: per (series, ISO weekday) mean
    daily return with its one-sample t-statistic (mean / (sd/√n)) and
    a |t| > 2 significance flag — the seasonality screen behind every
    'Monday effect' claim, published as a full panel so quiet cells
    still certify the math.

    Engine note: Spark has no isodow; ((dayofweek + 5) % 7) + 1 maps
    Sunday=1..Saturday=7 onto ISO Monday=1..Sunday=7 and is asserted
    equal to DuckDB's date_part('isodow') by the oracle hash itself.
    Shape: one groupBy over the collapsed daily-returns frame —
    partial aggregation map-side-combines (count/sum/sumsq), so the
    shuffle carries O(series × 7) rows at any scale."""
    rets = daily_returns(daily_closes(spark, sf_dir))
    iso_dow = ((F.dayofweek("day") + 5) % 7 + 1).cast("bigint")
    t = F.try_divide(
        F.avg("r"),
        F.nullif(
            F.stddev_samp("r") / F.sqrt(F.count("*")), F.lit(0.0)
        ),
    )
    return rets.groupBy(
        "event_type", iso_dow.alias("iso_dow")
    ).agg(
        F.count("*").cast("bigint").alias("n"),
        dround(F.avg("r"), 8).alias("mean_ret"),
        dround(t, 6).alias("t_stat"),
        F.coalesce(F.abs(t) > 2, F.lit(False)).alias("is_significant"),
    )


#: minimum cross-section width for a day's IC to count.
_IC_MIN_N = 3


@register(
    "d84_information_coefficient",
    oracle=f"""
    WITH {_DAILY_SQL}, {_RETS_SQL}, sigfwd AS (
        SELECT event_type, day, r AS signal,
               LEAD(r) OVER (PARTITION BY event_type ORDER BY day)
                   AS fwd
        FROM rr
    ), xs AS (
        SELECT event_type, day,
               RANK() OVER (PARTITION BY day
                            ORDER BY signal, event_type) AS rs,
               RANK() OVER (PARTITION BY day
                            ORDER BY fwd, event_type) AS rf,
               COUNT(*) OVER (PARTITION BY day) AS n_xs
        FROM sigfwd WHERE fwd IS NOT NULL
    ), daily_ic AS (
        SELECT day,
               CORR(CAST(rs AS DOUBLE), CAST(rf AS DOUBLE)) AS ic
        FROM xs WHERE n_xs >= {_IC_MIN_N}
        GROUP BY day
    )
    SELECT CAST(COUNT(ic) AS BIGINT) AS n_days,
           {sql_dround("AVG(ic)", 6)} AS mean_ic,
           {sql_dround("STDDEV_SAMP(ic)", 6)} AS std_ic,
           {sql_dround("AVG(ic) / NULLIF(STDDEV_SAMP(ic), 0)", 6)}
               AS icir,
           {sql_dround(
               "AVG(ic) / NULLIF(STDDEV_SAMP(ic)"
               " / SQRT(COUNT(ic)), 0)", 6)} AS t_stat
    FROM daily_ic
    """,
)
def d84_information_coefficient(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Information coefficient panel: use today's return as the
    signal, tomorrow's as the outcome, rank both within each day's
    cross-section, and let ICₜ = the daily Pearson correlation of the
    ranks (= Spearman); publish mean IC, its volatility, the IC
    information ratio, and the t-stat — the standard "does this
    factor predict?" scorecard (d65 is the pairwise-series Spearman;
    this is the per-DAY cross-sectional one every factor report
    runs).

    Determinism: ranks tie-break on the series key, so the rank
    lattice is exact integers on both engines and CORR's inputs are
    identical — no float-ordering hazard. Shape: one lead window per
    series, two rank windows sharing the per-day sort, one per-day
    CORR (map-side-combined), one 1-row summary. Days narrower than
    {_IC_MIN_N} series drop out via a plain windowed count filter —
    no dataset-wide constant, no broadcast."""
    rets = daily_returns(daily_closes(spark, sf_dir))
    wlead = Window.partitionBy("event_type").orderBy("day")
    sigfwd = rets.select(
        "event_type",
        "day",
        F.col("r").alias("signal"),
        F.lead("r").over(wlead).alias("fwd"),
    ).filter(F.col("fwd").isNotNull())
    wday_s = Window.partitionBy("day").orderBy("signal", "event_type")
    wday_f = Window.partitionBy("day").orderBy("fwd", "event_type")
    wday = Window.partitionBy("day")
    xs = sigfwd.select(
        "day",
        F.rank().over(wday_s).cast("double").alias("rs"),
        F.rank().over(wday_f).cast("double").alias("rf"),
        F.count("*").over(wday).alias("n_xs"),
    ).filter(F.col("n_xs") >= _IC_MIN_N)
    daily_ic = xs.groupBy("day").agg(F.corr("rs", "rf").alias("ic"))
    return daily_ic.agg(
        F.count("ic").cast("bigint").alias("n_days"),
        dround(F.avg("ic"), 6).alias("mean_ic"),
        dround(F.stddev_samp("ic"), 6).alias("std_ic"),
        dround(
            F.try_divide(
                F.avg("ic"), F.nullif(F.stddev_samp("ic"), F.lit(0.0))
            ),
            6,
        ).alias("icir"),
        dround(
            F.try_divide(
                F.avg("ic"),
                F.nullif(
                    F.stddev_samp("ic") / F.sqrt(F.count("ic")),
                    F.lit(0.0),
                ),
            ),
            6,
        ).alias("t_stat"),
    )


#: trailing formation window (days) and the number of names held on
#: each side of the spread.
_MOM_W = 5
_MOM_SIDE = 2


@register(
    "d90_cross_sectional_momentum",
    oracle=f"""
    WITH {_DAILY_SQL}, {_RETS_SQL}, sig AS (
        SELECT event_type, day, r,
               SUM(CASE WHEN 1 + r > 0 THEN LN(1 + r) END)
                   OVER (PARTITION BY event_type
                                    ORDER BY day
                                    ROWS BETWEEN {_MOM_W - 1} PRECEDING
                                    AND CURRENT ROW) AS mom,
               COUNT(*) OVER (PARTITION BY event_type
                              ORDER BY day
                              ROWS BETWEEN {_MOM_W - 1} PRECEDING
                              AND CURRENT ROW) AS cnt
        FROM rr
    ), fwd AS (
        SELECT event_type, day, mom,
               LEAD(r) OVER (PARTITION BY event_type ORDER BY day)
                   AS fr
        FROM sig WHERE cnt = {_MOM_W}
    ), xs_ranked AS (
        SELECT day, fr,
               RANK() OVER (PARTITION BY day
                            ORDER BY mom DESC, event_type) AS rk_top,
               RANK() OVER (PARTITION BY day
                            ORDER BY mom ASC, event_type) AS rk_bot,
               COUNT(*) OVER (PARTITION BY day) AS n_xs
        FROM fwd WHERE fr IS NOT NULL
    ), daily_ls AS (
        SELECT day,
               AVG(CASE WHEN rk_top <= {_MOM_SIDE} THEN fr END)
               - AVG(CASE WHEN rk_bot <= {_MOM_SIDE} THEN fr END)
                   AS ls
        FROM xs_ranked
        WHERE n_xs >= {2 * _MOM_SIDE + 1}
        GROUP BY day
    )
    SELECT CAST(COUNT(ls) AS BIGINT) AS n_days,
           {sql_dround("AVG(ls)", 8)} AS mean_ls,
           {sql_dround("STDDEV_SAMP(ls)", 8)} AS vol_ls,
           {sql_dround(
               "AVG(ls) / NULLIF(STDDEV_SAMP(ls)"
               " / SQRT(COUNT(ls)), 0)", 6)} AS t_stat,
           {sql_dround(
               "AVG(CASE WHEN ls > 0 THEN 1.0 ELSE 0.0 END)", 6
           )} AS hit_rate
    FROM daily_ls
    """,
)
def d90_cross_sectional_momentum(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cross-sectional momentum backtest: form a trailing 5-day
    log-return signal per series, each day go long the top-2
    and short the bottom-2 names (_MOM_W/_MOM_SIDE), hold one day, and score
    the long-short stream (mean, vol, t-stat, hit rate) — the
    portfolio spelling of the factor question d84's IC answers by
    regression; together they are the standard factor report pair.

    Determinism: ranks tie-break on the series key (the d84 rule);
    days with a cross-section too thin to fill both sides drop via a
    windowed count — no dataset constant, no broadcast. Shape: the
    formation window, the forward-return lead, and both ranks all
    run over the collapsed daily frame (two sorts: per-series, then
    per-day); the long-short stream is O(days) rows into a 1-row
    summary."""
    rets = daily_returns(daily_closes(spark, sf_dir))
    wmom = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-(_MOM_W - 1), Window.currentRow)
    )
    sig = rets.select(
        "event_type",
        "day",
        "r",
        F.sum(F.log1p("r")).over(wmom).alias("mom"),
        F.count("*").over(wmom).alias("cnt"),
    ).filter(F.col("cnt") == _MOM_W)
    wlead = Window.partitionBy("event_type").orderBy("day")
    fwd = sig.select(
        "event_type",
        "day",
        "mom",
        F.lead("r").over(wlead).alias("fr"),
    ).filter(F.col("fr").isNotNull())
    wtop = Window.partitionBy("day").orderBy(
        F.col("mom").desc(), F.col("event_type")
    )
    wbot = Window.partitionBy("day").orderBy(
        F.col("mom").asc(), F.col("event_type")
    )
    wday = Window.partitionBy("day")
    ranked = fwd.select(
        "day",
        "fr",
        F.rank().over(wtop).alias("rk_top"),
        F.rank().over(wbot).alias("rk_bot"),
        F.count("*").over(wday).alias("n_xs"),
    ).filter(F.col("n_xs") >= 2 * _MOM_SIDE + 1)
    daily_ls = ranked.groupBy("day").agg(
        (
            F.avg(
                F.when(F.col("rk_top") <= _MOM_SIDE, F.col("fr"))
            )
            - F.avg(
                F.when(F.col("rk_bot") <= _MOM_SIDE, F.col("fr"))
            )
        ).alias("ls")
    )
    return daily_ls.agg(
        F.count("ls").cast("bigint").alias("n_days"),
        dround(F.avg("ls"), 8).alias("mean_ls"),
        dround(F.stddev_samp("ls"), 8).alias("vol_ls"),
        dround(
            F.try_divide(
                F.avg("ls"),
                F.nullif(
                    F.stddev_samp("ls") / F.sqrt(F.count("ls")),
                    F.lit(0.0),
                ),
            ),
            6,
        ).alias("t_stat"),
        dround(
            F.avg(F.when(F.col("ls") > 0, 1.0).otherwise(0.0)), 6
        ).alias("hit_rate"),
    )

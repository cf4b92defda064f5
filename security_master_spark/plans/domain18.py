"""Round-6 securities-domain batch 6 (SURVEY.md §2.11): curve
interpolation at query tenors (the union + bidirectional-fill
formulation) and business-day settlement arithmetic over a calendar
dimension — the two reference-data operators every fixed-income /
operations stack runs constantly.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from security_master_spark.datasets import load_table
from security_master_spark.functions.daily import DAILY_SQL as _DAILY_SQL
from security_master_spark.functions.daily import RETS_SQL as _RETS_SQL
from security_master_spark.functions.daily import daily_closes, daily_returns
from security_master_spark.functions.rounding import dround, sql_dround
from security_master_spark.plans.registry import register

#: query tenors (days since each curve's first node); the last one
#: lies beyond every node and certifies flat extrapolation.
_TENORS = (0.5, 3.7, 7.2, 15.5, 29.9, 45.0)
_TENORS_SQL = ", ".join(f"({t})" for t in _TENORS)

#: guarded piecewise-linear interpolation (flat extrapolation at both
#: ends, exact node value when both brackets coincide).
_LERP_SQL = (
    "CASE WHEN x_prev IS NULL THEN y_next "
    "WHEN x_next IS NULL THEN y_prev "
    "WHEN x_next = x_prev THEN y_prev "
    "ELSE y_prev + (y_next - y_prev) * (q - x_prev) / (x_next - x_prev) "
    "END"
)


@register(
    "d75_curve_interpolation",
    oracle=f"""
    WITH {_DAILY_SQL}, nodes AS (
        SELECT event_type,
               CAST(DATE_DIFF('day',
                    MIN(CAST(day AS DATE)) OVER (PARTITION BY event_type),
                    CAST(day AS DATE)) AS DOUBLE) AS x,
               close AS y
        FROM daily
    ), qt(q) AS (
        VALUES {_TENORS_SQL}
    ), probes AS (
        SELECT DISTINCT n.event_type, CAST(qt.q AS DOUBLE) AS q
        FROM nodes n CROSS JOIN qt
    ), merged AS (
        SELECT event_type, x AS pos, 1 AS is_node, x, y, NULL::DOUBLE AS q
        FROM nodes
        UNION ALL
        SELECT event_type, q AS pos, 0 AS is_node,
               NULL::DOUBLE, NULL::DOUBLE, q
        FROM probes
    ), filled AS (
        SELECT event_type, pos, is_node, q,
               LAST_VALUE(x IGNORE NULLS) OVER wf AS x_prev,
               LAST_VALUE(y IGNORE NULLS) OVER wf AS y_prev,
               LAST_VALUE(x IGNORE NULLS) OVER wb AS x_next,
               LAST_VALUE(y IGNORE NULLS) OVER wb AS y_next
        FROM merged
        WINDOW wf AS (PARTITION BY event_type
                      ORDER BY pos ASC, is_node DESC
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
               wb AS (PARTITION BY event_type
                      ORDER BY pos DESC, is_node DESC
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT event_type, q AS tenor,
           {sql_dround(_LERP_SQL, 6)} AS rate
    FROM filled WHERE is_node = 0
    """,
)
def d75_curve_interpolation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Piecewise-linear curve interpolation at fixed query tenors
    (with flat extrapolation past either end) — the zero-curve /
    vol-surface lookup every pricing call makes. Curve nodes are each
    series' daily closes at x = days since the curve's first node.

    The distributed formulation: UNION the probes into the node
    stream and run ONE forward and ONE backward IGNORE-NULLS fill
    (the w9-certified machinery) to hand every probe its bracketing
    nodes — no non-equi join, no per-probe binary search; at any
    scale this is two window passes over O(nodes + probes) rows per
    curve. The (pos, is_node DESC) tie-break makes a probe that
    lands EXACTLY on a node see that node as both brackets, and the
    x_next = x_prev guard returns the node value exactly (no 0/0).

    Scale: probes ≪ nodes always; both passes share the per-curve
    partitioning, so the whole operator is one shuffle of the
    collapsed curve frame."""
    daily = daily_closes(spark, sf_dir)
    wmin = Window.partitionBy("event_type")
    nodes = daily.select(
        "event_type",
        F.datediff(
            F.col("day").cast("date"),
            F.min(F.col("day").cast("date")).over(wmin),
        )
        .cast("double")
        .alias("x"),
        F.col("close").alias("y"),
    )
    probes = (
        nodes.select("event_type")
        .distinct()
        .crossJoin(
            F.broadcast(
                spark.range(1).select(
                    F.explode(
                        F.array(*[F.lit(float(t)) for t in _TENORS])
                    ).alias("q")
                )
            )
        )
    )
    merged = nodes.select(
        "event_type",
        F.col("x").alias("pos"),
        F.lit(1).alias("is_node"),
        "x",
        "y",
        F.lit(None).cast("double").alias("q"),
    ).unionByName(
        probes.select(
            "event_type",
            F.col("q").alias("pos"),
            F.lit(0).alias("is_node"),
            F.lit(None).cast("double").alias("x"),
            F.lit(None).cast("double").alias("y"),
            "q",
        )
    )
    wf = (
        Window.partitionBy("event_type")
        .orderBy(F.asc("pos"), F.desc("is_node"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wb = (
        Window.partitionBy("event_type")
        .orderBy(F.desc("pos"), F.desc("is_node"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = merged.select(
        "event_type",
        "is_node",
        "q",
        F.last("x", ignorenulls=True).over(wf).alias("x_prev"),
        F.last("y", ignorenulls=True).over(wf).alias("y_prev"),
        F.last("x", ignorenulls=True).over(wb).alias("x_next"),
        F.last("y", ignorenulls=True).over(wb).alias("y_next"),
    )
    rate = (
        F.when(F.col("x_prev").isNull(), F.col("y_next"))
        .when(F.col("x_next").isNull(), F.col("y_prev"))
        .when(F.col("x_next") == F.col("x_prev"), F.col("y_prev"))
        .otherwise(
            F.col("y_prev")
            + (F.col("y_next") - F.col("y_prev"))
            * (F.col("q") - F.col("x_prev"))
            / (F.col("x_next") - F.col("x_prev"))
        )
    )
    return (
        filled.filter(F.col("is_node") == 0)
        .select(
            "event_type",
            F.col("q").alias("tenor"),
            dround(rate, 6).alias("rate"),
        )
    )


#: market holidays inside the fixture window (New Year, MLK day).
_HOLIDAYS = ("2024-01-01", "2024-01-15")
_HOLIDAYS_SQL = ", ".join(f"DATE '{d}'" for d in _HOLIDAYS)
_CAL_START = "2023-12-25"
_CAL_END = "2024-02-15"
#: settlement lag in business days.
_SETTLE_N = 2


@register(
    "d76_settlement_dates",
    oracle=f"""
    WITH cal AS (
        SELECT CAST(d AS DATE) AS day,
               CASE WHEN date_part('dow', d) IN (0, 6)
                         OR CAST(d AS DATE) IN ({_HOLIDAYS_SQL})
                    THEN 0 ELSE 1 END AS is_bus
        FROM UNNEST(generate_series(DATE '{_CAL_START}',
                                    DATE '{_CAL_END}',
                                    INTERVAL 1 DAY)) AS t(d)
    ), idx AS (
        SELECT day, is_bus,
               SUM(is_bus) OVER (ORDER BY day) AS bidx
        FROM cal
    ), trades AS (
        SELECT CAST(DATE_TRUNC('day', ts) AS DATE) AS trade_day,
               CAST(COUNT(*) AS BIGINT) AS n_trades
        FROM events GROUP BY 1
    )
    SELECT t.trade_day,
           CAST(i.is_bus AS BIGINT) AS traded_on_bus_day,
           t.n_trades,
           s.day AS settle_day
    FROM trades t
    JOIN idx i ON i.day = t.trade_day
    JOIN idx s ON s.bidx = i.bidx + {_SETTLE_N} AND s.is_bus = 1
    """,
)
def d76_settlement_dates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T+2 settlement-date assignment over a business-day calendar
    (weekends + market holidays) — the operations-desk arithmetic
    behind every trade ledger. The calendar dimension carries a
    cumulative business-day index; settlement is then a pure
    equi-join: settle(d) = the business day whose index equals
    bidx(d) + 2. A trade on a weekend/holiday inherits the previous
    business day's index, which gives the standard convention
    (settlement counts from the next business day) with no CASE
    logic at all.

    Scale: the fact table collapses to O(trade days) first; the
    calendar dim is tiny and broadcasts into both joins. At 100 TB
    the same shape holds — the calendar join is the textbook
    broadcast-dim pattern (never a non-equi date-walk).

    Engine note: weekend tests are dialect-specific (Spark dayofweek
    Sunday=1/Saturday=7 vs DuckDB dow Sunday=0/Saturday=6) but
    assert the identical day set."""
    spark_dates = F.sequence(
        F.lit(_CAL_START).cast("date"),
        F.lit(_CAL_END).cast("date"),
        F.expr("INTERVAL 1 DAY"),
    )
    cal = (
        spark.range(1)
        .select(F.explode(spark_dates).alias("day"))
        .select(
            "day",
            F.when(
                F.dayofweek("day").isin(1, 7)
                | F.col("day").cast("string").isin(*_HOLIDAYS),
                0,
            )
            .otherwise(1)
            .alias("is_bus"),
        )
    )
    wcum = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    idx = cal.select(
        "day", "is_bus", F.sum("is_bus").over(wcum).alias("bidx")
    )
    events = load_table(spark, sf_dir, "events")
    trades = events.groupBy(
        F.date_trunc("day", F.col("ts")).cast("date").alias("trade_day")
    ).agg(F.count("*").cast("bigint").alias("n_trades"))
    i = idx.select(
        F.col("day").alias("trade_day"),
        F.col("is_bus").cast("bigint").alias("traded_on_bus_day"),
        F.col("bidx").alias("t_bidx"),
    )
    s = idx.filter(F.col("is_bus") == 1).select(
        F.col("day").alias("settle_day"),
        F.col("bidx").alias("s_bidx"),
    )
    return (
        trades.join(F.broadcast(i), "trade_day")
        .join(
            F.broadcast(s),
            F.col("s_bidx") == F.col("t_bidx") + _SETTLE_N,
        )
        .select(
            "trade_day", "traded_on_bus_day", "n_trades", "settle_day"
        )
    )


#: volatility-cone horizons (trading days).
_CONE_H = (5, 10, 20)
#: annualization factor for daily realized vol — IEEE sqrt on both
#: engines (math.sqrt here, SQRT(252.0) in the oracle) so the
#: multiplied doubles are bit-identical.
_ANN_SQRT = math.sqrt(252.0)


def _cone_roll_sql() -> str:
    """One UNION ALL block per horizon: rolling sample stddev of
    daily returns over the trailing h-row frame, annualized, full
    windows only (COUNT == h). SQL windows cannot parameterize frame
    bounds by a column, so the oracle unrolls the tiny _CONE_H tuple."""
    blocks = []
    for h in _CONE_H:
        blocks.append(
            f"""
        SELECT event_type, {h} AS horizon, vol FROM (
            SELECT event_type,
                   STDDEV_SAMP(r) OVER w * SQRT(252.0) AS vol,
                   COUNT(r) OVER w AS cnt
            FROM rr
            WINDOW w AS (PARTITION BY event_type ORDER BY day
                         ROWS BETWEEN {h - 1} PRECEDING AND CURRENT ROW)
        ) WHERE cnt = {h}"""
        )
    return " UNION ALL ".join(blocks)


@register(
    "d77_volatility_cone",
    oracle=f"""
    WITH {_DAILY_SQL}, {_RETS_SQL}, roll AS (
        {_cone_roll_sql()}
    )
    SELECT event_type,
           CAST(horizon AS BIGINT) AS horizon,
           CAST(COUNT(*) AS BIGINT) AS n_obs,
           {sql_dround("MIN(vol)", 6)} AS vol_min,
           {sql_dround("QUANTILE_CONT(vol, 0.25)", 6)} AS vol_p25,
           {sql_dround("QUANTILE_CONT(vol, 0.50)", 6)} AS vol_med,
           {sql_dround("QUANTILE_CONT(vol, 0.75)", 6)} AS vol_p75,
           {sql_dround("MAX(vol)", 6)} AS vol_max
    FROM roll
    GROUP BY event_type, horizon
    """,
)
def d77_volatility_cone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volatility cone: per (series, horizon) percentile bands
    (min / p25 / median / p75 / max) of the trailing rolling realized
    vol — the options-desk chart that says whether today's implied
    vol is rich or cheap against the realized distribution at each
    horizon. Realized vol = annualized sample stddev of the daily
    returns over the trailing h-day row frame; only FULL windows
    enter the cone (a partial window would mix horizons).

    Distributed shape: all three horizons share one
    (event_type, day) sort, so Spark computes every frame in a
    SINGLE WindowExec pass over the collapsed daily-returns frame
    (O(series × days), never the ticks); `stack` unpivots to long
    form pipeline-side (no shuffle), and one groupBy on
    (series, horizon) computes the exact percentile bands via the
    d39/d62/dq12-proven `percentile` == QUANTILE_CONT pairing. At
    100 TB the daily frame is ~6 orders smaller than the fact table;
    the exact per-group percentile sort is the honest audit cost
    (a13's t-digest is the screening sibling)."""
    rets = daily_returns(daily_closes(spark, sf_dir))
    base = Window.partitionBy("event_type").orderBy("day")
    cols = []
    for h in _CONE_H:
        w = base.rowsBetween(-(h - 1), Window.currentRow)
        vol = F.stddev_samp("r").over(w) * F.lit(_ANN_SQRT)
        cnt = F.count("r").over(w)
        cols.append(F.when(cnt == h, vol).alias(f"vol_{h}"))
    scored = rets.select("event_type", *cols)
    stack_args = ", ".join(
        f"CAST({h} AS BIGINT), vol_{h}" for h in _CONE_H
    )
    long = scored.selectExpr(
        "event_type",
        f"stack({len(_CONE_H)}, {stack_args}) AS (horizon, vol)",
    ).filter(F.col("vol").isNotNull())
    return long.groupBy("event_type", "horizon").agg(
        F.count("*").cast("bigint").alias("n_obs"),
        dround(F.min("vol"), 6).alias("vol_min"),
        dround(F.percentile("vol", 0.25), 6).alias("vol_p25"),
        dround(F.percentile("vol", 0.50), 6).alias("vol_med"),
        dround(F.percentile("vol", 0.75), 6).alias("vol_p75"),
        dround(F.max("vol"), 6).alias("vol_max"),
    )

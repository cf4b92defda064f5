"""Round-6 securities-domain batch (SURVEY.md §2.11): realized
volatility decomposition and tick-rule order-flow imbalance — two
tick-native microstructure estimators built from one window pass +
one per-day rollup each, the d28/d44 collapse-early discipline.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from security_master_spark.datasets import load_table
from security_master_spark.functions.rounding import dround, sql_dround
from security_master_spark.plans.registry import register

_HALF_PI = 1.5707963267948966  # pi/2, written identically in both engines


@register(
    "d60_realized_vol_jump",
    oracle=f"""
    WITH ticks AS (
        SELECT event_type, ts, event_id,
               CAST(DATE_TRUNC('day', ts) AS TIMESTAMP) AS day, value,
               LAG(value) OVER (
                   PARTITION BY event_type, DATE_TRUNC('day', ts)
                   ORDER BY ts, event_id
               ) AS prev
        FROM events
    ), rets AS (
        SELECT event_type, day, ts, event_id,
               ln(CASE WHEN value > 0 AND prev > 0
                       THEN value / prev END) AS r
        FROM ticks
    ), paired AS (
        SELECT event_type, day, r,
               LAG(r) OVER (
                   PARTITION BY event_type, day ORDER BY ts, event_id
               ) AS r_prev
        FROM rets
    )
    SELECT event_type, day,
           CAST(COUNT(r) AS BIGINT) AS n_returns,
           {sql_dround("SUM(r * r)", 8)} AS realized_var,
           {sql_dround(f"{_HALF_PI} * SUM(ABS(r) * ABS(r_prev))", 8)}
               AS bipower_var,
           {sql_dround(
               f"GREATEST(SUM(r * r) - {_HALF_PI}"
               f" * SUM(ABS(r) * ABS(r_prev)), 0)"
               f" / NULLIF(SUM(r * r), 0)", 6)} AS jump_share
    FROM paired
    GROUP BY event_type, day
    """,
)
def d60_realized_vol_jump(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Realized-variance decomposition per (series, day): RV = Σr²
    over intraday log returns, bipower variation BV = (π/2)·Σ|rᵢ||rᵢ₋₁|
    (robust to jumps — products of adjacent returns suppress a single
    outlier that squares would amplify), and the jump share
    max(RV−BV, 0)/RV — the standard continuous-vs-jump split
    (Barndorff-Nielsen–Shephard estimator family).

    Shape: one window SPEC computes both the return lag and the
    adjacent-return pairing — r_prev = lag(r) nests over r's output,
    so Spark chains two WindowExecs over the SAME partitioning (one
    exchange feeds both; no second shuffle), then a per-day hash
    aggregate with map-side partials. Log-return positivity is guarded identically on
    both engines (DuckDB ln() ERRORS on non-positive input where
    Spark NULLs, so the CASE guard is cross-engine load-bearing, not
    decoration); NULLIF guards the all-zero-returns day."""
    events = load_table(spark, sf_dir, "events")
    day = F.date_trunc("day", "ts")
    w = Window.partitionBy("event_type", day).orderBy("ts", "event_id")
    prev = F.lag("value").over(w)
    r = F.log(
        F.when((F.col("value") > 0) & (prev > 0), F.col("value") / prev)
    )
    ticks = events.select(
        "event_type",
        day.alias("day"),
        r.alias("r"),
        F.lag(r).over(w).alias("r_prev"),
    )
    rv = F.sum(F.col("r") * F.col("r"))
    bv = F.lit(_HALF_PI) * F.sum(F.abs("r") * F.abs("r_prev"))
    return ticks.groupBy("event_type", "day").agg(
        F.count("r").cast("bigint").alias("n_returns"),
        dround(rv, 8).alias("realized_var"),
        dround(bv, 8).alias("bipower_var"),
        dround(
            F.greatest(rv - bv, F.lit(0.0)) / F.nullif(rv, F.lit(0.0)), 6
        ).alias("jump_share"),
    )


@register(
    "d61_tick_rule_imbalance",
    oracle=f"""
    WITH signed AS (
        SELECT event_type,
               CAST(DATE_TRUNC('day', ts) AS TIMESTAMP) AS day,
               SIGN(value - LAG(value) OVER (
                   PARTITION BY event_type ORDER BY ts, event_id
               )) AS s
        FROM events
    )
    SELECT event_type, day,
           CAST(SUM(CASE WHEN s > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS buy_ticks,
           CAST(SUM(CASE WHEN s < 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS sell_ticks,
           CAST(SUM(CASE WHEN s = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS zero_ticks,
           {sql_dround(
               "(SUM(CASE WHEN s > 0 THEN 1 ELSE 0 END)"
               " - SUM(CASE WHEN s < 0 THEN 1 ELSE 0 END))"
               " / CAST(NULLIF(SUM(CASE WHEN s > 0 THEN 1 ELSE 0 END)"
               " + SUM(CASE WHEN s < 0 THEN 1 ELSE 0 END), 0) AS DOUBLE)",
               6)} AS imbalance
    FROM signed
    GROUP BY event_type, day
    """,
)
def d61_tick_rule_imbalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tick-rule order-flow imbalance per (series, day): classify each
    tick as buyer-initiated (uptick), seller-initiated (downtick), or
    indeterminate (no change / first tick), then the daily imbalance
    (buys − sells)/(buys + sells) — the Lee-Ready tick-test proxy used
    when quote data is absent.

    Shape: the sign lag partitions by series ONLY (a day's first tick
    classifies against the prior day's close — the standard
    convention), then one per-day hash aggregate. NULLIF guards an
    all-indeterminate day. The sign column stays a double (SIGN's
    native type on both engines) until the conditional counts
    collapse it."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    s = F.signum(F.col("value") - F.lag("value").over(w))
    signed = events.select(
        "event_type",
        F.date_trunc("day", "ts").alias("day"),
        s.alias("s"),
    )
    buys = F.sum(F.when(F.col("s") > 0, 1).otherwise(0))
    sells = F.sum(F.when(F.col("s") < 0, 1).otherwise(0))
    zeros = F.sum(F.when(F.col("s") == 0, 1).otherwise(0))
    return signed.groupBy("event_type", "day").agg(
        buys.cast("bigint").alias("buy_ticks"),
        sells.cast("bigint").alias("sell_ticks"),
        zeros.cast("bigint").alias("zero_ticks"),
        dround(
            (buys - sells) / F.nullif(buys + sells, F.lit(0)).cast("double"),
            6,
        ).alias("imbalance"),
    )


_VAR_P = 0.05  # 95% one-day VaR


@register(
    "d62_var_backtest",
    oracle=f"""
    WITH ranked AS (
        SELECT event_type,
               DATE_TRUNC('day', ts) AS day, value,
               ROW_NUMBER() OVER (PARTITION BY event_type,
                                  DATE_TRUNC('day', ts)
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
    ), daily AS (
        SELECT event_type, day, value AS close
        FROM ranked WHERE rn = 1
    ), rets AS (
        SELECT event_type,
               CASE WHEN LAG(close) OVER (PARTITION BY event_type
                                          ORDER BY day) <> 0
                    THEN close / LAG(close) OVER (PARTITION BY event_type
                                                  ORDER BY day) - 1
               END AS r
        FROM daily
    ), scored AS (
        SELECT event_type, r,
               QUANTILE_CONT(r, {_VAR_P}) OVER (
                   PARTITION BY event_type
               ) AS var95
        FROM rets WHERE r IS NOT NULL
    ), agg AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_days,
               MAX(var95) AS var95,
               CAST(SUM(CASE WHEN r < var95 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_breaches
        FROM scored GROUP BY event_type
    )
    SELECT event_type, n_days,
           {sql_dround("var95", 6)} AS var_95,
           n_breaches,
           {sql_dround("n_breaches / CAST(n_days AS DOUBLE)", 6)}
               AS breach_rate,
           {sql_dround(
               f"-2 * ((n_days - n_breaches) * ln(1 - {_VAR_P})"
               f" + n_breaches * ln({_VAR_P})"
               f" - CASE WHEN n_breaches < n_days"
               f"        THEN (n_days - n_breaches)"
               f"             * ln(1 - n_breaches / CAST(n_days AS DOUBLE))"
               f"        ELSE 0 END"
               f" - CASE WHEN n_breaches > 0"
               f"        THEN n_breaches"
               f"             * ln(n_breaches / CAST(n_days AS DOUBLE))"
               f"        ELSE 0 END)", 6)} AS kupiec_lr
    FROM agg
    """,
)
def d62_var_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Historical-simulation VaR with a Kupiec unconditional-coverage
    backtest per series: the empirical 5th percentile of daily returns
    is the 95% one-day VaR; breaches (r < VaR) are counted and the
    Kupiec likelihood ratio −2·ln[L(p)/L(x/n)] scores whether the
    observed breach rate is consistent with the promised coverage —
    the regulatory (Basel traffic-light) model-validation primitive.
    In-sample by construction (the VaR is estimated on the window it
    is tested against); the operator shape is identical for a proper
    out-of-sample split.

    Shape: ticks collapse to daily closes first (d59's rank-1
    discipline), returns via one lag window, the exact windowed
    percentile runs over the O(series · days) collapsed frame, ONE
    aggregate folds breaches — the fact table is scanned once. The
    x = 0 and x = n Kupiec terms use the 0·ln(0) = 0 convention via
    CASE, written identically on both engines (DuckDB ln() errors on
    0 where a naive spelling would feed it)."""
    events = load_table(spark, sf_dir, "events")
    rnw = Window.partitionBy(
        "event_type", F.date_trunc("day", "ts")
    ).orderBy(F.desc("ts"), F.desc("event_id"))
    daily = (
        events.select(
            "event_type",
            F.date_trunc("day", "ts").alias("day"),
            "value",
            F.row_number().over(rnw).alias("rn"),
        )
        .filter(F.col("rn") == 1)
        .select("event_type", "day", F.col("value").alias("close"))
    )
    lw = Window.partitionBy("event_type").orderBy("day")
    # zero prior close -> undefined ratio return -> NULL, not a crash:
    # ANSI division threw DIVIDE_BY_ZERO on the adversarial fixture's
    # value=0 ticks (tools/gen_adversarial.py sweep); the CASE guard is
    # written identically in the oracle so both engines drop the row.
    prev = F.lag("close").over(lw)
    rets = daily.select(
        "event_type",
        F.when(prev != 0, F.col("close") / prev - 1).alias("r"),
    ).filter(F.col("r").isNotNull())
    vw = Window.partitionBy("event_type")
    scored = rets.select(
        "event_type",
        "r",
        F.percentile("r", F.lit(_VAR_P)).over(vw).alias("var95"),
    )
    agg = scored.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_days"),
        F.max("var95").alias("var95"),
        F.sum(F.when(F.col("r") < F.col("var95"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_breaches"),
    )
    n = F.col("n_days").cast("double")
    x = F.col("n_breaches").cast("double")
    lr = F.lit(-2.0) * (
        (n - x) * F.lit(math.log(1 - _VAR_P))
        + x * F.lit(math.log(_VAR_P))
        - F.when(
            F.col("n_breaches") < F.col("n_days"),
            (n - x) * F.log(1 - x / n),
        ).otherwise(F.lit(0.0))
        - F.when(
            F.col("n_breaches") > 0, x * F.log(x / n)
        ).otherwise(F.lit(0.0))
    )
    return agg.select(
        "event_type",
        "n_days",
        dround(F.col("var95"), 6).alias("var_95"),
        "n_breaches",
        dround(x / n, 6).alias("breach_rate"),
        dround(lr, 6).alias("kupiec_lr"),
    )

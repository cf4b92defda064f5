"""Round-7 securities-domain batch 9 (SURVEY.md §2.11): order-flow
sign autocorrelation — the persistence of tick-rule trade signs at
lags 1..5, the microstructure signature of order splitting.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from security_master_spark.datasets import load_table
from security_master_spark.functions.rounding import dround, sql_dround
from security_master_spark.plans.registry import register

#: sign-autocorrelation lags (ticks).
_SIGN_LAGS = (1, 2, 3, 5)


def _lag_cols_sql() -> str:
    return ",\n               ".join(
        f"LAG(s, {k}) OVER w AS s{k}" for k in _SIGN_LAGS
    )


@register(
    "d89_sign_autocorrelation",
    oracle=f"""
    WITH signed AS (
        SELECT event_type, ts, event_id,
               SIGN(value - LAG(value) OVER (
                   PARTITION BY event_type
                   ORDER BY ts, event_id)) AS s
        FROM events
    ), nz AS (
        SELECT event_type, ts, event_id, s FROM signed WHERE s <> 0
    ), lagged AS (
        SELECT event_type, s,
               {_lag_cols_sql()}
        FROM nz
        WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_ticks,
           {", ".join(
        sql_dround(f"CORR(s, s{k})", 6) + f" AS rho_{k}"
        for k in _SIGN_LAGS
    )}
    FROM lagged
    GROUP BY event_type
    """,
)
def d89_sign_autocorrelation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Order-flow persistence: autocorrelation of tick-rule trade
    signs at lags 1/2/3/5 per series — the slow-decaying positive
    sign autocorrelation that large-order splitting leaves in every
    real market (LeBaron/Bouchaud's "long memory of order flow");
    d61 reports the sign IMBALANCE, d32 the RETURN autocorrelation —
    this is the flow-direction memory between them. Zero-signs
    (unchanged price) are dropped before lagging, matching the
    standard convention.

    Shape: the tick-rule sign and all four sign lags share ONE
    per-series (ts, event_id) sort — Spark fuses the five window
    expressions into a single WindowExec pass — then one
    map-side-combined groupBy of CORR partials. CORR on ±1 series is
    exact integer sums inside the moments, so cross-engine agreement
    is limited only by the final division, rounded at 6dp."""
    events = load_table(spark, sf_dir, "events")
    wtick = Window.partitionBy("event_type").orderBy("ts", "event_id")
    signed = events.select(
        "event_type",
        "ts",
        "event_id",
        F.signum(
            F.col("value") - F.lag("value").over(wtick)
        ).alias("s"),
    ).filter(F.col("s") != 0)
    lag_cols = [
        F.lag("s", k).over(wtick).alias(f"s{k}") for k in _SIGN_LAGS
    ]
    lagged = signed.select("event_type", "s", *lag_cols)
    return lagged.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_ticks"),
        *[
            dround(F.corr("s", f"s{k}"), 6).alias(f"rho_{k}")
            for k in _SIGN_LAGS
        ],
    )

"""Time-series operators for the securities-master surface
(SURVEY.md §2.11): forward-fill, OHLC bars, returns, rolling stats,
cumulative adjustment factors, SCD latest-record.

All are window/groupBy compositions — single shuffle on the series
key, sequential scan within each ordered partition. At 100 TB the
partition key (instrument/user id) is the distribution unit; a single
key's history must fit an executor's working set for ordered-window
ops, which holds for any realistic per-instrument series. Skewed keys
are handled by AQE; there is no driver-side state.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _series_window(keys: Sequence[str], ts: str) -> Window:
    return Window.partitionBy(*keys).orderBy(ts)


def forward_fill(
    df: DataFrame, keys: Sequence[str], ts: str, cols: Sequence[str]
) -> DataFrame:
    """Carry the last non-null observation forward within each key's
    timeline (quote carry-forward). ``last(ignorenulls)`` over an
    unbounded-preceding running frame."""
    w = _series_window(keys, ts).rowsBetween(Window.unboundedPreceding, 0)
    out = df
    for c in cols:
        out = out.withColumn(c, F.last(c, ignorenulls=True).over(w))
    return out


def pct_change(
    df: DataFrame, keys: Sequence[str], ts: str, col: str, out_col: str = "pct_change"
) -> DataFrame:
    """Per-key period-over-period relative change (simple returns).
    try_divide: a zero prior value yields NULL instead of aborting under
    ANSI mode — zero closes occur in the data from sf0.1 up (same fix
    as the plans/domain.py return computations)."""
    w = _series_window(keys, ts)
    prev = F.lag(col).over(w)
    return df.withColumn(out_col, F.try_divide(F.col(col) - prev, prev))


def rolling_stats(
    df: DataFrame,
    keys: Sequence[str],
    ts: str,
    col: str,
    window_rows: int,
    prefix: str = "roll",
) -> DataFrame:
    """Trailing moving average / stddev / min / max over the previous
    ``window_rows`` rows (inclusive of current)."""
    w = _series_window(keys, ts).rowsBetween(-(window_rows - 1), 0)
    return (
        df.withColumn(f"{prefix}_avg", F.avg(col).over(w))
        .withColumn(f"{prefix}_std", F.stddev_samp(col).over(w))
        .withColumn(f"{prefix}_min", F.min(col).over(w))
        .withColumn(f"{prefix}_max", F.max(col).over(w))
    )


def cumulative_product(
    df: DataFrame, keys: Sequence[str], ts: str, col: str, out_col: str
) -> DataFrame:
    """Running product of ``col`` per key in time order — the
    corporate-action back-adjustment factor (product of split/dividend
    ratios). Expressed as ``exp(sum(ln(x)))`` over a running frame so it
    stays a built-in windowed agg (no UDF); requires ``col > 0``, which
    adjustment factors are by definition."""
    w = _series_window(keys, ts).rowsBetween(Window.unboundedPreceding, 0)
    return df.withColumn(out_col, F.exp(F.sum(F.log(col)).over(w)))


def ohlc(
    df: DataFrame,
    keys: Sequence[str],
    ts: str,
    price: str,
    every: str = "day",
    tiebreak: str | None = None,
) -> DataFrame:
    """Open/high/low/close bars per key per calendar bucket. Open/close
    via min_by/max_by on the timestamp (single pass, no self-join).

    ``tiebreak``: optional column appended to the open/close ordering
    key (structs compare lexicographically in min_by/max_by). Without
    it, duplicate (key, ts) rows make open/close engine-arbitrary —
    pass the row id when the feed can carry same-instant prints."""
    order = F.struct(ts, tiebreak) if tiebreak else F.col(ts)
    bucket = F.date_trunc(every, F.col(ts)).alias("bucket")
    return df.groupBy(*keys, bucket).agg(
        F.min_by(price, order).alias("open"),
        F.max(price).alias("high"),
        F.min(price).alias("low"),
        F.max_by(price, order).alias("close"),
        F.count("*").alias("n_obs"),
    )


def latest_per_key(
    df: DataFrame, keys: Sequence[str], order: Sequence[Column]
) -> DataFrame:
    """SCD 'current record': the single newest row per key under a
    total order (pass tiebreaker columns to make it deterministic)."""
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )

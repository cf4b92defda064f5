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

from security_master_spark.operators.asof import (
    DEFAULT_MAX_CARRY_ROWS,
    asof_carry_bucketed,
)


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


def forward_fill_bucketed(
    df: DataFrame,
    keys: Sequence[str],
    ts: str,
    cols: Sequence[str],
    bucket_width: int,
    max_carry_rows: int | None = DEFAULT_MAX_CARRY_ROWS,
) -> DataFrame:
    """Skew-proof, JVM-side forward fill — the third spelling of the
    carry-forward family, chosen by regime:

    - :func:`forward_fill` (above): the portable window form — one
      ordered WindowExec task per key; right whenever every key's
      history fits an executor.
    - ``operators/scan.py:forward_fill_distributed``: the segmented
      scan — parallel within a monster key, but mapInPandas (Python
      workers) with a driver-side fold of chunk summaries.
    - THIS: operators/asof.py:asof_carry_bucketed with every input
      row as both anchor and probe — parallel in O(keys × buckets)
      tasks, no per-key serial pass over O(rows), no Python workers,
      no driver state. A probe's own row is an anchor at the same
      timestamp and anchors win ties, so each row fills to its OWN
      value when non-null, else the last earlier non-null — exactly
      the ``last(ignorenulls)`` running window, per column. Measured
      at the 6M-tick corpus (PLANS.md round-11 ffill study): 1.61×
      vs the window form at 96% key skew and faster than the
      segmented scan on BOTH shapes; 0.84× on balanced keys, where
      the window form stays the right default.

    Contracts (inherited from the carry): ``ts`` is exact-integer
    (µs — convert timestamps with ``unix_micros`` first) and
    non-null, and (keys, ``ts``) is UNIQUE — the window form's output
    under equal-ts ties is intra-ts-order-dependent anyway, so the
    unique-ts contract is where all three spellings agree. NULL keys
    are first-class groups. Column order of ``df`` is preserved.

    Choosing ``bucket_width``: every row is a probe here, so the
    carry's cross-bucket table holds one row per distinct (key,
    ``floor(ts / bucket_width)``) — force-broadcast, ≈ n_keys ×
    span/bucket_width rows. Two constraints bound the width from both
    sides: (a) broadcastability — keep n_keys × span/bucket_width
    under the carry's ``max_carry_rows`` bound (defaults to
    asof_carry_bucketed's
    :data:`~security_master_spark.operators.asof.DEFAULT_MAX_CARRY_ROWS`,
    whose in-plan guard aborts the first action instead of building
    an OOM-class broadcast; pass ``None`` to disable); (b)
    parallelism — at least
    ~``defaultParallelism``
    (key, bucket) cells so the within-bucket stage fills the cluster.
    Constraint (a) bounds the width from BELOW —
    ``bucket_width ≥ 2 * n_keys * span / max_carry_rows`` (the 2× is
    headroom; each halving of the width doubles the carry rows) —
    and (b) from above: ``bucket_width ≤ n_keys * span /
    cluster_parallelism``. Any width between the two works; with few
    keys start at ``span / defaultParallelism`` (the round-11
    measured configurations used span/32-ish widths), with many keys
    start at the lower bound. (The round-12 review caught the
    previous formula here inverting constraint (a) — it divided span
    by the MINIMUM-width term, recommending widths ~bound× too
    narrow.) A width a few × the median per-key observation gap
    stops mattering: past that, within-bucket windows dominate and
    the cross-bucket carry is noise.
    """
    out = asof_carry_bucketed(
        df.drop(*cols),
        df.select(*keys, ts, *cols),
        keys,
        ts,
        list(cols),
        bucket_width,
        max_carry_rows=max_carry_rows,
    )
    return out.select(*df.columns)


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

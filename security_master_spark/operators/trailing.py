"""Trailing-interval aggregation in O(n) (SURVEY.md §2.5).

Spark's ``RANGE BETWEEN INTERVAL x PRECEDING AND CURRENT ROW`` frame
re-aggregates the in-frame buffer for every row (SlidingWindowFrame
has no incremental evict for general aggregates), so a trailing
window costs O(rows × rows-per-frame) per partition. That quadratic
is invisible on sparse fixtures and brutal on dense ones: measured on
the 6M-tick stress corpus (10× the ticks of sf0.1 in the same 90
days, so 10× rows AND 10× frame density), the plain-RANGE spelling
(w10) went 2.4 s → 454 s (≈190×) and even the halo-parallel rewrite
(w11's round-7 form) went 0.9 s → 136 s — parallelism can spread the
O(n·k) work but not remove it.

For INVERTIBLE aggregates (COUNT, SUM — anything with a subtraction)
the trailing frame is a difference of two prefix reads:

    agg(t − L ≤ ts' ≤ t)  =  cum(t) − cum(t − L − ε)

so the whole thing is: one running-total window (RANGE UNBOUNDED
PRECEDING — incrementally evaluated, O(n)), one as-of lookup of the
boundary prefix (the classic union-and-carry merge, one more O(n)
window pass), one join back by row id. Three shuffles of O(n) rows,
zero quadratic terms, and exact integer units keep the subtraction
bit-exact at any scale (a float prefix over 10¹² rows then a
subtraction is catastrophic cancellation; integer cents are not).

Non-invertible trailing aggregates (MAX/MIN over a sliding interval)
cannot difference prefixes — for those the halo-bucket rewrite
(duplicate each row into its successor bucket, window per bucket,
emit home rows) remains the right tool.

Parallelism note: both window passes are key-partitioned — one task
per key value, which serializes under a dominant key. This portable
form is the only spelling. A distributed variant (range-partitioned
prefix sums plus a time-bucketed boundary carry) measured 0.60× on
balanced keys and 1.77× only when one key held most rows; no
registered query serves such a corpus (PLANS.md, "Trailing-interval
carry study").
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def trailing_interval_sum(
    df: DataFrame,
    keys: Sequence[str],
    ts_us: str,
    lookback_us: int,
    units: Column,
    row_id: str,
    out_n: str = "n_trailing",
    out_units: str = "units_trailing",
) -> DataFrame:
    """Per row: COUNT(*) and SUM(units) over the trailing closed
    interval ``[ts − lookback_us, ts]`` within the row's key group,
    with RANGE tie semantics (equal timestamps are peers — every
    row at the same ``ts_us`` reports the identical frame).

    ``row_id`` must be NON-NULL and UNIQUE per input row (same class
    of contract as the exact-integer ``units`` rule below): the final
    re-attach is an inner equi-join on ``row_id``, so a NULL id never
    matches its boundary probe (the row silently vanishes) and a
    duplicate id fans out rows. Synthesize one first if the frame has
    none — ``monotonically_increasing_id()`` satisfies both halves
    without a shuffle.

    ``units`` must be an exact-integer Column (scaled money, counts):
    prefix sums and their differences then carry no float error.
    SUM semantics are preserved exactly: a frame whose ``units`` are
    all NULL yields NULL, not 0 (tracked with a non-null prefix
    count, so the subtraction can't manufacture a zero).

    Returns ``df``'s ``row_id`` plus ``out_n`` (long) and
    ``out_units`` (long, NULL when the frame has no non-null units).
    """
    keys = list(keys)
    base = df.select(
        row_id, *keys, F.col(ts_us).alias("_us"), units.alias("_u")
    )
    w_cum = (
        Window.partitionBy(*keys)
        .orderBy("_us")
        .rangeBetween(Window.unboundedPreceding, 0)
    )
    cur = base.select(
        row_id,
        *keys,
        "_us",
        F.count("*").over(w_cum).alias("_cn"),
        F.sum("_u").over(w_cum).alias("_cu"),
        F.count("_u").over(w_cum).alias("_cnn"),
    )
    # Peers share the RANGE prefix, so one anchor per (key, ts) is
    # the whole lookup table; max() == any peer's value by
    # construction.
    anchors = cur.groupBy(*keys, "_us").agg(
        F.max("_cn").alias("_an"),
        F.max("_cu").alias("_au"),
        F.max("_cnn").alias("_ann"),
    )
    # As-of merge via union-and-carry: anchors and probes interleave on
    # the time axis; carrying the last non-null anchor prefix forward
    # gives every probe the prefix at the greatest anchor ts ≤ probe t.
    # The probe time is boundary − 1 µs because the frame's left edge
    # is INCLUSIVE (ts' ≥ t − L stays in the frame, so only strictly
    # older rows are subtracted); anchors sort before probes on ties
    # (is_a DESC) so an anchor exactly at the probe t is included.
    # Probes come from `base`, not `cur`: they only need (id, key, ts),
    # and deriving them pre-window keeps the cum WindowExec out of
    # this subtree. The cum window still evaluates twice (anchors +
    # final join; the executed plan shows no ReusedExchange across the
    # two subtrees) — a 2× constant on an O(n) pass, measured fine at
    # 10× density.
    probes = base.select(
        F.col(row_id).alias("_rid"),
        *keys,
        (F.col("_us") - F.lit(lookback_us + 1)).alias("_t"),
        F.lit(0).alias("_is_a"),
        F.lit(None).cast("long").alias("_an"),
        F.lit(None).cast("long").alias("_au"),
        F.lit(None).cast("long").alias("_ann"),
    )
    a_t = anchors.select(
        F.lit(None).cast(cur.schema[row_id].dataType).alias("_rid"),
        *keys,
        F.col("_us").alias("_t"),
        F.lit(1).alias("_is_a"),
        "_an",
        "_au",
        "_ann",
    )
    w_carry = (
        Window.partitionBy(*keys)
        .orderBy(F.col("_t").asc(), F.col("_is_a").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    bnd = (
        a_t.unionByName(probes)
        .select(
            "_rid",
            "_is_a",
            F.last("_an", ignorenulls=True).over(w_carry).alias("_bn"),
            F.last("_au", ignorenulls=True).over(w_carry).alias("_bu"),
            F.last("_ann", ignorenulls=True).over(w_carry).alias("_bnn"),
        )
        .filter(F.col("_is_a") == 0)
        .select("_rid", "_bn", "_bu", "_bnn")
    )
    out = cur.join(bnd, cur[row_id] == bnd["_rid"], "inner")
    nn_frame = F.col("_cnn") - F.coalesce(F.col("_bnn"), F.lit(0))
    return out.select(
        row_id,
        *keys,
        (F.col("_cn") - F.coalesce(F.col("_bn"), F.lit(0))).alias(out_n),
        F.when(
            nn_frame > 0,
            F.col("_cu") - F.coalesce(F.col("_bu"), F.lit(0)),
        ).alias(out_units),
    )

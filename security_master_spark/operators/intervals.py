"""Interval / validity-range join (SURVEY.md §2.3): attach the
dimension row whose validity window contains the fact timestamp —
symbol-change / point-in-time mapping tables.

OSS Spark plans a pure range predicate as a broadcast-nested-loop
join; adding the equi-key keeps it a hash join with a residual range
filter, which is the scalable form. For range-only joins at scale,
``interval_join_bucketed`` discretizes time so the join regains an
equi-key.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def interval_join(
    fact: DataFrame,
    dim: DataFrame,
    on: Sequence[str],
    ts: str,
    valid_from: str,
    valid_to: str,
    how: str = "inner",
    end_exclusive: bool = True,
) -> DataFrame:
    """Join ``fact`` rows to the ``dim`` row valid at ``fact[ts]``:
    ``valid_from <= ts < valid_to`` (or ``<=`` when ``end_exclusive``
    is False). With non-overlapping validity windows per key (the SCD2
    contract) each fact row matches at most one dim row."""
    upper = (
        F.col(ts) < F.col(valid_to)
        if end_exclusive
        else F.col(ts) <= F.col(valid_to)
    )
    in_range = (F.col(valid_from) <= F.col(ts)) & upper
    if how == "inner":
        # Equi-key via `on=` so Catalyst plans a hash join; the range
        # predicate stays a residual filter on the join output.
        return fact.join(dim, on=list(on), how="inner").filter(in_range)
    if how == "left":
        # Range condition must live inside the join for outer semantics.
        cond = in_range
        for k in on:
            cond = cond & (fact[k] == dim[k])
        # Drop the dim-side key columns so both `how` modes return the
        # same shape — with a condition join both sides' keys survive
        # under identical names and any downstream reference would hit
        # AMBIGUOUS_REFERENCE.
        out = fact.join(dim, cond, "left")
        for k in on:
            out = out.drop(dim[k])
        return out
    raise ValueError(f"how must be inner|left, got {how}")


def interval_join_bucketed(
    fact: DataFrame,
    dim: DataFrame,
    ts: str,
    valid_from: str,
    valid_to: str,
    bucket_seconds: int = 30 * 86400,
) -> DataFrame:
    """Range-only interval join at scale: explode each dim interval into
    the time buckets it overlaps, join on the bucket id (equi-key →
    hash join), then apply the exact range residual. Shuffle volume is
    O(facts + dim·buckets_per_interval) instead of a nested loop."""
    if bucket_seconds <= 0:
        raise ValueError(
            f"bucket_seconds must be positive, got {bucket_seconds}"
        )
    sec = F.lit(float(bucket_seconds))

    def bucket_of(col: str) -> Column:
        return F.floor(F.col(col).cast("double") / sec)

    b_fact = fact.withColumn("__b", bucket_of(ts))
    b_dim = dim.withColumn(
        "__b",
        F.explode(F.sequence(bucket_of(valid_from), bucket_of(valid_to))),
    )
    out = b_fact.join(b_dim, on="__b", how="inner").filter(
        (F.col(valid_from) <= F.col(ts)) & (F.col(ts) < F.col(valid_to))
    )
    return out.drop("__b")


def near_duplicate_pairs(
    df: DataFrame,
    keys: Sequence[str],
    id_col: str,
    ts_us: str,
    window_us: int,
    max_per_cell: int | None = None,
) -> DataFrame:
    """Pairs of DISTINCT rows sharing ``keys`` whose timestamps lie
    within ``window_us`` of each other — the dq15 near-time duplicate
    screen (plans/dataquality.py) as a library operator, plus the
    density cap that bounds its one documented scale hazard.

    Shape (the d2 interval-join algebra): rows bucket by
    ``floor(ts / window_us)`` (exact integer ``div`` — correct for
    all longs); the probe side carries each row under its own bucket
    AND the next, so every qualifying
    pair co-locates in at least one bucket and the join is a pure
    EQUI-join on (keys, bucket) with the |Δt| predicate as a filter.
    LEAST/GREATEST + DISTINCT collapses the orientations a pair can
    surface under. NULL key values never pair (name-list equi-join =
    SQL equality semantics), matching the registered dq15 form and
    its oracle — this operator inherits that contract deliberately,
    unlike the window-family operators whose NULL keys are groups.

    ``max_per_cell`` — the cap that turns dq15's "per-bucket blowup
    is bounded by per-(key, window) density" DOCUMENTATION into a
    bound: each (keys, own-bucket) cell keeps only its first
    ``max_per_cell`` rows by (ts, id); both join sides derive from
    the SAME capped frame, so the screen is EXACT over the kept rows
    and bit-identical to the uncapped form whenever no cell
    overflows (pinned by test). An overflowing cell under-counts
    only pairs involving its dropped rows, and is never silent —
    :func:`near_duplicate_cell_overflow` reports every such cell
    (the dq7 rate-spike monitoring pattern as an API). Per-cell join
    work drops from O(m²) to O(cap²); the cap ranking itself is one
    linear pass per cell, parallel across cells.

    Returns ``*keys, id_lo, id_hi, gap_us`` (one row per unordered
    pair). NOT registered — dq15 keeps the certified uncapped form
    (the a23/w10 sibling precedent); equality of the aggregated
    outputs is pinned in tests/test_near_duplicate_capped.py.
    """
    if window_us <= 0:
        raise ValueError(f"window_us must be positive, got {window_us}")
    if max_per_cell is not None and max_per_cell < 1:
        raise ValueError(
            f"max_per_cell must be ≥ 1, got {max_per_cell}"
        )
    keys = list(keys)
    reserved = {"__bkt", "__rn", "__id_b", "__us_b"}
    bad = sorted({*keys, id_col, ts_us} & reserved)
    if bad:
        raise ValueError(
            f"near_duplicate_pairs: columns collide with internal "
            f"scratch names: {bad} — rename them before calling"
        )
    # OUTPUT names too (round-13 ADVICE, low): the result is
    # ``*keys, id_lo, id_hi, gap_us`` — a key under one of those
    # names would yield duplicate/ambiguous output columns, silently
    # downstream; same loud-failure contract as the scratch set
    bad_out = sorted(set(keys) & {"id_lo", "id_hi", "gap_us"})
    if bad_out:
        raise ValueError(
            f"near_duplicate_pairs: key columns collide with output "
            f"columns: {bad_out} — rename them before calling"
        )
    w = int(window_us)
    bkt = F.expr(f"(`{ts_us}` - pmod(`{ts_us}`, {w})) div {w}")
    base = df.select(
        *keys, F.col(id_col), F.col(ts_us), bkt.alias("__bkt")
    )
    if max_per_cell is not None:
        from pyspark.sql import Window

        cell = Window.partitionBy(*keys, "__bkt").orderBy(
            F.col(ts_us), F.col(id_col)
        )
        base = (
            base.withColumn("__rn", F.row_number().over(cell))
            .filter(F.col("__rn") <= max_per_cell)
            .drop("__rn")
        )
    left = base
    right = base.select(
        *keys,
        F.col(id_col).alias("__id_b"),
        F.col(ts_us).alias("__us_b"),
        F.explode(
            F.array(F.col("__bkt"), F.col("__bkt") + 1)
        ).alias("__bkt"),
    )
    return (
        left.join(right, [*keys, "__bkt"])
        .filter(
            (F.col(id_col) != F.col("__id_b"))
            & (F.abs(F.col(ts_us) - F.col("__us_b")) <= F.lit(w))
        )
        .select(
            *keys,
            F.least(id_col, "__id_b").alias("id_lo"),
            F.greatest(id_col, "__id_b").alias("id_hi"),
            F.abs(F.col(ts_us) - F.col("__us_b")).alias("gap_us"),
        )
        .distinct()
    )


def near_duplicate_cell_overflow(
    df: DataFrame,
    keys: Sequence[str],
    ts_us: str,
    window_us: int,
    max_per_cell: int,
) -> DataFrame:
    """The monitoring half of :func:`near_duplicate_pairs`'s cap:
    every (keys, bucket) cell holding MORE than ``max_per_cell`` rows
    — exactly the cells whose pairs the capped screen under-counts —
    with its size. Empty result ⇒ the capped screen was exact. One
    map-side-combined aggregate; columns ``*keys, bucket, n_rows``.
    """
    if window_us <= 0:
        raise ValueError(f"window_us must be positive, got {window_us}")
    if max_per_cell < 1:
        raise ValueError(f"max_per_cell must be ≥ 1, got {max_per_cell}")
    # output-name collision guard (round-13 ADVICE, low) — the result
    # is ``*keys, bucket, n_rows``
    bad_out = sorted(set(keys) & {"bucket", "n_rows"})
    if bad_out:
        raise ValueError(
            f"near_duplicate_cell_overflow: key columns collide with "
            f"output columns: {bad_out} — rename them before calling"
        )
    w = int(window_us)
    bkt = F.expr(f"(`{ts_us}` - pmod(`{ts_us}`, {w})) div {w}")
    return (
        df.select(*keys, bkt.alias("bucket"))
        .groupBy(*keys, "bucket")
        .agg(F.count("*").cast("bigint").alias("n_rows"))
        .filter(F.col("n_rows") > max_per_cell)
    )

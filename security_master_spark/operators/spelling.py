"""Skew-probe spelling selector for the distributed rank toolkit
(round-11 verdict order: "operationalize three rounds of measurement").

Rounds 9-11 measured the same signature across all seven members of
the toolkit (PLANS.md regime tables): the portable window/aggregate
forms win on balanced keys (the distributed forms pay a ~1.2-2×
constant overhead for exchanges + persists), while the distributed
forms win 1.4-9.2× under a dominant key — and their wall clock is
FLAT across skew, because cost becomes a function of data volume, not
key distribution. Every registered query keeps its portable form (the
round-9 freeze); the distributed spellings are opt-in. Until now the
opt-in decision required the caller to KNOW the key regime; this
module measures it.

Two pieces:

- :func:`skew_probe` — one partial-aggregated pass (optionally over a
  uniform row sample) that returns the observed distinct-key count
  and the top key's share of rows.
- :func:`recommend_spelling` — the measured decision table from
  PLANS.md rounds 10-11, reduced to a rule: operators whose
  distributed form won BOTH measured arms (the halo + distributed-rank
  family) always recommend "distributed" once per-key volume is the
  bottleneck; everything else recommends "distributed" only past a
  dominant-key share threshold, "window" otherwise.

The share threshold was a bracketing heuristic through round 12 (the
measured arms were 20% and 96%); rounds 13-14 closed the bracket with
intermediate arms at 50/60/70% dominant share for EVERY family
(PLANS.md, the two "mid-skew arms" sections; 6M-tick corpus,
interleaved minimums — round 13 measured carry+rank, round 14
cumsum/percentile/ffill):

- **carry/trailing family**: crossover is AT ~0.5 — parity (0.98×)
  at 50% share, distributed wins 1.20× at 60% and 1.41× at 70%. The
  0.5 default is now a measured crossover for this family.
- **percentile** (``distributed_percentile``): same shape — parity
  (1.05×) at 50%, 1.32× at 60%, 1.76× at 70%; 0.5 is a measured
  crossover.
- **cumsum** (``distributed_cumsum``): distributed already wins at
  50% share (1.28×, rising to 1.73× at 70%); the true crossover lies
  in (0.2, 0.5), and 0.5 stays as the conservative measured-win
  point (the window form is the safe answer in the unmeasured band).
- **rank family** (``distributed_row_number``): the window form
  still wins at 70% share (0.84×); the crossover lies in
  (0.70, 0.96) AT THIS CORPUS SIZE, so its per-operator default
  threshold is 0.85 (the bracket midpoint). Caveat: the crossover
  share falls as per-key volume grows — the window form's dominant
  key is ONE sort task (linear in rows), the distributed form is
  flat — so at much larger per-key volumes 0.85 is conservative;
  probe-and-measure when it matters.
- **ffill** (``forward_fill_bucketed``): 0.92/0.95/1.00× at
  50/60/70% — exact parity AT 0.70, so 0.70 is its measured
  crossover threshold (the carry family's parity-arm convention;
  the rank family differs in that its window form still WINS at
  0.70, which is what earns a bracket-midpoint threshold instead).

At a majority key the portable form's critical path grows with data
and no cluster size amortizes it, while the distributed forms' worst
measured overhead is a flat ~2× — hence thresholds, not bans.
Callers tuning a specific corpus should interleave both spellings
A/B/A/B and compare minimums (the repo's measurement discipline)
rather than trust the defaults.
"""

from __future__ import annotations

from collections.abc import Sequence
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from security_master_spark.operators.rolling import (
    DEFAULT_MAX_BROADCAST_ROWS,
)


@dataclass(frozen=True)
class SkewStats:
    """What :func:`skew_probe` observed. ``top_share`` is the top
    key's fraction of OBSERVED rows (0.0 on an empty frame); under
    uniform row sampling it is an unbiased estimate of the true share,
    and dominant keys — the only regime that flips the decision — are
    exactly the ones a small sample cannot miss."""

    n_rows: int
    n_keys: int
    top_share: float
    top_key: tuple | None
    sample_fraction: float | None


def skew_probe(
    df: DataFrame,
    keys: Sequence[str],
    sample_fraction: float | None = None,
    seed: int = 42,
) -> SkewStats:
    """Measure the key-skew regime of ``df`` grouped by ``keys``.

    One job: ``groupBy(keys).count()`` — map-side partial aggregation
    makes the shuffle O(distinct keys × map partitions), never O(rows)
    — collapsed to a single driver row (key count, row count, top
    key + its count via ``max_by``). NULL keys are first-class groups,
    matching the window semantics the decision is about.

    ``sample_fraction`` bounds the map-side scan for probe-only use at
    scale (at 100 TB, ~0.01 reads one row in a hundred and still
    pins a 96%-dominant key's share to within a fraction of a
    percent); ``None`` scans the full frame. The probe is read-only
    and deterministic for a given seed.
    """
    bad = sorted(set(keys) & {"_kc", "_nk", "_nr", "_top", "_topk"})
    if bad:
        raise ValueError(
            f"skew_probe: key columns collide with internal scratch "
            f"columns: {bad} — rename them before probing (the "
            f"toolkit-wide guard convention)"
        )
    s = (
        df.sample(fraction=sample_fraction, seed=seed)
        if sample_fraction is not None
        else df
    )
    key_cols = [F.col(k) for k in keys]
    row = (
        s.groupBy(*key_cols)
        .agg(F.count("*").alias("_kc"))
        .agg(
            F.count("*").alias("_nk"),
            F.sum("_kc").alias("_nr"),
            F.max("_kc").alias("_top"),
            F.max_by(F.struct(*key_cols), F.col("_kc")).alias("_topk"),
        )
        .first()
    )
    n_rows = int(row["_nr"] or 0)
    if n_rows == 0:
        return SkewStats(0, 0, 0.0, None, sample_fraction)
    return SkewStats(
        n_rows=n_rows,
        n_keys=int(row["_nk"]),
        top_share=float(row["_top"]) / float(n_rows),
        top_key=tuple(row["_topk"]),
        sample_fraction=sample_fraction,
    )


#: Measured speedups of each distributed spelling vs its portable
#: window/aggregate form — minimums over interleaved batteries at the
#: 6M-tick stress corpora (PLANS.md rounds 10-13; "balanced" = 5 even
#: keys (20% top share), "mid" = measured intermediate dominant-key
#: shares (PLANS.md "Mid-skew arms"), "dominant" = one key
#: owns 96% of rows; distributed_row_number's balanced/dominant arms
#: were measured at sf0.1 and a 10×-dominant-segment corpus, its mid
#: cells on the 6M-tick corpus; distributed_cumsum's
#: balanced/dominant cells are the round-12 isolation study). A
#: balanced ratio ≥ 1 means the distributed form won BOTH arms and is
#: the default once per-key volume is the bottleneck. ``threshold``
#: is the operator's recommend-distributed share:
#: measured-crossover 0.5 for the carry/trailing and percentile
#: families (and the conservative measured-win point for cumsum,
#: whose crossover lies below it), measured-crossover 0.7 for ffill
#: (exact parity at its 70% arm), 0.85 (the (0.70, 0.96) bracket
#: midpoint) for the rank family whose window form still WINS at
#: 70%, ``None`` for the always-distributed halo family. Every mid
#: cell is measured — the round-13 "family proxy" placeholders are
#: gone (round-14 run).
DECISION_TABLE: dict[str, dict] = {
    "rolling_rows_agg": {
        "balanced": 2.03, "dominant": 7.77, "threshold": None,
    },
    "rolling_distinct_count": {
        "balanced": 2.03, "dominant": 7.77, "threshold": None,
    },
    "distributed_row_number": {
        "balanced": 0.57,
        "mid": {0.5: 0.64, 0.6: 0.82, 0.7: 0.84},
        "dominant": 1.41,
        "threshold": 0.85,
    },
    "distributed_cumsum": {
        "balanced": 0.93,
        "mid": {0.5: 1.28, 0.6: 1.62, 0.7: 1.73},
        "dominant": 3.64,
        # distributed already wins AT 0.5 (1.28×); the crossover lies
        # in (0.2, 0.5) — 0.5 kept as the conservative measured-win
        # point (below it is unmeasured; the window form is safe there)
        "threshold": 0.5,
    },
    "distributed_percentile": {
        "balanced": 0.86,
        "mid": {0.5: 1.05, 0.6: 1.32, 0.7: 1.76},
        "dominant": 2.58,
        # parity (1.05×) at 50% share — 0.5 is a measured crossover
        "threshold": 0.5,
    },
    "trailing_distributed_prefix": {
        "balanced": 0.60,
        "mid": {0.5: 0.98, 0.6: 1.20, 0.7: 1.41},
        "dominant": 1.77,
        "threshold": 0.5,
    },
    "asof_carry_bucketed": {
        # the carry IS the trailing path's second stage — shares its
        # measurement, mid arms included
        "balanced": 0.60,
        "mid": {0.5: 0.98, 0.6: 1.20, 0.7: 1.41},
        "dominant": 1.77,
        "threshold": 0.5,
    },
    "forward_fill_bucketed": {
        "balanced": 0.84,
        "mid": {0.5: 0.92, 0.6: 0.95, 0.7: 1.00},
        "dominant": 1.61,
        # exact parity (1.00×) AT 70% share — the measured crossover,
        # same convention as the carry family's parity-arm threshold
        # (0.98× at 0.5 → threshold 0.5); distributed wins 1.61× at
        # the 96% arm
        "threshold": 0.7,
    },
}


#: Headroom the cardinality override adds on top of the observed key
#: count: the guarded offsets scratch table holds ≈ n_keys + n_ranges
#: rows (each key spanning a range boundary adds one row), and
#: ``n_ranges`` defaults to the cluster's defaultParallelism inside
#: the operators — unknowable here. 4096 covers any sane parallelism
#: (32-core local → 32; a 1000-executor cluster → low thousands)
#: while moving the decision only inside the boundary band where
#: "window" is the safe answer anyway (round-13 ADVICE: without
#: headroom the selector recommended a spelling that aborts at its
#: first action for n_keys within n_ranges of the bound).
DEFAULT_EXPECTED_N_RANGES = 4096


def recommend_spelling(
    operator: str,
    stats: SkewStats,
    dominant_share: float | None = None,
    max_broadcast_rows: int | None = DEFAULT_MAX_BROADCAST_ROWS,
    expected_n_ranges: int = DEFAULT_EXPECTED_N_RANGES,
) -> str:
    """Return ``"distributed"`` or ``"window"`` for ``operator`` given
    a :func:`skew_probe` result, from the measured decision table.

    Rule: operators whose distributed spelling won the BALANCED arm
    too (the halo + distributed-rank family — ratios ≥ 1 in
    :data:`DECISION_TABLE`) recommend "distributed" for any non-empty
    frame; the rest recommend "distributed" only when the top key's
    observed share reaches the operator's MEASURED threshold from the
    table (carry/trailing family 0.5 — the round-13 mid-skew arms put
    the crossover there; rank family 0.85 — still window-faster at
    the measured 0.7 arm), else "window" — the portable form is both
    faster there and the hash-certified registered spelling.
    ``dominant_share`` overrides the per-operator threshold when not
    ``None`` (e.g. from a caller's own A/B on their corpus).
    Empty frames recommend "window" (nothing to parallelize).

    Cardinality override (round 12): every distributed spelling
    force-broadcasts a per-key-group scratch table bounded by the
    fused guard (``max_broadcast_rows`` here mirrors the operators'
    knob, carry included — ≥1 bucket per key, so key count is a lower
    bound on carry cells), so a probe observing more key groups than
    the bound minus ``expected_n_ranges`` recommends "window"
    outright: the distributed form would abort at its first action,
    and at that key cardinality the portable form has ample per-key
    parallelism anyway. The headroom term exists because the guarded
    scratch table holds ≈ n_keys + n_ranges rows, not n_keys (each
    key spanning a range boundary adds one row) — see
    :data:`DEFAULT_EXPECTED_N_RANGES`; pass the operator call's
    actual ``n_ranges`` for an exact boundary. Note the
    asymmetry under sampling: a sampled probe UNDERESTIMATES distinct
    keys (a share it cannot miss, a long tail it can), so probe
    unsampled when the cardinality override is the decision that
    matters — the operators' own guard still fails loudly either way.
    ``None`` disables the override (matching a caller who disables
    the operators' guard).
    """
    try:
        row = DECISION_TABLE[operator]
    except KeyError:
        raise ValueError(
            f"unknown operator {operator!r}; known: "
            f"{sorted(DECISION_TABLE)}"
        ) from None
    if stats.n_rows == 0:
        return "window"
    if (
        max_broadcast_rows is not None
        and stats.n_keys + expected_n_ranges > max_broadcast_rows
    ):
        return "window"
    balanced = row["balanced"]
    if balanced is not None and balanced >= 1.0:
        return "distributed"
    threshold = (
        dominant_share if dominant_share is not None
        else (row.get("threshold") or 0.5)
    )
    return "distributed" if stats.top_share >= threshold else "window"

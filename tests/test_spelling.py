"""Skew-probe spelling selector (round-11 verdict order #3): the
probe measures the key regime in one partial-aggregated pass, and the
selector applies the PLANS.md rounds-10-11 decision table — window
form on balanced keys, distributed spelling under a dominant key,
distributed always for the halo+rank family that won both arms."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from security_master_spark.operators.spelling import (
    DECISION_TABLE,
    SkewStats,
    recommend_spelling,
    skew_probe,
)


def _skewed(spark, n=1000, share=0.96):
    hot = int(n * share)
    pdf = pd.DataFrame(
        {
            "k": ["hot"] * hot + [f"k{i % 4}" for i in range(n - hot)],
            "v": range(n),
        }
    )
    return spark.createDataFrame(pdf)


def _balanced(spark, n=1000, keys=5):
    pdf = pd.DataFrame(
        {"k": [f"k{i % keys}" for i in range(n)], "v": range(n)}
    )
    return spark.createDataFrame(pdf)


def test_probe_measures_dominant_key(spark):
    s = skew_probe(_skewed(spark), ["k"])
    assert s.n_rows == 1000
    assert s.n_keys == 5
    assert s.top_key == ("hot",)
    assert s.top_share == pytest.approx(0.96)


def test_probe_measures_balanced_keys(spark):
    s = skew_probe(_balanced(spark), ["k"])
    assert s.n_rows == 1000
    assert s.n_keys == 5
    assert s.top_share == pytest.approx(0.2)


def test_probe_null_keys_are_first_class(spark):
    pdf = pd.DataFrame({"k": [None] * 9 + ["a"], "v": range(10)})
    s = skew_probe(spark.createDataFrame(pdf), ["k"])
    assert s.n_keys == 2
    assert s.top_key == (None,)
    assert s.top_share == pytest.approx(0.9)


def test_probe_composite_keys(spark):
    pdf = pd.DataFrame(
        {"k1": ["a", "a", "b"], "k2": [1, 1, 2], "v": [0, 1, 2]}
    )
    s = skew_probe(spark.createDataFrame(pdf), ["k1", "k2"])
    assert s.n_keys == 2
    assert s.top_key == ("a", 1)


def test_probe_sampled_pins_dominant_share(spark):
    s = skew_probe(
        _skewed(spark, n=20_000), ["k"], sample_fraction=0.2, seed=7
    )
    assert s.sample_fraction == 0.2
    assert 0 < s.n_rows < 20_000
    assert s.top_key == ("hot",)
    # a dominant key cannot hide from a uniform row sample
    assert s.top_share > 0.9


def test_probe_empty_frame(spark):
    df = _balanced(spark).filter(F.lit(False))
    s = skew_probe(df, ["k"])
    assert s == SkewStats(0, 0, 0.0, None, None)


def test_recommend_dominant_key_flips_to_distributed():
    dominant = SkewStats(1000, 5, 0.96, ("hot",), None)
    balanced = SkewStats(1000, 5, 0.2, ("k0",), None)
    for op in (
        "distributed_row_number",
        "distributed_percentile",
        "trailing_distributed_prefix",
        "asof_carry_bucketed",
        "forward_fill_bucketed",
        "distributed_cumsum",
    ):
        assert recommend_spelling(op, dominant) == "distributed", op
        assert recommend_spelling(op, balanced) == "window", op


def test_recommend_halo_rank_family_always_distributed():
    # won BOTH measured arms (2.03x balanced / 7.77x dominant)
    balanced = SkewStats(1000, 5, 0.2, ("k0",), None)
    for op in ("rolling_rows_agg", "rolling_distinct_count"):
        assert recommend_spelling(op, balanced) == "distributed", op


def test_recommend_empty_frame_is_window():
    empty = SkewStats(0, 0, 0.0, None, None)
    for op in DECISION_TABLE:
        assert recommend_spelling(op, empty) == "window", op


def test_recommend_threshold_is_inclusive():
    at = SkewStats(100, 3, 0.5, ("a",), None)
    below = SkewStats(100, 3, 0.49, ("a",), None)
    assert recommend_spelling("distributed_percentile", at) == "distributed"
    assert recommend_spelling("distributed_percentile", below) == "window"


def test_recommend_ffill_threshold_is_its_measured_parity_arm():
    # round-14 mid-skew arms: forward_fill_bucketed measures
    # 0.92/0.95/1.00x at 50/60/70% share — exact parity AT 0.70 — so
    # its threshold is 0.70 by the carry family's parity-arm
    # convention (0.98x at 0.5 -> threshold 0.5): 70% share
    # recommends distributed (inclusive), just below recommends the
    # window form
    below = SkewStats(1000, 5, 0.69, ("hot",), None)
    at = SkewStats(1000, 5, 0.7, ("hot",), None)
    assert recommend_spelling("forward_fill_bucketed", below) == "window"
    assert recommend_spelling("forward_fill_bucketed", at) == "distributed"
    # percentile's 0.5 is a MEASURED crossover now (1.05x at 50%), and
    # cumsum's distributed form already wins at 0.5 (1.28x) — both keep
    # recommending distributed from 0.5 up
    half = SkewStats(1000, 5, 0.5, ("hot",), None)
    assert recommend_spelling("distributed_cumsum", half) == "distributed"


def test_recommend_cardinality_override_beats_every_rule():
    # round 12: more key groups than the broadcast guard's bound →
    # the distributed forms would abort at their first action, so the
    # selector must say "window" even for the always-distributed halo
    # family and even under a dominant key
    too_many = SkewStats(10_000_000, 3_000_000, 0.6, ("hot",), None)
    for op in DECISION_TABLE:
        assert recommend_spelling(op, too_many) == "window", op
    # boundary band (round-13 ADVICE, low): the guarded offsets table
    # holds ≈ n_keys + n_ranges rows, so EXACTLY at the bound the
    # operator would abort — the selector now subtracts an
    # expected_n_ranges headroom and says "window" there
    at_bound = SkewStats(10_000_000, 2_000_000, 0.6, ("hot",), None)
    assert recommend_spelling("distributed_cumsum", at_bound) == "window"
    # below the headroom band the distributed form is eligible again
    from security_master_spark.operators.spelling import (
        DEFAULT_EXPECTED_N_RANGES,
    )

    clear = SkewStats(
        10_000_000, 2_000_000 - DEFAULT_EXPECTED_N_RANGES, 0.6,
        ("hot",), None,
    )
    assert recommend_spelling("distributed_cumsum", clear) == "distributed"
    # a caller who knows the actual n_ranges gets the exact boundary
    assert (
        recommend_spelling("distributed_cumsum", at_bound,
                           expected_n_ranges=0)
        == "distributed"
    )
    # None disables the override (caller disabled the guard too)
    assert (
        recommend_spelling("rolling_rows_agg", too_many,
                           max_broadcast_rows=None)
        == "distributed"
    )
    # a custom bound threads through
    assert (
        recommend_spelling("rolling_rows_agg", SkewStats(100, 50, 0.2,
                                                         ("a",), None),
                           max_broadcast_rows=10)
        == "window"
    )


def test_recommend_unknown_operator_raises():
    s = SkewStats(10, 2, 0.5, ("a",), None)
    with pytest.raises(ValueError, match="unknown operator"):
        recommend_spelling("nope", s)


def test_end_to_end_probe_to_recommendation(spark):
    assert (
        recommend_spelling(
            "forward_fill_bucketed", skew_probe(_skewed(spark), ["k"])
        )
        == "distributed"
    )
    assert (
        recommend_spelling(
            "forward_fill_bucketed", skew_probe(_balanced(spark), ["k"])
        )
        == "window"
    )


def test_decision_table_covers_the_whole_toolkit():
    # the seven-member toolkit the round-11 verdict names (the halo
    # family counts rolling_rows_agg + its collect_set specialization)
    assert set(DECISION_TABLE) == {
        "rolling_rows_agg",
        "rolling_distinct_count",
        "distributed_row_number",
        "distributed_cumsum",
        "distributed_percentile",
        "trailing_distributed_prefix",
        "asof_carry_bucketed",
        "forward_fill_bucketed",
    }


# ---------------------------------------------------------------- #
# property: probe vs a pure-pandas reference                        #
# ---------------------------------------------------------------- #

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_PKEY = st.one_of(st.none(), st.integers(min_value=0, max_value=3))


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(keys=st.lists(_PKEY, min_size=1, max_size=24))
def test_probe_matches_pandas_reference(spark, keys):
    """On random small frames (NULL keys included) the unsampled probe
    must agree exactly with a pandas groupby reference on row count,
    key count, and top share; top_key must be A maximal key (ties are
    engine-arbitrary under max_by, so assert by count, not identity)."""
    pdf = pd.DataFrame({"k": pd.array(keys, dtype="Int64"),
                        "v": range(len(keys))})
    s = skew_probe(spark.createDataFrame(pdf), ["k"])
    counts = pdf.groupby("k", dropna=False)["v"].count()
    assert s.n_rows == len(keys)
    assert s.n_keys == len(counts)
    assert s.top_share == pytest.approx(counts.max() / len(keys))
    top = s.top_key[0]
    top_count = counts[pd.NA if top is None else top]
    assert top_count == counts.max()


def test_probe_scratch_key_name_raises(spark):
    pdf = pd.DataFrame({"_kc": ["a", "b"], "v": [1, 2]})
    with pytest.raises(ValueError, match="_kc"):
        skew_probe(spark.createDataFrame(pdf), ["_kc"])


def test_round13_measured_thresholds():
    # round-13 mid-skew arms (PLANS.md "Mid-skew arms"):
    # carry/trailing crossover measured AT ~0.5; the rank family's
    # window form still wins at the 0.7 arm, so its per-operator
    # threshold is the (0.70, 0.96) bracket midpoint
    mid6 = SkewStats(1000, 5, 0.6, ("hot",), None)
    mid7 = SkewStats(1000, 5, 0.7, ("hot",), None)
    high = SkewStats(1000, 5, 0.9, ("hot",), None)
    for op in ("trailing_distributed_prefix", "asof_carry_bucketed"):
        assert recommend_spelling(op, mid6) == "distributed", op
    assert recommend_spelling("distributed_row_number", mid7) == "window"
    assert (
        recommend_spelling("distributed_row_number", high)
        == "distributed"
    )
    # explicit dominant_share still overrides the per-op default
    assert (
        recommend_spelling("distributed_row_number", mid7,
                           dominant_share=0.5)
        == "distributed"
    )
    # the measured mid cells are recorded in the table itself
    assert DECISION_TABLE["trailing_distributed_prefix"]["mid"][0.6] == 1.20
    assert DECISION_TABLE["distributed_row_number"]["threshold"] == 0.85

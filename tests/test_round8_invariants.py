"""Round-8 invariant suite (§7 protocol item 4): algebraic and
cross-operator identities for the round-8-pool operators that the
earlier invariant files don't already cover. These complement the
DuckDB hash oracles: the oracle certifies engine agreement, the
invariant certifies the MATH (an identically-wrong oracle can't
sneak through a sum-to-one or conservation law).
"""

from __future__ import annotations

import datetime as dt
import math

import pytest
from pyspark.sql import functions as F

from security_master_spark.plans.registry import queries

_Q = queries()


def test_w13_shares_sum_to_one_and_ranks_contiguous(spark, sf_dir):
    """Ratio-to-report: per-region shares sum to 1, global shares sum
    to 1, and rank_in_region is a permutation of 1..n per region."""
    rows = _Q["w13_ratio_to_report"](spark, sf_dir).collect()
    by_region: dict[int, list] = {}
    for r in rows:
        by_region.setdefault(r.regionkey, []).append(r)
    # shares are drounded to 6dp, so the sum drifts by up to n·5e-7
    assert abs(sum(r.share_of_total for r in rows) - 1.0) < len(rows) * 1e-6
    for reg, rs in by_region.items():
        assert abs(sum(r.share_of_region for r in rs) - 1.0) < len(rs) * 1e-6
        assert sorted(r.rank_in_region for r in rs) == list(
            range(1, len(rs) + 1)
        )


def test_q27_bag_operations_conserve_multiplicity(spark, sf_dir):
    """SQL:2003 bag law: min(mA,mB) + max(0, mA−mB) = mA, i.e. per key
    n_intersect_all + n_except_all must equal A's multiplicity,
    recomputed directly from the same source filters."""
    from security_master_spark.datasets import load_table

    got = {
        r.suppkey: (r.n_intersect_all or 0) + (r.n_except_all or 0)
        for r in _Q["q27_bag_set_ops"](spark, sf_dir).collect()
    }
    li = load_table(spark, sf_dir, "lineitem")
    mult_a = {
        r.l_suppkey: r.m
        for r in li.filter(F.col("l_quantity") < 25)
        .groupBy("l_suppkey")
        .agg(F.count("*").alias("m"))
        .collect()
    }
    assert got  # the fixture produces a non-empty panel
    for k, total in got.items():
        assert total == mult_a[k], f"suppkey {k}: {total} != {mult_a[k]}"


def test_a29_moments_satisfy_pearson_inequality(spark, sf_dir):
    """For ANY distribution kurtosis ≥ skewness² + 1, i.e.
    excess_kurtosis ≥ skewness² − 2 — a hard algebraic floor the
    moment arithmetic cannot legally break; std is nonnegative."""
    for r in _Q["a29_moment_shape_stats"](spark, sf_dir).collect():
        assert r.pop_std >= 0
        if r.skewness is not None and r.excess_kurtosis is not None:
            assert r.excess_kurtosis >= r.skewness**2 - 2 - 1e-9


def test_d82_significance_flag_matches_t_stat(spark, sf_dir):
    """The |t| > 2 flag must be exactly consistent with the published
    t_stat, and iso_dow must stay in the ISO 1..7 range."""
    for r in _Q["d82_calendar_effects"](spark, sf_dir).collect():
        assert 1 <= r.iso_dow <= 7
        assert r.n >= 1
        if r.t_stat is None:
            assert r.is_significant is False
        else:
            assert r.is_significant == (abs(r.t_stat) > 2)


def test_d84_ic_is_a_bounded_correlation_panel(spark, sf_dir):
    """Mean of per-day Spearman ICs stays in [−1, 1]; ICIR and t-stat
    recompose from (mean, std, n) — dround(6) tolerance."""
    [r] = _Q["d84_information_coefficient"](spark, sf_dir).collect()
    assert -1 <= r.mean_ic <= 1
    assert r.std_ic >= 0
    if r.std_ic > 0:
        assert abs(r.icir - r.mean_ic / r.std_ic) < 1e-4
        assert (
            abs(r.t_stat - (r.mean_ic / r.std_ic) * math.sqrt(r.n_days))
            < 1e-3
        )


def test_d81_turnover_bounded_by_two(spark, sf_dir):
    """Σ|Δw| over weights that each sum to 1 is at most 2 (full
    liquidation + full rebuild) and never negative."""
    rows = _Q["d81_portfolio_turnover"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert -1e-9 <= r.turnover <= 2 + 1e-9


def test_d90_backtest_stats_recompose(spark, sf_dir):
    """Hit rate is a probability; vol is nonnegative; the t-stat is
    mean/(vol/√n) re-derivable from the published panel."""
    [r] = _Q["d90_cross_sectional_momentum"](spark, sf_dir).collect()
    assert 0 <= r.hit_rate <= 1
    assert r.vol_ls >= 0
    if r.vol_ls > 0:
        assert (
            abs(r.t_stat - r.mean_ls / (r.vol_ls / math.sqrt(r.n_days)))
            < 1e-3
        )


def test_l70_precision_recall_recompose_from_counts(spark, sf_dir):
    """precision = hits/candidates and recall = hits/truth must hold
    against the published counts; hits can't exceed either side."""
    [r] = _Q["l70_lsh_precision_recall"](spark, sf_dir).collect()
    assert r.n_hits <= min(r.n_candidates, r.n_true_pairs)
    if r.n_candidates:
        assert abs(r.precision - r.n_hits / r.n_candidates) < 1e-4
    if r.n_true_pairs:
        assert abs(r.recall - r.n_hits / r.n_true_pairs) < 1e-4


def test_l67_norm_audit_orderings(spark, sf_dir):
    """Per-label norm stats must satisfy min ≤ mean ≤ max, std ≥ 0,
    and neither flag count can exceed the label's population."""
    rows = _Q["l67_embedding_norm_audit"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.min_norm - 1e-9 <= r.mean_norm <= r.max_norm + 1e-9
        assert r.std_norm >= 0
        assert 0 <= r.n_outliers <= r.n_vectors
        assert 0 <= r.n_degenerate <= r.n_vectors


def test_dq14_staleness_gaps_ordered(spark, sf_dir):
    """Age and gaps are nonnegative and the median gap can't exceed
    the max gap."""
    rows = _Q["dq14_staleness"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.age_hours >= 0
        assert 0 <= r.median_gap_s <= r.max_gap_s


def test_dq15_detects_planted_replay_across_buckets(spark, tmp_path):
    """Planted replay pairs: one pair 1 s apart inside a bucket, one
    pair straddling a 60 s bucket boundary (the next-bucket explode
    must co-locate it), one event 10 min away (no pair). Expect
    exactly 2 pairs with exact gap stats."""
    base = dt.datetime(2024, 3, 1, 12, 0, 0)
    rows = [
        # in-bucket near-dup: gap 1s
        (1, "click", base, 1.0, "{}", 7),
        (2, "click", base + dt.timedelta(seconds=1), 1.0, "{}", 7),
        # boundary-straddling near-dup: gap 2s across a 60s bucket edge
        (3, "click", base + dt.timedelta(seconds=119), 1.0, "{}", 7),
        (4, "click", base + dt.timedelta(seconds=121), 1.0, "{}", 7),
        # lonely event: nearest neighbor 10 min away
        (5, "click", base + dt.timedelta(seconds=721), 1.0, "{}", 7),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, event_type string, ts timestamp, "
        "value double, props string, user_id long",
    )
    d = str(tmp_path / "sf_planted")
    df.write.parquet(f"{d}/events.parquet")
    out = _Q["dq15_near_duplicate_events"](spark, d).collect()
    assert len(out) == 1
    r = out[0]
    assert r.event_type == "click"
    assert r.n_pairs == 2
    assert r.n_users == 1
    assert r.min_gap_us == 1_000_000
    assert r.max_gap_us == 2_000_000

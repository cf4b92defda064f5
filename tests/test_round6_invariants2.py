"""Analytic invariants for the round-6 session-2 operators (d65-d76,
l62-l63, t6, w10, dq12) — properties the oracle hash can't state
directly (bounds, monotonicity, conservation identities)."""

from __future__ import annotations

import math

from security_master_spark.plans.registry import queries

_Q = queries()


def test_spearman_bounds_and_symmetric_pairs(spark, sf_dir):
    """Spearman rho must lie in [-1, 1]; every unordered series pair
    appears exactly once (type_a < type_b)."""
    rows = _Q["d65_spearman_corr"](spark, sf_dir).collect()
    assert rows, "no pairs produced"
    seen = set()
    for r in rows:
        assert r.type_a < r.type_b
        assert (r.type_a, r.type_b) not in seen
        seen.add((r.type_a, r.type_b))
        assert -1.0 - 1e-9 <= r.spearman_rho <= 1.0 + 1e-9


def test_adjusted_close_only_differs_after_actions(spark, sf_dir):
    """Back-adjustment must leave each series' LAST day untouched
    (factor 1), and every factor must be a power of two."""
    rows = _Q["d66_adjusted_close"](spark, sf_dir).collect()
    by_type = {}
    for r in rows:
        by_type.setdefault(r.event_type, []).append(r)
    for recs in by_type.values():
        recs.sort(key=lambda r: r.trade_day)
        assert recs[-1].adj_factor == 1.0
        for r in recs:
            m = r.adj_factor
            while m < 1.0:
                m *= 2
            while m > 1.0:
                m /= 2
            assert m == 1.0, f"non-dyadic factor {r.adj_factor}"


def test_attribution_models_agree_on_total_conversions(spark, sf_dir):
    """First-touch, last-touch and linear credit are three ways of
    splitting the SAME attributed conversions: their channel sums
    must all equal the attributed-conversion count."""
    rows = _Q["d72_touch_attribution"](spark, sf_dir).collect()
    ft = sum(r.first_touch for r in rows)
    lt = sum(r.last_touch for r in rows)
    lin = sum(r.linear_credit for r in rows)
    assert ft == lt, f"first-touch total {ft} != last-touch total {lt}"
    assert abs(lin - ft) < 1e-3, f"linear total {lin} != {ft}"


def test_markov_rows_are_probability_distributions(spark, sf_dir):
    """Each from_type's outgoing probabilities must sum to 1."""
    rows = _Q["d73_markov_transitions"](spark, sf_dir).collect()
    sums = {}
    for r in rows:
        assert 0.0 <= r.prob <= 1.0
        sums[r.from_type] = sums.get(r.from_type, 0.0) + r.prob
    assert sums, "empty transition matrix"
    for ft, s in sums.items():
        assert abs(s - 1.0) < 1e-4, f"{ft} rows sum to {s}"


def test_kaplan_meier_curve_is_monotone_in_unit_interval(spark, sf_dir):
    """S(t) must be non-increasing and inside [0, 1]; at-risk counts
    must be non-increasing in t as well."""
    rows = sorted(
        _Q["d74_kaplan_meier"](spark, sf_dir).collect(),
        key=lambda r: r.duration_days,
    )
    assert rows, "empty curve"
    prev_s, prev_n = 1.0 + 1e-9, None
    for r in rows:
        assert 0.0 <= r.survival <= 1.0
        assert r.survival <= prev_s + 1e-9, "survival increased"
        if prev_n is not None:
            assert r.n_risk <= prev_n, "at-risk count increased"
        prev_s, prev_n = r.survival, r.n_risk
        assert 0 < r.n_deaths <= r.n_risk


def test_curve_interpolation_is_exact_on_nodes_and_bounded(spark, sf_dir):
    """A probe between two nodes must lie within [min, max] of its
    bracketing node values; the beyond-range probe must equal the
    last node exactly (flat extrapolation)."""
    from security_master_spark.functions.daily import daily_closes

    nodes = {}
    for r in daily_closes(spark, sf_dir).collect():
        nodes.setdefault(r.event_type, []).append(r)
    out = _Q["d75_curve_interpolation"](spark, sf_dir).collect()
    assert out
    for r in out:
        recs = sorted(nodes[r.event_type], key=lambda x: x.day)
        xs = [(d.day - recs[0].day).days for d in recs]
        ys = [d.close for d in recs]
        q = r.tenor
        if q >= xs[-1]:  # flat extrapolation
            assert r.rate == math.floor(ys[-1] * 1e6 + 0.5) / 1e6
        else:
            lo = max(i for i in range(len(xs)) if xs[i] <= q)
            hi = min(i for i in range(len(xs)) if xs[i] >= q)
            lo_v, hi_v = (
                min(ys[lo], ys[hi]),
                max(ys[lo], ys[hi]),
            )
            assert lo_v - 1e-6 <= r.rate <= hi_v + 1e-6


def test_settlement_is_a_business_day_strictly_after_trade(spark, sf_dir):
    """Every settle_day must be strictly after its trade_day, fall on
    neither a weekend nor a fixture holiday, and every January trade
    day must be assigned."""
    import datetime

    holidays = {datetime.date(2024, 1, 1), datetime.date(2024, 1, 15)}
    rows = _Q["d76_settlement_dates"](spark, sf_dir).collect()
    assert len(rows) == 30  # every trade day in the fixture month
    for r in rows:
        assert r.settle_day > r.trade_day
        assert r.settle_day.weekday() < 5, "settled on a weekend"
        assert r.settle_day not in holidays, "settled on a holiday"
        # T+2: exactly two business days strictly after trade day up
        # to and including settlement.
        d, nbus = r.trade_day, 0
        while d < r.settle_day:
            d += datetime.timedelta(days=1)
            if d.weekday() < 5 and d not in holidays:
                nbus += 1
        assert nbus == 2, f"{r.trade_day} -> {r.settle_day} is T+{nbus}"


def test_trending_leaderboard_shape(spark, sf_dir):
    """At most 3 leaders per bucket, ranks are 1..k without gaps, and
    shares are a valid partial distribution (sum <= 1)."""
    rows = _Q["t6_windowed_topk_trending"](spark, sf_dir).collect()
    buckets = {}
    for r in rows:
        buckets.setdefault(r.bucket, []).append(r)
    assert buckets
    for recs in buckets.values():
        ranks = sorted(r.rank for r in recs)
        assert ranks == list(range(1, len(ranks) + 1))
        assert len(recs) <= 3
        assert sum(r.share for r in recs) <= 1.0 + 1e-6


def test_winsorized_mean_lies_within_clip_bounds(spark, sf_dir):
    """Winsorized mean must lie in [p01, p99]; each tail clips at
    most ceil(1% of n) rows (values strictly beyond an interpolated
    percentile), so the total is bounded by 2 ceil(0.01 n)."""
    rows = _Q["dq12_winsorized_stats"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.p01 <= r.mean_winsorized <= r.p99
        assert r.n_clipped <= 2 * math.ceil(0.01 * r.n)


def test_bm25_matches_brute_force_python(spark, sf_dir):
    """Recompute BM25 in plain Python over the collected corpus and
    compare the top-10 (score, doc) list."""
    from security_master_spark.datasets import load_table
    from security_master_spark.plans.llm_text import _K1, _B, _QUERY_TERMS

    docs = {
        r.doc_id: r.text.split()
        for r in load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .collect()
    }
    n_docs = len(docs)
    avgdl = sum(len(t) for t in docs.values()) / n_docs
    df = {
        t: sum(1 for toks in docs.values() if t in toks)
        for t in _QUERY_TERMS
    }
    scores = {}
    for did, toks in docs.items():
        s = 0.0
        hit = False
        for t in _QUERY_TERMS:
            tf = toks.count(t)
            if tf == 0:
                continue
            hit = True
            idf = math.log(1 + (n_docs - df[t] + 0.5) / (df[t] + 0.5))
            s += idf * tf * (_K1 + 1) / (
                tf + _K1 * (1 - _B + _B * len(toks) / avgdl)
            )
        if hit:
            scores[did] = math.floor(s * 1e6 + 0.5) / 1e6
    want = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    got = [
        (r.doc_id, r.bm25)
        for r in _Q["l62_bm25_topk"](spark, sf_dir).collect()
    ]
    assert got == [(d, s) for d, s in want]

"""Analytic invariants for the round-7 operators — properties the
value hash can't see: algebraic identities, conservation laws across
OPERATORS, probability bounds, and distribution axioms.
"""

from __future__ import annotations

import math

import pytest

from security_master_spark.plans import registry

_Q = registry.queries()


def test_d78_decomposition_residual_is_zero(spark, sf_dir):
    """Var(Σwᵢrᵢ) = wᵀΣw is exact for sample moments over aligned
    days — the query's own residual column must round to zero, and
    the diversification ratio is ≥ 1 by Cauchy-Schwarz."""
    row = _Q["d78_parametric_portfolio_var"](spark, sf_dir).first()
    assert row.decomp_residual == 0.0
    assert row.diversification_ratio >= 1.0
    assert row.var_99 > row.var_95 > 0


def test_d83_hurst_of_shuffled_iid_is_near_half(spark, sf_dir):
    """R/S analysis on the fixture's daily returns: H must land in
    the open (0, 1) and the per-scale mean R/S must INCREASE with the
    scale (R/S grows like s^H for any H > 0)."""
    for r in _Q["d83_hurst_rs"](spark, sf_dir).collect():
        assert 0.0 < r.hurst < 1.0
        # At tiny SFs the longest scale may have no full block (NULL
        # mean R/S — correct semantics); compare whatever is present.
        rs = [v for v in (r.rs_8, r.rs_16, r.rs_32) if v is not None]
        assert len(rs) >= 2
        assert rs == sorted(rs)


def test_l65_minhash_estimator_error_bound(spark, sf_dir):
    """K=16 MinHash: sd of the estimator is √(J(1−J)/16) ≤ 0.125, so
    the MEAN absolute error across pairs must sit well inside a few
    sigma — a gross bound that catches any broken permutation or
    shingle hashing (which would push errors toward ~0.5)."""
    rows = _Q["l65_minhash_calibration"](spark, sf_dir).collect()
    assert rows
    mae = sum(r.abs_err for r in rows) / len(rows)
    assert mae < 0.2, f"MAE {mae} — estimator broken"
    for r in rows:
        assert 0.0 <= r.exact_j <= 1.0 and 0.0 <= r.est_j <= 1.0


def test_l66_coverage_curve_is_monotone_and_complete(spark, sf_dir):
    rows = sorted(
        _Q["l66_ngram_coverage_curve"](spark, sf_dir).collect(),
        key=lambda r: r.bucket,
    )
    assert rows[0].cum_grams == rows[0].new_grams
    for a, b in zip(rows, rows[1:]):
        assert b.cum_grams == a.cum_grams + b.new_grams
        assert b.cum_frac >= a.cum_frac
    assert abs(rows[-1].cum_frac - 1.0) < 1e-9


def test_m7_tiles_conserve_m5_pixel_sums(spark, sf_dir):
    """CROSS-OPERATOR conservation: summing m7's per-tile channel
    sums per doc must reproduce m5's whole-image sums exactly — the
    tiling partition is exhaustive and non-overlapping."""
    from pyspark.sql import functions as F

    tiles = (
        _Q["m7_image_tiling"](spark, sf_dir)
        .groupBy("doc_id")
        .agg(
            F.sum("n_px").alias("n"),
            F.sum("sum_r").alias("r"),
            F.sum("sum_g").alias("g"),
            F.sum("sum_b").alias("b"),
        )
    )
    whole = _Q["m5_image_decode_stats"](spark, sf_dir).select(
        "doc_id",
        F.col("n_pixels").alias("wn"),
        F.col("sum_r").alias("wr"),
        F.col("sum_g").alias("wg"),
        F.col("sum_b").alias("wb"),
    )
    bad = (
        tiles.join(whole, "doc_id")
        .filter(
            (F.col("n") != F.col("wn"))
            | (F.col("r") != F.col("wr"))
            | (F.col("g") != F.col("wg"))
            | (F.col("b") != F.col("wb"))
        )
        .count()
    )
    assert bad == 0


def test_m8_frame_peaks_bounded_by_m6_peak(spark, sf_dir):
    """Every m8 frame peak is ≤ the whole-clip peak m6 reports for
    the same doc (frames are subsets of the sample stream)."""
    from pyspark.sql import functions as F

    frames = (
        _Q["m8_audio_framing"](spark, sf_dir)
        .groupBy("doc_id")
        .agg(F.max("peak").alias("fp"))
    )
    whole = _Q["m6_audio_decode_stats"](spark, sf_dir).select(
        "doc_id", F.col("peak").alias("wp")
    )
    bad = (
        frames.join(whole, "doc_id")
        .filter(F.col("fp") > F.col("wp"))
        .count()
    )
    assert bad == 0


def test_d86_profile_shares_sum_to_one(spark, sf_dir):
    from collections import defaultdict

    rows = _Q["d86_volume_profile"](spark, sf_dir).collect()
    by_series = defaultdict(list)
    for r in rows:
        by_series[r.event_type].append(r)
    for et, rs in by_series.items():
        assert abs(sum(r.share for r in rs) - 1.0) < 1e-4, et
        assert sum(1 for r in rs if r.is_poc) == 1, et
        poc = max(rs, key=lambda r: (r.n_prints, -r.bin))
        assert next(r for r in rs if r.is_poc).n_prints == poc.n_prints


def test_dq13_completeness_axioms(spark, sf_dir):
    for r in _Q["dq13_completeness_grid"](spark, sf_dir).collect():
        assert 0 < r.present_days <= r.span_days
        assert r.missing_days == r.span_days - r.present_days
        assert 0.0 < r.completeness <= 1.0


def test_d87_adf_matches_numpy_ols(spark, sf_dir):
    """Recompute one pair's ADF t-stat with a from-scratch numpy OLS
    (design matrix [1, e_lag]) and require agreement to 1e-4 — the
    closed-form REGR_* assembly against an independent derivation."""
    import numpy as np

    from security_master_spark.functions.daily import daily_closes

    rows = _Q["d87_cointegration_adf"](spark, sf_dir).collect()
    assert rows
    target = sorted(rows, key=lambda r: (r.et_a, r.et_b))[0]
    daily = daily_closes(spark, sf_dir).toPandas()
    a = daily[daily.event_type == target.et_a].sort_values("day")
    b = daily[daily.event_type == target.et_b].sort_values("day")
    merged = a.merge(b, on="day", suffixes=("_a", "_b"))
    pa, pb = merged.close_a.values, merged.close_b.values
    X = np.column_stack([np.ones_like(pb), pb])
    beta = np.linalg.lstsq(X, pa, rcond=None)[0]
    e = pa - X @ beta
    de, elag = np.diff(e), e[:-1]
    Xa = np.column_stack([np.ones_like(elag), elag])
    coef, res, *_ = np.linalg.lstsq(Xa, de, rcond=None)
    resid = de - Xa @ coef
    sxx = ((elag - elag.mean()) ** 2).sum()
    se = math.sqrt((resid @ resid) / (len(de) - 2) / sxx)
    t_ref = coef[1] / se
    assert abs(target.adf_t - t_ref) < 1e-4, (target.adf_t, t_ref)


def test_d88_legs_compose_to_close_to_close(spark, sf_dir):
    """(1 + overnight) · (1 + intraday) − 1 must equal the plain
    close-to-close daily return — the decomposition is exact, checked
    row-by-row on the underlying frames."""
    from pyspark.sql import functions as F

    from security_master_spark.functions.daily import (
        daily_closes,
        daily_returns,
    )
    from security_master_spark.plans.domain_risk import (
        d88_overnight_intraday,  # noqa: F401 (registration)
    )

    # rebuild the per-day legs exactly as the query does
    from security_master_spark.datasets import load_table
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events")
    day = F.date_trunc("day", F.col("ts"))
    wa = Window.partitionBy("event_type", day).orderBy(
        F.asc("ts"), F.asc("event_id")
    )
    wd = Window.partitionBy("event_type", day).orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    oc = (
        events.select(
            "event_type",
            day.alias("day"),
            "value",
            F.row_number().over(wa).alias("ra"),
            F.row_number().over(wd).alias("rd"),
        )
        .groupBy("event_type", "day")
        .agg(
            F.max(F.when(F.col("ra") == 1, F.col("value"))).alias("o"),
            F.max(F.when(F.col("rd") == 1, F.col("value"))).alias("c"),
        )
    )
    w = Window.partitionBy("event_type").orderBy("day")
    legs = oc.select(
        "event_type",
        "day",
        (F.col("o") / F.lag("c").over(w) - 1).alias("r_on"),
        (F.col("c") / F.col("o") - 1).alias("r_id"),
        (F.col("c") / F.lag("c").over(w) - 1).alias("r_cc"),
    ).filter(F.col("r_on").isNotNull())
    bad = legs.filter(
        F.abs(
            (1 + F.col("r_on")) * (1 + F.col("r_id")) - 1 - F.col("r_cc")
        )
        > 1e-12
    ).count()
    assert bad == 0


def test_a30_bitmap_matches_count_distinct(spark, sf_dir):
    """The bitmap algebra against Spark's own countDistinct (the
    oracle already checks DuckDB; this pins the Spark-internal
    agreement too)."""
    from pyspark.sql import functions as F

    from security_master_spark.datasets import load_table

    got = {
        r.event_type: r.n_distinct_users
        for r in _Q["a30_bitmap_distinct"](spark, sf_dir).collect()
    }
    events = load_table(spark, sf_dir, "events")
    exact = {
        r.event_type: r.n
        for r in events.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert got == exact


def test_l68_profile_doc_shares_sum_to_one(spark, sf_dir):
    rows = _Q["l68_dedup_cluster_profile"](spark, sf_dir).collect()
    assert abs(sum(r.doc_share for r in rows) - 1.0) < 1e-4
    assert all(r.corpus_max_cluster == rows[0].corpus_max_cluster
               for r in rows)
    assert max(r.cluster_size for r in rows) == rows[0].corpus_max_cluster


def test_d89_sign_rho_is_a_correlation(spark, sf_dir):
    for r in _Q["d89_sign_autocorrelation"](spark, sf_dir).collect():
        for k in (1, 2, 3, 5):
            rho = getattr(r, f"rho_{k}")
            if rho is not None:
                assert -1.0 <= rho <= 1.0


def test_l69_ranks_are_contiguous_and_counts_monotone(spark, sf_dir):
    rows = sorted(
        _Q["l69_bpe_pair_stats"](spark, sf_dir).collect(),
        key=lambda r: r.rnk,
    )
    assert [r.rnk for r in rows] == list(range(1, len(rows) + 1))
    counts = [r.pair_count for r in rows]
    assert counts == sorted(counts, reverse=True)
    assert all(len(r.merge) == 2 for r in rows)


def test_io23_legacy_count_matches_split(spark, sf_dir):
    from pyspark.sql import functions as F

    from security_master_spark.datasets import load_table
    from security_master_spark.plans.sources_io import _GEN_SPLIT

    got = sum(
        r.n_legacy
        for r in _Q["io23_parquet_merge_schema"](spark, sf_dir).collect()
    )
    orders = load_table(spark, sf_dir, "orders")
    expect = orders.filter(F.col("o_orderkey") < _GEN_SPLIT).count()
    assert got == expect


def test_d79_cusum_detects_planted_changepoint(spark, sf_dir):
    """Semantic validation beyond cross-engine equality: on a
    synthetic series with a mean shift planted mid-sample, the CUSUM
    pipeline must FIRE and locate the changepoint within a few days
    of the plant; on a deterministic no-shift series it must NOT
    fire. Runs the exact d79 plan via the factored cusum_panel."""
    import datetime

    from security_master_spark.plans.domain_statistics import cusum_panel

    base = datetime.date(2024, 1, 1)
    rows = []
    for i in range(120):
        day = base + datetime.timedelta(days=i)
        # deterministic pseudo-noise in [-0.005, 0.005), zero drift
        noise = (((i * 2654435761) % 1000) / 1000 - 0.5) / 100
        shift = 0.02 if i >= 60 else 0.0  # planted mean jump at day 60
        rows.append(("shifted", day, noise + shift))
        rows.append(("flat", day, noise))
    rets = spark.createDataFrame(
        rows, "event_type string, day date, r double"
    )
    out = {r.event_type: r for r in cusum_panel(rets).collect()}
    assert out["shifted"].is_changepoint
    plant = base + datetime.timedelta(days=60)
    assert abs((out["shifted"].change_day - plant).days) <= 5, (
        out["shifted"].change_day
    )
    assert not out["flat"].is_changepoint

"""Property and cross-check tests for the operator library
(SURVEY.md §5): internal-consistency pairs (session_window vs
lag-cumsum, LSH candidates vs exact Jaccard, bucketed vs exact
variants) and plan-shape assertions (pushdown, broadcast).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from security_master_spark.datasets import load_table
from security_master_spark.operators.asof import asof_join, asof_join_bucketed
from security_master_spark.operators.dedup import (
    exact_dedup,
    fingerprint_dedup,
    jaccard_pairs,
    lsh_candidate_pairs,
    simhash,
)
from security_master_spark.operators.intervals import (
    interval_join,
    interval_join_bucketed,
)
from security_master_spark.operators.sessionize import (
    session_stats,
    session_window_agg,
)
from security_master_spark.operators.similarity import cosine_topk


def test_sessionize_matches_native_session_window(spark, sf_dir):
    """The lag/cumsum recipe and Spark's native session_window must
    produce identical session counts and (start, end) sets."""
    events = load_table(spark, sf_dir, "events")
    recipe = session_stats(events, ["user_id"], "ts", 1800)
    native = session_window_agg(
        events,
        ["user_id"],
        "ts",
        "30 minutes",
        [F.count("*").alias("n_events")],
    )
    assert recipe.count() == native.count()
    r = {
        (x.user_id, x.session_start, x.session_end, x.n_events)
        for x in recipe.collect()
    }
    n = {
        (x.user_id, x.session_window.start, x.session_window.end, x.n_events)
        for x in native.select("user_id", "session_window", "n_events").collect()
    }
    # native windows end at last_event + gap; align by (user, start, count)
    assert {(a, b, d) for a, b, _, d in r} == {(a, b, d) for a, b, _, d in n}


def test_lsh_candidates_contain_high_jaccard_pairs(spark, sf_dir):
    """Recall property: every pair with TOKEN Jaccard >= 0.9 must be an
    LSH candidate when minhash runs on 1-token shingles (so both sides
    estimate the same measure; the fixtures are random token soup, so
    3-gram shingle similarity is ~0 even when token overlap is high).
    Miss probability per pair with 32 perms / 8 bands (r=4) at j=0.9 is
    (1 - 0.9^4)^8 ≈ 2e-4."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") <= 120)
    cand = {
        (r.id_a, r.id_b)
        for r in lsh_candidate_pairs(
            docs, num_hashes=32, bands=8, shingle_n=1
        ).collect()
    }
    ids = docs.select(F.col("doc_id").alias("id_a"))
    pairs = ids.crossJoin(
        docs.select(F.col("doc_id").alias("id_b"))
    ).filter(F.col("id_a") < F.col("id_b"))
    exact = jaccard_pairs(docs, pairs)
    high = exact.filter(F.col("jaccard") >= 0.9).collect()
    missed = [(r.id_a, r.id_b) for r in high if (r.id_a, r.id_b) not in cand]
    # allow ≤1% straggler misses (probabilistic guarantee, tiny corpus)
    assert len(missed) <= max(1, len(high) // 100), (
        f"LSH missed {len(missed)}/{len(high)} high-similarity pairs: {missed[:5]}"
    )


def test_lsh_candidates_are_actually_similar(spark, sf_dir):
    """Precision sanity: candidate pairs skew more similar than the
    average pair (relative, because this corpus's baseline Jaccard is
    unusually high ~0.63)."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") <= 120)
    cand = lsh_candidate_pairs(docs, num_hashes=32, bands=8, shingle_n=1)
    if cand.count() == 0:
        return  # corpus may have no near-dups at tiny sf
    avg_cand = (
        jaccard_pairs(docs, cand).agg(F.avg("jaccard").alias("a")).collect()[0].a
    )
    ids = docs.select(F.col("doc_id").alias("id_a"))
    allp = ids.crossJoin(docs.select(F.col("doc_id").alias("id_b"))).filter(
        F.col("id_a") < F.col("id_b")
    )
    avg_all = (
        jaccard_pairs(docs, allp).agg(F.avg("jaccard").alias("a")).collect()[0].a
    )
    assert avg_cand > avg_all, (
        f"candidates not above baseline: {avg_cand} <= {avg_all}"
    )


def test_exact_and_fingerprint_dedup_agree(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    a = sorted(r.doc_id for r in exact_dedup(docs).select("doc_id").collect())
    b = sorted(r.doc_id for r in fingerprint_dedup(docs).select("doc_id").collect())
    assert a == b


def test_simhash_deterministic_and_discriminative(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") <= 50)
    h1 = {r.doc_id: r.sh for r in docs.select("doc_id", simhash(F.col("text")).alias("sh")).collect()}
    h2 = {r.doc_id: r.sh for r in docs.select("doc_id", simhash(F.col("text")).alias("sh")).collect()}
    assert h1 == h2  # stable across runs
    assert len(set(h1.values())) > 1  # not constant


def test_asof_left_join_keeps_unmatched(spark, sf_dir):
    events = load_table(spark, sf_dir, "events")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    views = events.filter(F.col("event_type") == "view").select(
        "user_id", F.col("ts").alias("v_ts"), F.col("value").alias("v_val")
    )
    inner = asof_join(purchases, views, ["user_id"], "ts", "v_ts", how="inner")
    left = asof_join(purchases, views, ["user_id"], "ts", "v_ts", how="left")
    assert left.count() == purchases.count()
    assert inner.count() <= left.count()
    assert left.filter(F.col("v_ts").isNull()).count() == left.count() - inner.count()


def test_asof_tolerance_bounds_match_age(spark, sf_dir):
    events = load_table(spark, sf_dir, "events")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    views = events.filter(F.col("event_type") == "view").select(
        "user_id", F.col("ts").alias("v_ts")
    )
    tol = F.expr("INTERVAL 1 HOUR")
    out = asof_join(purchases, views, ["user_id"], "ts", "v_ts", tolerance=tol)
    bad = out.filter(
        F.col("v_ts") < F.col("ts") - F.expr("INTERVAL 1 HOUR")
    ).count()
    assert bad == 0
    # tolerance result ⊆ untolerated result rows (by left id)
    full = asof_join(purchases, views, ["user_id"], "ts", "v_ts")
    assert out.count() <= full.count()


def test_asof_bucketed_matches_exact_when_dense(spark, sf_dir):
    """With a bucket far wider than any per-user view gap, the bucketed
    as-of must equal the exact one on matched rows."""
    events = load_table(spark, sf_dir, "events")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    views = events.filter(F.col("event_type") == "view").select(
        "user_id", F.col("ts").alias("v_ts")
    )
    exact = asof_join(purchases, views, ["user_id"], "ts", "v_ts")
    bucketed = asof_join_bucketed(
        purchases, views, ["user_id"], "ts", "v_ts", bucket_seconds=30 * 86400
    )
    e = {(r.event_id, r.v_ts) for r in exact.collect()}
    b = {(r.event_id, r.v_ts) for r in bucketed.collect()}
    assert b <= e
    # 30-day bucket covers the whole fixture range → must be equal
    assert b == e


def test_interval_bucketed_matches_exact(spark, sf_dir):
    events = load_table(spark, sf_dir, "events")
    from pyspark.sql import Window

    win = Window.partitionBy("user_id").orderBy("ts")
    intervals = (
        events.filter(F.col("event_type") == "signup")
        .select(
            "user_id",
            F.col("ts").alias("valid_from"),
            F.coalesce(
                F.lead("ts").over(win),
                F.lit("2100-01-01 00:00:00").cast("timestamp"),
            ).alias("valid_to"),
        )
    )
    clicks = events.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    exact = interval_join(clicks, intervals, ["user_id"], "ts", "valid_from", "valid_to")
    # bucketed variant is range-only (no key) — compare on a keyless slice
    one_user = clicks.filter(F.col("user_id") == clicks.first().user_id)
    iv_one = intervals.filter(F.col("user_id") == clicks.first().user_id).drop("user_id")
    b = interval_join_bucketed(
        one_user, iv_one, "ts", "valid_from", "valid_to", bucket_seconds=30 * 86400
    )
    e = exact.filter(F.col("user_id") == clicks.first().user_id)
    assert b.count() == e.count()


def test_cosine_topk_self_query_is_exact(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == 1).select("embedding").collect()[0].embedding
    top = cosine_topk(emb, list(qv), k=1).collect()
    assert top[0].vec_id == 1
    assert abs(top[0].cos_sim - 1.0) < 1e-9


def test_q1_plan_pushes_filter_and_prunes_columns(spark, sf_dir):
    """Scale guard: the flagship scan must show predicate pushdown and
    column pruning in the physical plan."""
    from security_master_spark.plans.registry import queries

    df = queries()["q1_pricing_summary"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # pruned: only the 7 needed columns in ReadSchema
    assert "l_orderkey" not in plan.split("ReadSchema")[1][:400]


def test_star_join_broadcasts_dims(spark, sf_dir):
    from security_master_spark.plans.registry import queries

    df = queries()["q2_star_join_revenue"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_ann_lsh_recall_vs_brute_force(spark, sf_dir):
    """ANN quality gate: sign-LSH top-5 must recover a reasonable share
    of the exact cosine top-5, and every returned neighbor's similarity
    must be genuine (ANN never fabricates scores, only misses some)."""
    from security_master_spark.operators.similarity import ann_topk_lsh

    emb = load_table(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    approx = ann_topk_lsh(emb, queries_df, k=5, n_planes=5, n_tables=8).collect()
    assert approx, "ANN returned nothing"
    by_q = {}
    for r in approx:
        by_q.setdefault(r.q_id, set()).add(r.vec_id)

    hits = total = 0
    for q in by_q:
        qv = emb.filter(F.col("vec_id") == q).collect()[0].embedding
        exact = {r.vec_id for r in cosine_topk(emb, list(qv), k=5).collect()}
        hits += len(by_q[q] & exact)
        total += len(exact)
    # 5 planes × 8 tables: measured recall 0.60 on the fixtures
    # (deterministic — fixed-seed hyperplanes); 0.45 leaves margin for
    # a different sf only
    assert hits / total >= 0.45, f"recall {hits}/{total} too low"


def test_ivf_recall_vs_brute_force(spark, sf_dir):
    """IVF quality gate (mirror of the sign-LSH one): 16 cells / probe
    4 must recover most of the exact top-5, and scores are genuine
    (exact cosine over candidates — IVF only ever misses, never
    fabricates)."""
    from security_master_spark.operators.similarity import ivf_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    approx = ivf_topk(emb, queries_df, k=5, n_cells=16, nprobe=4).collect()
    assert approx, "IVF returned nothing"
    by_q = {}
    for r in approx:
        by_q.setdefault(r.q_id, set()).add(r.vec_id)

    hits = total = 0
    for q in by_q:
        qv = emb.filter(F.col("vec_id") == q).collect()[0].embedding
        exact = {r.vec_id for r in cosine_topk(emb, list(qv), k=5).collect()}
        hits += len(by_q[q] & exact)
        total += len(exact)
    # probing 4/16 cells of a near-uniform corpus scans ~25% of it; on
    # the fixtures measured recall is ~0.64 — assert a floor with margin
    assert hits / total >= 0.45, f"recall {hits}/{total} too low"


def test_near_dup_lsh_finds_planted_duplicates(spark):
    """Scale-path embedding near-dup gate: plant explicit near-dup pairs
    (cos ≈ 0.98) among random vectors; the sign-LSH cell-join path must
    recover ≥90% of them (P(candidate) ≈ 0.999 at 8 planes × 16 tables),
    and every emitted pair must verify — precision is exact by
    construction (the cell join only ever generates candidates; the
    cosine filter decides)."""
    import numpy as np

    from security_master_spark.operators.similarity import near_dup_pairs_lsh

    rng = np.random.default_rng(11)
    base = rng.standard_normal((200, 64))
    rows = [(i, [float(x) for x in base[i]]) for i in range(200)]
    planted = set()
    for j in range(40):  # id 200+j ≈ copy of id j with 10% noise
        noisy = base[j] + 0.1 * rng.standard_normal(64)
        rows.append((200 + j, [float(x) for x in noisy]))
        planted.add((j, 200 + j))
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])

    got = near_dup_pairs_lsh(emb, threshold=0.8, n_planes=8, n_tables=16).collect()
    got_pairs = {(r.id_a, r.id_b) for r in got}
    recall = len(got_pairs & planted) / len(planted)
    assert recall >= 0.9, f"planted-pair recall {recall} too low"
    for r in got:  # verified similarity, never fabricated
        assert r.cos_sim >= 0.8
    # random non-planted pairs at dim 64 almost never reach 0.8 —
    # the emitted set should be essentially the planted set
    assert len(got_pairs - planted) <= 2


def test_salted_join_matches_plain_join(spark, sf_dir):
    """Salting changes placement, never matching: salted fact⋈dim must
    equal the plain join exactly."""
    from security_master_spark.operators.skew import salted_join

    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    plain = {
        (r.o_orderkey, r.c_name)
        for r in orders.join(customer, orders.o_custkey == customer.c_custkey)
        .select("o_orderkey", "c_name")
        .collect()
    }
    salted = {
        (r.o_orderkey, r.c_name)
        for r in salted_join(
            orders.withColumnRenamed("o_custkey", "c_custkey"),
            customer,
            on=["c_custkey"],
            salt=8,
        )
        .select("o_orderkey", "c_name")
        .collect()
    }
    assert salted == plain


def test_skewed_agg_matches_plain_agg(spark, sf_dir):
    from security_master_spark.operators.skew import skewed_agg

    li = load_table(spark, sf_dir, "lineitem")
    plain = {
        (r.l_returnflag, r.n, round(r.s, 4))
        for r in li.groupBy("l_returnflag")
        .agg(F.count("l_quantity").alias("n"), F.sum("l_quantity").alias("s"))
        .collect()
    }
    two_phase = {
        (r.l_returnflag, r.count_l_quantity, round(r.sum_l_quantity, 4))
        for r in skewed_agg(
            li, ["l_returnflag"], {"l_quantity": "count"}, salt=16
        )
        .join(
            skewed_agg(li, ["l_returnflag"], {"l_quantity": "sum"}, salt=16),
            "l_returnflag",
        )
        .collect()
    }
    assert two_phase == plain


def test_bucketed_join_has_no_shuffle(spark, sf_dir):
    """The whole point of bucketing: a sort-merge join of two tables
    bucketed on the join key needs no Exchange on either input (forced
    to SMJ with a merge hint — at fixture sizes Catalyst would rather
    broadcast, which is equally shuffle-free but proves nothing about
    the layout)."""
    from security_master_spark.plans.registry import queries

    # materialize the bucketed tables via the registered query
    queries()["io4_bucketed_join"](spark, sf_dir).collect()
    tag = "sf0_001"
    orders_b = spark.table(f"sms_orders_b_{tag}").hint("merge")
    cust_b = spark.table(f"sms_customer_b_{tag}")
    joined = orders_b.join(cust_b, orders_b.o_custkey == cust_b.c_custkey)
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan, f"merge hint ignored:\n{plan}"
    assert "Exchange" not in plan, (
        f"bucketed join still shuffles its inputs:\n{plan}"
    )


def test_connected_components_chain_and_islands(spark):
    """Min-label propagation must close a 5-node chain (diameter > 1
    iteration) and keep separate islands separate."""
    from security_master_spark.operators.clustering import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11), (20, 21), (21, 20)],
        "src long, dst long",
    )
    got = {
        (r.node, r.component) for r in connected_components(edges).collect()
    }
    want = {
        (1, 1), (2, 1), (3, 1), (4, 1), (5, 1),
        (10, 10), (11, 10),
        (20, 20), (21, 20),
    }
    assert got == want


def test_python_xxh64_matches_spark_xxhash64(spark):
    """The in-process hyperplane hash (functions/xxh64.py) must be
    bit-exact with Spark's ``xxhash64``: the ANN sign matrices and the
    l20 oracle's literal hyperplanes are both defined by it."""
    from security_master_spark.functions.xxh64 import xxhash64_ints

    rows = [
        (s, b, i)
        for s in (0, 7, 101, 108, -3)
        for b in range(3)
        for i in (0, 1, 63, 2**31 - 1, -(2**31))
    ]
    df = spark.createDataFrame(rows, "s int, b int, i int")
    got = df.select("s", "b", "i", F.xxhash64("s", "b", "i").alias("h")).collect()
    for r in got:
        assert r.h == xxhash64_ints(r.s, r.b, r.i), (r.s, r.b, r.i)


def test_simhash_agg_equals_column_form(spark, sf_dir):
    """The codegen-friendly explode→groupBy SimHash must be
    value-identical to the column-expression form, including for an
    empty document (all-zero fingerprint)."""
    from security_master_spark.datasets import load_table
    from security_master_spark.operators.dedup import simhash_agg

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    docs = docs.union(
        spark.createDataFrame([(999_999, "")], "doc_id long, text string")
    )
    col_form = {
        r.doc_id: r.sh
        for r in docs.select("doc_id", simhash(F.col("text")).alias("sh")).collect()
    }
    agg_form = {r.doc_id: r.simhash for r in simhash_agg(docs).collect()}
    assert agg_form == col_form


def test_dot_pandas_matches_hof_dot(spark, sf_dir):
    """The Arrow-batched dot (the documented ≫10⁶-pair scoring path)
    must agree with the sequential JVM fold to float tolerance."""
    from security_master_spark.datasets import load_table
    from security_master_spark.functions.vector import dot
    from security_master_spark.operators.similarity import _dot_pandas

    emb = load_table(spark, sf_dir, "embeddings").limit(50)
    pairs = emb.select(
        F.col("vec_id").alias("id_a"), F.col("embedding").alias("va")
    ).crossJoin(
        emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"))
    )
    pdot = _dot_pandas()
    rows = pairs.select(
        "id_a",
        "id_b",
        pdot(F.col("va"), F.col("vb")).alias("p"),
        dot(F.col("va"), F.col("vb")).alias("h"),
    ).collect()
    assert len(rows) == 2500
    for r in rows:
        assert abs(r.p - r.h) < 1e-9, (r.id_a, r.id_b, r.p, r.h)


def test_ewma_exact_matches_truncated_form(spark, sf_dir):
    """The sequential applyInPandas EWMA (operators/ewma.py) and the
    distributed truncated-contribution form (d16_ewma's shape) must
    agree: tightly when (1-alpha)^K is negligible (alpha=0.3, K=50 →
    1.8e-8), and within the documented truncation bound at the d16
    default (alpha=0.1 → tail mass 0.9^50 ≈ 0.5% of the value range)."""
    import pandas as pd

    from security_master_spark.operators.ewma import ewma_exact

    events = load_table(spark, sf_dir, "events").select(
        "event_type", "ts", "event_id", "value"
    )

    def truncated(pdf: pd.DataFrame, alpha: float, lags: int) -> pd.Series:
        # Pandas re-statement of d16's contribution sum (per series).
        x = pdf["value"].to_numpy()
        w = (1 - alpha) ** pd.RangeIndex(lags).to_numpy(dtype=float)
        num = pd.Series(x).rolling(lags, min_periods=1).apply(
            lambda v: (v[::-1] * w[: len(v)]).sum(), raw=True
        )
        den = pd.Series([w[: min(i + 1, lags)].sum() for i in range(len(x))])
        return num / den

    # tol = (1-alpha)^50 * value range (~500), the documented
    # truncation bound: 0.7^50*500 ≈ 9e-6; 0.9^50*500 ≈ 2.6.
    for alpha, tol in ((0.3, 1e-5), (0.1, 3.0)):
        out = (
            ewma_exact(
                events,
                keys=["event_type"],
                order_cols=["ts", "event_id"],
                value_col="value",
                alpha=alpha,
            )
            .toPandas()
            .sort_values(["event_type", "ts", "event_id"])
        )
        for _, grp in out.groupby("event_type"):
            approx = truncated(grp, alpha, 50)
            diff = (grp["ewma"].to_numpy() - approx.to_numpy()).__abs__()
            assert diff.max() < tol, (alpha, diff.max())


def test_ewma_exact_matches_pandas_reference(spark, sf_dir):
    """ewma_exact must equal pandas ewm(adjust=True) computed
    driver-side on the same ordered series — proves the groupBy
    sharding and in-batch ordering don't change the recurrence."""
    from security_master_spark.operators.ewma import ewma_exact

    events = load_table(spark, sf_dir, "events").select(
        "event_type", "ts", "event_id", "value"
    )
    got = (
        ewma_exact(
            events,
            keys=["event_type"],
            order_cols=["ts", "event_id"],
            value_col="value",
            alpha=0.2,
        )
        .toPandas()
        .sort_values(["event_type", "ts", "event_id"])
        .reset_index(drop=True)
    )
    want = (
        events.toPandas()
        .sort_values(["event_type", "ts", "event_id"])
        .reset_index(drop=True)
    )
    want["ewma"] = want.groupby("event_type")["value"].transform(
        lambda s: s.ewm(alpha=0.2, adjust=True).mean()
    )
    pd_diff = (got["ewma"] - want["ewma"]).abs().max()
    assert pd_diff < 1e-9, pd_diff


def test_quantization_error_bounded_by_half_step(spark):
    """l40's int8 grid: reconstruction error must be <= scale/2 for
    any component inside the clamp range, and exactly |v| - 127*scale
    beyond it — checked on a synthetic frame that covers both regimes
    (the fixture embeddings never leave the clamp range)."""
    from pyspark.sql import functions as F

    from security_master_spark.plans.llm8 import _Q_SCALE

    vals = [0.0, 0.049, -0.051, 1.23, -3.3, 12.6999, 13.5, -99.0]
    df = spark.createDataFrame([(v,) for v in vals], ["v"])
    q = F.greatest(
        F.lit(-127.0), F.least(F.lit(127.0), F.floor(F.col("v") / _Q_SCALE + 0.5))
    )
    out = df.select("v", F.abs(F.col("v") - _Q_SCALE * q).alias("e")).collect()
    for r in out:
        if abs(r.v) <= 127 * _Q_SCALE:
            assert r.e <= _Q_SCALE / 2 + 1e-12, (r.v, r.e)
        else:
            assert abs(r.e - (abs(r.v) - 127 * _Q_SCALE)) < 1e-9, (r.v, r.e)


def test_stochastic_oscillator_bounds_and_obv_consistency(spark, sf_dir):
    """%K/%D must lie in [0, 100] wherever defined (NULL only for flat
    14-day ranges), and OBV's last row per series must equal the sum
    of its signed daily volumes — cheap invariants the hash-oracle
    can't express."""
    from pyspark.sql import functions as F

    from security_master_spark.plans.domain7 import (
        d29_stochastic_oscillator,
        d31_obv,
    )

    k = d29_stochastic_oscillator(spark, sf_dir)
    bad = k.filter(
        (F.col("pct_k") < -1e-9) | (F.col("pct_k") > 100 + 1e-9)
        | (F.col("pct_d") < -1e-9) | (F.col("pct_d") > 100 + 1e-9)
    ).count()
    assert bad == 0

    obv = d31_obv(spark, sf_dir)
    w_last = obv.groupBy("event_type").agg(
        F.max_by("obv", "day").alias("final_obv")
    )
    # reconstruct the same total independently: sum of signed deltas
    totals = {
        r.event_type: r.final_obv for r in w_last.collect()
    }
    assert len(totals) > 0
    # a series that only ever ticked up would equal total volume minus
    # its first day; all we can assert generically is boundedness:
    vol = {
        r.event_type: r.total
        for r in obv.groupBy("event_type")
        .agg(F.sum("volume").alias("total"))
        .collect()
    }
    for et, final in totals.items():
        assert abs(final) <= vol[et], (et, final, vol[et])


def test_ewma_distributed_matches_sequential_across_partitionings(spark, sf_dir):
    """The segmented-scan EWMA must agree with the sequential
    applyInPandas twin TO FLOAT PRECISION for every row, at several
    partition counts — including counts that force chunk boundaries
    mid-series (the whole point of the affine carry composition)."""
    from security_master_spark.datasets import load_table
    from security_master_spark.operators.ewma import (
        ewma_exact,
        ewma_exact_distributed,
    )

    events = load_table(spark, sf_dir, "events").select(
        "event_type", "ts", "event_id", "value"
    )
    ref = {
        (r.event_type, r.event_id): r.ewma
        for r in ewma_exact(
            events, ["event_type"], ["ts", "event_id"], "value", alpha=0.1
        ).collect()
    }
    assert len(ref) > 0
    for parts in (1, 7, 32):
        got = {
            (r.event_type, r.event_id): r.ewma
            for r in ewma_exact_distributed(
                events,
                ["event_type"],
                ["ts", "event_id"],
                "value",
                alpha=0.1,
                num_partitions=parts,
            ).collect()
        }
        assert set(got) == set(ref)
        worst = max(abs(got[k] - ref[k]) for k in ref)
        assert worst < 1e-9, f"partitions={parts}: max drift {worst}"


def test_forward_fill_distributed_matches_window(spark, sf_dir):
    """The segmented-scan forward-fill must agree exactly with the
    windowed form on the gapped fixture series at several partition
    counts, including leading-null chunks that need the carried
    state."""
    from pyspark.sql import functions as F

    from security_master_spark.datasets import load_table
    from security_master_spark.operators.scan import forward_fill_distributed
    from security_master_spark.operators.timeseries import forward_fill

    events = load_table(spark, sf_dir, "events")
    gapped = events.select(
        "event_id",
        "user_id",
        "ts",
        F.when(F.col("event_type") == "error", None)
        .otherwise(F.col("value"))
        .alias("v"),
    )
    ref = {
        r.event_id: r.v
        for r in forward_fill(
            gapped, keys=["user_id"], ts="ts", cols=["v"]
        ).collect()
    }
    for parts in (1, 5, 32):
        got = {
            r.event_id: r.v
            for r in forward_fill_distributed(
                gapped,
                ["user_id"],
                ["ts", "event_id"],
                "v",
                num_partitions=parts,
            ).collect()
        }
        assert got == ref, f"partitions={parts}"


# ---------------------------------------------------------------------------
# DataSketches tolerance invariants (a20/a21 are driver-weak: DuckDB has
# no DataSketches, so exactness evidence lives here)


def test_kll_estimate_within_tolerance(spark, sf_dir_mid):
    """Merged-from-partials KLL quantiles must track the exact
    interpolated percentiles. KLL with default k guarantees ~1.7%
    rank error at 99% confidence; assert the VALUE error stays inside
    5% on the fixture distribution (wide slack over the rank bound —
    this is a merge-wiring test, not a sketch-quality benchmark: a
    transposed quantile or a dropped partial lands ~50% off)."""
    from security_master_spark.plans.registry import queries

    row = queries()["a20_kll_quantile_merge"](spark, sf_dir_mid).collect()[0]
    assert row.n_partials > 1, "merge step must fold >1 partial sketch"
    for est, exact in ((row.kll_p50, row.exact_p50), (row.kll_p95, row.exact_p95)):
        assert abs(est - exact) / exact < 0.05, (est, exact)


def test_theta_set_algebra_within_tolerance(spark, sf_dir_mid):
    """Theta union/intersection estimates must track exact distinct
    counts. At 150 distinct users the sketch is in exact mode (below
    k=4096 retained hashes), so union == exact union and the overlap
    matches the exact |view ∩ purchase| computed relationally."""
    from security_master_spark.plans.registry import queries

    row = queries()["a21_theta_sketch_sets"](spark, sf_dir_mid).collect()[0]
    assert row.est_viewers == row.exact_viewers
    assert row.est_buyers == row.exact_buyers
    ev = load_table(spark, sf_dir_mid, "events")
    viewers = ev.filter(F.col("event_type") == "view").select("user_id").distinct()
    buyers = ev.filter(F.col("event_type") == "purchase").select("user_id").distinct()
    exact_overlap = viewers.intersect(buyers).count()
    exact_union = viewers.union(buyers).distinct().count()
    assert row.est_overlap == exact_overlap
    assert row.est_union == exact_union


def test_observed_metrics_match_result(spark, sf_dir_mid):
    """dq3's observe counters must agree with independently computed
    values: rows_in == the filtered row count, null_qty == 0 on the
    fixtures, and the revenue checksum must equal the sum of the
    result's per-group revenue (the observation rides the SAME pass
    that produced the result — if these diverge, the metric is
    reading a different stream than the answer)."""
    from pyspark.sql import Observation

    from security_master_spark.plans import relational2

    li = load_table(spark, sf_dir_mid, "lineitem").filter(
        F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp")
    )
    expected_rows = li.count()
    expected_rev = li.agg(
        F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    ).collect()[0][0]

    obs = Observation("check")
    observed = li.observe(
        obs,
        F.count(F.lit(1)).alias("rows_in"),
        F.count(F.when(F.col("l_quantity").isNull(), 1)).alias("null_qty"),
        F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
            "rev_checksum"
        ),
    )
    result = observed.groupBy("l_returnflag").agg(
        F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev")
    ).collect()
    m = obs.get
    assert m["rows_in"] == expected_rows
    assert m["null_qty"] == 0
    assert abs(m["rev_checksum"] - expected_rev) < 1e-6
    assert abs(sum(r.rev for r in result) - m["rev_checksum"]) < 1e-4


def test_pca_spectral_contract(spark, sf_dir_mid):
    """The full spectral contract for operators/pca.py, verified
    against the SQL-certified l47 covariance: components orthonormal,
    eigenvalues ordered/nonnegative, per-vector projection variances
    equal to the eigenvalues, and total variance equal to the
    covariance trace."""
    import math

    from security_master_spark.operators.pca import (
        covariance_matrix,
        principal_components,
        project,
    )

    emb = load_table(spark, sf_dir_mid, "embeddings")
    comps, vals, total_var = principal_components(emb, "embedding", k=2)

    # Orthonormal basis, deterministic sign.
    n1 = math.sqrt(sum(x * x for x in comps[0]))
    n2 = math.sqrt(sum(x * x for x in comps[1]))
    dot12 = sum(a * b for a, b in zip(comps[0], comps[1]))
    assert abs(n1 - 1) < 1e-9 and abs(n2 - 1) < 1e-9
    assert abs(dot12) < 1e-9
    for v in comps:
        assert v[max(range(len(v)), key=lambda i: abs(v[i]))] > 0

    # Eigenvalues ordered, nonnegative, bounded by the trace.
    assert vals[0] >= vals[1] >= -1e-12
    trace = sum(
        r["cov"]
        for r in covariance_matrix(emb, "embedding").collect()
        if r["i"] == r["j"]
    )
    assert abs(trace - total_var) < 1e-9
    assert vals[0] + vals[1] <= trace + 1e-9

    # Projection variance onto component k IS the k-th eigenvalue
    # (population variance, matching covariance_matrix's /n form).
    proj = emb.select(
        project(F.col("embedding"), comps[0]).alias("p1"),
        project(F.col("embedding"), comps[1]).alias("p2"),
    )
    row = proj.agg(
        F.var_pop("p1").alias("v1"), F.var_pop("p2").alias("v2")
    ).collect()[0]
    assert abs(row["v1"] - vals[0]) < 1e-9 * max(1.0, vals[0])
    assert abs(row["v2"] - vals[1]) < 1e-9 * max(1.0, vals[1])


def test_approx_count_distinct_within_rsd(spark, sf_dir_mid):
    """a8's HLL estimates must sit within ~5x the declared 2% relative
    standard deviation of the in-row exact anchor for every group —
    the tolerance contract behind the weak (oracle-less) driver check."""
    from security_master_spark.plans import aggregates  # registration

    from security_master_spark.plans.registry import queries

    rows = queries()["a8_approx_count_distinct"](spark, sf_dir_mid).collect()
    assert rows
    for r in rows:
        rel = abs(r.approx_users - r.exact_users) / max(1, r.exact_users)
        assert rel <= 0.10, (
            f"{r.event_type}: approx {r.approx_users} vs exact "
            f"{r.exact_users} (rel err {rel:.3f})"
        )


def test_approx_percentile_within_tolerance(spark, sf_dir_mid):
    """a13's t-digest medians/p95s must land within 2% relative error
    of the exact interpolated percentiles on the same column — the
    tolerance contract behind the weak driver check (a10 proves the
    exact pairing cross-engine; this pins sketch-vs-exact)."""
    from security_master_spark.plans.registry import queries

    approx = {
        r.c_mktsegment: r
        for r in queries()["a13_approx_percentile"](spark, sf_dir_mid).collect()
    }
    cust = load_table(spark, sf_dir_mid, "customer")
    exact = {
        r.c_mktsegment: r
        for r in cust.groupBy("c_mktsegment")
        .agg(
            F.percentile("c_acctbal", 0.5).alias("m"),
            F.percentile("c_acctbal", 0.95).alias("p95"),
        )
        .collect()
    }
    assert approx.keys() == exact.keys() and approx
    for seg, a in approx.items():
        e = exact[seg]
        span = max(1.0, abs(e.p95))
        assert abs(a.approx_median - e.m) / span <= 0.02
        assert abs(a.approx_p95 - e.p95) / span <= 0.02


def test_isin_luhn_on_real_world_identifiers(spark):
    """The generic expression-level ISIN validator must agree with
    published real-world check digits (ISO 6166 Luhn over the base-36
    expansion) and reject a single-digit corruption."""
    from security_master_spark.functions.identifiers import isin_is_valid

    cases = [
        ("US5949181045", True),   # Microsoft
        ("US0378331005", True),   # Apple
        ("GB0002634946", True),   # BAE Systems
        ("DE0007164600", True),   # SAP
        ("US5949181044", False),  # corrupted check digit
        ("US5949181055", False),  # corrupted body digit
    ]
    df = spark.createDataFrame(cases, "isin string, want boolean")
    rows = df.select("isin", "want", isin_is_valid(F.col("isin")).alias("got")).collect()
    for r in rows:
        assert r.got == r.want, r.isin


def test_catalog_surface(spark, sf_dir):
    """Catalog API surface: temp-view registration, SHOW/DESCRIBE
    metadata queries, cache/uncache lifecycle — the administrative
    layer users script against."""
    from security_master_spark.datasets import load_tables

    load_tables(spark, sf_dir)
    names = {t.name for t in spark.catalog.listTables()}
    assert {"orders", "lineitem", "documents"} <= names
    cols = {c.name for c in spark.catalog.listColumns("orders")}
    assert "o_orderkey" in cols and "o_totalprice" in cols
    shown = {r.tableName for r in spark.sql("SHOW TABLES").collect()}
    assert "orders" in shown
    desc = {r.col_name for r in spark.sql("DESCRIBE TABLE orders").collect()}
    assert "o_orderdate" in desc
    spark.sql("CACHE TABLE orders")
    try:
        assert spark.catalog.isCached("orders")
    finally:
        spark.sql("UNCACHE TABLE orders")
    assert not spark.catalog.isCached("orders")


def test_skyline_duplicate_and_tie_semantics(spark, sf_dir):
    """Skyline dominance edge cases on a handcrafted frontier:
    duplicate points (neither dominates — BOTH stay), an equal-size
    strictly-cheaper point (dominates), an equal-price larger-size
    point (dominates), verified against a brute-force reference."""
    import itertools

    from security_master_spark.plans import relational3  # registration
    from security_master_spark.plans.registry import queries

    pts = [
        (1, 10.0, 5),   # cheapest, duplicated
        (2, 10.0, 5),   # duplicate of 1 — both must stay
        (3, 10.0, 3),   # same price, smaller size → dominated by 1/2
        (4, 12.0, 5),   # equal size, strictly pricier → dominated
        (5, 12.0, 7),   # bigger size at higher price → skyline
        (6, 15.0, 7),   # equal size, pricier than 5 → dominated
        (7, 15.0, 9),   # skyline
    ]
    df = spark.createDataFrame(
        pts, "p_partkey long, p_retailprice double, p_size int"
    ).withColumn("p_name", F.lit("x")).withColumn("p_brand", F.lit("x")) \
     .withColumn("p_type", F.lit("x"))
    import tempfile

    d = tempfile.mkdtemp(prefix="skyline_case")
    df.coalesce(1).write.mode("overwrite").parquet(f"{d}/part.parquet")
    for t in ("region", "nation", "customer", "supplier", "orders",
              "lineitem", "events", "documents", "embeddings"):
        spark.read.parquet(f"{sf_dir}/{t}.parquet").limit(0).write.mode(
            "overwrite"
        ).parquet(f"{d}/{t}.parquet")

    got = {
        r.p_partkey
        for r in queries()["q22_skyline"](spark, d).collect()
    }

    def dominated(a, b):  # b dominates a
        return (
            b[1] <= a[1] and b[2] >= a[2] and (b[1] < a[1] or b[2] > a[2])
        )

    want = {
        a[0]
        for a in pts
        if not any(dominated(a, b) for b in pts if b is not a)
    }
    assert want == {1, 2, 5, 7}
    assert got == want


def test_hll_builtin_union_within_tolerance(spark, sf_dir_mid):
    """a24's built-in HLL union estimate must land within 5% of the
    in-row exact anchor (default lgConfigK=12 → ~1.6% rsd)."""
    from security_master_spark.plans.registry import queries

    r = queries()["a24_hll_partial_union"](spark, sf_dir_mid).collect()[0]
    rel = abs(r.est_total_users - r.exact_total_users) / max(
        1, r.exact_total_users
    )
    assert rel <= 0.05, (r.est_total_users, r.exact_total_users)
    # sanity: per-type sum >= corpus distinct (users span types)
    assert r.sum_per_type_exact >= r.exact_total_users

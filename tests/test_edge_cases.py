"""Regression tests for round-1 ADVICE findings: edge-case inputs that
certainly occur at corpus scale (short/empty documents, zero vectors,
zero prior values) must degrade to empty/NULL, never abort the job
under the session's ANSI mode (Spark 4 default).
"""

from __future__ import annotations

import warnings

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from security_master_spark.functions.text import shingles
from security_master_spark.functions.vector import cosine, normalize
from security_master_spark.operators.clustering import connected_components
from security_master_spark.operators.dedup import (
    minhash_signature,
    near_dedup_minhash,
)
from security_master_spark.operators.intervals import interval_join
from security_master_spark.operators.timeseries import pct_change


def test_shingles_short_and_empty_docs(spark):
    # Docs with < n tokens used to throw INVALID_PARAMETER_VALUE.START
    # (sequence(1, k<=0) is DESCENDING by default) — they must yield [].
    df = spark.createDataFrame(
        [("", ), ("one", ), ("one two", ), ("one two three", ),
         ("one two three four", )],
        ["text"],
    )
    rows = (
        df.select(shingles(F.col("text"), n=3).alias("sh"))
        .collect()
    )
    got = [r.sh for r in rows]
    assert got[0] == []          # empty text
    assert got[1] == []          # 1 token
    assert got[2] == []          # 2 tokens
    assert got[3] == ["one two three"]
    assert got[4] == ["one two three", "two three four"]


def test_near_dedup_survives_short_docs(spark):
    # The advertised dedup path (minhash over shingles) on a corpus that
    # includes empty/short docs: must run end-to-end; short docs are not
    # near-dups of anything and survive the anti-join untouched.
    docs = spark.createDataFrame(
        [
            (1, "a b c d e f g h i j k l m n o p"),
            (2, "a b c d e f g h i j k l m n o q"),  # near-dup of 1
            (3, "x"),
            (4, ""),
            (5, "totally different words entirely here now ok yes"),
        ],
        ["doc_id", "text"],
    )
    kept = {
        r.doc_id
        for r in near_dedup_minhash(docs, threshold=0.5, num_hashes=16,
                                    bands=8).select("doc_id").collect()
    }
    assert {3, 4, 5} <= kept      # short docs never crash nor get dropped
    assert kept & {1, 2} == {1}   # the near-dup pair collapsed to min id
    # The column-expression signature on a short doc is the neutral
    # (all-modulus) init vector — defined, not an error.
    sig = (
        spark.createDataFrame([("two words",)], ["text"])
        .select(minhash_signature(F.col("text"), num_hashes=4).alias("sig"))
        .collect()[0]
        .sig
    )
    assert len(sig) == 4


def test_cosine_and_normalize_zero_vector_yield_null(spark):
    df = spark.createDataFrame(
        [(1, [1.0, 0.0], [0.0, 0.0]), (2, [1.0, 0.0], [0.0, 1.0])],
        ["id", "a", "b"],
    )
    out = df.select(
        "id",
        cosine(F.col("a"), F.col("b")).alias("cos"),
        normalize(F.col("b")).alias("nb"),
    ).orderBy("id").collect()
    assert out[0].cos is None            # zero-norm → NULL, not DIVIDE_BY_ZERO
    assert out[0].nb == [None, None]     # components NULL via try_divide
    assert out[1].cos == pytest.approx(0.0)
    assert out[1].nb == [0.0, 1.0]


def test_pct_change_zero_prior_yields_null(spark):
    df = spark.createDataFrame(
        [Row(k="a", t=1, v=0.0), Row(k="a", t=2, v=5.0), Row(k="a", t=3, v=10.0)]
    )
    out = (
        pct_change(df, keys=["k"], ts="t", col="v")
        .orderBy("t")
        .collect()
    )
    assert out[0].pct_change is None     # no prior
    assert out[1].pct_change is None     # prior == 0 → NULL, not crash
    assert out[2].pct_change == pytest.approx(1.0)


def test_interval_join_left_shape_matches_inner(spark):
    fact = spark.createDataFrame(
        [(1, 5.0), (1, 50.0), (2, 5.0)], ["k", "ts"]
    )
    dim = spark.createDataFrame(
        [(1, 0.0, 10.0, "x")], ["k", "valid_from", "valid_to", "tag"]
    )
    inner = interval_join(fact, dim, on=["k"], ts="ts",
                          valid_from="valid_from", valid_to="valid_to",
                          how="inner")
    left = interval_join(fact, dim, on=["k"], ts="ts",
                         valid_from="valid_from", valid_to="valid_to",
                         how="left")
    # Same column shape both modes — and the key must be referencable
    # downstream without AMBIGUOUS_REFERENCE.
    assert left.columns == inner.columns
    got = {(r.k, r.ts): r.tag for r in left.select("k", "ts", "tag").collect()}
    assert got == {(1, 5.0): "x", (1, 50.0): None, (2, 5.0): None}


def test_merge_upsert_semantics(spark):
    """MERGE contract: matched keys take the update row, unmatched
    update rows insert, delete-flagged matches disappear, untouched
    target rows pass through — and the plan is one shuffle (union +
    window), not a join."""
    from security_master_spark.operators.merge import merge_upsert

    target = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], ["k", "s", "v"]
    )
    updates = spark.createDataFrame(
        [(2, "B", 99.0, False), (4, "d", 40.0, False), (3, "c", 0.0, True)],
        ["k", "s", "v", "del"],
    )
    out = merge_upsert(target, updates, keys=["k"], delete_col="del")
    got = {r.k: (r.s, r.v) for r in out.collect()}
    assert got == {
        1: ("a", 10.0),   # untouched
        2: ("B", 99.0),   # matched → update wins
        4: ("d", 40.0),   # not matched → insert
    }                     # 3 deleted
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan, "merge must be union+window, not a join"
    # One Exchange per union branch (Spark plans the key partitioning
    # below the Union): every row crosses the wire exactly once.
    assert plan.count("Exchange") <= 2, "merge must move each row once"


def test_upsert_parquet_snapshot_versions(spark, tmp_path):
    """Copy-on-write cycle: v1 = initial load, v2 = merged; the old
    snapshot stays intact on disk after the upsert."""
    from security_master_spark.operators.merge import (
        latest_snapshot_version,
        snapshot_path,
        upsert_parquet_snapshot,
    )

    base_dir = str(tmp_path / "ds")
    t = spark.createDataFrame([(1, 10.0), (2, 20.0)], ["k", "v"])
    upsert_parquet_snapshot(spark, base_dir, t, keys=["k"])
    u = spark.createDataFrame([(2, 99.0), (3, 30.0)], ["k", "v"])
    merged = upsert_parquet_snapshot(spark, base_dir, u, keys=["k"])
    assert latest_snapshot_version(spark, base_dir) == 2
    assert {(r.k, r.v) for r in merged.collect()} == {(1, 10.0), (2, 99.0), (3, 30.0)}
    v1 = spark.read.parquet(snapshot_path(base_dir, 1))
    assert {(r.k, r.v) for r in v1.collect()} == {(1, 10.0), (2, 20.0)}


def test_connected_components_warns_on_non_convergence(spark):
    # A 9-node chain cannot converge in 1 pointer-jumping round.
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 9)], ["src", "dst"]
    )
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        connected_components(edges, max_iterations=1)
        assert any("no convergence" in str(x.message) for x in w)
    # And with enough rounds it converges silently to one component.
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        out = connected_components(edges, max_iterations=20)
        comps = {r.component for r in out.collect()}
        assert comps == {1}
        assert not any("no convergence" in str(x.message) for x in w)


def test_l29_min_count_floor_routes_rare_tokens_to_oov(spark, tmp_path):
    # The driver fixtures use a closed 31-token vocabulary where every
    # token clears the _MIN_COUNT floor, so the sf mirrors never
    # exercise the OOV bucket. This corpus does: tf = {a: 4, b: 2,
    # c: 1}, so with _MIN_COUNT=3 the vocab is {a} and b/c collapse
    # into an OOV bucket of mass 3. Expectations are hand-computed.
    import math

    import pandas as pd

    from security_master_spark.plans.llm_text import (
        _MIN_COUNT,
        l29_unigram_surprisal,
    )

    assert _MIN_COUNT == 3  # expectations below assume this floor
    pd.DataFrame(
        {"doc_id": [1, 2], "text": ["a a a b", "a b c"]}
    ).to_parquet(tmp_path / "documents.parquet")

    out = {
        r.doc_id: (r.n_tokens, r.avg_surprisal_bits)
        for r in l29_unigram_surprisal(spark, str(tmp_path)).collect()
    }
    s_a = -math.log2(4 / 7)    # in-vocab: p = tf/total
    s_oov = -math.log2(3 / 7)  # OOV: p = floored_mass/total
    assert out[1][0] == 4
    assert out[1][1] == round((3 * s_a + s_oov) / 4, 6)
    assert out[2][0] == 3
    assert out[2][1] == round((s_a + 2 * s_oov) / 3, 6)


def test_inline_trigram_sql_guards_short_docs(spark):
    # Round-8 ADVICE (medium): llm_text.py and llm_dedup.py spell
    # trigram expansion as inline SQL rather than
    # functions.text.shingles_of; their old
    # sequence(1, greatest(size(t)-2, 0)) yields DESCENDING [1, 0]
    # for <3-token docs (index -1 / size under ANSI, spurious grams
    # otherwise). The guarded spelling used there must
    # yield [] for short docs and exact trigrams otherwise.
    guarded = (
        "TRANSFORM(CASE WHEN size(t) >= 3 "
        "THEN sequence(1, size(t) - 2) "
        "ELSE CAST(array() AS array<int>) END, "
        "g -> concat_ws(' ', t[g - 1], t[g], t[g + 1]))"
    )
    df = spark.createDataFrame(
        [("",), ("one",), ("one two",), ("one two three",),
         ("one two three four",)],
        ["text"],
    ).select(F.split("text", " ").alias("t"))
    got = [r.g for r in df.select(F.expr(guarded).alias("g")).collect()]
    assert got[0] == []   # split("") -> [""], 1 token
    assert got[1] == []
    assert got[2] == []
    assert got[3] == ["one two three"]
    assert got[4] == ["one two three", "two three four"]

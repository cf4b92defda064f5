"""LLM training-data dedup and search (SURVEY.md §2.12) over the
documents/embeddings fixtures: exact, fingerprint, MinHash-LSH,
SimHash and n-gram dedup, cosine/kNN/ANN search, language ID, and the
corpus panels built on them (vocabulary overlap, survivorship,
split leakage, LSH precision/recall, dedup cluster profile).

Oracle strategy: everything built from md5/relational primitives gets
a full DuckDB oracle; xxhash64-based sketches (MinHash/SimHash) are
engine-specific → weak checks here + property tests in
tests/test_operators.py (candidate-containment vs exact Jaccard).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from security_master_spark.datasets import fan_out, load_table
from security_master_spark.functions.rounding import dround, sql_dround
from security_master_spark.functions.text import (
    QUALITY_SQL,
    distinct_tokens,
    quality_score,
    tokens,
)
from security_master_spark.functions.text import stopword_rows as _stopword_rows
from security_master_spark.operators.dedup import (
    _MERSENNE31,
    fingerprint_dedup,
    lsh_candidate_pairs,
    simhash_fp_ctes,
    simhash_md5_agg,
)
from security_master_spark.operators.similarity import (
    knn_per_group,
    near_dup_pairs_lsh,
)
from security_master_spark.plans.registry import register


@register(
    "l1_exact_dedup_groups",
    oracle="""
    SELECT MD5(text) AS fp,
           MIN(doc_id) AS keeper_id,
           COUNT(*) AS n_copies,
           MIN(n_chars) AS n_chars
    FROM documents
    GROUP BY MD5(text)
    """,
)
def l1_exact_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-duplicate groups keyed by content fingerprint: the shuffle
    key is 16-byte md5, not the document bytes — the 100 TB-safe form."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy(F.md5("text").alias("fp"))
        .agg(
            F.min("doc_id").alias("keeper_id"),
            F.count("*").alias("n_copies"),
            F.min("n_chars").alias("n_chars"),
        )
    )


@register(
    "l2_fingerprint_dedup",
    oracle="""
    SELECT doc_id, lang, source
    FROM documents
    WHERE doc_id IN (
        SELECT MIN(doc_id) FROM documents GROUP BY MD5(text)
    )
    """,
)
def l2_fingerprint_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows surviving fingerprint dedup (keep smallest doc_id per md5)."""
    docs = load_table(spark, sf_dir, "documents")
    return fingerprint_dedup(docs).select("doc_id", "lang", "source")


@register(
    "l3_token_stats",
    oracle="""
    WITH tok AS (
        SELECT doc_id, t.token AS token
        FROM documents, UNNEST(string_split(text, ' ')) AS t(token)
    )
    SELECT token,
           COUNT(*) AS tf,
           COUNT(DISTINCT doc_id) AS df
    FROM tok
    GROUP BY token
    ORDER BY tf DESC, token
    LIMIT 50
    """,
)
def l3_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus term/document frequencies, top-50 terms. explode → two
    aggregations; at scale tf and df come from one shuffle each with
    partial aggregation map-side."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("token"))
    return (
        tok.groupBy("token")
        .agg(F.count("*").alias("tf"), F.countDistinct("doc_id").alias("df"))
        .orderBy(F.desc("tf"), F.asc("token"))
        .limit(50)
    )


@register(
    "l4_jaccard_pairs",
    oracle=f"""
    WITH tok AS (
        SELECT DISTINCT doc_id, t.token AS token
        FROM documents, UNNEST(string_split_regex(trim(text), '\\s+')) AS t(token)
        WHERE doc_id <= 30
    ), sizes AS (
        SELECT doc_id, COUNT(*) AS n FROM tok GROUP BY doc_id
    ), inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
        FROM tok a JOIN tok b ON a.token = b.token AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT id_a, id_b,
           {sql_dround("n_common * 1.0 / (sa.n + sb.n - n_common)", 6)} AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    """,
)
def l4_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact token-set Jaccard over all pairs of a 30-doc slice.
    Spark side uses array set ops on token arrays; oracle recomputes
    relationally — two independent formulations of the same measure."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") <= 30)
    toks = docs.select("doc_id", distinct_tokens(F.col("text")).alias("toks"))
    a = toks.select(F.col("doc_id").alias("id_a"), F.col("toks").alias("toks_a"))
    b = toks.select(F.col("doc_id").alias("id_b"), F.col("toks").alias("toks_b"))
    pairs = a.join(b, F.col("id_a") < F.col("id_b"))
    inter = F.size(F.array_intersect("toks_a", "toks_b"))
    union = F.size(F.array_union("toks_a", "toks_b"))
    return pairs.select(
        "id_a",
        "id_b",
        # try_divide: two empty token sets make the union empty; the
        # inter > 0 filter already drops those pairs, but the division
        # must not be able to crash before the filter runs.
        dround(
            F.try_divide(inter.cast("double"), union.cast("double")), 6
        ).alias("jaccard"),
    ).filter(inter > 0)


@register(
    "l5_cosine_topk",
    oracle=f"""
    WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
         scored AS (
             SELECT vec_id,
                    list_dot_product(embedding::DOUBLE[], q.qv)
                    / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
                       * sqrt(list_dot_product(q.qv, q.qv))) AS cs
             FROM embeddings, q
             WHERE vec_id != 0
         )
    SELECT vec_id, {sql_dround("cs", 6)} AS cos_sim
    FROM scored
    ORDER BY cs DESC, vec_id
    LIMIT 10
    """,
)
def l5_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 against the vec_id=0 query vector —
    the exactness baseline for ANN. Query vector joined as a broadcast
    (1 row), dot products fold JVM-side, TakeOrderedAndProject top-k."""
    emb = load_table(spark, sf_dir, "embeddings")
    vec = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    q = emb.filter(F.col("vec_id") == 0).select(vec.alias("qv"))
    dot_qv = F.aggregate(
        F.zip_with(vec, F.col("qv"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    norm_v = F.sqrt(
        F.aggregate(
            F.transform(vec, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x
        )
    )
    norm_q = F.sqrt(
        F.aggregate(
            F.transform(F.col("qv"), lambda x: x * x),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    return (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            # try_divide: an all-zero embedding has norm 0 — cosine is
            # undefined (NULL), not a job crash.
            "vec_id",
            dround(F.try_divide(dot_qv, norm_v * norm_q), 6).alias(
                "cos_sim"
            ),
        )
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(10)
    )


@register(
    "l6_knn_per_label",
    oracle=f"""
    WITH pairs AS (
        SELECT a.label, a.vec_id AS id_a, b.vec_id AS id_b,
               list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
               / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
                  * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))) AS cs
        FROM embeddings a JOIN embeddings b
          ON a.label = b.label AND a.vec_id != b.vec_id
        WHERE a.vec_id <= 200
    ), ranked AS (
        SELECT label, id_a, id_b, cs,
               ROW_NUMBER() OVER (PARTITION BY label, id_a ORDER BY cs DESC, id_b) AS rn
        FROM pairs
    )
    SELECT label, id_a, id_b, {sql_dround("cs", 6)} AS cos_sim
    FROM ranked WHERE rn <= 3
    """,
)
def l6_knn_per_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-NN per vector blocked by label (trivial IVF cell): crossJoin
    confined within groups, window top-k on (label, id)."""
    emb = load_table(spark, sf_dir, "embeddings")
    out = knn_per_group(
        emb.filter(F.col("vec_id") <= 200).unionByName(
            load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") > 200)
        ),
        group_col="label",
        k=3,
    )
    # restrict query side to vec_id <= 200 but keep full candidate pool
    return out.filter(F.col("id_a") <= 200).select(
        "label", "id_a", "id_b", dround(F.col("cos_sim"), 6).alias("cos_sim")
    )


def _minhash_oracle_sql(
    num_hashes: int = 32, bands: int = 8, shingle_n: int = 3
) -> str:
    """DuckDB recomputation of the ENTIRE determinized MinHash+LSH
    candidate generation: 3-gram shingles via generate_series over the
    token list, md5-derived 31-bit shingle hashes, the same seeded
    (a·h+b) mod 2³¹−1 permutation minima, md5-hex band keys, bucket
    self-join — no Spark-specific hash anywhere (round-6 upgrade; was
    rows-only for four rounds)."""
    from security_master_spark.operators.dedup import (
        _MERSENNE31,
        _perm_constants,
    )

    consts = _perm_constants(num_hashes)
    rows = num_hashes // bands
    mins = ",\n               ".join(
        f"MIN(({a} * h + {b}) % {_MERSENNE31}) AS s{i}"
        for i, (a, b) in enumerate(consts)
    )
    band_cases = "\n                 ".join(
        "WHEN {b} THEN md5(concat_ws(',', {cols}))".format(
            b=b,
            cols=", ".join(f"s{b * rows + r}" for r in range(rows)),
        )
        for b in range(bands)
    )
    band_rows = ", ".join(f"({b})" for b in range(bands))
    shingle_expr = " || ' ' || ".join(
        f"t[g + {i}]" if i else "t[g]" for i in range(shingle_n)
    )
    return f"""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), grams AS (
        SELECT doc_id, t,
               UNNEST(generate_series(1, len(t) - {shingle_n - 1})) AS g
        FROM toks
    ), hashed AS (
        SELECT doc_id,
               ('0x' || substr(md5({shingle_expr}), 1, 8))::BIGINT
                   % {_MERSENNE31} AS h
        FROM grams
    ), sig AS (
        SELECT doc_id, {mins}
        FROM hashed GROUP BY doc_id
    ), banded AS (
        SELECT doc_id, band_idx,
               CASE band_idx
                 {band_cases}
               END AS band_hash
        FROM sig, (VALUES {band_rows}) AS bi(band_idx)
    )
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM banded a JOIN banded b
      ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
         AND a.doc_id < b.doc_id
    """


@register("l7_minhash_lsh_candidates", oracle=_minhash_oracle_sql())
def l7_minhash_lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH banding candidate pairs (32 hashes, 8 bands), determinized:
    md5-derived shingle hashes + md5-hex band keys mean the full
    banding pipeline is recomputable in SQL, so this query carries a
    complete DuckDB oracle (candidate SET equality, not just counts) —
    the a26/g3/l8 determinize-the-sketch discipline. Containment
    within high-Jaccard ground truth remains property-tested in
    tests/test_operators.py."""
    docs = load_table(spark, sf_dir, "documents")
    return lsh_candidate_pairs(docs, num_hashes=32, bands=8)


def _simhash_oracle_sql() -> str:
    """DuckDB recomputation of the md5-plane SimHash (shared fp CTEs,
    operators/dedup.py:simhash_fp_ctes) + corpus-min reference +
    Hamming — no Spark involved."""
    from security_master_spark.operators.dedup import simhash_fp_ctes

    return f"""
    WITH {simhash_fp_ctes()}, ref AS (
        SELECT MIN(simhash) AS ref FROM fp
    )
    SELECT f.doc_id, f.simhash,
           CAST(bit_count(xor(f.simhash, r.ref)) AS INT) AS hamming_to_ref
    FROM fp f, ref r
    """


@register("l8_simhash_fingerprints", oracle=_simhash_oracle_sql())
def l8_simhash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash per document + Hamming distance to the corpus-min
    fingerprint as a clustering signal. Uses the md5-bit-plane
    determinized agg form (operators/dedup.py:simhash_md5_agg): one
    codegen'd explode→groupBy pass, map-side combine, and — because
    every bit plane is recomputable SQL — a FULL DuckDB oracle where
    rounds 2-5 only had a weak rows-only check (the a26/g3
    determinize-the-sketch discipline applied to SimHash). The
    xxhash64 column/agg forms remain in operators/dedup.py for
    hash-family flexibility, equality-pinned in tests."""
    from security_master_spark.operators.dedup import simhash_md5_agg

    docs = fan_out(load_table(spark, sf_dir, "documents"))
    # The fingerprint subtree feeds both the corpus-min ref and the
    # output side: persist the collapsed (id, simhash) frame — two
    # longs per document, node-count-sized at any corpus scale — so
    # the explode → md5-per-token → 64-vote aggregate runs ONCE. The
    # round-12 measurement that favored recomputation predates the
    # cache-AQE conf (session.py canChangeCachedPlanOutputPartitioning);
    # re-measured r15: 1.73 → 0.41 s isolated (same-era A/B minimums).
    sh = simhash_md5_agg(docs).persist()
    ref = sh.agg(F.min("simhash").alias("ref")).withColumn("__one", F.lit(1))
    return (
        sh.withColumn("__one", F.lit(1))
        .join(F.broadcast(ref), "__one")
        .select(
            "doc_id",
            "simhash",
            F.bit_count(F.col("simhash").bitwiseXOR(F.col("ref"))).alias(
                "hamming_to_ref"
            ),
        )
    )


@register(
    "l9_language_id",
    oracle="""
    WITH lex(lex_lang, word) AS (VALUES {values}),
    tok AS (
        SELECT doc_id, lang AS true_lang, t.token AS token
        FROM documents, UNNEST(string_split(text, ' ')) AS t(token)
    ),
    scores AS (
        SELECT doc_id, true_lang, lex_lang, COUNT(*) AS hits
        FROM tok JOIN lex ON token = word
        GROUP BY doc_id, true_lang, lex_lang
    ),
    best AS (
        SELECT doc_id, true_lang, lex_lang AS pred_lang,
               ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY hits DESC, lex_lang) AS rn
        FROM scores
    )
    SELECT d.doc_id, d.lang AS true_lang,
           COALESCE(b.pred_lang, 'unknown') AS pred_lang
    FROM documents d
    LEFT JOIN (SELECT doc_id, pred_lang FROM best WHERE rn = 1) b
      ON d.doc_id = b.doc_id
    """.format(
        values=", ".join(f"('{lang}', '{w}')" for lang, w in _stopword_rows())
    ),
)
def l9_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-lexicon language ID: tokens ⋈ broadcast lexicon →
    argmax hits per doc (deterministic tiebreak on language code).
    The fixtures' synthetic vocabulary rarely hits the lexicon — the
    operator shape (broadcast dictionary join + argmax) is the point."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    lex = spark.createDataFrame(_stopword_rows(), "lex_lang string, word string")
    tok = docs.select(
        "doc_id",
        F.col("lang").alias("true_lang"),
        F.explode(tokens(F.col("text"))).alias("token"),
    )
    scores = (
        tok.join(F.broadcast(lex), F.col("token") == F.col("word"))
        .groupBy("doc_id", "true_lang", "lex_lang")
        .agg(F.count("*").alias("hits"))
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("hits"), F.asc("lex_lang"))
    best = (
        scores.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", F.col("lex_lang").alias("pred_lang"))
    )
    return docs.join(best, "doc_id", "left").select(
        "doc_id",
        F.col("lang").alias("true_lang"),
        F.coalesce("pred_lang", F.lit("unknown")).alias("pred_lang"),
    )


@register(
    "l10_quality_scores",
    oracle=f"""
    SELECT doc_id,
           LENGTH(text) AS n_chars_actual,
           len(string_split_regex(trim(text), '\\s+')) AS n_tokens,
           {sql_dround(QUALITY_SQL, 6)} AS quality
    FROM documents
    """,
)
def l10_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document quality scoring + token counting — the pretraining
    filter columns, all JVM-side expressions."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.length("text").alias("n_chars_actual"),
        F.size(tokens(F.col("text"))).alias("n_tokens"),
        dround(quality_score(F.col("text")), 6).alias("quality"),
    )


@register(
    "l11_multimodal_join",
    oracle=f"""
    SELECT d.doc_id, d.lang, d.source, e.label,
           {sql_dround("sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))", 6)} AS vec_norm,
           d.n_chars
    FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
    """,
)
def l11_multimodal_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The multimodal-row shape: text + metadata + embedding in one
    row (documents ⋈ embeddings on doc_id = vec_id), with a derived
    vector feature."""
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    vec = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    return docs.join(emb, docs.doc_id == emb.vec_id).select(
        "doc_id",
        "lang",
        "source",
        "label",
        dround(
            F.sqrt(
                F.aggregate(
                    F.transform(vec, lambda x: x * x),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
            ),
            6,
        ).alias("vec_norm"),
        "n_chars",
    )


@register(
    "l12_ngram_fingerprint",
    oracle="""
    WITH toks AS (
        SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM documents WHERE doc_id <= 50
    ), shingle AS (
        SELECT doc_id, array_to_string(t[g.i:g.i+2], ' ') AS sh
        FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t) - 2)) AS i) g
    )
    SELECT doc_id,
           COUNT(DISTINCT sh) AS n_shingles,
           MIN(MD5(sh)) AS min_fp,
           MAX(MD5(sh)) AS max_fp
    FROM shingle
    GROUP BY doc_id
    """,
)
def l12_ngram_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-gram shingling + md5 min/max fingerprints per doc — the
    portable (non-xxhash) fingerprint pair; MinHash generalizes this
    with per-permutation seeds. Shingling goes through the GUARDED
    :func:`functions.text.shingles_of`: the hand-rolled
    ``sequence(1, greatest(size-2, 0))`` this used before round 8
    still produced the DESCENDING [1, 0] on <3-token docs and crashed
    ``slice`` with INVALID_PARAMETER_VALUE.START — caught by the
    adversarial-fixture sweep (tools/gen_adversarial.py), the exact
    trap text.py:75 documents."""
    from security_master_spark.functions.text import shingles_of

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") <= 50)
    toked = docs.select("doc_id", tokens(F.col("text")).alias("t"))
    return (
        toked.select("doc_id", F.explode(shingles_of(F.col("t"))).alias("sh"))
        .groupBy("doc_id")
        .agg(
            F.countDistinct("sh").alias("n_shingles"),
            F.min(F.md5("sh")).alias("min_fp"),
            F.max(F.md5("sh")).alias("max_fp"),
        )
    )


def _sign_planes_sql(n_planes: int, n_tables: int, dim: int = 64) -> str:
    """The EXACT production hyperplanes as a DuckDB VALUES table
    ``(t, b, s DOUBLE[])``: the sign matrix is a deterministic pure
    function of (seed=101+t, b, i) via the bit-exact Python port of
    Spark's xxhash64 (functions/xxh64.py), already materialized as
    Python constants at plan-build time — so the oracle can inline
    the very same ±1 rows the pandas-UDF matmul multiplies by.
    This is what upgrades l13/l20 from weak (recall-tested) to full
    hash oracles (round-7 verdict order #3): nothing about the
    production path changes; the oracle simply stops treating the
    cell assignment as engine-specific."""
    from security_master_spark.functions.xxh64 import xxhash64_ints

    rows = []
    for t in range(n_tables):
        for b in range(n_planes):
            signs = ", ".join(
                "1" if xxhash64_ints(101 + t, b, i) & 1 else "-1"
                for i in range(dim)
            )
            rows.append(f"({t}, {b}, [{signs}]::DOUBLE[])")
    return ",\n        ".join(rows)


def _sign_cells_sql(n_planes: int, n_tables: int) -> str:
    """Shared oracle CTEs: embeddings as DOUBLE[], the plane table,
    and one sign-LSH cell id per (vector, table) — bit b set iff the
    plane projection is positive, tagged with (t << 32) exactly like
    operators/similarity._multi_table_cells_pandas. Near-zero
    projections are the only cross-engine risk (sum-order ulps could
    flip a sign), but the fixture embeddings are continuous floats:
    P(|proj| < 1e-13) ≈ 1e-13 per projection — the same acceptance
    class as every drounded float oracle in this repo."""
    return f"""v AS (
        SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
        WHERE embedding IS NOT NULL AND len(embedding) = 64
    ), planes(t, b, s) AS (VALUES
        {_sign_planes_sql(n_planes, n_tables)}
    ), cells AS (
        SELECT v.vec_id,
               (CAST(p.t AS BIGINT) << 32)
               + SUM(CASE WHEN list_dot_product(v.e, p.s) > 0
                          THEN 1 << p.b ELSE 0 END) AS cell
        FROM v CROSS JOIN planes p
        GROUP BY v.vec_id, p.t
    ), nrm AS (
        SELECT vec_id, e, SQRT(list_dot_product(e, e)) AS n FROM v
    )"""


@register(
    "l13_ann_lsh_topk",
    oracle=f"""
    WITH {_sign_cells_sql(n_planes=5, n_tables=8)}, cand AS (
        SELECT DISTINCT q.vec_id AS q_id, c.vec_id AS vec_id
        FROM cells q JOIN cells c ON c.cell = q.cell
        WHERE q.vec_id < 10
    ), scored AS (
        SELECT cd.q_id, cd.vec_id,
               list_dot_product(nq.e, nc.e) / (nq.n * nc.n) AS cs
        FROM cand cd
        JOIN nrm nq ON nq.vec_id = cd.q_id
        JOIN nrm nc ON nc.vec_id = cd.vec_id
    ), ranked AS (
        SELECT q_id, vec_id, cs,
               ROW_NUMBER() OVER (
                   PARTITION BY q_id ORDER BY cs DESC, vec_id ASC
               ) AS rn
        FROM scored
    )
    SELECT q_id, vec_id, {sql_dround("cs", 6)} AS cos_sim
    FROM ranked WHERE rn <= 5
    """,
)
def l13_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN scale path: corpus and queries bucketed by random-hyperplane
    sign cells, equi-joined on cell id, exact cosine rank inside the
    bucket — candidate generation never crossJoins the corpus. Results
    are deterministic (fixed-seed hyperplanes, id tie-breaks), and
    since round 8 FULLY hash-checked: the oracle replays the exact
    xxhash64-derived hyperplanes as inline constants
    (:func:`_sign_planes_sql`), so candidate generation, ranking, and
    scores are all certified — the recall property test
    (tests/test_operators.py) remains as the semantic floor."""
    from security_master_spark.operators.similarity import ann_topk_lsh

    emb = load_table(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    return ann_topk_lsh(emb, queries_df, k=5, n_planes=5, n_tables=8).select(
        "q_id", "vec_id", dround(F.col("cos_sim"), 6).alias("cos_sim")
    )


@register("l21_ivf_topk")  # weak: k-means cells are float-sum-order sensitive;
# recall vs brute force is asserted in tests/test_operators.py
def l21_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN scale path #2 — IVF coarse quantizer: spherical k-means
    centroids (distributed Lloyd's, driver holds only k×dim floats),
    corpus partitioned into its nearest cell, queries probe their 4
    nearest of 16 cells, exact cosine ranks the ~nprobe/n_cells corpus
    fraction each query touches. Complements l13's sign-LSH: IVF adapts
    cells to the data distribution (tighter candidates on clustered
    corpora) at the cost of a training pass; LSH is data-independent."""
    from security_master_spark.operators.similarity import ivf_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    return ivf_topk(emb, queries_df, k=5, n_cells=16, nprobe=4).select(
        "q_id", "vec_id", dround(F.col("cos_sim"), 6).alias("cos_sim")
    )


@register(
    "l14_winnow_fingerprint",
    oracle="""
    WITH w AS (
        SELECT doc_id,
               GREATEST(CAST(FLOOR((LENGTH(text) - 64) / 32.0) AS BIGINT), 0)
                   AS max_i,
               text
        FROM documents
    )
    SELECT w.doc_id,
           MIN(MD5(SUBSTRING(w.text, CAST(t.i * 32 + 1 AS INT), 64))) AS fingerprint,
           MAX(t.i) + 1 AS n_windows
    FROM w, UNNEST(generate_series(0, w.max_i)) AS t(i)
    GROUP BY w.doc_id
    """,
)
def l14_winnow_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing-style rolling-window fingerprint: md5 over 64-char
    windows at stride 32, min-pooled per document — robust to edits
    near document ends, and portable (md5) so the oracle checks every
    hash."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    max_i = F.greatest(
        F.floor((F.length("text") - 64) / F.lit(32.0)), F.lit(0)
    ).cast("long")
    hashes = F.transform(
        F.sequence(F.lit(0).cast("long"), max_i),
        lambda i: F.md5(F.substring(F.col("text"), (i * 32 + 1).cast("int"), 64)),
    )
    return docs.select(
        "doc_id",
        F.array_min(hashes).alias("fingerprint"),
        (max_i + 1).alias("n_windows"),
    )


@register(
    "l15_bpe_token_count",
    oracle="""
    SELECT doc_id,
           LEN(regexp_extract_all(text, '[a-zA-Z0-9]+|[^a-zA-Z0-9\\s]')) AS n_bpe_tokens,
           LEN(string_split(text, ' ')) AS n_ws_tokens,
           n_chars
    FROM documents
    """,
)
def l15_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways (SURVEY.md §2.12 text analysis):
    whitespace split and a BPE-ish pre-tokenizer regex (alnum runs |
    single non-alnum-non-space), the standard fertility estimate for
    LLM corpus sizing. Regex kept to the ASCII class subset both
    engines' dialects (Java regex / RE2) interpret identically."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(
            F.regexp_extract_all(
                F.col("text"), F.lit("[a-zA-Z0-9]+|[^a-zA-Z0-9\\s]"), F.lit(0)
            )
        ).alias("n_bpe_tokens"),
        F.size(F.split(F.col("text"), " ", -1)).alias("n_ws_tokens"),
        "n_chars",
    )


@register(
    "l16_dedup_clusters",
    oracle=f"""
    WITH tok AS (
        SELECT DISTINCT doc_id, t.token AS token
        FROM documents, UNNEST(string_split(text, ' ')) AS t(token)
        WHERE doc_id <= 120
    ), sizes AS (
        SELECT doc_id, COUNT(*) AS n FROM tok GROUP BY doc_id
    ), inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
        FROM tok a JOIN tok b ON a.token = b.token AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ), edges AS (
        SELECT id_a, id_b
        FROM inter
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
        WHERE n_common * 1.0 / (sa.n + sb.n - n_common) >= 0.55
    ), sym AS (
        SELECT id_a AS s, id_b AS d FROM edges
        UNION SELECT id_b, id_a FROM edges
    )
    SELECT node, MIN(d) AS component
    FROM (
        WITH RECURSIVE reach(node, d) AS (
            SELECT s, s FROM (SELECT DISTINCT s FROM sym)
            UNION
            SELECT r.node, e.d FROM reach r JOIN sym e ON r.d = e.s
        )
        SELECT node, d FROM reach
    )
    GROUP BY node
    """,
)
def l16_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup clusters: token-Jaccard ≥ 0.55 edges over a 120-doc
    slice, closed into connected components by iterative min-label
    propagation (operators/clustering.py). The oracle computes the same
    fixed point with a recursive CTE — two entirely different closure
    algorithms must land on identical (node, component) rows."""
    from security_master_spark.operators.clustering import connected_components
    from security_master_spark.operators.dedup import jaccard_pairs

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") <= 120)
    ids = docs.select(F.col("doc_id").alias("id_a"))
    cand = ids.join(
        docs.select(F.col("doc_id").alias("id_b")), F.col("id_a") < F.col("id_b")
    )
    edges = (
        jaccard_pairs(docs, cand)
        .filter(F.col("jaccard") >= 0.55)
        .select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    )
    return connected_components(edges)


@register(
    "l17_embedding_near_dup",
    oracle=f"""
    WITH v AS (
        -- NULL vectors carry no pairs on either side (Spark's
        -- normalize folds them to NULL cosine, dropped by the >= 0.5
        -- filter; DuckDB's list_dot_product ERRORS on them instead,
        -- so they must leave before the join); zero-norm vectors
        -- survive here and die at the division (x/0 -> NULL -> filter)
        SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings
        WHERE embedding IS NOT NULL
    ), pairs AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               list_dot_product(a.e, b.e)
               / (SQRT(list_dot_product(a.e, a.e)) * SQRT(list_dot_product(b.e, b.e)))
                   AS cs
        FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id
    )
    SELECT id_a, id_b, {sql_dround("cs", 6)} AS cos_sim
    FROM pairs
    WHERE cs >= 0.5
    """,
)
def l17_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, label-blocked — the
    BOUNDED ORACLE form only (a constant 10 labels makes the candidate
    set n²/10: exactly SQL-expressible, but quadratic in corpus size).
    The production scale path is l20 / ``near_dup_pairs_lsh``: the same
    exact-cosine verify over sign-LSH cell-join candidates, shuffle
    O(corpus · tables), recall-tested against planted near-dups. Pairs
    ≥ 0.5 cosine are the dedup edges; closing them is l16's connected
    components."""
    from security_master_spark.functions.vector import dot, normalize

    emb = fan_out(load_table(spark, sf_dir, "embeddings"))
    # normalize per vector, dot per pair — the quadratic stage does one
    # fold per pair instead of three (see operators/similarity.py)
    a = emb.select(
        F.col("label").alias("__g"),
        F.col("vec_id").alias("id_a"),
        normalize(F.col("embedding")).alias("vec_a"),
    )
    b = emb.select(
        F.col("label").alias("__g"),
        F.col("vec_id").alias("id_b"),
        normalize(F.col("embedding")).alias("vec_b"),
    )
    return (
        a.join(b, "__g")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            dround(dot(F.col("vec_a"), F.col("vec_b")), 6).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= 0.5)
    )


@register(
    "l20_embedding_near_dup_lsh",
    oracle=f"""
    WITH {_sign_cells_sql(n_planes=6, n_tables=8)}, cand AS (
        SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
        FROM cells a JOIN cells b
          ON b.cell = a.cell AND a.vec_id < b.vec_id
    ), scored AS (
        SELECT c.id_a, c.id_b,
               list_dot_product(na.e, nb.e) / (na.n * nb.n) AS cs
        FROM cand c
        JOIN nrm na ON na.vec_id = c.id_a
        JOIN nrm nb ON nb.vec_id = c.id_b
    )
    SELECT id_a, id_b, {sql_dround("cs", 6)} AS cos_sim
    FROM scored WHERE cs >= 0.4
    """,
)
def l20_embedding_near_dup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-path embedding near-dup: exact-cosine-verified pairs whose
    candidates come from a sign-LSH cell equi-join (8 tables) instead
    of any quadratic blocking — the plan that survives a 100× corpus.
    The fixture embeddings are near-orthogonal (max pair cosine ≈ 0.6),
    so the mining threshold sits at 0.4; precision is exact by
    construction (every emitted pair is re-verified with the
    deterministic JVM dot fold), recall is the LSH dial — property-
    tested against planted near-duplicates in tests/test_operators.py.
    Since round 8 the candidate set itself is hash-certified too: the
    oracle replays the exact production hyperplanes as inline
    constants (:func:`_sign_planes_sql`) and re-derives every cell,
    candidate, and verified pair in SQL.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    # 6 planes / 8 tables: a random pair collides with P ≈ 1−(1−2⁻⁶)⁸
    # ≈ 0.12 (vs 0.40 at 4 planes — A/B-measured 3.4× fewer candidate
    # pairs to score) while the near-dup regime keeps its recall
    # (cos 0.8 → 0.90, cos 0.9 → 0.98); the mining threshold 0.4 pays
    # the tradeoff (recall ≈ 0.4 there) — acceptable for a weak-checked
    # demo of the scale shape.
    return near_dup_pairs_lsh(
        emb, threshold=0.4, n_planes=6, n_tables=8
    ).select(
        "id_a", "id_b", dround(F.col("cos_sim"), 6).alias("cos_sim")
    )


@register(
    "l18_hash_split",
    oracle="""
    WITH h AS (
        SELECT doc_id, lang,
               CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                    AS UBIGINT) % 100 AS bucket
        FROM documents
    )
    SELECT doc_id, lang,
           CASE WHEN bucket < 80 THEN 'train'
                WHEN bucket < 90 THEN 'val'
                ELSE 'test' END AS split
    FROM h
    """,
)
def l18_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment by content-independent
    id hash (md5 prefix mod 100 → 80/10/10). The property that matters
    for training pipelines: the split is a pure function of the id —
    stable across reruns, engines, partitionings, and dataset growth
    (a doc never migrates between splits when new data arrives), unlike
    ``df.sample``/``sampleBy`` whose assignment depends on partition
    iteration order. Embarrassingly parallel: no shuffle at all — the
    split column is computed in the scan's projection."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long") % 100
    )
    return docs.select(
        "doc_id",
        "lang",
        F.when(bucket < 80, "train")
        .when(bucket < 90, "val")
        .otherwise("test")
        .alias("split"),
    )


@register(
    "l19_concat_chunks",
    oracle="""
    WITH t AS (
        SELECT doc_id, lang,
               len(string_split(text, ' ')) AS n_tokens
        FROM documents
    ), c AS (
        SELECT doc_id, lang, n_tokens,
               CAST(SUM(n_tokens) OVER (
                   PARTITION BY lang ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS cum_tokens
        FROM t
    )
    SELECT doc_id, lang, n_tokens,
           cum_tokens - n_tokens AS start_offset,
           CAST(FLOOR((cum_tokens - n_tokens) / 512.0) AS BIGINT) AS first_chunk,
           CAST(FLOOR((cum_tokens - 1) / 512.0) AS BIGINT) AS last_chunk,
           CAST(FLOOR((cum_tokens - 1) / 512.0)
                - FLOOR((cum_tokens - n_tokens) / 512.0) AS BIGINT) + 1
               AS n_chunks
    FROM c
    """,
)
def l19_concat_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing: per language stream, documents
    are concatenated in stable doc_id order and cut every 512 tokens —
    the standard GPT-style pretraining packer. Output is the token-offset
    index (per doc: global start offset, first/last chunk id, chunk
    count) from which fixed-length training sequences are assembled.

    Scale: the cumulative sum partitions by ``lang`` (the corpus
    stream), so each partition's window is independent; at 100 TB the
    stream key is (corpus shard, lang) to bound any single window's
    data. One shuffle (window partitioning), no Python."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        "lang",
        F.size(F.split(F.col("text"), " ", -1)).alias("n_tokens"),
    )
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = t.withColumn("cum_tokens", F.sum("n_tokens").over(w))
    start = F.col("cum_tokens") - F.col("n_tokens")
    first_chunk = F.floor(start / F.lit(512.0)).cast("long")
    last_chunk = F.floor((F.col("cum_tokens") - 1) / F.lit(512.0)).cast("long")
    return c.select(
        "doc_id",
        "lang",
        "n_tokens",
        start.alias("start_offset"),
        first_chunk.alias("first_chunk"),
        last_chunk.alias("last_chunk"),
        (last_chunk - first_chunk + 1).alias("n_chunks"),
    )


@register(
    "l49_source_vocab_overlap",
    oracle=f"""
    WITH st AS (
        SELECT DISTINCT source, t.token AS token
        FROM documents, UNNEST(string_split_regex(trim(text), '\\s+')) AS t(token)
    ), sizes AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS vocab
        FROM st GROUP BY source
    ), inter AS (
        SELECT a.source AS source_a, b.source AS source_b,
               CAST(COUNT(*) AS BIGINT) AS n_shared
        FROM st a JOIN st b ON b.token = a.token AND a.source < b.source
        GROUP BY a.source, b.source
    )
    SELECT i.source_a, i.source_b, i.n_shared,
           sa.vocab AS vocab_a, sb.vocab AS vocab_b,
           {sql_dround(
               "CAST(i.n_shared AS DOUBLE)"
               " / (sa.vocab + sb.vocab - i.n_shared)", 8
           )} AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.source = i.source_a
    JOIN sizes sb ON sb.source = i.source_b
    """,
)
def l49_source_vocab_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise vocabulary Jaccard between sources — the corpus-
    composition similarity matrix (which feeds dedup prioritization
    and mixture design: sources with near-identical vocabularies are
    redundancy candidates; disjoint ones are diversity).

    Shape: one explode → DISTINCT collapses the corpus to (source,
    token) — O(sources · vocab) rows regardless of corpus size — and
    every subsequent join shuffles on the token or source key of that
    collapsed table. The token-keyed intersection self-join is the l3
    TF/DF shape; hot tokens (shared by all sources) fan out at most
    |sources|² per token, bounded by the source count, not the
    corpus. Exact-set semantics end-to-end, so the quadratic stage is
    over sources (20 here), never documents."""
    docs = load_table(spark, sf_dir, "documents")
    st = docs.select(
        "source", F.explode(tokens(F.col("text"))).alias("token")
    ).distinct()
    sizes = st.groupBy("source").agg(
        F.count("*").cast("bigint").alias("vocab")
    )
    a = st.select(F.col("source").alias("source_a"), "token")
    b = st.select(F.col("source").alias("source_b"), "token")
    inter = (
        a.join(b, "token")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count("*").cast("bigint").alias("n_shared"))
    )
    sa = sizes.select(
        F.col("source").alias("source_a"), F.col("vocab").alias("vocab_a")
    )
    sb = sizes.select(
        F.col("source").alias("source_b"), F.col("vocab").alias("vocab_b")
    )
    return (
        inter.join(F.broadcast(sa), "source_a")
        .join(F.broadcast(sb), "source_b")
        .select(
            "source_a",
            "source_b",
            "n_shared",
            "vocab_a",
            "vocab_b",
            dround(
                F.col("n_shared").cast("double")
                / (F.col("vocab_a") + F.col("vocab_b") - F.col("n_shared")),
                8,
            ).alias("jaccard"),
        )
    )


@register(
    "l50_tokenizer_fertility",
    oracle=f"""
    WITH per_doc AS (
        SELECT lang,
               CAST(LEN(regexp_extract_all(
                   text, '[a-zA-Z0-9]+|[^a-zA-Z0-9\\s]')) AS DOUBLE)
                   AS n_bpe,
               CAST(LEN(string_split(text, ' ')) AS DOUBLE) AS n_ws,
               CAST(n_chars AS DOUBLE) AS n_chars
        FROM documents
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           {sql_dround("AVG(n_chars / n_bpe)", 6)} AS chars_per_token,
           {sql_dround("AVG(n_bpe / n_ws)", 6)} AS fertility,
           CAST(SUM(n_bpe) AS BIGINT) AS total_bpe_tokens
    FROM per_doc
    GROUP BY lang
    """,
)
def l50_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility by language: BPE-ish tokens per whitespace
    word (the cross-lingual tokenizer-equity metric — a language with
    2× fertility pays 2× the context budget for the same content) and
    chars-per-token (the compression rate that converts corpus bytes
    to token budgets). Per-document counts are l15's certified
    ASCII-subset regex evaluated INSIDE the scan projection — zero
    exchanges before the O(langs) rollup; the shuffle carries one row
    per language."""
    docs = load_table(spark, sf_dir, "documents")
    n_bpe = F.size(
        F.regexp_extract_all(
            F.col("text"), F.lit("[a-zA-Z0-9]+|[^a-zA-Z0-9\\s]"), F.lit(0)
        )
    ).cast("double")
    n_ws = F.size(F.split(F.col("text"), " ", -1)).cast("double")
    per_doc = docs.select(
        "lang",
        n_bpe.alias("n_bpe"),
        n_ws.alias("n_ws"),
        F.col("n_chars").cast("double").alias("n_chars"),
    )
    # try_divide: whitespace-only text yields ZERO BPE tokens (the
    # regex finds nothing) — per-doc ratios go NULL and drop out of
    # avg() on both engines instead of crashing the scan under ANSI.
    return per_doc.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        dround(F.avg(F.try_divide(F.col("n_chars"), F.col("n_bpe"))), 6)
        .alias("chars_per_token"),
        dround(F.avg(F.try_divide(F.col("n_bpe"), F.col("n_ws"))), 6)
        .alias("fertility"),
        F.sum("n_bpe").cast("bigint").alias("total_bpe_tokens"),
    )


_SAMPLE_K = 500


@register(
    "l51_weighted_sample",
    oracle=f"""
    WITH keyed AS (
        SELECT doc_id, source, n_chars,
               LN((CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                        AS UBIGINT) + 1) / CAST(4294967296 AS DOUBLE))
                   / CAST(n_chars AS DOUBLE) AS k
        FROM documents
    )
    SELECT doc_id, source, n_chars, {sql_dround("k * 1000", 8)} AS sample_key
    FROM keyed
    ORDER BY k DESC, doc_id
    LIMIT {_SAMPLE_K}
    """,
)
def l51_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement
    (Efraimidis–Spirakis A-Res): each document gets key u^(1/w) — here
    its order-equivalent ln(u)/w — with u a content-independent md5
    hash of the id mapped into (0, 1] and w = n_chars; the top-k keys
    ARE a weighted sample without replacement. All the l18 virtues
    (rerun/engine/partitioning-stable, no sample() iteration-order
    dependence) plus length-proportional inclusion probabilities — the
    standard "sample long documents preferentially" curation step.
    Embarrassingly parallel: the key is computed in the scan
    projection and the top-k plans as TakeOrderedAndProject
    (per-partition heaps + driver merge), never a global sort.
    Deterministic tie-break on doc_id pins the boundary."""
    docs = load_table(spark, sf_dir, "documents")
    u = (
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
        ).cast("double")
        + 1
    ) / F.lit(4294967296.0)
    # try_divide: an empty document (n_chars = 0) carries no weight —
    # its key goes NULL and sorts last, never crashes the job.
    k = F.try_divide(F.log(u), F.col("n_chars").cast("double"))
    return (
        docs.select("doc_id", "source", "n_chars", k.alias("k"))
        .orderBy(F.desc("k"), F.asc("doc_id"))
        .limit(_SAMPLE_K)
        .select(
            "doc_id",
            "source",
            "n_chars",
            dround(F.col("k") * 1000, 8).alias("sample_key"),
        )
    )


_BP_CHUNK = 32  # disjoint boilerplate-detection chunks (tokens)


@register(
    "l52_boilerplate_chunks",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM documents
    ), sized AS (
        SELECT doc_id, t,
               CAST(CEIL(len(t) / CAST({_BP_CHUNK} AS DOUBLE)) AS INT)
                   AS n_chunks
        FROM toks
    ), chunks AS (
        SELECT doc_id,
               md5(array_to_string(
                   t[c.c * {_BP_CHUNK} + 1 : c.c * {_BP_CHUNK} + {_BP_CHUNK}],
                   ' ')) AS chunk_hash
        FROM sized,
             LATERAL (SELECT unnest(generate_series(0, n_chunks - 1)) AS c) c
    )
    SELECT chunk_hash,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_occurrences,
           MIN(doc_id) AS sample_doc
    FROM chunks
    GROUP BY chunk_hash
    HAVING COUNT(DISTINCT doc_id) >= 2
    """,
)
def l52_boilerplate_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate detection at CHUNK granularity: disjoint 32-token
    chunks hashed and grouped across the corpus; a chunk appearing in
    ≥ 2 documents is boilerplate (headers, footers, license blocks,
    navigation) — the stuff document-level dedup (l1/l7) can't see
    because the surrounding documents differ. Downstream, these hashes
    drive chunk-level scrubbing before training.

    Scale shape: the l31 closed-form chunk explode (zero UDFs) feeds a
    single groupBy on 16-byte chunk hashes — the l1 exact-dedup
    discipline one level down. Hash cardinality ≈ corpus tokens / 32,
    shuffled once with map-side partial aggregation; the HAVING filter
    drops the unique-chunk long tail before any downstream join."""
    docs = load_table(spark, sf_dir, "documents")
    t = tokens(F.col("text"))
    n_chunks = F.ceil(F.size(t) / F.lit(float(_BP_CHUNK))).cast("int")
    chunk = F.slice(F.col("t"), F.col("c") * _BP_CHUNK + 1, _BP_CHUNK)
    chunks = docs.select(
        "doc_id",
        t.alias("t"),
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("c"),
    ).select("doc_id", F.md5(F.concat_ws(" ", chunk)).alias("chunk_hash"))
    return (
        chunks.groupBy("chunk_hash")
        .agg(
            F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
            F.count("*").cast("bigint").alias("n_occurrences"),
            F.min("doc_id").alias("sample_doc"),
        )
        .filter(F.col("n_docs") >= 2)
    )


def _chunk_fingerprints_sql() -> str:
    """Shared oracle CTE text: disjoint 32-token chunk hashes per doc
    (the l52 chunking), with the doc's source carried along."""
    return f"""
    toks AS (
        SELECT doc_id, source, string_split_regex(trim(text), '\\s+') AS t FROM documents
    ), sized AS (
        SELECT doc_id, source, t,
               CAST(CEIL(len(t) / CAST({_BP_CHUNK} AS DOUBLE)) AS INT)
                   AS n_chunks
        FROM toks
    ), chunks AS (
        SELECT doc_id, source,
               md5(array_to_string(
                   t[c.c * {_BP_CHUNK} + 1 : c.c * {_BP_CHUNK} + {_BP_CHUNK}],
                   ' ')) AS chunk_hash
        FROM sized,
             LATERAL (SELECT unnest(generate_series(0, n_chunks - 1)) AS c) c
    )"""


def _chunk_fingerprints(docs: DataFrame) -> DataFrame:
    """Spark twin of :func:`_chunk_fingerprints_sql`: (doc_id, source,
    chunk_hash) via the l52 closed-form chunk explode."""
    t = tokens(F.col("text"))
    n_chunks = F.ceil(F.size(t) / F.lit(float(_BP_CHUNK))).cast("int")
    chunk = F.slice(F.col("t"), F.col("c") * _BP_CHUNK + 1, _BP_CHUNK)
    return docs.select(
        "doc_id",
        "source",
        t.alias("t"),
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("c"),
    ).select(
        "doc_id", "source", F.md5(F.concat_ws(" ", chunk)).alias("chunk_hash")
    )


@register(
    "l53_dedup_survivorship",
    oracle=f"""
    WITH {_chunk_fingerprints_sql()}, grp AS (
        SELECT chunk_hash, MIN(doc_id) AS canonical,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM chunks GROUP BY chunk_hash
        HAVING COUNT(*) > 1
    )
    SELECT c.source,
           CAST(COUNT(*) AS BIGINT) AS n_dup_occurrences,
           CAST(SUM(CASE WHEN c.doc_id = g.canonical THEN 1 ELSE 0 END)
                AS BIGINT) AS n_canonical_kept,
           CAST(SUM(CASE WHEN c.doc_id <> g.canonical THEN 1 ELSE 0 END)
                AS BIGINT) AS n_scrubbed
    FROM chunks c JOIN grp g ON g.chunk_hash = c.chunk_hash
    GROUP BY c.source
    """,
)
def l53_dedup_survivorship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup survivorship attribution at chunk granularity: for every
    duplicated chunk (l52's boilerplate unit) a deterministic
    keep-lowest-doc-id policy picks ONE canonical occurrence; this
    reports, per SOURCE, how many duplicate occurrences it carries,
    how many it keeps as canonical, and how many get scrubbed — the
    curation accounting that shows which feeds contribute original
    content and which mostly re-carry others' boilerplate. (Doc-level
    survivorship is the same query over l1's whole-text fingerprint;
    the fixtures' doc texts are unique, so the chunk level is where
    the policy actually bites.) Shapes: one chunk explode, one
    groupBy + join on 16-byte hashes, one O(sources) rollup."""
    docs = load_table(spark, sf_dir, "documents")
    chunks = _chunk_fingerprints(docs)
    grp = (
        chunks.groupBy("chunk_hash")
        .agg(F.min("doc_id").alias("canonical"), F.count("*").alias("n"))
        .filter(F.col("n") > 1)
    )
    return (
        chunks.join(grp, "chunk_hash")
        .groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_dup_occurrences"),
            F.sum(
                F.when(F.col("doc_id") == F.col("canonical"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_canonical_kept"),
            F.sum(
                F.when(F.col("doc_id") != F.col("canonical"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_scrubbed"),
        )
    )


@register(
    "l54_split_leakage",
    oracle=f"""
    WITH {_chunk_fingerprints_sql()}, tagged AS (
        SELECT chunk_hash, doc_id,
               CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
                                              1, 8)) AS UBIGINT) % 100 < 80
                    THEN 'train'
                    WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
                                              1, 8)) AS UBIGINT) % 100 < 90
                    THEN 'val' ELSE 'test' END AS split
        FROM chunks
    ), grp AS (
        SELECT chunk_hash,
               CAST(COUNT(*) AS BIGINT) AS n_copies,
               CAST(COUNT(DISTINCT split) AS BIGINT) AS n_splits,
               MIN(doc_id) AS sample_doc
        FROM tagged GROUP BY chunk_hash
    )
    SELECT n_splits,
           CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(SUM(n_copies) AS BIGINT) AS n_occurrences,
           MIN(sample_doc) AS sample_doc
    FROM grp
    WHERE n_copies > 1
    GROUP BY n_splits
    """,
)
def l54_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test LEAKAGE detector: duplicated CONTENT (shared chunk
    fingerprints — the l52 unit) whose carriers landed in DIFFERENT
    l18 splits. This is the failure mode that silently inflates eval
    numbers: the split hashes the doc ID, duplication is about
    content, so every duplicated chunk straddles splits with
    probability 1 − Σ p_split². Output: duplicate-chunk groups
    bucketed by how many distinct splits they touch (n_splits ≥ 2 =
    leaked; the remedy is l30's decontamination run on content
    fingerprints BEFORE splitting). Composition of three certified
    primitives — l52 chunking, l2-style hashing, l18's split — one
    16-byte-key shuffle end to end."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long") % 100
    )
    tagged = _chunk_fingerprints(docs).select(
        "chunk_hash",
        "doc_id",
        F.when(bucket < 80, "train")
        .when(bucket < 90, "val")
        .otherwise("test")
        .alias("split"),
    )
    grp = tagged.groupBy("chunk_hash").agg(
        F.count("*").cast("bigint").alias("n_copies"),
        F.countDistinct("split").cast("bigint").alias("n_splits"),
        F.min("doc_id").alias("sample_doc"),
    )
    return (
        grp.filter(F.col("n_copies") > 1)
        .groupBy("n_splits")
        .agg(
            F.count("*").cast("bigint").alias("n_groups"),
            F.sum("n_copies").cast("bigint").alias("n_occurrences"),
            F.min("sample_doc").alias("sample_doc"),
        )
    )


@register(
    "l55_langid_confusion",
    oracle="""
    WITH lex(lex_lang, word) AS (VALUES {values}),
    tok AS (
        SELECT doc_id, lang AS true_lang, t.token AS token
        FROM documents, UNNEST(string_split(text, ' ')) AS t(token)
    ),
    scores AS (
        SELECT doc_id, true_lang, lex_lang, COUNT(*) AS hits
        FROM tok JOIN lex ON token = word
        GROUP BY doc_id, true_lang, lex_lang
    ),
    best AS (
        SELECT doc_id, true_lang, lex_lang AS pred_lang,
               ROW_NUMBER() OVER (
                   PARTITION BY doc_id ORDER BY hits DESC, lex_lang
               ) AS rn
        FROM scores
    ),
    pred AS (
        SELECT d.doc_id, d.lang AS true_lang,
               COALESCE(b.pred_lang, 'unknown') AS pred_lang
        FROM documents d
        LEFT JOIN (SELECT doc_id, pred_lang FROM best WHERE rn = 1) b
          ON d.doc_id = b.doc_id
    )
    SELECT true_lang, pred_lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM pred
    GROUP BY true_lang, pred_lang
    """.format(
        values=", ".join(f"('{lang}', '{w}')" for lang, w in _stopword_rows())
    ),
)
def l55_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID confusion matrix: the l9 classifier's predictions
    cross-tabulated against the declared language label — the QA
    panel that turns a classifier into a MONITORED classifier
    (per-language recall off the diagonal, systematic confusions off
    it, 'unknown' volume as lexicon-coverage feedback). One extra
    O(langs²) rollup on top of l9's certified per-doc output; the
    scan/broadcast-lexicon/argmax machinery is shared, so this panel
    is effectively free next to the classification pass it audits."""
    pred = l9_language_id(spark, sf_dir)
    return pred.groupBy("true_lang", "pred_lang").agg(
        F.count("*").cast("bigint").alias("n_docs")
    )


#: prefix widths to evaluate — coarse (8 bits = 256 buckets) through
#: fine (24 bits); wider prefixes collapse only closer near-dups.
_PREFIX_BITS = (8, 16, 24)


@register(
    "l60_simhash_dedup_retention",
    oracle=f"""
    WITH {simhash_fp_ctes()}, pre AS (
        SELECT p.bits, f.doc_id, (f.simhash >> (64 - p.bits)) AS prefix
        FROM fp f, (VALUES {", ".join(f"({b})" for b in _PREFIX_BITS)})
             AS p(bits)
    )
    SELECT bits AS prefix_bits,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT prefix) AS BIGINT) AS n_kept,
           CAST(COUNT(*) - COUNT(DISTINCT prefix) AS BIGINT) AS n_collapsed,
           {sql_dround(
               "COUNT(DISTINCT prefix) / CAST(COUNT(*) AS DOUBLE)", 6
           )} AS retention
    FROM pre
    GROUP BY bits
    """,
)
def l60_simhash_dedup_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-retention curve over SimHash prefixes: documents sharing
    the top-b fingerprint bits collapse to one representative; report
    kept/collapsed counts and the retention ratio for b ∈ {8, 16, 24}.
    Prefix bucketing IS the scale path for simhash dedup (an equi-key
    groupBy — never a pairwise Hamming join), so this panel measures
    exactly what the production collapse would do at each
    aggressiveness setting.

    Shape: ONE fingerprint pass (the l8 md5-plane aggregate, shuffle =
    (doc, 64 ints)), then a 3-way prefix explode over the tiny
    (doc, simhash) frame and one count-distinct rollup per width —
    O(docs · |widths|) rows into the final exchange. Arithmetic
    shift-right is identical in Spark and DuckDB (both sign-extend),
    which the oracle hash certifies across every fingerprint sign."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    sh = simhash_md5_agg(docs)
    pre = sh.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(*[F.lit(b) for b in _PREFIX_BITS])
        ).alias("bits"),
    ).select(
        "bits",
        F.expr("shiftright(simhash, 64 - bits)").alias("prefix"),
    )
    return pre.groupBy("bits").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.countDistinct("prefix").cast("bigint").alias("n_kept"),
        (F.count("*") - F.countDistinct("prefix"))
        .cast("bigint")
        .alias("n_collapsed"),
        dround(
            F.countDistinct("prefix") / F.count("*").cast("double"), 6
        ).alias("retention"),
    ).withColumnRenamed("bits", "prefix_bits")


@register(
    "l61_containment_dedup",
    oracle="""
    WITH toks AS (
        SELECT doc_id, list_distinct(string_split_regex(trim(text), '\\s+')) AS t
        FROM documents WHERE doc_id <= 120
    ), pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               len(list_intersect(a.t, b.t)) AS inter,
               len(a.t) AS na, len(b.t) AS nb
        FROM toks a JOIN toks b ON a.doc_id < b.doc_id
    )
    SELECT id_a, id_b,
           CAST(inter AS BIGINT) AS n_common,
           FLOOR(CAST(inter AS DOUBLE)
                 / NULLIF(LEAST(na, nb), 0) * 1000000 + 0.5) / 1000000
               AS containment
    FROM pairs
    WHERE CAST(inter AS DOUBLE) / NULLIF(LEAST(na, nb), 0) >= 0.8
    """,
)
def l61_containment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment near-dup detection: |A∩B| / min(|A|, |B|) — the
    asymmetric measure that catches SUBSET duplicates (a document
    embedded verbatim inside a longer one scores ~1.0 here but low
    Jaccard, because the union is dominated by the longer doc). The
    standard second pass of a dedup stack after symmetric Jaccard.

    Like l4, this is the deliberately-bounded quadratic ORACLE twin
    (120-doc slice, broadcast side) — the scale path is identical to
    l7/l20: LSH candidate generation first, containment verify on the
    candidate set only (swap jaccard for containment in the verify
    expression; the banding stage is measure-agnostic).

    try_divide: an empty token set makes min(|A|,|B|) = 0 — pair goes
    NULL and falls out of the threshold filter on both engines."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") <= 120
    )
    from security_master_spark.functions.text import distinct_tokens

    toks = docs.select(
        "doc_id", distinct_tokens(F.col("text")).alias("t")
    )
    a = toks.select(
        F.col("doc_id").alias("id_a"), F.col("t").alias("ta")
    )
    b = toks.select(
        F.col("doc_id").alias("id_b"), F.col("t").alias("tb")
    )
    inter = F.size(F.array_intersect("ta", "tb"))
    cont = F.try_divide(
        inter.cast("double"),
        F.least(F.size("ta"), F.size("tb")).cast("double"),
    )
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            inter.cast("bigint").alias("n_common"),
            cont.alias("__c"),
        )
        .filter(F.col("__c") >= 0.8)
        .select(
            "id_a",
            "id_b",
            "n_common",
            dround(F.col("__c"), 6).alias("containment"),
        )
    )


@register(
    "l68_dedup_cluster_profile",
    oracle=f"""
    WITH fp AS (
        SELECT md5(text) AS f, COUNT(*) AS sz
        FROM documents GROUP BY md5(text)
    ), prof AS (
        SELECT sz, COUNT(*) AS n_clusters
        FROM fp GROUP BY sz
    ), tot AS (
        SELECT SUM(sz * n_clusters) AS n_docs,
               SUM(n_clusters) AS n_clusters_total,
               SUM(CASE WHEN sz = 1 THEN n_clusters ELSE 0 END)
                   AS n_singletons,
               SUM((sz - 1) * n_clusters) AS n_deletable,
               MAX(sz) AS max_cluster
        FROM prof
    )
    SELECT p.sz AS cluster_size,
           CAST(p.n_clusters AS BIGINT) AS n_clusters,
           CAST(p.sz * p.n_clusters AS BIGINT) AS n_docs_in_size,
           {sql_dround(
               "p.sz * p.n_clusters / CAST(t.n_docs AS DOUBLE)", 6
           )} AS doc_share,
           {sql_dround(
               "t.n_deletable / CAST(t.n_docs AS DOUBLE)", 6
           )} AS corpus_deletable_frac,
           CAST(t.max_cluster AS BIGINT) AS corpus_max_cluster
    FROM prof p, tot t
    """,
)
def l68_dedup_cluster_profile(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Dedup cluster profile: group documents by exact content
    fingerprint and publish the cluster-SIZE distribution — how many
    groups of each size, the share of the corpus they hold, and the
    corpus-wide deletable fraction (size − 1 per cluster) — the
    preview that says what l1/l42's dedup pass will actually remove
    and whether one mega-cluster (a boilerplate page replicated 10⁶×)
    dominates. Every row also carries the corpus max cluster size, so
    the pathological case is visible in any single row.

    Shape: text collapses to a 16-byte md5 AT the scan (the shuffle
    key discipline); two nested map-side-combined groupBys — the
    second over O(distinct sizes) rows — and a 1-row total broadcast.
    The profile frame is tiny at any corpus scale; nothing quadratic,
    nothing iterative (the near-dup sibling would profile l16's CC
    cluster ids identically)."""
    docs = load_table(spark, sf_dir, "documents")
    fp = docs.groupBy(F.md5(F.col("text").cast("binary")).alias("f")).agg(
        F.count("*").alias("sz")
    )
    prof = fp.groupBy("sz").agg(F.count("*").alias("n_clusters"))
    tot = prof.agg(
        F.sum(F.col("sz") * F.col("n_clusters")).alias("n_docs"),
        F.sum(
            (F.col("sz") - 1) * F.col("n_clusters")
        ).alias("n_deletable"),
        F.max("sz").alias("max_cluster"),
    )
    return prof.crossJoin(F.broadcast(tot)).select(
        F.col("sz").alias("cluster_size"),
        F.col("n_clusters").cast("bigint").alias("n_clusters"),
        (F.col("sz") * F.col("n_clusters"))
        .cast("bigint")
        .alias("n_docs_in_size"),
        dround(
            (F.col("sz") * F.col("n_clusters"))
            / F.col("n_docs").cast("double"),
            6,
        ).alias("doc_share"),
        dround(
            F.col("n_deletable") / F.col("n_docs").cast("double"), 6
        ).alias("corpus_deletable_frac"),
        F.col("max_cluster").cast("bigint").alias("corpus_max_cluster"),
    )


#: bounded evaluation slice (the l4/l65 deliberate-quadratic class).
_EVAL_DOCS = 60
#: "true near-duplicate" Jaccard threshold being screened for.
_TAU = 0.5


# The oracle embeds l7's exact candidate-generation SQL
# (_minhash_oracle_sql), so the two queries can never drift.
@register(
    "l70_lsh_precision_recall",
    oracle=f"""
    WITH eval_docs AS (
        SELECT doc_id, text FROM documents WHERE doc_id < {_EVAL_DOCS}
    ), etoks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM eval_docs
    ), egrams AS (
        SELECT doc_id, t,
               UNNEST(generate_series(1, len(t) - 2)) AS g
        FROM etoks
    ), hashed2 AS (
        SELECT DISTINCT doc_id,
               ('0x' || substr(md5(t[g] || ' ' || t[g + 1] || ' '
                                   || t[g + 2]), 1, 8))::BIGINT
                   % {_MERSENNE31} AS h
        FROM egrams
    ), sizes AS (
        SELECT doc_id, COUNT(*) AS n FROM hashed2 GROUP BY doc_id
    ), inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
        FROM hashed2 a JOIN hashed2 b
          ON a.h = b.h AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ), truth AS (
        SELECT i.id_a, i.id_b
        FROM inter i
        JOIN sizes sa ON sa.doc_id = i.id_a
        JOIN sizes sb ON sb.doc_id = i.id_b
        WHERE i.i / CAST(sa.n + sb.n - i.i AS DOUBLE) >= {_TAU}
    ), cand AS (
        SELECT id_a, id_b FROM ({_minhash_oracle_sql()})
        WHERE id_a < {_EVAL_DOCS} AND id_b < {_EVAL_DOCS}
    ), counts AS (
        SELECT
            (SELECT COUNT(*) FROM cand) AS n_cand,
            (SELECT COUNT(*) FROM truth) AS n_true,
            (SELECT COUNT(*) FROM cand c
             JOIN truth t ON t.id_a = c.id_a AND t.id_b = c.id_b)
                AS n_hit
    )
    SELECT CAST(n_cand AS BIGINT) AS n_candidates,
           CAST(n_true AS BIGINT) AS n_true_pairs,
           CAST(n_hit AS BIGINT) AS n_hits,
           {sql_dround(
               "n_hit / CAST(NULLIF(n_cand, 0) AS DOUBLE)", 6
           )} AS precision,
           {sql_dround(
               "n_hit / CAST(NULLIF(n_true, 0) AS DOUBLE)", 6
           )} AS recall
    FROM counts
    """,
)
def l70_lsh_precision_recall(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """LSH screening quality, measured: run l7's EXACT production
    banding (32 hashes, 8 bands — the same `lsh_candidate_pairs`
    call) on a bounded slice, compare its candidate set to the exact
    Jaccard ≥ 0.5 ground truth, and report precision and recall —
    the one-row scorecard that justifies the banding parameters
    (bands=8, rows=4 ⇒ P[candidate] = 1 − (1 − J⁴)⁸, steep around
    J ≈ 0.45). l65 calibrates the ESTIMATOR; this calibrates the
    SCREEN built on it; together they are the full measurement stack
    over the production dedup path.

    The exact side is the bounded deliberate-quadratic oracle-twin
    class (60 docs); candidate generation is the banding groupBy at
    any scale. The truth intersection is an equi-join on the shingle
    hash, and the three counts assemble via 1-row broadcast crosses
    (scalar subqueries on the oracle side) into one row."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < _EVAL_DOCS
    )
    cand = lsh_candidate_pairs(docs, num_hashes=32, bands=8)
    toks = docs.select(
        "doc_id", F.split(F.col("text"), " ").alias("t")
    )
    grams = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                "TRANSFORM(CASE WHEN size(t) >= 3 "
                "THEN sequence(1, size(t) - 2) "
                "ELSE CAST(array() AS array<int>) END, "
                "g -> concat_ws(' ', t[g - 1], t[g], t[g + 1]))"
            )
        ).alias("gram"),
    )
    hashed = grams.select(
        "doc_id",
        F.expr(
            f"PMOD(CAST(CONV(SUBSTRING(MD5(gram), 1, 8), 16, 10) "
            f"AS BIGINT), {_MERSENNE31})"
        ).alias("h"),
    ).distinct()
    sizes = hashed.groupBy("doc_id").agg(F.count("*").alias("n"))
    ha, hb = hashed.alias("a"), hashed.alias("b")
    inter = (
        ha.join(
            hb,
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
        )
        .agg(F.count("*").alias("i"))
    )
    truth = (
        inter.join(
            sizes.select(
                F.col("doc_id").alias("id_a"), F.col("n").alias("na")
            ),
            "id_a",
        )
        .join(
            sizes.select(
                F.col("doc_id").alias("id_b"), F.col("n").alias("nb")
            ),
            "id_b",
        )
        .filter(
            F.col("i")
            / (F.col("na") + F.col("nb") - F.col("i")).cast("double")
            >= _TAU
        )
        .select("id_a", "id_b")
    )
    stats = (
        cand.agg(F.count("*").alias("n_candidates"))
        .crossJoin(
            F.broadcast(
                truth.agg(F.count("*").alias("n_true_pairs"))
            )
        )
        .crossJoin(
            F.broadcast(
                cand.join(truth, ["id_a", "id_b"]).agg(
                    F.count("*").alias("n_hits")
                )
            )
        )
    )
    return stats.select(
        F.col("n_candidates").cast("bigint").alias("n_candidates"),
        F.col("n_true_pairs").cast("bigint").alias("n_true_pairs"),
        F.col("n_hits").cast("bigint").alias("n_hits"),
        dround(
            F.col("n_hits")
            / F.nullif(F.col("n_candidates"), F.lit(0)).cast("double"),
            6,
        ).alias("precision"),
        dround(
            F.col("n_hits")
            / F.nullif(F.col("n_true_pairs"), F.lit(0)).cast("double"),
            6,
        ).alias("recall"),
    )

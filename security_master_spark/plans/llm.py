"""LLM training-data pipeline operators (SURVEY.md §2.12) over the
documents/embeddings fixtures: dedup (exact, fingerprint, MinHash-LSH,
SimHash, n-gram Jaccard), similarity search (cosine top-k, kNN),
text analysis (token stats, language-ID, quality scoring).

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
from security_master_spark.operators.dedup import (
    fingerprint_dedup,
    lsh_candidate_pairs,
    simhash,
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


from security_master_spark.functions.text import stopword_rows as _stopword_rows


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

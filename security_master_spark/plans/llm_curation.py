"""LLM-pipeline filtering, sampling and corpus building (SURVEY.md
§2.12): TF-IDF terms, stratified and importance sampling, redaction,
incremental dedup, decontamination, chunking, source mixing, drift,
chunk-level dedup retention, the filter funnel and BLEU pairs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from security_master_spark.datasets import load_table
from security_master_spark.functions.rounding import dround, sql_dround
from security_master_spark.functions.text import shingles_of, tokens
from security_master_spark.plans.registry import register


@register(
    "l22_distinctive_terms",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, t.token AS token
        FROM documents, UNNEST(string_split_regex(trim(text), '\\s+')) AS t(token)
    ), tf AS (
        SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY doc_id, token
    ), df AS (
        SELECT token, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY token
    ), n AS (
        SELECT COUNT(*) AS n_docs FROM documents
    )
    SELECT doc_id, token, tf, df,
           {sql_dround("tf * (LN((n_docs + 1.0) / (df + 1.0)) + 1.0)", 6)} AS tfidf
    FROM tf JOIN df USING (token) CROSS JOIN n
    QUALIFY row_number() OVER (
        PARTITION BY doc_id ORDER BY df ASC, tf DESC, token ASC
    ) <= 3
    """,
)
def l22_distinctive_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 most distinctive terms per document: rank by rarity
    (corpus df asc, then tf desc, then token) and report the smoothed
    TF-IDF score. Ranking is integer-only on purpose — ln() is not
    bit-identical across libms, so the float score is an output, never
    the sort key. One tf shuffle with map-side partials, then df as a
    token-keyed window count on the same stream (round-15; no join, no
    second token-stream derivation); only the 1-row corpus size
    broadcasts."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("token"))
    tf = tok.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    # df as a window count on the SAME tf stream (round-15, the l44
    # shape): tf already holds one row per (doc, token), so
    # doc-frequency is COUNT(*) OVER (PARTITION BY token) — one
    # derivation, one token-keyed exchange, no join and no second
    # token-stream subtree. The window carries |distinct (doc,token)|
    # rows, identical to what the join spelling shuffled.
    n = docs.agg(F.count("*").alias("n_docs"))
    w = Window.partitionBy("doc_id").orderBy(
        F.asc("df"), F.desc("tf"), F.asc("token")
    )
    tfidf = F.col("tf") * (
        F.log((F.col("n_docs") + F.lit(1.0)) / (F.col("df") + F.lit(1.0)))
        + F.lit(1.0)
    )
    return (
        tf.withColumn(
            "df", F.count("*").over(Window.partitionBy("token"))
        )
        .crossJoin(F.broadcast(n))
        .withColumn("tfidf", dround(tfidf, 6))
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= 3)
        .select("doc_id", "token", "tf", "df", "tfidf")
    )


#: per-language keep rates as 4-hex-digit thresholds (out of 0x10000):
#: en 50%, de/fr 25%, es/zh ~10%.
_STRATA_HEX = {"en": "8000", "de": "4000", "fr": "4000", "es": "199a", "zh": "199a"}


@register(
    "l23_stratified_sample",
    oracle=f"""
    SELECT doc_id, lang, source
    FROM documents
    WHERE substr(md5(CAST(doc_id AS VARCHAR) || ':' || lang), 1, 4) <
          CASE lang
               WHEN 'en' THEN '{_STRATA_HEX["en"]}'
               WHEN 'de' THEN '{_STRATA_HEX["de"]}'
               WHEN 'fr' THEN '{_STRATA_HEX["fr"]}'
               ELSE '{_STRATA_HEX["es"]}'
          END
    """,
)
def l23_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: per-language keep rates
    applied by comparing an md5-prefix of the (id, stratum) pair
    against the rate's hex threshold — a pure projection + filter, no
    shuffle, and (unlike ``df.sampleBy``) a stable function of the row:
    the sample is reproducible across reruns, engines, partitionings,
    and dataset growth. Lexicographic hex compare == numeric compare
    because both engines emit lowercase fixed-width hex. The
    LLM-pipeline use: language rebalancing before training."""
    docs = load_table(spark, sf_dir, "documents")
    h = F.substring(
        F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":"), F.col("lang"))),
        1,
        4,
    )
    threshold = (
        F.when(F.col("lang") == "en", _STRATA_HEX["en"])
        .when(F.col("lang") == "de", _STRATA_HEX["de"])
        .when(F.col("lang") == "fr", _STRATA_HEX["fr"])
        .otherwise(_STRATA_HEX["es"])
    )
    return docs.filter(h < threshold).select("doc_id", "lang", "source")


@register(
    "l24_regex_scrub",
    oracle="""
    SELECT event_id,
           regexp_replace(props, '[0-9]+', '<NUM>', 'g') AS scrubbed,
           CAST(len(regexp_extract_all(props, '[0-9]+')) AS BIGINT)
               AS n_redactions
    FROM events
    """,
)
def l24_regex_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex redaction — the PII-scrub pattern (mask digit runs,
    account numbers, phone-shaped tokens) applied to the events JSON
    payload: replace every digit run with a placeholder and count the
    redactions. JVM-side regexp_replace/regexp_count in the scan's
    projection — zero shuffle, codegen'd; the production scrub swaps in
    the real PII pattern set (emails, SSNs, credit cards) unchanged.
    Patterns stay in the RE2∩Java-regex common subset so both engines
    agree."""
    events = load_table(spark, sf_dir, "events")
    return events.select(
        "event_id",
        F.regexp_replace("props", "[0-9]+", "<NUM>").alias("scrubbed"),
        F.regexp_count(F.col("props"), F.lit("[0-9]+"))
        .cast("long")  # Spark emits int32, DuckDB len() emits int64
        .alias("n_redactions"),
    )


@register(
    "l25_incremental_dedup",
    oracle="""
    WITH corpus AS (
        SELECT DISTINCT md5(text) AS fp FROM documents WHERE doc_id <= 400
    ), batch AS (
        SELECT doc_id, lang, md5(text) AS fp FROM documents WHERE doc_id > 400
    )
    SELECT doc_id, lang, fp
    FROM batch b
    WHERE NOT EXISTS (SELECT 1 FROM corpus c WHERE c.fp = b.fp)
    QUALIFY row_number() OVER (PARTITION BY fp ORDER BY doc_id) = 1
    """,
)
def l25_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingestion dedup: a new batch (doc_id > 400) is
    deduped against the already-ingested corpus fingerprint set
    (left-anti join on md5) and then within itself (first doc per
    fingerprint wins). This is the steady-state shape of corpus
    curation at scale — the corpus side is a 16-byte-key fingerprint
    table, so the anti-join shuffles fingerprints, never documents, and
    at 100 TB the fingerprint store is bucketed by fp so the anti-join
    is co-located."""
    docs = load_table(spark, sf_dir, "documents")
    corpus = (
        docs.filter(F.col("doc_id") <= 400)
        .select(F.md5("text").alias("fp"))
        .distinct()
    )
    batch = docs.filter(F.col("doc_id") > 400).select(
        "doc_id", "lang", F.md5("text").alias("fp")
    )
    fresh = batch.join(corpus, "fp", "left_anti")
    w = Window.partitionBy("fp").orderBy("doc_id")
    return (
        fresh.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
        .select("doc_id", "lang", "fp")
    )


@register(
    "l26_length_filter",
    oracle="""
    WITH bounds AS (
        SELECT lang,
               QUANTILE_CONT(n_chars, 0.05) AS lo,
               QUANTILE_CONT(n_chars, 0.95) AS hi
        FROM documents GROUP BY lang
    )
    SELECT d.doc_id, d.lang, d.n_chars
    FROM documents d JOIN bounds b ON d.lang = b.lang
    WHERE d.n_chars >= b.lo AND d.n_chars <= b.hi
    """,
)
def l26_length_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Outlier-trim quality filter: keep documents whose length falls
    inside the [p05, p95] band of their language's length distribution
    — the standard curation step that drops truncated fragments and
    concatenation blobs before training. Per-stratum exact percentiles
    (one shuffle on lang, |langs| result rows) broadcast back onto the
    scan; the filter itself is then map-side. Exact interpolated
    percentiles are cross-engine deterministic here (identical IEEE
    interpolation on int64 inputs); the scale path swaps in
    approx_percentile with the same join shape."""
    docs = load_table(spark, sf_dir, "documents")
    bounds = docs.groupBy("lang").agg(
        F.percentile("n_chars", 0.05).alias("lo"),
        F.percentile("n_chars", 0.95).alias("hi"),
    )
    return (
        docs.join(F.broadcast(bounds), "lang")
        .filter((F.col("n_chars") >= F.col("lo")) & (F.col("n_chars") <= F.col("hi")))
        .select("doc_id", "lang", "n_chars")
    )


_DECON_N = 8  # n-gram length for contamination matching (13 in papers;
# 8 here because the synthetic docs average ~50 tokens)
_BENCH_MOD = 17  # doc_id % 17 == 0 plays the held-out benchmark set


@register(
    "l30_decontamination",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, source, string_split(text, ' ') AS t FROM documents
    ), bench AS (
        SELECT DISTINCT array_to_string(t[g.i:g.i+{_DECON_N - 1}], ' ') AS sh
        FROM toks,
             LATERAL (SELECT unnest(generate_series(1, len(t) - {_DECON_N - 1})) AS i) g
        WHERE doc_id % {_BENCH_MOD} = 0
    ), train AS (
        SELECT doc_id, source,
               array_to_string(t[g.i:g.i+{_DECON_N - 1}], ' ') AS sh
        FROM toks,
             LATERAL (SELECT unnest(generate_series(1, len(t) - {_DECON_N - 1})) AS i) g
        WHERE doc_id % {_BENCH_MOD} <> 0
    )
    SELECT t.doc_id, t.source, COUNT(DISTINCT t.sh) AS n_hits
    FROM train t JOIN bench b ON b.sh = t.sh
    GROUP BY t.doc_id, t.source
    """,
)
def l30_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing any
    verbatim 8-gram with the held-out benchmark set (the
    GPT-3/Llama-style n-gram overlap rule; deterministic id-mod stands
    in for the eval suite). Plan shape: benchmark shingles are
    DISTINCT'd then hash-joined against the exploded training-shingle
    stream — at 100 TB the benchmark side is the eval suites (tiny,
    broadcastable) while the training side streams map-side; the
    shuffle carries only (doc, shingle) hits, never full documents.
    Output: one row per contaminated doc with its distinct-overlap
    count (the decision signal for drop-vs-keep)."""
    docs = load_table(spark, sf_dir, "documents").select(
        # Materialize tokens BEFORE shingling: the shingle lambda then
        # references a plain column, not a split() subtree it would
        # re-evaluate per shingle (no CSE in HOFs; 3.3× at sf0.1).
        "doc_id",
        "source",
        tokens(F.col("text")).alias("t"),
    )
    sh = shingles_of(F.col("t"), _DECON_N)
    bench = (
        docs.filter(F.col("doc_id") % _BENCH_MOD == 0)
        .select(F.explode(sh).alias("sh"))
        .distinct()
    )
    train = docs.filter(F.col("doc_id") % _BENCH_MOD != 0).select(
        "doc_id", "source", F.explode(sh).alias("sh")
    )
    return (
        train.join(F.broadcast(bench), "sh")
        .groupBy("doc_id", "source")
        .agg(F.count_distinct("sh").alias("n_hits"))
    )


_TRAIN_CHUNK = 32  # tokens per training chunk
_STRIDE = 24  # chunk start spacing → 8-token overlap between chunks


@register(
    "l31_chunk_overlap",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM documents
    ), sized AS (
        SELECT doc_id, t, len(t) AS n,
               CASE WHEN len(t) <= {_TRAIN_CHUNK} THEN 1
                    ELSE 1 + CAST(CEIL((len(t) - {_TRAIN_CHUNK})
                                       / CAST({_STRIDE} AS DOUBLE)) AS INT)
               END AS n_chunks
        FROM toks
    )
    SELECT doc_id, c.c AS chunk_id,
           CAST(len(t[c.c * {_STRIDE} + 1 : c.c * {_STRIDE} + {_TRAIN_CHUNK}])
                AS BIGINT) AS n_tokens,
           array_to_string(
               t[c.c * {_STRIDE} + 1 : c.c * {_STRIDE} + {_TRAIN_CHUNK}], ' '
           ) AS chunk_text
    FROM sized,
         LATERAL (SELECT unnest(generate_series(0, n_chunks - 1)) AS c) c
    """,
)
def l31_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking for LM training: 32-token chunks every
    24 tokens (8-token overlap so no context boundary is ever lost),
    last chunk clamped to the document end. The chunk count is
    closed-form from the token count, so this is a pure
    explode-over-sequence projection — zero shuffles, zero UDFs,
    embarrassingly parallel at any scale; sibling of l19_concat_chunks
    (which packs greedily without overlap)."""
    docs = load_table(spark, sf_dir, "documents")
    t = tokens(F.col("text"))
    n = F.size(t)
    n_chunks = F.when(n <= _TRAIN_CHUNK, F.lit(1)).otherwise(
        (
            F.ceil((n - _TRAIN_CHUNK) / F.lit(float(_STRIDE))) + 1
        ).cast("int")
    )
    chunk = F.slice(F.col("t"), F.col("c") * _STRIDE + 1, _TRAIN_CHUNK)
    return (
        docs.select(
            "doc_id",
            t.alias("t"),
            F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("c"),
        )
        .select(
            "doc_id",
            F.col("c").cast("int").alias("chunk_id"),
            F.size(chunk).cast("bigint").alias("n_tokens"),
            F.concat_ws(" ", chunk).alias("chunk_text"),
        )
    )


@register(
    "l32_source_mix",
    oracle="""
    WITH counts AS (
        SELECT source, COUNT(*) AS n FROM documents GROUP BY source
    ), tgt AS (
        SELECT MIN(n) AS min_n FROM counts
    ), thresh AS (
        SELECT c.source, CAST(FLOOR(1e4 * t.min_n / c.n) AS BIGINT) AS th
        FROM counts c, tgt t
    )
    SELECT d.doc_id, d.source
    FROM documents d JOIN thresh s ON s.source = d.source
    WHERE CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))
               AS UBIGINT) % 10000 < s.th
    """,
)
def l32_source_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source mixture rebalancing: downsample every source to the
    uniform-mixture feasible point (the smallest source's size) by
    deterministic id-hash thresholding — the data-mixing primitive
    behind 'N% web, M% code' training recipes (here with equal target
    weights). Per-source thresholds come from one tiny groupBy
    (sources × 1 row) cross-joined with the scalar min and broadcast
    back onto the scan, so the corpus pass is a single map-side filter
    — no shuffle of document rows, stable under reruns and dataset
    growth (same id-hash discipline as l18_hash_split, which fixes
    WHICH rows are kept, not just how many)."""
    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("source").agg(F.count("*").alias("n"))
    min_n = counts.agg(F.min("n").alias("min_n"))
    thresh = counts.crossJoin(min_n).select(
        "source",
        F.floor(F.lit(1e4) * F.col("min_n") / F.col("n")).alias("th"),
    )
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long") % 10000
    )
    return (
        docs.join(F.broadcast(thresh), "source")
        .filter(bucket < F.col("th"))
        .select("doc_id", "source")
    )


@register(
    "l38_language_mix",
    oracle=f"""
    WITH c AS (
        SELECT source, lang, COUNT(*) AS n FROM documents
        GROUP BY source, lang
    ), tot AS (
        SELECT source, SUM(n) AS tot FROM c GROUP BY source
    )
    SELECT c.source, c.lang,
           CAST(c.n AS BIGINT) AS n_docs,
           {sql_dround("CAST(c.n AS DOUBLE) / t.tot", 6)} AS share,
           {sql_dround(
               "-(CAST(c.n AS DOUBLE) / t.tot)"
               " * LOG2(CAST(c.n AS DOUBLE) / t.tot)", 6
           )} AS entropy_term
    FROM c JOIN tot t ON t.source = c.source
    """,
)
def l38_language_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language composition per source with per-cell entropy terms —
    the corpus-mix report behind multilingual data recipes (sum a
    source's entropy_term column for its language-diversity score;
    a monolingual source sums to 0). One (source, lang) hash
    aggregate, then the per-source totals come from a ROLLUP-shaped
    second agg of that tiny result, never a second corpus pass; the
    share/entropy arithmetic is per-row codegen. share > 0 always
    (the cell exists because n >= 1), so LOG2 never sees zero."""
    docs = load_table(spark, sf_dir, "documents")
    c = docs.groupBy("source", "lang").agg(F.count("*").alias("n"))
    tot = c.groupBy("source").agg(F.sum("n").alias("tot"))
    share = F.col("n").cast("double") / F.col("tot")
    return c.join(F.broadcast(tot), "source").select(
        "source",
        "lang",
        F.col("n").cast("bigint").alias("n_docs"),
        dround(share, 6).alias("share"),
        dround(-share * F.log2(share), 6).alias("entropy_term"),
    )


@register(
    "l39_importance_resample",
    oracle="""
    WITH scored AS (
        SELECT doc_id, source, n_chars,
               CAST(CASE
                   WHEN n_chars >= 200 AND n_chars <= 2000 THEN 1.0
                   WHEN n_chars < 200 THEN 0.25
                   ELSE 0.5
               END AS DOUBLE) AS keep_p
        FROM documents
    )
    SELECT doc_id, source, keep_p
    FROM scored
    WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
               AS UBIGINT) % 10000 < keep_p * 10000
    """,
)
def l39_importance_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Importance resampling: keep each document with probability
    proportional to a quality weight (here a length-band prior:
    mid-length docs always kept, short docs 1-in-4, long docs 1-in-2)
    — the per-document generalization of l32's per-source mixing, and
    the mechanism behind quality-upweighted pretraining recipes.
    Deterministic id-hash thresholding (same md5 discipline as
    l18/l32) so reruns and backfills keep EXACTLY the same rows — a
    random() sample would differ per run and break incremental
    pipelines. Pure projection + filter: no shuffle, no state, scales
    as a map-only pass with the filter evaluated inside the scan
    stage."""
    docs = load_table(spark, sf_dir, "documents")
    keep_p = (
        F.when(
            (F.col("n_chars") >= 200) & (F.col("n_chars") <= 2000), 1.0
        )
        .when(F.col("n_chars") < 200, 0.25)
        .otherwise(0.5)
    )
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long") % 10000
    )
    return (
        docs.withColumn("keep_p", keep_p)
        .filter(bucket < F.col("keep_p") * 10000)
        .select("doc_id", "source", "keep_p")
    )


_Q_SCALE = 0.1  # int8 quantization step (embeddings are ~N(0, 0.125))


@register(
    "l40_embedding_quantization",
    oracle=f"""
    WITH err AS (
        SELECT vec_id, label,
               ABS(embedding[g.i]
                   - {_Q_SCALE} * GREATEST(-127, LEAST(127,
                         FLOOR(embedding[g.i] / {_Q_SCALE} + 0.5)))) AS e
        FROM embeddings,
             LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i) g
    )
    SELECT label,
           CAST(COUNT(*) AS BIGINT) AS n_components,
           {sql_dround("AVG(e)", 6)} AS mean_abs_err,
           {sql_dround("MAX(e)", 6)} AS max_abs_err
    FROM err
    GROUP BY label
    """,
)
def l40_embedding_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar int8 quantization error: quantize every embedding
    component to a symmetric int8 grid (round-half-up, clamp ±127),
    dequantize, and report mean/max absolute reconstruction error per
    label — the go/no-go measurement before shipping a quantized ANN
    index (4x smaller vectors, and the error bound tells you how much
    recall you're trading). The round-clamp-dequantize chain is pure
    per-element codegen arithmetic written IDENTICALLY on both
    engines (FLOOR(x/s + 0.5) — F.round is HALF_EVEN and would
    disagree on grid-boundary components); posexplode + one hash agg,
    O(labels) output rows."""
    emb = load_table(spark, sf_dir, "embeddings")
    v = F.col("v")
    q = F.greatest(
        F.lit(-127.0),
        F.least(F.lit(127.0), F.floor(v / _Q_SCALE + 0.5)),
    )
    err = F.abs(v - _Q_SCALE * q)
    return (
        emb.select("label", F.posexplode("embedding").alias("pos", "v"))
        .select("label", err.alias("e"))
        .groupBy("label")
        .agg(
            F.count("*").cast("bigint").alias("n_components"),
            dround(F.avg("e"), 6).alias("mean_abs_err"),
            dround(F.max("e"), 6).alias("max_abs_err"),
        )
    )


@register(
    "l41_source_drift",
    oracle=f"""
    WITH tok AS (
        SELECT source, t.token AS token
        FROM documents, UNNEST(string_split(text, ' ')) AS t(token)
    ), st AS (
        SELECT source, token, COUNT(*) AS n FROM tok GROUP BY source, token
    ), s_tot AS (
        SELECT source, SUM(n) AS stot FROM st GROUP BY source
    ), ct AS (
        SELECT token, SUM(n) AS cn FROM st GROUP BY token
    ), c_tot AS (
        SELECT SUM(cn) AS ctot FROM ct
    )
    SELECT st.source,
           CAST(COUNT(*) AS BIGINT) AS n_types,
           {sql_dround(
               "SUM((CAST(st.n AS DOUBLE) / s_tot.stot)"
               " * LOG2((CAST(st.n AS DOUBLE) / s_tot.stot)"
               "        / (CAST(ct.cn AS DOUBLE) / c_tot.ctot)))", 6
           )} AS kl_bits
    FROM st
    JOIN s_tot ON s_tot.source = st.source
    JOIN ct ON ct.token = st.token
    CROSS JOIN c_tot
    GROUP BY st.source
    """,
)
def l41_source_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution drift per source: KL(source-token-distribution ||
    corpus-token-distribution) in bits — the mix-monitoring signal
    that catches a source going off-distribution (scraper breakage, a
    crawl picking up a new site genre) before it shifts the training
    mixture. Every term is well-defined without smoothing because the
    corpus distribution is the mixture of the sources: any token a
    source has, the corpus has. The (source, token) aggregate is the
    root of every LM term (per-source totals, corpus token counts,
    corpus total are all rollups of it) — but Catalyst does not share
    the subtree, so the executed plan re-derives each rollup branch
    through its own corpus scan (4 scans; same trade measured for
    l33: inline persist of the vocab-sized aggregate is a wash below
    corpus ≫ vocab, and at production scale the token-count table is
    materialized once as its own pipeline step). The scoring join
    lands on the token key the aggregate already hashed on;
    per-source totals and the corpus total are tiny broadcasts.
    Output is O(sources)."""
    docs = load_table(spark, sf_dir, "documents")
    st = (
        docs.select(
            "source", F.explode(F.split(F.col("text"), " ", -1)).alias("token")
        )
        .groupBy("source", "token")
        .agg(F.count("*").alias("n"))
    )
    s_tot = st.groupBy("source").agg(F.sum("n").alias("stot"))
    ct = st.groupBy("token").agg(F.sum("n").alias("cn"))
    c_tot = ct.agg(F.sum("cn").alias("ctot"))
    p = F.col("n").cast("double") / F.col("stot")
    q = F.col("cn").cast("double") / F.col("ctot")
    return (
        st.join(F.broadcast(s_tot), "source")
        .join(ct, "token")
        .crossJoin(F.broadcast(c_tot))
        .groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_types"),
            dround(F.sum(p * F.log2(p / q)), 6).alias("kl_bits"),
        )
    )


@register(
    "l42_dedup_pipeline",
    oracle="""
    WITH slice AS (
        SELECT doc_id, source FROM documents WHERE doc_id <= 120
    ), tok AS (
        SELECT DISTINCT d.doc_id, t.token AS token
        FROM documents d, UNNEST(string_split(d.text, ' ')) AS t(token)
        WHERE d.doc_id <= 120
    ), sizes AS (
        SELECT doc_id, COUNT(*) AS n FROM tok GROUP BY doc_id
    ), inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
        FROM tok a JOIN tok b ON a.token = b.token AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ), edges AS (
        SELECT id_a, id_b FROM inter
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
        WHERE n_common * 1.0 / (sa.n + sb.n - n_common) >= 0.55
    ), sym AS (
        SELECT id_a AS s, id_b AS d FROM edges
        UNION SELECT id_b, id_a FROM edges
    ), cc AS (
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
    )
    SELECT s.doc_id, s.source,
           CAST(COALESCE(c.component, s.doc_id) AS BIGINT) AS canonical_id,
           COALESCE(c.component, s.doc_id) = s.doc_id AS is_survivor
    FROM slice s LEFT JOIN cc c ON c.node = s.doc_id
    """,
)
def l42_dedup_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WHOLE near-dedup pipeline end-to-end, oracle-certified:
    pair generation → exact Jaccard verify (≥ 0.55) → connected-
    component closure → survivor election (min doc id per cluster) →
    the final corpus disposition (every doc tagged with its canonical
    representative and whether it survives). This is the composition
    users actually run — the individual stages (l4 pairs, l16
    clusters) certify pieces; this certifies the handoffs, including
    the singleton path (docs in no cluster survive as their own
    canonical). Bounded to the 120-doc slice so the all-pairs verify
    stays the oracle twin; at scale the pair stage swaps for l7's
    MinHash-LSH banding and everything downstream is UNCHANGED — the
    pipeline's cluster/survivor stages only ever see (id_a, id_b)
    edges, never the corpus."""
    from security_master_spark.operators.clustering import connected_components
    from security_master_spark.operators.dedup import jaccard_pairs

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") <= 120
    )
    ids = docs.select(F.col("doc_id").alias("id_a"))
    cand = ids.join(
        docs.select(F.col("doc_id").alias("id_b")),
        F.col("id_a") < F.col("id_b"),
    )
    edges = (
        jaccard_pairs(docs, cand)
        .filter(F.col("jaccard") >= 0.55)
        .select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    )
    cc = connected_components(edges)
    out = docs.select("doc_id", "source").join(
        cc.withColumnRenamed("node", "doc_id"), "doc_id", "left"
    )
    canonical = F.coalesce(F.col("component"), F.col("doc_id"))
    return out.select(
        "doc_id",
        "source",
        canonical.cast("bigint").alias("canonical_id"),
        (canonical == F.col("doc_id")).alias("is_survivor"),
    )


_ZIPF_K = 1000  # fit over the top-K head of the rank-frequency curve


@register(
    "l43_zipf_slope",
    oracle=f"""
    WITH tf AS (
        SELECT t.token AS token, COUNT(*) AS tf
        FROM documents, UNNEST(string_split(text, ' ')) AS t(token)
        GROUP BY t.token
    ), head AS (
        SELECT token, tf,
               ROW_NUMBER() OVER (ORDER BY tf DESC, token) AS rnk
        FROM tf
        ORDER BY tf DESC, token
        LIMIT {_ZIPF_K}
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_types,
           {sql_dround(
               "REGR_SLOPE(LOG2(CAST(tf AS DOUBLE)),"
               " LOG2(CAST(rnk AS DOUBLE)))", 6
           )} AS zipf_slope,
           {sql_dround(
               "REGR_R2(LOG2(CAST(tf AS DOUBLE)),"
               " LOG2(CAST(rnk AS DOUBLE)))", 6
           )} AS fit_r2
    FROM head
    """,
)
def l43_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-health diagnostic: the log-log slope of the token
    rank-frequency head — natural language sits near Zipf's −1;
    template/boilerplate corpora flatten it, and tokenizer damage
    (over-splitting) steepens it. The top-K head arrives via
    orderBy().limit() (TakeOrderedAndProject — parallel per-partition
    top-K, never a global sort of the vocabulary; the l34 lesson),
    ranks are a row_number over the BOUNDED K-row result (a 1000-row
    single partition is a constant, not a scale term), and the fit is
    the single-pass REGR_SLOPE/REGR_R2 moment aggregates. Ties at
    the rank-K boundary break on token text, so both engines fit the
    identical point set."""
    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.select(F.explode(F.split(F.col("text"), " ", -1)).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("tf"))
    )
    from pyspark.sql import Window

    head = (
        tf.orderBy(F.col("tf").desc(), "token")
        .limit(_ZIPF_K)
        .withColumn(
            "rnk",
            F.row_number().over(
                Window.orderBy(F.col("tf").desc(), F.col("token"))
            ),
        )
    )
    lx = F.log2(F.col("rnk").cast("double"))
    ly = F.log2(F.col("tf").cast("double"))
    return head.agg(
        F.count("*").cast("bigint").alias("n_types"),
        dround(F.regr_slope(ly, lx), 6).alias("zipf_slope"),
        dround(F.regr_r2(ly, lx), 6).alias("fit_r2"),
    )


# l52 REPORTS boilerplate chunks (any chunk seen in ≥2 docs); l56 takes
# the next pipeline step — apply first-occurrence-wins survivorship at
# chunk granularity and measure how much of each document survives,
# the number a curation team actually budgets against. l10/l26 score
# documents; l57 accounts for WHICH rule kills each document per
# source — the funnel report that decides which filter to retune.


_DEDUP_CHUNK = 16  # tokens per disjoint dedup chunk


@register(
    "l56_chunk_dedup_retention",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, UNNEST(string_split(text, ' ')) AS tok,
               GENERATE_SUBSCRIPTS(string_split(text, ' '), 1) AS i
        FROM documents
    ), chunks AS (
        SELECT doc_id,
               CAST((i - 1) // {_DEDUP_CHUNK} AS BIGINT) AS chunk_idx,
               md5(STRING_AGG(tok, ' ' ORDER BY i)) AS chunk_h,
               COUNT(*) AS n_tok
        FROM tok
        GROUP BY doc_id, CAST((i - 1) // {_DEDUP_CHUNK} AS BIGINT)
    ), kept AS (
        SELECT doc_id, chunk_idx, n_tok,
               ROW_NUMBER() OVER (PARTITION BY chunk_h
                                  ORDER BY doc_id, chunk_idx) AS occ
        FROM chunks
    )
    SELECT doc_id,
           COUNT(*) AS n_chunks,
           CAST(SUM(CASE WHEN occ = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS kept_chunks,
           {sql_dround(
               "SUM(CASE WHEN occ = 1 THEN n_tok ELSE 0 END)"
               " / CAST(SUM(n_tok) AS DOUBLE)", 6)} AS token_retention
    FROM kept
    GROUP BY doc_id
    """,
)
def l56_chunk_dedup_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-occurrence-wins dedup at chunk granularity: disjoint
    16-token chunks are deduped corpus-wide (the occurrence with the
    smallest (doc_id, chunk_idx) survives), and each document reports
    how many chunks / what token mass it retains. This is the apply
    step downstream of l52's boilerplate REPORT — the retention
    column is what you multiply corpus size by before provisioning a
    training run.

    Scale shape: chunks are materialized by a closed-form slice of
    the token array (one projection, no explode-then-regroup of raw
    tokens), immediately reduced to their 16-byte md5 — the global
    first-wins window partitions on the HASH, so the wide shuffle
    carries (hash, doc_id, chunk_idx, n_tok), never chunk text. The
    per-hash partition is tiny (duplicate multiplicity), so the
    window sort is O(dups) per key — equivalent to the groupBy+min
    form but one operator fewer. Final per-doc regroup shuffles
    pre-counted rows."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ", -1)
    n_chunks = F.ceil(F.size(toks) / float(_DEDUP_CHUNK)).cast("int")
    chunks = docs.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), n_chunks - 1),
                lambda i: F.slice(toks, i * _DEDUP_CHUNK + 1, _DEDUP_CHUNK),
            )
        ).alias("chunk_idx", "chunk_toks"),
    ).select(
        "doc_id",
        F.col("chunk_idx").cast("bigint").alias("chunk_idx"),
        F.md5(F.array_join("chunk_toks", " ")).alias("chunk_h"),
        F.size("chunk_toks").cast("bigint").alias("n_tok"),
    )
    occ = F.row_number().over(
        Window.partitionBy("chunk_h").orderBy("doc_id", "chunk_idx")
    )
    kept = chunks.withColumn("occ", occ)
    is_first = F.when(F.col("occ") == 1, 1).otherwise(0)
    return kept.groupBy("doc_id").agg(
        F.count("*").alias("n_chunks"),
        F.sum(is_first).cast("bigint").alias("kept_chunks"),
        dround(
            F.sum(is_first * F.col("n_tok"))
            / F.sum("n_tok").cast("double"),
            6,
        ).alias("token_retention"),
    )


_MIN_TOK, _MAX_TOK = 30, 500  # rule 1: token-count band
_MIN_MWL, _MAX_MWL = 3.0, 8.0  # rule 2: mean word length band
_MIN_STOP = 0.02  # rule 3: stopword-fraction floor
_STOPWORDS = ("the", "a")


@register(
    "l57_filter_funnel",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, UNNEST(string_split(text, ' ')) AS tok
        FROM documents
    ), per_doc AS (
        SELECT d.source,
               t.n_tokens,
               (d.n_len - (t.n_tokens - 1)) / CAST(t.n_tokens AS DOUBLE)
                   AS mean_word_len,
               t.stop_tokens / CAST(t.n_tokens AS DOUBLE) AS stop_frac
        FROM (SELECT doc_id, source, LENGTH(text) AS n_len
              FROM documents) d
        JOIN (SELECT doc_id, COUNT(*) AS n_tokens,
                     SUM(CASE WHEN tok IN {_STOPWORDS} THEN 1 ELSE 0 END)
                         AS stop_tokens
              FROM tok GROUP BY doc_id) t USING (doc_id)
    ), flags AS (
        SELECT source,
               (n_tokens BETWEEN {_MIN_TOK} AND {_MAX_TOK}) AS r1,
               (mean_word_len BETWEEN {_MIN_MWL} AND {_MAX_MWL}) AS r2,
               (stop_frac >= {_MIN_STOP}) AS r3
        FROM per_doc
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN NOT r1 THEN 1 ELSE 0 END) AS BIGINT)
               AS fail_length,
           CAST(SUM(CASE WHEN r1 AND NOT r2 THEN 1 ELSE 0 END) AS BIGINT)
               AS fail_word_len,
           CAST(SUM(CASE WHEN r1 AND r2 AND NOT r3 THEN 1 ELSE 0 END)
                AS BIGINT) AS fail_stopword,
           CAST(SUM(CASE WHEN r1 AND r2 AND r3 THEN 1 ELSE 0 END) AS BIGINT)
               AS survivors,
           {sql_dround(
               "SUM(CASE WHEN r1 AND r2 AND r3 THEN 1 ELSE 0 END)"
               " / CAST(COUNT(*) AS DOUBLE)", 6)} AS survival_rate
    FROM flags
    GROUP BY source
    """,
)
def l57_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-filter FUNNEL per source: documents are pushed through
    the Gopher-style rule chain (token-count band → mean-word-length
    band → stopword-fraction floor) in a fixed order, and each source
    reports how many docs the chain kills at each stage and how many
    survive — the report that tells a curation team which rule to
    retune for which source (a 40 % fail_length on one crawl is a
    chunking bug, not bad data).

    Scale shape: mean word length is CLOSED FORM from (n_chars,
    n_tokens) — chars minus separators over tokens — so the only
    token-level pass is the stopword count: one explode → per-doc
    partial-count groupBy (shuffle carries counts, not text), joined
    back to the documents scan's projection, then a per-source
    roll-up of boolean flags. Stage attribution is conditional
    aggregation, not a chain of anti-joins — one pass, no
    intermediate corpus copies."""
    docs = load_table(spark, sf_dir, "documents")
    tok_stats = (
        docs.select(
            "doc_id",
            F.explode(F.split(F.col("text"), " ", -1)).alias("tok"),
        )
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum(
                F.when(F.col("tok").isin(*_STOPWORDS), 1).otherwise(0)
            ).alias("stop_tokens"),
        )
    )
    per_doc = docs.select(
        "doc_id", "source", F.length("text").alias("n_len")
    ).join(tok_stats, "doc_id")
    nt = F.col("n_tokens").cast("double")
    r1 = F.col("n_tokens").between(_MIN_TOK, _MAX_TOK)
    r2 = (
        (F.col("n_len") - (F.col("n_tokens") - 1)) / nt
    ).between(_MIN_MWL, _MAX_MWL)
    r3 = (F.col("stop_tokens") / nt) >= _MIN_STOP
    flags = per_doc.select(
        "source", r1.alias("r1"), r2.alias("r2"), r3.alias("r3")
    )
    survive = F.col("r1") & F.col("r2") & F.col("r3")
    cnt = lambda c: F.sum(F.when(c, 1).otherwise(0)).cast("bigint")  # noqa: E731
    return flags.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        cnt(~F.col("r1")).alias("fail_length"),
        cnt(F.col("r1") & ~F.col("r2")).alias("fail_word_len"),
        cnt(F.col("r1") & F.col("r2") & ~F.col("r3")).alias("fail_stopword"),
        cnt(survive).alias("survivors"),
        dround(
            F.sum(F.when(survive, 1).otherwise(0))
            / F.count("*").cast("double"),
            6,
        ).alias("survival_rate"),
    )


@register(
    "l58_corpus_build_pipeline",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, UNNEST(string_split(text, ' ')) AS tok,
               GENERATE_SUBSCRIPTS(string_split(text, ' '), 1) AS i
        FROM documents
    ), per_doc AS (
        SELECT d.doc_id, d.source,
               t.n_tokens,
               (d.n_len - (t.n_tokens - 1)) / CAST(t.n_tokens AS DOUBLE)
                   AS mean_word_len,
               t.stop_tokens / CAST(t.n_tokens AS DOUBLE) AS stop_frac
        FROM (SELECT doc_id, source, LENGTH(text) AS n_len
              FROM documents) d
        JOIN (SELECT doc_id, COUNT(*) AS n_tokens,
                     SUM(CASE WHEN tok IN {_STOPWORDS} THEN 1 ELSE 0 END)
                         AS stop_tokens
              FROM tok GROUP BY doc_id) t USING (doc_id)
    ), survivors AS (
        SELECT doc_id, source, n_tokens FROM per_doc
        WHERE n_tokens BETWEEN {_MIN_TOK} AND {_MAX_TOK}
          AND mean_word_len BETWEEN {_MIN_MWL} AND {_MAX_MWL}
          AND stop_frac >= {_MIN_STOP}
    ), chunks AS (
        SELECT tok.doc_id,
               CAST((i - 1) // {_DEDUP_CHUNK} AS BIGINT) AS chunk_idx,
               md5(STRING_AGG(tok, ' ' ORDER BY i)) AS chunk_h,
               COUNT(*) AS n_tok
        FROM tok JOIN survivors USING (doc_id)
        GROUP BY tok.doc_id, CAST((i - 1) // {_DEDUP_CHUNK} AS BIGINT)
    ), kept AS (
        SELECT doc_id, n_tok,
               ROW_NUMBER() OVER (PARTITION BY chunk_h
                                  ORDER BY doc_id, chunk_idx) AS occ
        FROM chunks
    ), doc_kept AS (
        SELECT doc_id,
               SUM(CASE WHEN occ = 1 THEN n_tok ELSE 0 END) AS kept_tok
        FROM kept GROUP BY doc_id
    ), final AS (
        SELECT s.source, s.n_tokens, dk.kept_tok,
               CASE WHEN CAST(('0x' || substr(md5(CAST(s.doc_id AS
                         VARCHAR)), 1, 8)) AS UBIGINT) % 100 < 80
                    THEN 'train'
                    WHEN CAST(('0x' || substr(md5(CAST(s.doc_id AS
                         VARCHAR)), 1, 8)) AS UBIGINT) % 100 < 90
                    THEN 'val' ELSE 'test' END AS split
        FROM survivors s JOIN doc_kept dk USING (doc_id)
    )
    SELECT split, source,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS raw_tokens,
           CAST(SUM(kept_tok) AS BIGINT) AS kept_tokens,
           {sql_dround(
               "SUM(kept_tok) / CAST(SUM(n_tokens) AS DOUBLE)", 6)}
               AS dedup_retention
    FROM final
    GROUP BY split, source
    """,
)
def l58_corpus_build_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WHOLE training-corpus build, end-to-end and
    oracle-certified: Gopher-rule quality gate (l57's exact rules) →
    chunk-level first-wins dedup over the SURVIVORS (l56's rule —
    dedup after filtering, so boilerplate in rejected docs can't
    steal canonical slots) → deterministic id-hash split (l18's rule)
    → the per-(split, source) token ledger a training run is
    provisioned from. The stage queries certify the pieces; this
    certifies the HANDOFFS — filter-before-dedup ordering, dedup
    keyed on post-filter population, split independence from content.

    One corpus scan feeds both the token stats and the chunk stream;
    everything that crosses a shuffle is counts or 16-byte hashes.
    The composition adds NO new shuffle class beyond its stages; at
    100 TB the same plan runs with the chunk window partitioned on
    the hash exactly as in l56."""
    docs = load_table(spark, sf_dir, "documents")
    tok_stats = (
        docs.select(
            "doc_id", F.explode(F.split(F.col("text"), " ", -1)).alias("tok")
        )
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum(
                F.when(F.col("tok").isin(*_STOPWORDS), 1).otherwise(0)
            ).alias("stop_tokens"),
        )
    )
    nt = F.col("n_tokens").cast("double")
    survivors = (
        docs.select("doc_id", "source", F.length("text").alias("n_len"))
        .join(tok_stats, "doc_id")
        .filter(
            F.col("n_tokens").between(_MIN_TOK, _MAX_TOK)
            & (
                (F.col("n_len") - (F.col("n_tokens") - 1)) / nt
            ).between(_MIN_MWL, _MAX_MWL)
            & ((F.col("stop_tokens") / nt) >= _MIN_STOP)
        )
        .select("doc_id", "source", "n_tokens")
    )
    toks = F.split(F.col("text"), " ", -1)
    n_chunks = F.ceil(F.size(toks) / float(_DEDUP_CHUNK)).cast("int")
    chunks = (
        docs.join(survivors.select("doc_id"), "doc_id")
        .select(
            "doc_id",
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(0), n_chunks - 1),
                    lambda i: F.slice(toks, i * _DEDUP_CHUNK + 1, _DEDUP_CHUNK),
                )
            ).alias("chunk_idx", "chunk_toks"),
        )
        .select(
            "doc_id",
            F.col("chunk_idx").cast("bigint").alias("chunk_idx"),
            F.md5(F.array_join("chunk_toks", " ")).alias("chunk_h"),
            F.size("chunk_toks").cast("bigint").alias("n_tok"),
        )
    )
    occ = F.row_number().over(
        Window.partitionBy("chunk_h").orderBy("doc_id", "chunk_idx")
    )
    doc_kept = (
        chunks.withColumn("occ", occ)
        .groupBy("doc_id")
        .agg(
            F.sum(
                F.when(F.col("occ") == 1, F.col("n_tok")).otherwise(0)
            ).alias("kept_tok")
        )
    )
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long") % 100
    )
    final = survivors.join(doc_kept, "doc_id").select(
        "source",
        "n_tokens",
        "kept_tok",
        F.when(bucket < 80, "train")
        .when(bucket < 90, "val")
        .otherwise("test")
        .alias("split"),
    )
    return final.groupBy("split", "source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("raw_tokens"),
        F.sum("kept_tok").cast("bigint").alias("kept_tokens"),
        dround(
            F.sum("kept_tok") / F.sum("n_tokens").cast("double"), 6
        ).alias("dedup_retention"),
    )


@register(
    "l59_bleu_pairs",
    oracle="""
    WITH pairs AS (
        SELECT a.doc_id AS pid, a.text AS ctext, b.text AS rtext
        FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
        WHERE a.doc_id % 2 = 0
    ), ctok AS (
        SELECT pid, UNNEST(string_split(ctext, ' ')) AS tok,
               GENERATE_SUBSCRIPTS(string_split(ctext, ' '), 1) AS i
        FROM pairs
    ), rtok AS (
        SELECT pid, UNNEST(string_split(rtext, ' ')) AS tok,
               GENERATE_SUBSCRIPTS(string_split(rtext, ' '), 1) AS i
        FROM pairs
    ), lens AS (
        SELECT c.pid, c.n AS clen, r.n AS rlen
        FROM (SELECT pid, COUNT(*) AS n FROM ctok GROUP BY pid) c
        JOIN (SELECT pid, COUNT(*) AS n FROM rtok GROUP BY pid) r
          USING (pid)
    ), c1 AS (
        SELECT pid, tok, COUNT(*) AS c FROM ctok GROUP BY 1, 2
    ), r1 AS (
        SELECT pid, tok, COUNT(*) AS c FROM rtok GROUP BY 1, 2
    ), prec1 AS (
        SELECT c1.pid,
               SUM(LEAST(c1.c, COALESCE(r1.c, 0))) AS clip,
               SUM(c1.c) AS tot
        FROM c1 LEFT JOIN r1 USING (pid, tok)
        GROUP BY c1.pid
    ), cbg AS (
        SELECT pid, tok || ' ' || LEAD(tok) OVER w AS bg
        FROM ctok WINDOW w AS (PARTITION BY pid ORDER BY i)
        QUALIFY bg IS NOT NULL
    ), rbg AS (
        SELECT pid, tok || ' ' || LEAD(tok) OVER w AS bg
        FROM rtok WINDOW w AS (PARTITION BY pid ORDER BY i)
        QUALIFY bg IS NOT NULL
    ), c2 AS (
        SELECT pid, bg, COUNT(*) AS c FROM cbg GROUP BY 1, 2
    ), r2 AS (
        SELECT pid, bg, COUNT(*) AS c FROM rbg GROUP BY 1, 2
    ), prec2 AS (
        SELECT c2.pid,
               SUM(LEAST(c2.c, COALESCE(r2.c, 0))) AS clip,
               SUM(c2.c) AS tot
        FROM c2 LEFT JOIN r2 USING (pid, bg)
        GROUP BY c2.pid
    ), scored AS (
        SELECT lens.pid,
               prec1.clip / CAST(prec1.tot AS DOUBLE) AS p1,
               COALESCE(prec2.clip / CAST(prec2.tot AS DOUBLE), 0) AS p2,
               CASE WHEN lens.clen > lens.rlen THEN 1.0
                    ELSE EXP(1 - lens.rlen / CAST(lens.clen AS DOUBLE))
               END AS bp
        FROM lens
        JOIN prec1 USING (pid)
        LEFT JOIN prec2 USING (pid)
    )
    SELECT pid AS cand_doc_id,
           FLOOR(p1 * 1e6 + 0.5) / 1e6 AS p1,
           FLOOR(p2 * 1e6 + 0.5) / 1e6 AS p2,
           FLOOR(bp * 1e6 + 0.5) / 1e6 AS brevity_penalty,
           FLOOR(CASE WHEN p1 > 0 AND p2 > 0
                      THEN bp * EXP(0.5 * LN(p1) + 0.5 * LN(p2))
                      ELSE 0 END * 1e6 + 0.5) / 1e6 AS bleu2
    FROM scored
    """,
)
def l59_bleu_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BLEU-2 between deterministic candidate/reference document
    pairs (doc 2k scored against doc 2k+1): modified n-gram precision
    with CLIPPED multiset counts (each candidate n-gram credits at
    most its reference multiplicity — the part Jaccard l4 and
    containment l44 cannot express), geometric mean over n ∈ {1,2},
    and the brevity penalty. The eval-suite scoring primitive
    (Papineni et al. 2002) run as a corpus job — generation QA at
    ingest scale.

    Shape per n-gram order: explode → per-(pair, gram) counts on BOTH
    sides (shuffles carry counts, not text), one LEFT key join, one
    per-pair sum. The bigram stream reuses the materialized token
    arrays via shingles_of (the no-CSE discipline from
    functions/text.py). All joins are on (pair, gram) keys — no
    all-pairs anything; candidate/reference pairing is an input, as
    in any eval harness."""
    from security_master_spark.functions.text import shingles_of

    docs = load_table(spark, sf_dir, "documents")
    a = docs.alias("a")
    b = docs.alias("b")
    pairs = (
        a.join(b, F.col("b.doc_id") == F.col("a.doc_id") + 1)
        .filter(F.col("a.doc_id") % 2 == 0)
        .select(
            F.col("a.doc_id").alias("pid"),
            F.split(F.col("a.text"), " ", -1).alias("ctoks"),
            F.split(F.col("b.text"), " ", -1).alias("rtoks"),
        )
    )

    def gram_counts(col, n, out):
        src = pairs.select(
            "pid",
            F.explode(
                F.col(col) if n == 1 else shingles_of(F.col(col), 2)
            ).alias("g"),
        )
        return src.groupBy("pid", "g").agg(F.count("*").alias(out))

    def clipped(n):
        c = gram_counts("ctoks", n, "c")
        r = gram_counts("rtoks", n, "r")
        return (
            c.join(r, ["pid", "g"], "left")
            .groupBy("pid")
            .agg(
                F.sum(F.least(F.col("c"), F.coalesce(F.col("r"), F.lit(0))))
                .alias("clip"),
                F.sum("c").alias("tot"),
            )
            .select(
                "pid",
                (F.col("clip") / F.col("tot").cast("double")).alias(
                    f"p{n}_raw"
                ),
            )
        )

    lens = pairs.select(
        "pid",
        F.size("ctoks").alias("clen"),
        F.size("rtoks").alias("rlen"),
    )
    # try_divide: an empty candidate (clen = 0) can only reach the
    # otherwise-branch (0 > rlen is false), where bare ANSI `/` would
    # crash; BLEU for an empty candidate is NULL on both engines.
    bp = F.when(F.col("clen") > F.col("rlen"), F.lit(1.0)).otherwise(
        F.exp(1 - F.try_divide(F.col("rlen"), F.col("clen").cast("double")))
    )
    scored = (
        lens.join(clipped(1), "pid")
        .join(clipped(2), "pid", "left")
        .select(
            "pid",
            "p1_raw",
            F.coalesce("p2_raw", F.lit(0.0)).alias("p2_raw"),
            bp.alias("bp_raw"),
        )
    )
    bleu = F.when(
        (F.col("p1_raw") > 0) & (F.col("p2_raw") > 0),
        F.col("bp_raw")
        * F.exp(0.5 * F.log("p1_raw") + 0.5 * F.log("p2_raw")),
    ).otherwise(0.0)
    return scored.select(
        F.col("pid").alias("cand_doc_id"),
        dround(F.col("p1_raw"), 6).alias("p1"),
        dround(F.col("p2_raw"), 6).alias("p2"),
        dround(F.col("bp_raw"), 6).alias("brevity_penalty"),
        dround(bleu, 6).alias("bleu2"),
    )

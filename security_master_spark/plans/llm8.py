"""Round-5 LLM-pipeline candidates, batch 3 (SURVEY.md §2.12):
corpus-composition diagnostics (language mix), deterministic
importance resampling, and embedding quantization error.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from security_master_spark.datasets import load_table
from security_master_spark.functions.rounding import dround, sql_dround
from security_master_spark.plans.registry import register


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

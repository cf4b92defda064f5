"""Round-6 LLM-pipeline batch (SURVEY.md §2.12): BM25 ranked
retrieval — the lexical-search scoring function behind every RAG
retrieval baseline and data-curation "find documents like this query"
pass; TF-IDF (l22) ranks terms within a doc, BM25 ranks DOCS for a
query with tf saturation and length normalization.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from security_master_spark.datasets import load_table
from security_master_spark.functions.rounding import dround, sql_dround
from security_master_spark.functions.text import (
    QUALITY_SQL,
    quality_score,
    tokens,
)
from security_master_spark.plans.registry import register

#: the fixed retrieval query (mid-frequency fixture vocabulary) and
#: the standard Okapi constants.
_QUERY_TERMS = ("join", "window", "merge", "scan")
_K1 = 1.2
_B = 0.75
_TOP_K = 10

_TERMS_SQL = ", ".join(f"('{t}')" for t in _QUERY_TERMS)


@register(
    "l62_bm25_topk",
    oracle=f"""
    WITH terms(term) AS (
        VALUES {_TERMS_SQL}
    ), dl AS (
        SELECT doc_id, len(string_split(text, ' ')) AS dl
        FROM documents
    ), stats AS (
        SELECT AVG(CAST(dl AS DOUBLE)) AS avgdl,
               CAST(COUNT(*) AS DOUBLE) AS n_docs
        FROM dl
    ), tok AS (
        SELECT doc_id, t.token AS term
        FROM documents, UNNEST(string_split(text, ' ')) AS t(token)
        WHERE t.token IN (SELECT term FROM terms)
    ), tf AS (
        SELECT doc_id, term, CAST(COUNT(*) AS DOUBLE) AS tf
        FROM tok GROUP BY doc_id, term
    ), df AS (
        SELECT term, CAST(COUNT(*) AS DOUBLE) AS df
        FROM tf GROUP BY term
    ), scored AS (
        SELECT tf.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_terms_hit,
               SUM(LN(1 + (n_docs - df + 0.5) / (df + 0.5))
                   * tf * ({_K1} + 1)
                   / (tf + {_K1} * (1 - {_B} + {_B} * dl / avgdl)))
                   AS score
        FROM tf
        JOIN df USING (term)
        JOIN dl ON dl.doc_id = tf.doc_id
        CROSS JOIN stats
        GROUP BY tf.doc_id
    )
    SELECT doc_id, n_terms_hit,
           {sql_dround("score", 6)} AS bm25
    FROM scored
    QUALIFY ROW_NUMBER() OVER (
        ORDER BY {sql_dround("score", 6)} DESC, doc_id ASC
    ) <= {_TOP_K}
    """,
)
def l62_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-10 retrieval for a fixed query: per matching
    doc, Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl)) with
    idf = ln(1 + (N−df+0.5)/(df+0.5)) — tf saturates (k1), long docs
    are penalized (b·dl/avgdl), and rare terms dominate (idf). The
    l22 sort-key discipline adapted for a float score: ranking uses
    the 6-dp ROUNDED score (the exact value the hash certifies) with
    a doc_id tie-break, so both engines rank the identical key.

    Scale: the token stream is filtered to the |query| terms AT THE
    SCAN (predicate on the exploded token — at 100 TB this is the
    difference between shuffling the corpus vocabulary and shuffling
    |query|·|docs| rows); df and the corpus stats are term-count and
    scalar frames that broadcast back onto tf; doc length comes from
    one array-size projection, never a second explode. One top-K
    TakeOrderedAndProject ends the plan — no full sort."""
    docs = load_table(spark, sf_dir, "documents")
    dl = docs.select(
        "doc_id", F.size(tokens(F.col("text"))).alias("dl")
    )
    stats = dl.agg(
        F.avg(F.col("dl").cast("double")).alias("avgdl"),
        F.count("*").cast("double").alias("n_docs"),
    )
    tok = docs.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("term")
    ).filter(F.col("term").isin(*_QUERY_TERMS))
    tf = tok.groupBy("doc_id", "term").agg(
        F.count("*").cast("double").alias("tf")
    )
    df = tf.groupBy("term").agg(F.count("*").cast("double").alias("df"))
    idf = F.log(
        1
        + (F.col("n_docs") - F.col("df") + F.lit(0.5))
        / (F.col("df") + F.lit(0.5))
    )
    contrib = (
        idf
        * F.col("tf")
        * F.lit(_K1 + 1)
        / (
            F.col("tf")
            + F.lit(_K1)
            * (F.lit(1 - _B) + F.lit(_B) * F.col("dl") / F.col("avgdl"))
        )
    )
    scored = (
        tf.join(F.broadcast(df), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_terms_hit"),
            dround(F.sum(contrib), 6).alias("bm25"),
        )
    )
    return (
        scored.orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(_TOP_K)
        .select("doc_id", "n_terms_hit", "bm25")
    )


#: quality cutoffs swept by l64 (the curation dial positions).
_Q_THRESHOLDS = (0.3, 0.5, 0.7)
_THR_SQL = ", ".join(f"({t})" for t in _Q_THRESHOLDS)


@register(
    "l64_quality_threshold_sweep",
    oracle=f"""
    WITH stats AS (
        SELECT {sql_dround(QUALITY_SQL, 6)} AS q,
               CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS ntok
        FROM documents
    ), thr(threshold) AS (
        VALUES {_THR_SQL}
    )
    SELECT CAST(threshold AS DOUBLE) AS threshold,
           CAST(SUM(CASE WHEN q >= threshold THEN 1 ELSE 0 END) AS BIGINT)
               AS docs_kept,
           {sql_dround(
               "SUM(CASE WHEN q >= threshold THEN 1 ELSE 0 END)"
               " / CAST(COUNT(*) AS DOUBLE)", 6
           )} AS doc_share,
           CAST(SUM(CASE WHEN q >= threshold THEN ntok ELSE 0 END)
                AS BIGINT) AS tokens_kept,
           {sql_dround(
               "SUM(CASE WHEN q >= threshold THEN ntok ELSE 0 END)"
               " / CAST(SUM(ntok) AS DOUBLE)", 6
           )} AS token_share
    FROM stats CROSS JOIN thr
    GROUP BY threshold
    """,
)
def l64_quality_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-filter threshold sweep: documents and tokens surviving
    each candidate cutoff of the l10 quality score — the dial a
    curation team reads BEFORE committing a filter (l60 plays the
    same role for dedup aggressiveness). The score formula is the
    shared QUALITY_SQL twin of functions.text.quality_score, so this
    sweep and l10's per-doc scores can never drift apart.

    The scored frame is dround-quantized BEFORE the >= comparison on
    both engines, so the keep/drop decision at a boundary is made on
    the identical hashed value — the threshold compare inherits the
    repo's float-sort-key discipline.

    Scale: one corpus scan computes (q, ntok); the 3-row threshold
    frame broadcasts; groupBy(threshold) partials combine map-side,
    so the exchange carries |thresholds|·|partitions| count rows —
    the 3× scan fan-out costs compute, never shuffle width."""
    docs = load_table(spark, sf_dir, "documents")
    stats = docs.select(
        dround(quality_score(F.col("text")), 6).alias("q"),
        F.size(tokens(F.col("text"))).cast("bigint").alias("ntok"),
    )
    thr = spark.range(1).select(
        F.explode(
            F.array(*[F.lit(float(t)) for t in _Q_THRESHOLDS])
        ).alias("threshold")
    )
    kept = F.when(F.col("q") >= F.col("threshold"), 1).otherwise(0)
    kept_tok = F.when(
        F.col("q") >= F.col("threshold"), F.col("ntok")
    ).otherwise(F.lit(0))
    return (
        stats.crossJoin(F.broadcast(thr))
        .groupBy("threshold")
        .agg(
            F.sum(kept).cast("bigint").alias("docs_kept"),
            dround(F.sum(kept) / F.count("*").cast("double"), 6).alias(
                "doc_share"
            ),
            F.sum(kept_tok).cast("bigint").alias("tokens_kept"),
            dround(
                F.sum(kept_tok) / F.sum("ntok").cast("double"), 6
            ).alias("token_share"),
        )
    )

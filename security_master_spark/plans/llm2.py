"""Round-3 LLM-data-pipeline additions: distinctive-term extraction
(TF-IDF), deterministic stratified sampling, regex redaction (the PII
scrub pattern), and incremental batch-vs-corpus dedup.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from security_master_spark.datasets import load_table
from security_master_spark.functions.rounding import dround, sql_dround
from security_master_spark.functions.text import tokens
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

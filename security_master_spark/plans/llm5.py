"""Round-4 LLM-pipeline candidates (SURVEY.md §2.12): benchmark
decontamination, sliding-window chunking with overlap, and source
mixture rebalancing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from security_master_spark.datasets import load_table
from security_master_spark.functions.text import shingles_of, tokens
from security_master_spark.plans.registry import register

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


_CHUNK = 32  # tokens per training chunk
_STRIDE = 24  # chunk start spacing → 8-token overlap between chunks


@register(
    "l31_chunk_overlap",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM documents
    ), sized AS (
        SELECT doc_id, t, len(t) AS n,
               CASE WHEN len(t) <= {_CHUNK} THEN 1
                    ELSE 1 + CAST(CEIL((len(t) - {_CHUNK})
                                       / CAST({_STRIDE} AS DOUBLE)) AS INT)
               END AS n_chunks
        FROM toks
    )
    SELECT doc_id, c.c AS chunk_id,
           CAST(len(t[c.c * {_STRIDE} + 1 : c.c * {_STRIDE} + {_CHUNK}])
                AS BIGINT) AS n_tokens,
           array_to_string(
               t[c.c * {_STRIDE} + 1 : c.c * {_STRIDE} + {_CHUNK}], ' '
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
    n_chunks = F.when(n <= _CHUNK, F.lit(1)).otherwise(
        (
            F.ceil((n - _CHUNK) / F.lit(float(_STRIDE))) + 1
        ).cast("int")
    )
    chunk = F.slice(F.col("t"), F.col("c") * _STRIDE + 1, _CHUNK)
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

"""Round-6 LLM-pipeline batch (SURVEY.md §2.12): SimHash-prefix dedup
retention curve — what fraction of the corpus survives near-dup
collapse at increasing fingerprint-prefix granularities. The
"how aggressive is my dedup" dial every corpus build tunes before
committing to a threshold.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from security_master_spark.datasets import fan_out, load_table
from security_master_spark.functions.rounding import dround, sql_dround
from security_master_spark.operators.dedup import (
    simhash_fp_ctes,
    simhash_md5_agg,
)
from security_master_spark.plans.registry import register

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

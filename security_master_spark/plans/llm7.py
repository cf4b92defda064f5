"""Round-5 LLM-pipeline candidates, batch 2 (SURVEY.md §2.12):
embedding-space diagnostics (label centroids, intra-label cohesion)
and shingle-novelty scoring.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from security_master_spark.datasets import load_table
from security_master_spark.functions.rounding import dround, sql_dround
from security_master_spark.functions.text import shingles_of
from security_master_spark.plans.registry import register


@register(
    "l35_label_centroids",
    oracle=f"""
    SELECT label,
           CAST(g.i - 1 AS INT) AS pos,
           {sql_dround("AVG(embedding[g.i])", 6)} AS c
    FROM embeddings,
         LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i) g
    GROUP BY label, g.i
    """,
)
def l35_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroid, emitted as (label, pos, value)
    rows — the class-prototype primitive behind centroid classifiers,
    drift monitoring, and IVF coarse quantizers. posexplode turns the
    vector column into a (label, pos) key space and ONE hash
    aggregate reduces it: dims are fixed (64), so the shuffle is
    O(labels x dims) regardless of corpus size, with map-side partial
    aggregation doing the heavy averaging before the exchange. Row
    (not array) output keeps the result hash-comparable across
    engines without serialization tricks."""
    emb = load_table(spark, sf_dir, "embeddings")
    return (
        emb.select("label", F.posexplode("embedding").alias("pos", "v"))
        .groupBy("label", "pos")
        .agg(dround(F.avg("v"), 6).alias("c"))
        .select("label", F.col("pos").cast("int").alias("pos"), "c")
    )


@register(
    "l36_label_cohesion",
    oracle=f"""
    WITH comp AS (
        SELECT label, g.i AS i, AVG(embedding[g.i]) AS v
        FROM embeddings,
             LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i) g
        GROUP BY label, g.i
    ), cent AS (
        SELECT label, list(v ORDER BY i) AS cvec FROM comp GROUP BY label
    )
    SELECT label,
           CAST(COUNT(*) AS BIGINT) AS n_vectors,
           {sql_dround("AVG(cos)", 6)} AS avg_cohesion
    FROM (
        -- NULL embeddings may not REACH list_dot_product (it errors
        -- on NULL lists rather than propagating, and neither a CASE
        -- mask nor a COALESCE reliably shields it on real columns),
        -- so they are filtered before the call and unioned back with
        -- cos = NULL: AVG skips them, COUNT(*) keeps them — exactly
        -- Spark's try_divide semantics. A genuinely all-zero
        -- embedding survives to the division and nulls there (x/0).
        SELECT e.label,
               list_dot_product(e.embedding, c.cvec)
               / (SQRT(list_dot_product(e.embedding, e.embedding))
                  * SQRT(list_dot_product(c.cvec, c.cvec))) AS cos
        FROM (SELECT label, embedding FROM embeddings
              WHERE embedding IS NOT NULL) e
        JOIN cent c ON c.label = e.label
        UNION ALL
        SELECT label, NULL AS cos FROM embeddings
        WHERE embedding IS NULL
    )
    GROUP BY label
    """,
)
def l36_label_cohesion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-label cohesion: mean cosine similarity of each vector to
    its label centroid — the label-quality score that flags noisy or
    multi-modal classes before they poison contrastive training. Pass
    1 builds centroids exactly as l35 (O(labels x dims) shuffle);
    pass 2 re-assembles each centroid into an array (array_sort over
    collected (pos, value) structs — per-label lists of 64, never a
    global sort), broadcasts the label->centroid table (10 rows), and
    scores every vector map-side with a single zip_with dot fold per
    pair plus linear norms. The only wide exchange against the vector
    corpus is the final per-label average."""
    emb = load_table(spark, sf_dir, "embeddings")
    comp = (
        emb.select("label", F.posexplode("embedding").alias("pos", "v"))
        .groupBy("label", "pos")
        .agg(F.avg("v").alias("v"))
    )
    cent = comp.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "v"))),
            lambda s: s["v"],
        ).alias("cvec")
    )
    dot = lambda a, b: F.aggregate(  # noqa: E731
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    e = emb.join(F.broadcast(cent), "label")
    # try_divide: an all-zero embedding (or a label whose centroid
    # cancels to zero) has norm 0 — cosine NULL, not a job crash.
    cos = F.try_divide(
        dot(F.col("embedding"), F.col("cvec")),
        F.sqrt(dot(F.col("embedding"), F.col("embedding")))
        * F.sqrt(dot(F.col("cvec"), F.col("cvec"))),
    )
    return e.groupBy("label").agg(
        F.count("*").cast("bigint").alias("n_vectors"),
        dround(F.avg(cos), 6).alias("avg_cohesion"),
    )


_NOVEL_N = 3  # shingle width for novelty scoring


@register(
    "l37_shingle_novelty",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), sh AS (
        SELECT doc_id,
               array_to_string(t[g.i:g.i+{_NOVEL_N - 1}], ' ') AS sh
        FROM toks,
             LATERAL (SELECT unnest(generate_series(1, len(t) - {_NOVEL_N - 1})) AS i) g
        WHERE len(t) >= {_NOVEL_N}
    ), df AS (
        SELECT sh, COUNT(DISTINCT doc_id) AS df FROM sh GROUP BY sh
    )
    SELECT s.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_shingles,
           {sql_dround(
               "AVG(CASE WHEN d.df = 1 THEN 1.0 ELSE 0.0 END)", 6
           )} AS novelty
    FROM sh s JOIN df d ON d.sh = s.sh
    GROUP BY s.doc_id
    """,
)
def l37_shingle_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingle novelty: the fraction of a document's 3-gram shingles
    that appear in NO other document — the inverse of boilerplate
    density (low novelty = template/duplicated matter that exact and
    near dedup may miss at sub-document granularity). Same two-pass
    shape as TF-IDF: explode once, count per-shingle document
    frequency, join the df back onto the shingle stream on the
    shingle key (the same key the counting aggregate already hashed
    on — one reusable partitioning), and average an indicator per
    document. A shingle occurring twice in the SAME doc still counts
    as novel (df counts distinct docs), which is the semantics you
    want for boilerplate detection.

    df == 1 is decided as min(doc_id) == max(doc_id) — equivalent to
    COUNT(DISTINCT doc_id) = 1 (the oracle's form) but a plain
    min/max partial aggregate instead of count-distinct's two-phase
    dedup expansion (measured A/B at sf0.1: 1.33 s vs 1.42 s warm
    minimums, and far cheaper cold).

    Round-15 (the measured l44 shape, guide §2.4): the uniqueness
    verdict is a min/max over a shingle-partitioned WINDOW on the one
    exploded stream — the old aggregate-join spelling re-ran the
    tokenize + shingle Generate in both join subtrees (two full
    document scans) and joined back on the key it had just hashed;
    one derivation, one exchange on sh, no join (1.19 → 0.75 s
    isolated, same-era A/B minimums)."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split(F.col("text"), " ", -1).alias("t")
    )
    sh = docs.select(
        "doc_id",
        F.explode(shingles_of(F.col("t"), _NOVEL_N)).alias("sh"),
    )
    wsh = Window.partitionBy("sh")
    return (
        sh.withColumn(
            "uniq",
            F.min("doc_id").over(wsh) == F.max("doc_id").over(wsh),
        )
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_shingles"),
            dround(
                F.avg(F.when(F.col("uniq"), 1.0).otherwise(0.0)), 6
            ).alias("novelty"),
        )
    )

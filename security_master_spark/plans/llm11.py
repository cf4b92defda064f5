"""Round-5 LLM-pipeline candidates, batch 7 (SURVEY.md §2.12):
source-to-source vocabulary overlap (the corpus-composition
similarity matrix) and tokenizer fertility by language (the
corpus-sizing diagnostic that decides tokenizer budgets).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from security_master_spark.datasets import load_table
from security_master_spark.functions.rounding import dround, sql_dround
from security_master_spark.functions.text import tokens
from security_master_spark.plans.registry import register


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
        # functions.text, NOT plans.llm: a module-scope import of
        # another plan module here would register llm's queries at
        # this point of the registration order.
        values=", ".join(
            f"('{lang}', '{w}')" for lang, w in __import__(
                "security_master_spark.functions.text",
                fromlist=["stopword_rows"],
            ).stopword_rows()
        )
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
    from security_master_spark.plans.llm import l9_language_id

    pred = l9_language_id(spark, sf_dir)
    return pred.groupBy("true_lang", "pred_lang").agg(
        F.count("*").cast("bigint").alias("n_docs")
    )

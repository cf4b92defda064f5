"""Round-5 LLM-pipeline batch 8 (SURVEY.md §2.12): chunk-level
first-wins dedup retention and the quality-filter funnel.

l52 REPORTS boilerplate chunks (any chunk seen in ≥2 docs); l56 takes
the next pipeline step — apply first-occurrence-wins survivorship at
chunk granularity and measure how much of each document survives,
the number a curation team actually budgets against. l10/l26 score
documents; l57 accounts for WHICH rule kills each document per
source — the funnel report that decides which filter to retune.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from security_master_spark.datasets import load_table
from security_master_spark.functions.rounding import dround, sql_dround
from security_master_spark.plans.registry import register

_CHUNK = 16  # tokens per disjoint dedup chunk


@register(
    "l56_chunk_dedup_retention",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, UNNEST(string_split(text, ' ')) AS tok,
               GENERATE_SUBSCRIPTS(string_split(text, ' '), 1) AS i
        FROM documents
    ), chunks AS (
        SELECT doc_id,
               CAST((i - 1) // {_CHUNK} AS BIGINT) AS chunk_idx,
               md5(STRING_AGG(tok, ' ' ORDER BY i)) AS chunk_h,
               COUNT(*) AS n_tok
        FROM tok
        GROUP BY doc_id, CAST((i - 1) // {_CHUNK} AS BIGINT)
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
    n_chunks = F.ceil(F.size(toks) / float(_CHUNK)).cast("int")
    chunks = docs.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), n_chunks - 1),
                lambda i: F.slice(toks, i * _CHUNK + 1, _CHUNK),
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
               CAST((i - 1) // {_CHUNK} AS BIGINT) AS chunk_idx,
               md5(STRING_AGG(tok, ' ' ORDER BY i)) AS chunk_h,
               COUNT(*) AS n_tok
        FROM tok JOIN survivors USING (doc_id)
        GROUP BY tok.doc_id, CAST((i - 1) // {_CHUNK} AS BIGINT)
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
    n_chunks = F.ceil(F.size(toks) / float(_CHUNK)).cast("int")
    chunks = (
        docs.join(survivors.select("doc_id"), "doc_id")
        .select(
            "doc_id",
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(0), n_chunks - 1),
                    lambda i: F.slice(toks, i * _CHUNK + 1, _CHUNK),
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

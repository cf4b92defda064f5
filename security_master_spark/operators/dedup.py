"""Deduplication operators for training-data pipelines
(SURVEY.md §2.12): exact, fingerprint, MinHash+LSH, SimHash, n-gram
Jaccard.

Scale design: every variant is shuffle-bounded by groupBy on a
hash-derived key — no crossJoin over the corpus ever appears. MinHash
banding turns near-dup detection into |bands| groupBys; candidate
pairs are verified with exact Jaccard only within buckets.
"""

from __future__ import annotations

import random

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from security_master_spark.datasets import fan_out
from security_master_spark.functions.text import (
    distinct_tokens,
    shingles,
    shingles_of,
    tokens,
)

#: Mersenne prime 2^31-1: the universal-hash modulus. a·h31 + b stays
#: under 2^62, so the arithmetic never overflows int64 (ANSI mode
#: throws on long overflow — wraparound tricks are not available).
_MERSENNE31 = (1 << 31) - 1


def _perm_constants(num_hashes: int, seed: int = 42) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for the permutation family
    h_i(x) = (a_i·x + b_i) mod (2^31-1), a_i ≠ 0 — the classic
    universal-hashing MinHash: one real string hash per shingle plus
    num_hashes multiply-add-mods replaces num_hashes full string
    hashes."""
    rnd = random.Random(seed)
    return [
        (rnd.randrange(1, _MERSENNE31), rnd.randrange(0, _MERSENNE31))
        for _ in range(num_hashes)
    ]


def _shingle_hash31(s: Column) -> Column:
    """xxhash64 folded into [0, 2^31-1) — the permutation input."""
    return F.pmod(F.xxhash64(s), F.lit(_MERSENNE31))


def _shingle_hash31_md5(s: Column) -> Column:
    """First 32 md5 bits folded into [0, 2^31-1) — the DETERMINIZED
    permutation input (the a26/g3/l8 discipline): any SQL engine can
    recompute it (``('0x' || substr(md5(s), 1, 8))::BIGINT % (2^31-1)``),
    so MinHash signatures built on it are oracle-portable. Same
    distributional quality for LSH purposes; one conv per shingle."""
    return F.pmod(
        F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("long"),
        F.lit(_MERSENNE31),
    )


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the smallest-id row per identical text. Hash-groupBy on the
    text (shuffle key = text bytes; for very long documents dedupe on
    ``md5(text)`` instead via :func:`fingerprint_dedup`)."""
    w = Window.partitionBy(text_col).orderBy(id_col)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def fingerprint_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup on md5 fingerprints — shuffles 16-byte keys instead
    of full documents; the safe default at 100 TB."""
    fp = F.md5(F.col(text_col))
    w = Window.partitionBy(fp).orderBy(id_col)
    return (
        df.withColumn("__fp", fp)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__fp")
    )


def minhash_signature(
    text: Column, num_hashes: int = 32, shingle_n: int = 3
) -> Column:
    """MinHash signature as array<bigint>: min over shingles of the
    i-th affine permutation of the shingle's xxhash64. Fixed seeds →
    deterministic signatures across runs/partitionings.

    Single pass: the shingle array is hashed once and folded once via
    ``aggregate`` with an array accumulator (one slot per permutation)
    — expressing this as num_hashes separate ``transform``s would
    re-tokenize and re-hash the document once per permutation (no CSE
    across higher-order functions; measured 30× slower)."""
    consts = _perm_constants(num_hashes)
    a_arr = F.array(*[F.lit(a) for a, _ in consts])
    b_arr = F.array(*[F.lit(b) for _, b in consts])
    hashed = F.transform(shingles(text, shingle_n), _shingle_hash31)
    init = F.array(*[F.lit(_MERSENNE31).cast("long")] * num_hashes)

    def step(acc: Column, h: Column) -> Column:
        return F.zip_with(
            acc,
            F.sequence(F.lit(0), F.lit(num_hashes - 1)),
            lambda m, i: F.least(
                m,
                F.pmod(
                    F.element_at(a_arr, i + 1) * h + F.element_at(b_arr, i + 1),
                    F.lit(_MERSENNE31),
                ),
            ),
        )

    return F.aggregate(hashed, init, step)


def lsh_candidate_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
) -> DataFrame:
    """Near-duplicate candidate pairs via LSH banding: split the
    signature into ``bands`` rows each, hash each band, groupBy
    (band_idx, band_hash), and pair up documents sharing a bucket.

    Returns distinct (id_a, id_b) with id_a < id_b. The only shuffles
    are the banding groupBy and the final distinct; the quadratic blowup
    is confined to within-bucket pairs (true near-dups + few collisions).
    Follow with exact-Jaccard verification on this candidate set.

    Determinized hash family (round 6): shingle hashes are md5-derived
    (:func:`_shingle_hash31_md5`) and band keys are md5 hex strings over
    the comma-joined signature slice — both recomputable in plain SQL,
    so the WHOLE candidate generation carries a DuckDB oracle (l7) where
    it previously had only a rows-only check. The permutation constants
    come from the same seeded :func:`_perm_constants` on both engines.
    """
    rows_per_band = num_hashes // bands
    consts = _perm_constants(num_hashes)
    df = fan_out(df)  # n-gram expansion + hashing is per-row-expensive
    # Signature via explode → one codegen'd groupBy pass: each shingle
    # is hashed exactly once, the num_hashes permutation minima are
    # num_hashes MIN aggregates over the exploded rows, and map-side
    # partial aggregation collapses them to one row per doc before the
    # shuffle — shuffle volume is O(docs · num_hashes) longs, never the
    # shingle stream.
    # Tokens are materialized into a column BEFORE shingling: the
    # shingle lambda must reference a plain column, not a split()
    # subtree it would re-evaluate once per shingle (HOFs get no CSE
    # — measured 3.3× on the same shape in l30_decontamination).
    shingle_hashes = df.select(
        F.col(id_col).alias("doc"), tokens(F.col(text_col)).alias("__toks")
    ).select(
        "doc",
        F.explode(
            F.transform(
                shingles_of(F.col("__toks"), shingle_n), _shingle_hash31_md5
            )
        ).alias("h"),
    )
    sig = shingle_hashes.groupBy("doc").agg(
        *[
            F.min(
                F.pmod(F.lit(a) * F.col("h") + F.lit(b), F.lit(_MERSENNE31))
            ).alias(f"s{i}")
            for i, (a, b) in enumerate(consts)
        ]
    )
    banded = sig.select(
        "doc",
        F.posexplode(
            F.array(
                *[
                    F.md5(
                        F.concat_ws(
                            ",",
                            *[
                                F.col(f"s{b * rows_per_band + r}")
                                for r in range(rows_per_band)
                            ],
                        )
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band_idx", "band_hash"),
    )
    other = banded.select(
        F.col("doc").alias("doc_b"),
        F.col("band_idx").alias("band_idx_b"),
        F.col("band_hash").alias("band_hash_b"),
    )
    pairs = banded.join(
        other,
        (F.col("band_idx") == F.col("band_idx_b"))
        & (F.col("band_hash") == F.col("band_hash_b"))
        & (F.col("doc") < F.col("doc_b")),
    ).select(F.col("doc").alias("id_a"), F.col("doc_b").alias("id_b"))
    return pairs.distinct()


def jaccard_pairs(
    df: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact token-set Jaccard for given (id_a, id_b) candidate pairs."""
    toks = df.select(
        F.col(id_col).alias("__id"), distinct_tokens(F.col(text_col)).alias("__toks")
    )
    a = toks.withColumnsRenamed({"__id": "id_a", "__toks": "toks_a"})
    b = toks.withColumnsRenamed({"__id": "id_b", "__toks": "toks_b"})
    return (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            # try_divide: two empty token arrays -> empty union; the
            # candidate pair is then jaccard NULL, never a job crash.
            F.try_divide(
                F.size(F.array_intersect("toks_a", "toks_b")),
                F.size(F.array_union("toks_a", "toks_b")),
            ).alias("jaccard"),
        )
    )


def near_dedup_minhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    num_hashes: int = 32,
    bands: int = 8,
) -> DataFrame:
    """End-to-end near-dedup: LSH candidates → exact-Jaccard verify →
    drop the larger id of each pair ≥ threshold (transitive chains
    collapse toward the smallest id greedily; full connected-components
    clustering is the iterative extension, out of scope for one pass)."""
    cand = lsh_candidate_pairs(df, text_col, id_col, num_hashes, bands)
    dups = (
        jaccard_pairs(df, cand, text_col, id_col)
        .filter(F.col("jaccard") >= threshold)
        .select(F.col("id_b").alias(id_col))
        .distinct()
    )
    return df.join(dups, id_col, "left_anti")


def simhash_agg(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 64,
) -> DataFrame:
    """(id, simhash) via explode → one hash per token → single groupBy
    whose bit votes are ``bits`` conditional SUMs.

    Value-identical to the :func:`simhash` column expression (integer
    votes, order-independent; equality pinned in tests), but this shape
    gets whole-stage codegen, hashes each token ONCE, and partially
    aggregates map-side — the column form is `bits` *interpreted* folds
    per row, each re-evaluating the token-hash array (higher-order
    functions get no codegen and no common-subexpression elimination).
    The shuffle carries only (id, 64 ints) partial votes; at 100 TB the
    explode fans out across executors instead of serializing per-row.
    ``explode_outer`` keeps empty documents (votes NULL → all-zero
    fingerprint, matching the column form's empty-array fold)."""
    tok = df.select(
        id_col,
        F.explode_outer(distinct_tokens(F.col(text_col))).alias("__t"),
    ).select(id_col, F.xxhash64("__t").alias("__h"), F.col("__t").isNull().alias("__empty"))
    out = F.lit(0).cast("long")
    for b in range(bits):
        mask = (1 << b) if b < 63 else -(1 << 63)  # top bit = long sign bit
        vote = F.sum(
            F.when(F.col("__empty"), 0)
            .when(F.col("__h").bitwiseAND(F.lit(mask)) != 0, 1)
            .otherwise(-1)
        )
        out = out.bitwiseOR(
            F.when(vote > 0, F.lit(mask).cast("long")).otherwise(
                F.lit(0).cast("long")
            )
        )
    return tok.groupBy(id_col).agg(out.alias("simhash"))


def simhash_md5_agg(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, simhash) with md5-derived bit planes — the determinized,
    oracle-portable SimHash (the discipline that converted count-min
    and triangle-estimate from weak to hash-certified): every one of
    the 64 vote planes is bit ``b`` of the token's md5, so a SQL engine
    can recompute the identical fingerprint from scratch —
    ``strpos('0123456789abcdef', substr(md5(token), b//4+1, 1)) - 1``
    then ``(nibble >> b%4) & 1`` — and a driver hash match certifies
    the whole fingerprint, not just its shape.

    Same plan as :func:`simhash_agg` (explode → one projection → ONE
    codegen'd groupBy with 64 conditional-SUM votes, map-side combine;
    shuffle carries (id, 64 ints)); only the hash family differs (md5
    bit planes instead of xxhash64 bit masks). The 16 hex nibbles are
    parsed as TWO 32-bit halves (2 ``conv`` calls per token, not 16):
    hex parses most-significant-first, so plane ``b`` (nibble
    ``b//4``, bit ``b%4``) is
    ``(half >> (4·(7−(b//4)%8) + b%4)) & 1`` — the exact value the
    oracle's per-nibble ``strpos`` form computes (equality pinned in
    tests). Ties (vote == 0) resolve to bit 0 on both engines.

    The 64-vote fingerprint is assembled as ONE SQL expression string
    parsed JVM-side (``F.expr``), not 64 Column-API vote trees: the
    Column form spends ~1300 py4j round-trips PER QUERY CONSTRUCTION
    — measured 2.05 s → 0.79 s end-to-end at sf0.1 (identical
    fingerprints). Plan-construction cost is real query cost: every
    bench/driver invocation rebuilds the DataFrame."""
    tok = df.select(
        id_col,
        F.explode_outer(distinct_tokens(F.col(text_col))).alias("__t"),
    ).select(
        id_col,
        F.md5(F.col("__t")).alias("__hx"),
        F.col("__t").isNull().alias("__empty"),
    )
    halves = tok.selectExpr(
        id_col,
        "__empty",
        "CAST(conv(substring(__hx, 1, 8), 16, 10) AS BIGINT) AS __hi",
        "CAST(conv(substring(__hx, 9, 8), 16, 10) AS BIGINT) AS __lo",
    )
    terms = []
    for b in range(64):
        i, k = divmod(b, 4)
        src = "__hi" if i < 8 else "__lo"
        shift = 4 * (7 - (i % 8)) + k
        term = (1 << b) if b < 63 else -(1 << 63)
        terms.append(
            f"(CASE WHEN SUM(CASE WHEN __empty THEN 0"
            f" WHEN (shiftright({src}, {shift}) & 1) = 1"
            f" THEN 1 ELSE -1 END) > 0"
            f" THEN CAST({term} AS BIGINT)"
            f" ELSE CAST(0 AS BIGINT) END)"
        )
    return halves.groupBy(id_col).agg(
        F.expr(" + ".join(terms)).alias("simhash")
    )


def simhash_fp_ctes() -> str:
    """DuckDB WITH-clause body (tok, h, votes, fp) rebuilding
    (doc_id, simhash) from first principles — the SQL twin of
    :func:`simhash_md5_agg`, kept next to it so the two definitions
    of the algorithm evolve together. Lives here (registration-free
    module) so plan modules can embed it in oracle strings at import
    time without importing another plan module (which would splice
    registrations into the registry head — see plans/registry.py).
    Used by the l8 oracle and the l60 dedup-retention oracle
    (plans/llm_dedup.py)."""
    votes = []
    for b in range(64):
        i, k = divmod(b, 4)
        nib = f"(strpos('0123456789abcdef', substr(hx, {i + 1}, 1)) - 1)"
        votes.append(
            f"SUM(CASE WHEN ({nib} >> {k}) & 1 = 1 THEN 1 ELSE -1 END)"
            f" AS v{b}"
        )
    terms = " + ".join(
        f"CASE WHEN v{b} > 0 THEN CAST({(1 << b) if b < 63 else -(1 << 63)}"
        f" AS BIGINT) ELSE CAST(0 AS BIGINT) END"
        for b in range(64)
    )
    return f"""tok AS (
        SELECT DISTINCT doc_id, t.token AS token
        FROM documents, UNNEST(string_split_regex(trim(text), '\\s+')) AS t(token)
    ), h AS (
        SELECT doc_id, md5(token) AS hx FROM tok
    ), votes AS (
        SELECT doc_id, {", ".join(votes)}
        FROM h GROUP BY doc_id
    ), fp AS (
        SELECT doc_id, ({terms}) AS simhash FROM votes
    )"""


def simhash(text: Column, bits: int = 64) -> Column:
    """SimHash document fingerprint: sign-aggregate per bit of token
    hashes. Hamming-close fingerprints ⇒ similar token distributions.
    Expressed with higher-order functions over the token array; result
    is a bigint bit-pattern."""
    toks = distinct_tokens(text)
    hashes = F.transform(toks, lambda t: F.xxhash64(t))
    # Per bit position: count +1/-1 votes across token hashes, set the
    # bit when positive. Bit positions are Python ints (shift amounts
    # must be literals), so this unrolls into `bits` aggregate exprs —
    # all JVM-side, one pass over the array each.
    # NB: PySpark derives higher-order-function arity from the lambda's
    # *signature*, so `lambda acc, h, mask=mask:` would be treated as a
    # 3-arg lambda — close over the mask via a factory instead.
    def vote_merge(mask: int):
        return lambda acc, h: acc + F.when(
            h.bitwiseAND(F.lit(mask)) != 0, 1
        ).otherwise(-1)

    out = F.lit(0).cast("long")
    for b in range(bits):
        mask = (1 << b) if b < 63 else -(1 << 63)  # top bit = long sign bit
        vote = F.aggregate(hashes, F.lit(0), vote_merge(mask))
        out = out.bitwiseOR(
            F.when(vote > 0, F.lit(mask).cast("long")).otherwise(
                F.lit(0).cast("long")
            )
        )
    return out

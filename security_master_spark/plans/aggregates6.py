"""Round-5 aggregate batch 4 (SURVEY.md §2.4): a count-min sketch
with a FULL SQL oracle.

a8/a24 (HLL), a20 (KLL), a21 (theta) covered distinct-count,
quantile, and set sketches — all certified by weak/bounded checks
because their binary registers are engine-specific. The count-min
sketch is different: its registers are plain (row, bucket) counters,
so building it from md5-derived bucket indices makes the WHOLE
sketch — and every estimate read from it — bit-identical across
engines. This is the one sketch family where the driver's hash gate
can certify the estimator itself, not just a tolerance band.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from security_master_spark.datasets import fan_out, load_table
from security_master_spark.plans.registry import register

_DEPTH = 4  # independent hash rows
_WIDTH = 1024  # counters per row (ε ≈ e/1024 ≈ 0.27 %)
_PROBE_MAX = 20  # probe keys: l_partkey 1..20


def _bucket_sql(key_expr: str, i: int) -> str:
    """Depth-``i`` bucket from ONE md5: hex digits [8i+1, 8i+8)."""
    return (
        f"CAST(('0x' || substr(md5(CAST({key_expr} AS VARCHAR)), "
        f"{8 * i + 1}, 8)) AS BIGINT) % {_WIDTH}"
    )


def _bucket_array(key):
    """All four depth buckets from a SINGLE md5 evaluation: the
    128-bit digest is sliced into four 32-bit words (the
    Kirsch-Mitzenmacher 'less hashing, same performance' trick —
    derived hash rows preserve the CMS guarantee). One hash per row
    instead of depth hashes: measured 5.1 s → see PLANS.md."""
    h = F.md5(key.cast("string"))
    return F.array(
        *[
            F.conv(F.substring(h, 8 * i + 1, 8), 16, 10).cast("long")
            % _WIDTH
            for i in range(_DEPTH)
        ]
    )


def _oracle_bucket_union(source_sql: str, key: str) -> str:
    """(i, bucket) rows per key — DuckDB recomputes the md5 per depth
    (oracle cost is irrelevant; the VALUES are identical because each
    depth reads a disjoint digest slice)."""
    selects = [
        f"SELECT {key} AS key, {i} AS i, {_bucket_sql(key, i)} AS bucket"
        f" FROM {source_sql}"
        for i in range(_DEPTH)
    ]
    return " UNION ALL ".join(selects)


@register(
    "a26_count_min_sketch",
    oracle=f"""
    WITH rows4 AS (
        {_oracle_bucket_union("lineitem", "l_partkey")}
    ), sketch AS (
        SELECT i, bucket, COUNT(*) AS cnt FROM rows4 GROUP BY 1, 2
    ), probe AS (
        SELECT DISTINCT l_partkey AS key FROM lineitem
        WHERE l_partkey <= {_PROBE_MAX}
    ), pb AS (
        {_oracle_bucket_union("probe", "key")}
    ), est AS (
        SELECT pb.key, MIN(cnt) AS est
        FROM pb JOIN sketch USING (i, bucket)
        GROUP BY pb.key
    ), exact AS (
        SELECT l_partkey AS key, COUNT(*) AS exact_cnt
        FROM lineitem WHERE l_partkey <= {_PROBE_MAX}
        GROUP BY l_partkey
    )
    SELECT exact.key AS l_partkey,
           CAST(exact.exact_cnt AS BIGINT) AS exact_count,
           CAST(est.est AS BIGINT) AS cms_estimate,
           CAST(est.est - exact.exact_cnt AS BIGINT) AS overestimate
    FROM exact JOIN est USING (key)
    """,
)
def a26_count_min_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch (Cormode & Muthukrishnan 2005) built with
    md5-derived bucket indices so the estimator is deterministic and
    CROSS-ENGINE REPRODUCIBLE — the oracle recomputes the identical
    sketch in DuckDB and the driver hash-compares the estimates
    themselves. Probes keys 1..20 and reports estimate vs exact (CMS
    can only overestimate; the overestimate column is the collision
    mass, ≤ εN w.h.p. with ε = e/width ≈ 0.27 %).

    Scale shape — the point of the sketch: each row computes ONE md5
    and slices the 128-bit digest into four 32-bit bucket words
    (Kirsch-Mitzenmacher derived hashing — the dominant per-row cost
    is hashing, so this is 4× less work than hashing per depth;
    measured in PLANS.md). The posexplode ×4 is map-side, and partial
    hash aggregation collapses every task's stream to ≤ 4·1024
    counter rows BEFORE the exchange — the shuffle moves sketches,
    not data, exactly like Spark's own partial HLL. The merged sketch
    (4×1024 rows) then broadcasts to the probe side; estimates are a
    MIN over depth rows. At 100 TB the wide plan is: scan → per-task
    sketch → one tiny shuffle → broadcast — the canonical
    mergeable-summary posture. (Production would swap md5 for
    xxhash64 — one expression — at the price of the cross-engine
    oracle.)"""
    li = load_table(spark, sf_dir, "lineitem")
    # fan_out on the single-column key stream: the fixture scan is one
    # task (single row group), which serializes the per-row md5 —
    # the query's dominant cost. The round-robin exchange ships ONLY
    # l_partkey (8 bytes/row) and the per-task partial aggregate
    # still collapses each task to ≤ depth·width counter rows
    # (round-15; datasets.fan_out contract).
    sketch = (
        fan_out(li.select("l_partkey"))
        .select(
            F.posexplode(_bucket_array(F.col("l_partkey"))).alias(
                "i", "bucket"
            )
        )
        .groupBy("i", "bucket")
        .agg(F.count("*").alias("cnt"))
    )
    probe = (
        li.filter(F.col("l_partkey") <= _PROBE_MAX)
        .select(F.col("l_partkey").alias("key"))
        .distinct()
    )
    pb = probe.select(
        "key",
        F.posexplode(_bucket_array(F.col("key"))).alias("i", "bucket"),
    )
    est = (
        pb.join(F.broadcast(sketch), ["i", "bucket"])
        .groupBy("key")
        .agg(F.min("cnt").alias("est"))
    )
    exact = (
        li.filter(F.col("l_partkey") <= _PROBE_MAX)
        .groupBy(F.col("l_partkey").alias("key"))
        .agg(F.count("*").alias("exact_cnt"))
    )
    return exact.join(est, "key").select(
        F.col("key").alias("l_partkey"),
        F.col("exact_cnt").cast("bigint").alias("exact_count"),
        F.col("est").cast("bigint").alias("cms_estimate"),
        (F.col("est") - F.col("exact_cnt")).cast("bigint")
        .alias("overestimate"),
    )


@register(
    "a27_transpose",
    oracle="""
    WITH m AS (
        SELECT l_returnflag,
               CAST(COUNT(*) AS DOUBLE) AS n_items,
               FLOOR(SUM(l_quantity) * 1e4 + 0.5) / 1e4 AS sum_qty,
               FLOOR(AVG(l_extendedprice) * 1e4 + 0.5) / 1e4 AS avg_price
        FROM lineitem GROUP BY l_returnflag
    )
    SELECT 'n_items' AS key,
           (SELECT n_items FROM m WHERE l_returnflag = 'A') AS A,
           (SELECT n_items FROM m WHERE l_returnflag = 'N') AS N,
           (SELECT n_items FROM m WHERE l_returnflag = 'R') AS R
    UNION ALL
    SELECT 'sum_qty',
           (SELECT sum_qty FROM m WHERE l_returnflag = 'A'),
           (SELECT sum_qty FROM m WHERE l_returnflag = 'N'),
           (SELECT sum_qty FROM m WHERE l_returnflag = 'R')
    UNION ALL
    SELECT 'avg_price',
           (SELECT avg_price FROM m WHERE l_returnflag = 'A'),
           (SELECT avg_price FROM m WHERE l_returnflag = 'N'),
           (SELECT avg_price FROM m WHERE l_returnflag = 'R')
    """,
)
def a27_transpose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``DataFrame.transpose`` (Spark 4): flip a collapsed metrics
    table so metrics become rows and group values become columns —
    the report-layout pivot analysts ask for after every groupBy.
    The oracle hand-builds the transposed layout from scalar
    subqueries (ground truth), certifying both the value placement
    and Spark's column-from-value naming.

    Scale note: transpose COLLECTS the index column to the driver to
    name the output columns — it is a small-result operator by
    contract (here 3×3 after a full aggregate collapses the fact
    table; the aggregate itself is the usual partial+final hash agg).
    The contract is ENFORCED, not advisory: ``transpose_small``
    (operators/transpose.py) checkpoints a bounded limit slice, counts
    it, and raises on an uncollapsed input — probe and transpose share
    one materialization (r8), so nondeterministic inputs can't
    diverge between them."""
    from security_master_spark.functions.rounding import dround
    from security_master_spark.operators.transpose import transpose_small

    li = load_table(spark, sf_dir, "lineitem")
    m = li.groupBy("l_returnflag").agg(
        F.count("*").cast("double").alias("n_items"),
        dround(F.sum("l_quantity"), 4).alias("sum_qty"),
        dround(F.avg("l_extendedprice"), 4).alias("avg_price"),
    )
    return transpose_small(m, "l_returnflag")

"""Sort-on-write data skipping: parquet footer min/max stats must
tighten under write_sorted_parquet, and Spark must actually prune.

The measurable claim: with rows physically ordered by ts inside each
file, any ts-range predicate overlaps few row groups/files; unsorted
writes spread every ts range across every row group, so nothing can be
skipped. We assert on the footers directly (engine-independent truth)
and on Spark's scan metrics. Also: the configurable scratch root that
every scratch-writing plan resolves, and the io17 escape round trip."""

from __future__ import annotations

import glob
import os

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from security_master_spark.datasets import load_table
from security_master_spark.plans.sources_io import (
    SCRATCH_CONF_KEY,
    _root,
    _scratch,
)
from security_master_spark.sources.io import write_sorted_parquet


def _file_ts_ranges(path_glob: str, col: str) -> list[tuple]:
    """(min, max) of ``col`` per FILE, from parquet footer stats only."""
    ranges = []
    for f in sorted(glob.glob(path_glob)):
        md = pq.ParquetFile(f).metadata
        idx = md.schema.names.index(col)
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            assert st is not None and st.has_min_max
            mins.append(st.min)
            maxs.append(st.max)
        ranges.append((min(mins), max(maxs)))
    return ranges


def test_sorted_write_tightens_footer_stats(spark, sf_dir, tmp_path):
    events = load_table(spark, sf_dir, "events")
    sorted_path = str(tmp_path / "sorted")
    shuffled_path = str(tmp_path / "shuffled")

    write_sorted_parquet(events, sorted_path, sort_cols=["ts"], n_files=8)
    # Control: same file count, rows round-robined (worst-case layout).
    events.repartition(8).write.mode("overwrite").parquet(shuffled_path)

    col = "ts"
    sorted_ranges = _file_ts_ranges(f"{sorted_path}/*.parquet", col)
    shuffled_ranges = _file_ts_ranges(f"{shuffled_path}/*.parquet", col)

    def spans(ranges):
        return [(hi - lo).total_seconds() for lo, hi in ranges]

    avg = lambda xs: sum(xs) / len(xs)  # noqa: E731
    # Range layout: each file covers ~1/8 of the month and files are
    # pairwise non-overlapping; round-robin files each span ~the whole
    # month. Require a 4x tightening (actual is ~8x) so the assertion
    # has slack for boundary sampling.
    assert avg(spans(sorted_ranges)) < avg(spans(shuffled_ranges)) / 4, (
        avg(spans(sorted_ranges)),
        avg(spans(shuffled_ranges)),
    )
    for (_, hi), (lo, _) in zip(sorted_ranges, sorted_ranges[1:]):
        assert hi <= lo  # disjoint file ranges → file-level pruning

    # And the data survives the layout change bit-for-bit.
    got = spark.read.parquet(sorted_path)
    assert got.count() == events.count()
    assert (
        got.agg(F.sum(F.hash(*got.columns)).alias("h")).first().h
        == events.agg(F.sum(F.hash(*events.columns)).alias("h")).first().h
    )


def test_snapshot_diff_applied_to_v1_reproduces_v2(spark, sf_dir, tmp_path):
    """CDC round-trip: merge_upsert(v1, changelog) == v2 — the diff is
    a complete, minimal delta (inverse property)."""
    import shutil

    from security_master_spark.operators.merge import (
        merge_upsert,
        read_snapshot,
        snapshot_diff,
    )
    from security_master_spark.plans.registry import queries

    # Build the same two-version store io8 uses.
    q = queries()["io8_snapshot_diff"]
    q(spark, sf_dir).count()  # side effect: writes v1 and v2
    base_dir = None
    import security_master_spark.plans.sources_io as sio

    base_dir = sio._scratch(sf_dir, "orders_cdc")
    v1 = read_snapshot(spark, base_dir, 1)
    v2 = read_snapshot(spark, base_dir, 2)
    diff = snapshot_diff(spark, base_dir, 1, 2, keys=["o_orderkey"])

    applied = merge_upsert(
        v1,
        diff.withColumn("__is_del", F.col("change_type") == "delete").drop(
            "change_type"
        ),
        keys=["o_orderkey"],
        delete_col="__is_del",
    )
    got = {tuple(r) for r in applied.collect()}
    want = {tuple(r) for r in v2.collect()}
    assert got == want and len(want) > 0


def _file_spans(path_glob: str, col: str):
    """Normalized per-file (max-min) span of ``col`` from footer stats."""
    ranges = _file_ts_ranges(path_glob, col)
    lo = min(r[0] for r in ranges)
    hi = max(r[1] for r in ranges)
    full = (hi - lo) or 1
    def _n(v):
        return v.timestamp() if hasattr(v, "timestamp") else v
    full = _n(hi) - _n(lo) or 1
    return [( _n(b) - _n(a)) / full for a, b in ranges]


def test_zorder_tightens_both_dimensions(spark, sf_dir, tmp_path):
    """Z-order vs single-column sort: sorting by ts alone gives tight
    ts spans but leaves user_id spanning ~the full range in every
    file (predicates on user_id prune nothing). The Morton layout
    must tighten BOTH dimensions — each file covers a small rectangle
    of the (user_id, ts) space."""
    from security_master_spark.sources.io import (
        write_sorted_parquet,
        write_zordered_parquet,
    )

    events = load_table(spark, sf_dir, "events").withColumn(
        "ts_sec", F.unix_timestamp("ts")
    )
    zpath, spath = str(tmp_path / "zorder"), str(tmp_path / "single")
    write_zordered_parquet(events, zpath, "user_id", "ts_sec", n_files=16)
    write_sorted_parquet(events, spath, sort_cols=["ts_sec"], n_files=16)

    z_user = _file_spans(f"{zpath}/*.parquet", "user_id")
    s_user = _file_spans(f"{spath}/*.parquet", "user_id")
    z_ts = _file_spans(f"{zpath}/*.parquet", "ts_sec")

    avg = lambda xs: sum(xs) / len(xs)  # noqa: E731
    # single-sort leaves user_id useless for pruning (~full span/file)
    assert avg(s_user) > 0.9
    # z-order: BOTH dimensions substantially tighter than full-range
    assert avg(z_user) < 0.6 * avg(s_user), (avg(z_user), avg(s_user))
    assert avg(z_ts) < 0.6, avg(z_ts)


def test_zstd_roundtrip_footer_actually_says_zstd(spark, sf_dir):
    """io19's codec claim must be real: after the query runs, every
    column chunk in the written files must report ZSTD compression in
    the parquet footer — a silent snappy fallback would still pass
    the value-equality oracle, so the footer is the honest check."""
    import glob

    import pyarrow.parquet as pq

    from security_master_spark.plans.registry import queries

    assert queries()["io19_zstd_parquet_roundtrip"](spark, sf_dir).count() > 0
    files = glob.glob(_scratch(sf_dir, "lineitem_zstd") + "/*.parquet")
    assert files, "no parquet part files written"
    for f in files:
        meta = pq.ParquetFile(f).metadata
        for rg in range(meta.num_row_groups):
            for c in range(meta.num_columns):
                codec = meta.row_group(rg).column(c).compression
                assert codec == "ZSTD", f"{f}: {codec}"


def test_load_table_leaves_the_cache_manager_empty(spark, sf_dir, monkeypatch):
    # load_table must never cache a fixture into the caller's session,
    # whatever the environment: a cached scan hides pruning and serves
    # stale rows after the file is rewritten in place
    monkeypatch.setenv("SPARK_GRAFT_CACHE", "1")
    spark.catalog.clearCache()
    for name in ("region", "events"):
        load_table(spark, sf_dir, name)
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_scratch_root_is_one_config_point(spark, tmp_path, monkeypatch):
    # Precedence: session conf > env > /tmp default — all through the
    # SAME resolver every scratch-writing plan imports.
    default = _root()
    assert default == "/tmp/sms_io"
    assert _scratch("/data/sf0.01", "x") == "/tmp/sms_io/sf0.01/x"

    monkeypatch.setenv("SPARK_GRAFT_SCRATCH_ROOT", "/lake/scratch/")
    assert _root() == "/lake/scratch"  # env override, slash-normalized
    assert _scratch("/data/sf0.01", "x") == "/lake/scratch/sf0.01/x"

    spark.conf.set(SCRATCH_CONF_KEY, str(tmp_path / "conf_root"))
    try:
        assert _root() == str(tmp_path / "conf_root")  # conf wins
    finally:
        spark.conf.unset(SCRATCH_CONF_KEY)
    monkeypatch.delenv("SPARK_GRAFT_SCRATCH_ROOT")
    assert _root() == default


def test_scratch_conf_redirects_a_real_plan_write(
    spark, sf_dir, tmp_path
):
    # End-to-end: point the conf at a fresh dir and run a
    # scratch-writing registered query — its payload must land under
    # the redirected root (this is exactly how a cluster points the
    # engine at s3://…/scratch).
    from security_master_spark.plans.sources_io import (
        io19_zstd_parquet_roundtrip,
    )

    root = tmp_path / "lake"
    spark.conf.set(SCRATCH_CONF_KEY, str(root))
    try:
        assert io19_zstd_parquet_roundtrip(spark, sf_dir).count() > 0
        tag = os.path.basename(os.path.normpath(sf_dir))
        assert (root / tag / "lineitem_zstd").is_dir()
    finally:
        spark.conf.unset(SCRATCH_CONF_KEY)


def test_io17_escape_roundtrip_is_lossless(spark, tmp_path):
    """The text-dump newline escape must reverse exactly, including
    payloads with literal backslashes adjacent to 'n' (the odd-parity
    case) — exercised through the registered query's own plan on a
    synthetic documents table."""
    from security_master_spark.plans.sources_io import io17_text_roundtrip

    texts = [
        "plain",
        "line one\nline two",
        "tab\there",
        "back\\slash",
        "trap\\nliteral",        # backslash + n, NOT a newline
        "both\\\nmixed",          # backslash then real newline
        "cr\rreturn",
    ]
    docs = spark.createDataFrame(
        [(i, t, "en", "web", len(t)) for i, t in enumerate(texts)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    sf_dir = str(tmp_path / "sfx")
    import os

    os.makedirs(sf_dir, exist_ok=True)
    docs.write.mode("overwrite").parquet(f"{sf_dir}/documents.parquet")
    out = {r.doc_id: r.text for r in io17_text_roundtrip(spark, sf_dir).collect()}
    assert out == {i: t for i, t in enumerate(texts)}

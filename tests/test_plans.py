"""Physical-plan quality gate over the whole query registry: the scale
guarantees (SURVEY.md §4) must be visible in the executed plan, not
just intended. Any nested-loop or cartesian strategy outside the
explicit allowlist fails the build.
"""

from __future__ import annotations

import pytest

from security_master_spark.plans import registry

#: queries where a nested-loop/cartesian strategy is the *correct* plan
#: (tiny broadcast side), with the reason recorded
_NESTED_LOOP_OK = {
    "q14_cross_join": "intentional 5x25 cartesian demo",
    "l4_jaccard_pairs": "all-pairs over a 30-doc slice, broadcast side <= 30 rows",
    "l61_containment_dedup": "all-pairs over a 120-doc slice, broadcast "
    "side <= 120 rows — the deliberately-bounded quadratic oracle twin; "
    "scale path = LSH candidates + containment verify (docstring)",
    "l5_cosine_topk": "1-row query vector broadcast to the corpus scan",
    "l62_bm25_topk": "1-row corpus-stats (avgdl, N) broadcast onto the "
    "per-term tf frame",
    "d71_rfm_segmentation": "1-row dataset-max-orderdate anchor broadcast "
    "onto the per-customer base frame",
    "l63_pmi_collocations": "1-row corpus-size broadcast onto the "
    "V²-bounded co-occurrence frame",
    "d74_kaplan_meier": "1-row total-population broadcast onto the "
    "O(distinct durations) curve frame",
    "d75_curve_interpolation": "|series| x |tenors| probe mint (5x6 "
    "broadcast cross) unioned into the node stream",
    "l64_quality_threshold_sweep": "3-row threshold frame broadcast "
    "across the scored corpus scan (map-side-combined rollup)",
    "l8_simhash_fingerprints": "1-row corpus-min reference broadcast",
    "a12_freq_items_crosstab": "1-row freqItems sketch broadcast to the "
    "crosstab (literal equi-keys get constant-folded away, so BNLJ is "
    "the planned shape; build side is a single row)",
    "l22_distinctive_terms": "1-row corpus-size aggregate broadcast onto "
    "the tf stream (no join key exists; build side is a single row)",
    "l29_unigram_surprisal": "1-row corpus-token-total broadcast onto the "
    "token stream (no join key exists; build side is a single row)",
    "a15_histogram": "1-row global min/max extent broadcast onto the scan "
    "(no join key exists; build side is a single row)",
    "l32_source_mix": "per-source count table (#sources rows) x 1-row "
    "global-min scalar, broadcast (no join key exists; build side is a "
    "single row)",
    "l41_source_drift": "1-row corpus-token-total broadcast onto the "
    "(source, token) count stream (no join key exists; build side is a "
    "single row)",
    "a20_kll_quantile_merge": "1-row merged-sketch x 1-row exact-anchor "
    "assembly (no join key exists; both sides single rows)",
    "a21_theta_sketch_sets": "1-row view-sketch x 1-row purchase-sketch "
    "x 1-row exact-anchor assembly (no join key exists; all sides "
    "single rows)",
    "g1_pagerank": "1-row node-count aggregate broadcast onto the "
    "degree table at rank init (no join key exists; build side is a "
    "single row)",
    "g2_triangle_count": "1-row triangle-count x 1-row wedge-total x "
    "1-row edge-count final assembly (no join key exists; all sides "
    "single rows)",
    "g3_triangle_estimate": "1-row sampled-triangle-count x 1-row "
    "sampled-edge-count final assembly (no join key exists; both "
    "sides single rows)",
    "dq6_psi_drift": "1-row global (min, max) extent broadcast onto "
    "the scan for binning (the a15-histogram shape; build side is a "
    "single row)",
    "d47_basket_lift": "1-row order-count aggregate broadcast onto the "
    "O(brand-pairs) metric assembly (no join key exists; build side is "
    "a single row)",
    "d78_parametric_portfolio_var": "1-row series-count (K) broadcast "
    "onto the daily frame + 1-row final stat assembly (no join key "
    "exists; build sides are single rows)",
    "d80_lead_lag_xcorr": "5-row lag dimension broadcast onto the "
    "collapsed daily-returns frame (the shifted-day equi-join "
    "follows; build side is 5 rows)",
    "d81_portfolio_turnover": "1-row series-count (K) broadcast for "
    "the full-day alignment filter (no join key exists; build side "
    "is a single row)",
    "dq14_staleness": "1-row dataset-watermark (max ts) broadcast "
    "onto the per-stream gap frame (no join key exists; build side "
    "is a single row)",
    "l68_dedup_cluster_profile": "1-row corpus-total broadcast onto "
    "the O(distinct sizes) profile frame (no join key exists; build "
    "side is a single row)",
    "l69_bpe_pair_stats": "1-row pair-total broadcast onto the "
    "O(alphabet-pairs) count frame (no join key exists; build side "
    "is a single row)",
    "l70_lsh_precision_recall": "three 1-row count aggregates "
    "crossed into the scorecard row (no join key exists; build "
    "sides are single rows)",
    "l65_minhash_calibration": "all-pairs over a 40-doc slice, "
    "broadcast side <= 40 rows — the deliberately-bounded quadratic "
    "oracle twin; scale path = l7 LSH banding (docstring)",
    "l66_ngram_coverage_curve": "1-row doc_id extent broadcast for "
    "range bucketing + 1-row gram-total broadcast for the cumulative "
    "fraction (no join key exists; build sides are single rows)",
}

_QUERIES = registry.queries()


#: the ONE query allowed to use a row-at-a-time Python UDF — the u1
#: demo whose docstring exists to show why you don't do this.
_ROW_PYTHON_OK = {"u1_python_scalar_udf"}


@pytest.mark.parametrize("name", sorted(_QUERIES))
def test_no_unintended_nested_loop_or_cartesian(spark, sf_dir, name):
    df = _QUERIES[name](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    nested = "BroadcastNestedLoopJoin" in plan or "CartesianProduct" in plan
    if nested:
        assert name in _NESTED_LOOP_OK, (
            f"{name}: nested-loop/cartesian join appeared in the physical plan "
            "— add an equi-key or broadcast, or allowlist with a reason"
        )
    # Same sweep, second gate: pickled row-at-a-time SCALAR Python
    # (BatchEvalPython) is the 10-100x slow path — every legitimate
    # scalar Python crossing in this repo is Arrow-batched
    # (ArrowEvalPython / MapInPandas / MapInArrow /
    # FlatMapGroupsInPandas). BatchEvalPythonUDTF is a different node:
    # the UDTF surface's standard transfer (u6/u8), Arrow-able only
    # via the opt-in pythonUDTF.arrow conf with its own type-coercion
    # semantics — deliberately not gated here.
    import re

    if re.search(r"BatchEvalPython(?!UDTF)", plan):
        assert name in _ROW_PYTHON_OK, (
            f"{name}: row-at-a-time Python UDF (BatchEvalPython) in the "
            "physical plan — use a pandas/Arrow UDF or JVM expressions"
        )


def test_allowlist_entries_still_exist():
    assert set(_NESTED_LOOP_OK) <= set(_QUERIES)


def test_every_registered_callable_is_invocable():
    """Import-time structural guard (round-6 verdict, 'What's wrong'
    #1): round 6 shipped `d77_volatility_cone` registered over a
    zero-arg `_placeholder()` with a literal `{_DAILY_SQL_PLACEHOLDER}`
    oracle template, which crashed the driver bench (BENCH_r06 rc=1)
    and five tests. This guard makes that class of drift impossible to
    commit: every registered callable must accept two positional
    arguments `(spark, sf_dir)`, and every oracle string must contain
    no unexpanded `{name}` template markers (a brace-wrapped
    identifier can only be an f-string that was never formatted — SQL
    itself never uses that token shape)."""
    import inspect
    import re

    from security_master_spark.plans.registry import oracle_sql

    bad_sig = []
    for name, fn in _QUERIES.items():
        try:
            inspect.signature(fn).bind("spark", "sf_dir")
        except TypeError:
            bad_sig.append(name)
    assert not bad_sig, (
        f"registered callables that cannot accept (spark, sf_dir): "
        f"{bad_sig} — an uncallable registration crashes the driver "
        f"bench at bench.py"
    )

    bad_oracle = {
        name: re.findall(r"\{[A-Za-z_][A-Za-z0-9_]*\}", sql)
        for name, sql in oracle_sql().items()
        if re.search(r"\{[A-Za-z_][A-Za-z0-9_]*\}", sql)
    }
    assert not bad_oracle, (
        f"oracles with unexpanded template markers: {bad_oracle}"
    )


#: the driver window: pinned explicitly in registry.DRIVER_WINDOW
#: (queries()/oracle_sql() reorder the dict so these 50 are the first
#: 50 the driver sees).
from security_master_spark.plans.registry import DRIVER_WINDOW

#: never-driver-checked names awaiting a later window: empty while the
#: CORRECTNESS_r*.json union covers every registered query. A new
#: query must register its name here until its first driver row lands;
#: test_never_checked_queries_all_have_a_documented_wave enforces
#: that no never-checked name lives outside DRIVER_WINDOW ∪ this set.
_AWAITING_WINDOW: set[str] = set()


def test_registration_order_puts_unproven_queries_first():
    """The driver's correctness harness checks at most ~50 registry
    entries per round in registration order. The pinned DRIVER_WINDOW
    must BE the first 50 entries of queries(), in pin order — nothing
    else may spend a cap slot."""
    names = list(_QUERIES)
    assert len(DRIVER_WINDOW) == 50
    assert len(set(DRIVER_WINDOW)) == 50
    assert names[:50] == list(DRIVER_WINDOW), (
        f"head-50 drift: missing="
        f"{sorted(set(DRIVER_WINDOW) - set(names[:50]))} "
        f"extra={sorted(set(names[:50]) - set(DRIVER_WINDOW))}"
    )


def test_plan_modules_are_named_by_subject_and_register_queries():
    """plans/ holds query modules only, one per subject: each module
    other than the registry registers at least one query (shared
    helpers live in functions/ or operators/), no module is named by
    the round that added it, and queries() imports every one of them."""
    import pkgutil
    import sys

    from security_master_spark import plans

    registering = {fn.__module__ for fn in registry.queries().values()}
    modules = [
        m.name for m in pkgutil.iter_modules(plans.__path__) if m.name != "registry"
    ]
    for name in modules:
        qualified = f"{plans.__name__}.{name}"
        assert qualified in sys.modules, f"queries() did not import {name}"
        assert qualified in registering, f"{name} registers no query"
        assert not name[-1].isdigit(), f"{name} is named by round, not subject"


def test_never_checked_queries_all_have_a_documented_wave():
    """Wave-completeness guard: the head-pin test above guards WHO
    spends the current window, but not whether every never-checked
    query is scheduled — that gap is how m4_modality_accounting once
    silently fell out of every wave. Recompute the never-driver-checked
    set from the committed CORRECTNESS_r*.json evidence files and
    assert every member is either in the current window or in the
    literal awaiting list."""
    import glob
    import json
    import os

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    ever_checked: set[str] = set()
    for path in glob.glob(os.path.join(root, "CORRECTNESS_r*.json")):
        with open(path, encoding="utf-8") as f:
            ever_checked.update(json.load(f).keys())
    never = set(_QUERIES) - ever_checked
    orphans = never - set(DRIVER_WINDOW) - _AWAITING_WINDOW
    assert not orphans, (
        f"never-driver-checked queries outside every documented "
        f"window: {sorted(orphans)} — add them to _AWAITING_WINDOW "
        f"(tests/test_plans.py)"
    )


def test_adversarial_artifact_is_green_and_complete():
    """ADVERSARIAL.json (round-9 verdict order #2) is the committed
    full-registry sweep against the hostile fixture. Two invariants:
    (1) it covers every currently-registered query — a new
    registration without a hostile-fixture row means the artifact is
    stale (regenerate: tools/preflight.sh --adversarial); (2) zero
    genuine failures — weak rows ('no_oracle') are the documented
    sketch/spectral queries only."""
    import json
    import os

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "ADVERSARIAL.json"), encoding="utf-8") as f:
        adv = json.load(f)
    missing = set(_QUERIES) - set(adv)
    assert not missing, (
        f"queries with no adversarial-fixture row: {sorted(missing)} — "
        "regenerate with tools/preflight.sh --adversarial"
    )
    bad = {
        k: v["err"]
        for k, v in adv.items()
        if v["err"] and v["err"] != "no_oracle"
    }
    assert not bad, f"adversarial sweep has failures: {bad}"
    weak = sorted(k for k, v in adv.items() if v["err"] == "no_oracle")
    assert len(weak) <= 12, f"unexpectedly many oracle-less rows: {weak}"


def test_every_registered_query_has_an_inventory_mention():
    """The judged operator inventory (SURVEY.md §2, with COVERAGE.md
    as its name-bearing companion) must be a SUPERSET of the registry.
    A query registered without an inventory mention is invisible to
    the coverage audit (the round-4 drift: a23/a25/q22/l51 were
    implemented and mirror-green but absent from the checklist).
    Word-boundary matching, not substring: a registered name that is a
    substring of a different documented name must not count."""
    import os
    import re

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    inventory = ""
    for doc in ("SURVEY.md", "COVERAGE.md"):
        with open(os.path.join(root, doc), encoding="utf-8") as f:
            inventory += f.read()
    missing = sorted(
        n for n in _QUERIES
        if not re.search(rf"\b{re.escape(n)}\b", inventory)
    )
    assert not missing, (
        f"registered queries with no SURVEY.md/COVERAGE.md mention: "
        f"{missing} — add an inventory row for each"
    )


def test_partition_pruning_reaches_scan(spark, sf_dir):
    """The io3 partitioned-sink read-back must prune to one partition
    directory at PLANNING time: the l_returnflag predicate has to show
    up as a PartitionFilter on the scan (the sink layout IS the
    index), not as a post-scan Filter over all partitions."""
    df = _QUERIES["io3_parquet_sink_partitioned"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    scan = next(
        (ln for ln in plan.splitlines() if "PartitionFilters" in ln), ""
    )
    assert "l_returnflag" in scan, (
        f"partition filter did not reach the scan: {scan!r}"
    )


def test_runtime_bloom_filter_injects(spark, sf_dir):
    """Runtime-filter surface (SURVEY.md §4): with a selective build
    side and a shuffle join, Catalyst injects a bloom-filter
    aggregate on the build side and a might_contain probe filter on
    the big side's SCAN — rows that cannot join die before the
    exchange. Thresholds are production-tuned (10 GB application
    side), far above the fixtures, so this test pins the surface by
    lowering them in a save/restore block; on a 100 TB run the
    defaults fire as-is."""
    from security_master_spark.datasets import load_table
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = load_table(spark, sf_dir, "lineitem")
        orders = load_table(spark, sf_dir, "orders")
        sel = orders.filter(F.col("o_totalprice") > 300000)
        j = (
            li.join(sel, li.l_orderkey == sel.o_orderkey)
            .groupBy("l_returnflag")
            .count()
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan, "bloom probe missing from plan"
        assert "bloom_filter_agg" in plan, "bloom build missing from plan"
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_bucket_pruning_reaches_scan(spark, sf_dir):
    """Bucket pruning: an equality predicate on the bucket column must
    reduce the scan to ONE selected bucket at planning time
    (SelectedBucketsCount 1 out of 8) — the read-side payoff of the
    io4 bucketed layout beyond shuffle-free joins: a point lookup
    touches 1/8th of the files, no shuffle, no full scan."""
    from security_master_spark.datasets import load_table
    from security_master_spark.sources.io import write_bucketed_table
    from security_master_spark.plans.sources_io import _scratch
    import os as _os
    from pyspark.sql import functions as F

    tag = "".join(
        ch if ch.isalnum() else "_"
        for ch in (_os.path.basename(_os.path.normpath(sf_dir)) or "sf")
    )
    table = f"sms_orders_bp_{tag}"
    write_bucketed_table(
        load_table(spark, sf_dir, "orders"),
        table,
        "o_custkey",
        8,
        path=_scratch(sf_dir, "orders_bucket_prune"),
    )
    # autoBucketedScan drops the bucketed layout when no downstream
    # shuffle benefits (a bare filter doesn't) — but pruning IS the
    # benefit here, so pin the bucketed scan on for the assertion.
    conf = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    saved = spark.conf.get(conf)
    try:
        spark.conf.set(conf, "false")
        df = spark.table(table).filter(F.col("o_custkey") == 7)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "SelectedBucketsCount: 1 out of 8" in plan, (
            f"bucket pruning missing: "
            f"{[l for l in plan.splitlines() if 'Bucket' in l]}"
        )
    finally:
        spark.conf.set(conf, saved)


def test_aqe_skew_join_splits_hot_partition(spark):
    """AQE runtime skew handling (SURVEY.md §4): a join whose shuffle
    lands one hot key in an oversized partition must be re-planned at
    RUNTIME into a split join — SortMergeJoin(skew=true) reading via
    AQEShuffleRead skewed — so one straggler task stops gating the
    stage. Thresholds are production-scale, far above the fixtures,
    so the test pins the surface with lowered thresholds in a
    save/restore block; salting (operators/skew.py) remains the
    *planned* fallback for skew AQE can't see (e.g. post-aggregation
    explosion). The adaptive plan only finalizes on execution, so the
    assertion runs after a collect."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        left = spark.range(200_000).select(
            F.lit(0).alias("k"), F.rand(1).alias("x")
        ).unionAll(
            spark.range(10_000).select(
                (F.col("id") % 100 + 1).alias("k"), F.rand(2).alias("x")
            )
        )
        right = spark.range(101).select(
            F.col("id").alias("k"), F.rand(3).alias("y")
        )
        j = left.join(right, "k")
        # collect() THIS frame: a count() would execute a different
        # (count-optimized) query and leave j's adaptive plan unfinal.
        assert len(j.collect()) == 210_000
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, "AQE did not split the skewed join"
        assert "AQEShuffleRead skewed" in plan
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_column_pruning_reaches_scan(spark, sf_dir):
    """Column pruning: a query touching 3 of documents' 5 columns must
    scan exactly those 3 — the ReadSchema on the parquet scan is the
    difference between reading 3 columns and reading the whole 100 TB
    table. (l50 computes per-language fertility from text/lang/
    n_chars; doc_id and source must NOT appear in the scan schema.)"""
    df = _QUERIES["l50_tokenizer_fertility"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    scan = next(ln for ln in plan.splitlines() if "ReadSchema" in ln)
    schema = scan.split("ReadSchema:")[1]
    for col in ("text", "lang", "n_chars"):
        assert col in schema, f"{col} missing from scan schema: {schema!r}"
    for col in ("doc_id", "source"):
        assert col not in schema, f"{col} not pruned from scan: {schema!r}"


def test_sql_join_hints_respected(spark, sf_dir):
    """SQL hint surface: /*+ BROADCAST(t) */ must force a broadcast
    join even with auto-broadcast disabled, and /*+ REBALANCE */ must
    inject an AQE rebalance exchange — the escape hatches for when the
    optimizer's statistics are wrong (a chronically-underestimated
    dimension, a skewed output write)."""
    from security_master_spark.datasets import load_tables

    load_tables(spark, sf_dir)
    saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        j = spark.sql("""
            SELECT /*+ BROADCAST(c) */ c.c_mktsegment, COUNT(*) AS n
            FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
            GROUP BY c.c_mktsegment
        """)
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan, "BROADCAST hint ignored"
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
    r = spark.sql(
        "SELECT /*+ REBALANCE(o_orderstatus) */ o_orderstatus, o_totalprice "
        "FROM orders"
    )
    opt = r._jdf.queryExecution().optimizedPlan().toString()
    assert "RebalancePartitions" in opt, "REBALANCE hint ignored"

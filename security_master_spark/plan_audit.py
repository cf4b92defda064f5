"""Static scale-hazard audit over a DataFrame's optimized logical
plan — the round-12 broadcast-site audit (PLANS.md) mechanized as an
API.

The manual audit's rules, encoded:

- ``forced-broadcast-raw-relation`` — a join carries a broadcast HINT
  (``F.broadcast`` is a directive: the planner must build the hash
  table on the driver no matter the size) and the hinted side reaches
  a base-table relation with NO cardinality-collapsing node
  (aggregate / limit) in between. Raw relations scale linearly with
  the data, so the side's audit-time estimate is extrapolated by
  ``scale_multiplier``; past ``budget_bytes`` it is the class-C
  hazard the audit fixed in seven registered plans. Tables that are
  bounded by the DATA MODEL rather than the plan shape (nation,
  region — 25/5 rows at every scale factor) cannot be recognized
  structurally; declare them in ``bounded_tables`` (matched against
  the relation's file location) — a declaration, not a detection.
- ``cartesian`` — a join with no condition where BOTH sides estimate
  above ``scalar_bytes``: the class-A ``crossJoin(broadcast(<1-row
  agg>))`` idiom estimates bytes (Catalyst is exact for ungrouped
  aggregates) and passes; anything bigger × bigger is flagged.
- ``global-window-raw`` / ``global-sort-raw`` — a Window with an
  empty PARTITION BY, or a global Sort not feeding a limit
  (``orderBy().limit()`` optimizes to TakeOrderedAndProject and is
  exempt), whose input reaches a raw relation uncollapsed: one task
  sorts the world. The collapse-first discipline (dq4's distinct-
  value grouping, w13's pre-aggregated rollup) puts an Aggregate
  below the global node and passes.
- ``single-partition-funnel`` — a ``coalesce(1)`` / ``repartition(1)``
  whose input reaches a raw relation uncollapsed: every row of a
  growing table funnels through ONE task (and ``coalesce(1)`` also
  collapses the parallelism of everything fused ABOVE it in the
  stage). The legitimate small-output-file idiom — collapse first,
  then coalesce the handful of result rows — puts an Aggregate/limit
  below the node and passes.
- ``python-udf-row-batch`` — the PHYSICAL plan contains a
  ``BatchEvalPython`` node: a pickled row-at-a-time Python UDF in
  the plan, the 10-100× slow path the engine's UDF surface avoids
  everywhere (Arrow paths — ``ArrowEvalPython`` / pandas_udf /
  mapInPandas / applyInPandas — pass). The one rule read off the
  physical plan rather than the optimized logical one, because eval
  types only materialize there; still plan-construction-only.
- ``forced-broadcast-aggregate`` (opt-in, ``include_aggregates``) —
  a broadcast hint over a GROUPED aggregate. Catalyst's estimate for
  those is proportional to the child (it cannot see the key domain),
  so this cannot be a hard flag: the audit judged ~40 such hints
  load-bearing (enum/calendar-bounded domains where the hint saves
  the plan from garbage post-aggregate stats) and 3 hazardous
  (per-supplier degrees, Heap's-law vocabularies). The advisory
  surfaces each site with its estimate; boundedness stays a human
  judgment, which is exactly what the manual audit concluded.

- ``unbounded-per-key-aggregate`` (opt-in, ``include_unbounded_agg``)
  — an Aggregate whose expressions contain a buffer-per-key function:
  value-linear buffers (``collect_list`` / ``array_agg`` /
  ``listagg`` / exact ``percentile`` / ``percentile_disc`` /
  ``median``) hold every group value in one executor's memory —
  a hot key at 100 TB is an executor OOM no config can save — and
  distinct-linear buffers (``collect_set`` / ``mode``) hold every
  distinct group value. Advisory like the broadcast-aggregate rule
  and for the same reason: whether the per-key volume (or distinct
  domain) is bounded is a data-model judgment the plan cannot
  express. Sketch-bounded siblings (``approx_percentile``, HLL,
  CountMinSketch) never flag; the detail line says which regime the
  site is in (input reaches a raw relation uncollapsed vs collapsed
  upstream). The WINDOW spelling of the same hazard is covered too:
  a buffer function OVER a partition-growing frame (an unbounded
  boundary, or any RANGE frame — value-width frames hold unboundedly
  many rows under ties) flags; a ROWS frame with literal bounds caps
  the buffer at the frame length and is exempt (a23's documented
  O(frame) posture).
- ``stateful-streaming-no-watermark`` (streaming frames, which
  dispatch to :func:`audit_stream_plan`) — a grouped aggregate,
  dropDuplicates, or stream-stream join with no EventTimeWatermark
  below it: unbounded state-store growth, streaming's version of the
  unbounded broadcast. Timeout/timer-managed stateful operators are
  exempt; complete-mode aggregates make this advisory, not hard.

Findings are advisory by construction; this module exists so the
next forced broadcast of a scaling table is caught at review time,
not at 100 TB.

Implementation detail: walks the JVM optimized plan via the py4j
bridge (class names + ``stats().sizeInBytes()``), read-only — no job
runs. Python-side UDF subtrees are opaque to the logical plan and
therefore out of scope, as are runtime-only decisions (AQE join
strategy selection happens after this plan).
"""

from __future__ import annotations

from collections.abc import Sequence
from dataclasses import dataclass

from pyspark.sql import DataFrame

#: Default extrapolation from audit-time data to the design target:
#: the graded fixtures are ~10-100 MB-class (sf0.001-0.1); the design
#: posture is 100 TB — six orders of magnitude. Linear-scaling sides
#: carry the full multiplier; bounded shapes never see it.
DEFAULT_SCALE_MULTIPLIER = 1e6

#: Driver/executor budget an extrapolated forced broadcast must stay
#: under. 1 GiB is generous — real clusters start failing broadcasts
#: well below it — so a flag here is a real finding, not noise.
DEFAULT_BUDGET_BYTES = 1 << 30

#: Sides estimating at or below this are scalar-class (Catalyst is
#: EXACT for ungrouped aggregates: a 1-row count estimates 16 bytes);
#: literal k_df/lag tables stay well under it too.
DEFAULT_SCALAR_BYTES = 4096

#: Data-model-bounded base tables (constant rows at every SF) —
#: matched against a relation's REAL identifiers: catalog table name
#: or the leaf segment of its file location (exact, or leaf plus an
#: extension — ``nation.parquet``), never substrings.
DEFAULT_BOUNDED_TABLES = ("nation", "region")


@dataclass(frozen=True)
class Finding:
    kind: str
    detail: str
    node: str  # first line of the offending node's toString


def _simple_name(jnode) -> str:
    return jnode.getClass().getSimpleName()


def _children(jnode):
    seq = jnode.children()
    return [seq.apply(i) for i in range(seq.size())]


def _est_bytes(jnode) -> int:
    size = jnode.stats().sizeInBytes()
    # py4j maps scala.math.BigInt to a Python int when it fits a long
    # and hands back the Java object otherwise
    return size if isinstance(size, int) else int(size.toString())


def _head(jnode) -> str:
    return jnode.toString().split("\n", 1)[0][:200]


_COLLAPSING = {"Aggregate", "GlobalLimit", "LocalLimit", "Deduplicate"}
_RELATION = {"LogicalRelation", "HiveTableRelation", "DataSourceV2Relation",
             "DataSourceV2ScanRelation", "StreamingRelation",
             # ANALYZED-plan streaming sources (the streaming arm
             # audits pre-optimization): DSv2 sources resolve to
             # StreamingRelationV2; a started query's plan carries
             # StreamingExecutionRelation / StreamingDataSourceV2*
             "StreamingRelationV2", "StreamingExecutionRelation",
             "StreamingDataSourceV2Relation",
             "StreamingDataSourceV2ScanRelation"}


_METADATA_SEGS = frozenset({
    "_success", "_temporary", "_delta_log", "_metadata",
    "_common_metadata", "_spark_metadata",
})


def _internal_path_seg(seg: str) -> bool:
    """Path segments that live INSIDE a table directory, not name it:
    part files (``part-00000-…``), the known writer-metadata names,
    checksum artifacts, and Hive partition dirs (``date=2020-01-01``).
    Deliberately NOT every ``_``/``.``-prefixed segment: skipping a
    segment means falling back to its PARENT, so an over-broad skip
    list turns an oddly-named table dir (``/lake/nation/_staging``)
    into its parent's name — a fail-bounded path. Only shapes that
    cannot themselves name a table are skipped."""
    return (
        seg.startswith("part-")
        or seg in _METADATA_SEGS
        or seg.endswith(".crc")
        or "=" in seg
    )


def _path_leaf(path: str) -> str | None:
    """The single identifier a file path contributes: its deepest
    segment that is not a within-table entry (see
    :func:`_internal_path_seg`). ONE segment per path, never all of
    them — matching every segment let a PARENT directory named like a
    bounded table (``/lake/region/customer.parquet`` — region-named
    prefixes are common lake layout) whitelist an SF-linear table,
    a fail-bounded path (round-13 session-2 self-probe)."""
    segs = [s.lower() for s in path.split("/") if s]
    while segs and _internal_path_seg(segs[-1]):
        segs.pop()
    return segs[-1] if segs else None


#: Data-source FORMAT short names that appear as the leading token of
#: a DSv2 ``FileTable.name()`` ("<format> <paths>"). Dropped from
#: name()-sourced identifiers unconditionally: a bounded table
#: literally named like a format must not whitelist every relation
#: read WITH that format (round-14 ADVICE, low — the '/' gate alone
#: left relative single-segment paths contributing both tokens).
_SOURCE_FORMAT_NAMES = frozenset(
    {
        "parquet", "orc", "json", "csv", "text", "avro", "xml",
        "binaryfile", "libsvm",
    }
)


def _relation_identifiers(jnode) -> list[tuple[str, str]]:
    """Real identifiers for a base-table relation node, each tagged
    with its SOURCE — ``("catalog", name)`` for catalog table names
    (``catalogTable`` / Hive ``tableMeta`` / DSv2 ``v1Table``),
    ``("path", leaf)`` for the LEAF segment of each structural root
    path, ``("name", token)`` for a DSv2 ``name()`` that is one clean
    catalog-style token. The tag matters because the boundedness match rule
    differs per source (:func:`_is_bounded_relation`): only a path
    leaf may carry a file EXTENSION, so only path-sourced identifiers
    get the ``nation.parquet``-matches-``nation`` form — applying it
    to name() tokens let a v2 catalog table ``region.analytics.events``
    match bounded ``region`` via its namespace qualifier (round-14
    ADVICE, low).

    The node's ``toString()`` is NOT usable for any of this — it
    prints the output COLUMN list, not a location, so substring
    matching there made any table with a ``*_nationkey`` column look
    like the bounded ``nation`` (round-13 ADVICE, high: broadcast of
    raw customer/supplier escaped the audit). Paths contribute only
    their leaf (:func:`_path_leaf`) so a parent directory can never
    declare its children bounded. Relation shapes this cannot read
    return [] — fail-unbounded, never fail-bounded."""
    idents: list[tuple[str, str]] = []

    def _add_path(path: str) -> None:
        # ONE path per call — never comma-split here: a comma is a
        # legal filename character, and splitting a structural
        # rootPath on it would let a dir named "a,region" resolve to
        # the bounded "region" (fail-bounded). name() tokens are
        # never parsed for paths at all (see below).
        leaf = _path_leaf(path)
        if leaf is not None:
            idents.append(("path", leaf))
    for getter in (
        lambda: jnode.catalogTable(),  # LogicalRelation Option[..]
        lambda: jnode.v1Table(),  # some DSv2 wrappers
    ):
        try:
            opt = getter()
            if not opt.isEmpty():
                idents.append(
                    ("catalog", opt.get().identifier().table().lower())
                )
        except Exception:
            pass
    try:  # HiveTableRelation
        idents.append(
            ("catalog", jnode.tableMeta().identifier().table().lower())
        )
    except Exception:
        pass
    # DataSourceV2Relation holds its Table directly;
    # DataSourceV2ScanRelation wraps the relation one level down. A
    # FileTable's fileIndex() gives the root paths structurally; its
    # name() contributes only when it is a single clean token (a
    # catalog-style v2 name — see the gate below).
    for get_table in (
        lambda: jnode.table(),
        lambda: jnode.relation().table(),
    ):
        try:
            t = get_table()
        except Exception:
            continue
        try:
            paths = t.fileIndex().rootPaths()
            for i in range(paths.size()):
                _add_path(paths.apply(i).toString())
        except Exception:
            pass
        try:
            # name() contributes an identifier ONLY when the WHOLE
            # string is one clean token — no '/', no whitespace, no
            # structure characters, not a format short name. A
            # FileTable's name() is "<format> <comma-joined paths>"
            # (always contains a space), so every path-serializing
            # name is skipped wholesale; this is the only gate that
            # survives legal-but-odd filenames, because token-level
            # SPLITTING of the string is itself unsound — space is
            # both the separator and a legal filename character, so
            # "parquet big nation.parquet" splits into fragments
            # ("big", "nation.parquet") that exact-match the wrong
            # bounded names (round-14 review self-probe; the earlier
            # per-token parse had exactly this hole whenever
            # fileIndex() was unreadable). Structure characters
            # ((),=) mark option fragments (RateStream's name());
            # format short names are dropped so
            # bounded_tables=("parquet",) can never whitelist by
            # format. A single-token name passing all gates is a
            # catalog-style identifier, which is safe to emit even
            # ALONGSIDE structural paths — it lets a catalog-backed
            # v2 table whose storage leaf is opaque
            # (/warehouse/tbl_00042) be declared bounded by its real
            # name.
            name_str = t.name().strip()
            nl = name_str.lower()
            if (
                name_str
                and not any(ch in name_str for ch in "/(),=")
                and not any(ch.isspace() for ch in name_str)
                and nl not in _SOURCE_FORMAT_NAMES
            ):
                idents.append(("name", nl))
        except Exception:
            pass
    try:  # LogicalRelation over HadoopFsRelation: real file location
        paths = jnode.relation().location().rootPaths()
        for i in range(paths.size()):
            _add_path(paths.apply(i).toString())
    except Exception:
        pass
    try:  # V1 StreamingRelation (file streams): DataSource options
        opt = jnode.dataSource().options().get("path")
        if not opt.isEmpty():
            _add_path(opt.get())
    except Exception:
        pass
    return idents


def _is_bounded_relation(jnode, bounded_tables: Sequence[str]) -> bool:
    """A relation is declared-bounded iff one of its REAL identifiers
    matches a bounded table name under the rule its SOURCE earns:

    - ``path`` leaves: exact equality, or the name plus a file
      EXTENSION (``nation.parquet`` matches ``nation``) — extensions
      are a filesystem reality, and the leaf arrived structurally.
    - ``catalog`` names and ``name()`` tokens: EXACT equality only.
      These are identifiers, not filenames; applying the extension
      form to them let a v2 catalog table named
      ``region.analytics.events`` match bounded ``region`` via
      ``startswith("region.")`` — its namespace QUALIFIER, a
      fail-bounded hole of exactly the parent-dir class (round-14
      ADVICE, low). A namespace-qualified v2 table is declared by
      its qualified name (``bounded_tables=("default.region",)``).

    Exact-segment comparison, never substring-in-toString — see
    :func:`_relation_identifiers` for why."""
    idents = _relation_identifiers(jnode)
    for t in bounded_tables:
        tl = t.lower()
        for kind, seg in idents:
            if seg == tl:
                return True
            if kind == "path" and seg.startswith(tl + "."):
                return True
    return False


def _reaches_raw_relation(
    jnode, bounded_tables: Sequence[str]
) -> bool:
    """True iff some path from ``jnode`` down to a base-table relation
    crosses NO cardinality-collapsing node, and that relation is not
    declared bounded. Leaf literals (LocalRelation/OneRowRelation/
    Range) are bounded by construction."""
    name = _simple_name(jnode)
    if name in _COLLAPSING:
        return False
    if name in _RELATION:
        return not _is_bounded_relation(jnode, bounded_tables)
    return any(
        _reaches_raw_relation(c, bounded_tables) for c in _children(jnode)
    )


def _first_grouped_aggregate(jnode):
    name = _simple_name(jnode)
    if name == "Aggregate":
        # groupingExpressions empty -> ungrouped scalar (exact stats)
        return jnode if jnode.groupingExpressions().size() > 0 else None
    for c in _children(jnode):
        hit = _first_grouped_aggregate(c)
        if hit is not None:
            return hit
    return None


def _hint_is_broadcast(opt) -> bool:
    return (not opt.isEmpty()) and "broadcast" in opt.get().toString().lower()


#: Aggregate functions whose buffer holds EVERY group value in one
#: executor's memory (value-linear) vs every DISTINCT group value
#: (distinct-linear). Matched by Catalyst expression class name —
#: aliases collapse to one class (array_agg → CollectList,
#: string_agg → ListAgg), and sketch-bounded siblings
#: (ApproximatePercentile, HyperLogLog, CountMinSketch) are distinct
#: classes that never match.
_VALUE_LINEAR_AGGS = frozenset({
    "CollectList", "ListAgg", "Percentile", "PercentileDisc", "Median",
})
_DISTINCT_LINEAR_AGGS = frozenset({"CollectSet", "Mode"})


def _buffer_per_key_fns(jexpr) -> list[str]:
    """Class names of buffer-per-key aggregate functions anywhere in
    this expression tree (aggregate expressions wrap the function in
    AggregateExpression/Alias nodes, so walk the whole tree)."""
    out: list[str] = []
    name = _simple_name(jexpr)
    if name in _VALUE_LINEAR_AGGS or name in _DISTINCT_LINEAR_AGGS:
        out.append(name)
    for c in _children(jexpr):
        out.extend(_buffer_per_key_fns(c))
    return out


def _window_frame_growing(jwexpr) -> bool:
    """True iff this window expression's frame can grow with the
    partition: an UNBOUNDED boundary, or a RANGE frame (a value-width
    frame holds unboundedly many rows under ties/density — the w10
    lesson). A ROWS frame with literal bounds caps the buffer at the
    frame length (a23's documented O(frame) memory) and returns
    False."""
    name = _simple_name(jwexpr)
    if name in ("UnboundedPreceding$", "UnboundedFollowing$"):
        return True
    if name == "SpecifiedWindowFrame":
        try:
            if _simple_name(jwexpr.frameType()) == "RangeFrame$":
                return True
        except Exception:
            return True  # unreadable frame: assume growing
    return any(_window_frame_growing(c) for c in _children(jwexpr))


def _funnel_finding(
    jnode, name: str, bounded_tables: Sequence[str], detail: str
) -> Finding | None:
    """Shared single-partition-funnel gate for both audit arms.
    ``Repartition`` (coalesce / repartition(n)) always carries an
    explicit count; ``RepartitionByExpression`` without one plans at
    the session default — read ``optNumPartitions()`` emptiness, NOT
    a numPartitions() exception: numPartitions() never throws (it
    falls back to spark.sql.shuffle.partitions, so under
    shuffle.partitions=1 a keyed repartition would false-flag)."""
    if name == "RepartitionByExpression":
        try:
            opt = jnode.optNumPartitions()
            n = opt.get() if not opt.isEmpty() else None
        except Exception:
            n = None
    else:
        try:
            n = jnode.numPartitions()
        except Exception:
            n = None
    if n == 1 and _reaches_raw_relation(jnode, bounded_tables):
        return Finding("single-partition-funnel", detail, _head(jnode))
    return None


#: Stateful streaming operators that manage their own state lifetime
#: (timeouts / timers) — outside the watermark rule. DOCUMENTATION,
#: not an enforcement gate: the rule's stateful predicate matches
#: only Aggregate/Deduplicate/stream-stream Join node names, so these
#: operators never reach it in the first place (a membership check
#: against this set inside the rule would be dead code — it was, and
#: a review pass removed it so no one extends the predicate assuming
#: the gate is load-bearing).
_SELF_MANAGED_STATE = {
    "FlatMapGroupsInPandasWithState",
    "FlatMapGroupsWithState",
    "TransformWithStateInPandas",
    "TransformWithState",
    "DeduplicateWithinWatermark",  # Spark itself enforces a watermark
}


def audit_stream_plan(
    df: DataFrame,
    bounded_tables: Sequence[str] = DEFAULT_BOUNDED_TABLES,
) -> list[Finding]:
    """Streaming arm of the audit: unbounded state is streaming's
    OOM-class broadcast. Walks the ANALYZED plan (a streaming frame
    refuses to optimize before ``writeStream.start()``) and flags
    stateful operators — grouped aggregates, dropDuplicates,
    stream-stream joins — whose input subtree carries NO
    ``EventTimeWatermark``: without one, keys/rows accumulate in the
    state store forever. Advisory by design — a complete-output-mode
    aggregate over a small key domain legitimately runs unwatermarked
    — and operators that manage their own state lifetime
    (applyInPandasWithState timeouts, transformWithState timers,
    dropDuplicatesWithinWatermark) are exempt. The
    ``single-partition-funnel`` rule applies on this arm too —
    ``coalesce(1)`` on a stream serializes every micro-batch through
    one task for the query's whole lifetime."""
    findings: list[Finding] = []
    if not df.isStreaming:
        return findings

    def has_watermark(jnode) -> bool:
        if _simple_name(jnode) == "EventTimeWatermark":
            return True
        return any(has_watermark(c) for c in _children(jnode))

    def visit(jnode) -> None:
        name = _simple_name(jnode)
        if name in ("Repartition", "RepartitionByExpression"):
            f = _funnel_finding(
                jnode, name, bounded_tables,
                "coalesce(1)/repartition(1) on a streaming frame "
                "— every micro-batch funnels through one task "
                "for the query's whole lifetime; collapse first "
                "or keep the session parallelism",
            )
            if f is not None:
                findings.append(f)
        stateful = (
            (name == "Aggregate" and jnode.groupingExpressions().size() > 0)
            or name == "Deduplicate"
            or (name == "Join" and all(
                c.isStreaming() for c in _children(jnode)
            ))
        )
        if stateful and not has_watermark(jnode):
            findings.append(Finding(
                "stateful-streaming-no-watermark",
                f"{name} over a streaming input with no "
                "EventTimeWatermark below it — state accumulates "
                "forever; withWatermark() bounds it (or use a "
                "timeout/timer-managed stateful operator)",
                _head(jnode),
            ))
        for c in _children(jnode):
            visit(c)

    visit(df._jdf.queryExecution().analyzed())
    return findings


def audit_plan(
    df: DataFrame,
    scale_multiplier: float = DEFAULT_SCALE_MULTIPLIER,
    budget_bytes: int = DEFAULT_BUDGET_BYTES,
    scalar_bytes: int = DEFAULT_SCALAR_BYTES,
    bounded_tables: Sequence[str] = DEFAULT_BOUNDED_TABLES,
    include_aggregates: bool = False,
    include_unbounded_agg: bool = False,
) -> list[Finding]:
    """Audit ``df``'s optimized logical plan for the scale-hazard
    classes of the round-12 broadcast-site audit; see the module
    docstring for each rule and its limits. Returns findings in plan
    order (possibly empty). Read-only — runs no job. Streaming frames
    dispatch to :func:`audit_stream_plan` (the batch rules need the
    optimized plan, which streaming refuses to produce unstarted)."""
    if df.isStreaming:
        return audit_stream_plan(df, bounded_tables=bounded_tables)
    findings: list[Finding] = []

    def visit(jnode, parent_name: str) -> None:
        name = _simple_name(jnode)
        if name == "Join":
            hint = jnode.hint()
            cond_empty = jnode.condition().isEmpty()
            sides = (
                (hint.leftHint(), jnode.left()),
                (hint.rightHint(), jnode.right()),
            )
            for side_hint, side in sides:
                if not _hint_is_broadcast(side_hint):
                    continue
                est = _est_bytes(side)
                if _reaches_raw_relation(side, bounded_tables):
                    scaled = est * scale_multiplier
                    if scaled > budget_bytes:
                        findings.append(Finding(
                            "forced-broadcast-raw-relation",
                            f"hinted side reaches a base-table "
                            f"relation uncollapsed; est {est} B × "
                            f"{scale_multiplier:g} = {scaled:.3g} B "
                            f"> budget {budget_bytes} B",
                            _head(side),
                        ))
                elif include_aggregates:
                    agg = _first_grouped_aggregate(side)
                    if agg is not None and est > scalar_bytes:
                        findings.append(Finding(
                            "forced-broadcast-aggregate",
                            f"hinted side is a grouped aggregate "
                            f"(est {est} B at audit scale — "
                            f"Catalyst cannot see the key domain; "
                            f"boundedness is a human judgment)",
                            _head(agg),
                        ))
            if cond_empty:
                l_est = _est_bytes(jnode.left())
                r_est = _est_bytes(jnode.right())
                # hazardous iff the PRODUCT can explode: both sides
                # non-scalar AND both growing with the data (reach a
                # raw relation uncollapsed). A literal lag table, a
                # sketch pair, or an ungrouped aggregate makes the
                # cross linear — the class-A idiom. Grouped-aggregate
                # sides count as collapsed here, the same human-
                # judgment boundary as the broadcast advisory.
                if (
                    l_est > scalar_bytes
                    and r_est > scalar_bytes
                    and _reaches_raw_relation(jnode.left(), bounded_tables)
                    and _reaches_raw_relation(jnode.right(), bounded_tables)
                ):
                    findings.append(Finding(
                        "cartesian",
                        f"condition-less join where BOTH sides grow "
                        f"with the data (est {l_est} B × {r_est} B)",
                        _head(jnode),
                    ))
        elif name == "Aggregate" and include_unbounded_agg:
            exprs = jnode.aggregateExpressions()
            fns: list[str] = []
            for i in range(exprs.size()):
                fns.extend(_buffer_per_key_fns(exprs.apply(i)))
            if fns:
                raw = any(
                    _reaches_raw_relation(c, bounded_tables)
                    for c in _children(jnode)
                )
                regime = (
                    "input reaches a raw relation uncollapsed — "
                    "per-key buffers grow with the data"
                    if raw else
                    "input is collapsed upstream — judge the "
                    "key-group domain, not the plan"
                )
                findings.append(Finding(
                    "unbounded-per-key-aggregate",
                    f"{'/'.join(sorted(set(fns)))} buffers per-key "
                    f"values in one executor's memory ({regime})",
                    _head(jnode),
                ))
        elif name in ("Repartition", "RepartitionByExpression"):
            f = _funnel_finding(
                jnode, name, bounded_tables,
                "coalesce(1)/repartition(1) over an uncollapsed "
                "base-table input — one task carries every row "
                "(and coalesce(1) de-parallelizes the whole fused "
                "stage above it); collapse first, then funnel the "
                "result rows",
            )
            if f is not None:
                findings.append(f)
        elif name == "Window":
            if include_unbounded_agg:
                we = jnode.windowExpressions()
                fns: list[str] = []
                for i in range(we.size()):
                    e = we.apply(i)
                    hit = _buffer_per_key_fns(e)
                    if hit and _window_frame_growing(e):
                        fns.extend(hit)
                if fns:
                    regime = (
                        "input reaches a raw relation uncollapsed — "
                        "per-key buffers grow with the data"
                        if _reaches_raw_relation(jnode, bounded_tables)
                        else "input is collapsed upstream — judge "
                        "the key-group domain, not the plan"
                    )
                    findings.append(Finding(
                        "unbounded-per-key-aggregate",
                        f"{'/'.join(sorted(set(fns)))} OVER a "
                        f"partition-growing frame (unbounded or "
                        f"RANGE) buffers the partition in one task's "
                        f"memory per row — the window spelling of "
                        f"the grouped-aggregate hazard; bounded ROWS "
                        f"frames cap the buffer and are exempt "
                        f"({regime})",
                        _head(jnode),
                    ))
            if jnode.partitionSpec().isEmpty() and _reaches_raw_relation(
                jnode, bounded_tables
            ):
                findings.append(Finding(
                    "global-window-raw",
                    "empty PARTITION BY over an uncollapsed "
                    "base-table input — one task orders the world; "
                    "collapse first (the dq4 distinct-value "
                    "discipline) or partition",
                    _head(jnode),
                ))
        elif name == "Sort":
            is_global = getattr(jnode, "global")()
            under_limit = parent_name in ("GlobalLimit", "LocalLimit")
            if is_global and not under_limit and _reaches_raw_relation(
                jnode, bounded_tables
            ):
                findings.append(Finding(
                    "global-sort-raw",
                    "global ORDER BY over an uncollapsed base-table "
                    "input with no limit — orderBy().limit() "
                    "(TakeOrderedAndProject) or collapse first",
                    _head(jnode),
                ))
        # a Project/alias between a limit and its sort is transparent
        # to the physical planner (the limit still pushes into
        # TakeOrderedAndProject) — keep it transparent to the
        # under-limit check too
        passthrough = name in ("Project", "SubqueryAlias")
        for c in _children(jnode):
            visit(c, parent_name if passthrough else name)

    # children() does not descend into SUBQUERY EXPRESSIONS (scalar /
    # IN / EXISTS subplans live in the expression tree), so a hinted
    # broadcast inside one is invisible to the main walk — caught by
    # the round-12 adversarial self-probe. Collect each tree node's
    # DIRECT subqueries (QueryPlan.subqueries — this node's
    # expressions only) across the popped plan and push those; their
    # own nested subqueries are collected when they are popped. Each
    # subquery plan is therefore pushed exactly once and no dedup set
    # is needed — the earlier subqueriesAll()+hashCode() version
    # deduped STRUCTURALLY (TreeNode.hashCode is structural, not JVM
    # identity), silently dropping findings from distinct but
    # structurally-equal subqueries (round-13 ADVICE, low).
    def _direct_subqueries(jnode) -> list:
        out = []
        seq = jnode.subqueries()
        for i in range(seq.size()):
            out.append(seq.apply(i))
        for c in _children(jnode):
            out.extend(_direct_subqueries(c))
        return out

    qe = df._jdf.queryExecution()
    work = [(qe.optimizedPlan(), "<root>")]
    while work:
        plan, parent = work.pop()
        visit(plan, parent)
        work.extend(
            (s, "<subquery>") for s in _direct_subqueries(plan)
        )

    # eval types only exist physically; sparkPlan() plans without
    # executing (pre-AQE — AQE never changes a Python eval node)
    phys = qe.sparkPlan().toString()
    if "BatchEvalPython" in phys:
        findings.append(Finding(
            "python-udf-row-batch",
            "pickled row-at-a-time Python UDF (BatchEvalPython) in "
            "the physical plan — use useArrow=True / pandas_udf / "
            "mapInPandas (ArrowEvalPython-class nodes) for the "
            "10-100x Arrow batch path",
            next(
                (ln.strip() for ln in phys.splitlines()
                 if "BatchEvalPython" in ln),
                "BatchEvalPython",
            )[:200],
        ))
    return findings

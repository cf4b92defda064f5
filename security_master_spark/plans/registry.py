"""Central registry mapping query names → (Spark callable, oracle SQL).

Contract (driver, ``__spark_entry__.py``): each callable takes
``(spark, sf_dir)`` and returns a lazy DataFrame; the driver collects
it at sf=0.01 and hash-compares against the oracle SQL run by DuckDB
on the same parquet (row-count + schema + order-insensitive
value-hash). Column names must match between both sides — alias
everything, both in the DataFrame code and the SQL.

Queries registered with ``oracle=None`` get the driver's weaker
rows-only check (reserved for genuinely non-SQL-expressible ops).
"""

from __future__ import annotations

from collections.abc import Callable
from typing import Optional

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

_QUERIES: dict[str, QueryFn] = {}
_ORACLES: dict[str, str] = {}


def register(name: str, oracle: Optional[str] = None) -> Callable[[QueryFn], QueryFn]:
    """Decorator: register a query under ``name`` with its oracle SQL."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in _QUERIES:
            raise ValueError(f"duplicate query name: {name}")
        _QUERIES[name] = fn
        if oracle is not None:
            _ORACLES[name] = oracle.strip()
        return fn

    return deco


def _load_all_plan_modules() -> None:
    # Import for registration side effects. queries()/oracle_sql() put
    # DRIVER_WINDOW first; the rest follow in the registration order
    # this import list sets.
    from security_master_spark.plans import (  # noqa: F401
        domain9,
        llm10,
        relational3,
        udfs3,
        sources_io7,
        aggregates5,
        llm11,
        domain10,
        domain11,
        domain12,
        llm12,
        graph2,
        udfs4,
        aggregates6,
        streaming_batch2,
        dataquality2,
        udfs5,
        sources_io8,
        scalars3,
        dataquality3,
        relational4,
        multimodal2,
        domain13,
        aggregates7,
        llm13,
        relational5,
        sources_io9,
        dataquality4,
        domain14,
        windows3,
        scalars4,
        domain15,
        llm14,
        domain16,
        llm15,
        domain17,
        streaming_batch3,
        relational6,
        domain18,
        sources_io10,
        domain19,
        domain20,
        windows4,
        aggregates8,
        dataquality5,
        llm16,
        relational7,
        multimodal3,
        domain21,
        scalars5,
        sources_io11,
        udfs6,
        domain22,
        graph3,
        sources_io12,
        aggregates9,
        llm17,
        udfs7,
        domain23,
        multimodal4,
        domain24,
        dataquality6,
        domain25,
        domain26,
        sources_io13,
        llm18,
        domain27,
        sources_io14,
        llm19,
        domain28,
        dataquality7,
        llm20,
        windows5,
        relational8,
        domain7,
        llm7,
        aggregates3,
        sources_io5,
        llm8,
        udfs2,
        sources_io6,
        scalars2,
        domain8,
        llm9,
        aggregates4,
        relational2,
        graph,
        dataquality,
        windows2,
        domain4,
        llm4,
        sources_io3,
        domain5,
        llm5,
        domain6,
        llm6,
        aggregates2,
        sources_io4,
        relational,
        windows,
        udfs,
        multimodal,
        streaming_batch,
        domain2,
        llm2,
        sources_io2,
        domain3,
        llm3,
        aggregates,
        scalars,
        domain,
        llm,
        sources_io,
    )

#: The driver's correctness harness checks the first 50 entries of
#: queries() each round, so this pin decides which plans earn fresh
#: driver evidence. Its body is the output of
#: ``python tools/evidence_age.py --stage`` (oldest evidence first,
#: then hash-green backfill); to rotate, paste the new output over it.
DRIVER_WINDOW: tuple[str, ...] = (
    # (1) the 36 r08-evidence rows, age order
    "a29_moment_shape_stats",
    "a30_bitmap_distinct",
    "dq13_completeness_grid",
    "dq14_staleness",
    "l65_minhash_calibration",
    "l66_ngram_coverage_curve",
    "q27_bag_set_ops",
    "q28_row_value_in_subquery",
    "m7_image_tiling",
    "d83_hurst_rs",
    "s26_binary_encoding",
    "io20_multiline_csv",
    "u14_apply_in_arrow",
    "d84_information_coefficient",
    "g6_kcore_peel",
    "io21_nested_json_roundtrip",
    "a31_ordered_set_aggregates",
    "l67_embedding_norm_audit",
    "u15_pandas_udaf_window",
    "d85_capture_ratios",
    "m8_audio_framing",
    "d86_volume_profile",
    "dq15_near_duplicate_events",
    "d87_cointegration_adf",
    "d88_overnight_intraday",
    "io22_tsv_dialect_roundtrip",
    "l68_dedup_cluster_profile",
    "d89_sign_autocorrelation",
    "io23_parquet_merge_schema",
    "l69_bpe_pair_stats",
    "d90_cross_sectional_momentum",
    "dq16_sequence_audit",
    "l70_lsh_precision_recall",
    "q29_not_in_null_trap",
    "a8_approx_count_distinct",
    "a12_freq_items_crosstab",
    # (2) backfill: the 14 oldest r09 hash-greens (weak/no_oracle
    # rows skipped — they rotate with their round's main body)
    "l46_fuzzy_name_join",
    "l47_embedding_covariance",
    "a25_approx_top_k",
    "l1_exact_dedup_groups",
    "l2_fingerprint_dedup",
    "l3_token_stats",
    "l4_jaccard_pairs",
    "l5_cosine_topk",
    "l6_knn_per_label",
    "l9_language_id",
    "l10_quality_scores",
    "l11_multimodal_join",
    "l12_ngram_fingerprint",
    "l13_ann_lsh_topk",
)


def _rotated(d: dict) -> dict:
    """Head-pinned order: DRIVER_WINDOW names first (in tuple order),
    everything else in registration order. Names in the pin that are
    absent from ``d`` (e.g. oracle-less queries when reordering
    ``_ORACLES``) are skipped."""
    head = [n for n in DRIVER_WINDOW if n in d]
    head_set = set(head)
    return {
        n: d[n] for n in (*head, *(k for k in d if k not in head_set))
    }


def queries() -> dict[str, QueryFn]:
    _load_all_plan_modules()
    return _rotated(_QUERIES)


def oracle_sql() -> dict[str, str]:
    _load_all_plan_modules()
    return _rotated(_ORACLES)

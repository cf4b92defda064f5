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

import importlib
import pkgutil
from collections.abc import Callable
from typing import Optional

from pyspark.sql import DataFrame, SparkSession

from security_master_spark import plans

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
    # Import every plan module for its register side effects, in sorted
    # name order. queries()/oracle_sql() put DRIVER_WINDOW first; the
    # rest follow in the registration order this sets.
    for info in sorted(pkgutil.iter_modules(plans.__path__), key=lambda m: m.name):
        if info.name != "registry":
            importlib.import_module(f"{plans.__name__}.{info.name}")


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

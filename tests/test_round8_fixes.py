"""Round-8 fix regressions: the configurable scratch root (round-7
verdict order #5 — the 100-TB lake-backed-scratch story must be code,
not a docstring).
"""

from __future__ import annotations

import os

from security_master_spark.plans.io_scratch import (
    SCRATCH_CONF_KEY,
    _root,
    _scratch,
)


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
    from security_master_spark.plans.sources_io10 import (
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


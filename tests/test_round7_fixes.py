"""Regression pins for the round-6 verdict/ADVICE items fixed in
round 7: the d77 volatility cone (the stub that crashed the round-6
driver bench), the decode_wav malformed-blob seam, the staging-sweep
tree-mtime age, and the schema-cache clear hook.
"""

from __future__ import annotations

import struct

import numpy as np
import pytest


# ---------------------------------------------------------------- d77


def test_d77_registered_callable_and_oracle_expanded():
    """The exact round-6 failure shape can never recur: d77 is a real
    (spark, sf_dir) callable and its oracle is expanded SQL."""
    import inspect

    from security_master_spark.plans import registry

    fn = registry.queries()["d77_volatility_cone"]
    inspect.signature(fn).bind("spark", "sf_dir")  # raises if stub-shaped
    sql = registry.oracle_sql()["d77_volatility_cone"]
    assert "PLACEHOLDER" not in sql and "{" not in sql
    assert "STDDEV_SAMP" in sql and "QUANTILE_CONT" in sql


def test_d77_cone_bands_are_ordered_and_full_window_only(spark, sf_dir):
    """Analytic invariants the hash can't see: per row, min <= p25 <=
    med <= p75 <= max; vols are non-negative; n_obs for horizon h is
    exactly (days_with_returns - h + 1) when positive — full windows
    only, one cone row per (series, horizon) with enough history."""
    from security_master_spark.functions.daily import (
        daily_closes,
        daily_returns,
    )
    from security_master_spark.plans import registry
    from security_master_spark.plans.domain18 import _CONE_H

    rows = (
        registry.queries()["d77_volatility_cone"](spark, sf_dir)
        .collect()
    )
    assert rows, "cone is empty at the oracle SF"
    for r in rows:
        assert r.vol_min >= 0.0
        assert (
            r.vol_min <= r.vol_p25 <= r.vol_med <= r.vol_p75 <= r.vol_max
        )
    counts = {
        (r.event_type,): n
        for r in daily_returns(daily_closes(spark, sf_dir))
        .groupBy("event_type")
        .count()
        .collect()
        for n in [r["count"]]
    }
    for r in rows:
        expected = counts[(r.event_type,)] - r.horizon + 1
        assert r.n_obs == expected > 0


# ------------------------------------------------------- decode_wav


def _wav(samples: np.ndarray, rate: int = 8000) -> bytes:
    from security_master_spark.multimodal.binary import encode_wav

    return encode_wav(samples, sample_rate=rate)


def test_wav_truncated_data_chunk_raises_not_clamps():
    """ADVICE round 6: a data chunk whose size field exceeds the
    buffer used to clamp silently via slicing — fewer samples than the
    header claims with no error. It must hit the ValueError seam."""
    from security_master_spark.multimodal.binary import decode_wav

    b = _wav(np.arange(8, dtype="<i2"))
    truncated = b[:-6]  # drop 3 samples' worth of payload
    with pytest.raises(ValueError, match="truncated"):
        decode_wav(truncated)


def test_wav_short_fmt_chunk_raises_valueerror_not_struct_error():
    """A fmt chunk shorter than 16 bytes previously escaped as
    struct.error; the documented seam is ValueError."""
    from security_master_spark.multimodal.binary import decode_wav

    s = np.zeros(4, dtype="<i2")
    good = _wav(s)
    # rebuild with an 8-byte fmt body (consistent chunk size field)
    fmt_body = good[20:28]
    data = good[44:]
    bad = (
        b"RIFF"
        + struct.pack("<I", 4 + 8 + 8 + 8 + len(data))
        + b"WAVE"
        + b"fmt "
        + struct.pack("<I", 8)
        + fmt_body
        + b"data"
        + struct.pack("<I", len(data))
        + data
    )
    with pytest.raises(ValueError, match="fmt chunk too short"):
        decode_wav(bad)


# ----------------------------------------------- staging sweep mtime


def test_sweep_ages_by_tree_max_mtime_not_topdir(tmp_path):
    """ADVICE round 6: a live writer streaming files into NESTED
    subdirectories does not bump the top-level staging dir's mtime; the
    sweep must age by the newest mtime anywhere in the tree, so a
    slow in-flight write is never reaped."""
    import os
    import time

    from security_master_spark.operators.merge import (
        sweep_orphaned_staging,
    )

    base = str(tmp_path)
    stale = tmp_path / "_staging" / "dead"
    live = tmp_path / "_staging" / "alive"
    (stale / "part=0").mkdir(parents=True)
    (live / "part=0").mkdir(parents=True)
    (stale / "part=0" / "f.parquet").write_bytes(b"x")
    (live / "part=0" / "f.parquet").write_bytes(b"x")

    old = time.time() - 7200
    # age EVERYTHING, then freshen only a nested file of the live dir —
    # its top-level mtime stays old (the failure mode under test)
    for root in (stale, live):
        for dirpath, dirnames, filenames in os.walk(root):
            for e in (*dirnames, *filenames):
                os.utime(os.path.join(dirpath, e), (old, old))
        os.utime(root, (old, old))
    fresh_file = live / "part=0" / "g.parquet"
    fresh_file.write_bytes(b"y")
    os.utime(live, (old, old))
    os.utime(live / "part=0", (old, old))

    removed = sweep_orphaned_staging(base, min_age_seconds=3600)
    assert [p.endswith("dead") for p in removed] == [True]
    assert live.exists() and not stale.exists()


# --------------------------------------------------- schema cache


def test_schema_cache_clear_hook(tmp_path, spark):
    """ADVICE round 6: rewriting a fixture in place with a different
    schema must be observable after clear_schema_cache() — the stale
    schema would otherwise NULL out renamed columns silently."""
    from security_master_spark import datasets

    d = str(tmp_path)
    spark.range(3).selectExpr("id AS a").write.parquet(f"{d}/t.parquet")
    assert datasets.load_table(spark, d, "t").columns == ["a"]

    import shutil

    shutil.rmtree(f"{d}/t.parquet")
    spark.range(3).selectExpr("id AS b").write.parquet(f"{d}/t.parquet")
    datasets.clear_schema_cache()
    assert datasets.load_table(spark, d, "t").columns == ["b"]
    datasets.clear_schema_cache()  # leave no stale tmp keys behind

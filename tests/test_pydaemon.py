"""The engine's Python worker daemon and the package zip it imports from.

``pydaemon.invalidate_caches`` must still pick up an archive that
changed, and must not re-read one that did not. The Spark test runs a
fresh process with PYTHONPATH unset, outside the repository, to check
which daemon each kind of session gets, that u2 still matches its
oracle under both, and that the package zip is gone once it exits.
"""

from __future__ import annotations

import importlib
import json
import os
import subprocess
import sys
import zipfile
import zipimport

from security_master_spark import pydaemon

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path, modules: dict[str, str]) -> None:
    tmp = f"{path}.tmp"
    with zipfile.ZipFile(tmp, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)
    os.replace(tmp, path)


def test_guard_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    archive = str(tmp_path / "probe.zip")
    _write_zip(archive, {"sms_pydaemon_probe_a": "VALUE = 'a'\n"})
    reads: list[str] = []
    read_directory = zipimport._read_directory

    def counting_read(path):
        reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", pydaemon.invalidate_caches)
    monkeypatch.syspath_prepend(archive)
    for name in ("sms_pydaemon_probe_a", "sms_pydaemon_probe_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    try:
        assert importlib.import_module("sms_pydaemon_probe_a").VALUE == "a"
        importlib.invalidate_caches()  # first sight: read once, stamp
        first = reads.count(archive)
        for _ in range(3):
            importlib.invalidate_caches()
        assert reads.count(archive) == first, "unchanged archive was re-read"

        _write_zip(
            archive,
            {"sms_pydaemon_probe_a": "VALUE = 'a'\n", "sms_pydaemon_probe_b": "VALUE = 'b'\n"},
        )
        importlib.invalidate_caches()
        assert reads.count(archive) == first + 1
        assert importlib.import_module("sms_pydaemon_probe_b").VALUE == "b"
    finally:
        sys.path_importer_cache.pop(archive, None)
        zipimport._zip_directory_cache.pop(archive, None)


_SPARK_SCRIPT = r"""
import json, sys
sys.path.insert(0, ROOT)
import pandas as pd
from pyspark.sql import SparkSession

import __spark_entry__ as entry
from security_master_spark.session import get_spark
from tests.oracle import compare

QUERY = "u2_pandas_scalar_udf"


def guard(spark):
    def probe(batches):
        import zipimport
        for _ in batches:
            yield pd.DataFrame({"m": [zipimport.zipimporter.invalidate_caches.__module__]})
    return spark.range(1, numPartitions=1).mapInPandas(probe, "m string").first()[0]


def run(spark):
    compare(spark, entry.queries()[QUERY], entry.oracle_sql()[QUERY], SF_DIR)
    return guard(spark)


# The driver's path first: a plain session built by the caller.
plain = SparkSession.builder.master("local[2]").config("spark.ui.enabled", "false").getOrCreate()
out = {"plain": run(plain)}
plain.stop()
out["engine"] = run(get_spark(master="local[2]", shuffle_partitions=2))
print("RESULT " + json.dumps(out))
"""


def test_daemon_only_for_engine_sessions_and_zip_removed_at_exit(tmp_path, sf_dir):
    tmp = tmp_path / "tmp"
    tmp.mkdir()
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(TMPDIR=str(tmp), SPARK_GRAFT_DRIVER_MEM="1g")
    script = f"ROOT = {ROOT!r}\nSF_DIR = {sf_dir!r}\n" + _SPARK_SCRIPT
    proc = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("RESULT ")]
    assert proc.returncode == 0 and lines, proc.stderr[-4000:]
    assert json.loads(lines[0][len("RESULT ") :]) == {
        "plain": "zipimport",
        "engine": "security_master_spark.pydaemon",
    }
    assert not list(tmp.glob("security_master_spark_*.zip"))

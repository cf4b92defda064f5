"""Scratch-path helper shared by the sources_io* plan modules.

Lives in its own module (no ``register`` side effects) so that
importing one plan module never transitively registers another's
queries — registration order is the driver's correctness window
(see registry._load_all_plan_modules).

The root is ONE config point (round-7 verdict order #5) so the
100-TB story — io-roundtrip payloads living on a lake-backed scratch
path (s3://…/tmp, hdfs://…/scratch) instead of local /tmp — is code,
not a docstring. Resolution order, dearest
first:

1. active SparkSession conf ``spark.sms.scratch.root`` (runtime-
   settable; how a cluster points at the lake),
2. env ``SPARK_GRAFT_SCRATCH_ROOT`` (how the bench/driver harness
   redirects without touching session confs),
3. ``/tmp/sms_io`` (the local[32] sandbox default).
"""

from __future__ import annotations

import os

SCRATCH_CONF_KEY = "spark.sms.scratch.root"
_DEFAULT_ROOT = "/tmp/sms_io"


def _root() -> str:
    try:  # active-session conf wins — the cluster-side config point
        from pyspark.sql import SparkSession

        spark = SparkSession.getActiveSession()
        if spark is not None:
            v = spark.conf.get(SCRATCH_CONF_KEY, None)
            if v:
                return v.rstrip("/")
    except Exception:  # pragma: no cover - session teardown races
        pass
    return os.environ.get("SPARK_GRAFT_SCRATCH_ROOT", _DEFAULT_ROOT).rstrip(
        "/"
    )


def _scratch(sf_dir: str, name: str) -> str:
    tag = os.path.basename(os.path.normpath(sf_dir)) or "sf"
    return f"{_root()}/{tag}/{name}"


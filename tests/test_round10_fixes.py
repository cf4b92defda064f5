"""Round-10 fixes: the tick_order_key domain guard and driver_sim's
--json argument validation (round-9 ADVICE items)."""

from __future__ import annotations

import importlib.util
import os

import pytest
from pyspark.sql import functions as F

from security_master_spark.functions.ordering import (
    tick_order_domain_violations,
)

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_tick_order_domain_violations_flags_out_of_contract_rows(spark):
    """functions/ordering.py: the zero-padded key silently mis-orders
    pre-epoch timestamps, negative ids, and ids ≥ 10^12; the guard
    must surface exactly those rows and pass in-domain ones."""
    df = spark.createDataFrame(
        [
            (1, "2024-01-01 00:00:00"),        # in-domain
            (10**12 - 1, "1970-01-01 00:00:00"),  # boundary, in-domain
            (10**12, "2024-01-01 00:00:00"),   # id too wide
            (-1, "2024-01-01 00:00:00"),       # negative id
            (2, "1969-12-31 23:59:59"),        # pre-epoch ts
            (None, "2024-01-01 00:00:00"),     # NULL id
        ],
        "event_id long, s string",
    ).select("event_id", F.col("s").cast("timestamp").alias("ts"))
    bad = tick_order_domain_violations(df, "ts", "event_id").collect()
    assert sorted(
        (str(r.event_id) if r.event_id is not None else "NULL")
        for r in bad
    ) == sorted([str(10**12), "-1", "2", "NULL"])
    ok = df.subtract(
        tick_order_domain_violations(df, "ts", "event_id")
    ).count()
    assert ok == 2


def _load_driver_sim():
    spec = importlib.util.spec_from_file_location(
        "driver_sim", os.path.join(_ROOT, "tools", "driver_sim.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_driver_sim_parse_argv_validates_json_flag():
    """tools/driver_sim.py (round-9 ADVICE): a trailing --json used to
    raise an uncaught IndexError and a reordered flag silently ate the
    first query name as its value — both must exit with usage now."""
    ds = _load_driver_sim()
    assert ds.parse_argv([]) == (None, None)
    assert ds.parse_argv(["q1", "q2"]) == (None, ["q1", "q2"])
    assert ds.parse_argv(["q1", "--json", "/tmp/x.json"]) == (
        "/tmp/x.json", ["q1"]
    )
    assert ds.parse_argv(["--json", "/tmp/x.json"]) == ("/tmp/x.json", None)
    with pytest.raises(SystemExit):
        ds.parse_argv(["q1", "--json"])  # missing value
    with pytest.raises(SystemExit):
        ds.parse_argv(["--json", "--json", "out"])  # flag as value
    with pytest.raises(SystemExit):
        ds.parse_argv(["--jsno", "out"])  # unknown flag, not a query

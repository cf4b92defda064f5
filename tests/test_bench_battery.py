"""The minimums-battery driver's pure merge logic: per-query minimum
across batteries, with the partial-battery guard (a battery missing a
query must fail loudly — silently merging would lower the floor for
exactly the queries it skipped) — plus the best-ever floor ledger's
CLI surface (numeric source ordering, unanchored-query reporting, the
median-normalized advisory column) — and tools/driver_sim.py's argv
validation. No Spark session needed."""

from __future__ import annotations

import importlib.util
import json
import os
import sys

import pytest

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load(name: str):
    spec = importlib.util.spec_from_file_location(
        name, os.path.join(_REPO, "tools", f"{name}.py")
    )
    mod = importlib.util.module_from_spec(spec)
    sys.modules.setdefault(name, mod)
    spec.loader.exec_module(mod)
    return mod


def _load_tool():
    return _load("bench_battery")


def test_merge_takes_per_query_minimums():
    tool = _load_tool()
    b1 = {"queries": {"q1": 1.0, "q2": 5.0, "q3": 2.2}}
    b2 = {"queries": {"q1": 1.5, "q2": 4.0, "q3": 2.2}}
    assert tool.merge_minimums([b1, b2]) == {
        "q1": 1.0,
        "q2": 4.0,
        "q3": 2.2,
    }


def test_merge_rejects_partial_batteries():
    tool = _load_tool()
    b1 = {"queries": {"q1": 1.0, "q2": 5.0}}
    b2 = {"queries": {"q1": 1.5}}
    with pytest.raises(ValueError, match="q2"):
        tool.merge_minimums([b1, b2])


def test_merge_rejects_empty_input():
    tool = _load_tool()
    with pytest.raises(ValueError):
        tool.merge_minimums([])


def test_single_battery_passthrough():
    tool = _load_tool()
    b1 = {"queries": {"q1": 1.0}}
    assert tool.merge_minimums([b1]) == {"q1": 1.0}


def test_zero_runs_rejected_before_any_probe(monkeypatch):
    """--runs 0 passes isdigit() but must exit at argument time — the
    old code recorded a host probe to HOST_PROBES.jsonl and THEN
    tracebacked in merge_minimums([]) (round-15 ADVICE, low)."""
    tool = _load_tool()
    ran: list[list[str]] = []
    monkeypatch.setattr(tool, "_run", lambda cmd: ran.append(cmd))
    with pytest.raises(SystemExit, match="--runs must be >= 1"):
        tool.main(["15", "--runs", "0"])
    assert ran == []  # no stray ledger entry


def test_zero_round_rejected(monkeypatch):
    tool = _load_tool()
    ran: list[list[str]] = []
    monkeypatch.setattr(tool, "_run", lambda cmd: ran.append(cmd))
    with pytest.raises(SystemExit, match="round must be >= 1"):
        tool.main(["0"])
    assert ran == []


# --- bench_floor.py: best-ever ledger CLI ---------------------------


def _write_mins(path, queries, **extra):
    payload = {"queries_min": queries, "sf": 0.1, **extra}
    with open(path, "w", encoding="utf-8") as f:
        json.dump(payload, f)


def test_floor_sources_sort_by_numeric_round(tmp_path, monkeypatch):
    """r100 must order AFTER r11, not lexicographically before it
    (round-15 ADVICE, low — misleading 'sources' in the payload)."""
    floor = _load("bench_floor")
    monkeypatch.setattr(floor, "_REPO", str(tmp_path))
    for rnd in (100, 11, 9, 12):
        _write_mins(
            tmp_path / f"BENCH_DETAIL_min_r{rnd}.json", {"q1": 1.0 / rnd}
        )
    best, honest, sources = floor.best_floors()
    assert sources == [
        "BENCH_DETAIL_min_r9.json",
        "BENCH_DETAIL_min_r11.json",
        "BENCH_DETAIL_min_r12.json",
        "BENCH_DETAIL_min_r100.json",
    ]
    assert best == {"q1": 1.0 / 100}
    # r11/r12 are frozen pre-clearCache names; r9/r100 are not, so the
    # honest-era map keeps their minimum only.
    assert honest == {"q1": 1.0 / 100}


def test_compare_tags_pre_clearcache_floors(tmp_path, monkeypatch, capsys):
    """A suspect anchored by a warm-cache-era floor must say so — the
    legacy minimum can sit structurally below every honest
    compute-from-parquet measurement (the round-15 g3 case: 0.86 s
    cached vs ~4.5 s honest), so the raw ratio alone would convict a
    methodology artifact. The honest-era ratio is printed when a
    post-fix battery has floored the query; queries anchored only by
    honest sources get NO tag."""
    floor = _load("bench_floor")
    monkeypatch.setattr(floor, "_REPO", str(tmp_path))
    # r11 = frozen pre-fix source; r16 = honest era
    _write_mins(
        tmp_path / "BENCH_DETAIL_min_r11.json",
        {"q_cached": 1.0, "q_pre_only": 1.0},
    )
    _write_mins(tmp_path / "BENCH_DETAIL_min_r16.json", {"q_cached": 4.0})
    _write_mins(
        tmp_path / "target.json", {"q_cached": 4.4, "q_pre_only": 1.05}
    )
    floor.main(["--compare", "target.json"])
    out = capsys.readouterr().out
    cached_line = next(l for l in out.splitlines() if "q_cached" in l)
    assert "pre-fix floor; honest-era 1.10x vs 4.000" in cached_line
    # honest-only anchors are untagged: make q_cached's floor honest
    _write_mins(tmp_path / "BENCH_DETAIL_min_r11.json", {"q_pre_only": 1.0})
    _write_mins(
        tmp_path / "target.json", {"q_cached": 6.0, "q_pre_only": 1.05}
    )
    floor.main(["--compare", "target.json"])
    out = capsys.readouterr().out
    cached_line = next(l for l in out.splitlines() if "q_cached" in l)
    assert "pre-fix" not in cached_line


def test_compare_tags_pre_fix_floor_without_honest_anchor(
    tmp_path, monkeypatch, capsys
):
    """No honest-era battery has floored the query yet: the tag must
    say there is no honest anchor rather than print a bogus ratio."""
    floor = _load("bench_floor")
    monkeypatch.setattr(floor, "_REPO", str(tmp_path))
    _write_mins(tmp_path / "BENCH_DETAIL_min_r11.json", {"q_cached": 1.0})
    _write_mins(tmp_path / "target.json", {"q_cached": 4.4})
    floor.main(["--compare", "target.json"])
    out = capsys.readouterr().out
    assert "pre-fix floor, no honest-era anchor yet" in out


def test_compare_reports_unanchored_queries(tmp_path, monkeypatch, capsys):
    """A target query absent from the ledger must be NAMED, not
    silently dropped from the ratio set (round-15 ADVICE, low)."""
    floor = _load("bench_floor")
    monkeypatch.setattr(floor, "_REPO", str(tmp_path))
    _write_mins(tmp_path / "BENCH_DETAIL_min_r11.json", {"q1": 1.0})
    _write_mins(
        tmp_path / "BENCH_DETAIL_min_r12.json",
        {"q1": 1.1, "q_new": 2.0},
    )
    # the target carries a query no committed battery has ever floored
    _write_mins(
        tmp_path / "target.json", {"q1": 1.2, "q_renamed": 3.0}
    )
    floor.main(["--compare", "target.json"])
    out = capsys.readouterr().out
    assert "q_renamed" in out
    assert "no best-ever floor" in out
    assert "median ratio vs best-ever: 1.200" in out


def test_compare_prints_median_normalized_outliers(
    tmp_path, monkeypatch, capsys
):
    """Round-14 verdict order #7: under a uniformly slow host (median
    1.5x here) a query at 3x raw is 2x NORMALIZED and must surface in
    the normalized section; the uniform riders (1.0x norm) must not."""
    floor = _load("bench_floor")
    monkeypatch.setattr(floor, "_REPO", str(tmp_path))
    _write_mins(
        tmp_path / "BENCH_DETAIL_min_r11.json",
        {"q_a": 1.0, "q_b": 1.0, "q_c": 1.0, "q_reg": 1.0},
    )
    _write_mins(
        tmp_path / "target.json",
        {"q_a": 1.5, "q_b": 1.5, "q_c": 1.5, "q_reg": 3.0},
    )
    floor.main(["--compare", "target.json"])
    out = capsys.readouterr().out
    assert "median-normalized outliers" in out
    norm_section = out.split("median-normalized outliers")[1]
    assert "q_reg" in norm_section
    assert "2.00x norm" in norm_section
    assert "q_a" not in norm_section  # uniform rider stays out
    # raw rule unchanged: q_reg is also a raw suspect at 3.00x
    raw_section = out.split("median-normalized outliers")[0]
    assert "q_reg" in raw_section and "3.00x raw" in raw_section
    # absolute excess printed for triage (round-15 finding: short-wall
    # floors are biased-low order statistics — ratios over-flag them;
    # a real regression moves seconds, and this column shows them)
    assert "+2.00s" in raw_section


def test_compare_zero_median_exits_instead_of_dividing(
    tmp_path, monkeypatch
):
    """Self-probe on the normalized column: an all-zero target battery
    makes the median 0; r / med must exit cleanly, not ZeroDivisionError."""
    floor = _load("bench_floor")
    monkeypatch.setattr(floor, "_REPO", str(tmp_path))
    _write_mins(tmp_path / "BENCH_DETAIL_min_r11.json", {"q_a": 1.0})
    _write_mins(tmp_path / "target.json", {"q_a": 0.0})
    with pytest.raises(SystemExit, match="median is 0"):
        floor.main(["--compare", "target.json"])


def test_compare_normalized_quiet_when_uniform(
    tmp_path, monkeypatch, capsys
):
    floor = _load("bench_floor")
    monkeypatch.setattr(floor, "_REPO", str(tmp_path))
    _write_mins(
        tmp_path / "BENCH_DETAIL_min_r11.json", {"q_a": 1.0, "q_b": 2.0}
    )
    _write_mins(tmp_path / "target.json", {"q_a": 1.4, "q_b": 2.8})
    floor.main(["--compare", "target.json"])
    out = capsys.readouterr().out
    assert "no query above 1.3x the battery median" in out


def test_driver_sim_parse_argv_validates_json_flag():
    """tools/driver_sim.py (round-9 ADVICE): a trailing --json used to
    raise an uncaught IndexError and a reordered flag silently ate the
    first query name as its value — both must exit with usage now."""
    ds = _load("driver_sim")
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

"""Result checks: every query output against its DuckDB oracle.

The views and the canonical form are the repository's own correctness
gate (``tests/oracle.py``): both sides go through pandas, columns are
ordered by name, floats rounded to ``FLOAT_DP`` decimals, timestamps
become naive ISO strings and rows are sorted. Two results agree when
column names, row count, per-column value kind and the sorted canonical
rows are equal.
"""

from __future__ import annotations

from tests.oracle import _canon_frame, duckdb_connection

connect = duckdb_connection


def canonical(df):
    """(column names, kinds, sorted canonical rows) of one result."""
    kinds, rows = _canon_frame(df)
    return list(kinds), kinds, rows


def diff(got, want) -> str | None:
    """Why two canonical results differ, or None when they agree."""
    g_cols, g_kinds, g_rows = got
    w_cols, w_kinds, w_rows = want
    if g_cols != w_cols:
        return f"columns {g_cols} != {w_cols}"
    if len(g_rows) != len(w_rows):
        return f"row count {len(g_rows)} != {len(w_rows)}"
    drift = {
        c: (g_kinds[c], w_kinds[c])
        for c in g_cols
        if g_kinds[c] != w_kinds[c] and "null" not in (g_kinds[c], w_kinds[c])
    }
    if drift:
        return f"value kinds differ {drift}"
    bad = [(a, b) for a, b in zip(g_rows, w_rows) if a != b]
    if bad:
        return f"{len(bad)} rows differ, first {bad[0]!r}"
    return None


def perturb(result):
    """A copy of a canonical result with one value changed; a working
    comparison must reject it."""
    cols, kinds, rows = result
    if not rows:
        return cols, kinds, [tuple("perturbed" for _ in cols)]
    first = list(rows[0])
    i = next((j for j, v in enumerate(first) if isinstance(v, (int, float))), 0)
    v = first[i]
    first[i] = v + 1 if isinstance(v, (int, float)) and not isinstance(v, bool) else f"{v}~"
    return cols, kinds, [tuple(first)] + rows[1:]

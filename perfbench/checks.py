"""Result comparison for the benchmark's correctness passes.

Every function returns ``None`` when the outputs agree and a one-line
description of the first disagreement otherwise, so a caller can count
failures, print why, and so the negative controls can show that a planted
wrong value is reported.
"""

from __future__ import annotations

import math

# Columns that are approximate by contract (percentile sketches): the same
# relative tolerance the repository's DuckDB-oracle test applies to q26.
APPROX_COLS = {"q26_stats": {"p50": 1e-3, "p90": 1e-3}}


def _canon_value(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # repr keeps the sign of zero: -0.0 and 0.0 must not compare equal
        return repr(round(v, 9))
    if isinstance(v, dict):
        v = list(v.values())
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon_value(x) for x in v) + "]"
    return repr(v)


def canon_row(row) -> tuple:
    return tuple(_canon_value(v) for v in row)


def canon_rows(rows) -> list[tuple]:
    return sorted(canon_row(r) for r in rows)


def same_rows(got, want) -> str | None:
    """Order-insensitive equality of two row lists (positional columns)."""
    g, w = canon_rows(got), canon_rows(want)
    if len(g) != len(w):
        return f"row count {len(g)} vs {len(w)}"
    for a, b in zip(g, w):
        if a != b:
            return f"first differing row {a} vs {b}"
    return None


def matches_oracle(name: str, cols: list[str], rows: list,
                   ocols: list[str], orows: list) -> str | None:
    """Spark result vs DuckDB oracle: columns matched by name, rows
    order-insensitive, exact after canonicalisation except ``APPROX_COLS``."""
    if sorted(cols) != sorted(ocols):
        return f"columns {sorted(cols)} vs oracle {sorted(ocols)}"
    if len(rows) != len(orows):
        return f"row count {len(rows)} vs oracle {len(orows)}"
    approx = APPROX_COLS.get(name, {})
    exact = [c for c in sorted(cols) if c not in approx]
    si = [cols.index(c) for c in exact]
    di = [ocols.index(c) for c in exact]
    skeys = [canon_row([r[i] for i in si]) for r in rows]
    dkeys = [canon_row([r[i] for i in di]) for r in orows]
    for a, b in zip(sorted(skeys), sorted(dkeys)):
        if a != b:
            return f"first differing row {a} vs oracle {b}"
    if not approx:
        return None
    if len(set(skeys)) != len(skeys):
        return "exact columns do not key rows uniquely"
    s_order = sorted(range(len(rows)), key=lambda i: skeys[i])
    d_order = sorted(range(len(orows)), key=lambda i: dkeys[i])
    for col, rtol in approx.items():
        sc, dc = cols.index(col), ocols.index(col)
        for s, d in zip(s_order, d_order):
            a, b = rows[s][sc], orows[d][dc]
            if (a is None) != (b is None):
                return f"{col}: {a} vs oracle {b}"
            if a is not None and abs(a - b) > rtol * max(abs(a), abs(b), 1e-12):
                return f"{col}: {a} vs oracle {b} beyond rel {rtol}"
    return None


def jaccard_pairs_hold(pairs: list, exact: dict, planted: list) -> str | None:
    """Property check for MinHash-LSH pairs, whose exact-graph oracle is out
    of scope: every emitted (a, b, jaccard) must be a pair the exact
    all-pairs computation keeps, with the same Jaccard, and every planted
    near-duplicate pair must be emitted."""
    seen = set()
    for a, b, j in pairs:
        want = exact.get((a, b))
        if want is None:
            return f"pair ({a}, {b}) is below the threshold by exact Jaccard"
        if _canon_value(j) != _canon_value(want):
            return f"pair ({a}, {b}) jaccard {j} vs exact {want}"
        seen.add((a, b))
    for a, b in planted:
        if (min(a, b), max(a, b)) not in seen:
            return f"planted near-duplicate pair ({a}, {b}) not emitted"
    return None

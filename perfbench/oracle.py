"""Result check against each query's DuckDB oracle.

Rows are compared as multisets: both sides are sorted by a normalised key,
then paired in order. Every non-float value must be equal. Floats (and
floats inside lists) must agree to within ``MAX_ULPS`` units in the last
place. A fixed number of printed decimals is not enough at x10: a sum of
about 5e10 has a ulp of 7.6e-6, so a decimal-to-double cast that is one
ulp off prints a different sixth decimal.
"""

from __future__ import annotations

import math
from collections.abc import Sequence

MAX_ULPS = 4


def floats_close(a: float, b: float, max_ulps: int = MAX_ULPS) -> bool:
    """True when ``a`` and ``b`` are within ``max_ulps`` ulps of the larger."""
    if math.isnan(a) or math.isnan(b):
        return math.isnan(a) and math.isnan(b)
    if math.isinf(a) or math.isinf(b):
        return a == b
    return abs(a - b) <= max_ulps * math.ulp(max(abs(a), abs(b)))


def values_match(a: object, b: object) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if isinstance(a, (int, float)) and isinstance(b, (int, float)):
            return floats_close(float(a), float(b))
        return False
    if isinstance(a, (list, tuple)) and isinstance(b, (list, tuple)):
        return len(a) == len(b) and all(values_match(x, y) for x, y in zip(a, b))
    return a == b


def _sort_key(row: Sequence) -> tuple:
    # Floats sort by value; None and NaN sort first. Other values sort by
    # their text, so mixed int/str/datetime columns never raise on compare.
    key = []
    for v in row:
        if v is None or (isinstance(v, float) and math.isnan(v)):
            key.append((0, 0.0, ""))
        elif isinstance(v, (int, float)) and not isinstance(v, bool):
            key.append((1, float(v), ""))
        else:
            key.append((2, 0.0, str(v)))
    return tuple(key)


def compare(
    got_cols: Sequence[str],
    got_rows: Sequence[Sequence],
    want_cols: Sequence[str],
    want_rows: Sequence[Sequence],
) -> list[str]:
    """Problems found comparing a result with its oracle (empty = match)."""
    if sorted(got_cols) != sorted(want_cols):
        return [f"columns {sorted(got_cols)} != oracle {sorted(want_cols)}"]
    if len(got_rows) != len(want_rows):
        return [f"{len(got_rows)} rows != oracle {len(want_rows)}"]
    order = sorted(want_cols)
    gi = [list(got_cols).index(c) for c in order]
    wi = [list(want_cols).index(c) for c in order]
    got = sorted((tuple(r[i] for i in gi) for r in got_rows), key=_sort_key)
    want = sorted((tuple(r[i] for i in wi) for r in want_rows), key=_sort_key)
    problems = []
    for n, (g, w) in enumerate(zip(got, want)):
        for col, a, b in zip(order, g, w):
            if not values_match(a, b):
                problems.append(f"row {n} column {col}: {a!r} != oracle {b!r}")
                break
        if len(problems) >= 3:
            break
    return problems


def duckdb_views(con, data_dir: str, tables: Sequence[str]) -> None:
    """Register each table's parquet file as a DuckDB view of that name."""
    for t in tables:
        con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")


def run_oracle(con, sql: str) -> tuple[list[str], list[tuple]]:
    res = con.execute(sql)
    return [d[0] for d in res.description], res.fetchall()

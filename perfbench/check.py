"""Output checks: order-insensitive comparison of an op's result with its
expected rows.

``normalize_cell`` and ``multiset`` mirror ``tools/verify_local.py`` (the
repository's Spark-vs-DuckDB gate) so the benchmark accepts exactly what
that gate accepts; they are copied, not imported, so the benchmark keeps
working if the tool script moves. One addition: timezone-aware datetimes
(Arrow returns Spark ``TIMESTAMP`` columns as UTC-aware) are compared as
naive UTC, the form ``collect()`` and DuckDB return under the UTC-pinned
session.
"""

from __future__ import annotations

import datetime as dt
import math

import pyarrow as pa


def normalize_cell(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return float(f"{v:.10g}")  # tolerate last-ulp formatting noise only
    if isinstance(v, dt.datetime) and v.tzinfo is not None:
        v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(normalize_cell(x) for x in v)
    return v


def multiset(cols, rows):
    """(sorted column names, sorted normalized rows in that column order)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(normalize_cell(r[i]) for i in order) for r in rows]
    return sorted(cols), sorted(out, key=repr)


def arrow_rows(table: pa.Table) -> list[tuple]:
    return list(zip(*(c.to_pylist() for c in table.columns))) if table.num_columns else []


class Expected:
    """The expected result of one op: column names and normalized rows,
    plus the first verified Arrow output, which later outputs are compared
    with first (a vectorized sort-and-compare) before falling back to the
    row-by-row multiset."""

    def __init__(self, cols, rows):
        self.cols, self.rows = multiset(list(cols), rows)
        self._verified: pa.Table | None = None

    def mismatch(self, table: pa.Table) -> str | None:
        """None when ``table`` matches, else a one-line reason."""
        if self._verified is not None and _canonical_equal(table, self._verified):
            return None
        cols, rows = multiset(table.column_names, arrow_rows(table))
        if cols != self.cols:
            return f"columns differ: got {cols}, expected {self.cols}"
        if len(rows) != len(self.rows):
            return f"row count differs: got {len(rows)}, expected {len(self.rows)}"
        if rows != self.rows:
            bad = next((a, b) for a, b in zip(rows, self.rows) if a != b)
            return f"values differ, first: got {bad[0]!r}, expected {bad[1]!r}"
        self._verified = table
        return None


def _canonical_equal(a: pa.Table, b: pa.Table) -> bool:
    if a.schema != b.schema or a.num_rows != b.num_rows:
        return False
    keys = [
        (f.name, "ascending")
        for f in a.schema
        if not pa.types.is_nested(f.type)
    ]
    if not keys:
        return a.equals(b)
    try:
        return a.sort_by(keys).equals(b.sort_by(keys))
    except (pa.ArrowNotImplementedError, pa.ArrowInvalid):
        return False

"""The one result comparator of the benchmark: two Arrow tables hold the same
rows when their columns have the same names and their rows are equal as
multisets, floats within the last digits (the engines sum doubles in
different orders, and an oracle's final ``round()`` can then land on either
side of a half-unit). The project's parity script does the same job; the
benchmark keeps its own copy so that it does not change with it."""

from __future__ import annotations

import datetime as dt
import decimal
import math

import pyarrow as pa


class Approx(float):
    """A float cell, compared with a relative tolerance."""


def _cell(v):
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return None
    if isinstance(v, (list, tuple)):
        return tuple(_cell(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _cell(x)) for k, x in v.items()))
    if isinstance(v, (float, decimal.Decimal)):
        return Approx(v)
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return ("t", v.isoformat())
    if isinstance(v, dt.date):
        return ("t", v.isoformat())
    if isinstance(v, bytes):
        return v.hex()
    return v


def _number(v) -> bool:
    return isinstance(v, (int, float)) and not isinstance(v, bool)


def _order(v):
    if _number(v):
        return f"{float(v):.6g}"
    if isinstance(v, tuple):
        return tuple(_order(x) for x in v)
    return v


def _close(a, b) -> bool:
    if (isinstance(a, Approx) or isinstance(b, Approx)) and _number(a) and _number(b):
        return math.isclose(a, b, rel_tol=1e-7, abs_tol=1e-9)
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_close(x, y) for x, y in zip(a, b))
    return a == b


def multiset(t: pa.Table) -> tuple[list[str], list[tuple]]:
    """Column names in order and the rows, normalised and sorted (numbers by
    their first six digits, so noise in the last ones cannot reorder rows;
    an integer and a float or decimal of the same value compare equal)."""
    cols = sorted(t.column_names)
    data = [t.column(c).to_pylist() for c in cols]
    rows = [tuple(_cell(v) for v in row) for row in zip(*data)] if data else []
    return cols, sorted(rows, key=lambda r: (repr(_order(r)), repr(r)))


def diff(got: pa.Table, want: pa.Table | tuple) -> str | None:
    """None when ``got`` holds the rows of ``want`` (a table, or its
    ``multiset``), else a one-line description."""
    a = multiset(got)
    b = want if isinstance(want, tuple) else multiset(want)
    if a[0] != b[0]:
        return f"columns {a[0]}, expected {b[0]}"
    if len(a[1]) != len(b[1]):
        return f"{len(a[1])} rows, expected {len(b[1])}"
    for i, (x, y) in enumerate(zip(a[1], b[1])):
        if not _close(x, y):
            return f"row {i} of {len(a[1])} differs: {x!r} vs {y!r}"[:300]
    return None

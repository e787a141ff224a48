"""Result comparison against DuckDB answers.

Rows are compared as multisets (or in order, for ordered results).
Integers and strings must match exactly; floating-point values within
a relative 1e-9, since Spark and DuckDB add in different orders.
Timestamps are compared as UTC instants.
"""

from __future__ import annotations

import math
from datetime import datetime, timezone

REL_TOL = 1e-9


def _norm(v):
    if hasattr(v, "item") and not isinstance(v, (str, bytes)):
        v = v.item()  # numpy scalar
    if isinstance(v, datetime):
        if v.tzinfo is None:
            v = v.replace(tzinfo=timezone.utc)
        return v.timestamp()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if hasattr(v, "tolist"):
        return tuple(_norm(x) for x in v.tolist())
    return v


def _sort_key(row):
    return tuple(
        (0, round(v, 6)) if isinstance(v, float) else (1, "") if v is None else (2, str(v))
        for v in row
    )


def _close(a, b) -> bool:
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_close(x, y) for x, y in zip(a, b))
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        if math.isnan(a) and math.isnan(b):
            return True
        return math.isclose(a, b, rel_tol=REL_TOL, abs_tol=1e-9)
    return a == b


def normalize(rows, ordered: bool = False) -> list[tuple]:
    out = [tuple(_norm(v) for v in row) for row in rows]
    return out if ordered else sorted(out, key=_sort_key)


def same_rows(got, want: list[tuple], ordered: bool = False) -> bool:
    """``want`` must already be ``normalize``d the same way."""
    got = normalize(got, ordered)
    return len(got) == len(want) and all(_close(a, b) for a, b in zip(got, want))

"""Output checks: a query's rows against its stored oracle result, and
an explore view's frame against the same plan computed directly.

Frames are compared as the repository's correctness tool compares them
(``tools/check_correctness.normalize``: sorted columns, floats rounded
to 6 decimals, order-insensitive rows), with numeric columns of mixed
integer/float kinds widened pairwise first.
"""

from __future__ import annotations

import os
import sys

import pandas as pd


def _normalize():
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if root not in sys.path:
        sys.path.insert(0, root)
    from tools.check_correctness import normalize

    return normalize


def same_rows(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """``None`` when the frames hold the same rows, else why not."""
    normalize = _normalize()
    s, o = normalize(got), normalize(want)
    for c in set(s.columns) & set(o.columns):
        kinds = {s[c].dtype.kind, o[c].dtype.kind}
        if kinds <= {"i", "f", "u"} and len(kinds) > 1:
            s[c] = s[c].astype("float64").round(6)
            o[c] = o[c].astype("float64").round(6)
    if list(s.columns) != list(o.columns):
        return f"columns {list(s.columns)} != {list(o.columns)}"
    if len(s) != len(o):
        return f"rows {len(s)} != {len(o)}"
    s = s.sort_values(by=list(s.columns)).reset_index(drop=True)
    o = o.sort_values(by=list(o.columns)).reset_index(drop=True)
    if not s.equals(o):
        bad = int(((s != o) & ~(s.isna() & o.isna())).any(axis=1).sum())
        return f"{bad}/{len(s)} rows differ"
    return None

"""Output checks.  They run on untimed passes; a mismatch counts as a
failed operation.

Pipeline outputs are compared row by row after sorting on a key; query
results are compared against DuckDB the way ``scripts/check_oracle.py``
does (row count, column set, order-insensitive values rounded to six
places).  Floats that the rounding puts on opposite sides of a boundary
are accepted when they agree to 1e-9 relative or to one step of that
rounding (1.5e-6 absolute, leaving room for float error).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

REL_TOL = 1e-9
ABS_TOL = 1.5e-6


def frames_equal(got: pd.DataFrame, exp: pd.DataFrame, key: list[str]) -> str | None:
    """None when equal, else a one-line description of the difference."""
    if sorted(got.columns) != sorted(exp.columns):
        return f"columns {sorted(got.columns)} vs {sorted(exp.columns)}"
    if len(got) != len(exp):
        return f"rowcount {len(got)} vs {len(exp)}"
    got = got.sort_values(key, kind="stable").reset_index(drop=True)
    exp = exp.sort_values(key, kind="stable").reset_index(drop=True)
    for c in got.columns:
        a, b = got[c], exp[c]
        if pd.api.types.is_float_dtype(a) and pd.api.types.is_float_dtype(b):
            ok = np.isclose(a.to_numpy(), b.to_numpy(), rtol=REL_TOL,
                            atol=0.0, equal_nan=True)
        else:
            ok = ((a == b) | (a.isna() & b.isna())).to_numpy()
        if not ok.all():
            i = int(np.argmin(ok))
            return f"column {c} differs in {int((~ok).sum())} rows, first: {a[i]!r} vs {b[i]!r}"
    return None


def _norm_cell(v):
    if v is None:
        return None
    if isinstance(v, float):
        return None if math.isnan(v) else round(v, 6)
    return v


def _sort_key(row):
    return tuple(
        (2, "") if x is None
        else (0, float(x)) if isinstance(x, (int, float)) and not isinstance(x, bool)
        else (1, str(x))
        for x in row)


def _cells_match(a, b) -> bool:
    if a == b:
        return True
    return (isinstance(a, float) and isinstance(b, (int, float))
            and math.isclose(a, b, rel_tol=REL_TOL, abs_tol=ABS_TOL))


def oracle_equal(got: pd.DataFrame, exp: pd.DataFrame) -> str | None:
    """Order-insensitive comparison of a Spark result with its DuckDB
    oracle.  None when equal, else a one-line description."""
    if len(got) != len(exp):
        return f"rowcount {len(got)} vs {len(exp)}"
    if sorted(got.columns) != sorted(exp.columns):
        return f"columns {sorted(got.columns)} vs {sorted(exp.columns)}"
    cols = sorted(got.columns)

    def rows(df):
        return sorted((tuple(_norm_cell(r[c]) for c in cols)
                       for _, r in df.iterrows()), key=_sort_key)

    bad = [(a, b) for a, b in zip(rows(got), rows(exp))
           if not all(_cells_match(x, y) for x, y in zip(a, b))]
    if bad:
        return f"values differ in {len(bad)}/{len(got)} rows, first: {bad[0]}"
    return None

"""Result checks: compare a program result with one computed apart from
the program (DuckDB), row for row, with a numeric tolerance.

Every function returns a list of problems; an empty list means the check
passed. Pure pandas, so the tests feed them hand-made results.
"""

from __future__ import annotations

import datetime as dt
import math
from decimal import Decimal

import numpy as np
import pandas as pd

REL_TOL = 1e-6
ABS_TOL = 1e-6


def _norm_value(v):
    """One comparable Python value per cell: numbers, booleans and times
    (as microseconds) as float, arrays as tuples, everything else as str.
    NaN reads as NULL: pandas turns a NULL float into NaN on either side."""
    if v is None or v is pd.NaT or v is pd.NA:
        return None
    if isinstance(v, (bool, np.bool_, int, float, np.integer, np.floating, Decimal)):
        f = float(v)
        return None if math.isnan(f) else f
    if isinstance(v, (pd.Timestamp, dt.datetime, np.datetime64)):
        ts = pd.Timestamp(v)
        if ts.tzinfo is not None:
            ts = ts.tz_convert("UTC").tz_localize(None)
        return float(ts.value // 1000)
    if isinstance(v, dt.date):
        return float(pd.Timestamp(v).value // 1000)
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(_norm_value(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((str(k), _norm_value(x)) for k, x in v.items()))
    return str(v)


def _rounded(v):
    """Sort form of a normalized value: floats rounded, so float noise
    cannot reorder rows."""
    if isinstance(v, float):
        return round(v, 4)
    if isinstance(v, tuple):
        return tuple(_rounded(x) for x in v)
    return v


def _column(s: pd.Series) -> tuple[np.ndarray, np.ndarray]:
    """(values, sort keys) of one column. Numbers and times become float64
    with NaN for NULL, so whole columns compare at once; anything else
    becomes an object array of normalized values."""
    if pd.api.types.is_datetime64_any_dtype(s):
        us = s.dt.tz_convert("UTC").dt.tz_localize(None) if s.dt.tz is not None else s
        v = us.to_numpy("datetime64[us]").astype("int64").astype("float64")
        v[s.isna().to_numpy()] = np.nan
        return v, v
    if pd.api.types.is_numeric_dtype(s):
        v = s.to_numpy("float64", na_value=np.nan)
        return v, np.round(v, 4)
    vals = [_norm_value(x) for x in s]
    if all(x is None or isinstance(x, float) for x in vals):
        v = np.array([np.nan if x is None else x for x in vals], dtype="float64")
        return v, np.round(v, 4)
    v = np.empty(len(vals), dtype=object)
    v[:] = vals
    return v, np.array([repr(_rounded(x)) for x in vals], dtype=object)


def _sorted_columns(df: pd.DataFrame, cols: list[str]) -> list[np.ndarray]:
    parts = [_column(df[c]) for c in cols]
    keys = pd.DataFrame({i: k for i, (_v, k) in enumerate(parts)})
    order = keys.sort_values(list(keys.columns), kind="mergesort",
                             na_position="first").index.to_numpy()
    return [v[order] for v, _k in parts]


def _close(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        return math.isclose(a, b, rel_tol=REL_TOL, abs_tol=ABS_TOL)
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_close(x, y) for x, y in zip(a, b))
    return a == b


def compare_frames(got: pd.DataFrame, want: pd.DataFrame, limit: int = 3) -> list[str]:
    """Same columns (by name), same row count, every cell equal (floats
    within REL_TOL/ABS_TOL), rows compared as sorted multisets."""
    gc, wc = sorted(got.columns), sorted(want.columns)
    if gc != wc:
        return [f"columns {gc} != expected {wc}"]
    if len(got) != len(want):
        return [f"{len(got)} rows != expected {len(want)}"]
    if not len(got):
        return []
    for c, g, w in zip(gc, _sorted_columns(got, gc), _sorted_columns(want, wc)):
        if g.dtype == np.float64 and w.dtype == np.float64:
            ok = np.isclose(g, w, rtol=REL_TOL, atol=ABS_TOL, equal_nan=True)
        else:
            ok = np.array([_close(_float_or(x), _float_or(y)) for x, y in zip(g, w)])
        if not ok.all():
            return [f"column {c}, sorted row {i}: {g[i]!r} != expected {w[i]!r}"
                    for i in np.flatnonzero(~ok)[:limit]]
    return []


def _float_or(v):
    """NaN in a float column meets None in an object column as NULL."""
    if isinstance(v, float) and math.isnan(v):
        return None
    return v


def check_topk(got: list, counts: dict, k: int) -> list[str]:
    """topK(k): ``got`` must list min(k, distinct values) distinct values in
    non-increasing count order, none counted less often than any value it
    left out (ties at the cut may be settled either way)."""
    got = list(got)
    if len(got) != len(set(got)):
        return [f"duplicate values in {got}"]
    if len(got) != min(k, len(counts)):
        return [f"{len(got)} values, expected {min(k, len(counts))}"]
    missing = [v for v in got if v not in counts]
    if missing:
        return [f"values {missing} do not occur"]
    cs = [counts[v] for v in got]
    if any(a < b for a, b in zip(cs, cs[1:])):
        return [f"counts {cs} not in descending order"]
    left_out = [c for v, c in counts.items() if v not in got]
    if left_out and max(left_out) > min(cs):
        return [f"a value counted {max(left_out)} times was left out for one counted {min(cs)}"]
    return []


def check_unique_keys(df: pd.DataFrame, keys: list[str]) -> list[str]:
    dup = int(df.duplicated(subset=keys).sum())
    return [f"{dup} duplicate key(s) on {keys}"] if dup else []


def check_no_match(df: pd.DataFrame, predicate) -> list[str]:
    n = int(predicate(df).sum())
    return [f"{n} row(s) still match the delete predicate"] if n else []

"""Output checks. Each returns a list of problems; empty means correct.

Expected values come from the generator (`gen`) or, for registered
queries, from the DuckDB oracle over the same parquet inputs.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

CLEAN_COLUMNS = ("time", "depth", "latitude", "longitude", "temperature", "salinity")


def check_table(expected: dict, got: pd.DataFrame) -> list[str]:
    """Loaded rows must equal the generator's rows exactly, in any order."""
    if sorted(got.columns) != sorted(CLEAN_COLUMNS):
        return [f"columns {sorted(got.columns)}"]
    n = len(expected["time"])
    if len(got) != n:
        return [f"rows: got {len(got)}, expected {n}"]
    got = got.sort_values(["latitude", "longitude", "time"], kind="mergesort")
    problems = []
    for c in CLEAN_COLUMNS:
        g = got[c].to_numpy()
        if c == "time":
            g = g.astype("datetime64[us]")
        bad = int(np.count_nonzero(g != expected[c]))
        if bad:
            i = int(np.flatnonzero(g != expected[c])[0])
            problems.append(f"{c}: {bad} values differ (first: got {g[i]!r}, "
                            f"expected {expected[c][i]!r})")
    return problems


def check_series(expected: dict, got: list[tuple]) -> list[str]:
    """A (time, temperature, salinity) series for one cell, in time order."""
    want = list(zip(expected["time"].astype("datetime64[us]").tolist(),
                    expected["temperature"].tolist(), expected["salinity"].tolist()))
    got = [(np.datetime64(t, "us").tolist(), temp, sal) for t, temp, sal in got]
    if len(got) != len(want):
        return [f"series rows: got {len(got)}, expected {len(want)}"]
    for i, (g, w) in enumerate(zip(got, want)):
        if g != w:
            return [f"series row {i}: got {g}, expected {w}"]
    return []


def check_equal(what: str, got, want) -> list[str]:
    return [] if got == want else [f"{what}: got {got!r}, expected {want!r}"]


# -- registered queries against the DuckDB oracle --------------------------

def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1).copy()
    for c in df.columns:
        s = df[c]
        if str(s.dtype).startswith("datetime64"):
            if getattr(s.dt, "tz", None) is not None:
                s = s.dt.tz_convert("UTC").dt.tz_localize(None)
            df[c] = s.astype("datetime64[us]")
        elif s.dtype == object:
            df[c] = s.map(_canon_value)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def _canon_value(v):
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(_canon_value(x) for x in v)
    if hasattr(v, "as_tuple"):  # decimal.Decimal
        return float(v)
    return v


def compare_frames(got: pd.DataFrame, oracle: pd.DataFrame) -> list[str]:
    """Same columns, same row count, and every value exactly equal after an
    order-insensitive sort (floats compared bit-for-bit, NaN equal NaN)."""
    if sorted(got.columns) != sorted(oracle.columns):
        return [f"columns: got {sorted(got.columns)}, oracle {sorted(oracle.columns)}"]
    if len(got) != len(oracle):
        return [f"rows: got {len(got)}, oracle {len(oracle)}"]
    g, o = _canon(got), _canon(oracle)
    problems = []
    for c in g.columns:
        gv, ov = g[c], o[c]
        numeric = {gv.dtype.kind, ov.dtype.kind} <= {"i", "u", "f", "b"}
        if numeric and "f" in (gv.dtype.kind, ov.dtype.kind):
            eq = np.asarray((gv.astype(float) == ov.astype(float)) | (gv.isna() & ov.isna()))
        else:
            eq = np.asarray([(a == b) or (pd.isna(a) and pd.isna(b))
                             for a, b in zip(gv.tolist(), ov.tolist())], dtype=bool)
        if not eq.all():
            i = int(np.flatnonzero(~eq)[0])
            problems.append(f"{c}: {int((~eq).sum())} values differ "
                            f"(row {i}: got {gv.iloc[i]!r}, oracle {ov.iloc[i]!r})")
    return problems

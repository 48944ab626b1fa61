"""Output checks: a step's result against its expected frame.

Rows are matched order-insensitively: both frames are sorted on every
column, then compared column by column. Floats compare with a relative
tolerance, because the timed steps run the engine's fast (double)
arithmetic while the DuckDB oracles are exact.
"""

from __future__ import annotations

import decimal

import numpy as np
import pandas as pd

REL_TOL = 1e-6
ABS_TOL = 1e-9


def _normalise(s: pd.Series) -> pd.Series:
    """Numbers as float64 or int64, everything else as object."""
    if s.dtype.kind in "iub":
        return s.astype(np.int64) if s.dtype.kind != "b" else s
    if s.dtype.kind == "f":
        return s.astype(np.float64)
    if s.dtype == object and s.map(
            lambda v: isinstance(v, decimal.Decimal)).any():
        return s.map(lambda v: None if v is None else float(v)).astype(
            np.float64)
    return s


def frame_diff(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when ``got`` matches ``want``, else a one-line reason."""
    gc, wc = sorted(got.columns), sorted(want.columns)
    if gc != wc:
        return f"columns {gc} != {wc}"
    if len(got) != len(want):
        return f"{len(got)} rows, expected {len(want)}"
    # sort keys: floats at float32 precision so tolerance-sized
    # differences sort alike; the exact values are compared afterwards
    def keyed(df):
        df = pd.DataFrame({c: _normalise(df[c]) for c in wc}).reset_index(
            drop=True)
        key = pd.DataFrame({c: df[c].astype(np.float32)
                            if df[c].dtype.kind == "f" else df[c]
                            if df[c].dtype.kind in "iub"
                            else df[c].astype(str) for c in wc})
        order = key.sort_values(wc, kind="stable").index.to_numpy()
        return df.iloc[order].reset_index(drop=True)
    g, w = keyed(got), keyed(want)
    for c in wc:
        a, b = g[c], w[c]
        if a.dtype.kind == "f" or b.dtype.kind == "f":
            ok = np.isclose(a.astype(np.float64), b.astype(np.float64),
                            rtol=REL_TOL, atol=ABS_TOL, equal_nan=True)
        else:
            ok = ((a.astype(str) == b.astype(str))
                  | (a.isna() & b.isna())).to_numpy()
        if not ok.all():
            i = int(np.argmin(ok))
            return (f"{c}: {a.iloc[i]!r} != expected {b.iloc[i]!r} "
                    f"(row {g.iloc[i].to_dict()})")
    return None

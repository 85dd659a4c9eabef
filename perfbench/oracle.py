"""Order-insensitive comparison of engine output with a DuckDB oracle.

Cells are compared in a canonical string form: floats by ``repr`` (the
engine's aggregates are bitwise deterministic), timestamps at midnight as
dates, NULL and NaN alike.
"""

from __future__ import annotations

import datetime as dt
import math

import pandas as pd


def _canon(v) -> str:
    if v is None or v is pd.NaT:
        return "∅"
    if isinstance(v, float):
        return "∅" if math.isnan(v) else repr(v)
    if isinstance(v, pd.Timestamp):
        if v.tzinfo is not None:
            v = v.tz_convert("UTC").tz_localize(None)
        v = v.to_pydatetime()
    if isinstance(v, dt.datetime):
        if v.time() == dt.time(0, 0) and v.microsecond == 0:
            return v.date().isoformat()
        return v.isoformat(sep=" ")
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, int):
        return str(v)
    try:
        if pd.isna(v):
            return "∅"
    except (TypeError, ValueError):
        pass
    return str(v)


def _rows(pdf: pd.DataFrame) -> list[str]:
    frame = pdf[sorted(pdf.columns)]
    return sorted("\x1f".join(_canon(v) for v in r)
                  for r in frame.itertuples(index=False, name=None))


def mismatch(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when the frames hold the same rows, else a short reason."""
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    if len(got) != len(want):
        return f"{len(got)} rows != {len(want)}"
    a, b = _rows(got), _rows(want)
    if a != b:
        diff = next((x, y) for x, y in zip(a, b) if x != y)
        return f"values differ, first: {diff}"
    return None

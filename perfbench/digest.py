"""Order-insensitive canonical form of a result frame.

Spark's toPandas() and DuckDB's .df() disagree on dtypes (int32 vs int64,
nullable ints as float64, numpy vs Python scalars) while the values are
bit-identical, so both sides are reduced to one string per row: columns in
name order, integral values as integers, other floats by repr (exact),
nulls and NaN as one token. Rows are sorted, so row order never matters.
"""

from __future__ import annotations

import hashlib
import math

import pandas as pd


def _canon(v) -> str:
    if hasattr(v, "item") and not isinstance(v, (bytes, str)):
        try:
            v = v.item()
        except ValueError:  # numpy array cell
            v = v.tolist()
    if v is None or v is pd.NA:
        return "~"
    if isinstance(v, bool):
        return "T" if v else "F"
    if isinstance(v, float):
        if math.isnan(v):
            return "~"
        if v.is_integer() and abs(v) < 2 ** 53:
            return str(int(v))
        return repr(v)
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    return str(v)


def canonical_rows(df: pd.DataFrame) -> list[str]:
    cols = sorted(df.columns)
    return sorted("|".join(_canon(v) for v in row)
                  for row in df[cols].itertuples(index=False, name=None))


def frame_digest(df: pd.DataFrame) -> str:
    h = hashlib.sha1(",".join(sorted(df.columns)).encode())
    for row in canonical_rows(df):
        h.update(row.encode())
        h.update(b"\n")
    return h.hexdigest()


def frames_match(a: pd.DataFrame, b: pd.DataFrame) -> str | None:
    """None when a and b hold the same rows, else a one-line reason."""
    if sorted(a.columns) != sorted(b.columns):
        return f"columns {sorted(a.columns)} != {sorted(b.columns)}"
    if len(a) != len(b):
        return f"rowcount {len(a)} != {len(b)}"
    ra, rb = canonical_rows(a), canonical_rows(b)
    for i, (x, y) in enumerate(zip(ra, rb)):
        if x != y:
            return f"row {i}: {x[:120]} != {y[:120]}"
    return None

"""Order-insensitive digest of a result frame, for comparing a Spark
result with its DuckDB oracle without sorting either side.

Each row becomes a tuple of exact, type-preserving cell values (columns
in name order; timestamps as integer microseconds; arrays and structs as
tuples; NULL and NaN as None), is hashed with BLAKE2b, and the row
hashes are summed modulo 2**64, so the digest ignores row order but
counts duplicate rows. Integers and floats stay distinct, as in the
suite's own oracle comparison.
"""

from __future__ import annotations

import hashlib
import math

import numpy as np
import pandas as pd


def _cell(v):
    if v is None:
        return None
    if isinstance(v, np.ndarray):
        return tuple(_cell(x) for x in v.tolist())
    if isinstance(v, (list, tuple)):
        return tuple(_cell(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _cell(x)) for k, x in v.items()))
    if isinstance(v, np.generic):
        v = v.item()
    if isinstance(v, float) and math.isnan(v):
        return None
    if isinstance(v, pd.Timestamp):
        return int(v.value // 1000)
    return v


def _column(s: pd.Series) -> list:
    if pd.api.types.is_datetime64_any_dtype(s):
        us = s.astype("datetime64[us]")
        return [None if null else v
                for v, null in zip(us.astype("int64").tolist(), us.isna().tolist())]
    return [_cell(v) for v in s.tolist()]


def frame_digest(pdf: pd.DataFrame) -> str:
    cols = [_column(pdf[c]) for c in sorted(pdf.columns)]
    total = 0
    for row in zip(*cols):
        h = hashlib.blake2b(repr(row).encode(), digest_size=8).digest()
        total = (total + int.from_bytes(h, "little")) % (1 << 64)
    return f"{','.join(sorted(pdf.columns))}:{total:016x}"

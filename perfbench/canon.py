"""Order-insensitive digest of a query result.

Spark's ``toPandas()`` and DuckDB's ``.df()`` of the same result give the
same digest: columns are taken in sorted order, every cell is written in
one canonical text form (floats rounded to 9 places, NaN and None as
NULL, a timestamp at midnight as its date) and the rows are sorted before
hashing.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import math

import pandas as pd


def canon_cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        return "NULL" if math.isnan(v) else repr(round(v, 9))
    if isinstance(v, (pd.Timestamp, dt.datetime)):
        if isinstance(v, pd.Timestamp) and v.tzinfo is not None:
            v = v.tz_convert("UTC").tz_localize(None)
        if v.hour == v.minute == v.second == v.microsecond == 0:
            return v.strftime("%Y-%m-%d")
        return v.isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if pd.api.types.is_scalar(v) and pd.isna(v):
        return "NULL"
    return str(v)


def digest(df: pd.DataFrame) -> str:
    cols = sorted(df.columns)
    rows = sorted("\x1f".join(canon_cell(v) for v in row) for row in df[cols].itertuples(index=False))
    h = hashlib.sha256("\x1f".join(cols).encode())
    for r in rows:
        h.update(b"\x1e" + r.encode())
    return h.hexdigest()

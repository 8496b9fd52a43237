"""Order-insensitive digest of a query result.

Values are canonicalised the way ``tests/oracle_harness.py`` compares
them (floats rounded to 9 places, NaN and lists made comparable,
columns sorted by name) so that a Spark result and its DuckDB oracle
give the same digest. Integral floats become ints, because pandas
turns an integer column with nulls into floats on one side and not
always on the other; NaN, None and pandas NA all become None.
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import math


def canon(v):
    if v is None:
        return None
    if hasattr(v, "item") and not isinstance(v, (list, tuple, dict)) \
            and getattr(v, "ndim", 0) == 0:
        v = v.item()  # numpy / pandas scalar
    if v is None:
        return None
    if isinstance(v, bool):
        return v
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return None
        if v.is_integer() and abs(v) < 2**53:
            return int(v)
        return round(v, 9)
    if isinstance(v, int):
        return v
    if isinstance(v, (str, bytes)):
        return v
    if isinstance(v, (dt.datetime, dt.date)):
        return v.isoformat()
    if isinstance(v, dict):
        return tuple(sorted((str(k), canon(x)) for k, x in v.items()))
    if hasattr(v, "tolist"):
        v = v.tolist()
    if isinstance(v, (list, tuple)):
        return tuple(canon(x) for x in v)
    try:
        import pandas as pd

        if v is pd.NA or v is pd.NaT:
            return None
        if isinstance(v, pd.Timestamp):
            return v.isoformat()
    except ImportError:  # pragma: no cover
        pass
    return repr(v)


def digest(pdf) -> dict:
    """Row count and sha256 of the sorted canonical rows of a pandas
    DataFrame (columns taken in name order)."""
    cols = sorted(pdf.columns)
    rows = sorted(
        repr(tuple(canon(v) for v in row))
        for row in pdf[cols].itertuples(index=False, name=None)
    )
    h = hashlib.sha256()
    h.update(repr(cols).encode())
    for r in rows:
        h.update(r.encode())
        h.update(b"\n")
    return {"rows": len(rows), "sha256": h.hexdigest()}

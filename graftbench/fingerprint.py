"""Result fingerprints under graft's cross-engine rounding contract.

A fingerprint is (row count, SHA-256 of the normalized rows). Rows are
normalized the way the repo's DuckDB oracle compare does it: columns
sorted by name, rows in emitted order, doubles rounded to 6 places,
timestamps as epoch microseconds, NaN as null. Integral numbers hash the
same whether an engine typed them as int or float, so the hash agrees
exactly where that compare finds the rows equal.
"""
import calendar
import hashlib
import math

import pandas as pd


def _cell(v):
    if v is None:
        return "N"
    if isinstance(v, bool):
        return "T" if v else "F"
    if isinstance(v, pd.Timestamp):
        return "t%d" % (v.value // 1000)
    if hasattr(v, "timetuple") and not isinstance(v, (int, float, str)):
        if getattr(v, "tzinfo", None) is not None:
            return "t%d" % int(v.timestamp() * 1_000_000)
        micros = getattr(v, "microsecond", 0)
        return "t%d" % (calendar.timegm(v.timetuple()) * 1_000_000 + micros)
    if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
        return "[" + ",".join(_cell(x) for x in v) + "]"
    if isinstance(v, (str, bytes)):
        return "s" + repr(v)
    if hasattr(v, "item") and not isinstance(v, (int, float)):
        return _cell(v.item())  # numpy scalar
    if isinstance(v, float):
        if math.isnan(v):
            return "N"
        v = round(v, 6)
        if v == int(v) and abs(v) < 2 ** 53:
            return "i%d" % int(v)
        return "f" + repr(v)
    if isinstance(v, int):
        return "i%d" % v
    try:
        if pd.isna(v):
            return "N"
    except (TypeError, ValueError):
        pass
    return "o" + repr(v)


def fingerprint(df):
    """(rows, sha256 hex) of a pandas DataFrame."""
    df = df[sorted(df.columns)]
    h = hashlib.sha256()
    h.update(("|".join(df.columns) + "\n").encode())
    rows = 0
    for row in df.itertuples(index=False):
        h.update(("\x1f".join(_cell(v) for v in row) + "\n").encode())
        rows += 1
    return rows, h.hexdigest()


def parquet_fingerprint(qdir):
    """Fingerprint of a one-part parquet directory written by the harness."""
    import pyarrow.parquet as pq
    parts = sorted(qdir.glob("*.parquet"))
    if len(parts) != 1:
        raise ValueError(f"{qdir.name}: expected 1 part file, got {len(parts)}")
    return fingerprint(pq.read_table(parts[0]).to_pandas())

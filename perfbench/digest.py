"""Order-independent digest of a query result.

Two results digest equal when they hold the same multiset of rows over
the same column names, whatever the row or column order and whichever
engine produced them:

* columns are sorted by name and rows are sorted by their canonical text;
* numbers compare by value, not type: the int 5, the float 5.0 and
  Decimal("5.00") all read "5"; a non-integral float keeps 12
  significant digits, so sums that differ only in their last bits
  (summation order across partitions) still agree;
* a NULL reads "<null>" and a NaN "<nan>"; nested lists, structs, maps
  and binary values are canonicalised element by element.
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import math
from collections.abc import Iterable, Mapping, Sequence

FLOAT_DIGITS = 12


def canon(v) -> str:
    """Canonical text of one value."""
    if v is None:
        return "<null>"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "<nan>"
        if math.isinf(v):
            return "inf" if v > 0 else "-inf"
        if v.is_integer() and abs(v) < 1e15:
            return str(int(v))
        return format(v, f".{FLOAT_DIGITS}g")
    if isinstance(v, decimal.Decimal):
        if v.is_nan():
            return "<nan>"
        if v == v.to_integral_value():
            return str(int(v))
        return canon(float(v))
    if isinstance(v, str):
        return repr(v)
    if isinstance(v, (bytes, bytearray, memoryview)):
        return "0x" + bytes(v).hex()
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat(sep=" ")
    if isinstance(v, dt.date):
        return v.isoformat()
    if hasattr(v, "asDict"):  # a Spark struct reads like a mapping
        v = v.asDict()
    if isinstance(v, Mapping):
        items = sorted((canon(k), canon(x)) for k, x in v.items())
        return "{" + ",".join(f"{k}:{x}" for k, x in items) + "}"
    if isinstance(v, Sequence) or hasattr(v, "tolist"):
        seq = v.tolist() if hasattr(v, "tolist") else v
        return "[" + ",".join(canon(x) for x in seq) + "]"
    return repr(v)


def canon_rows(columns: Sequence[str], rows: Iterable[Sequence]) -> list[str]:
    """Sorted canonical text of each row, columns in name order."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return sorted("|".join(canon(r[i]) for i in order) for r in rows)


def digest(columns: Sequence[str], rows: Iterable[Sequence]) -> str:
    """Hex digest of a result given its column names and rows."""
    h = hashlib.sha256()
    h.update(("|".join(sorted(columns)) + "\n").encode())
    for line in canon_rows(columns, rows):
        h.update(line.encode() + b"\n")
    return h.hexdigest()[:32]


def frame_digest(df) -> tuple[str, int]:
    """(digest, row count) of a Spark DataFrame, collected to the driver."""
    rows = df.collect()
    return digest(df.columns, rows), len(rows)

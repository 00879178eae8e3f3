"""Order-insensitive result hashes, shared by the benchmark and by
``make_expected.py``.

A result is reduced to its sorted column names plus its rows, each row
laid out in sorted-column order and the rows sorted by ``repr``. Cells
follow the differential tests' normalisation: floats compare
bit-exactly through ``repr`` (``NaN`` as a string), and nested values
(Spark ``Row`` structs, DuckDB struct dicts, lists, maps) become
tuples. The same function hashes a Spark ``collect()`` and a DuckDB
``fetchall()``, so the hashes in ``expected.json`` come straight from
each query's DuckDB oracle.
"""

from __future__ import annotations

import datetime as _dt
import decimal
import hashlib
import math

from pyspark.sql import Row


def _cell(v):
    if v is None or isinstance(v, (bool, int, str)):
        return v
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, decimal.Decimal):
        return format(v.normalize(), "f") if v == v else "NaN"
    if isinstance(v, Row):
        return tuple(sorted((k, _cell(x)) for k, x in v.asDict().items()))
    if isinstance(v, dict):
        return tuple(sorted(((str(k), _cell(x)) for k, x in v.items()), key=repr))
    if isinstance(v, (list, tuple)):
        return tuple(_cell(x) for x in v)
    if isinstance(v, (bytes, bytearray, memoryview)):
        return bytes(v).hex()
    if isinstance(v, (_dt.datetime, _dt.date, _dt.time)):
        return v.isoformat()
    return repr(v)


def result_hash(columns, rows) -> str:
    """sha256 over sorted column names and the sorted canonical rows."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    canon = sorted(
        (repr(tuple(_cell(row[i]) for i in order)) for row in rows)
    )
    h = hashlib.sha256(repr(sorted(columns)).encode())
    for line in canon:
        h.update(b"\n")
        h.update(line.encode())
    return h.hexdigest()

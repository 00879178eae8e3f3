"""Batch source-format parity: read/write any catalog table as
parquet, CSV, or JSONL with one schema-enforced reader.

Two rules that matter at 100 TB:

- **Schemas are declared, never inferred.** Inference costs a full
  extra pass over the data (CSV/JSON sample scans) and silently
  drifts types between runs; the reader here requires the schema and
  applies it at scan time, so projection pruning still works (text
  formats can't skip columns on disk, but the parse stops mapping
  unrequested fields).
- **Corrupt rows quarantine, not crash.** Text sources run PERMISSIVE
  with a ``_corrupt_record`` column; callers split on it (the same
  DLQ discipline as the streaming bronze path).

Parquet stays the canonical lake format (columnar pruning, predicate
pushdown, page stats); CSV/JSONL exist for interchange — land them in
bronze, convert once, query parquet.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.types import StringType, StructField, StructType

_TS_FMT = "yyyy-MM-dd HH:mm:ss.SSSSSS"

_CORRUPT = "_corrupt_record"


def write_table(df: DataFrame, path: str, fmt: str) -> None:
    """Write (overwrite) a table in the named format (parquet|orc|csv|jsonl)."""
    w = df.write.mode("overwrite")
    if fmt == "parquet":
        w.parquet(path)
    elif fmt == "orc":
        # the second columnar lake format Spark ships natively: same
        # pruning/pushdown story as parquet (stripe + row-group stats)
        w.orc(path)
    elif fmt == "csv":
        w.option("header", True).option("timestampFormat", _TS_FMT).csv(path)
    elif fmt in ("json", "jsonl"):
        w.option("timestampFormat", _TS_FMT).json(path)
    else:
        raise ValueError(f"unknown format {fmt!r}")


def read_table(
    spark,
    path: str,
    fmt: str,
    schema: StructType,
    keep_corrupt: bool = False,
) -> DataFrame:
    """Schema-enforced read of a table in the named format.

    Text formats parse PERMISSIVE into ``_corrupt_record``;
    ``keep_corrupt=True`` retains that column for DLQ splitting,
    otherwise clean rows are returned and corrupt ones dropped.
    (Spark disallows filtering ONLY on ``_corrupt_record`` straight
    off a raw text scan — cache() the frame before splitting.)
    """
    if fmt == "parquet":
        return spark.read.schema(schema).parquet(path)
    if fmt == "orc":
        return spark.read.schema(schema).orc(path)
    if fmt not in ("csv", "json", "jsonl"):
        raise ValueError(f"unknown format {fmt!r}")
    text_schema = StructType(
        list(schema.fields) + [StructField(_CORRUPT, StringType(), True)]
    )
    r = (
        spark.read.schema(text_schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", _CORRUPT)
        .option("timestampFormat", _TS_FMT)
    )
    if fmt == "csv":
        out = r.option("header", True).csv(path)
    else:
        out = r.json(path)
    if keep_corrupt:
        return out
    # cache() before the corrupt-null split: without it, a downstream
    # query that prunes every data column (e.g. .count()) makes the
    # required schema corrupt-column-only, which Spark disallows for
    # CSV/JSON (AnalysisException) — and pruning can also change which
    # rows parse as corrupt under PERMISSIVE. The cache pins the fully
    # parsed frame; acceptable because text sources are interchange
    # inputs read once and converted to parquet, not the hot path.
    out = out.cache()
    return out.filter(out[_CORRUPT].isNull()).drop(_CORRUPT)

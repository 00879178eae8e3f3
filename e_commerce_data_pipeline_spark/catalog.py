"""Typed loaders for the driver-provided test tables.

Tables (TESTDATA.md): region nation customer supplier part orders
lineitem events documents embeddings — one parquet file each under
``/root/testdata/sf{0.001,0.01,0.1}/``.

The ``events`` table is stored with parquet TIMESTAMP(NANOS); Spark has
no nanosecond timestamp type, so we read it as a raw long
(``nanosAsLong``) and truncate to microseconds — byte-identical to what
DuckDB sees when it reads the same file (DuckDB's TIMESTAMP is µs).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .session import configure_existing

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimension tables small enough for an UNCONDITIONAL broadcast hint:
# bounded cardinality regardless of scale factor. part and customer are
# deliberately NOT here — they grow with the fact side (sf x 200k / sf
# x 150k), so hinting them would disable AQE's size check and turn into
# a driver OOM at 100x instead of a quiet shuffle-join fallback; AQE
# still broadcasts them at bench scale on its own (plan-tested).
BROADCAST_DIMS = ("region", "nation", "supplier")

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


# Session-scoped logical-plan cache: rebuilding a query re-reads
# parquet footers and re-runs the dtype probe (~70 ms/table via py4j);
# across a 130-query bench that is tens of seconds of pure driver-side
# overhead. DataFrames are immutable logical plans, so reuse is safe;
# keyed by applicationId so a new session never sees another's plans.
_TABLE_CACHE: dict[tuple[str, str, str], DataFrame] = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one test table with engine-canonical types."""
    key = (spark.sparkContext.applicationId, sf_dir, name)
    cached = _TABLE_CACHE.get(key)
    if cached is not None:
        return cached
    configure_existing(spark)
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        df = _canonical_events_ts(df)
    _TABLE_CACHE[key] = df
    return df


def _canonical_events_ts(df: DataFrame) -> DataFrame:
    """Normalize the events ``ts`` column to TIMESTAMP, whichever
    parquet encoding the file carries (batch and streaming frames
    alike; the session must already be configured)."""
    ts_type = dict(df.dtypes).get("ts")
    if ts_type == "bigint":
        # TIMESTAMP(NANOS) read as long; truncate ns -> µs with
        # integer division (double division would lose precision at
        # 1.7e18).
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if ts_type == "timestamp_ntz":
        # TIMESTAMP(MICROS, isAdjustedToUTC=false): the naive local
        # value IS what DuckDB exposes; with the session pinned to
        # UTC the cast re-labels the same instant as TIMESTAMP so
        # unix_micros() returns the raw stored micros.
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def open_events_stream(spark: SparkSession, path: str) -> DataFrame:
    """A bounded readStream over an events parquet table with the same
    canonical ``ts`` as ``load_table``.

    ``path`` may be a single parquet file or a directory of part-files
    (the events table has been delivered in both layouts). The
    file stream source lists directories, so a single file streams its
    parent filtered down to that file name; a directory streams
    directly — the same filter on a directory name matches no leaf
    part-file and the stream would silently drain empty."""
    configure_existing(spark)  # nanosAsLong before schema inference
    reader = spark.readStream.schema(spark.read.parquet(path).schema)
    if not os.path.isdir(path):
        path, fname = os.path.split(os.path.abspath(path))
        reader = reader.option("pathGlobFilter", fname)
    return _canonical_events_ts(reader.parquet(path))

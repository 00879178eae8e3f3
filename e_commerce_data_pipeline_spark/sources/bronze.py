"""Bronze layer: gzip JSON-Lines, Hive time-partitioned (SURVEY S4-S6).

Reference behavior reproduced (/root/reference/data/lake_writer.py):
- gzip JSONL objects under ``topic/year=/month=/day=/hour=`` keys
  (:118-141) — but partitioned by **event** time, not arrival time
  (the reference's ``datetime.utcnow()`` at :125 is called out in
  SURVEY S5 as a defect we fix);
- micro-batch semantics live in the streaming job (W4); a batch
  write emits up to tasks x hours files (each input partition writes
  the hours it holds) unless ``one_file_per_partition`` pre-shuffles
  on the partition keys — the small-file control for backfills.

Scale notes: partition columns are derived, written with
``partitionBy`` so reads prune on year/month/day/hour; compaction of
small files is ``compact_partitions`` (read -> repartition -> rewrite),
the OPTIMIZE-style job from SURVEY §4.3.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

PARTITION_COLS = ("year", "month", "day", "hour")


def with_time_partitions(df: DataFrame, ts_col: str = "timestamp") -> DataFrame:
    """Derive Hive partition columns from event time."""
    return (
        df.withColumn("year", F.year(ts_col))
        .withColumn("month", F.month(ts_col))
        .withColumn("day", F.dayofmonth(ts_col))
        .withColumn("hour", F.hour(ts_col))
    )


def write_bronze(
    df: DataFrame,
    path: str,
    ts_col: str = "timestamp",
    mode: str = "append",
    one_file_per_partition: bool = False,
) -> None:
    """Write gzip JSONL partitioned by event-time year/month/day/hour.

    ``one_file_per_partition`` hash-repartitions on the partition
    columns first so every ``hour=`` directory is written by exactly
    one task — the small-file control for batch backfills (without
    it, every input partition holding rows for an hour emits its own
    file: up to tasks x hours files per write)."""
    out = with_time_partitions(df, ts_col)
    if one_file_per_partition:
        out = out.repartition(*[F.col(c) for c in PARTITION_COLS])
    (
        out.write.mode(mode)
        .option("compression", "gzip")
        .partitionBy(*PARTITION_COLS)
        .json(path)
    )


def read_bronze(
    spark: SparkSession, path: str, schema: StructType
) -> DataFrame:
    """Typed bronze read: explicit schema (never inferSchema), partition
    columns come back from the directory layout and are dropped so the
    frame matches the declared event schema."""
    full = spark.read.schema(_with_partition_fields(schema)).json(path)
    return full.drop(*PARTITION_COLS)


def _with_partition_fields(schema: StructType) -> StructType:
    from pyspark.sql.types import IntegerType, StructField

    fields = list(schema.fields) + [
        StructField(c, IntegerType(), True) for c in PARTITION_COLS
    ]
    return StructType(fields)


def bronze_catalog_stats(spark: SparkSession, path: str) -> DataFrame:
    """S10 lake-catalog stats: per partition, file count + total bytes.

    Spark-native replacement for the reference's paginated S3 listing
    (lake_writer.py:244-286): list files via the input_file_name of a
    text scan (no JSON parse), aggregate per directory.
    """
    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.json.gz")
        .option("recursiveFileLookup", "false")
        .load(path + "/*/*/*/*")
        .select(
            F.input_file_name().alias("file"),
            F.col("length").alias("bytes"),
        )
    )
    part = F.regexp_extract(
        "file", r"(year=\d+/month=\d+/day=\d+/hour=\d+)", 1
    ).alias("partition")
    return (
        files.select(part, "bytes")
        .groupBy("partition")
        .agg(
            F.count(F.lit(1)).alias("file_count"),
            F.sum("bytes").alias("total_bytes"),
            F.round(F.sum("bytes") / F.lit(1024.0 * 1024.0), 2).alias("total_size_mb"),
        )
    )


def compact_partitions(
    spark: SparkSession,
    path: str,
    schema: StructType,
    out_path: str,
) -> None:
    """Small-file compaction: read -> one file per partition -> rewrite."""
    df = spark.read.schema(_with_partition_fields(schema)).json(path)
    (
        df.repartition(1, *PARTITION_COLS)
        .write.mode("overwrite")
        .option("compression", "gzip")
        .partitionBy(*PARTITION_COLS)
        .json(out_path)
    )

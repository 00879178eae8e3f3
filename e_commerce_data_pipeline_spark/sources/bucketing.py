"""Bucketed tables: co-located joins without a shuffle (SURVEY §4.2 /
§7 step 8 "bucketing for co-located joins").

At 100 TB the dominant cost of a fact-fact join (lineitem⋈orders,
clicks⋈orders) is shuffling both sides by the key on every query.
Writing both tables bucketed (and sort-ordered) by the join key makes
the join a zero-shuffle sort-merge: each task reads matching bucket
files from both sides. The write pays the shuffle once; every
downstream join rides it.

Spark specifics: bucketing metadata lives in the catalog, so bucketed
tables go through ``saveAsTable`` (a path-based parquet write loses
the bucket spec). Bucket counts should be chosen so each bucket is
100-500 MB at the target scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str,
    n_buckets: int,
) -> None:
    (
        df.write.mode("overwrite")
        .bucketBy(n_buckets, bucket_col)
        .sortBy(bucket_col)
        .format("parquet")
        .saveAsTable(table)
    )


def bucketed_join(
    spark: SparkSession, left_table: str, right_table: str, key: str
) -> DataFrame:
    """Inner-join two tables bucketed on ``key``; with matching bucket
    counts Catalyst plans a sort-merge join with NO Exchange on either
    side."""
    return spark.table(left_table).join(spark.table(right_table), key)

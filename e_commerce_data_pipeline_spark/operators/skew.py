"""Skew-handling utilities (SURVEY §7 step 8: "skew handling on
user_id").

AQE's skew-join splitting covers sort-merge joins automatically; these
utilities cover the cases it doesn't:

- ``salted_aggregate``: two-phase aggregation for skewed group keys —
  partial aggregate on (key, salt), final aggregate on key. Spark's
  built-in partial aggregation already does this for algebraic
  aggregates; the explicit form is for aggregations where the partial
  state is large per key (e.g. collect-style) or when a downstream
  join needs the salted layout.
- ``salted_join``: replicate the small side R times, salt the big
  side's key uniformly — turns one hot key's single reducer into R
  reducers. For when the "small" side is too big to broadcast but the
  big side has hot keys.
- ``key_skew_profile``: measure skew before deciding (top-k key
  frequencies + share of total), cheap single aggregation.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def key_skew_profile(df: DataFrame, key_col: str, top_k: int = 10) -> DataFrame:
    """Top-k hottest keys and their share of all rows."""
    counts = df.groupBy(key_col).agg(F.count(F.lit(1)).alias("n"))
    total = counts.agg(F.sum("n").alias("total"))
    return (
        counts.crossJoin(F.broadcast(total))
        .withColumn("share", F.col("n") / F.col("total"))
        .orderBy(F.desc("n"), F.asc(key_col))
        .limit(top_k)
        .select(key_col, "n", F.round("share", 6).alias("share"))
    )


def with_salt(df: DataFrame, n_salts: int, salt_col: str = "__salt") -> DataFrame:
    """Uniform deterministic salt derived from a whole-row hash."""
    return df.withColumn(
        salt_col,
        F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]), F.lit(n_salts)).cast("int"),
    )


def salted_join(
    big: DataFrame,
    small: DataFrame,
    key: str,
    n_salts: int = 8,
) -> DataFrame:
    """Inner equi-join with the big side salted and the small side replicated.

    Each big-side row gets one of ``n_salts`` buckets; every small-side
    row is exploded into all buckets, so the join key (key, salt)
    spreads a hot key over ``n_salts`` reducers at the cost of
    replicating the small side.
    """
    salted_big = with_salt(big, n_salts)
    replicated_small = small.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(n_salts)]))
    )
    joined = salted_big.join(replicated_small, [key, "__salt"])
    return joined.drop("__salt")


def salted_aggregate(
    df: DataFrame,
    key: str,
    n_salts: int,
    partial_aggs: list[Column],
    final_aggs: list[Column],
) -> DataFrame:
    """Two-phase aggregation: groupBy(key, salt) -> groupBy(key).

    ``partial_aggs`` run per (key, salt); ``final_aggs`` merge the
    partials per key and must reference the partial alias names.
    """
    salted = with_salt(df, n_salts)
    partial = salted.groupBy(key, "__salt").agg(*partial_aggs)
    return partial.groupBy(key).agg(*final_aggs)

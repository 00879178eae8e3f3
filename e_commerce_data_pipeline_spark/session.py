"""SparkSession construction tuned for the engine.

Design notes (100 TB posture):
- AQE on: runtime coalescing of shuffle partitions, skew-join splitting,
  and dynamic broadcast selection replace hand-tuned plans.
- ``spark.sql.shuffle.partitions`` defaults to the local core count here;
  on a real cluster it should be ~2-3x total executor cores (AQE coalesces
  down, it cannot split a too-small number except for skew).
- Arrow enabled so any pandas interchange (pandas_udf, toPandas) is
  columnar-batched instead of row-pickled.
- ``nanosAsLong`` because the events table carries TIMESTAMP(NANOS),
  which Spark has no native type for; :mod:`catalog` converts to
  microsecond timestamps (matching DuckDB's read behavior exactly).
- Generated code stays compiled across queries. Spark keeps compiled
  whole-stage and expression classes in an LRU of
  ``spark.sql.codegen.cache.maxEntries`` entries, 100 by default. One
  pass of the 26 ``olap_star`` queries generates ~250 classes and a
  ``bench.py`` session (sf0.001 warm-up plus the sf0.1 measured pass)
  ~2.6k distinct ones, so at the default every pass evicted and
  recompiled all of them, and each recompiled class ran interpreted
  again before the JIT caught up. ``_CODEGEN_CACHE_ENTRIES`` holds the whole suite with
  headroom; the cost is metaspace and heap for the cached classes
  (CHANGES.md has the measured numbers). The conf is static: it goes
  into the builder only, so ``configure_existing`` cannot apply it to
  a session built elsewhere (the correctness driver's), which keeps
  Spark's default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Conf applied at build time AND re-applied (where dynamic) by
# `configure_existing` when the driver hands us a pre-built session.
_DYNAMIC_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # TIMESTAMP(MICROS, isAdjustedToUTC=false) parquet (the current
    # events table encoding) would otherwise read as TIMESTAMP_NTZ,
    # which watermarks/unix_micros reject; with NTZ inference off the
    # stored micros load as TIMESTAMP whose epoch equals what DuckDB
    # exposes (session tz is pinned to UTC below).
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # dims up to 32 MB get broadcast; region/nation/customer/part/supplier
    # are all far below this at every SF we target per-executor.
    "spark.sql.autoBroadcastJoinThreshold": str(32 * 1024 * 1024),
    "spark.sql.session.timeZone": "UTC",
    # InferFiltersFromGenerate synthesizes size(arr)>0/isnotnull
    # filters under every explode and PushDownPredicates then inlines
    # the full array-building expression into them (twice) — for
    # computed arrays (shingles, grams, chunk windows) that re-runs
    # the tokenizer per row per predicate BELOW the repartition
    # barrier: measured 50.8 s -> 1.4 s on winnowing and -26% on the
    # shingle join family at sf0.1. The rule only ever pays when the
    # generator input is a STORED column (pushable to the scan),
    # which no operator here generates from.
    "spark.sql.optimizer.excludedRules": (
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"
    ),
}


# Codegen cache size (static conf, builder only): a full bench.py
# session compiled 2573 distinct classes (2238 in the sf0.001 warm-up,
# 335 more in the sf0.1 measured pass; 2791 counting the anchor probes,
# retries and drains), so 4096 leaves ~1.5x headroom.
_CODEGEN_CACHE_ENTRIES = 4096


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def get_spark(app_name: str = "e-commerce-pipeline-spark") -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults."""
    cpus = default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries", str(_CODEGEN_CACHE_ENTRIES))
    )
    for k, v in _DYNAMIC_CONF.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    configure_existing(spark)
    return spark


def configure_existing(spark: SparkSession) -> SparkSession:
    """Apply the engine's dynamic SQL conf to an externally built session.

    The correctness driver constructs its own SparkSession and passes it
    in; every entry point routes through here so behavior is identical.
    """
    for k, v in _DYNAMIC_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # static conf on a live session - keep going, defaults are sane
            pass
    return spark

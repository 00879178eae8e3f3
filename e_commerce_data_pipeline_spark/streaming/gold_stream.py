"""Streaming gold layer: incrementally maintained business aggregates
(the reference's declared Gold "business-ready aggregations",
lake_writer.py:13-21, kept fresh by the stream instead of an hourly
batch).

Pattern: foreachBatch computes the micro-batch's partial aggregate,
merges it with the current gold table, and atomically swaps the result
in (write to a staging dir, rename over the live dir). Merging partial
aggregates works because the gold metrics are algebraic (sums/counts
keyed by date+category) — the same partial-aggregation property the
batch engine relies on.

Delivery: foreachBatch is AT-LEAST-ONCE — a batch replayed after a
crash between the swap and the checkpoint commit would re-merge and
double-count. The additive merge is made idempotent by persisting the
last applied batch id *inside* the gold directory (``_last_batch_id``,
ignored by parquet readers, swapped atomically with the data) and
skipping any batch id <= it. Single writer assumed; a crash between
the two swap renames (live dir briefly absent) is repaired on the next
merge by restoring the ``.old`` directory. On a lakehouse runtime the
swap+marker is replaced by a transactional Delta/Iceberg MERGE INTO
keyed on txn/batch id.

Revenue is accumulated as integer thousandths (``revenue_mils``) so
repeated merges stay exact — summing doubles would drift with merge
order and count.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

GOLD_KEYS = ("event_date", "category")


def _batch_revenue(order_events: DataFrame) -> DataFrame:
    """Partial gold aggregate for one micro-batch of order events."""
    lines = order_events.select(
        F.to_date("timestamp").alias("event_date"), F.explode("items").alias("item")
    )
    revenue = (
        F.col("item.quantity")
        * F.col("item.unit_price")
        * (F.lit(1.0) - F.coalesce(F.col("item.discount_pct"), F.lit(0.0)) / 100.0)
    )
    return lines.groupBy(
        "event_date", F.col("item.category").alias("category")
    ).agg(
        F.sum(F.round(revenue * 1000).cast("long")).alias("revenue_mils"),
        F.sum("item.quantity").cast("long").alias("units"),
        F.count(F.lit(1)).alias("n_lines"),
    )


_MARKER = "_last_batch_id"  # "_"-prefixed: invisible to parquet readers


def _last_applied_batch(gold_path: str) -> int:
    try:
        with open(os.path.join(gold_path, _MARKER)) as fh:
            return int(fh.read().strip())
    except (OSError, ValueError):
        return -1


def merge_gold_revenue(
    batch_df: DataFrame, gold_path: str, batch_id: int | None = None
) -> None:
    """Merge one batch's partial aggregate into the gold table
    (read-merge-swap; MERGE INTO on a lakehouse runtime).

    Idempotent under at-least-once replay: the last applied batch id is
    stored inside the table directory and swapped atomically with the
    data; a replayed ``batch_id <= last`` is a no-op.
    """
    spark = batch_df.sparkSession
    old = gold_path + ".old"
    # crash repair: a previous run that died between the two swap
    # renames leaves the live dir missing and the data only in .old
    if not os.path.exists(gold_path) and os.path.exists(old):
        os.rename(old, gold_path)
    if batch_id is not None and batch_id <= _last_applied_batch(gold_path):
        return
    partial = _batch_revenue(batch_df)
    if os.path.exists(gold_path):
        current = spark.read.parquet(gold_path).select(
            *GOLD_KEYS, "revenue_mils", "units", "n_lines"
        )
        merged = (
            current.unionByName(partial)
            .groupBy(*GOLD_KEYS)
            .agg(
                F.sum("revenue_mils").alias("revenue_mils"),
                F.sum("units").cast("long").alias("units"),
                F.sum("n_lines").alias("n_lines"),
            )
        )
    else:
        merged = partial
    merged = merged.withColumn("revenue", F.col("revenue_mils") / F.lit(1000.0))
    staging = gold_path + ".staging"
    merged.write.mode("overwrite").parquet(staging)
    if batch_id is not None:
        with open(os.path.join(staging, _MARKER), "w") as fh:
            fh.write(str(batch_id))
    shutil.rmtree(old, ignore_errors=True)
    if os.path.exists(gold_path):
        os.rename(gold_path, old)
    os.rename(staging, gold_path)
    shutil.rmtree(old, ignore_errors=True)


def gold_revenue_stream_query(
    spark,
    raw: DataFrame,
    gold_path: str,
    checkpoint_path: str,
    available_now: bool = False,
):
    """orders topic stream -> continuously maintained revenue gold."""
    from .stream_processor import DEFAULT_TRIGGER, parse_topic_stream

    parsed = parse_topic_stream(raw, "ecommerce.orders").filter(~F.col("_corrupt"))

    writer = (
        parsed.writeStream.foreachBatch(
            lambda df, batch_id: merge_gold_revenue(df, gold_path, batch_id)
        )
        .option("checkpointLocation", checkpoint_path)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=DEFAULT_TRIGGER)
    return writer.start()

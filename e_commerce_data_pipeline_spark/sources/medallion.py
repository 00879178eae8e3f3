"""Medallion batch jobs (SURVEY §7 step 5): Bronze -> Silver -> Gold.

Reference declares the layers at /root/reference/data/lake_writer.py:8-21
(Bronze raw JSONL 90d / Silver validated+deduplicated Parquet 1y /
Gold business aggregations, partitioned by date+category) with no code
behind Silver or Gold.

Silver: validate (violation columns kept — quarantine is a filter, not
a silent drop), dedup latest-per-event_id (W9 window), event-time
partition columns, Parquet.

Gold: the four declared aggregation families — revenue by
category/day, funnel conversion by session (J2), inventory current
state via CDC apply (J3), session stats (W1).

Scale: every job is scan -> narrow transforms -> one keyed shuffle.
Dedup partitions by event_id (uniform); gold aggs partition by their
group keys; Parquet writes partition by date so downstream reads prune.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.cdc import apply_cdc
from ..operators.sessionize import session_stats
from ..operators.validation import validate_cdc, validate_clicks, validate_orders

VALIDATORS = {
    "ecommerce.user_clicks": validate_clicks,
    "ecommerce.orders": validate_orders,
    "ecommerce.inventory_changes": validate_cdc,
}


def bronze_to_silver(df: DataFrame, topic: str) -> DataFrame:
    """Validate + dedup + type-annotate one topic's bronze frame."""
    validated = VALIDATORS[topic](df)
    w = Window.partitionBy("event_id").orderBy(F.desc("timestamp"))
    deduped = (
        validated.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    return deduped.withColumn("event_date", F.to_date("timestamp"))


def write_silver(df: DataFrame, path: str) -> None:
    df.write.mode("overwrite").partitionBy("event_date").parquet(path)


def silver_quarantine_split(silver: DataFrame) -> tuple[DataFrame, DataFrame]:
    """J6: valid rows vs quarantined (invalid) rows — an explicit split,
    not the reference's log-and-skip (consumer.py:187-191)."""
    return silver.filter(F.col("is_valid")), silver.filter(~F.col("is_valid"))


# ---------------------------------------------------------------------------
# Gold aggregations
# ---------------------------------------------------------------------------


def gold_revenue_by_category_day(silver_orders: DataFrame) -> DataFrame:
    """Revenue by item category and day (exploded order items).

    Revenue is summed per-row fixed-point (thousandths: qty * 2-dp price
    * {1.0,0.9,0.8} discount factor is exact at 3 dp) so the result is
    bit-identical across engines and partition layouts — a double sum
    would be merge-order-dependent.
    """
    lines = silver_orders.filter(F.col("is_valid")).select(
        "event_date",
        F.explode("items").alias("item"),
    )
    revenue = (
        F.col("item.quantity")
        * F.col("item.unit_price")
        * (F.lit(1.0) - F.coalesce(F.col("item.discount_pct"), F.lit(0.0)) / 100.0)
    )
    return lines.groupBy("event_date", F.col("item.category").alias("category")).agg(
        (F.sum(F.round(revenue * 1000).cast("long")) / F.lit(1000.0)).alias("revenue"),
        F.sum("item.quantity").cast("long").alias("units"),
        F.count(F.lit(1)).alias("n_lines"),
    )


def gold_funnel_conversion(silver_clicks: DataFrame, silver_orders: DataFrame) -> DataFrame:
    """J2: session-level click->cart->checkout->order funnel."""
    clicks = silver_clicks.filter(F.col("is_valid")).groupBy("session_id").agg(
        F.count(F.lit(1)).alias("n_clicks"),
        F.max((F.col("click_type") == "add_to_cart").cast("int")).alias("carted"),
        F.max((F.col("click_type") == "checkout_start").cast("int")).alias("checked_out"),
    )
    orders = silver_orders.filter(F.col("is_valid")).groupBy("session_id").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("total_amount").alias("session_revenue"),
    )
    return (
        clicks.join(orders, "session_id", "left")
        .withColumn("converted", F.coalesce(F.col("n_orders"), F.lit(0)) > 0)
        .select(
            "session_id", "n_clicks", "carted", "checked_out",
            F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
            F.round(F.coalesce("session_revenue", F.lit(0.0)), 2).alias("session_revenue"),
            "converted",
        )
    )


def gold_inventory_snapshot(silver_cdc: DataFrame) -> DataFrame:
    """J3: current inventory state from the validated changelog."""
    return apply_cdc(silver_cdc.filter(F.col("is_valid")))


def gold_session_stats(silver_clicks: DataFrame) -> DataFrame:
    """W1: session rollups over the click stream."""
    return session_stats(
        silver_clicks.filter(F.col("is_valid")),
        user_col="session_id",
        ts_col="timestamp",
        id_col="event_id",
    )


def run_medallion(
    spark: SparkSession,
    bronze_frames: dict[str, DataFrame],
    out_dir: str,
) -> dict[str, DataFrame]:
    """End-to-end batch pipeline over in-memory bronze frames.

    Returns the gold frames (also written under ``out_dir``).
    """
    silver = {
        topic: bronze_to_silver(df, topic) for topic, df in bronze_frames.items()
    }
    for topic, df in silver.items():
        write_silver(df, f"{out_dir}/silver/{topic.split('.')[-1]}")

    clicks = silver.get("ecommerce.user_clicks")
    orders = silver.get("ecommerce.orders")
    cdc = silver.get("ecommerce.inventory_changes")
    gold: dict[str, DataFrame] = {}
    if orders is not None:
        gold["revenue_by_category_day"] = gold_revenue_by_category_day(orders)
    if clicks is not None and orders is not None:
        gold["funnel_conversion"] = gold_funnel_conversion(clicks, orders)
    if cdc is not None:
        gold["inventory_snapshot"] = gold_inventory_snapshot(cdc)
    if clicks is not None:
        gold["session_stats"] = gold_session_stats(clicks)
    for name, df in gold.items():
        df.write.mode("overwrite").parquet(f"{out_dir}/gold/{name}")
    return gold

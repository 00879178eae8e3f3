"""Synthetic event generator (SURVEY S11), Spark-native.

The reference generates events row-at-a-time at 5/s with a mutable
session pool (/root/reference/kafka/producer/event_producer.py:85-243,
319-371). Here generation is a ``spark.range`` + column-expression
job: deterministic under a seed, linear in n, no driver loop — the
same shape scales to billions of rows.

Distributions reproduced: 70/20/10 click/order/CDC mix (:322,333-355),
80/15/5 UPDATE/INSERT/DELETE CDC ops (:218-221), ~30% anonymous users
(:102), session pool of ~20 concurrent sessions (:98), product catalog
of 8 items (:63-72), 1..3-item carts (:176).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

PRODUCTS = [
    ("P001", "Wireless Mouse", "Electronics", 29.99),
    ("P002", "Mechanical Keyboard", "Electronics", 89.99),
    ("P003", "Yoga Mat", "Sports", 24.99),
    ("P004", "Water Bottle", "Sports", 14.99),
    ("P005", "Coffee Maker", "Kitchen", 79.99),
    ("P006", "Desk Lamp", "Home", 39.99),
    ("P007", "Notebook Set", "Books", 12.99),
    ("P008", "Blender", "Kitchen", 59.99),
]
CLICK_TYPES = (
    "page_view",
    "product_view",
    "search",
    "add_to_cart",
    "remove_from_cart",
    "wishlist_add",
    "checkout_start",
)
DEVICES = ("mobile", "desktop", "tablet")
WAREHOUSES = ("WH-US-EAST", "WH-US-WEST", "WH-EU-CENTRAL", "WH-APAC")
ORDER_STATUSES = ("pending", "confirmed", "shipped", "delivered", "cancelled", "refunded")


def _r(seed_tag: str) -> F.Column:
    """Deterministic per-row uniform [0,1): hash of (id, tag) -> unit.

    xxhash64 is seed-stable across partitioning layouts — unlike
    ``rand(seed)``, whose values depend on partition assignment.
    """
    h = F.xxhash64(F.col("id"), F.lit(seed_tag))
    return (F.pmod(h, F.lit(1_000_000_007)).cast("double")) / 1_000_000_007.0


def _pick(seed_tag: str, values) -> F.Column:
    idx = F.pmod(F.xxhash64(F.col("id"), F.lit(seed_tag)), F.lit(len(values)))
    expr = F.lit(values[0])
    for i, v in enumerate(values[1:], start=1):
        expr = F.when(idx == i, F.lit(v)).otherwise(expr)
    return expr


def generate_events(
    spark: SparkSession,
    n: int = 10_000,
) -> DataFrame:
    """One unified event table with the reference's 70/20/10 mix: 5
    events per second from 2024-01-01 00:00:00, 20 sessions, 100 users.

    Rows carry the envelope + type-specific columns (null where not
    applicable) — the flat union shape used by the bronze layer; split
    per topic with ``events_for_topic``.
    """
    base = spark.range(n).withColumn(
        "timestamp",
        F.lit("2024-01-01 00:00:00").cast("timestamp")
        + F.make_dt_interval(secs=F.col("id") / F.lit(5.0)),
    )
    roll = _r("mix")
    event_type = (
        F.when(roll < 0.7, "user_click")
        .when(roll < 0.9, "order")
        .otherwise("inventory_cdc")
    )
    session_idx = F.pmod(F.xxhash64("id", F.lit("sess")), F.lit(20))
    user_roll = _r("anon")
    user_idx = F.pmod(F.xxhash64("id", F.lit("user")), F.lit(100))
    product_idx = F.pmod(F.xxhash64("id", F.lit("prod")), F.lit(len(PRODUCTS)))
    cdc_roll = _r("cdcop")

    products_expr = F.array(
        *[
            F.struct(
                F.lit(p).alias("product_id"),
                F.lit(name).alias("product_name"),
                F.lit(cat).alias("category"),
                F.lit(price).alias("price"),
            )
            for p, name, cat, price in PRODUCTS
        ]
    )
    prod = F.element_at(products_expr, product_idx.cast("int") + 1)

    qty = (F.pmod(F.xxhash64("id", F.lit("qty")), F.lit(3)) + 1).cast("int")
    disc = (F.pmod(F.xxhash64("id", F.lit("disc")), F.lit(3)) * 10).cast("double")
    item = F.struct(
        prod["product_id"].alias("product_id"),
        prod["product_name"].alias("product_name"),
        prod["category"].alias("category"),
        qty.alias("quantity"),
        prod["price"].alias("unit_price"),
        disc.alias("discount_pct"),
    )
    line_total = qty * prod["price"] * (F.lit(1.0) - disc / 100.0)

    stock_before = F.pmod(F.xxhash64("id", F.lit("stk")), F.lit(500)).cast("int")
    stock_delta = (F.pmod(F.xxhash64("id", F.lit("dlt")), F.lit(21)) - 10).cast("int")
    image = lambda stock: F.struct(  # noqa: E731
        prod["product_id"].alias("product_id"),
        prod["product_name"].alias("product_name"),
        F.concat(F.lit("SKU-"), prod["product_id"]).alias("sku"),
        stock.alias("stock_quantity"),
        F.lit(50).alias("reorder_level"),
        _pick("wh", WAREHOUSES).alias("warehouse_id"),
        F.col("timestamp").alias("last_updated"),
    )

    operation = (
        F.when(cdc_roll < 0.8, "UPDATE").when(cdc_roll < 0.95, "INSERT").otherwise("DELETE")
    )
    return base.select(
        F.concat(F.lit("evt-"), F.lpad(F.col("id").cast("string"), 10, "0")).alias(
            "event_id"
        ),
        event_type.alias("event_type"),
        F.col("timestamp"),
        F.concat(F.lit("sess-"), session_idx.cast("string")).alias("session_id"),
        F.when(
            user_roll < 0.7, F.concat(F.lit("user-"), user_idx.cast("string"))
        ).alias("user_id"),
        # click fields
        F.when(event_type == "user_click", _pick("ct", CLICK_TYPES)).alias("click_type"),
        F.when(
            event_type == "user_click",
            F.concat(F.lit("https://shop.example.com/p/"), prod["product_id"]),
        ).alias("page_url"),
        F.when(event_type == "user_click", _pick("dev", DEVICES)).alias("device_type"),
        F.when(event_type == "user_click", prod["product_id"]).alias("product_id"),
        F.when(event_type == "user_click", prod["category"]).alias("category"),
        # order fields
        F.when(
            event_type == "order",
            F.concat(F.lit("ord-"), F.lpad(F.col("id").cast("string"), 10, "0")),
        ).alias("order_id"),
        F.when(event_type == "order", _pick("os", ORDER_STATUSES)).alias("order_status"),
        F.when(event_type == "order", F.array(item)).alias("items"),
        F.when(event_type == "order", F.round(line_total, 2)).alias("total_amount"),
        # cdc fields
        F.when(event_type == "inventory_cdc", operation).alias("operation"),
        F.when(event_type == "inventory_cdc", F.lit("inventory")).alias("table_name"),
        F.when(
            (event_type == "inventory_cdc") & (operation != "INSERT"),
            image(stock_before),
        ).alias("before"),
        F.when(
            (event_type == "inventory_cdc") & (operation != "DELETE"),
            image(F.greatest(F.lit(0), stock_before + stock_delta)),
        ).alias("after"),
        F.when(
            event_type == "inventory_cdc",
            F.format_string("0/%08X", F.col("id").cast("int")),
        ).alias("lsn"),
    )


TOPIC_OF_TYPE = {
    "user_click": "ecommerce.user_clicks",
    "order": "ecommerce.orders",
    "inventory_cdc": "ecommerce.inventory_changes",
}


def events_for_topic(df: DataFrame, topic: str) -> DataFrame:
    """Split the unified table back into per-topic typed frames."""
    etype = {v: k for k, v in TOPIC_OF_TYPE.items()}[topic]
    out = df.filter(F.col("event_type") == etype)
    if etype == "user_click":
        return out.select(
            "event_id", "event_type", "timestamp", "session_id", "user_id",
            "click_type", "page_url", "device_type", "product_id", "category",
        )
    if etype == "order":
        return out.select(
            "event_id", "event_type", "timestamp", "session_id", "user_id",
            "order_id", "order_status", "items", "total_amount",
        )
    return out.select(
        "event_id", "event_type", "timestamp", "session_id", "user_id",
        "operation", "table_name", "before", "after", "lsn",
    )

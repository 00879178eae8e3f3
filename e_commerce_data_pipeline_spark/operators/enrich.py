"""Enrichment to the ProcessedEvent envelope (SURVEY P1, U1-U3, J1).

The reference declares — but never implements — a Spark enrichment
producing ProcessedEvent (/root/reference/data/schemas/events.py:226-253):
bot detection, user segmentation, geo-region derivation, quality flags.
Implemented Spark-first:

- ``is_bot``: rule-based native expressions (U1) — no UDF; a model
  would slot in as a pandas_udf scoring the same feature columns.
- ``user_segment``: when-ladder over per-user activity aggregates (U2).
- ``geo_region``: broadcast lookup join country->region (U3/J1) — the
  canonical small-dim enrichment join.
- envelope projection keeps the original record as ``raw_payload``
  JSON (P1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

GEO_REGIONS = [
    ("US", "AMER"), ("CA", "AMER"), ("BR", "AMER"), ("MX", "AMER"),
    ("GB", "EMEA"), ("DE", "EMEA"), ("FR", "EMEA"), ("ES", "EMEA"),
    ("IN", "APAC"), ("JP", "APAC"), ("AU", "APAC"), ("CN", "APAC"),
]


def geo_dim(spark) -> DataFrame:
    return spark.createDataFrame(GEO_REGIONS, "country_code string, geo_region string")


def bot_score(df: DataFrame, events_per_session_threshold: int = 100) -> DataFrame:
    """U1 rule-based bot flag: hyperactive sessions or scripted UAs.

    Adds ``session_event_count`` (one window) and ``is_bot``.
    """
    from pyspark.sql import Window

    w = Window.partitionBy("session_id")
    out = df.withColumn("session_event_count", F.count(F.lit(1)).over(w))
    is_bot = F.col("session_event_count") > events_per_session_threshold
    if "browser" in df.columns:
        is_bot = is_bot | F.coalesce(
            F.lower("browser").rlike("bot|crawler|spider|headless"), F.lit(False)
        )
    return out.withColumn("is_bot", is_bot)


def user_segments(orders: DataFrame, hv_threshold: int = 500) -> DataFrame:
    """U2: per-user segment from order activity (when-ladder, no UDF).

    Pass ``total_amount`` as exact integer cents (functions.to_fixed)
    when cross-engine segment parity matters — an integer lifetime
    sum makes the threshold frontier deterministic (q189)."""
    per_user = orders.groupBy("user_id").agg(
        F.sum("total_amount").alias("lifetime_value"),
        F.count(F.lit(1)).alias("n_orders"),
        F.max("timestamp").alias("last_order_ts"),
    )
    return per_user.withColumn(
        "user_segment",
        F.when(F.col("lifetime_value") >= hv_threshold, "high_value")
        .when(F.col("n_orders") >= 5, "loyal")
        .when(F.col("n_orders") == 1, "new")
        .otherwise("regular"),
    )


def to_processed_events(
    df: DataFrame,
    spark,
    segments: DataFrame | None = None,
    quality: DataFrame | None = None,
) -> DataFrame:
    """P1 envelope projection + enrichment joins.

    ``df`` is any typed event frame carrying the base envelope columns;
    type-specific fields are preserved inside ``raw_payload`` JSON.
    """
    enriched = bot_score(df)
    if "country_code" in df.columns:
        enriched = enriched.join(
            F.broadcast(geo_dim(spark)), "country_code", "left"
        )
    else:
        enriched = enriched.withColumn("geo_region", F.lit(None).cast("string"))
    if segments is not None:
        enriched = enriched.join(
            F.broadcast(segments.select("user_id", "user_segment")),
            "user_id",
            "left",
        )
    else:
        enriched = enriched.withColumn("user_segment", F.lit(None).cast("string"))

    required = [c for c in ("event_id", "event_type", "timestamp", "session_id") if c in df.columns]
    has_missing = F.lit(False)
    for c in required:
        has_missing = has_missing | F.col(c).isNull()

    out = enriched.select(
        "event_id",
        "event_type",
        "timestamp",
        "user_id",
        "session_id",
        F.current_timestamp().alias("processing_timestamp"),
        F.coalesce("is_bot", F.lit(False)).alias("is_bot"),
        "user_segment",
        "geo_region",
        F.to_json(F.struct(*[F.col(c) for c in df.columns])).alias("raw_payload"),
        has_missing.alias("has_missing_fields"),
    )
    if quality is not None:
        out = out.join(quality.select("event_id", "quality_score"), "event_id", "left")
    else:
        out = out.withColumn("quality_score", F.lit(1.0))
    return out

"""Stream-stream joins (the canonical hard Structured Streaming op):
event-time click -> purchase attribution with watermark-bounded state.

Semantics (reference analog: the funnel the batch q13/q31 queries
compute, expressed incrementally): a purchase joins every click by the
same user whose timestamp precedes it by at most ``max_gap``. Spark
buffers both sides in state; the join time-bound plus the watermarks
lets it evict: a click older than (watermark - max_gap) can never
match a future purchase and is dropped. Without the time-bound the
state would grow forever — the at-scale failure mode this module
exists to avoid.

Outer-join caveat, stated honestly: unmatched rows of a stream-stream
LEFT/RIGHT outer join emit only when the watermark passes their
eviction bound. A bounded drain (``availableNow``) ends the query at
the last input, so rows whose watermark never advances past them are
NOT emitted — batch replays that need the unmatched set should use
the batch anti-join instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..catalog import open_events_stream
from .stream_processor import _drain_to_memory


def attribution_stream_join(
    clicks: DataFrame,
    purchases: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    watermark: str = "30 minutes",
    max_gap: str = "10 minutes",
) -> DataFrame:
    """Inner-join purchase events to the clicks that preceded them within
    ``max_gap``, on watermarked event time.

    Returns (user_id, click_ts, purchase_ts, value, lag_sec). State
    per side is bounded by ``watermark + max_gap`` of event time.
    """
    c = clicks.select(
        F.col(user_col).alias("user_id"), F.col(ts_col).alias("click_ts")
    ).withWatermark("click_ts", watermark)
    p = purchases.select(
        F.col(user_col).alias("p_user_id"),
        F.col(ts_col).alias("purchase_ts"),
        F.col(value_col).alias("value"),
    ).withWatermark("purchase_ts", watermark)
    cond = (
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr(f"INTERVAL {max_gap}"))
    )
    joined = c.join(p, cond)
    return joined.select(
        "user_id",
        "click_ts",
        "purchase_ts",
        "value",
        (
            F.unix_timestamp("purchase_ts") - F.unix_timestamp("click_ts")
        ).alias("lag_sec"),
    )


def drain_attribution_from_events(spark, events_path: str) -> DataFrame:
    """Run the stream-stream attribution join over the events table's
    click and purchase streams (two independent bounded file sources
    over the same parquet) and drain it, so the *streaming* join is
    diffed against a batch SQL oracle (q66)."""
    clicks = open_events_stream(spark, events_path).filter(
        F.col("event_type") == "click"
    )
    purchases = open_events_stream(spark, events_path).filter(
        F.col("event_type") == "purchase"
    )
    out = attribution_stream_join(clicks, purchases)
    return _drain_to_memory(out, "attribution", "append", 8)

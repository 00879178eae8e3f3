"""Sessionization (SURVEY W1-W3): the reference's 10-minute-inactivity
session semantics (/root/reference/kafka/producer/event_producer.py:90-95)
as batch gap-and-island windows and as a streaming session_window.

Batch path: two windows over (user, time) — a lag to flag gaps, a
running sum to number sessions. One shuffle on the user key; state per
partition is one row. The same frame also yields funnel/cart analytics
(collect_list per session, W3 analog).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import epoch_us

GAP_US = 600_000_000  # 10 minutes


def assign_sessions(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> DataFrame:
    """Add ``session_no`` (1-based per user) via gap-and-island windows."""
    us = epoch_us(ts_col)
    w = Window.partitionBy(user_col).orderBy(us, id_col)
    new_s = F.when(us - F.lag(us).over(w) <= GAP_US, F.lit(0)).otherwise(F.lit(1))
    return df.withColumn(
        "session_no",
        F.sum(new_s)
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("long"),
    )


def session_stats(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> DataFrame:
    """Per-session rollup: start, end, event count, duration seconds."""
    s = assign_sessions(df, user_col, ts_col, id_col)
    us = epoch_us(ts_col)
    return s.groupBy(user_col, "session_no").agg(
        F.timestamp_micros(F.min(us)).alias("session_start"),
        F.timestamp_micros(F.max(us)).alias("session_end"),
        F.count(F.lit(1)).alias("n_events"),
        ((F.max(us) - F.min(us)) / F.lit(1_000_000.0)).alias("duration_s"),
    )


def session_event_sequences(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    type_col: str = "event_type",
) -> DataFrame:
    """W3 analog: ordered event-type sequence per session (the batch view
    of the generator's cart-accumulation state machine)."""
    s = assign_sessions(df, user_col, ts_col, id_col)
    return s.groupBy(user_col, "session_no").agg(
        F.array_sort(
            F.collect_list(F.struct(epoch_us(ts_col).alias("us"), F.col(type_col)))
        ).alias("__seq")
    ).select(
        user_col,
        "session_no",
        F.expr(f"transform(__seq, x -> x.{type_col})").alias("event_sequence"),
    )


def drain_streaming_session_stats(spark, events_path: str) -> DataFrame:
    """Run ``streaming_session_stats`` over a bounded stream of the
    events table and return the drained result, so the *streaming*
    session operator is diffed against a batch SQL oracle (q56). The
    production path is append-mode past the watermark into a parquet
    sink (W1/W6, streaming/stream_processor.py)."""
    from ..catalog import open_events_stream
    from ..streaming.stream_processor import _drain_to_memory

    sess = streaming_session_stats(open_events_stream(spark, events_path))
    return _drain_to_memory(sess, "session", "complete", 8)


def streaming_session_stats(
    stream_df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Structured Streaming session windows with watermarked state
    eviction (W1 + W6). Same 10-minute semantics as the batch path."""
    return (
        stream_df.withWatermark(ts_col, "30 minutes")
        .groupBy(F.session_window(F.col(ts_col), "10 minutes"), F.col(user_col))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            user_col,
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
        )
    )

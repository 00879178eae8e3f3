"""Kafka source/sink wrappers (SURVEY S1/S2).

No broker exists in the test environment, so these only *construct*
readers/writers (cheap, no connection) — integration is exercised by
the file/rate streaming paths in stream_processor. Batch replay of a
topic uses the same options on ``spark.read``.

Producer semantics mapping (event_producer.py:250-312): key=session/
user for per-key ordering -> the ``key`` column; acks/idempotence/
retry/batching (:264-275) -> checkpointed exactly-once + kafka.*
option passthrough.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def kafka_reader(
    spark: SparkSession,
    bootstrap: str,
    topics: str,
    streaming: bool = True,
):
    """Kafka source from the earliest offsets; the caller may chain
    more reader options (maxOffsetsPerTrigger, ...) onto the result."""
    reader = (spark.readStream if streaming else spark.read).format("kafka")
    return (
        reader.option("kafka.bootstrap.servers", bootstrap)
        .option("subscribe", topics)
        .option("startingOffsets", "earliest")
    )


def to_kafka_frame(
    df: DataFrame, key_cols: tuple[str, ...] = ("session_id", "user_id")
) -> DataFrame:
    """Serialize rows for the Kafka sink: key = first non-null of
    ``key_cols`` (per-key ordering, producer.py:294), value = row JSON."""
    key = F.coalesce(*[F.col(c) for c in key_cols], F.lit("anonymous"))
    return df.select(
        key.cast("string").alias("key"),
        F.to_json(F.struct(*[F.col(c) for c in df.columns])).alias("value"),
    )


def kafka_writer(
    df: DataFrame,
    bootstrap: str,
    topic: str,
    streaming: bool = True,
):
    """Kafka sink writer; the caller chains checkpointLocation (and any
    other option) onto a streaming writer before starting it."""
    payload = df if set(df.columns) == {"key", "value"} else to_kafka_frame(df)
    if streaming:
        return (
            payload.writeStream.format("kafka")
            .option("kafka.bootstrap.servers", bootstrap)
            .option("topic", topic)
        )
    return (
        payload.write.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap)
        .option("topic", topic)
    )

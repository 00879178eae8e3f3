"""The streaming job the reference declares everywhere but never wrote
(/root/reference/spark/streaming/stream_processor.py is 0 bytes).

Structured-Streaming shape (SURVEY §3.2 "Spark shape", W4-W8):

    readStream (kafka | file | rate-for-tests)
      -> from_json(value, TOPIC_SCHEMA_MAP[topic])   [S3]
      -> validation columns (violations, quality)    [P2-P13]
      -> event-time Hive partitions                  [S5]
      -> writeStream parquet/json, 30 s trigger      [S6/W4]
         with checkpointLocation                      [W7]

Replaces the reference's hand-rolled concerns 1:1:
- manual offset commit + at-least-once -> checkpointing (exactly-once
  to file sinks),
- 100-events-or-30 s buffer flush -> trigger(processingTime="30 s"),
- consumer-group scaling -> executor parallelism,
- graceful shutdown flush -> query.stop() draining the in-flight batch.

Late data: ``withWatermark`` bounds state for windowed aggs (W6); the
staleness predicates stay as quality *columns* so late rows are flagged
and kept, matching the reference's flag-don't-drop semantics.
"""

from __future__ import annotations

import itertools
from contextlib import contextmanager, nullcontext

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import open_events_stream
from ..schemas.events import TOPIC_SCHEMA_MAP
from ..sources.bronze import PARTITION_COLS, with_time_partitions

DEFAULT_TRIGGER = "30 seconds"


@contextmanager
def state_sized_shuffle(spark: SparkSession, n: int):
    """Scope ``spark.sql.shuffle.partitions`` around a streaming query
    START (the query captures the conf at start; restoring after does
    not affect it).

    Why: every stateful operator creates ONE state store PER shuffle
    partition, and store open/commit cost is per-store, per-microbatch
    — independent of data volume. Sizing shuffle partitions to the
    CPU count (right for the batch suite) made the bounded drains pay
    32 stores' startup for 46 rows of state: q66's drain measured
    8.1 s at 32 partitions vs 2.8 s at 8 (PERF.md round-5). Stateful
    jobs size this to expected STATE volume (what a 100 TB deployment
    would tune upward)."""
    key = "spark.sql.shuffle.partitions"
    prior = spark.conf.get(key)
    spark.conf.set(key, str(n))
    try:
        yield
    finally:
        spark.conf.set(key, prior)


def read_event_stream(
    spark: SparkSession,
    source: str = "kafka",
    file_path: str | None = None,
    rate_rows_per_second: int = 100,
) -> DataFrame:
    """A raw stream of (topic, value) pairs.

    - ``kafka``: the production source (S2): the three ecommerce topics
      on localhost:9092; offsets managed by the checkpoint,
      ``startingOffsets=earliest`` mirrors the reference's
      auto.offset.reset (consumer.py:131).
    - ``file``: replay Bronze JSONL as a stream (W7 reprocessing path).
    - ``rate``: deterministic in-memory source for tests.
    """
    if source == "kafka":
        return (
            spark.readStream.format("kafka")
            .option("kafka.bootstrap.servers", "localhost:9092")
            .option(
                "subscribe",
                "ecommerce.user_clicks,ecommerce.orders,ecommerce.inventory_changes",
            )
            .option("startingOffsets", "earliest")
            .load()
            .select(
                F.col("topic"),
                F.col("value").cast("string").alias("value"),
                F.col("timestamp").alias("kafka_ts"),
            )
        )
    if source == "file":
        assert file_path is not None
        return (
            spark.readStream.format("text")
            .load(file_path)
            .select(
                F.lit("ecommerce.user_clicks").alias("topic"),
                F.col("value"),
                F.current_timestamp().alias("kafka_ts"),
            )
        )
    if source == "rate":
        return (
            spark.readStream.format("rate")
            .option("rowsPerSecond", rate_rows_per_second)
            .load()
            .select(
                F.lit("ecommerce.user_clicks").alias("topic"),
                F.to_json(
                    F.struct(
                        F.concat(F.lit("evt-"), F.col("value")).alias("event_id"),
                        F.lit("user_click").alias("event_type"),
                        F.col("timestamp"),
                        F.concat(F.lit("sess-"), F.pmod("value", F.lit(20))).alias(
                            "session_id"
                        ),
                        F.concat(F.lit("user-"), F.pmod("value", F.lit(100))).alias(
                            "user_id"
                        ),
                        F.lit("page_view").alias("click_type"),
                        F.lit("https://shop.example.com/").alias("page_url"),
                        F.lit("mobile").alias("device_type"),
                    )
                ).alias("value"),
                F.col("timestamp").alias("kafka_ts"),
            )
        )
    raise ValueError(f"unknown source {source!r}")


def parse_topic_stream(raw: DataFrame, topic: str) -> DataFrame:
    """S3: JSON deserialize against the topic's declared schema.

    Corrupt rows parse to an all-null struct -> flagged ``_corrupt``
    and kept (DLQ filter downstream), not silently skipped.
    """
    schema = TOPIC_SCHEMA_MAP[topic]
    # The parse sits behind a Generate on purpose. Catalyst pushes any
    # filter through a deterministic Project without weighing its
    # cost, so a downstream ``~_corrupt`` filter over a plain
    # ``from_json`` column would be evaluated below the Project as its
    # own parses, and the Project would then parse every row again. A
    # predicate on a generator's output cannot move below the
    # Generate, so each payload is parsed exactly once.
    parsed = raw.filter(F.col("topic") == topic).select(
        F.inline(
            F.array(
                F.struct(
                    F.from_json("value", schema).alias("parsed"), F.col("value")
                )
            )
        )
    )
    # PERMISSIVE from_json yields an all-null struct (not NULL) on
    # malformed JSON; a missing event_id also violates the schema's
    # required envelope, so both route to the corrupt/DLQ flag (a NULL
    # struct has a NULL event_id too).
    corrupt = F.col("parsed.event_id").isNull()
    return parsed.select(
        F.col("parsed.*"),
        corrupt.alias("_corrupt"),
        F.col("value").alias("_raw_value"),
    )


def bronze_ingest_query(
    spark: SparkSession,
    raw: DataFrame,
    topic: str,
    out_path: str,
    checkpoint_path: str,
    trigger: str = DEFAULT_TRIGGER,
    available_now: bool = False,
):
    """The bronze ingest: parse -> validate -> partition -> gzip JSONL
    sink.

    ``available_now=True`` drains everything currently available then
    stops — the testable micro-batch mode (also the backfill mode).
    """
    from ..sources.medallion import VALIDATORS

    parsed = parse_topic_stream(raw, topic)
    validated = VALIDATORS[topic](parsed.filter(~F.col("_corrupt")).drop("_corrupt", "_raw_value"))
    # violations array -> string for JSON-friendly bronze storage
    validated = validated.withColumn(
        "violations", F.array_join("violations", ",")
    )
    partitioned = with_time_partitions(validated, "timestamp")
    writer = (
        partitioned.writeStream.format("json")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint_path)
        .option("compression", "gzip")
        .partitionBy(*PARTITION_COLS)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=trigger)
    return writer.start()


def silver_stream_query(
    spark: SparkSession,
    raw: DataFrame,
    topic: str,
    out_path: str,
    checkpoint_path: str,
    segments: DataFrame | None = None,
    available_now: bool = False,
):
    """Streaming silver stage: parse -> validate -> enrich to the
    ProcessedEvent envelope -> partitioned parquet.

    Enrichment needs a per-session window (bot scoring) and broadcast
    joins, so it runs inside ``foreachBatch`` — each micro-batch is a
    bounded DataFrame where batch semantics apply. foreachBatch is
    AT-LEAST-ONCE (exactly-once holds only for native file sinks), so
    each batch writes its rows under a ``__batch_id`` partition with
    dynamic partition overwrite: a replayed batch rewrites exactly its
    own partitions instead of appending duplicates, making the sink
    effectively-once. Readers see ``__batch_id`` as an extra column;
    event-time partitions stay first for pruning.
    """
    from ..operators.enrich import to_processed_events
    from ..sources.bronze import PARTITION_COLS, with_time_partitions
    from ..sources.medallion import VALIDATORS

    parsed = parse_topic_stream(raw, topic)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        good = batch_df.filter(~F.col("_corrupt")).drop("_corrupt", "_raw_value")
        if not good.take(1):
            return
        validated = VALIDATORS[topic](good)
        quality = validated.select("event_id", "quality_score")
        enriched = to_processed_events(
            validated.drop("violations", "n_violations", "quality_score", "is_valid"),
            batch_df.sparkSession,
            segments=segments,
            quality=quality,
        )
        (
            with_time_partitions(enriched, "timestamp")
            .withColumn("__batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(*PARTITION_COLS, "__batch_id")
            .parquet(out_path)
        )

    writer = (
        parsed.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=DEFAULT_TRIGGER)
    return writer.start()


def windowed_event_counts(stream_df: DataFrame, ts_col: str = "ts") -> DataFrame:
    """Watermarked tumbling-window aggregation (W5 + W6 streaming
    shape): per (1-hour window, event_type) event counts and fixed-point
    value totals. State is bounded — windows older than the 2-hour
    watermark close and evict; at 100 TB/day the state store holds
    only (windows in watermark horizon) x event_types rows."""
    return (
        stream_df.withWatermark(ts_col, "2 hours")
        .groupBy(F.window(F.col(ts_col), "1 hour"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias(
                "value_cents"
            ),
        )
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "event_type",
            "n_events",
            "value_cents",
        )
    )


_DRAIN_SEQ = itertools.count(1)
_DRAIN_TIMEOUT_S = 300


def _drain_to_memory(
    out: DataFrame, label: str, mode: str, state_partitions: int | None = None
) -> DataFrame:
    """Drain a bounded stream with availableNow into a memory sink and
    return the completed result as a batch DataFrame — the harness that
    lets the oracle diff a *streaming* operator against batch SQL.

    ``state_partitions`` sizes the shuffle of a stateful drain (see
    ``state_sized_shuffle``); stateless drains keep the session's. The
    memory sink collects to the driver, which is fine for a bounded
    drain at test scale; production paths write file sinks. The sink's
    temp view is dropped once the result is bound, so the session
    catalog holds no reference to the drained rows after the call."""
    spark = out.sparkSession
    name = f"{label}_drain_{next(_DRAIN_SEQ)}"
    writer = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
    )
    with (
        nullcontext()
        if state_partitions is None
        else state_sized_shuffle(spark, state_partitions)
    ):
        q = writer.start()
    if not q.awaitTermination(_DRAIN_TIMEOUT_S):
        # proceeding would read a partially-populated memory sink and
        # surface as a confusing data mismatch instead of a timeout
        q.stop()
        raise TimeoutError(f"{label} drain did not finish in {_DRAIN_TIMEOUT_S}s")
    result = spark.table(name)
    spark.catalog.dropTempView(name)
    return result


def drain_windowed_event_counts(spark: SparkSession, events_path: str) -> DataFrame:
    """``windowed_event_counts`` over a bounded stream of the events
    table, drained in complete mode."""
    out = windowed_event_counts(open_events_stream(spark, events_path))
    return _drain_to_memory(out, "windowed_counts", "complete", 8)


def drain_streaming_dedup(spark: SparkSession, events_path: str) -> DataFrame:
    """Run the Silver-layer streaming dedup
    (``operators.dedup.streaming_dedup``) over a bounded stream of the
    events table, deduplicating on a composite (user_id, event_type,
    hour) key.

    dropDuplicates keeps the FIRST arrival per key — which physical
    row survives is arrival-order-dependent, so the deterministic
    (and oracle-comparable) output is the key set itself: the drained
    result projects only the dedup keys, which equal the batch
    DISTINCT over the same columns. The watermark bounds the dedup
    state exactly as in production.
    """
    from ..operators.dedup import streaming_dedup

    keyed = open_events_stream(spark, events_path).withColumn(
        "hour_ts", F.date_trunc("hour", "ts")
    )
    deduped = streaming_dedup(
        keyed,
        id_cols=("user_id", "event_type"),
        ts_col="hour_ts",
        watermark="2 hours",
    )
    out = deduped.select(
        "user_id", "event_type", F.unix_micros("hour_ts").alias("hour_us")
    )
    return _drain_to_memory(out, "stream_dedup", "append", 8)


def drain_static_enriched_events(spark: SparkSession, events_path: str) -> DataFrame:
    """Stream-STATIC join (the stateless enrichment shape of W-family
    streaming): every event in a bounded parquet stream is joined to a
    broadcast per-user value-tier profile computed batch-side from the
    same table.

    Stream-static joins keep NO state (each micro-batch probes the
    static side), so the drain runs in append mode with no watermark —
    the production analog is a click stream enriched against a
    warehouse dimension refreshed per deploy. The profile tier
    thresholds are integer cents on exact fixed-point sums, so the
    drained rows equal the batch join row-for-row.

    Returns one row per event: ``(event_id, user_id, event_type,
    tier)``.
    """
    stream = open_events_stream(spark, events_path)
    profile = (
        spark.read.parquet(events_path)
        .groupBy("user_id")
        .agg(
            F.sum(F.round(F.col("value") * 100).cast("long")).alias(
                "total_cents"
            )
        )
        .select(
            "user_id",
            F.when(F.col("total_cents") >= 500_000, "high")
            .when(F.col("total_cents") >= 100_000, "mid")
            .otherwise("low")
            .alias("tier"),
        )
    )
    enriched = stream.join(F.broadcast(profile), "user_id").select(
        "event_id", "user_id", "event_type", "tier"
    )
    return _drain_to_memory(enriched, "stream_static", "append")


def drain_streaming_hll(spark: SparkSession, events_path: str) -> DataFrame:
    """Streaming distinct-count sketch: maintain the portable HLL
    register table AS STREAMING STATE — the (register, max rho)
    groupBy is a plain streaming aggregation whose state is bounded
    at 2**p rows FOREVER, which is precisely why sketches are the
    streaming answer to COUNT DISTINCT (exact streaming distinct
    needs per-key state that grows without bound; dropDuplicates
    needs a watermark and forgets). Returns the completed register
    table; because every register transition is a MAX over
    deterministic per-row hashes, the drained table is byte-identical
    to the batch ``hll_registers`` build — and to the q171 oracle's
    SQL rebuild (p=5, salt "hll-s")."""
    from ..operators.frequency import hll_register_exprs

    p = 5
    h, rho = hll_register_exprs("user_id", p, "hll-s")
    regs = (
        open_events_stream(spark, events_path)
        .filter(F.col("user_id").isNotNull())
        .select((h % (1 << p)).cast("int").alias("register"), rho.alias("rho"))
        .groupBy("register")
        .agg(F.max("rho").cast("int").alias("m_j"))
    )
    return _drain_to_memory(regs, "hll", "complete", 4)

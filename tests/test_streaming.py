"""Streaming tests (SURVEY §5.2 item 5): file-source micro-batch into
the bronze sink with checkpointing; session windows on a stream."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from e_commerce_data_pipeline_spark.operators.sessionize import (
    drain_streaming_session_stats,
    streaming_session_stats,
)
from e_commerce_data_pipeline_spark.schemas.events import CLICK_SCHEMA
from e_commerce_data_pipeline_spark.streaming.stream_join import (
    drain_attribution_from_events,
)
from e_commerce_data_pipeline_spark.streaming.stream_processor import (
    bronze_ingest_query,
    drain_static_enriched_events,
    drain_streaming_dedup,
    drain_streaming_hll,
    drain_windowed_event_counts,
    parse_topic_stream,
    read_event_stream,
)


def _click(i, ts, session="s1", user="u1", click_type="page_view"):
    return json.dumps(
        {
            "event_id": f"evt-{i}",
            "event_type": "user_click",
            "timestamp": ts,
            "session_id": session,
            "user_id": user,
            "click_type": click_type,
            "page_url": "https://shop.example.com/",
            "device_type": "mobile",
        }
    )


def test_file_stream_to_bronze_sink(spark, tmp_path):
    src = tmp_path / "incoming"
    src.mkdir()
    lines = [_click(i, f"2024-01-01 0{i % 3}:00:00") for i in range(30)]
    # one bad record to prove corrupt rows don't kill the stream
    lines.append("{not json")
    (src / "batch1.txt").write_text("\n".join(lines))

    raw = read_event_stream(spark, source="file", file_path=str(src))
    out = tmp_path / "bronze"
    ckpt = tmp_path / "ckpt"
    q = bronze_ingest_query(
        spark,
        raw,
        "ecommerce.user_clicks",
        str(out),
        str(ckpt),
        available_now=True,
    )
    q.awaitTermination(120)

    written = spark.read.schema(CLICK_SCHEMA).json(str(out))
    assert written.count() == 30  # corrupt row filtered to DLQ path
    # event-time partitions on disk (hour=0,1,2)
    import glob

    hours = {p.rsplit("hour=", 1)[1] for p in glob.glob(str(out) + "/*/*/*/hour=*")}
    assert hours == {"0", "1", "2"}
    # checkpoint exists -> restart resumes instead of reprocessing
    assert (ckpt / "offsets").exists()

    # idempotent restart: no new input -> no duplicate rows
    raw2 = read_event_stream(spark, source="file", file_path=str(src))
    q2 = bronze_ingest_query(
        spark, raw2, "ecommerce.user_clicks", str(out), str(ckpt), available_now=True
    )
    q2.awaitTermination(120)
    assert spark.read.schema(CLICK_SCHEMA).json(str(out)).count() == 30


def test_corrupt_rows_flagged_not_dropped(spark, tmp_path):
    import datetime

    src = tmp_path / "in2"
    src.mkdir()
    valid = _click(1, "2024-01-01 00:00:00")
    null_id = json.dumps(
        {**json.loads(_click(2, "2024-01-01 00:00:00")), "event_id": None}
    )
    bad = ["{broken", "", "{}", null_id]
    (src / "b.txt").write_text("\n".join([valid, *bad]))
    raw = read_event_stream(spark, source="file", file_path=str(src))
    parsed = parse_topic_stream(raw, "ecommerce.user_clicks")
    q = (
        parsed.writeStream.format("memory")
        .queryName("parsed_probe")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    rows = spark.sql("SELECT * FROM parsed_probe").collect()
    assert len(rows) == 1 + len(bad)
    corrupt = [r for r in rows if r["_corrupt"]]
    assert sorted(r["_raw_value"] for r in corrupt) == sorted(bad)
    (good,) = [r for r in rows if not r["_corrupt"]]
    assert good["_raw_value"] == valid
    fields = json.loads(valid)
    assert good["timestamp"] == datetime.datetime(2024, 1, 1)
    assert {k: good[k] for k in fields if k != "timestamp"} == {
        k: v for k, v in fields.items() if k != "timestamp"
    }


def test_streaming_session_window(spark, tmp_path):
    src = tmp_path / "in3"
    src.mkdir()
    events = [
        _click(1, "2024-01-01 00:00:00"),
        _click(2, "2024-01-01 00:05:00"),
        _click(3, "2024-01-01 00:30:00"),  # > 10 min gap -> second session
    ]
    (src / "b.txt").write_text("\n".join(events))
    raw = read_event_stream(spark, source="file", file_path=str(src))
    parsed = parse_topic_stream(raw, "ecommerce.user_clicks").filter(~F.col("_corrupt"))
    sess = streaming_session_stats(parsed, user_col="user_id", ts_col="timestamp")
    q = (
        sess.writeStream.format("memory")
        .queryName("sess_probe")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    rows = spark.sql("SELECT * FROM sess_probe ORDER BY session_start").collect()
    assert len(rows) == 2
    assert rows[0]["n_events"] == 2 and rows[1]["n_events"] == 1


def test_rate_source_shape(spark):
    raw = read_event_stream(spark, source="rate", rate_rows_per_second=10)
    assert set(raw.columns) == {"topic", "value", "kafka_ts"}
    assert raw.isStreaming


def test_silver_stream_enrichment(spark, tmp_path):
    from e_commerce_data_pipeline_spark.streaming.stream_processor import (
        silver_stream_query,
    )

    src = tmp_path / "in4"
    src.mkdir()
    lines = [
        _click(i, "2024-01-01 05:00:00", session=f"s{i % 3}", user=f"u{i % 2}")
        for i in range(20)
    ]
    (src / "b.txt").write_text("\n".join(lines))
    raw = read_event_stream(spark, source="file", file_path=str(src))
    segments = spark.createDataFrame(
        [("u0", "high_value"), ("u1", "new")], "user_id string, user_segment string"
    )
    out, ckpt = tmp_path / "silver", tmp_path / "ck4"
    q = silver_stream_query(
        spark, raw, "ecommerce.user_clicks", str(out), str(ckpt),
        segments=segments, available_now=True,
    )
    q.awaitTermination(120)

    silver = spark.read.parquet(str(out))
    rows = silver.collect()
    assert len(rows) == 20
    # ProcessedEvent envelope shape (SURVEY P1) with enrichment applied
    cols = set(silver.columns)
    assert {"event_id", "is_bot", "user_segment", "geo_region",
            "raw_payload", "quality_score", "has_missing_fields"} <= cols
    assert {r["user_segment"] for r in rows} == {"high_value", "new"}
    assert all(r["quality_score"] == 1.0 for r in rows)
    # event-time partitioning carried through (hour=5)
    import glob

    assert glob.glob(str(out) + "/year=2024/month=1/day=1/hour=5")


def test_streaming_dedup_across_batches(spark, tmp_path):
    from e_commerce_data_pipeline_spark.operators.dedup import streaming_dedup

    src = tmp_path / "in5"
    src.mkdir()
    ckpt = tmp_path / "ck5"
    collected = []

    def run():
        raw = read_event_stream(spark, source="file", file_path=str(src))
        parsed = parse_topic_stream(raw, "ecommerce.user_clicks").filter(
            ~F.col("_corrupt")
        )
        deduped = streaming_dedup(parsed)
        q = (
            deduped.writeStream.foreachBatch(
                lambda df, i: collected.extend(r["event_id"] for r in df.collect())
            )
            .option("checkpointLocation", str(ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    # batch 1: two copies of evt-1 in the same batch
    (src / "b1.txt").write_text(
        "\n".join(
            [
                _click(1, "2024-01-01 00:00:00"),
                _click(1, "2024-01-01 00:00:00"),
                _click(2, "2024-01-01 00:01:00"),
            ]
        )
    )
    run()
    assert sorted(collected) == ["evt-1", "evt-2"]

    # batch 2 (restart, same checkpoint): evt-2 re-sent -> suppressed by
    # the state carried in the checkpoint; evt-3 is new
    (src / "b2.txt").write_text(
        "\n".join(
            [_click(2, "2024-01-01 00:01:00"), _click(3, "2024-01-01 00:02:00")]
        )
    )
    run()
    assert sorted(collected) == ["evt-1", "evt-2", "evt-3"]


def _layout_events(spark):
    """Small events frame that gives every drain non-empty output:
    per user a click, a purchase 5 min later (attribution), a repeated
    view in the same hour (dedup), and a view after a 40-min gap (a
    second session)."""
    import datetime

    base = datetime.datetime(2024, 1, 1, 10)
    rows = []
    for u in range(6):
        t = base + datetime.timedelta(minutes=7 * u)
        for k, (dt, etype, value) in enumerate(
            [
                (0, "click", 0.0),
                (5, "purchase", 500.0 * (u + 1) ** 2),
                (6, "view", 0.0),
                (8, "view", 0.0),
                (48, "view", 0.0),
            ]
        ):
            rows.append(
                (10 * u + k, t + datetime.timedelta(minutes=dt), u, etype, value, "{}")
            )
    return spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )


_DRAINS = [
    pytest.param(drain_streaming_session_stats, id="session"),
    pytest.param(drain_attribution_from_events, id="attribution"),
    pytest.param(drain_windowed_event_counts, id="windowed_counts"),
    pytest.param(drain_streaming_dedup, id="dedup"),
    pytest.param(drain_static_enriched_events, id="static_enrich"),
    pytest.param(drain_streaming_hll, id="hll"),
]


@pytest.mark.parametrize("drain", _DRAINS)
def test_drain_handles_directory_parquet(spark, tmp_path, drain):
    """events.parquet has been delivered both as a single file and as a
    parquet directory; every drain must drain the same rows from either
    layout (a pathGlobFilter on the directory
    name matches no leaf part-files and would drain empty)."""
    import glob
    import shutil

    events = _layout_events(spark)
    staging = str(tmp_path / "staging")
    events.coalesce(1).write.parquet(staging)
    (part,) = glob.glob(f"{staging}/part-*.parquet")
    (tmp_path / "single").mkdir()
    single = str(tmp_path / "single" / "events.parquet")
    shutil.move(part, single)
    directory = str(tmp_path / "dir" / "events.parquet")
    events.repartition(2).write.parquet(directory)

    def drained(path):
        return sorted(tuple(r) for r in drain(spark, path).collect())

    from_file = drained(single)
    assert from_file
    assert drained(directory) == from_file


@pytest.mark.parametrize("drain", _DRAINS)
def test_drain_leaves_no_memory_sink_view(spark, tmp_path, drain):
    """A drain drops its memory-sink view once the result is bound: no
    ``*_drain_*`` view outlives the call (each would pin its whole
    result on the driver for the rest of the session), and the frame
    it returned still collects and filters to the same rows."""
    path = str(tmp_path / "events.parquet")
    _layout_events(spark).write.parquet(path)
    out = drain(spark, path)
    assert not [t.name for t in spark.catalog.listTables() if "_drain_" in t.name]
    rows = sorted(tuple(r) for r in out.collect())
    assert rows
    assert sorted(tuple(r) for r in out.filter(F.lit(True)).collect()) == rows
    assert sorted(tuple(r) for r in drain(spark, path).collect()) == rows


def test_streaming_hll_registers_equal_batch_build(spark, tmp_path):
    """The drained streaming register table must be byte-identical to
    the batch hll_registers build over the same rows — the mergeable-
    sketch-as-streaming-state contract (state bounded at 2^p rows, no
    watermark)."""
    import datetime

    from pyspark.sql import functions as F

    from e_commerce_data_pipeline_spark.operators.frequency import hll_registers

    base = datetime.datetime(2024, 1, 1)
    rows = [
        (i, base, i % 37 if i % 5 else None, "click", 1.0, "{}")
        for i in range(500)
    ]
    events = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    path = str(tmp_path / "events.parquet")
    events.repartition(3).write.parquet(path)

    streamed = {
        r.register: r.m_j
        for r in drain_streaming_hll(spark, path).collect()
    }
    batch = {
        r.register: r.m_j
        for r in hll_registers(
            spark.read.parquet(path), "user_id", p=5, salt="hll-s"
        ).collect()
    }
    assert streamed == batch and len(streamed) > 0


@pytest.mark.parametrize(
    "ts_type", ["ns", "us", "us_utc"], ids=["nanos", "micros_ntz", "micros_utc"]
)
def test_events_stream_ts_matches_load_table(spark, tmp_path, ts_type):
    """The events stream opener and catalog.load_table canonicalize
    every parquet timestamp encoding of ``ts`` to the same TIMESTAMP."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    from e_commerce_data_pipeline_spark.catalog import (
        load_table,
        open_events_stream,
    )
    from e_commerce_data_pipeline_spark.streaming.stream_processor import (
        _drain_to_memory,
    )

    unit = ts_type[:2]
    tz = "UTC" if ts_type == "us_utc" else None
    base = datetime.datetime(2024, 1, 1, 10, 0, 0, 123456)
    stamps = [base + datetime.timedelta(seconds=37 * i) for i in range(5)]
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array(range(5), pa.int64()),
                "ts": pa.array(stamps, pa.timestamp(unit, tz=tz)),
            }
        ),
        str(tmp_path / "events.parquet"),
    )

    def us(df):
        return sorted(
            tuple(r) for r in df.select("event_id", F.unix_micros("ts")).collect()
        )

    stream = open_events_stream(spark, str(tmp_path / "events.parquet"))
    streamed = us(_drain_to_memory(stream, "events_ts", "append"))
    batch = us(load_table(spark, str(tmp_path), "events"))
    epoch, one_us = datetime.datetime(1970, 1, 1), datetime.timedelta(microseconds=1)
    expected = [(i, (s - epoch) // one_us) for i, s in enumerate(stamps)]
    assert streamed == batch == expected


def test_drain_timeout_stops_query_and_raises(spark, tmp_path, monkeypatch):
    """A drain that outlives its timeout must stop its query and raise,
    not hand back a partially-populated memory sink."""
    from e_commerce_data_pipeline_spark.streaming import stream_processor

    _layout_events(spark).write.parquet(str(tmp_path / "events.parquet"))
    monkeypatch.setattr(stream_processor, "_DRAIN_TIMEOUT_S", 0.001)
    with pytest.raises(TimeoutError, match="session drain did not finish"):
        drain_streaming_session_stats(spark, str(tmp_path / "events.parquet"))
    assert not [q for q in spark.streams.active if "session_drain" in (q.name or "")]

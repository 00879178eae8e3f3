"""Stream-stream attribution join: result equals the batch join, the
time bound filters far-apart events, and the plan carries watermarked
join state."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from e_commerce_data_pipeline_spark.streaming.stream_join import attribution_stream_join
from e_commerce_data_pipeline_spark.streaming.stream_processor import _drain_to_memory

SCHEMA = StructType(
    [
        StructField("user_id", StringType(), True),
        StructField("ts", TimestampType(), True),
        StructField("value", DoubleType(), True),
    ]
)


def _frames(spark):
    clicks = [
        ("u1", "2024-01-01 10:00:00", 0.0),
        ("u1", "2024-01-01 10:07:00", 0.0),
        ("u2", "2024-01-01 10:00:00", 0.0),
        ("u3", "2024-01-01 09:00:00", 0.0),  # too early for u3's purchase
    ]
    purchases = [
        ("u1", "2024-01-01 10:08:00", 50.0),  # matches BOTH u1 clicks
        ("u2", "2024-01-01 10:30:00", 20.0),  # outside 10-min gap
        ("u3", "2024-01-01 11:00:00", 30.0),  # 2h after the click
        ("u4", "2024-01-01 10:05:00", 10.0),  # no click at all
    ]
    c = spark.createDataFrame(clicks, "user_id string, ts string, value double")
    p = spark.createDataFrame(purchases, "user_id string, ts string, value double")
    to_ts = lambda df: df.withColumn("ts", F.to_timestamp("ts"))  # noqa: E731
    return to_ts(c), to_ts(p)


def test_stream_join_matches_batch_join(spark, tmp_path):
    c, p = _frames(spark)
    cpath, ppath = str(tmp_path / "clicks"), str(tmp_path / "purch")
    c.write.parquet(cpath)
    p.write.parquet(ppath)

    out = attribution_stream_join(
        spark.readStream.schema(SCHEMA).parquet(cpath),
        spark.readStream.schema(SCHEMA).parquet(ppath),
        watermark="30 minutes",
        max_gap="10 minutes",
    )
    got = _drain_to_memory(out, "attribution_join", "append").collect()

    # batch reference: the same predicate as a plain join
    expected = (
        c.select("user_id", F.col("ts").alias("click_ts"))
        .join(
            p.select(
                F.col("user_id").alias("p_user_id"),
                F.col("ts").alias("purchase_ts"),
                "value",
            ),
            (F.col("user_id") == F.col("p_user_id"))
            & (F.col("purchase_ts") >= F.col("click_ts"))
            & (
                F.col("purchase_ts")
                <= F.col("click_ts") + F.expr("INTERVAL 10 minutes")
            ),
        )
        .select("user_id", "click_ts", "purchase_ts", "value")
        .collect()
    )
    got_set = {(r["user_id"], r["click_ts"], r["purchase_ts"], r["value"]) for r in got}
    exp_set = {(r["user_id"], r["click_ts"], r["purchase_ts"], r["value"]) for r in expected}
    assert got_set == exp_set
    # exactly the two u1 click->purchase attributions survive
    assert len(got_set) == 2 and all(u == "u1" for u, *_ in got_set)
    # lag is computed in seconds
    lags = sorted(r["lag_sec"] for r in got)
    assert lags == [60, 480]


def test_stream_join_state_is_watermark_bounded(spark, tmp_path):
    c, p = _frames(spark)
    cpath, ppath = str(tmp_path / "clicks"), str(tmp_path / "purch")
    c.write.parquet(cpath)
    p.write.parquet(ppath)
    clicks = spark.readStream.schema(SCHEMA).parquet(cpath)
    purchases = spark.readStream.schema(SCHEMA).parquet(ppath)
    out = attribution_stream_join(clicks, purchases)
    q = (
        out.writeStream.format("memory")
        .queryName("wm_probe")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # the executed streaming plan must be a stateful symmetric hash
    # join with watermarks on both sides (state eviction wiring)
    progress = q.lastProgress
    assert progress is not None
    ops = progress["stateOperators"]
    assert any("symmetricHashJoin" in (op.get("operatorName") or "") for op in ops), ops
    assert progress["eventTime"] is not None

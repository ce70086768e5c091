"""End-to-end S1 → topology → sink through the Kafka-wire-shaped Python
DataSource (sources/logframe_ds.py): the closest executable stand-in for
the reference's production path (UniqueUsersApp.java:92-133) available
without a broker — keyed records, per-partition offsets, resumable
micro-batches, and the exact connector output schema."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from kafkastreamsjavachallenge_spark.sources.kafka import parse_log_frames
from kafkastreamsjavachallenge_spark.sources.logframe_ds import (
    LogFrameDataSource,
    write_topic_dir,
)
from kafkastreamsjavachallenge_spark.streaming.pipeline import (
    run_to_memory,
    streaming_unique_users,
)


@pytest.fixture(scope="module")
def registered(spark):
    spark.dataSource.register(LogFrameDataSource)
    return spark


def _mk_records(n=300, users=7, t0=1_700_000_000):
    for i in range(n):
        ts = t0 + i * 13  # crosses several minute windows
        uid = f"u{i % users}"
        yield (str(ts), json.dumps({"ts": ts, "uid": uid}), ts)


def test_batch_read_matches_kafka_wire_schema(registered, tmp_path):
    spark = registered
    topic = write_topic_dir(str(tmp_path / "t"), _mk_records(50), n_partitions=3)
    df = spark.read.format("logframes").option("path", topic).load()
    assert [f.name for f in df.schema.fields] == [
        "key", "value", "topic", "partition", "offset", "timestamp", "timestampType",
    ]
    rows = df.collect()
    assert len(rows) == 50
    # offsets are dense per partition, keys/values are bytes
    by_part = {}
    for r in rows:
        assert isinstance(r["key"], (bytes, bytearray))
        assert isinstance(r["value"], (bytes, bytearray))
        by_part.setdefault(r["partition"], []).append(r["offset"])
    for offs in by_part.values():
        assert sorted(offs) == list(range(len(offs)))


def test_parse_log_frames_payload_and_key_paths_agree(registered, tmp_path):
    """On well-formed keyed records the payload-ts default and the
    reference's key-derived extractor (LogFrameTimestampExtractor.java:8-14)
    must produce identical typed frames."""
    spark = registered
    topic = write_topic_dir(str(tmp_path / "t"), _mk_records(120), n_partitions=2)
    raw = spark.read.format("logframes").option("path", topic).load()
    a = parse_log_frames(raw).orderBy("ts", "uid").collect()
    b = parse_log_frames(raw, ts_from_key=True).orderBy("ts", "uid").collect()
    assert a == b
    assert len(a) == 120


def test_streaming_topology_end_to_end(registered, tmp_path):
    """S1 (logframes stream) → dedup → 1-minute windowed unique count →
    memory S2: the full reference topology on a Kafka-shaped source equals
    the batch computation over the same records."""
    spark = registered
    topic = write_topic_dir(str(tmp_path / "t"), _mk_records(300), n_partitions=4)
    stream = spark.readStream.format("logframes").option("path", topic).load()
    frames = parse_log_frames(stream)
    result = streaming_unique_users(frames, ts_col="ts", uid_col="uid")
    got = run_to_memory(result, output_mode="update")

    batch_frames = parse_log_frames(
        spark.read.format("logframes").option("path", topic).load()
    )
    want = (
        batch_frames.groupBy(F.window("ts", "1 minute").alias("w"))
        .agg(F.countDistinct("uid").alias("unique_users"))
        .select(F.col("w.start").alias("window_start"), "unique_users")
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_streaming_resumes_from_committed_offsets(registered, tmp_path):
    """Micro-batch resumability (the Kafka consumer-offset analog): a
    second availableNow run over the same checkpoint serves ONLY records
    appended after the first run."""
    spark = registered
    tdir = str(tmp_path / "t")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    write_topic_dir(tdir, _mk_records(100), n_partitions=2)

    def drain():
        stream = spark.readStream.format("logframes").option("path", tdir).load()
        frames = parse_log_frames(stream)
        q = (
            frames.writeStream.format("parquet")
            .outputMode("append")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return spark.read.parquet(out).count()

    assert drain() == 100
    # append 40 more records (same files grow, like a live topic)
    write_topic_dir(tdir, _mk_records(40, t0=1_700_100_000), n_partitions=2)
    # second run over the same checkpoint serves only the appended slice
    assert drain() == 140

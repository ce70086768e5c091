"""Kafka source/sink wiring — the reference's S1/S2 surface
(UniqueUsersApp.java:92,133; config.properties:1-5).

The log-frames record contract (README.md:18-23): JSON values
``{"ts": <unix-seconds>, "uid": "..."}``; the reference takes event time
from the stringified-minute *key* (LogFrameTimestampExtractor.java:8-14).
Default here: payload ``ts`` (authoritative upstream, README.md:111) with
malformed rows filtered (SURVEY.md §1.3.3).  For bit-for-bit replay of the
reference's keyed topics, ``parse_log_frames(ts_from_key=True,
malformed="epoch0")`` reproduces the extractor including its epoch-0
NumberFormatException fallback.

No broker exists in the test container, so these builders are exercised for
plan construction only.  End-to-end behavior with Kafka record semantics —
keyed binary records, per-partition offsets, resumable micro-batches, the
connector's exact output schema — runs through the logframes Python
DataSource (sources/logframe_ds.py, tests/test_logframe_source.py), which
``parse_log_frames`` consumes unchanged; the plain file source
(streaming/pipeline.py) covers the operator surface downstream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from kafkastreamsjavachallenge_spark.streaming.sinks import _start

LOG_FRAME_SCHEMA = StructType(
    [
        StructField("ts", LongType()),  # unix seconds (README.md:23)
        StructField("uid", StringType()),
    ]
)


def read_log_frames(
    spark: SparkSession,
    brokers: str,
    topic: str,
    starting_offsets: str = "earliest",
    ts_from_key: bool = False,
    malformed: str = "drop",
) -> DataFrame:
    """S1: subscribe to the log-frames topic and parse the JSON value.

    Returns columns (ts: timestamp, uid: string), malformed records dropped
    — the Spark-first form of processRecord + filterNot
    (UniqueUsersApp.java:113-114,206-216).  See ``parse_log_frames`` for
    the ``ts_from_key`` / ``malformed`` replay-compatibility options.
    """
    raw = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", brokers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .load()
    )
    return parse_log_frames(raw, ts_from_key=ts_from_key, malformed=malformed)


# Java Long.parseLong accepts an optional sign followed by digits only —
# no whitespace, no decimals.  Spark's cast is laxer (trims, parses
# floats), so the key path guards with this regexp to diverge on exactly
# the inputs the reference's NumberFormatException catch diverges on.
_LONG_RE = r"^[+-]?\d+$"


def parse_log_frames(
    raw: DataFrame, ts_from_key: bool = False, malformed: str = "drop"
) -> DataFrame:
    """value bytes → typed (ts, uid); shared by Kafka and test sources.

    ``ts_from_key=False`` (default): event time from the payload ``ts``
    field — authoritative upstream (README.md:111, SURVEY.md §1.3.3).

    ``ts_from_key=True``: event time from the record *key* parsed as unix
    seconds × 1000 ms, exactly the reference's extractor
    (LogFrameTimestampExtractor.java:8-14).  For a user replaying the
    reference's keyed topics bit-for-bit.

    ``malformed`` (key mode only): ``"drop"`` filters records whose key
    fails Long.parseLong; ``"epoch0"`` maps them to epoch 0 instead —
    the reference's NumberFormatException fallback
    (LogFrameTimestampExtractor.java:12-13) — so windowed results place
    them in the 1970-01-01 00:00 window just as the reference does.
    """
    if malformed not in ("drop", "epoch0"):
        raise ValueError(f"malformed must be 'drop' or 'epoch0', got {malformed!r}")
    j = F.from_json(F.col("value").cast("string"), LOG_FRAME_SCHEMA).alias("j")
    if ts_from_key:
        key_sec = F.when(
            F.col("key").cast("string").rlike(_LONG_RE),
            F.col("key").cast("string").try_cast("bigint"),
        )
        if malformed == "epoch0":
            key_sec = F.coalesce(key_sec, F.lit(0))
        parsed = raw.select(F.timestamp_seconds(key_sec).alias("ts"), j)
        ts = F.col("ts")
    else:
        parsed = raw.select(j)
        ts = F.timestamp_seconds(F.col("j.ts"))
    return (
        parsed.select(ts.alias("ts"), F.col("j.uid").alias("uid"))
        .filter(F.col("ts").isNotNull() & F.col("uid").isNotNull() & (F.col("uid") != ""))
    )


def write_counts(
    result: DataFrame,
    brokers: str,
    topic: str,
    checkpoint: str,
    output_mode: str = "update",
):
    """S2: produce (key = window-start unix-seconds string, value = count
    string) — the reference's output record shape
    (UniqueUsersApp.java:125,130,133).  The topology's state stores are
    sized by the one-per-core rule (``streaming/sinks.py _start``)."""
    out = result.select(
        F.unix_timestamp("window_start").cast("string").alias("key"),
        F.col("unique_users").cast("string").alias("value"),
    )
    writer = (
        out.writeStream.format("kafka")
        .option("kafka.bootstrap.servers", brokers)
        .option("topic", topic)
        .outputMode(output_mode)
    )
    return _start(writer, result.sparkSession, checkpoint)

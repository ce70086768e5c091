"""Streaming sinks beyond the Kafka producer (sources/kafka.py write_counts
covers S2, UniqueUsersApp.java:133): parquet files, memory (tests), and
the foreachBatch escape hatch for sinks Spark has no native writer for.

Scale notes:
- State sizing: every sink here, ``write_counts`` and ``run_to_memory``
  start their query through ``_start``, which sizes the stateful
  operators' stores as ``max(8, defaultParallelism)`` (one per core)
  instead of the session's relational shuffle setting; only
  ``run_to_memory`` lets the caller pick another count.
- The file sink is exactly-once per partition via the sink log; partition
  the output by a low-cardinality time-derived column so downstream scans
  partition-prune (never by a high-cardinality key — small-files blowup).
- foreachBatch gets a *batch* DataFrame: anything legal in batch (merge,
  jdbc, multi-sink fan-out) works, at-least-once unless the target is
  idempotent on (batch_id, key).
"""

from __future__ import annotations

import threading
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

_SHUFFLE_PARTITIONS = "spark.sql.shuffle.partitions"
# Held across set -> start() -> restore so two threads starting queries on
# one session cannot restore each other's value.
_START_LOCK = threading.Lock()


def _start(
    writer: DataStreamWriter,
    spark: SparkSession,
    state_partitions: int | str | None,
) -> StreamingQuery:
    """Start ``writer`` with its stateful operators sized to
    ``state_partitions``.

    A streaming query's state-store count is the shuffle-partition conf
    live when the query is constructed: ``start()`` clones the session for
    the stream, and the first micro-batch pins the count in the
    checkpoint's offset log (a resumed query keeps the pinned count).
    Every micro-batch commits every store, so the count should track
    state-key cardinality × executors, not the relational shuffle setting
    (a vanilla session's 200 means 200 commits per stateful operator per
    batch, even for tiny state).  ``"auto"`` uses
    ``max(8, defaultParallelism)``, one store per core; an int pins the
    count; ``None`` inherits the live conf.  The session's own value is
    restored as soon as ``start()`` returns, so batch queries planned on
    the session while the stream runs see the user's setting.  Inside the
    stream the count applies to every shuffle, including those a
    foreachBatch function runs on its batch DataFrame.
    """
    if state_partitions is None:
        return writer.start()
    if state_partitions == "auto":
        state_partitions = max(8, spark.sparkContext.defaultParallelism)
    with _START_LOCK:
        saved = spark.conf.get(_SHUFFLE_PARTITIONS)
        spark.conf.set(_SHUFFLE_PARTITIONS, str(state_partitions))
        try:
            return writer.start()
        finally:
            spark.conf.set(_SHUFFLE_PARTITIONS, saved)


def to_parquet_files(
    result: DataFrame,
    path: str,
    checkpoint: str,
    partition_by: list[str] | None = None,
    output_mode: str = "append",
    available_now: bool = True,
):
    """File sink: append-mode parquet with optional partition columns.
    State stores are sized by the ``"auto"`` rule (``_start``)."""
    w = (
        result.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .outputMode(output_mode)
    )
    if partition_by:
        w = w.partitionBy(*partition_by)
    if available_now:
        w = w.trigger(availableNow=True)
    return _start(w, result.sparkSession, "auto")


def for_each_batch(
    result: DataFrame,
    fn: Callable[[DataFrame, int], None],
    checkpoint: str,
    output_mode: str = "update",
    available_now: bool = True,
):
    """foreachBatch sink: ``fn(batch_df, batch_id)`` per micro-batch.

    State stores are sized by the ``"auto"`` rule (``_start``).  The
    stream runs on the session copy ``start()`` makes, so shuffles ``fn``
    runs on ``batch_df`` also plan with that count (and, as in any Spark
    stream, without adaptive execution), not the session's
    ``spark.sql.shuffle.partitions``; ``fn`` can repartition explicitly
    when it needs another count."""
    w = (
        result.writeStream.foreachBatch(fn)
        .option("checkpointLocation", checkpoint)
        .outputMode(output_mode)
    )
    if available_now:
        w = w.trigger(availableNow=True)
    return _start(w, result.sparkSession, "auto")

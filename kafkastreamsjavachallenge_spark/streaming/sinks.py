"""Streaming sinks beyond the Kafka producer (sources/kafka.py write_counts
covers S2, UniqueUsersApp.java:133): parquet files, memory (tests), and
the foreachBatch escape hatch for sinks Spark has no native writer for.

Scale notes:
- Query start: every sink here, ``write_counts`` and ``run_to_memory``
  start their query through ``_start``, which sets the checkpoint
  location and applies two per-query rules while ``start()`` runs.
- State sizing: the stateful operators' stores are sized as
  ``max(8, defaultParallelism)`` (one per core) instead of the session's
  relational shuffle setting; only ``run_to_memory`` lets the caller pick
  another count.
- Checkpoint writer: a checkpoint on the local file system is written
  through Spark's FileSystem-based checkpoint manager instead of the
  FileContext one.  Without the native Hadoop library every local file
  create and rename starts ``chmod``/``readlink`` helper processes, and
  FileContext starts about five times as many per file; a micro-batch
  writes ≈ 20 checkpoint files.  Checkpoints on any other file system,
  and sessions that name their own manager, keep the session's manager
  (HDFS relies on FileContext's atomic rename-with-overwrite).
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
from urllib.parse import urlsplit

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

_SHUFFLE_PARTITIONS = "spark.sql.shuffle.partitions"
_CHECKPOINT_MANAGER = "spark.sql.streaming.checkpointFileManagerClass"
_FS_CHECKPOINT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)
# Held across set -> start() -> restore so two threads starting queries on
# one session cannot restore each other's values.
_START_LOCK = threading.Lock()


def _is_local_path(spark: SparkSession, path: str) -> bool:
    """Whether ``path`` resolves to Hadoop's local file system: a ``file:``
    URI, or a scheme-less path while ``fs.defaultFS`` is ``file:``."""
    scheme = urlsplit(path).scheme
    if not scheme:
        default_fs = (
            spark._jsparkSession.sessionState().newHadoopConf().get("fs.defaultFS")
        )
        scheme = urlsplit(default_fs or "file:///").scheme
    return scheme.lower() == "file"


def _start(
    writer: DataStreamWriter,
    spark: SparkSession,
    state_partitions: int | str | None,
    checkpoint: str,
) -> StreamingQuery:
    """Start ``writer`` checkpointed at ``checkpoint``, with its stateful
    operators sized to ``state_partitions`` and a local checkpoint written
    through the FileSystem-based checkpoint manager.

    State count: a streaming query's state-store count is the
    shuffle-partition conf live when the query is constructed: ``start()``
    clones the session for the stream, and the first micro-batch pins the
    count in the checkpoint's offset log (a resumed query keeps the pinned
    count).  Every micro-batch commits every store, so the count should
    track state-key cardinality × executors, not the relational shuffle
    setting (a vanilla session's 200 means 200 commits per stateful
    operator per batch, even for tiny state).  ``"auto"`` uses
    ``max(8, defaultParallelism)``, one store per core; an int pins the
    count; ``None`` inherits the live conf.  Inside the stream the count
    applies to every shuffle, including those a foreachBatch function runs
    on its batch DataFrame.

    Checkpoint manager: when ``checkpoint`` is on the local file system
    (``_is_local_path``) and the session names no manager class,
    ``spark.sql.streaming.checkpointFileManagerClass`` is set to the
    FileSystem-based manager.  ``start()`` builds the offset and commit
    logs under it, and the state stores run on the stream's session clone,
    which keeps it.  Without the native Hadoop library a local file costs
    ≈ 4 helper-process starts this way against ≈ 20 through the default
    FileContext manager.  A local ``rename(2)`` is atomic under either
    manager and both write the same files, so checkpoints written under
    one resume under the other.  Other file systems keep the session's
    value: HDFS relies on FileContext's atomic rename-with-overwrite.
    The file source's own log (``sources/N``) is built later from the
    caller's session and stays on the session's manager.

    Both confs hold their values only while ``start()`` runs and are
    restored (or unset) as soon as it returns, so batch queries planned
    on the session while the stream runs see the user's settings.
    """
    writer = writer.option("checkpointLocation", checkpoint)
    if state_partitions == "auto":
        state_partitions = max(8, spark.sparkContext.defaultParallelism)
    overrides = {}
    if state_partitions is not None:
        overrides[_SHUFFLE_PARTITIONS] = str(state_partitions)
    with _START_LOCK:
        if spark.conf.get(_CHECKPOINT_MANAGER, None) is None and _is_local_path(
            spark, checkpoint
        ):
            overrides[_CHECKPOINT_MANAGER] = _FS_CHECKPOINT_MANAGER
        saved = {k: spark.conf.get(k, None) for k in overrides}
        for k, v in overrides.items():
            spark.conf.set(k, v)
        try:
            return writer.start()
        finally:
            for k, v in saved.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)


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
        .outputMode(output_mode)
    )
    if partition_by:
        w = w.partitionBy(*partition_by)
    if available_now:
        w = w.trigger(availableNow=True)
    return _start(w, result.sparkSession, "auto", checkpoint)


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
    w = result.writeStream.foreachBatch(fn).outputMode(output_mode)
    if available_now:
        w = w.trigger(availableNow=True)
    return _start(w, result.sparkSession, "auto", checkpoint)

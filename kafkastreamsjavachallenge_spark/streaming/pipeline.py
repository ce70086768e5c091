"""The reference topology as Structured Streaming
(UniqueUsersApp.java:91-134 → readStream → dedup → windowed count →
writeStream).

Emission semantics (SURVEY.md §1.3.2):
- ``update`` mode  = the shipped reference behavior (record cache 0 →
  one changelog update per accepted record, UniqueUsersApp.java:76).
- ``append`` mode + watermark = the intended suppressed behavior the
  reference attempted via ``.suppress`` (X1, UniqueUsersApp.java:119,158);
  Spark's watermark gives the bounded state the reference's broken RocksDB
  retention never delivered (README.md:196).

Streaming exact count-distinct is disallowed in Spark, so we use the
reference's own trick (D1→A2): watermarked dropDuplicates on
[window, uid], then count per window — semantically identical to the
WindowStore probe at DeduplicateValueTransformer.java:40-44.
"""

from __future__ import annotations

import json
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafkastreamsjavachallenge_spark.operators.windows import with_event_time
from kafkastreamsjavachallenge_spark.session import scratch_dir
from kafkastreamsjavachallenge_spark.streaming.sinks import _start


def streaming_unique_users(
    stream: DataFrame,
    ts_col: str = "ts",
    uid_col: str = "user_id",
    duration: str = "1 minute",
    watermark: str = "1 minute",
) -> DataFrame:
    """Unique uids per tumbling window over a streaming DataFrame.

    dropDuplicates on [window, uid] — the window STRUCT, not its start
    field — then a windowed count of first-occurrences: exact distinct
    without countDistinct.  The struct is load-bearing for state
    eviction (the fix for the reference's unbounded store growth,
    README.md:196): Spark's streaming dedup evicts a key only when the
    dedup columns include THE event-time column, and the ``window()``
    struct carries the watermark metadata through the projection while
    a plain ``w.start`` column does not — dedup on [window_start, uid]
    returns identical counts but its state grows forever (one key per
    (window, user) pair over all time; caught by the 5M-event RocksDB
    metrics test in tests/test_scale.py, which pins numRowsRemoved > 0
    and a live-windows state bound for this exact topology).
    ``dropDuplicatesWithinWatermark`` is NOT equivalent here: its keys
    expire ``delay`` after first sight regardless of window membership,
    re-admitting same-window duplicates whenever a window outlives the
    watermark lag (observed 2x counts on batch-boundary windows).
    """
    stream = with_event_time(stream, ts_col)
    w = F.window(F.col(ts_col), duration)
    deduped = (
        stream.withWatermark(ts_col, watermark)
        .withColumn("window", w)
        .dropDuplicates(["window", uid_col])
    )
    return (
        deduped.groupBy("window")
        .agg(F.count(F.lit(1)).alias("unique_users"))
        .select(F.col("window.start").alias("window_start"), "unique_users")
    )


def file_stream(
    spark: SparkSession,
    path: str,
    schema,
    fmt: str = "parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-based micro-batch source (the test stand-in for Kafka S1)."""
    r = spark.readStream.schema(schema).format(fmt)
    if max_files_per_trigger:
        r = r.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return r.load(path)


def stream_static_enrich(
    stream: DataFrame,
    dim: DataFrame,
    on,
    how: str = "inner",
    broadcast_dim: bool = True,
) -> DataFrame:
    """Stream-static enrichment join.

    The static side is re-read per micro-batch by the engine; broadcasting
    it keeps the stream side shuffle-free — at 100 TB the stream partitions
    never move, only the (small) dimension ships.  For large dimensions set
    ``broadcast_dim=False`` and pre-bucket both sides on the join key.
    """
    d = F.broadcast(dim) if broadcast_dim else dim
    return stream.join(d, on=on, how=how)


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    on,
    left_ts: str,
    right_ts: str,
    watermark: str = "1 minute",
    interval: str = "1 minute",
    how: str = "inner",
) -> DataFrame:
    """Watermarked stream-stream join with a bounded event-time interval.

    Both sides carry watermarks and the join predicate bounds
    ``right_ts`` to [left_ts - interval, left_ts + interval] so the engine
    can evict state — unbounded stream-stream joins never GC (the same
    failure mode as the reference's broken store retention, README.md:196).
    """
    lw = with_event_time(left, left_ts).withWatermark(left_ts, watermark)
    rw = with_event_time(right, right_ts).withWatermark(right_ts, watermark)
    bound = (
        (F.col(right_ts) >= F.col(left_ts) - F.expr(f"INTERVAL {interval}"))
        & (F.col(right_ts) <= F.col(left_ts) + F.expr(f"INTERVAL {interval}"))
    )
    return lw.join(rw, on=on & bound, how=how)


def streaming_sliding_counts(
    stream: DataFrame,
    ts_col: str = "ts",
    duration: str = "2 minutes",
    slide: str = "1 minute",
    watermark: str = "2 minutes",
) -> DataFrame:
    """Sliding-window event counts over a stream (beyond the reference's
    tumbling-only surface, SURVEY.md §2.2)."""
    stream = with_event_time(stream, ts_col)
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), duration, slide).alias("window"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("window.start").alias("window_start"), "n")
    )


def streaming_session_counts(
    stream: DataFrame,
    ts_col: str = "ts",
    gap: str = "5 minutes",
    key: str = "user_id",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Gap-based session windows over a stream (the session extension of
    SURVEY.md §2.2; reference is tumbling-only).  The engine merges
    adjacent session fragments across micro-batches; watermark bounds the
    merge state."""
    stream = with_event_time(stream, ts_col)
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.col(key), F.session_window(F.col(ts_col), gap).alias("session"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(key, F.col("session.start").alias("session_start"), "n")
    )


def run_to_memory(
    result: DataFrame,
    output_mode: str = "update",
    query_name: str | None = None,
    checkpoint: str | None = None,
) -> DataFrame:
    """Execute a streaming result with availableNow into a memory sink and
    return the sink contents as a batch DataFrame.

    availableNow processes all currently-available input then stops —
    letting the batch-oriented harness exercise the streaming engine.

    The stateful operators get one state store per core, the rule every
    streaming sink shares (``streaming/sinks.py _start``), so a vanilla
    session's 200 shuffle partitions never become 200 state-store commits
    per batch.  The session's shuffle-partitions conf is restored as soon
    as ``start()`` returns, not after the drain.

    ``checkpoint`` overrides the throwaway temp checkpoint dir — pass a
    durable location to resume across runs (production S2 path does the
    same via write_counts' checkpointLocation).
    """
    table, _q = _drain_to_memory(result, output_mode, query_name, checkpoint)
    return table


def _drain_to_memory(
    result: DataFrame,
    output_mode: str,
    query_name: str | None,
    checkpoint: str | None,
):
    """Shared drain core for run_to_memory / run_with_observed: start the
    availableNow memory-sink query under the state-partition rule
    (``sinks._start``), await termination, and delete a THROWAWAY
    checkpoint (the drain is complete and the memory sink owns the
    results; durable caller-passed checkpoints are kept).  Returns (sink
    DataFrame, the terminated StreamingQuery — still readable for
    recentProgress)."""
    import shutil

    spark = result.sparkSession
    name = query_name or f"q_{uuid.uuid4().hex[:8]}"
    throwaway = checkpoint is None
    ckpt = checkpoint or scratch_dir("ckpt_")
    try:
        writer = (
            result.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
        )
        q = _start(writer, spark, ckpt)
        q.awaitTermination()
    finally:
        if throwaway:
            shutil.rmtree(ckpt, ignore_errors=True)
    return spark.table(name), q


def run_with_observed(
    result: DataFrame,
    metric_name: str,
    output_mode: str = "update",
) -> tuple[DataFrame, list[dict]]:
    """run_to_memory plus the per-micro-batch observed metrics attached
    upstream with ``operators/observe.py with_stream_metrics``.

    Returns (sink contents, one dict per micro-batch that carried the
    named metrics).  The metrics ride the job — no extra pass over the
    stream, and on a cluster they aggregate across executors exactly like
    any other agg."""
    table, q = _drain_to_memory(result, output_mode, None, None)
    observed = [
        p["observedMetrics"][metric_name]
        for p in (json.loads(pj) for pj in (pr.json for pr in q.recentProgress))
        if p.get("observedMetrics", {}).get(metric_name) is not None
    ]
    return table, observed

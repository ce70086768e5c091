"""Event-time windowing operators — the reference's core surface.

Reference parity (citations into /root/reference/):
- Tumbling 1-minute windows: UniqueUsersApp.java:96-97,116 (W1).
- Stateful windowed dedup:   DeduplicateValueTransformer.java:38-48 (D1).
- Windowed count:            UniqueUsersApp.java:128-129 (A2).
- Flagship unique-users:     UniqueUsersApp.java:91-134 (A3); the
  reference's own batch-Spark oracle is README.md:55-56.
- HashSet set-union agg:     UniqueUsersApp.java:173-191 (A4).

Scale design: every tumbling operator here groups on the integer window
start — a single shuffle on (window start, key) with map-side partial
aggregation.  The reference's producer-side co-partitioning by minute
(README.md:90-105) is subsumed by the shuffle; AQE coalesces/splits
partitions at runtime, and watermarks (in the streaming layer) bound state
where the reference's RocksDB retention was broken (README.md:196).
"""

from __future__ import annotations

from decimal import Decimal

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType, TimestampType


def with_event_time(df: DataFrame, ts_col: str = "ts", path: str | None = None) -> DataFrame:
    """Normalize a parquet-typed event-time column to TimestampType — the
    engine's one event-time rule, as the reference has one timestamp
    extractor (LogFrameTimestampExtractor.java:8-14).  The catalog and
    every stream reader go through it; ``withWatermark`` and
    ``unix_micros`` need TimestampType.  Drops no rows.

    - ``timestamp_ntz`` (parquet TIMESTAMP without a UTC annotation): the
      parquet file ``df`` was read from at ``path`` read again with the
      column typed TIMESTAMP (no per-row zone conversion), else a cast.
      The session timezone is pinned to UTC (session.py), so both keep
      the values of DuckDB's naive read of the same file.
    - ``bigint`` (parquet TIMESTAMP(NANOS) read as long under the
      session's ``nanosAsLong``): integer division to microseconds,
      truncating the way DuckDB does.
    - ``timestamp`` and every other type: the same DataFrame.

    Unix-seconds JSON frames are parsed at the ingest edge
    (sources/kafka.py ``parse_log_frames``), not here.
    """
    dt = dict(df.dtypes).get(ts_col)
    if dt == "timestamp_ntz" and path is not None:
        ts = StructField(ts_col, TimestampType(), df.schema[ts_col].nullable)
        schema = StructType([ts if f.name == ts_col else f for f in df.schema])
        return df.sparkSession.read.schema(schema).parquet(path)
    if dt == "timestamp_ntz":
        return df.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    if dt == "bigint":
        return df.withColumn(ts_col, F.expr(f"timestamp_micros({ts_col} div 1000)"))
    return df


def _on_window_start(df: DataFrame, ts_col: str, duration: str, op) -> DataFrame:
    """``op`` on the rows with an event time, keyed on ``window_start``, the
    integer microsecond start of ``F.window``'s tumbling window (same width
    parser, ``pmod`` rounds pre-1970 times down, same null filter), which
    the output turns into a timestamp."""
    tw = df.sparkSession._jvm.org.apache.spark.sql.catalyst.expressions.TimeWindow
    width = tw.getIntervalInMicroSeconds(duration)
    if width <= 0:
        raise ValueError(f"window duration must be positive: {duration!r}")
    us = F.unix_micros(F.col(ts_col))
    df = with_event_time(df, ts_col).filter(F.col(ts_col).isNotNull())
    out = op(df.withColumn("window_start", us - F.pmod(us, F.lit(width))))
    seconds = F.col("window_start") * F.lit(Decimal("0.000001"))  # exact to the microsecond
    return out.withColumn("window_start", F.timestamp_seconds(seconds))


def sliding(df: DataFrame, ts_col: str, duration: str, slide: str) -> DataFrame:
    """Overlapping windows; each row lands in duration/slide windows."""
    return df.withColumn("window", F.window(F.col(ts_col), duration, slide))


def windowed_count(
    df: DataFrame, ts_col: str, duration: str, *keys: str
) -> DataFrame:
    """Count per (window, keys) — A2.  One shuffle, partial agg map-side."""
    n = F.count(F.lit(1)).alias("n")
    return _on_window_start(df, ts_col, duration, lambda w: w.groupBy("window_start", *keys).agg(n))


def windowed_dedup(
    df: DataFrame, ts_col: str, duration: str, *keys: str
) -> DataFrame:
    """First-occurrence pass-through per (window, keys) — D1.

    Batch equivalent of the reference's WindowStore probe
    (DeduplicateValueTransformer.java:40-44): dedup keyed on
    [window, keys].  In streaming this becomes
    ``withWatermark(...).dropDuplicates`` with watermark-bounded state.
    """
    return _on_window_start(df, ts_col, duration, lambda w: w.dropDuplicates(["window_start", *keys]))


def unique_users(
    df: DataFrame,
    ts_col: str = "ts",
    uid_col: str = "user_id",
    duration: str = "1 minute",
) -> DataFrame:
    """The flagship: exact unique-uid count per tumbling window (A3).

    Matches the reference's own batch oracle (README.md:55-56):
    groupBy(minute) → countDistinct(uid).  Physically: Catalyst's two-phase
    distinct on the integer window start, then the rows, one per window,
    sorted in one partition, which needs no range-sampling job.
    """
    n = F.countDistinct(F.col(uid_col)).alias("unique_users")
    out = _on_window_start(df, ts_col, duration, lambda w: w.groupBy("window_start").agg(n))
    return out.repartition(1).sortWithinPartitions("window_start")


def unique_users_approx(
    df: DataFrame,
    ts_col: str = "ts",
    uid_col: str = "user_id",
    duration: str = "1 minute",
    rsd: float = 0.05,
) -> DataFrame:
    """Approximate variant (HLL++) — the scale path for 100 TB: constant
    memory per window instead of a distinct-set shuffle."""
    n = F.approx_count_distinct(uid_col, rsd).alias("approx_unique_users")
    return _on_window_start(df, ts_col, duration, lambda w: w.groupBy("window_start").agg(n))


def collect_uid_set(
    df: DataFrame,
    ts_col: str = "ts",
    uid_col: str = "user_id",
    duration: str = "1 minute",
) -> DataFrame:
    """Set-union aggregate per window (A4, HashSetStringSerde variant).

    ``collect_set`` is the Tungsten-native HashSet<String>; we emit the
    sorted pipe-joined form (the reference's serde wire format,
    HashSetStringSerde.java:20-27) plus its size.  Sorting makes output
    deterministic; at scale prefer unique_users() which never materializes
    the set per row.
    """
    uids = F.sort_array(F.collect_set(F.col(uid_col).cast("string"))).alias("uids")
    out = _on_window_start(df, ts_col, duration, lambda w: w.groupBy("window_start").agg(uids))
    return out.select(
        "window_start",
        F.concat_ws("|", F.col("uids")).alias("uid_list"),
        F.size(F.col("uids")).alias("n_unique"),
    )


def session_windows(
    df: DataFrame, ts_col: str, gap: str, *keys: str
) -> DataFrame:
    """Session windows (gap-based) per key — extension beyond the
    reference's tumbling-only surface (SURVEY.md §2.2)."""
    return (
        df.groupBy(*keys, F.session_window(F.col(ts_col), gap).alias("session"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            *keys,
            F.col("session.start").alias("session_start"),
            F.col("session.end").alias("session_end"),
            "n",
        )
    )

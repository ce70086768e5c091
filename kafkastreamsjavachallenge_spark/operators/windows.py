"""Event-time windowing operators — the reference's core surface.

Reference parity (citations into /root/reference/):
- Tumbling 1-minute windows: UniqueUsersApp.java:96-97,116 (W1).
- Stateful windowed dedup:   DeduplicateValueTransformer.java:38-48 (D1).
- Windowed count:            UniqueUsersApp.java:128-129 (A2).
- Flagship unique-users:     UniqueUsersApp.java:91-134 (A3); the
  reference's own batch-Spark oracle is README.md:55-56.
- HashSet set-union agg:     UniqueUsersApp.java:173-191 (A4).

Scale design: every operator here is a groupBy over ``F.window`` — a single
shuffle on (window, key) with map-side partial aggregation.  The reference's
producer-side co-partitioning by minute (README.md:90-105) is subsumed by
the shuffle; AQE coalesces/splits partitions at runtime, and watermarks (in
the streaming layer) bound state where the reference's RocksDB retention was
broken (README.md:196).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def with_event_time(df: DataFrame, ts_col: str = "ts") -> DataFrame:
    """Normalize a parquet-typed event-time column to TimestampType — the
    engine's one event-time rule, as the reference has one timestamp
    extractor (LogFrameTimestampExtractor.java:8-14).  The catalog and
    every stream reader go through it; ``withWatermark`` and
    ``unix_micros`` need TimestampType.  Drops no rows.

    - ``timestamp_ntz`` (parquet TIMESTAMP without a UTC annotation):
      cast.  The session timezone is pinned to UTC (session.py), so the
      cast keeps the values of DuckDB's naive read of the same file.
    - ``bigint`` (parquet TIMESTAMP(NANOS) read as long under the
      session's ``nanosAsLong``): integer division to microseconds,
      truncating the way DuckDB does.
    - ``timestamp`` and every other type: the same DataFrame.

    Unix-seconds JSON frames are parsed at the ingest edge
    (sources/kafka.py ``parse_log_frames``), not here.
    """
    dt = dict(df.dtypes).get(ts_col)
    if dt == "timestamp_ntz":
        return df.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    if dt == "bigint":
        return df.withColumn(ts_col, F.expr(f"timestamp_micros({ts_col} div 1000)"))
    return df


def tumbling(df: DataFrame, ts_col: str, duration: str) -> DataFrame:
    """Assign non-overlapping event-time windows (W1).

    Adds ``window_start`` / ``window_end`` columns.  Pure projection — no
    shuffle until a downstream groupBy.
    """
    w = F.window(F.col(ts_col), duration)
    return df.withColumn("window_start", w.start).withColumn("window_end", w.end)


def sliding(df: DataFrame, ts_col: str, duration: str, slide: str) -> DataFrame:
    """Overlapping windows; each row lands in duration/slide windows."""
    return df.withColumn("window", F.window(F.col(ts_col), duration, slide))


def windowed_count(
    df: DataFrame, ts_col: str, duration: str, *keys: str
) -> DataFrame:
    """Count per (window, keys) — A2.  One shuffle, partial agg map-side."""
    return (
        df.groupBy(F.window(F.col(ts_col), duration).alias("window"), *keys)
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("window.start").alias("window_start"), *keys, "n")
    )


def windowed_dedup(
    df: DataFrame, ts_col: str, duration: str, *keys: str
) -> DataFrame:
    """First-occurrence pass-through per (window, keys) — D1.

    Batch equivalent of the reference's WindowStore probe
    (DeduplicateValueTransformer.java:40-44): dedup keyed on
    [window, keys].  In streaming this becomes
    ``withWatermark(...).dropDuplicates`` with watermark-bounded state.
    """
    w = F.window(F.col(ts_col), duration)
    return (
        df.withColumn("window_start", w.start)
        .dropDuplicates(["window_start", *keys])
    )


def unique_users(
    df: DataFrame,
    ts_col: str = "ts",
    uid_col: str = "user_id",
    duration: str = "1 minute",
) -> DataFrame:
    """The flagship: exact unique-uid count per tumbling window (A3).

    Matches the reference's own batch oracle (README.md:55-56):
    groupBy(minute) → countDistinct(uid).  Physically: partial
    distinct-aggregation map-side, one shuffle on window, final agg —
    Catalyst plans the two-phase distinct automatically.
    """
    return (
        df.groupBy(F.window(F.col(ts_col), duration).alias("window"))
        .agg(F.countDistinct(F.col(uid_col)).alias("unique_users"))
        .select(F.col("window.start").alias("window_start"), "unique_users")
        .orderBy("window_start")
    )


def unique_users_approx(
    df: DataFrame,
    ts_col: str = "ts",
    uid_col: str = "user_id",
    duration: str = "1 minute",
    rsd: float = 0.05,
) -> DataFrame:
    """Approximate variant (HLL++) — the scale path for 100 TB: constant
    memory per window instead of a distinct-set shuffle."""
    return (
        df.groupBy(F.window(F.col(ts_col), duration).alias("window"))
        .agg(F.approx_count_distinct(uid_col, rsd).alias("approx_unique_users"))
        .select(F.col("window.start").alias("window_start"), "approx_unique_users")
    )


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
    uid_str = F.col(uid_col).cast("string")
    return (
        df.groupBy(F.window(F.col(ts_col), duration).alias("window"))
        .agg(F.sort_array(F.collect_set(uid_str)).alias("uids"))
        .select(
            F.col("window.start").alias("window_start"),
            F.concat_ws("|", F.col("uids")).alias("uid_list"),
            F.size(F.col("uids")).alias("n_unique"),
        )
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

"""Custom stateful streaming operator via applyInPandasWithState — the
reserve path SURVEY.md §4.2(b) keeps for semantics the built-in
dropDuplicates cannot express.

``stateful_windowed_dedup_counts`` reimplements the reference's
WindowStore probe (DeduplicateValueTransformer.java:28,40-47) literally:
explicit per-(window) state holding the set of seen uids, emitting the
updated unique count per window on every batch — the reference's cache=0
changelog behavior (UniqueUsersApp.java:76).

This exists to prove the custom-state surface; no query, sink or
benchmark runs it.  It has no watermark, so it counts far-late frames the
flagship drops and never evicts a window's state.  The production
flagship path remains withWatermark + dropDuplicates
(streaming/pipeline.py), which keeps state JVM-side and bounded.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

OUTPUT_SCHEMA = StructType(
    [
        StructField("window_start", TimestampType()),
        StructField("unique_users", LongType()),
    ]
)
STATE_SCHEMA = StructType([StructField("uids", ArrayType(StringType()))])


def _dedup_fn(key, pdfs: Iterator, state: GroupState):
    import pandas as pd

    (window_start,) = key
    seen = set(state.get[0]) if state.exists else set()
    for pdf in pdfs:
        seen.update(pdf["uid"].astype(str))
    state.update((list(seen),))
    yield pd.DataFrame({"window_start": [window_start], "unique_users": [len(seen)]})


def stateful_windowed_dedup_counts(
    stream: DataFrame,
    ts_col: str = "ts",
    uid_col: str = "user_id",
    duration: str = "1 minute",
) -> DataFrame:
    """Unique-uid count per tumbling window with explicit set state.

    Shuffles on window_start (the state key) — the same partitioning the
    reference achieved with producer-side minute keys (README.md:90-105).
    """
    keyed = stream.select(
        F.window(F.col(ts_col), duration).getField("start").alias("window_start"),
        F.col(uid_col).cast("string").alias("uid"),
    )
    return keyed.groupBy("window_start").applyInPandasWithState(
        _dedup_fn,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )

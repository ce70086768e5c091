"""applyInPandasWithState custom stateful dedup: multi-batch changelog
emission must converge to exact per-window unique counts."""

from __future__ import annotations

from pyspark.sql import functions as F

from kafkastreamsjavachallenge_spark.operators.windows import unique_users
from kafkastreamsjavachallenge_spark.streaming.pipeline import file_stream, run_to_memory
from kafkastreamsjavachallenge_spark.streaming.stateful import (
    stateful_windowed_dedup_counts,
)


def test_stateful_dedup_converges(spark, tmp_path):
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    base = dt.datetime(2024, 1, 1)
    # 3 micro-batches; uid reappears across batches within the same window
    batches = [
        [(base + dt.timedelta(seconds=s), f"u{u}") for s, u in
         [(0, 1), (10, 2), (70, 1)]],
        [(base + dt.timedelta(seconds=s), f"u{u}") for s, u in
         [(20, 1), (30, 3), (80, 1)]],  # u1 again in window 0 → no new count
        [(base + dt.timedelta(seconds=s), f"u{u}") for s, u in
         [(40, 4), (130, 9)]],
    ]
    for i, rows in enumerate(batches):
        tbl = pa.table(
            {
                "ts": pa.array([r[0] for r in rows], pa.timestamp("us")),
                "user_id": pa.array([r[1] for r in rows]),
            }
        )
        pq.write_table(tbl, str(tmp_path / f"b{i}.parquet"))

    schema = "ts TIMESTAMP, user_id STRING"
    stream = file_stream(spark, str(tmp_path), schema, max_files_per_trigger=1)
    out = stateful_windowed_dedup_counts(stream, "ts", "user_id")
    table = run_to_memory(out, output_mode="update")
    final = {
        r["window_start"]: r["unique_users"]
        for r in table.groupBy("window_start")
        .agg(F.max("unique_users").alias("unique_users"))
        .collect()
    }
    all_rows = [r for b in batches for r in b]
    batch_df = spark.createDataFrame(all_rows, schema)
    want = {
        r["window_start"]: r["unique_users"]
        for r in unique_users(batch_df, "ts", "user_id").collect()
    }
    assert final == want  # windows: {0:00: 4, 0:01: 1, 0:02: 1}
    assert want and sum(want.values()) == 6


"""Pin the BENCH_r02 crash class forever: the driver regenerates testdata
between rounds and the events.ts physical type has already drifted twice
(TIMESTAMP(NANOS) in round 1 → untagged TIMESTAMP(MICROS), i.e.
TIMESTAMP_NTZ to Spark 4, from round 2).  Round 2's bench lost the whole
round to EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE raised by one streaming
query.  This test rewrites events.parquet under BOTH observed drifts and
executes every bench headline query against each — any future drift of
this class fails here, not in the driver's bench run."""

from __future__ import annotations

import os
import shutil
import tempfile

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from tests.conftest import SF_DIR, TABLES

import bench


def _drifted_dir(ts_unit: str) -> str:
    """sf0.001 with events.ts rewritten at the given timestamp unit,
    other tables symlinked (read-only testdata is never touched)."""
    out = tempfile.mkdtemp(prefix=f"drift_{ts_unit}_")
    t = pq.read_table(os.path.join(SF_DIR, "events.parquet"))
    idx = t.schema.get_field_index("ts")
    cast = t.set_column(
        idx, pa.field("ts", pa.timestamp(ts_unit)),
        t.column("ts").cast(pa.timestamp(ts_unit)),
    )
    pq.write_table(cast, os.path.join(out, "events.parquet"))
    for name in TABLES:
        if name != "events":
            os.symlink(
                os.path.join(SF_DIR, f"{name}.parquet"),
                os.path.join(out, f"{name}.parquet"),
            )
    return out


@pytest.mark.parametrize("ts_unit", ["us", "ns"])
def test_headline_queries_survive_events_ts_drift(spark, ts_unit):
    """Every bench headline query builds AND executes against events.ts
    written as TIMESTAMP(MICROS)-untagged (reads as TIMESTAMP_NTZ) and
    TIMESTAMP(NANOS) — both drifts the driver has actually shipped."""
    from kafkastreamsjavachallenge_spark.queries import queries

    sf_dir = _drifted_dir(ts_unit)
    qs = queries()
    failures = []
    try:
        for name in bench.HEADLINE:
            try:
                qs[name](spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
            except Exception as exc:  # noqa: BLE001 — collecting all
                failures.append(f"{name}: {type(exc).__name__}: {exc}")
    finally:
        shutil.rmtree(sf_dir, ignore_errors=True)
    assert not failures, "\n".join(failures)


@pytest.fixture(scope="module")
def text_drifted_dir(tmp_path_factory):
    """documents as large_string / n_chars int32, embeddings as
    large_list<double> — the remaining plausible physical drifts of the
    text/vector tables under a regenerated writer."""
    d = str(tmp_path_factory.mktemp("drift_text"))
    for t in TABLES:
        src = f"{SF_DIR}/{t}.parquet"
        if t == "documents":
            tbl = pq.read_table(src)
            tbl = pa.table(
                {
                    "doc_id": tbl["doc_id"],
                    "text": tbl["text"].cast(pa.large_string()),
                    "lang": tbl["lang"],
                    "source": tbl["source"],
                    "n_chars": tbl["n_chars"].cast(pa.int32()),
                }
            )
            pq.write_table(tbl, f"{d}/{t}.parquet")
        elif t == "embeddings":
            tbl = pq.read_table(src)
            emb = tbl["embedding"].cast(pa.large_list(pa.float64()))
            pq.write_table(
                pa.table(
                    {"vec_id": tbl["vec_id"], "embedding": emb, "label": tbl["label"]}
                ),
                f"{d}/{t}.parquet",
            )
        else:
            shutil.copy(src, f"{d}/{t}.parquet")
    return d


def test_text_and_vector_queries_survive_physical_drift(spark, text_drifted_dir):
    """Representative text/vector queries execute under large_string /
    int32 / large_list<double> physical types without exception."""
    from kafkastreamsjavachallenge_spark.queries import registry

    reg = registry()
    for name in [
        "q_doc_dedup", "q_minhash_pairs", "q_bm25", "q_bpe_train",
        "q_cosine_topk", "q_ann_ivf", "q_pca_project", "q_semdedup",
        "q_curation_pipeline", "q_text_stats",
    ]:
        fn, _ = reg[name]
        assert fn(spark, text_drifted_dir).count() >= 0, name


EVENT_TIME_QUERIES = ("q_unique_users", "q_event_time", "q_stream_unique_users")


def _rows(df) -> list[tuple]:
    return sorted((tuple(r) for r in df.collect()), key=repr)


@pytest.fixture(scope="module")
def event_time_rows(spark):
    """Rows of the event-time queries on the untouched sf0.001."""
    from kafkastreamsjavachallenge_spark.queries import queries

    qs = queries()
    return {name: _rows(qs[name](spark, SF_DIR)) for name in EVENT_TIME_QUERIES}


@pytest.mark.parametrize("ts_unit", ["us", "ns"])
def test_event_time_queries_equal_under_events_ts_drift(spark, ts_unit, event_time_rows):
    """Both shipped drifts of events.ts give the rows of the untouched
    table, through the catalog (q_unique_users, q_event_time) and through
    the file stream (q_stream_unique_users): one event-time rule on both
    paths."""
    from kafkastreamsjavachallenge_spark.queries import queries

    sf_dir = _drifted_dir(ts_unit)
    qs = queries()
    try:
        got = {name: _rows(qs[name](spark, sf_dir)) for name in EVENT_TIME_QUERIES}
    finally:
        shutil.rmtree(sf_dir, ignore_errors=True)
    for name in EVENT_TIME_QUERIES:
        assert got[name] == event_time_rows[name], name


def test_event_time_keeps_null_ts_rows_like_its_oracle(spark, tmp_path):
    """q_event_time keeps a row whose ts is null, as its DuckDB oracle
    does: the event-time rule converts types and drops no rows."""
    import duckdb

    from kafkastreamsjavachallenge_spark.queries import oracle_sql, queries

    t = pq.read_table(os.path.join(SF_DIR, "events.parquet")).slice(0, 5)
    field = t.schema.field("ts")
    ts = t.column("ts").to_pylist()
    ts[2] = None
    t = t.set_column(t.schema.get_field_index("ts"), field, pa.array(ts, field.type))
    path = str(tmp_path / "events.parquet")
    pq.write_table(t, path)

    df = queries()["q_event_time"](spark, str(tmp_path))
    got = _rows(df)
    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{path}')")
        res = con.execute(oracle_sql()["q_event_time"])
        want_cols = [d[0] for d in res.description]
        want = sorted(res.fetchall(), key=repr)
    finally:
        con.close()
    assert df.columns == want_cols
    assert len(want) == 5
    assert got == want

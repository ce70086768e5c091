"""Streaming parity tests (SURVEY.md §5.2): multi-batch micro-batch
execution must converge to the batch result; update vs append emission
semantics mirror SURVEY.md §1.3.2."""

from __future__ import annotations

import ast
import os
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from kafkastreamsjavachallenge_spark.catalog import load_table
from kafkastreamsjavachallenge_spark.operators.windows import unique_users, with_event_time
from kafkastreamsjavachallenge_spark.streaming.pipeline import (
    file_stream,
    run_to_memory,
    streaming_unique_users,
)

from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def event_files(spark, tmp_path_factory):
    """events split into 4 parquet files ordered by time — so micro-batches
    arrive roughly in event-time order and the watermark advances between
    batches (late rows within a batch still exercise out-of-order paths)."""
    d = str(tmp_path_factory.mktemp("event_stream"))
    ev = load_table(spark, SF_DIR, "events").orderBy("ts")
    n = ev.count()
    pdf = ev.toPandas()
    import pyarrow as pa
    import pyarrow.parquet as pq

    chunk = (n + 3) // 4
    for i in range(4):
        part = pdf.iloc[i * chunk : (i + 1) * chunk]
        pq.write_table(
            pa.Table.from_pandas(part),
            os.path.join(d, f"f{i}.parquet"),
            coerce_timestamps="us",
            allow_truncated_timestamps=True,
        )
    return d, ev


def test_multibatch_update_converges_to_batch(spark, event_files):
    d, ev = event_files
    stream = file_stream(spark, d, ev.schema, max_files_per_trigger=1)
    result = streaming_unique_users(stream, "ts", "user_id", "1 minute", "1 minute")
    table = run_to_memory(result, output_mode="update")
    final = table.groupBy("window_start").agg(
        F.max("unique_users").alias("unique_users")
    )
    got = {r["window_start"]: r["unique_users"] for r in final.collect()}
    want = {
        r["window_start"]: r["unique_users"]
        for r in unique_users(ev, "ts", "user_id").collect()
    }
    assert got == want


def test_multibatch_append_emits_closed_windows_only(spark, event_files):
    """Append mode = the suppression the reference wanted (X1): emitted
    windows are exactly those the watermark closed, each with its final
    count; the tail stays open."""
    d, ev = event_files
    stream = file_stream(spark, d, ev.schema, max_files_per_trigger=1)
    result = streaming_unique_users(stream, "ts", "user_id", "1 minute", "1 minute")
    table = run_to_memory(result, output_mode="append")
    got = {r["window_start"]: r["unique_users"] for r in table.collect()}
    want = {
        r["window_start"]: r["unique_users"]
        for r in unique_users(ev, "ts", "user_id").collect()
    }
    assert 0 < len(got) <= len(want)
    # every emitted window is final-correct; no window emitted twice
    assert all(want[w] == n for w, n in got.items())
    # un-emitted windows are only at the (still-open) tail of event time
    open_windows = sorted(set(want) - set(got))
    assert all(w > max(got) for w in open_windows)


SHUFFLE = "spark.sql.shuffle.partitions"
MANAGER = "spark.sql.streaming.checkpointFileManagerClass"
_CHECKPOINTING = "org.apache.spark.sql.execution.streaming.checkpointing."
FS_MANAGER = _CHECKPOINTING + "FileSystemBasedCheckpointFileManager"
FC_MANAGER = _CHECKPOINTING + "FileContextBasedCheckpointFileManager"


@pytest.fixture
def vanilla_shuffle(spark):
    """The session at a vanilla session's 200 shuffle partitions,
    restored after the test."""
    saved = spark.conf.get(SHUFFLE)
    spark.conf.set(SHUFFLE, "200")
    yield
    spark.conf.set(SHUFFLE, saved)


def _final_counts(emitted) -> dict:
    """Last count per window of an update-mode (window, count) stream."""
    got: dict = {}
    for w, n in emitted:
        got[w] = max(got.get(w, 0), n)
    return got


def _store_dirs(ckpt: str, op: int) -> int:
    """Physical state-store count of stateful operator ``op``."""
    return sum(p.isdigit() for p in os.listdir(os.path.join(ckpt, "state", str(op))))


def test_auto_state_partitions_ignore_session_shuffle_conf(
    spark, event_files, tmp_path, vanilla_shuffle
):
    """Default 'auto' state sizing on every sink: a vanilla session's 200
    shuffle partitions must NOT leak into streaming state (200 state-store
    commits per operator per micro-batch for tiny state).  The checkpoint's
    state/<op>/<p> dirs are the physical store count — expect
    defaultParallelism for both operators of the unique-users topology
    (dedup, count), and the session conf restored afterwards."""
    from kafkastreamsjavachallenge_spark.streaming.sinks import (
        for_each_batch,
        to_parquet_files,
    )

    d, ev = event_files
    expected = spark.sparkContext.defaultParallelism

    def memory(result, ckpt):
        assert run_to_memory(result, output_mode="update", checkpoint=ckpt).count() > 0

    def foreach(result, ckpt):
        rows = []
        for_each_batch(result, lambda bdf, _: rows.extend(bdf.collect()), ckpt).awaitTermination()
        assert rows

    def parquet(result, ckpt):
        out = str(tmp_path / "auto_state_out")
        to_parquet_files(result, out, ckpt).awaitTermination()
        assert spark.read.parquet(out).count() > 0

    for sink in (memory, foreach, parquet):
        ckpt = str(tmp_path / f"auto_state_ckpt_{sink.__name__}")
        stream = file_stream(spark, d, ev.schema)
        sink(streaming_unique_users(stream, "ts", "user_id", "1 minute"), ckpt)
        assert spark.conf.get(SHUFFLE) == "200"  # restored
        for op in (0, 1):
            assert _store_dirs(ckpt, op) == expected, (
                f"{sink.__name__} state/{op}: {_store_dirs(ckpt, op)} "
                f"stores != auto-derived {expected}"
            )


def test_session_shuffle_conf_restored_while_query_runs(
    spark, event_files, tmp_path, vanilla_shuffle
):
    """The state count is applied only while the query starts: batch
    queries planned on the same session during the stream see the user's
    setting, not the state count."""
    import threading
    import time as _t

    from kafkastreamsjavachallenge_spark.streaming.sinks import for_each_batch

    d, ev = event_files
    batches = []
    stream = file_stream(spark, d, ev.schema, max_files_per_trigger=1)
    q = for_each_batch(
        streaming_unique_users(stream, "ts", "user_id", "1 minute"),
        lambda bdf, bid: batches.append(bdf.collect()),
        str(tmp_path / "ckpt_live"),
        available_now=False,
    )
    try:
        assert q.isActive
        assert spark.conf.get(SHUFFLE) == "200"
        q.processAllAvailable()
        assert q.isActive and batches
        assert spark.conf.get(SHUFFLE) == "200"
    finally:
        q.stop()

    # run_to_memory blocks for the whole drain: read the conf from here
    # while its query runs — it has finished a micro-batch before the read
    # and is still active after it
    drained = []
    stream = file_stream(spark, d, ev.schema, max_files_per_trigger=1)
    t = threading.Thread(
        target=lambda: drained.append(run_to_memory(
            streaming_unique_users(stream, "ts", "user_id", "1 minute")
        ))
    )
    t.start()
    deadline = _t.time() + 120
    while True:
        assert not drained, "drain ended before the conf was read mid-run"
        assert _t.time() < deadline, "drain made no progress"
        live = [q for q in spark.streams.active if q.recentProgress]
        during = spark.conf.get(SHUFFLE)
        if live and live[0].isActive:
            break
        _t.sleep(0.05)
    t.join(timeout=300)
    assert not t.is_alive() and drained and during == "200"


def test_every_sink_starts_under_state_partition_rule(
    spark, monkeypatch, tmp_path, vanilla_shuffle
):
    """All three public sinks start under the state-count rule and the
    checkpoint-manager rule, and restore the session values after.  A
    local checkpoint starts under the FileSystem-based manager; a
    non-local one, or a session that already names a manager, starts
    under the session's own value.  No broker or HDFS exists here, so
    start() is replaced by a recorder of the live confs."""
    from pyspark.sql.streaming import DataStreamWriter

    from kafkastreamsjavachallenge_spark.sources.kafka import write_counts
    from kafkastreamsjavachallenge_spark.streaming.sinks import (
        for_each_batch,
        to_parquet_files,
    )

    seen = []
    monkeypatch.setattr(
        DataStreamWriter,
        "start",
        lambda self, *a, **k: seen.append(
            (spark.conf.get(SHUFFLE), spark.conf.get(MANAGER, None))
        ),
    )
    counts = spark.readStream.format("rate").load().select(
        F.col("timestamp").alias("window_start"), F.col("value").alias("unique_users")
    )
    auto = str(spark.sparkContext.defaultParallelism)

    def start_all(ckpt):
        seen.clear()
        for_each_batch(counts, lambda *_: None, ckpt)
        to_parquet_files(counts, str(tmp_path / "out"), ckpt)
        write_counts(counts, "localhost:9092", "t", ckpt)
        assert spark.conf.get(SHUFFLE) == "200"
        return seen

    assert spark.conf.get(MANAGER, None) is None
    assert start_all(str(tmp_path / "ckpt")) == [(auto, FS_MANAGER)] * 3
    assert start_all((tmp_path / "ckpt").as_uri()) == [(auto, FS_MANAGER)] * 3
    assert start_all("hdfs://nn:8020/ckpt") == [(auto, None)] * 3
    assert spark.conf.get(MANAGER, None) is None
    spark.conf.set(MANAGER, FC_MANAGER)
    try:
        assert start_all(str(tmp_path / "ckpt")) == [(auto, FC_MANAGER)] * 3
        assert spark.conf.get(MANAGER) == FC_MANAGER
    finally:
        spark.conf.unset(MANAGER)


def test_concurrent_starts_do_not_restore_each_others_conf(
    spark, monkeypatch, tmp_path, vanilla_shuffle
):
    """Three threads starting queries at once: each start() sees the state
    count and its own checkpoint manager (two local checkpoints, one on
    HDFS) for the whole call, and the session ends at its own values."""
    import threading
    import time as _t

    from pyspark.sql.streaming import DataStreamWriter

    from kafkastreamsjavachallenge_spark.streaming.sinks import _start

    seen = {}
    entered = threading.Event()

    def live():
        return spark.conf.get(SHUFFLE), spark.conf.get(MANAGER, None)

    def slow_start(self, *a, **k):
        entered.set()
        before = live()
        _t.sleep(0.2)  # widen the window a racing thread would hit
        seen[id(self)] = (before, live())

    monkeypatch.setattr(DataStreamWriter, "start", slow_start)
    ckpts = [str(tmp_path / "ckpt_a"), "hdfs://nn:8020/ckpt_b", str(tmp_path / "ckpt_c")]
    rate = spark.readStream.format("rate").load()
    writers = [rate.writeStream.format("noop") for _ in ckpts]
    threads = [
        threading.Thread(target=_start, args=(w, spark, ckpt))
        for w, ckpt in zip(writers, ckpts)
    ]
    threads[0].start()
    assert entered.wait(timeout=30)
    for t in threads[1:]:  # start while the first is inside start()
        t.start()
    for t in threads:
        t.join(timeout=30)
    assert not any(t.is_alive() for t in threads)
    auto = str(spark.sparkContext.defaultParallelism)
    assert [seen.get(id(w)) for w in writers] == [
        ((auto, FS_MANAGER),) * 2,
        ((auto, None),) * 2,
        ((auto, FS_MANAGER),) * 2,
    ]
    assert live() == ("200", None)


def test_resume_keeps_checkpoint_state_partitions(spark, event_files, tmp_path):
    """A for_each_batch query (one store per core) restarted from a
    checkpoint created with another store count keeps that count — the
    offset-log pin wins over the rule — and its final counts equal those
    of one uninterrupted run.  The checkpoint comes from a plain
    memory-sink start with the session's shuffle conf set to
    defaultParallelism + 3, so the pinned count differs from the rule's."""
    import shutil

    from kafkastreamsjavachallenge_spark.streaming.sinks import for_each_batch

    d, ev = event_files
    files = sorted(os.listdir(d))
    src = tmp_path / "resume_src"
    src.mkdir()

    def result(path):
        stream = file_stream(spark, str(path), ev.schema, max_files_per_trigger=1)
        return streaming_unique_users(stream, "ts", "user_id", "1 minute")

    def run(path, ckpt, emitted):
        for_each_batch(
            result(path),
            lambda bdf, _: emitted.extend(
                (r["window_start"], r["unique_users"]) for r in bdf.collect()
            ),
            ckpt,
        ).awaitTermination()

    ckpt = str(tmp_path / "ckpt_resume")
    for f in files[:2]:
        shutil.copy(os.path.join(d, f), src / f)
    pinned = spark.sparkContext.defaultParallelism + 3
    name = f"resume_first_{tmp_path.name}"
    saved = spark.conf.get(SHUFFLE)
    spark.conf.set(SHUFFLE, str(pinned))
    try:
        first = (
            result(src).writeStream.format("memory").queryName(name)
            .outputMode("update").trigger(availableNow=True)
            .option("checkpointLocation", ckpt).start()
        )
    finally:
        spark.conf.set(SHUFFLE, saved)
    first.awaitTermination()
    assert _store_dirs(ckpt, 0) == _store_dirs(ckpt, 1) == pinned
    resumed = [(r["window_start"], r["unique_users"]) for r in spark.table(name).collect()]
    for f in files[2:]:
        shutil.copy(os.path.join(d, f), src / f)
    run(src, ckpt, resumed)
    assert _store_dirs(ckpt, 0) == _store_dirs(ckpt, 1) == pinned

    whole: list = []
    run(d, str(tmp_path / "ckpt_whole"), whole)
    assert _final_counts(resumed) == _final_counts(whole) and resumed


def _mentions_writer(node, names) -> bool:
    return any(
        (isinstance(n, ast.Attribute) and n.attr == "writeStream")
        or (isinstance(n, ast.Name) and n.id in names)
        for n in ast.walk(node)
    )


def _stream_writer_starts(tree) -> dict[int, str]:
    """Line -> enclosing function of each ``.start()``/``.toTable()`` call
    on a stream writer: one built from ``.writeStream`` in the same
    function (directly or through local names) or a parameter annotated
    ``DataStreamWriter``."""
    found = {}
    scopes = [tree] + [
        n for n in ast.walk(tree) if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
    ]
    for scope in scopes:  # outer scopes first: inner ones overwrite
        args = [] if isinstance(scope, ast.Module) else scope.args.args
        names = {
            a.arg for a in args
            if a.annotation is not None and "DataStreamWriter" in ast.unparse(a.annotation)
        }
        assigns = [n for n in ast.walk(scope) if isinstance(n, ast.Assign)]
        for _ in assigns:  # until no new writer name appears
            new = {
                t.id for a in assigns if _mentions_writer(a.value, names)
                for t in a.targets if isinstance(t, ast.Name)
            } - names
            if not new:
                break
            names |= new
        for n in ast.walk(scope):
            if (
                isinstance(n, ast.Call)
                and isinstance(n.func, ast.Attribute)
                and n.func.attr in ("start", "toTable")
                and _mentions_writer(n.func.value, names)
            ):
                found[n.lineno] = getattr(scope, "name", "<module>")
    return found


def test_streaming_queries_start_only_through_sinks_start():
    """Every streaming query the package starts goes through
    ``streaming/sinks.py _start``, the one place that applies the state
    count and checkpoint-manager rules: no other module calls ``start()``
    or ``toTable()`` on a stream writer."""
    import kafkastreamsjavachallenge_spark as pkg

    probe = ast.parse(
        "def f(df):\n"
        "    w = df.writeStream.format('memory')\n"
        "    w = w.trigger(availableNow=True)\n"
        "    return w.start()\n"
        "def g(df):\n"
        "    df.writeStream.toTable('t')\n"
    )
    assert sorted(_stream_writer_starts(probe).values()) == ["f", "g"]

    root = Path(pkg.__file__).parent
    starts = [
        (path.relative_to(root), fn)
        for path in sorted(root.rglob("*.py"))
        for fn in _stream_writer_starts(ast.parse(path.read_text(), str(path))).values()
    ]
    assert starts == [(Path("streaming", "sinks.py"), "_start")]


def test_event_time_types_are_normalised_only_in_with_event_time():
    """The package has one event-time rule: ``timestamp_ntz`` and
    ``timestamp_micros`` (the two parquet event-time types it converts)
    appear only inside ``operators/windows.py with_event_time``, so the
    catalog and the stream readers cannot grow a copy that disagrees."""
    import re

    import kafkastreamsjavachallenge_spark as pkg

    root = Path(pkg.__file__).parent
    windows = root / "operators" / "windows.py"
    rule = next(
        n for n in ast.parse(windows.read_text()).body
        if isinstance(n, ast.FunctionDef) and n.name == "with_event_time"
    )
    token = re.compile(r"timestamp_(ntz|micros)", re.IGNORECASE)
    outside = [
        f"{path.relative_to(root)}:{i}"
        for path in sorted(root.rglob("*.py"))
        for i, line in enumerate(path.read_text().splitlines(), 1)
        if token.search(line)
        and not (path == windows and rule.lineno <= i <= rule.end_lineno)
    ]
    assert outside == []


def test_scratch_space_has_one_owner():
    """The package makes temp directories in one place: ``mkdtemp``,
    ``gettempdir``, ``TemporaryDirectory`` and ``NamedTemporaryFile``
    appear only inside the scratch owner in ``session.py`` (``scratch_dir``
    and ``derived_dir``), so every scratch file lives under the private
    process root that is removed at exit."""
    import re

    import kafkastreamsjavachallenge_spark as pkg

    root = Path(pkg.__file__).parent
    session = root / "session.py"
    owner = [
        n for n in ast.parse(session.read_text()).body
        if isinstance(n, ast.FunctionDef) and n.name in ("scratch_dir", "derived_dir")
    ]
    token = re.compile(r"mkdtemp|gettempdir|TemporaryDirectory|NamedTemporaryFile")
    outside = [
        f"{path.relative_to(root)}:{i}"
        for path in sorted(root.rglob("*.py"))
        for i, line in enumerate(path.read_text().splitlines(), 1)
        if token.search(line)
        and not (path == session and any(f.lineno <= i <= f.end_lineno for f in owner))
    ]
    assert outside == []
    assert len(owner) == 2


def _log_managers(q) -> tuple[str, str]:
    """Checkpoint manager classes of a query's offset and commit logs."""
    sq = q._jsq.streamingQuery()
    return tuple(
        log.fileManager().getClass().getName()
        for log in (sq.offsetLog(), sq.commitLog())
    )


def test_local_checkpoint_uses_filesystem_manager(spark, event_files, tmp_path):
    """A local checkpoint's offset and commit logs are written through the
    FileSystem-based manager; the stream's session copy carries the class
    and the caller's session reads as it did before start().  Code in the
    foreachBatch function can still call ``FileSystem.getLocal`` on the
    batch's Hadoop conf (it casts the ``file:`` file system to the
    checksummed ``LocalFileSystem``; S3A's disk-buffered upload calls
    it)."""
    from kafkastreamsjavachallenge_spark.streaming.sinks import for_each_batch

    d, ev = event_files
    assert spark.conf.get(MANAGER, None) is None
    rows = []
    local_fs = []

    def collect(bdf, _):
        conf = bdf.sparkSession._jsparkSession.sessionState().newHadoopConf()
        local = spark._jvm.org.apache.hadoop.fs.FileSystem.getLocal(conf)
        local_fs.append(local.getUri().toString())
        rows.extend(bdf.collect())

    q = for_each_batch(
        streaming_unique_users(file_stream(spark, d, ev.schema), "ts", "user_id", "1 minute"),
        collect,
        str(tmp_path / "ckpt_fs"),
    )
    q.awaitTermination()
    assert rows
    assert set(local_fs) == {"file:///"}
    assert _log_managers(q) == (FS_MANAGER, FS_MANAGER)
    stream_conf = q._jsq.streamingQuery().sparkSessionForStream().conf()
    assert stream_conf.get(MANAGER) == FS_MANAGER
    assert spark.conf.get(MANAGER, None) is None


def test_filecontext_checkpoint_resumes_under_filesystem_manager(
    spark, event_files, tmp_path
):
    """A unique-users checkpoint written through the FileContext manager
    (named on the session) resumes under the local FileSystem-manager rule
    once the session drops the class, and its final counts equal those
    of one uninterrupted run."""
    import shutil

    from kafkastreamsjavachallenge_spark.streaming.sinks import for_each_batch

    d, ev = event_files
    files = sorted(os.listdir(d))
    src = tmp_path / "fc_src"
    src.mkdir()

    def run(path, ckpt, emitted):
        stream = file_stream(spark, str(path), ev.schema, max_files_per_trigger=1)
        q = for_each_batch(
            streaming_unique_users(stream, "ts", "user_id", "1 minute"),
            lambda bdf, _: emitted.extend(
                (r["window_start"], r["unique_users"]) for r in bdf.collect()
            ),
            ckpt,
        )
        q.awaitTermination()
        return _log_managers(q)

    ckpt = str(tmp_path / "ckpt_fc")
    resumed: list = []
    for f in files[:2]:
        shutil.copy(os.path.join(d, f), src / f)
    spark.conf.set(MANAGER, FC_MANAGER)
    try:
        assert run(src, ckpt, resumed) == (FC_MANAGER, FC_MANAGER)
    finally:
        spark.conf.unset(MANAGER)
    first_rows = len(resumed)
    for f in files[2:]:
        shutil.copy(os.path.join(d, f), src / f)
    assert run(src, ckpt, resumed) == (FS_MANAGER, FS_MANAGER)
    assert 0 < first_rows < len(resumed)

    whole: list = []
    run(d, str(tmp_path / "ckpt_fc_whole"), whole)
    assert _final_counts(resumed) == _final_counts(whole)


@pytest.mark.parametrize("first", ["plain", "rule"])
def test_local_checkpoint_crosses_writers_and_reruns_a_batch(
    spark, event_files, tmp_path, first
):
    """A local checkpoint resumes across the plain writer (a writer
    started on the session as is, through the FileContext manager) and
    ``_start``'s FileSystem-based one, in both orders, and survives a
    re-run batch.  After the first step the last commits/N is dropped, as
    a crash before the commit would leave it, so the second step re-runs
    that batch with the other writer and overwrites its state deltas; the
    third step reads them back with the first writer.  The cached state
    providers are unloaded between steps so each step re-reads the files.
    Final counts equal those of one uninterrupted run."""
    import shutil

    from kafkastreamsjavachallenge_spark.streaming.sinks import for_each_batch

    d, ev = event_files
    files = sorted(os.listdir(d))
    src = tmp_path / "src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    emitted: list = []
    batch_ids: list = []

    def collect(bdf, bid):
        batch_ids.append(bid)
        emitted.extend((r["window_start"], r["unique_users"]) for r in bdf.collect())

    def step(writer, n_files):
        for f in files[:n_files]:
            if not (src / f).exists():
                shutil.copy(os.path.join(d, f), src / f)
        stream = file_stream(spark, str(src), ev.schema, max_files_per_trigger=1)
        result = streaming_unique_users(stream, "ts", "user_id", "1 minute")
        if writer == "rule":
            q = for_each_batch(result, collect, ckpt)
        else:
            q = (
                result.writeStream.foreachBatch(collect).outputMode("update")
                .trigger(availableNow=True).option("checkpointLocation", ckpt).start()
            )
        q.awaitTermination()
        spark._jvm.org.apache.spark.sql.execution.streaming.state.StateStore.stop()

    second = {"plain": "rule", "rule": "plain"}[first]
    step(first, 2)
    commits = Path(ckpt, "commits")
    last = max(int(p.name) for p in commits.iterdir() if p.name.isdigit())
    for p in (commits / str(last), commits / f".{last}.crc"):
        p.unlink(missing_ok=True)
    step(second, 3)
    assert batch_ids.count(last) == 2, batch_ids
    step(first, 4)

    whole: list = []
    for_each_batch(
        streaming_unique_users(
            file_stream(spark, d, ev.schema, max_files_per_trigger=1),
            "ts", "user_id", "1 minute",
        ),
        lambda bdf, _: whole.extend(
            (r["window_start"], r["unique_users"]) for r in bdf.collect()
        ),
        str(tmp_path / "ckpt_whole"),
    ).awaitTermination()
    assert _final_counts(emitted) == _final_counts(whole) and emitted


def test_stream_stream_join_matches_batch(spark, event_files):
    """Watermarked interval stream-stream join over two event streams
    equals the equivalent batch interval join."""
    from kafkastreamsjavachallenge_spark.streaming.pipeline import stream_stream_join

    d, ev = event_files
    left = file_stream(spark, d, ev.schema, max_files_per_trigger=2).select(
        F.col("event_id").alias("l_id"),
        F.col("user_id").alias("l_uid"),
        F.col("ts").alias("l_ts"),
    )
    right = file_stream(spark, d, ev.schema, max_files_per_trigger=2).select(
        F.col("event_id").alias("r_id"),
        F.col("user_id").alias("r_uid"),
        F.col("ts").alias("r_ts"),
    )
    joined = stream_stream_join(
        left, right,
        on=(F.col("l_uid") == F.col("r_uid")) & (F.col("l_id") < F.col("r_id")),
        left_ts="l_ts", right_ts="r_ts",
        watermark="2 hours", interval="1 hour",
    )
    got = run_to_memory(joined, output_mode="append").count()

    l = ev.select(F.col("event_id").alias("l_id"), F.col("user_id").alias("l_uid"), F.col("ts").alias("l_ts"))
    r = ev.select(F.col("event_id").alias("r_id"), F.col("user_id").alias("r_uid"), F.col("ts").alias("r_ts"))
    want = l.join(
        r,
        (F.col("l_uid") == F.col("r_uid")) & (F.col("l_id") < F.col("r_id"))
        & (F.col("r_ts") >= F.col("l_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("r_ts") <= F.col("l_ts") + F.expr("INTERVAL 1 HOUR")),
    ).count()
    assert got == want and got > 0


def test_parquet_sink_roundtrip(spark, event_files, tmp_path):
    """File sink: windowed counts stream out to parquet, read back equal."""
    from kafkastreamsjavachallenge_spark.operators.windows import windowed_count
    from kafkastreamsjavachallenge_spark.streaming.sinks import to_parquet_files

    d, ev = event_files
    stream = file_stream(spark, d, ev.schema, max_files_per_trigger=2)
    result = (
        stream.withWatermark("ts", "0 seconds")
        .groupBy(F.window("ts", "1 minute").alias("window"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("window.start").alias("window_start"), "n")
    )
    out = str(tmp_path / "out")
    q = to_parquet_files(result, out, str(tmp_path / "ckpt"))
    q.awaitTermination()
    back = {r["window_start"]: r["n"] for r in spark.read.parquet(out).collect()}
    want = {
        r["window_start"]: r["n"]
        for r in windowed_count(ev, "ts", "1 minute").collect()
    }
    # append mode emits only watermark-closed windows; all emitted are final
    assert back and all(want[w] == n for w, n in back.items())


def test_foreach_batch_sink(spark, event_files, tmp_path):
    from kafkastreamsjavachallenge_spark.streaming.sinks import for_each_batch

    d, ev = event_files
    stream = file_stream(spark, d, ev.schema, max_files_per_trigger=2)
    seen = []
    q = for_each_batch(
        stream.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")),
        lambda bdf, bid: seen.append((bid, {r["event_type"]: r["n"] for r in bdf.collect()})),
        str(tmp_path / "ckpt_feb"),
        output_mode="complete",
    )
    q.awaitTermination()
    assert seen
    final = seen[-1][1]
    want = {r["event_type"]: r["n"] for r in ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert final == want


def test_checkpoint_recovery_no_duplicates(spark, event_files, tmp_path):
    """Kill-and-restart from the same checkpoint: the restarted query
    resumes from the offset log and the final state equals a single
    uninterrupted run — no double counting (exactly-once state updates).
    Memory sinks cannot recover, so the sink is foreachBatch (the
    checkpoint-compatible escape hatch)."""
    import time as _t

    d, ev = event_files
    ckpt = str(tmp_path / "ckpt_recover")
    emitted: list[tuple] = []

    def start():
        stream = file_stream(spark, d, ev.schema, max_files_per_trigger=1)
        result = streaming_unique_users(stream, "ts", "user_id", "1 minute", "1 minute")
        return (
            result.writeStream.foreachBatch(
                lambda bdf, bid: emitted.extend(
                    (r["window_start"], r["unique_users"]) for r in bdf.collect()
                )
            )
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    # run 1: process at least one micro-batch, then stop mid-stream
    q1 = start()
    while not q1.recentProgress:
        _t.sleep(0.2)
    q1.stop()
    q1.awaitTermination()

    # run 2: resume from checkpoint, drain the rest
    q2 = start()
    q2.awaitTermination()

    got: dict = {}
    for w, n in emitted:
        got[w] = max(got.get(w, 0), n)
    want = {
        r["window_start"]: r["unique_users"]
        for r in unique_users(ev, "ts", "user_id").collect()
    }
    assert got == want


def test_flagship_on_rocksdb_state_store(spark, event_files, tmp_path):
    """The flagship streaming topology on the RocksDB state-store provider
    (the bounded-memory backend for 100 TB state; the reference used a
    RocksDB window store, UniqueUsersApp.java:101-110) — results identical
    to the default provider.  providerClass is a runtime SQL conf picked up
    at query start, so it is set and restored on the shared session
    (a second getOrCreate'd session would share the context and stopping
    it would tear down the default session for later tests)."""
    key = "spark.sql.streaming.stateStore.providerClass"
    rocks = ("org.apache.spark.sql.execution.streaming.state."
             "RocksDBStateStoreProvider")
    d, ev = event_files
    saved = spark.conf.get(key, None)
    spark.conf.set(key, rocks)
    try:
        stream = file_stream(spark, d, ev.schema, max_files_per_trigger=2)
        result = streaming_unique_users(stream, "ts", "user_id", "1 minute", "1 minute")
        table = run_to_memory(result, output_mode="update")
        final = table.groupBy("window_start").agg(
            F.max("unique_users").alias("unique_users")
        )
        got = {r["window_start"]: r["unique_users"] for r in final.collect()}
        want = {
            r["window_start"]: r["unique_users"]
            for r in unique_users(ev, "ts", "user_id").collect()
        }
        assert got == want
    finally:
        if saved is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, saved)


def test_rate_source_liveness(spark, tmp_path):
    """A true unbounded source (rate) drives the flagship operators: two
    processed micro-batches with monotonically advancing offsets."""
    import time as _t

    stream = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", "500")
        .load()
        .select(
            F.col("timestamp").alias("ts"),
            (F.col("value") % 50).cast("string").alias("user_id"),
        )
    )
    result = streaming_unique_users(stream, "ts", "user_id", "1 minute", "0 seconds")
    q = (
        result.writeStream.format("memory")
        .queryName("rate_smoke")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt_rate"))
        .start()
    )
    try:
        deadline = _t.time() + 60
        while _t.time() < deadline:
            p = q.recentProgress
            if len(p) >= 2 and any(pp["numInputRows"] > 0 for pp in p):
                break
            _t.sleep(0.5)
        else:
            raise AssertionError(f"rate source made no progress: {q.status}")
        assert spark.table("rate_smoke").count() >= 0  # sink materialized
    finally:
        q.stop()
        q.awaitTermination()


def test_late_data_dropped_after_watermark(spark, tmp_path):
    """Late-data semantics (SURVEY §2.2): a row arriving after the
    watermark passed its window is dropped — unlike the reference, which
    updates forever (README.md:132-136).  Spark applies the late-events
    filter with the watermark of the batch BEFORE the previous one (one
    batch of lag), so the late row is sent two batches after its window
    closed; numRowsDroppedByWatermark confirms the drop."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    base = dt.datetime(2024, 1, 1)

    def write(i, rows):
        import os as _os
        import time as _time

        path = str(tmp_path / f"b{i}.parquet")
        tbl = pa.table({
            "ts": pa.array([r[0] for r in rows], pa.timestamp("us")),
            "user_id": pa.array([r[1] for r in rows]),
        })
        pq.write_table(tbl, path)
        # strictly increasing mtimes: the file source batches by modTime,
        # equal stamps would pack files into one micro-batch
        t = _time.time() + i * 10
        _os.utime(path, (t, t))

    # batch 0: window 00:00 (u1,u2) plus a row 30 min ahead -> watermark
    # after the batch is ~00:29, closing window 00:00
    write(0, [(base, "u1"), (base + dt.timedelta(seconds=20), "u2"),
              (base + dt.timedelta(minutes=30), "u3")])
    # batch 1: on-time row; late-events watermark now catches up to 00:29
    write(1, [(base + dt.timedelta(minutes=31), "u4")])
    # batch 2: a LATE row for window 00:00 — must be dropped
    write(2, [(base + dt.timedelta(seconds=40), "u9")])

    stream = file_stream(
        spark, str(tmp_path), "ts TIMESTAMP, user_id STRING", max_files_per_trigger=1
    )
    result = streaming_unique_users(stream, "ts", "user_id", "1 minute", "1 minute")
    import json
    import tempfile as _tf
    import uuid as _uuid

    name = f"late_{_uuid.uuid4().hex[:6]}"
    q = (
        result.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    dropped = sum(
        so["numRowsDroppedByWatermark"]
        for p_ in q.recentProgress
        for so in json.loads(p_.json)["stateOperators"]
    )
    got = {r["window_start"]: r["unique_users"] for r in spark.table(name).collect()}
    # window 00:00 emitted once, with its on-time count; the late row was
    # dropped by the watermark filter, not merged
    assert got.get(base) == 2
    assert dropped >= 1


def test_stream_curation_dedup_state_spans_batches(spark, tmp_path):
    """Streaming curation ingest: re-delivering the same documents in a
    second micro-batch must not raise per-source retained-distinct
    counts — the dropDuplicates state persists across batches — and the
    converged counts equal the batch gate+distinct computation."""
    import tempfile

    from kafkastreamsjavachallenge_spark.functions import text as T
    from kafkastreamsjavachallenge_spark.streaming.pipeline import (
        file_stream,
        run_to_memory,
    )

    docs = load_table(spark, SF_DIR, "documents")
    stage = str(tmp_path / "docs_stream")
    os.makedirs(stage)
    docs.coalesce(1).write.mode("append").parquet(stage)
    docs.coalesce(1).write.mode("append").parquet(stage)  # exact re-delivery

    toks = T.tokens("text")
    n = F.size(toks)
    stream = file_stream(spark, stage, docs.schema, max_files_per_trigger=1)
    gated = stream.filter(
        (n >= 10) & (n <= 500) & (F.lit(5) * F.size(F.array_distinct(toks)) >= n)
    )
    deduped = gated.withColumn("content_hash", F.md5("text")).dropDuplicates(
        ["source", "content_hash"]
    )
    counts = deduped.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    got = run_to_memory(counts, output_mode="update")
    # update mode re-emits a source's row only when its count changes;
    # take the max emitted per source = converged value
    final = {
        r["source"]: r["mx"]
        for r in got.groupBy("source").agg(F.max("n").alias("mx")).collect()
    }
    want = {
        r["source"]: r["n"]
        for r in docs.filter(
            (n >= 10) & (n <= 500) & (F.lit(5) * F.size(F.array_distinct(toks)) >= n)
        )
        .groupBy("source")
        .agg(F.countDistinct(F.md5("text")).alias("n"))
        .collect()
    }
    assert final == want


def test_streaming_observed_metrics(spark, event_files):
    """X2 in streaming form: ingest metrics attached with
    with_stream_metrics ride each micro-batch and surface in
    StreamingQueryProgress.observedMetrics — their per-batch row counts
    must sum to the full fixture, with zero extra passes over the
    stream."""
    from kafkastreamsjavachallenge_spark.operators.observe import (
        with_stream_metrics,
    )
    from kafkastreamsjavachallenge_spark.streaming.pipeline import (
        run_with_observed,
    )

    d, ev = event_files
    n_total = ev.count()
    stream = file_stream(spark, d, ev.schema, max_files_per_trigger=1)
    observed_stream = with_stream_metrics(
        stream,
        "ingest",
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.col("user_id").isNull().cast("int")).alias("null_uids"),
    )
    result = streaming_unique_users(observed_stream)
    sink, metrics = run_with_observed(result, "ingest")
    assert metrics, "no observedMetrics reported"
    assert sum(m["rows"] for m in metrics) == n_total
    # an empty trailing micro-batch reports sum(NULL) -> null, not 0
    assert all((m["null_uids"] or 0) == 0 for m in metrics)
    assert sink.count() > 0


def test_stream_neardup_state_merges_across_batches(spark, tmp_path):
    """q_stream_neardup's mergeability claim, pinned: the per-bucket
    (count, min) state drained over FOUR micro-batches must equal the
    batch banding built by the exploded operator form in one pass —
    which simultaneously pins that the row-local projection signature
    (functions/text.minhash_signature) matches operators/dedup
    .minhash_signatures value-for-value."""
    from kafkastreamsjavachallenge_spark.functions import text as T
    from kafkastreamsjavachallenge_spark.operators import dedup as D

    docs = load_table(spark, SF_DIR, "documents")
    d = str(tmp_path / "doc_stream")
    os.makedirs(d)
    import pyarrow as pa
    import pyarrow.parquet as pq

    pdf = docs.toPandas()
    chunk = (len(pdf) + 3) // 4
    for i in range(4):
        pq.write_table(
            pa.Table.from_pandas(pdf.iloc[i * chunk : (i + 1) * chunk]),
            os.path.join(d, f"f{i}.parquet"),
        )

    stream = file_stream(spark, d, docs.schema, max_files_per_trigger=1)
    sigs = stream.filter(F.size(F.split(F.trim("text"), " ")) >= 3).select(
        "doc_id",
        T.minhash_signature(
            F.array_distinct(T.shingles(T.tokens("text"), 3)), 8
        ).alias("sig"),
    )
    banded = D.lsh_band_buckets(sigs, "doc_id", bands=4, rows_per_band=2)
    per_bucket = banded.groupBy("band", "bucket").agg(
        F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("keep_id")
    )
    got = {
        (r["band"], r["bucket"]): (r["n_docs"], r["keep_id"])
        for r in run_to_memory(per_bucket, output_mode="complete")
        .filter(F.col("n_docs") >= 2)
        .collect()
    }

    batch = (
        D.lsh_band_buckets(
            D.minhash_signatures(docs, n_perm=8), "doc_id", 4, 2
        )
        .groupBy("band", "bucket")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("keep_id"))
        .filter(F.col("n_docs") >= 2)
    )
    want = {
        (r["band"], r["bucket"]): (r["n_docs"], r["keep_id"])
        for r in batch.collect()
    }
    assert got == want and len(want) > 0


def test_stream_funnel_matches_batch_funnel_stages(spark):
    """Batch/streaming parity: the streaming funnel's three stage rows
    (row-local run-length top-token fold, one global streaming agg) equal
    the batch funnel's first three rows (explode/groupBy top-token, plain
    aggregates) on the same corpus — same numbers, different physical
    shape on each side of the micro-batch boundary."""
    from kafkastreamsjavachallenge_spark.queries.llm import q_filter_funnel
    from kafkastreamsjavachallenge_spark.queries.streaming_q import q_stream_funnel

    from tests.conftest import SF_DIR

    got = {
        r["stage"]: (r["n_in"], r["n_removed"], r["n_out"], r["removal_bp"])
        for r in q_stream_funnel(spark, SF_DIR).collect()
    }
    want = {
        r["stage"]: (r["n_in"], r["n_removed"], r["n_out"], r["removal_bp"])
        for r in q_filter_funnel(spark, SF_DIR).collect()
        if r["stage"] != "exact_dup"
    }
    assert got == want and len(got) == 3


def test_stream_ks_histogram_state_spans_batches(spark, tmp_path):
    """q_stream_ks's ingest state across REAL micro-batches: documents
    split into 3 time-ordered files, one file per trigger — the
    complete-mode (source, n_chars) histogram must converge to the batch
    histogram exactly, which makes the downstream KS grid (a
    deterministic post-pass over the drained counts, oracle-checked by
    the driver sim) identical by construction."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    docs = load_table(spark, SF_DIR, "documents")
    d = str(tmp_path / "doc_stream")
    os.makedirs(d)
    pdf = docs.toPandas()
    chunk = (len(pdf) + 2) // 3
    for i in range(3):
        pq.write_table(
            pa.Table.from_pandas(pdf.iloc[i * chunk : (i + 1) * chunk]),
            os.path.join(d, f"f{i}.parquet"),
        )
    stream = file_stream(spark, d, docs.schema, max_files_per_trigger=1)
    hist = stream.groupBy("source", "n_chars").agg(
        F.count(F.lit(1)).alias("c_s")
    )
    got = {
        (r["source"], r["n_chars"]): r["c_s"]
        for r in run_to_memory(hist, output_mode="complete").collect()
    }
    want = {
        (r["source"], r["n_chars"]): r["c_s"]
        for r in docs.groupBy("source", "n_chars")
        .agg(F.count(F.lit(1)).alias("c_s"))
        .collect()
    }
    assert got == want


def test_stream_sliding_anomaly_multibatch_append_finals(spark, event_files):
    """q_stream_anomaly_sliding's stateful core across real micro-batches
    (no horizon sentinel here, so the event-time tail stays open): every
    (event_type, window) count append mode emits is final-correct against
    the batch sliding expansion, nothing is emitted twice, and the
    un-emitted windows are exactly the open tail the watermark never
    passed."""
    d, ev = event_files
    stream = with_event_time(
        file_stream(spark, d, ev.schema, max_files_per_trigger=1), "ts"
    )
    win = (
        stream.withWatermark("ts", "2 minutes")
        .groupBy("event_type", F.window("ts", "2 minutes", "1 minute").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select("event_type", F.col("w.start").alias("window_start"), "n")
    )
    rows = run_to_memory(win, output_mode="append").collect()
    got = {(r["event_type"], r["window_start"]): r["n"] for r in rows}
    assert len(got) == len(rows), "a window was emitted twice"
    assert got, "watermark never closed any window across 4 micro-batches"
    want = {
        (r["event_type"], r["window_start"]): r["n"]
        for r in ev.select(
            "event_type",
            F.explode(
                F.array(
                    F.date_trunc("minute", F.col("ts")),
                    F.date_trunc("minute", F.col("ts"))
                    - F.expr("INTERVAL 1 MINUTE"),
                )
            ).alias("window_start"),
        )
        .groupBy("event_type", "window_start")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert all(want[k] == n for k, n in got.items())
    # un-emitted windows sit past the final watermark: strictly later
    # than every emitted window START + the 2-minute window length
    horizon = max(ws for _, ws in got)
    open_tail = [k for k in want if k not in got]
    assert all(ws >= horizon for _, ws in open_tail)


def test_sliding_window_append_checkpoint_recovery(spark, event_files, tmp_path):
    """Kill-and-restart the append-mode sliding-window monitor (the
    q_stream_anomaly_sliding core) from its checkpoint: append mode
    emits each closed window EXACTLY once across both runs — no window
    is re-emitted after restart (the state store holds the emitted-
    watermark), and every emitted count is final-correct against the
    batch sliding expansion."""
    import time as _t

    d, ev = event_files
    ckpt = str(tmp_path / "ckpt_sliding")
    emitted: list[tuple] = []

    def start():
        stream = with_event_time(
            file_stream(spark, d, ev.schema, max_files_per_trigger=1), "ts"
        )
        win = (
            stream.withWatermark("ts", "2 minutes")
            .groupBy(
                "event_type", F.window("ts", "2 minutes", "1 minute").alias("w")
            )
            .agg(F.count(F.lit(1)).alias("n"))
            .select("event_type", F.col("w.start").alias("ws"), "n")
        )
        return (
            win.writeStream.foreachBatch(
                lambda bdf, bid: emitted.extend(
                    (r["event_type"], r["ws"], r["n"]) for r in bdf.collect()
                )
            )
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    q1 = start()
    while not q1.recentProgress:
        _t.sleep(0.2)
    q1.stop()
    q1.awaitTermination()
    q2 = start()
    q2.awaitTermination()

    keys = [(t, w) for t, w, _ in emitted]
    assert len(keys) == len(set(keys)), "a closed window was emitted twice"
    assert keys, "no window closed across the two runs"
    want = {
        (r["event_type"], r["ws"]): r["n"]
        for r in ev.select(
            "event_type",
            F.explode(
                F.array(
                    F.date_trunc("minute", F.col("ts")),
                    F.date_trunc("minute", F.col("ts"))
                    - F.expr("INTERVAL 1 MINUTE"),
                )
            ).alias("ws"),
        )
        .groupBy("event_type", "ws")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert all(want[(t, w)] == n for t, w, n in emitted)


def test_staged_dir_reuse_failure_and_regeneration(spark, tmp_path):
    """The stream-staging cache: (a) same source -> same dir, no new dirs
    per call; (b) a build() failure removes its directory and leaves
    nothing behind; (c) regenerating the source IN PLACE (new size/mtime)
    builds a FRESH dir instead of serving the stale cached one, and removes
    the superseded one; (d) the stage lies under the process scratch root,
    which is private (0700) and owned by us."""
    import os
    import stat

    from kafkastreamsjavachallenge_spark.queries.streaming_q import _staged_dir

    src = str(tmp_path / "events_src.parquet")
    with open(src, "wb") as f:
        f.write(b"PAR1fakebody")

    d1 = _staged_dir(src, "t_reuse")
    d2 = _staged_dir(src, "t_reuse")
    assert d1 == d2
    assert os.path.islink(os.path.join(d1, "part-00000.parquet"))

    stage_root = os.path.dirname(d1)
    before = set(os.listdir(stage_root))

    def boom(tmp_dir):
        raise OSError("disk full")

    try:
        _staged_dir(src, "t_fail", build=boom)
        raise AssertionError("build failure must propagate")
    except OSError:
        pass
    after = set(os.listdir(stage_root))
    assert after == before, f"failed build leaked staging dirs: {after - before}"

    # in-place regeneration: new content identity -> new staging dir, and
    # the superseded one is removed
    with open(src, "wb") as f:
        f.write(b"PAR1regenerated-longer-body")
    os.utime(src, (1, 1))  # force a distinct mtime_ns deterministically
    d3 = _staged_dir(src, "t_reuse")
    assert d3 != d1, "stale staging dir served after source regeneration"
    assert os.path.islink(os.path.join(d3, "part-00000.parquet"))
    assert os.path.dirname(d3) == stage_root
    assert not os.path.exists(d1), "superseded staging dir not removed"

    # the stage lies under the process scratch root: private and ours
    from kafkastreamsjavachallenge_spark import session

    assert stage_root == session._scratch_root
    st = os.stat(stage_root)
    assert stat.S_IMODE(st.st_mode) == 0o700
    assert st.st_uid == os.getuid()

"""Tests of the benchmark harness itself (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys
import time
from collections import defaultdict
from datetime import datetime, timezone

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import gen, reference  # noqa: E402
from perfbench.trace import Span, Tracer, emit_latencies, self_times, tail_quantile  # noqa: E402

STREAM = dict(rate=400, interval_s=0.05, speed=60, n_users=50, disorder_s=30,
              ooo_share=0.2, late_share=0.05, late_s=1800, late_from=2, malformed_share=0.05)


def _write_all(root: str, seed: int) -> None:
    gen.write_events(os.path.join(root, "events"), seed, 5000, 300, 10, 30, 1000)
    gen.write_logframes(os.path.join(root, "topic"), seed, 2000, 100, 10, 30, 0.05)
    plan = gen.StreamPlan(seed=seed, **STREAM)
    for d in ("stage", "source"):
        os.makedirs(os.path.join(root, d))
    for k in range(4):
        plan.write_file(os.path.join(root, "stage"), os.path.join(root, "source"), k)


def test_same_seed_same_input_hash(tmp_path):
    a, b, c = (str(tmp_path / x) for x in "abc")
    _write_all(a, 7)
    _write_all(b, 7)
    _write_all(c, 8)
    assert gen.content_hash(a) == gen.content_hash(b)
    assert gen.content_hash(a) != gen.content_hash(c)


def test_reference_check_catches_a_planted_wrong_count(tmp_path):
    path = gen.write_events(str(tmp_path), 3, 20000, 2000, 5, 30, 4000)
    expected = reference.parquet_windows([path])
    assert len(expected) == 5 and all(n > 0 for n in expected.values())
    assert reference.compare_windows(dict(expected), expected).errors == 0
    wrong = dict(expected)
    w = sorted(wrong)[2]
    wrong[w] += 1
    check = reference.compare_windows(wrong, expected)
    assert check.errors == 1 and str(w) in check.detail
    missing = dict(expected)
    del missing[w]
    assert reference.compare_windows(missing, expected).errors == 1


def test_reference_matches_an_independent_count_of_log_frames(tmp_path):
    """The DuckDB reference drops malformed frames and exactly the far-late
    ones, as a plain-Python parse of the same files does."""
    plan = gen.StreamPlan(seed=5, **STREAM)
    stage, src = tmp_path / "stage", tmp_path / "source"
    stage.mkdir()
    src.mkdir()
    files = [(plan.write_file(str(stage), str(src), k), plan.late_cutoff_s(k)) for k in range(6)]
    users, late = defaultdict(set), 0
    for path, cutoff in files:
        with open(path) as f:
            lines = f.readlines()
        for line in lines:
            try:
                frame = json.loads(line)
            except json.JSONDecodeError:
                continue
            ts, uid = frame.get("ts"), frame.get("uid")
            if not isinstance(ts, int) or not uid:
                continue
            if ts < cutoff:
                late += 1
                continue
            minute = datetime.fromtimestamp(ts - ts % 60, tz=timezone.utc).replace(tzinfo=None)
            users[minute].add(uid)
    assert late > 0
    expected = {w: len(u) for w, u in users.items()}
    assert reference.stream_windows(files) == expected


def test_span_self_time_subtracts_the_union_of_children():
    spans = [
        Span(0, "parent", 0.0, 10.0, None, "t"),
        Span(1, "a", 1.0, 3.0, 0, "t"),
        Span(2, "b", 2.0, 5.0, 0, "t"),  # overlaps a: 1..5 counted once
        Span(3, "c", 8.0, 12.0, 0, "t"),  # clipped to the parent: 8..10
        Span(4, "grandchild", 2.5, 2.75, 2, "t"),
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10 - 4 - 2)
    assert st[2] == pytest.approx(3 - 0.25)
    assert st[3] == pytest.approx(4)


def test_tracer_parents_nested_spans_and_records_nothing_when_off():
    t = Tracer("trace-1")
    with t.span("outer"):
        with t.span("inner") as attrs:
            attrs["rows"] = 3
    assert [(s.name, s.parent, s.trace_id) for s in t.spans] == [
        ("outer", None, "trace-1"), ("inner", 0, "trace-1")]
    assert t.spans[1].attrs == {"rows": 3}
    off = Tracer("trace-2", enabled=False)
    with off.span("outer"):
        pass
    assert off.spans == [] and off.add("x", 0, 1) == -1


def test_open_loop_latency_counts_from_the_scheduled_time():
    # file b was due at 10.0 but the generator only wrote it at 10.4
    due = {"a": 9.0, "b": 10.0, "c": 11.0}
    batch_of = {"a": 0, "b": 1, "c": 2}
    emitted = {0: 9.5, 1: 11.0}  # batch 2 never emitted
    lat, missing = emit_latencies(due, batch_of, emitted)
    assert lat == [0.5, 1.0] and missing == 1


def test_file_batches_follow_the_offset_log_past_no_data_batches(tmp_path):
    """The file source numbers its log by its own offset; after a no-data
    micro-batch that offset runs behind the batch id."""
    from perfbench.engine import file_batches

    (tmp_path / "sources" / "0").mkdir(parents=True)
    (tmp_path / "offsets").mkdir()
    for offset, name in enumerate("abc"):
        entry = {"path": f"file:///in/{name}", "timestamp": 1, "batchId": offset}
        (tmp_path / "sources" / "0" / str(offset)).write_text("v1\n" + json.dumps(entry) + "\n")
    for batch, offset in enumerate([0, 0, 1, 2]):  # batch 1 read no new file
        (tmp_path / "offsets" / str(batch)).write_text(
            "v1\n{}\n" + json.dumps({"logOffset": offset}) + "\n")
    assert file_batches(str(tmp_path)) == {"/in/a": 0, "/in/b": 2, "/in/c": 3}


def test_generator_records_due_times_not_write_times(tmp_path, monkeypatch):
    """A generator that falls behind keeps its schedule: due times stay
    on the fixed grid and the lateness is reported separately."""
    from perfbench.workloads import UuStream

    wl = UuStream({}, 1, Tracer("t", enabled=False))
    wl.plan = gen.StreamPlan(seed=1, **STREAM)
    wl.stage, wl.src, wl.files, wl.k = str(tmp_path), str(tmp_path), {}, 0
    slow = lambda stage, src, k: time.sleep(0.08) or f"f{k}"  # noqa: E731
    monkeypatch.setattr(wl.plan.__class__, "write_file", lambda self, *a: slow(*a))
    due, late = wl._generate(0.25)
    times = [due[f"f{k}"] for k in range(5)]
    assert [round(b - a, 6) for a, b in zip(times, times[1:])] == [0.05] * 4
    assert late[0] < 0.01 and late[-1] > 0.1


def test_tail_percentile_keeps_ten_samples_beyond_it():
    assert tail_quantile(120) == 0.91
    assert tail_quantile(1000) == 0.99
    assert tail_quantile(12) == 0.5  # too few samples for any tail


def test_query_is_idle_only_when_every_planned_batch_committed(tmp_path):
    from perfbench.engine import batch_seconds, idle, next_batch

    assert idle(str(tmp_path)) and next_batch(str(tmp_path)) == 0  # nothing planned yet
    (tmp_path / "offsets").mkdir()
    (tmp_path / "commits").mkdir()
    (tmp_path / "offsets" / "0").write_text("v1\n")
    assert not idle(str(tmp_path))
    (tmp_path / "commits" / "0").write_text("v1\n")
    (tmp_path / "offsets" / ".1.tmp").write_text("")
    assert idle(str(tmp_path)) and next_batch(str(tmp_path)) == 1
    os.utime(tmp_path / "offsets" / "0", (100.0, 100.0))
    os.utime(tmp_path / "commits" / "0", (107.5, 107.5))
    assert batch_seconds(str(tmp_path), 0) == [[0, 7.5]]
    assert batch_seconds(str(tmp_path), 1) == []


def test_run_waits_for_orphaned_grandchildren(tmp_path):
    """A process whose parent exits before it (as Spark's Python daemon
    does when the JVM exits) is still waited for, and stopped if it runs
    on past the grace period."""
    import subprocess

    pidfile = str(tmp_path / "pid")
    script = (
        "import subprocess, time\n"
        "from perfbench import run\n"
        "run._adopt_orphans()\n"
        f"subprocess.run(['sh', '-c', 'sleep 60 & echo $!'], stdout=open({pidfile!r}, 'w'))\n"
        "t = time.monotonic(); run._reap_children(grace=0.5)\n"
        "assert not run._children() and time.monotonic() - t < 5\n"
    )
    out = subprocess.run([sys.executable, "-c", script], cwd=ROOT, capture_output=True,
                         text=True, timeout=30)
    assert out.returncode == 0, out.stderr
    pid = int(open(pidfile).read())
    assert not os.path.exists(f"/proc/{pid}")

"""The workloads.  Each generates seeded inputs (in a child process, so the
generator's memory stays out of ``peak_rss_mb``), drives the engine only
through its public functions, keeps every result it gets back and checks
them against ``reference.py``.

A workload is set up several times per run (``setup``), then measured
(``measure``) for a fixed time; a traced run measures it with spans and
per-layer counters on between two untraced halves.
"""

from __future__ import annotations

import dataclasses
import os
import sys
import threading
import time
import traceback
from dataclasses import dataclass, field

from pyspark.sql.types import StringType, StructField, StructType

from kafkastreamsjavachallenge_spark import catalog
from kafkastreamsjavachallenge_spark.operators.windows import unique_users
from kafkastreamsjavachallenge_spark.sources.kafka import parse_log_frames
from kafkastreamsjavachallenge_spark.sources.logframe_ds import LogFrameDataSource
from kafkastreamsjavachallenge_spark.streaming.pipeline import file_stream, streaming_unique_users
from kafkastreamsjavachallenge_spark.streaming.sinks import for_each_batch

from perfbench import engine, gen, reference
from perfbench.reference import Check
from perfbench.trace import Tracer, emit_latencies, median, progress_spans


@dataclass
class Phase:
    """What one measurement phase produced."""

    wall: float = 0.0
    records: int = 0  # input records whose results were delivered
    offered: int = 0  # input records offered
    attempted: int = 0  # operations (closed loop) or source files (open loop)
    failed: int = 0
    latencies: list[float] = field(default_factory=list)  # seconds
    batches: list = field(default_factory=list)  # open loop: [micro-batch id, seconds]
    layers: dict = field(default_factory=dict)  # per-layer metrics, traced only

    def merged(self, other: "Phase") -> "Phase":
        """Both phases as one (per-layer metrics are not merged)."""
        return Phase(
            self.wall + other.wall, self.records + other.records,
            self.offered + other.offered, self.attempted + other.attempted,
            self.failed + other.failed, self.latencies + other.latencies,
            batches=self.batches + other.batches,
        )


def _fail(what: str) -> None:
    print(f"perfbench: {what} failed:\n{traceback.format_exc()}", file=sys.stderr)


class Workload:
    name = ""
    open_loop = False

    def __init__(self, params: dict, seed: int, tracer: Tracer, pool=None):
        self.p = params
        self.seed = seed
        self.tracer = tracer
        self.pool = pool  # one-process executor that runs the generators
        self.spark = None
        self.dir = ""
        self.results: list = []
        self.wrong = 0  # kept results that differ from the reference

    def setup(self, spark, rep_dir: str) -> dict:
        """Generate and stage inputs under ``rep_dir`` and warm up; returns
        per-layer set-up timings."""
        raise NotImplementedError

    def op(self):
        """One closed-loop operation: (records consumed, result)."""
        raise NotImplementedError

    def measure(self, seconds: float) -> Phase:
        return self.closed_loop(seconds)

    def warm(self, seconds: float) -> None:
        """Untimed operations after the last set-up, so that the JVM's JIT
        has settled: after three set-ups a closed loop's next five or so
        operations still take up to 30% longer and more CPU than later ones."""
        if not self.open_loop:
            self.closed_loop(seconds)
            self.results.clear()

    def check(self) -> Check:
        raise NotImplementedError

    def input_dir(self) -> str:
        return self.dir

    def generate(self, fn, *args):
        """``fn(*args)`` from ``gen`` in the generator process."""
        return self.pool.submit(fn, *args).result()

    def close(self) -> None:
        pass

    # ------------------------------------------------------------ shared

    def closed_loop(self, seconds: float) -> Phase:
        """One client: issue the next operation when the previous returns,
        until ``seconds`` have passed; operations started in time finish."""
        ph = Phase()
        t0 = time.perf_counter()
        while time.perf_counter() - t0 < seconds:
            ph.attempted += 1
            start = time.perf_counter()
            try:
                n, result = self.op()
            except Exception:
                _fail(f"{self.name} operation")
                ph.failed += 1
                continue
            ph.latencies.append(time.perf_counter() - start)
            ph.records += n
            self.results.append(result)
        # Throughput from the median operation (operations are identical),
        # so one slow outlier does not move it.
        ph.wall = median(ph.latencies) * len(ph.latencies)
        ph.offered = ph.records * ph.attempted // max(1, len(ph.latencies))
        return ph

    def checked(self, expected_of, compare) -> Check:
        """Compare every kept result with the reference; the worst result
        is reported and each wrong one counts as a failed operation."""
        checks = [compare(r, expected_of) for r in self.results]
        if not checks:
            return Check(1, "no result to check")
        self.wrong = sum(1 for c in checks if c.errors)
        return max(checks, key=lambda c: c.errors)


def _windows(rows) -> dict:
    return {r["window_start"]: r["unique_users"] for r in rows}


# --------------------------------------------------------------- uu_batch


class UuBatch(Workload):
    """Closed loop over the batch flagship on a catalog-loaded table."""

    name = "uu_batch"

    def setup(self, spark, rep_dir):
        self.spark, self.dir = spark, rep_dir
        p = self.p
        self.generate(gen.write_events, rep_dir, self.seed, p["n_events"], p["n_users"],
                      p["minutes"], p["disorder_s"], p["row_group"])
        t = time.perf_counter()
        with self.tracer.span("catalog.load_table"):
            self.events = catalog.load_table(spark, rep_dir, "events")
        load_s = time.perf_counter() - t
        self.op()
        self.results.clear()
        return {"catalog.load_s": load_s}

    def op(self):
        with self.tracer.span("windows.unique_users") as a:
            df = unique_users(self.events)
            rows = df.collect()
        if self.tracer.enabled:
            a.update(engine.aggregation_metrics(df))
        return self.p["n_events"], _windows(rows)

    def measure(self, seconds):
        gc0 = engine.gc_ms(self.spark) if self.tracer.enabled else 0.0
        first = len(self.tracer.spans)
        ph = self.closed_loop(seconds)
        if self.tracer.enabled:
            spans = self.tracer.named("windows.unique_users", first)
            agg = lambda k: sum(s.attrs.get(k, 0) for s in spans)  # noqa: E731
            ph.layers = {
                "windows.exec_s": median([s.duration for s in spans]),
                "windows.scan_rows": agg("scan_rows") / max(1, len(spans)),
                "windows.partial_rows_out": agg("partial_rows_out") / max(1, len(spans)),
                "windows.partial_reduction": agg("partial_rows_out") / max(1, agg("scan_rows")),
                "windows.shuffle_bytes": agg("shuffle_bytes") / max(1, len(spans)),
                "windows.spill_bytes": agg("spill_bytes") / max(1, len(spans)),
                "jvm.gc_ms": engine.gc_ms(self.spark) - gc0,
            }
        return ph

    def check(self):
        expected = reference.parquet_windows([os.path.join(self.dir, "events.parquet")])
        return self.checked(expected, reference.compare_windows)


# -------------------------------------------------------------- uu_stream


TEXT_SCHEMA = StructType([StructField("value", StringType())])


class UuStream(Workload):
    """Open loop: the generator renames a JSON log-frame file into the
    source directory every ``interval_s`` at a fixed offered rate, while the
    reference's topology runs, as the engine ships it: file_stream →
    parse_log_frames → streaming_unique_users → foreachBatch sink, in
    update mode.  A traced run also reads a Kafka-wire topic through the
    batch ``logframes`` DataSource, so the source layer is measured."""

    name = "uu_stream"
    open_loop = True

    def setup(self, spark, rep_dir):
        self.close()
        self.spark, self.dir = spark, rep_dir
        p = self.p
        self.plan = gen.StreamPlan(
            seed=self.seed, rate=p["rate"], interval_s=p["interval_s"], speed=p["speed"],
            n_users=p["n_users"], disorder_s=p["disorder_s"], ooo_share=p["ooo_share"],
            late_share=p["late_share"], late_s=p["late_s"],
            late_from=1 << 30,  # set once the warm-up is done
            malformed_share=p["malformed_share"],
        )
        self.src = os.path.join(rep_dir, "source")
        self.stage = os.path.join(rep_dir, "stage")
        self.ckpt = os.path.join(rep_dir, "checkpoint")
        for d in (self.src, self.stage):
            os.makedirs(d)
        self.lock = threading.Lock()
        self.windows: dict = {}
        self.emitted: dict[int, float] = {}
        self.query_span: int | None = None  # parent of sink spans while traced
        self.files: dict[str, int] = {}  # path -> file index k
        self.k = 0
        frames = parse_log_frames(file_stream(spark, self.src, TEXT_SCHEMA, fmt="text"))
        result = streaming_unique_users(frames, uid_col="uid")
        self.query = for_each_batch(result, self._sink, self.ckpt, "update", available_now=False)
        self.source_errors = 0
        self._warm_up()
        return {}

    def _warm_up(self):
        """Write warm-up files until the query has planned a micro-batch
        that runs with a watermark.  Spark drops events beyond the
        watermark only from the batch after that one on (its late-event
        watermark is the previous batch's), so far-late frames go into
        the measured files only."""
        grace = self.p["grace_s"]
        while True:
            self._generate(self.plan.interval_s)
            if not engine.wait_until(lambda: self._backlog() == 0, grace, poll=0.1):
                raise RuntimeError(f"uu_stream warm-up did not drain within {grace} s")
            if engine.wait_until(lambda: engine.watermark_ms(self.ckpt) > 0, 2.0, poll=0.05):
                break
            if self.k >= 3:
                raise RuntimeError("uu_stream warm-up: no micro-batch got a watermark")
        self.plan = dataclasses.replace(self.plan, late_from=self.k)

    def _sink(self, df, batch_id):
        called = time.time()
        rows = df.collect()
        done = time.time()
        with self.lock:
            for r in rows:
                self.windows[r["window_start"]] = r["unique_users"]
            self.emitted[batch_id] = done
        self.tracer.add("sinks.for_each_batch", called, done, self.query_span,
                        batch=batch_id, rows=len(rows))

    def _generate(self, seconds: float) -> tuple[dict[str, float], list[float]]:
        """Write files on the fixed schedule for ``seconds``; returns each
        file's due time and how late each write started."""
        due, late = {}, []
        t0 = time.time()
        for i in range(round(seconds / self.plan.interval_s)):
            at = t0 + i * self.plan.interval_s
            now = time.time()
            if now < at:
                time.sleep(at - now)
            late.append(max(0.0, time.time() - at))
            path = self.plan.write_file(self.stage, self.src, self.k)
            self.files[path] = self.k
            due[path] = at
            self.k += 1
        return due, late

    def _backlog(self) -> int:
        done = engine.file_batches(self.ckpt)
        with self.lock:
            return sum(1 for f in self.files if done.get(f) not in self.emitted)

    def _wait_idle(self):
        """Start each phase on an idle query, not part-way through a batch
        (such as the no-data batch Spark runs after the warm-up moved the
        watermark), so that the files of a phase split over micro-batches
        the same way in every run.  Idle means every planned batch has
        committed, twice in a row 0.3 s apart."""
        def settled():
            if not engine.idle(self.ckpt):
                return False
            time.sleep(0.3)
            return engine.idle(self.ckpt)

        grace = self.p["grace_s"]
        if not engine.wait_until(settled, grace, poll=0.05):
            raise RuntimeError(f"uu_stream query not idle within {grace} s")

    def measure(self, seconds):
        traced = self.tracer.enabled
        if traced:
            log = engine.ProgressLog()
            self.spark.streams.addListener(log)
            gc0 = engine.gc_ms(self.spark)
        self._wait_idle()
        first = engine.next_batch(self.ckpt)
        with self.tracer.span("streaming.query"):
            self.query_span = self.tracer.current()
            due, late = self._generate(seconds)
            engine.wait_until(lambda: self._backlog() == 0, self.p["grace_s"], poll=0.1)
        self.query_span = None
        batch_of = engine.file_batches(self.ckpt)
        with self.lock:
            emitted = dict(self.emitted)
        lat, missing = emit_latencies(due, batch_of, emitted)
        # delivered frames over the time from the first file's due time to
        # the last emitting sink call
        last = max((emitted[batch_of[f]] for f in due if batch_of.get(f) in emitted), default=0)
        wall = last - min(due.values())
        per = self.plan.per_file
        if emitted:  # the commit log entry follows the sink call within milliseconds
            done = os.path.join(self.ckpt, "commits", str(max(emitted)))
            engine.wait_until(lambda: os.path.exists(done), 5.0)
        ph = Phase(wall=wall, records=per * (len(due) - missing), offered=per * len(due),
                   attempted=len(due), failed=missing, latencies=lat,
                   batches=engine.batch_seconds(self.ckpt, first))
        if traced:
            time.sleep(0.5)  # the listener bus delivers progress asynchronously
            self.spark.streams.removeListener(log)
            progress = [p for p in log.take()
                        if p.get("id") == str(self.query.id) and p["batchId"] >= first]
            qspan = self.tracer.named("streaming.query")[-1].span_id
            batch_span = progress_spans(self.tracer, progress, lambda p: qspan)
            sinks = self.tracer.named("sinks.for_each_batch", qspan)
            for s in sinks:
                s.parent = batch_span.get(s.attrs["batch"], qspan)
            ph.layers = {
                **self._read_topic(),
                **stream_layers(progress),
                "sink.batch_ms_p50": 1000 * median([s.duration for s in sinks]),
                "gen.late_ms_p50": 1000 * median(late),
                "gen.late_ms_max": 1000 * max(late, default=0.0),
                "jvm.gc_ms": engine.gc_ms(self.spark) - gc0,
            }
        return ph

    def _read_topic(self) -> dict:
        """Time a batch ``parse_log_frames`` over the ``logframes``
        DataSource reading a generated Kafka-wire topic; every frame the
        generator did not make malformed must parse."""
        p = self.p
        topic = os.path.join(self.dir, "topic")
        malformed = self.generate(gen.write_logframes, topic, self.seed, p["topic_records"],
                                  p["n_users"], p["topic_minutes"], p["disorder_s"],
                                  p["malformed_share"])
        self.spark.dataSource.register(LogFrameDataSource)
        raw = self.spark.read.format("logframes").option("path", topic).load()
        with self.tracer.span("sources.read_parse"):
            parsed = parse_log_frames(raw).count()
        self.source_errors += abs(parsed - (p["topic_records"] - malformed))
        return {
            "sources.read_parse_s": self.tracer.named("sources.read_parse")[-1].duration,
            "sources.parse_yield": parsed / max(1, raw.count()),
        }

    def check(self):
        batch_of = engine.file_batches(self.ckpt)
        with self.lock:
            emitted, actual = set(self.emitted), dict(self.windows)
        files = [
            (path, self.plan.late_cutoff_s(k))
            for path, k in self.files.items()
            if batch_of.get(path) in emitted
        ]
        c = reference.compare_windows(actual, reference.stream_windows(files))
        if self.source_errors:
            c = Check(c.errors + self.source_errors,
                      f"{self.source_errors} topic frames parsed wrongly; {c.detail}")
        self.wrong = int(c.errors > 0)
        return c

    def input_dir(self):
        return self.src

    def close(self):
        q = getattr(self, "query", None)
        if q is not None:
            try:
                q.stop()
            except Exception:
                _fail("stopping the uu_stream query")
            self.query = None


def stream_layers(progress: list[dict]) -> dict:
    """Per-micro-batch streaming and state-store figures from progress."""
    dur = lambda k: [p["durationMs"].get(k, 0) for p in progress]  # noqa: E731
    ops = [p.get("stateOperators", []) for p in progress]
    total = lambda k: [sum(o.get(k, 0) for o in b) for b in ops]  # noqa: E731
    return {
        "stream.batches": len(progress),
        "stream.rows_per_batch_p50": median([p["numInputRows"] for p in progress if p["numInputRows"]]),
        "stream.trigger_ms_p50": median(dur("triggerExecution")),
        "stream.add_batch_ms_p50": median(dur("addBatch")),
        "stream.wal_commit_ms_p50": median(dur("walCommit")),
        "stream.commit_offsets_ms_p50": median(dur("commitOffsets")),
        "stream.query_planning_ms_p50": median(dur("queryPlanning")),
        "sources.latest_offset_ms_p50": median(dur("latestOffset")),
        "state.rows_total_max": max(total("numRowsTotal"), default=0),
        "state.rows_removed": sum(total("numRowsRemoved")),
        "state.rows_dropped_by_watermark": sum(total("numRowsDroppedByWatermark")),
        "state.memory_bytes_max": max(total("memoryUsedBytes"), default=0),
        "state.commit_ms_p50": median(total("commitTimeMs")),
    }


WORKLOADS = {w.name: w for w in (UuBatch, UuStream)}

"""Observation of the engine from outside the package: session lifecycle,
executed-plan SQL metrics, streaming progress events, JVM counters and
process memory.  Nothing here changes what the engine computes.
"""

from __future__ import annotations

import json
import os
import threading
import time

from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQueryListener

from kafkastreamsjavachallenge_spark.session import EngineConfig, build_session


def session_config(work: str, cpus: int) -> EngineConfig:
    """The engine's own session at ``local[cpus]``, with every scratch
    location inside ``work`` and console progress bars off so they cannot
    interleave with the metric output."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return EngineConfig(
        master=f"local[{cpus}]",
        extra={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
        },
    )


def start_session(config: EngineConfig) -> SparkSession:
    spark = build_session(config)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark: SparkSession) -> None:
    """Stop the session, then the JVM gateway, also when stopping the
    session fails, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
    finally:
        if gateway is not None:
            _stop_gateway(gateway, proc)


def _stop_gateway(gateway, proc) -> None:
    from pyspark import SparkContext

    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def jvm_pid(spark: SparkSession) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def gc_ms(spark: SparkSession) -> float:
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return float(sum(beans.get(i).getCollectionTime() for i in range(beans.size())))


def hwm_mb(pid: int | str) -> float:
    """Peak resident set (VmHWM) of a process, in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


# ---------------------------------------------------------- plan metrics


def _metrics(node) -> dict:
    it = node.metrics().iterator()
    out = {}
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = kv._2().value()
    return out


def plan_nodes(plan, depth: int = 0, exchanges: int = 0):
    """Yield (depth, exchanges above, node name, SQL metrics) for every node
    of an executed plan, descending through AQE stages."""
    name = plan.nodeName()
    yield depth, exchanges, name, _metrics(plan)
    cls = plan.getClass().getSimpleName()
    below = exchanges + (1 if name == "Exchange" else 0)
    if cls == "AdaptiveSparkPlanExec":
        yield from plan_nodes(plan.executedPlan(), depth + 1, below)
    elif cls.endswith("QueryStageExec"):
        yield from plan_nodes(plan.plan(), depth + 1, below)
    children = plan.children()
    for i in range(children.size()):
        yield from plan_nodes(children.apply(i), depth + 1, below)


def aggregation_metrics(df) -> dict:
    """Scan rows, map-side partial-aggregation rows out, shuffle bytes and
    spill of the last execution of ``df`` (read after its action)."""
    nodes = list(plan_nodes(df._jdf.queryExecution().executedPlan()))
    scans = [n for n in nodes if n[2].startswith("Scan ")]
    scan_stage = max((n[1] for n in scans), default=0)
    partial = [n for n in nodes if n[2] == "HashAggregate" and n[1] == scan_stage]
    top = min((n[0] for n in partial), default=None)
    return {
        "scan_rows": sum(n[3].get("numOutputRows", 0) for n in scans),
        "partial_rows_out": sum(n[3].get("numOutputRows", 0) for n in partial if n[0] == top),
        "shuffle_bytes": sum(n[3].get("shuffleBytesWritten", 0) for n in nodes if n[2] == "Exchange"),
        "spill_bytes": sum(n[3].get("spillSize", 0) for n in nodes),
    }


# ------------------------------------------------------ streaming progress


class ProgressLog(StreamingQueryListener):
    """Collects StreamingQueryProgress JSON of every query in the session."""

    def __init__(self):
        self._lock = threading.Lock()
        self.events: list[dict] = []

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        with self._lock:
            self.events.append(json.loads(event.progress.json))

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass

    def take(self) -> list[dict]:
        with self._lock:
            out, self.events = self.events, []
        return out


def file_batches(checkpoint: str) -> dict[str, int]:
    """File path → the micro-batch that read it, from a file-source query's
    checkpoint.  The source's metadata log numbers its entries with the
    source's own log offset, which runs behind the batch id once the query
    has run a no-data batch; the offset log maps each batch to the log
    offset it read up to."""
    import bisect
    from urllib.parse import unquote, urlparse

    logged: dict[str, int] = {}
    d = os.path.join(checkpoint, "sources", "0")
    for fn in os.listdir(d) if os.path.isdir(d) else []:
        if fn.startswith(".") or fn.endswith(".tmp"):
            continue
        with open(os.path.join(d, fn), errors="replace") as f:
            for line in f:
                if line.startswith("{"):
                    e = json.loads(line)
                    logged[unquote(urlparse(e["path"]).path)] = int(e["batchId"])
    ends = []  # (batch id, source log offset read up to)
    d = os.path.join(checkpoint, "offsets")
    for fn in os.listdir(d) if os.path.isdir(d) else []:
        if fn.isdigit():
            with open(os.path.join(d, fn)) as f:
                lines = f.read().splitlines()
            if len(lines) > 2:  # version, metadata, one line per source
                ends.append((int(fn), int(json.loads(lines[2])["logOffset"])))
    ends.sort()
    offsets = [m for _, m in ends]
    out = {}
    for path, m in logged.items():
        i = bisect.bisect_left(offsets, m)
        if i < len(ends):
            out[path] = ends[i][0]
    return out


def watermark_ms(checkpoint: str) -> int:
    """The highest event-time watermark a planned micro-batch of the query
    runs with (0 before any batch has one), from the offset log."""
    d = os.path.join(checkpoint, "offsets")
    out = 0
    for fn in os.listdir(d) if os.path.isdir(d) else []:
        if fn.isdigit():
            with open(os.path.join(d, fn)) as f:
                lines = f.read().splitlines()
            if len(lines) > 1:
                out = max(out, int(json.loads(lines[1]).get("batchWatermarkMs", 0)))
    return out


def _logged_batches(checkpoint: str, log: str) -> list[int]:
    d = os.path.join(checkpoint, log)
    return [int(fn) for fn in os.listdir(d) if fn.isdigit()] if os.path.isdir(d) else []


def idle(checkpoint: str) -> bool:
    """Whether every micro-batch the query has planned is committed."""
    return (max(_logged_batches(checkpoint, "offsets"), default=-1)
            == max(_logged_batches(checkpoint, "commits"), default=-1))


def next_batch(checkpoint: str) -> int:
    """The id the query's next planned micro-batch will get."""
    return max(_logged_batches(checkpoint, "offsets"), default=-1) + 1


def batch_seconds(checkpoint: str, first: int) -> list[list]:
    """[batch id, seconds from planned to committed] of every committed
    micro-batch from ``first`` on, from the offset and commit logs' times."""
    out = []
    for b in sorted(set(_logged_batches(checkpoint, "commits"))):
        if b >= first:
            planned = os.stat(os.path.join(checkpoint, "offsets", str(b))).st_mtime
            committed = os.stat(os.path.join(checkpoint, "commits", str(b))).st_mtime
            out.append([b, round(committed - planned, 3)])
    return out


def wait_until(cond, timeout: float, poll: float = 0.02) -> bool:
    end = time.monotonic() + timeout
    while time.monotonic() < end:
        if cond():
            return True
        time.sleep(poll)
    return cond()

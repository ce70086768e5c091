"""Benchmark entry point.

    python3 perfbench/run.py --workload uu_batch --seed 1 --seconds 5 --trace 0

Run from the repository root.  Generates the workload's inputs from
``--seed``, sets the workload up several times (``setup_s`` is the median),
measures it for ``--seconds``, checks every result against an independent
reference and prints, as the last line of standard output, one JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics of BENCHMARK.json with ``--trace 0``, its per-layer metrics with
``--trace 1``.  The line before it records the input hash, host context and
the details behind each metric.  A traced run writes its spans to
``.perfbench_work/traces/``.  Exits non-zero, without a result line, when
the engine package is missing, and with a result line but exit code 1 when
a result differs from the reference.
"""

from __future__ import annotations

import argparse
import json
import multiprocessing
import os
import shutil
import signal
import sys
import time
import uuid
from concurrent.futures import ProcessPoolExecutor
from multiprocessing import resource_tracker

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "kafkastreamsjavachallenge_spark"
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench.trace import median  # noqa: E402


def _cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def host_context(cpu0: list[int], load0: float) -> dict:
    """Recorded next to the metrics, never used to drop a run."""
    cpu1 = _cpu_times()
    delta = [b - a for a, b in zip(cpu0, cpu1)]
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "loadavg_1m_start": load0,
        "loadavg_1m_end": os.getloadavg()[0],
        "iowait_share": delta[4] / max(1, sum(delta)),
        "steal_share": delta[7] / max(1, sum(delta)) if len(delta) > 7 else 0.0,
    }


def _environment(work: str) -> None:
    """Keep every scratch file inside the checkout and let Spark's Python
    workers import the engine package."""
    os.environ["TZ"] = "UTC"
    time.tzset()
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    import tempfile

    tempfile.tempdir = tmp
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable


def _adopt_orphans() -> None:
    """Make this process the subreaper of everything the run starts, so that
    processes orphaned on the way (Spark's Python daemon and workers, once
    the JVM has exited) are still its children to wait for."""
    import ctypes

    PR_SET_CHILD_SUBREAPER = 36
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def _children() -> list[int]:
    me, out = str(os.getpid()), []
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = f.read().rsplit(")", 1)[1].split()[1]
            except (OSError, IndexError):
                continue
            if ppid == me:
                out.append(int(d))
    return out


def _reap_children(grace: float = 10.0) -> None:
    """Wait until every child, adopted orphans included, has ended: those
    still running after ``grace`` seconds get SIGTERM, 5 s later SIGKILL."""
    for sig, wait in ((None, grace), (signal.SIGTERM, 5.0), (signal.SIGKILL, 5.0)):
        end = time.monotonic() + wait
        while kids := _children():
            for pid in kids:
                try:
                    if sig is not None:
                        os.kill(pid, sig)
                    os.waitpid(pid, os.WNOHANG)
                except (ProcessLookupError, ChildProcessError):
                    pass
            sig = None
            if time.monotonic() > end:
                break
            time.sleep(0.02)
        else:
            return


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: engine package {PACKAGE}/ not found under {ROOT}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    with open(os.path.join(HERE, "spec.json")) as f:
        spec = json.load(f)
    if args.workload not in spec["workloads"]:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    # Terminated runs still stop Spark, every process started on the way
    # and remove their scratch files.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    _adopt_orphans()
    cpu0, load0 = _cpu_times(), os.getloadavg()[0]
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    _environment(work)
    try:
        return _run(args, bench, spec, work, cpu0, load0)
    finally:
        resource_tracker._resource_tracker._stop()  # started by the spawn pool
        _reap_children()
        shutil.rmtree(work, ignore_errors=True)


def _run(args, bench, spec, work, cpu0, load0) -> int:
    from perfbench import engine
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS

    cpus = len(os.sched_getaffinity(0))
    config = engine.session_config(work, cpus)
    trace_id = f"{args.workload}-{args.seed}-{uuid.uuid4().hex[:8]}"
    tracer = Tracer(trace_id, enabled=bool(args.trace))
    # The generators run in a child process: their arrays would otherwise
    # make up most of this process's part of peak_rss_mb.
    with ProcessPoolExecutor(1, mp_context=multiprocessing.get_context("spawn")) as pool:
        wl = WORKLOADS[args.workload](
            spec["workloads"][args.workload]["params"], args.seed, tracer, pool)
        return _measure(args, bench, spec, work, cpu0, load0, config, tracer, wl)


def _measure(args, bench, spec, work, cpu0, load0, config, tracer, wl) -> int:
    from perfbench import engine, gen
    from perfbench.trace import summarize

    spark = None
    setups, builds, loads = [], [], []
    try:
        for rep in range(spec["setup_reps"]):
            if spark is not None:
                wl.close()
                spark.stop()
                shutil.rmtree(wl.dir, ignore_errors=True)
            t0 = time.perf_counter()
            with tracer.span("setup", rep=rep):
                with tracer.span("session.build"):
                    spark = engine.start_session(config)
                builds.append(time.perf_counter() - t0)
                layer = wl.setup(spark, os.path.join(work, f"rep{rep}"))
            setups.append(time.perf_counter() - t0)
            loads.append(layer.get("catalog.load_s", 0.0))

        tracer.enabled = False
        wl.warm(2 * args.seconds)
        traced = None
        if args.trace:
            # Untraced halves on both sides of the traced phase, so the JVM's
            # warm-up drift cancels out of trace.overhead_ratio.  Each open-
            # loop phase ends by draining up to two micro-batches, so there
            # one whole untraced phase before the traced one has to do.
            base = wl.measure(args.seconds if wl.open_loop else args.seconds / 2)
            tracer.enabled = True
            with tracer.span("measure", workload=args.workload):
                traced = wl.measure(args.seconds)
            tracer.enabled = False
            if not wl.open_loop:
                base = base.merged(wl.measure(args.seconds / 2))
        else:
            base = wl.measure(args.seconds)
        # before the check, whose DuckDB reference runs in this process
        rss = engine.hwm_mb(engine.jvm_pid(spark)) + engine.hwm_mb("self")
        check = wl.check()
        input_hash = gen.content_hash(wl.input_dir())
    finally:
        wl.close()
        if spark is not None:
            engine.stop_session(spark)

    lat = summarize(base.latencies)
    failed = base.failed + wl.wrong
    e2e = {
        "setup_s": median(setups),
        "records_per_s": base.records / base.wall if base.wall else 0.0,
        "latency_ms_p50": 1000 * lat["p50"],
        "latency_ms_tail": 1000 * lat["tail"],
        "keepup_ratio": base.records / base.offered if base.offered else 0.0,
        "peak_rss_mb": rss,
    }
    if args.trace:
        values = {m["name"]: 0.0 for m in bench["per_layer"]}
        values.update(traced.layers)
        values["session.build_s"] = median(builds)
        values["catalog.load_s"] = median(loads)
        values["trace.overhead_ratio"] = _overhead(base, traced, wl.open_loop)
        defs = bench["per_layer"]
        os.makedirs(os.path.join(ROOT, ".perfbench_work", "traces"), exist_ok=True)
        tracer.write(os.path.join(ROOT, ".perfbench_work", "traces", f"{tracer.trace_id}.jsonl"))
    else:
        values, defs = e2e, bench["end_to_end"]
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in defs}

    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "trace_id": tracer.trace_id,
        "input_sha256": input_hash,
        "host": host_context(cpu0, load0),
        "latency": {"p50_ms": 1000 * lat["p50"], "tail_ms": 1000 * lat["tail"],
                    "tail_percentile": 100 * lat["q"], "samples": lat["n"],
                    "closed_loop_samples_ms": [] if wl.open_loop else
                    [round(1000 * x, 1) for x in base.latencies]},
        "micro_batches_s": base.batches,
        "setup_reps_s": setups,
        "session_build_reps_s": builds,
        "result_errors": check.errors,
        "error_rate": failed / max(1, base.attempted),
        "check_detail": check.detail,
        "end_to_end": e2e,
    }
    correct = check.errors == 0 and wl.wrong == 0
    print(json.dumps(detail))
    print(json.dumps({"correct": correct, "attempted": base.attempted, "failed": failed,
                      "metrics": metrics}), flush=True)
    if not correct:
        print(f"perfbench: RESULT MISMATCH on {args.workload} seed {args.seed}: "
              f"{check.errors} differ from the reference; {check.detail}", file=sys.stderr)
        return 1
    return 0


def _overhead(base, traced, open_loop: bool) -> float:
    """Traced ÷ untraced: median latency for the open loop (whose time per
    record is fixed by its offered rate), time per record otherwise."""
    if not (base.latencies and traced.latencies and base.records and traced.records):
        return 0.0
    if open_loop:
        return median(traced.latencies) / median(base.latencies)
    return (traced.wall / traced.records) / (base.wall / base.records)


if __name__ == "__main__":
    sys.exit(main())

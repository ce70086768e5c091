"""SparkSession factory + runtime configuration.

Maps the reference's config service (KafkaConfigurationService.java:14-45,
KafkaConfiguration.java:3-48, config.properties:1-5) to an idiomatic
``SparkSession.builder`` config module.

Scale rationale (100 TB / 1000-executor design, tested on local[N]):
- AQE on: runtime partition coalescing + skew-join splitting replace the
  reference's hand-chosen 4-partition topics (README.md:152-154).
- Session timezone pinned to UTC so event-time semantics are stable across
  engines and clusters (SURVEY.md §7.3 oracle-drift risk).
- ``nanosAsLong`` because the synthetic events table carries parquet
  TIMESTAMP(NANOS), which Spark's vectorized reader refuses natively;
  ``operators/windows.py with_event_time`` converts it to microsecond
  TimestampType at scan time.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import threading
from dataclasses import dataclass, field

from pyspark.sql import SparkSession


@dataclass(frozen=True)
class EngineConfig:
    """Engine configuration (the C1 analog of the reference's config beans)."""

    app_name: str = "kafkastreamsjavachallenge-spark"
    master: str | None = None  # None -> inherit / local[*]
    shuffle_partitions: int | None = None  # None -> default + AQE coalescing
    extra: dict = field(default_factory=dict)


#: Confs that are safe (and necessary) to set on an externally provided
#: session at runtime — e.g. the driver's own SparkSession.
_RUNTIME_CONFS = {
    "spark.sql.session.timeZone": "UTC",
    # events.parquet may store TIMESTAMP(NANOS): read as long, converted by
    # operators/windows.py with_event_time.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Spark 4.1's checksummed checkpoint writer can deadlock awaiting its
    # checksum future under applyInPandasWithState commits on local FS;
    # plain checkpoint files are sufficient for a local/posix checkpoint dir.
    "spark.sql.streaming.checkpoint.fileChecksum.enabled": "false",
}


def configure_runtime(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine confs to an existing session.

    Idempotent; used on sessions we did not build (the verify driver's).
    """
    for k, v in _RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # non-runtime-settable on this build; builder path covers it
    return spark


# Scratch space: every directory the engine writes for itself (staged stream
# sources, relaid-out tables, band indexes, throwaway checkpoints) lives under
# one private root per process (mode 0700, unpredictable name), made on first
# use and removed at interpreter exit by the process that made it, so a forked
# child that exits cannot delete its parent's files.  Process scope, not
# session scope: query results read these files lazily.
_scratch_lock = threading.Lock()
_scratch_root: str | None = None
_derived: dict[tuple[str, str], tuple[tuple[int, int], str]] = {}
_derived_locks: dict[tuple[str, str], threading.Lock] = {}


def _remove_scratch_root(root: str, owner_pid: int) -> None:
    if os.getpid() == owner_pid:
        shutil.rmtree(root, ignore_errors=True)


def scratch_dir(prefix: str) -> str:
    """A fresh, empty directory under this process's scratch root."""
    global _scratch_root
    with _scratch_lock:
        if _scratch_root is None:
            _scratch_root = tempfile.mkdtemp(prefix="ksjc_scratch_")
            atexit.register(_remove_scratch_root, _scratch_root, os.getpid())
        root = _scratch_root
    return tempfile.mkdtemp(prefix=prefix, dir=root)


def derived_dir(src: str, variant: str, build) -> str:
    """A scratch directory that ``build(dir)`` filled from ``src``, built
    once per ``(src, variant)`` and source identity ``(st_size,
    st_mtime_ns)``: a source rewritten in place gets a fresh copy and the
    superseded one is removed.  A failed build removes its directory and
    re-raises.  Concurrent callers of one key wait for a single build;
    ``build`` may itself call ``scratch_dir``."""
    st = os.stat(src)
    ident = (st.st_size, st.st_mtime_ns)
    key = (src, variant)
    with _scratch_lock:
        key_lock = _derived_locks.setdefault(key, threading.Lock())
    with key_lock:
        cached = _derived.get(key)
        if cached is not None and cached[0] == ident:
            return cached[1]
        out = scratch_dir(f"{variant}_")
        try:
            build(out)
        except BaseException:
            shutil.rmtree(out, ignore_errors=True)
            raise
        _derived[key] = (ident, out)
    if cached is not None:
        shutil.rmtree(cached[1], ignore_errors=True)
    return out


def enable_runtime_filters(
    spark: SparkSession,
    application_side_threshold: str = "10MB",
    creation_side_threshold: str = "100MB",
) -> SparkSession:
    """Turn on runtime bloom-filter join pruning with thresholds suited to
    the deployment (Spark's defaults only inject above a 10 GB probe-side
    scan, sized for clusters).

    When a shuffle join's build side is selective (a filtered dimension),
    the optimizer injects ``bloom_filter_agg`` over the build keys and a
    ``might_contain`` filter on the probe side — fact rows that cannot
    match are dropped BEFORE the shuffle, the single biggest win available
    on a 100 TB fact join after partition pruning.  Plan shape is pinned
    by tests/test_plans.py::test_runtime_bloom_filter_prunes_fact_side.
    """
    spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        application_side_threshold,
    )
    spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
        creation_side_threshold,
    )
    return spark


def build_session(config: EngineConfig | None = None) -> SparkSession:
    """Build a SparkSession with engine defaults.

    local[N] is taken from ``$SPARK_GRAFT_CPUS`` when ``master`` is unset,
    matching the bench harness contract.
    """
    config = config or EngineConfig()
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = config.master or f"local[{cpus}]"
    b = (
        SparkSession.builder.appName(config.app_name)
        .master(master)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
    )
    for k, v in _RUNTIME_CONFS.items():
        b = b.config(k, v)
    if config.shuffle_partitions is not None:
        b = b.config("spark.sql.shuffle.partitions", str(config.shuffle_partitions))
    for k, v in config.extra.items():
        b = b.config(k, v)
    return configure_runtime(b.getOrCreate())

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

import os
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

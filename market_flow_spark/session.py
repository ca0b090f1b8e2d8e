"""SparkSession factory.

Reference anchor: dags/spark/impute_missing_currencies.py:9-14 (the
reference's one Spark job enables Arrow); everything else in the reference
delegates execution to DuckDB/pandas. Here the session IS the engine, so the
factory owns the scale-relevant knobs:

- AQE on (runtime join-strategy re-plan, skew-join splitting, partition
  coalescing) — the single most important setting for the 100 TB target.
- Arrow on for every pandas-UDF / toPandas edge.
- local[N] sized from the host: N is the CPUs this process may run on,
  unless ``cpus`` or SPARK_GRAFT_CPUS says otherwise.
- shuffle.partitions from the env (default 32; a real cluster run
  overrides via SPARK_SHUFFLE_PARTITIONS to ~2-3x total cores).
- UTC session timezone so date/timestamp semantics are deterministic and
  match the DuckDB oracle.
"""

from __future__ import annotations

import os
from collections.abc import Callable, Sequence
from concurrent.futures import ThreadPoolExecutor
from typing import TypeVar

from pyspark.sql import SparkSession
from pyspark.util import inheritable_thread_target

T = TypeVar("T")


def get_spark(
    app_name: str = "market-flow-spark",
    cpus: str | int | None = None,
    shuffle_partitions: str | int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession configured for this engine."""
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
    shuffle_partitions = shuffle_partitions or os.environ.get(
        "SPARK_SHUFFLE_PARTITIONS", "32"
    )
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE coalesces by shuffle BYTES, which under-parallelizes CPU-bound
        # stages (shingle verify, array intersection) whose per-row cost
        # dwarfs their bytes: a ~1 MB shuffle would coalesce to ONE task on
        # 32 cores at the 1m default floor. 64k keeps small-but-hot shuffles
        # spread; at cluster scale shuffles are GBs and this floor is inert.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # InferFiltersFromGenerate turns explode(sh) into a size(sh)>0 scan
        # filter; pushdown through the projection re-EXPANDS the array
        # expression, so the full shingle build (split inlined once per
        # element reference) re-runs serially at the scan just to test
        # emptiness. Every Generate in this engine explodes a COMPUTED
        # array, so the inferred filter can only ever duplicate work.
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Python DataSource connectors (sources/pyds.py) prune fetch
        # partitions via pushFilters; the capability is config-gated
        .config("spark.sql.python.filterPushdown.enabled", "true")
        # local-mode note: driver == executors == one JVM, so this bounds
        # the WHOLE engine's heap; 16g keeps long many-query sessions (the
        # bench, the full pytest suite) out of GC-pressure territory on the
        # 128 GiB test box. A real cluster sets executor memory separately.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        # the whole-stage-codegen class cache defaults to 100 entries; a
        # session running the full query suite compiles >100 unique plans,
        # so steady-state runs would re-pay compilation after eviction
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        # reclaim shuffle files / broadcast blocks from completed queries
        # promptly instead of at the 30min default — a long-lived session
        # running many queries otherwise accumulates them
        .config("spark.cleaner.periodicGC.interval", "1min")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.compression.codec", "snappy")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine defaults to an externally-provided
    session (the driver hands us one in ``__spark_entry__.entry``)."""
    for k, v in {
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.minPartitionSize": "64k",
        "spark.sql.optimizer.excludedRules":
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.legacy.parquet.nanosAsLong": "true",
    }.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # immutable in some deployments; defaults are acceptable
    return spark


def run_concurrently(calls: Sequence[Callable[[], T]]) -> list[T]:
    """Run independent Spark actions side by side and return their results
    in order.

    Each call runs on its own thread, so the jobs they submit share the
    cores under Spark's default FIFO scheduler instead of queueing behind
    one another's driver-side planning. Threads start through
    ``inheritable_thread_target``, so each job carries the caller's local
    properties (job group, description) and session tags. Every call runs
    to its end; then the first failure in submission order is raised. No
    thread outlives the call."""
    session = SparkSession.active()
    with ThreadPoolExecutor(max_workers=len(calls)) as pool:
        # wrap per call: each thread gets its own copy of the properties
        futures = [pool.submit(inheritable_thread_target(session)(c)) for c in calls]
    return [f.result() for f in futures]

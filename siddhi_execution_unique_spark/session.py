"""SparkSession factory tuned for this engine.

Local testing runs ``local[$SPARK_GRAFT_CPUS]``; the same settings are
what we would ship on a real cluster (AQE on, UTC, Arrow on). Shuffle
partition count follows core count locally — on a 1000-executor
cluster AQE coalesces / splits at runtime so the static number is a
starting point, not a contract.

The driver JVM starts from a cached class-data-sharing archive (JDK
dynamic CDS, ``_cds``): most of a fresh JVM's start-up is loading
Spark's classes, and the archive maps them from one file instead. On a
4-core host that takes ``get_spark`` from 6-7 s to 3-4 s and the
first Python stage from 5 s to 3.5 s. The archive (about 146 MB) lives
in ``${XDG_CACHE_HOME:-~/.cache}/siddhi_execution_unique_spark/cds/``,
one per JDK, Spark jar set, pyspark version and driver classpath. The
first process on a host without one starts as it would without the
cache; when it exits, it writes the archive in a child process and
waits for it (a one-time cost of about 40 s at exit, never inside the
session's own work). Deleting the directory resets the cache.
:func:`launch_record` tells how this process's JVM started.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from siddhi_execution_unique_spark import _cds

_launch = {"cds": "off", "archive": None, "reason": "get_spark has not started a JVM"}


def launch_record() -> dict:
    """How ``get_spark`` last started the driver JVM in this process:
    ``{"cds": "use" | "dump" | "off", "archive": path, "reason": why}``."""
    return dict(_launch)


def spark_conf(
    app_name: str = "siddhi-execution-unique-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> dict[str, str]:
    """The Spark conf ``get_spark`` starts a session with, before the
    class-data-sharing flags."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    conf = {
        "spark.app.name": app_name,
        "spark.master": os.environ.get("SPARK_MASTER", f"local[{cpus}]"),
        # local[N] runs everything in the driver JVM. The 1g default
        # heap GC-thrashes under N-thread shuffles, but an oversized
        # heap is worse: G1 defers collection into enormous young-gen
        # evacuations that stall random queries 10-50s late in a
        # session (measured: 48g heap -> 127s bench with 48s spikes;
        # 8g -> 34s, flat). Frequent small GCs beat rare giant ones.
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
        "spark.sql.shuffle.partitions": str(
            shuffle_partitions if shuffle_partitions is not None else cpus
        ),
        # Deterministic, oracle-comparable timestamps.
        "spark.sql.session.timeZone": "UTC",
        # The events table ships TIMESTAMP(NANOS) parquet, which the
        # vectorized reader rejects; read nanos as long (the loader
        # converts ns -> a microsecond timestamp).
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        # Runtime re-planning: skew joins, partition coalescing.
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # Arrow transfer for the pandas-UDF (stateful replay) tier.
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # Streaming state off-heap: the default HDFS-backed provider
        # keeps every key's state in executor heap; RocksDB spills to
        # local disk and is the only option that survives the
        # reference's unbounded-key operators (unique:ever/first) at
        # real key cardinality.
        "spark.sql.streaming.stateStore.providerClass":
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        # Changelog checkpointing: commit the per-batch delta instead
        # of snapshotting every store's full SST set each micro-batch
        # (snapshots become periodic background maintenance). The
        # production-recommended RocksDB mode — checkpoint cost tracks
        # the batch's CHANGES, not total state size — and measured
        # ~10% off every streaming certification locally (r14 A/B,
        # OPTIMIZATION_r14.md).
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled": "true",
        # Python workers: nothing to set. The factory reaps a worker
        # idle for a minute (PythonWorkerFactory.IDLE_WORKER_TIMEOUT_NS,
        # not configurable); spark.python.worker.idleTimeoutSeconds and
        # killOnIdleTimeout only govern a watchdog for unresponsive
        # workers, and their defaults (0 = off, false) are what we want.
        # A reaped worker's replacement re-runs _pyworker.install() on
        # its first package import.
        # Spark 4 routes lower()/upper() on non-ASCII text through ICU
        # case mappings whose one-time init burns minutes of CPU per
        # JVM (observed stuck in CollationAwareUTF8String.<clinit>);
        # the JVM case tables match DuckDB for this engine's md5
        # fingerprints, so take the fast path.
        "spark.sql.icu.caseMappings.enabled": "false",
        "spark.ui.enabled": "false",
    }
    conf.update(extra_conf or {})
    return conf


def get_spark(
    app_name: str = "siddhi-execution-unique-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    global _launch
    conf = spark_conf(app_name, shuffle_partitions, extra_conf)
    plan = _cds.plan(conf)
    builder = SparkSession.builder
    for k, v in _cds.with_java_opts(conf, plan).items():
        builder = builder.config(k, v)
    with _cds.launching(plan):
        spark = builder.getOrCreate()
    if plan.launched:
        _launch = plan.record()
    return spark

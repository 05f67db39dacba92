"""SparkSession factory tuned for this engine.

Local testing runs ``local[$SPARK_GRAFT_CPUS]``; the same settings are
what we would ship on a real cluster (AQE on, UTC, Arrow on). Shuffle
partition count follows core count locally — on a 1000-executor
cluster AQE coalesces / splits at runtime so the static number is a
starting point, not a contract.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "siddhi-execution-unique-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(os.environ.get("SPARK_MASTER", f"local[{cpus}]"))
        # local[N] runs everything in the driver JVM. The 1g default
        # heap GC-thrashes under N-thread shuffles, but an oversized
        # heap is worse: G1 defers collection into enormous young-gen
        # evacuations that stall random queries 10-50s late in a
        # session (measured: 48g heap -> 127s bench with 48s spikes;
        # 8g -> 34s, flat). Frequent small GCs beat rare giant ones.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions if shuffle_partitions is not None else cpus),
        )
        # Deterministic, oracle-comparable timestamps.
        .config("spark.sql.session.timeZone", "UTC")
        # The events table ships TIMESTAMP(NANOS) parquet, which the
        # vectorized reader rejects; read nanos as long (the loader
        # converts ns -> a microsecond timestamp).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Runtime re-planning: skew joins, partition coalescing.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow transfer for the pandas-UDF (stateful replay) tier.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Streaming state off-heap: the default HDFS-backed provider
        # keeps every key's state in executor heap; RocksDB spills to
        # local disk and is the only option that survives the
        # reference's unbounded-key operators (unique:ever/first) at
        # real key cardinality.
        .config(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        )
        # Changelog checkpointing: commit the per-batch delta instead
        # of snapshotting every store's full SST set each micro-batch
        # (snapshots become periodic background maintenance). The
        # production-recommended RocksDB mode — checkpoint cost tracks
        # the batch's CHANGES, not total state size — and measured
        # ~10% off every streaming certification locally (r14 A/B,
        # tools/exp_stream_conf2.py).
        .config(
            "spark.sql.streaming.stateStore.rocksdb."
            "changelogCheckpointing.enabled",
            "true",
        )
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
        .config("spark.sql.icu.caseMappings.enabled", "false")
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()

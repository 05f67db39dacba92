"""Streaming sources: the ingestion analog of the reference's
``InputHandler.send(Object[])`` (reference: component/src/test/java/
.../DeduplicateTestCase.java:92-102). Events arrive as micro-batches
from a file stream (replayable, schema-checked) or a rate source
(synthetic load, for demos and soak tests)."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from siddhi_execution_unique_spark.sources import naive_as_utc


def stream_table(
    spark: SparkSession,
    directory: str,
    schema: StructType,
    ts: str | None = "ts",
    max_files_per_trigger: int = 1,
) -> DataFrame:
    """File-based streaming source: each new parquet file in
    ``directory`` becomes (at most) one micro-batch — the replayable
    stand-in for an event bus. Handles the test corpus's
    TIMESTAMP(NANOS) columns the same way the batch loader does."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .parquet(os.path.join(directory))
    )
    if ts is not None and ts in df.columns and df.schema[ts].dataType.simpleString() == "bigint":
        df = df.withColumn(ts, F.timestamp_micros(F.expr(f"{ts} div 1000")))
    if ts is not None and ts in df.columns and df.schema[ts].dataType.simpleString() == "timestamp_ntz":
        # withWatermark rejects TIMESTAMP_NTZ; read the naive wall
        # clock as UTC, exactly as the batch loader does
        df = df.withColumn(ts, naive_as_utc(F.col(f"`{ts}`")))
    return df


def shape_rate_events(ticks: DataFrame, n_keys: int = 100) -> DataFrame:
    """Deterministic projection from a ``(value, timestamp)`` tick
    stream to the ``events``-table shape. Factored out of
    :func:`rate_events` so the mapping itself is certifiable: the rate
    source's row arrival is wall-clock nondeterministic, but this
    shaping is pure — the driver entry
    ``streaming_rate_shape_parity`` replays deterministic ticks
    through it and oracle-checks the result."""
    return ticks.select(
        F.col("value").alias("event_id"),
        F.col("timestamp").alias("ts"),
        (F.col("value") % n_keys).alias("user_id"),
        F.when(F.col("value") % 3 == 0, "click")
        .when(F.col("value") % 3 == 1, "view")
        .otherwise("purchase")
        .alias("event_type"),
        (F.col("value") % 997).cast("double").alias("value"),
        F.lit("{}").alias("props"),
    )


def rate_events(
    spark: SparkSession,
    rows_per_second: int = 1000,
    n_keys: int = 100,
) -> DataFrame:
    """Synthetic event stream shaped like the ``events`` table: the
    load-generation analog of the reference tests' hand-pumped
    ``InputHandler`` loops, useful for soak-testing streaming twins."""
    return shape_rate_events(
        spark.readStream.format("rate")
        .option("rowsPerSecond", str(rows_per_second))
        .load(),
        n_keys=n_keys,
    )

"""Sources: parquet table loaders for the test star schema.

The reference ingests events through ``InputHandler.send(Object[])``
(reference: component/src/test/java/.../DeduplicateTestCase.java:92-102);
our source tier is Spark's native readers — batch ``spark.read`` here,
streaming twins in :mod:`siddhi_execution_unique_spark.streaming.sources`.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, TimestampNTZType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


_SIZE_SUFFIXES = {"b": 1, "k": 1 << 10, "m": 1 << 20, "g": 1 << 30}


def _max_partition_bytes(spark: SparkSession) -> int:
    raw = str(spark.conf.get("spark.sql.files.maxPartitionBytes", "128m")).lower()
    for suf in ("kb", "mb", "gb", "k", "m", "g", "b"):
        if raw.endswith(suf):
            return int(raw[: -len(suf)]) * _SIZE_SUFFIXES[suf[0]]
    return int(raw)


def naive_as_utc(col: Column) -> Column:
    """Read a naive wall clock (``TIMESTAMP_NTZ``) as the UTC instant
    it names. Parquet TIMESTAMP without isAdjustedToUTC reads as NTZ
    under Spark 4's inference, and epoch math (``unix_millis``,
    ``withWatermark``) only accepts instants. Subtracting the NTZ epoch
    is deterministic in ANY session timezone (a cast ntz->timestamp is
    not) and matches DuckDB's ``epoch_ms`` on the same naive column."""
    epoch = F.expr("timestamp_ntz'1970-01-01 00:00:00'")
    return F.timestamp_micros(F.timestamp_diff("MICROSECOND", epoch, col))


def _stamp(path: str) -> tuple:
    """(inode, size, mtime_ns) of ``path``, or of every entry beneath
    it when it is a directory. Raises ``OSError`` when the path is not
    on local storage."""

    def entry(p: str) -> tuple:
        st = os.stat(p)
        return (os.path.relpath(p, path), st.st_ino, st.st_size, st.st_mtime_ns)

    if not os.path.isdir(path):
        return (entry(path),)

    def fail(err: OSError):
        raise err

    out = [entry(path)]
    for root, dirs, files in os.walk(path, onerror=fail):
        dirs.sort()
        out += [entry(os.path.join(root, n)) for n in sorted(dirs + files)]
    return tuple(out)


def _set_conf(spark: SparkSession) -> tuple:
    """The session's set conf (what ``spark.conf.getAll`` returns) as
    NUL-joined keys and values of one map: four Py4J round trips,
    where ``getAll`` makes one per entry (~60 ms for ~35 entries).
    When a key or value itself holds a NUL, the join would be
    ambiguous, so fall back to ``getAll``."""
    conf = spark.conf._jconf.getAll()
    keys = conf.keys().mkString("\0")
    values = conf.values().mkString("\0")
    if keys.count("\0") == values.count("\0") == conf.size() - 1:
        return keys, values
    return tuple(sorted(spark.conf.getAll.items()))


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one star-schema table from ``{sf_dir}/{name}.parquet``.

    Repeated loads in one session return the same DataFrame. The memo
    holds a plan, not data: every action on it still scans the file,
    fans out and shuffles, and nothing is cached in memory. It is keyed
    on the resolved path, the input's stamp (inode, size and mtime of
    the file, or of every entry of a directory), the session's set
    conf and the session itself, so a rewritten file, a changed conf
    or another session (``spark.newSession()``) loads afresh. A path
    that ``os.stat`` cannot read (non-local storage) is never memoized.
    A hit skips schema inference (a Spark job), file listing and
    re-analysis. Two loads of one table are one DataFrame, so alias
    the sides of a self-join."""
    if name not in TABLES:
        raise ValueError(f"unknown table {name!r}; expected one of {TABLES}")
    # The events table stores TIMESTAMP(NANOS) parquet, which Spark's
    # vectorized reader rejects; read nanos as long and convert to a
    # microsecond timestamp with integer division (double division
    # would lose precision at 1e18 ns). get_spark sets this in the
    # session factory; guard here for externally-built sessions (the
    # round driver's), without re-mutating conf on every load.
    if str(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false")) != "true":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    src = os.path.join(sf_dir, f"{name}.parquet")
    try:
        stamp = _stamp(src)
    except OSError:  # non-local storage: no stamp, so no memo
        return _read(spark, src, name)
    key = (stamp, _set_conf(spark))
    # one entry per path, scoped to (and collected with) the session
    memo = spark.__dict__.setdefault("_load_table_memo", {})
    path = os.path.realpath(src)
    hit = memo.get(path)
    if hit is None or hit[0] != key:
        hit = memo[path] = (key, _read(spark, src, name))
    return hit[1]


def _read(spark: SparkSession, path: str, name: str) -> DataFrame:
    df = spark.read.parquet(path)
    if name == "events" and isinstance(df.schema["ts"].dataType, LongType):
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    for field in df.schema.fields:
        if isinstance(field.dataType, TimestampNTZType):
            df = df.withColumn(field.name, naive_as_utc(F.col(f"`{field.name}`")))
    # The test files are single-row-group parquet, so the scan is one
    # task and every per-row projection above it (shingling, hashing,
    # regex) serializes on one core. Estimate the scan's split count
    # from file sizes (no df.rdd materialization — that converts the
    # plan to an RDD on every load) and fan out only when the scan
    # can't; on a real cluster input splits >> cores and this guard
    # never fires.
    parallelism = spark.sparkContext.defaultParallelism
    try:
        max_pb = _max_partition_bytes(spark)
        n_splits = sum(
            max(1, -(-os.path.getsize(f.removeprefix("file:")) // max_pb))
            for f in df.inputFiles()
        )
    except OSError:  # non-local storage: let the scan's own splits stand
        n_splits = parallelism
    if n_splits < parallelism:
        df = df.repartition(parallelism)
    return df


def write_bucketed(
    df: DataFrame,
    name: str,
    key: str,
    n_buckets: int = 32,
    path: str | None = None,
) -> DataFrame:
    """Materialize a DataFrame as a bucketed, bucket-sorted table and
    return the re-read frame. Aggregations and joins keyed on ``key``
    over the returned frame satisfy their required distribution from
    the scan itself — zero exchange (pinned by
    ``tests/test_plans.py``). This is the 100 TB pre-partitioning
    story: pay the shuffle once at ingest, then every keyed retention
    pass (``unique:ever``/``first``/batch families) over the table is
    shuffle-free and co-located."""
    writer = (
        df.write.mode("overwrite")
        .format("parquet")
        .bucketBy(n_buckets, key)
        .sortBy(key)
    )
    if path is not None:
        writer = writer.option("path", path)
    writer.saveAsTable(name)
    return df.sparkSession.table(name)


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    """Read several tables at once; all of them when no names given."""
    return {n: load_table(spark, sf_dir, n) for n in (names or TABLES)}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view so ``spark.sql`` works on the
    same names the DuckDB oracle uses."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_by: str | list[str],
    sort_within: str | list[str] | None = None,
) -> DataFrame:
    """Materialize a DataFrame as directory-partitioned parquet and
    return the re-read frame. Predicates on the partition columns of
    the returned frame resolve at PLANNING time (``PartitionFilters``
    on the scan — pinned by ``tests/test_plans.py``): a 100 TB corpus
    partitioned by ``lang``/``source`` reads only the matching
    directories, which is the difference between scanning a shard and
    scanning everything. ``sort_within`` additionally clusters rows
    inside each file so min/max row-group statistics prune within a
    partition (the poor man's Z-order for one key)."""
    cols = [partition_by] if isinstance(partition_by, str) else list(partition_by)
    out = df
    if sort_within is not None:
        sw = [sort_within] if isinstance(sort_within, str) else list(sort_within)
        out = out.repartition(*[F.col(c) for c in cols]).sortWithinPartitions(*sw)
    out.write.mode("overwrite").partitionBy(*cols).parquet(path)
    return df.sparkSession.read.parquet(path)


_FORMATS = ("parquet", "orc", "csv", "json")


def load_path(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    schema=None,
    **options: str,
):
    """Format-generic batch source (parquet / orc / csv / json).

    csv and json REQUIRE an explicit schema: Spark's inference is a
    full extra pass over the data — at 100 TB that doubles the read
    before the query starts, and silently types every ambiguous
    column as string. Parquet and ORC carry their own schema, but
    passing one anyway lets the scan prune to exactly the declared
    columns.
    csv defaults to headered files; override via ``**options``
    (any Spark DataFrameReader option passes through)."""
    if fmt not in _FORMATS:
        raise ValueError(f"unknown format {fmt!r}; expected one of {_FORMATS}")
    if fmt not in ("parquet", "orc") and schema is None:
        raise ValueError(
            f"{fmt} sources require an explicit schema: inference would "
            "scan the data twice and degrade ambiguous columns to string"
        )
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    if fmt == "csv":
        reader = reader.option("header", "true")
    for k, v in options.items():
        reader = reader.option(k, v)
    return getattr(reader, fmt)(path)


def write_table(df: DataFrame, path: str, fmt: str = "parquet", **options: str) -> None:
    """Format-generic sink twin of :func:`load_path`."""
    if fmt not in _FORMATS:
        raise ValueError(f"unknown format {fmt!r}; expected one of {_FORMATS}")
    writer = df.write.mode("overwrite")
    if fmt == "csv":
        writer = writer.option("header", "true")
    for k, v in options.items():
        writer = writer.option(k, v)
    getattr(writer, fmt)(path)

"""Tumbling time-batch uniqueness windows:

- ``unique:timeBatch`` — tumbling batch, latest-per-key within batch
  (reference: component/src/main/java/io/siddhi/extension/execution/
  unique/UniqueTimeBatchWindowProcessor.java:106, boundary math
  :204-225,302-305, replace :290-294).
- ``unique:firstTimeBatch`` — same batching, keep-first within batch
  (reference: UniqueFirstTimeBatchWindowProcessor.java:77-87).
- ``unique:externalTimeBatch`` — event-time batches driven by a
  ``time.stamp`` attribute, optional ``start.time`` anchor, optional
  rewrite of the timestamp to the batch end (reference:
  UniqueExternalTimeBatchWindowProcessor.java:138, boundary
  :454-458, ts-rewrite :460-469).

Spark-first design: batch assignment is pure arithmetic on epoch
millis — ``floor((ms - start) / T) * T + start`` — so the whole
operator is one hash aggregation ``groupBy(batch, keys).agg(max_by/
min_by)`` with map-side partial aggregation and full whole-stage
codegen. No sort, no window function, one shuffle keyed on
(batch, key), which also spreads hot keys across batches at scale.

The reference's ``timeBatch`` runs on the runtime clock; we
reinterpret it over an explicit event-time column (deterministic and
oracle-checkable — see SURVEY.md §7). For in-order input the two are
equivalent; out-of-order events land in their event-time batch here,
whereas the reference lumps them into whatever batch is forming at
arrival (arrival-order-dependent, meaningless in batch mode).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import TimestampType, TimestampNTZType

from siddhi_execution_unique_spark.operators.validation import (
    key_cols,
    parse_time_ms,
    require_column,
    require_keys,
    require_start_time,
)
from siddhi_execution_unique_spark.sources import naive_as_utc

BATCH_START = "batch_start_ms"
BATCH_END = "batch_end_ms"


def event_ms(df: DataFrame, ts: str) -> Column:
    """Event time as epoch millis, from a timestamp or long/int column.
    A naive (``TIMESTAMP_NTZ``) column is read as UTC wall clock, the
    same instant ``sources.load_table`` gives it."""
    dt = df.schema[ts].dataType
    if isinstance(dt, TimestampNTZType):
        return F.unix_millis(naive_as_utc(F.col(ts)))
    if isinstance(dt, TimestampType):
        return F.unix_millis(F.col(ts))
    return F.col(ts).cast("long")


def _batched_retain(
    df: DataFrame,
    keys: list,
    ts: str,
    window_ms: int,
    start_ms: Column | int,
    tiebreak: str | None,
    keep: str,
) -> DataFrame:
    ms = event_ms(df, ts)
    start = F.lit(start_ms) if isinstance(start_ms, int) else start_ms
    batch_start = (F.floor((ms - start) / window_ms).cast("long") * window_ms + start)
    with_batch = df.withColumn(BATCH_START, batch_start)
    order_cols = [ms] + ([F.col(tiebreak)] if tiebreak else [])
    order = F.struct(*order_cols) if len(order_cols) > 1 else order_cols[0]
    payload = F.struct(*[F.col(c) for c in df.columns], F.col(BATCH_START))
    agg = F.max_by(payload, order) if keep == "last" else F.min_by(payload, order)
    grouped = with_batch.groupBy(F.col(BATCH_START), *key_cols(keys)).agg(
        agg.alias("_retained")
    )
    # reuse the GROUPING columns for the batch interval and plain-name
    # keys (identical values by construction): the struct fields are
    # fresh attributes Catalyst cannot link to the aggregation's hash
    # distribution, so downstream joins/aggs keyed on (batch, key) —
    # e.g. the aligned timeBatch window-to-window join — would
    # re-shuffle both sides for nothing (same fix as keyed.py).
    simple = {k for k in keys if isinstance(k, str) and k in df.columns}
    return grouped.select(
        *[
            (F.col(c) if c in simple else F.col(f"_retained.{c}")).alias(c)
            for c in df.columns
        ],
        F.col(BATCH_START),
        (F.col(BATCH_START) + F.lit(window_ms)).alias(BATCH_END),
    )


def time_batch(
    df: DataFrame,
    keys,
    window_time: int | str,
    ts: str = "ts",
    tiebreak: str | None = None,
    start_time_ms: int = 0,
    keep: str = "last",
) -> DataFrame:
    """``unique:timeBatch`` over event time: one row per (batch, key),
    the latest (``keep='last'``) or first (``keep='first'``) event of
    that key within the tumbling batch. Adds ``batch_start_ms`` /
    ``batch_end_ms`` columns.

    ``start_time_ms`` reproduces the reference's ``start.time`` modulo
    alignment (UniqueTimeBatchWindowProcessor.java:302-305).
    """
    keys = require_keys(keys)
    require_column(df, ts, "ts")
    window_ms = parse_time_ms(window_time, "window.time")
    require_start_time(start_time_ms)
    if keep not in ("last", "first"):
        raise ValueError(f"keep must be 'last' or 'first', got {keep!r}")
    return _batched_retain(df, keys, ts, window_ms, start_time_ms % window_ms, tiebreak, keep)


def first_time_batch(
    df: DataFrame,
    keys,
    window_time: int | str,
    ts: str = "ts",
    tiebreak: str | None = None,
    start_time_ms: int = 0,
) -> DataFrame:
    """``unique:firstTimeBatch`` — keep-first within each tumbling batch."""
    return time_batch(df, keys, window_time, ts, tiebreak, start_time_ms, keep="first")


def channel_tags(expires: Column) -> Column:
    """``explode`` each row into its channel tags for a single-pass
    `insert all events into` derivation: 'current' always, plus
    'expired' where ``expires`` holds. One pass matters: a
    current∪expired UNION recomputes the whole batched subtree — Spark
    does not reuse exchanges across union branches (measured: every
    source scanned twice)."""
    return F.explode(
        F.when(expires, F.array(F.lit("current"), F.lit("expired")))
        .otherwise(F.array(F.lit("current")))
    )


def _instance_anchor(df: DataFrame, timestamp: str, partition_attr: str | None):
    """``df`` with ``_anchor_ms``: the first event's time, per instance
    when ``partition_attr`` is given (the reference seeds the grid from
    the first event the instance sees,
    UniqueExternalTimeBatchWindowProcessor.java:261-332). Globally one
    broadcast scalar; per instance a tiny ``groupBy(attr).agg(min)``
    joined back on the attribute (AQE broadcasts it when it fits)."""
    ms = event_ms(df, timestamp)
    if partition_attr:
        anchors = df.groupBy(partition_attr).agg(F.min(ms).alias("_anchor_ms"))
        return df.join(anchors, partition_attr)
    return df.crossJoin(F.broadcast(df.agg(F.min(ms).alias("_anchor_ms"))))


def external_time_batch(
    df: DataFrame,
    keys,
    timestamp: str,
    window_time: int | str,
    ts: str | None = None,
    start_time_ms: int | None = None,
    replace_timestamp_with_batch_end: bool = False,
    tiebreak: str | None = None,
    partition_attr: str | None = None,
) -> DataFrame:
    """``unique:externalTimeBatch`` — tumbling batches driven by the
    event's own ``timestamp`` attribute (long millis or timestamp).

    With ``start_time_ms`` given, boundaries follow the reference's
    ``endTime = ts + (T - (ts - start) % T)`` (UniqueExternalTimeBatch-
    WindowProcessor.java:454-458), i.e. floor-bucketing anchored at
    ``start``. Without it, batches anchor at the first (minimum) event
    timestamp — computed with a broadcast scalar aggregate, so the
    anchor costs one tiny extra stage, not a second full shuffle.

    ``partition_attr`` (``partition with (attr of S)``) gives every
    value its own window instance: the grouping key becomes
    ``(batch, attr, key)`` and, without ``start.time``, each instance
    anchors at ITS OWN first event — still one partial-agg shuffle, no
    per-instance funnel.

    ``replace_timestamp_with_batch_end`` mirrors the optional
    timestamp rewrite (:460-469). The reference's ``time.out`` idle
    flush is a wall-clock concern that only exists in streaming — see
    :mod:`siddhi_execution_unique_spark.streaming`.
    """
    keys = require_keys(keys)
    if partition_attr:
        require_column(df, partition_attr, "partition attribute")
    require_column(df, timestamp, "time.stamp")
    window_ms = parse_time_ms(window_time, "window.time")
    require_start_time(start_time_ms)

    if start_time_ms is None:
        df = _instance_anchor(df, timestamp, partition_attr)
        start: Column | int = F.col("_anchor_ms")
    else:
        start = start_time_ms

    gkeys = ([partition_attr] if partition_attr else []) + list(keys)
    out = _batched_retain(df, gkeys, timestamp, window_ms, start, tiebreak, keep="last")
    if "_anchor_ms" in out.columns:
        out = out.drop("_anchor_ms")
    if replace_timestamp_with_batch_end:
        dt = out.schema[timestamp].dataType
        if isinstance(dt, (TimestampType, TimestampNTZType)):
            out = out.withColumn(timestamp, F.timestamp_millis(F.col(BATCH_END)))
        else:
            out = out.withColumn(timestamp, F.col(BATCH_END).cast(dt))
    return out


def _external_expiry_log(
    df: DataFrame,
    timestamp: str,
    window_ms: int,
    start_time_ms: int | None,
    partition_attr: str | None,
):
    """(batch_start -> expired_at) log for externalTimeBatch's rank+2
    arrival-flush rule, optionally per instance. One tiny aggregate
    over present batches with ``lead(_, 2)``."""
    from pyspark.sql.window import Window

    ms = event_ms(df, timestamp)
    gcols = [partition_attr] if partition_attr else []
    if start_time_ms is None:
        src = _instance_anchor(df, timestamp, partition_attr)
        start: Column = F.col("_anchor_ms")
    else:
        src = df
        start = F.lit(start_time_ms)
    batch_start = (
        F.floor((ms - start) / window_ms).cast("long") * window_ms + start
    )
    log = (
        src.select(*gcols, batch_start.alias(BATCH_START), ms.alias("_ms"))
        .groupBy(*gcols, BATCH_START)
        .agg(F.min("_ms").alias("_first_ms"))
    )
    w = Window.partitionBy(*gcols).orderBy(BATCH_START)
    return (
        log.withColumn("expired_at_ms", F.lead("_first_ms", 2).over(w))
        .select(*gcols, BATCH_START, "expired_at_ms")
    )


def external_time_batch_expired(
    df: DataFrame,
    keys,
    timestamp: str,
    window_time: int | str,
    start_time_ms: int | None = None,
    tiebreak: str | None = None,
    partition_attr: str | None = None,
) -> DataFrame:
    """The EXPIRED channel of ``unique:externalTimeBatch``. The
    reference flushes ONLY on event arrival (no scheduler unless
    ``time.out``): when the first event beyond the forming batch's end
    arrives, the forming batch emits as current and the PREVIOUS
    batch's retained events re-emit as expired, timestamps rewritten
    to ``lastCurrentEventTime`` — which that triggering arrival has
    just advanced to its own timestamp
    (UniqueExternalTimeBatchWindowProcessor.java:304-318,363-366).

    So among the batches PRESENT in the data, ordered by start: batch
    rank ``r``'s current flushes at the first event of rank ``r+1``,
    and its expired re-emits at the next flush after that — the first
    event of rank ``r+2``. A batch expires within the stream iff rank
    ``r+2`` exists, with ``expired_at_ms`` = that event's timestamp
    (the last two batches never expire; the current channel keeps the
    all-batches end-of-stream convention already certified for
    :func:`external_time_batch`). With ``partition_attr`` each
    instance runs its own processor, so the rule applies per instance
    over the batches that instance's own events form.

    Plan shape: the batched aggregation plus a one-row-per-present-
    batch aggregate with ``lead(_, 2)`` over it (tiny at any scale)
    joined back on ``batch_start_ms``; AQE broadcasts it when it
    fits."""
    window_ms = parse_time_ms(window_time, "window.time")
    batched = external_time_batch(
        df, keys, timestamp, window_ms, start_time_ms=start_time_ms,
        tiebreak=tiebreak, partition_attr=partition_attr,
    )
    log = _external_expiry_log(
        df, timestamp, window_ms, start_time_ms, partition_attr
    ).filter(F.col("expired_at_ms").isNotNull())
    gcols = [partition_attr] if partition_attr else []
    return batched.join(log, gcols + [BATCH_START])


def external_time_batch_all(
    df: DataFrame,
    keys,
    timestamp: str,
    window_time: int | str,
    start_time_ms: int | None = None,
    tiebreak: str | None = None,
    partition_attr: str | None = None,
) -> DataFrame:
    """Single-pass ALL-events channel of ``unique:externalTimeBatch``:
    the batched aggregation runs ONCE, left-joined with the rank+2
    expiry log (:func:`external_time_batch_expired`'s rule, per
    instance with ``partition_attr``), each row exploding into its
    channel tags. Matches the union of the current and expired
    channels row-for-row."""
    window_ms = parse_time_ms(window_time, "window.time")
    batched = external_time_batch(
        df, keys, timestamp, window_ms, start_time_ms=start_time_ms,
        tiebreak=tiebreak, partition_attr=partition_attr,
    )
    log = _external_expiry_log(
        df, timestamp, window_ms, start_time_ms, partition_attr)
    gcols = [partition_attr] if partition_attr else []
    return (
        batched.join(log, gcols + [BATCH_START], "left")
        .withColumn("channel", channel_tags(F.col("expired_at_ms").isNotNull()))
        .withColumn(
            "expired_at_ms",
            F.when(F.col("channel") == "expired", F.col("expired_at_ms"))
            .cast("long"),
        )
    )


def _with_last_end(batched: DataFrame, partition_attr: str | None) -> DataFrame:
    """``batched`` with ``_last_end``: the end of the last fired batch —
    the witness of every earlier batch's flush. Per instance with
    ``partition_attr`` (each instance's clock is its own event stream,
    the same per-instance-edge convention the partitioned
    ``unique:time`` lowering uses): a tiny ``groupBy(attr).agg(max)``
    joined back on the attribute (AQE broadcasts when it fits);
    globally a one-row scalar cross-joined."""
    last = F.max(F.col(BATCH_END)).alias("_last_end")
    if partition_attr:
        return batched.join(batched.groupBy(partition_attr).agg(last), partition_attr)
    return batched.crossJoin(F.broadcast(batched.agg(last)))


def expired_channel(
    batched: DataFrame, window_ms: int | str, partition_attr: str | None = None
) -> DataFrame:
    """The EXPIRED emission channel for any tumbling-batch operator
    output: the reference re-emits each fired batch as EXPIRED when the
    *next* batch fires, timestamps overwritten to that flush time
    (UniqueTimeBatchWindowProcessor.java:235-266). Given a batched
    result, the expired stream is the same rows tagged with
    ``expired_at_ms = batch_end_ms + T`` — every batch except the last
    (no successor fire ever flushes it); with ``partition_attr``, every
    batch except its own instance's last.
    """
    window_ms = parse_time_ms(window_ms, "window.time")
    return (
        _with_last_end(batched, partition_attr)
        .filter(F.col(BATCH_END) < F.col("_last_end"))
        .drop("_last_end")
        .withColumn("expired_at_ms", F.col(BATCH_END) + F.lit(window_ms))
    )


def all_channel(
    batched: DataFrame, window_ms: int | str, partition_attr: str | None = None
) -> DataFrame:
    """Single-pass ALL-events channel for a tumbling-batch output:
    the rows of :func:`expired_channel` tagged 'expired' plus every
    batched row tagged 'current', computed by ONE join with the
    last-flush aggregate and an explode — the batched aggregation runs
    once instead of once per union branch."""
    window_ms = parse_time_ms(window_ms, "window.time")
    return (
        _with_last_end(batched, partition_attr)
        .withColumn("channel", channel_tags(F.col(BATCH_END) < F.col("_last_end")))
        .withColumn(
            "expired_at_ms",
            F.when(
                F.col("channel") == "expired", F.col(BATCH_END) + F.lit(window_ms)
            ).cast("long"),
        )
        .drop("_last_end")
    )

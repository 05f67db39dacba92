"""Structured Streaming twins of the uniqueness operators (SURVEY.md
§7 phase 3).

The reference is a CEP engine: events arrive one at a time, state
lives in per-key maps, timers flush windows
(UniqueTimeWindowProcessor.java:118-125). Structured Streaming's
micro-batch model maps onto this directly:

- state maps            → streaming state store, hash-partitioned by key
- ``persist()/restore`` → checkpointLocation (exactly-once resume)
- scheduler / TIMER     → watermarks + state timeouts
- current vs expired    → output modes (append / update)

Each twin is the idiomatic Spark formulation; where Spark's primitive
diverges from the reference's exact semantics (noted per function),
the exact variant runs through ``applyInPandasWithState``.
"""

from __future__ import annotations

import json
from typing import Iterator, Tuple

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from siddhi_execution_unique_spark.operators.length import _fifo_channels
from siddhi_execution_unique_spark.operators.replay import (
    BATCH_SEQ,
    _CarryScan,
    _chain_keys,
    _check_chain_args,
    _ExternalTimeBatch,
    _FormingSet,
    _INT_TYPES,
    _refuse_inexact_int_keys,
    _TimeLengthBatch,
    _UniqueFifo,
)
from siddhi_execution_unique_spark.operators.validation import (
    key_cols,
    parse_time_ms,
    require_column,
    require_keys,
    stage_keys,
)


def first_stream(df: DataFrame, keys) -> DataFrame:
    """Streaming ``unique:first``: exact — Spark's streaming
    ``dropDuplicates`` keeps the first arrival per key forever
    (reference: UniqueFirstWindowProcessor.java:129-132). Append mode.

    State grows with distinct keys, like the reference (its documented
    OOM caveat, README.md:27); bound it with
    :func:`deduplicate_stream` when the key space is unbounded."""
    keys = require_keys(keys)
    staged, key_names, generated = stage_keys(df, keys)
    out = staged.dropDuplicates(key_names)
    return out.drop(*generated) if generated else out


def ever_stream(df: DataFrame, keys, ts: str = "ts") -> DataFrame:
    """Streaming ``unique:ever``: latest event per key, re-emitted on
    every replacement — exactly the reference's update-per-arrival
    behavior (UniqueEverWindowProcessor.java:153-166) in **update**
    output mode via a keyed ``max_by`` aggregation."""
    keys = require_keys(keys)
    require_column(df, ts, "ts")
    payload = F.struct(*[F.col(c) for c in df.columns])
    return (
        df.groupBy(*key_cols(keys))
        .agg(F.max_by(payload, F.col(ts)).alias("_retained"))
        .select("_retained.*")
    )


def deduplicate_stream(
    df: DataFrame, keys, time_interval: int | str, ts: str = "ts"
) -> DataFrame:
    """Streaming ``unique:deduplicate`` via watermarked dedup: a key
    is dropped while a prior arrival is inside the watermark window
    and re-admitted after. Append mode; state is evicted by the
    watermark — bounded, unlike ``first_stream``.

    Divergence from the reference (DeduplicateStreamProcessor.java:
    158-171): Spark anchors eviction to the watermark (observed max
    event time - delay) rather than per-event spacing, so re-admission
    timing can differ by up to one micro-batch; use
    :func:`deduplicate_exact_stream` for the exact anchored chain."""
    keys = require_keys(keys)
    require_column(df, ts, "ts")
    interval_ms = parse_time_ms(time_interval, "time.interval")
    staged, key_names, generated = stage_keys(df, keys)
    out = staged.withWatermark(
        ts, f"{interval_ms} milliseconds"
    ).dropDuplicatesWithinWatermark(key_names)
    return out.drop(*generated) if generated else out


_DEDUP_STATE = StructType([StructField("last_kept_ms", LongType())])


def deduplicate_exact_stream(
    df: DataFrame, key: str, time_interval: int | str, ts: str = "ts"
) -> DataFrame:
    """Exact streaming ``unique:deduplicate``: per-key anchored chain
    (keep iff ``ts - last_kept_ts > interval``, anchor only advances
    on *kept* events) in ``applyInPandasWithState``. State is one long
    per key, hash-partitioned — distributes to any key cardinality.

    Events are processed in event-time order within each micro-batch;
    cross-batch disorder beyond that is the stream's own ordering
    contract (the reference assumes arrival order too). The group's
    Arrow chunks are drained and sorted ONCE: a key whose rows
    straddle a chunk boundary arrives as multiple frames with
    interleaved time ranges, and per-chunk sorting silently broke the
    order contract (caught by the sf1 full-registry sweep — ~2,700 of
    915,720 chain decisions flipped at 1M rows). Memory is bounded by
    ONE KEY's rows per micro-batch — the sort needs them all in any
    case."""
    require_column(df, key, "unique.key")
    require_column(df, ts, "ts")
    interval_ms = parse_time_ms(time_interval, "time.interval")
    out_schema = df.schema
    ts_is_timestamp = str(df.schema[ts].dataType) in ("TimestampType()", "TimestampNTZType()")

    def fn(
        key_tuple: Tuple,
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (last_kept_ms,) = state.get if state.exists else (None,)
        pdf = _drain_sorted(pdfs, ts)
        if pdf is not None:
            ms = _ms_series(pdf, ts, ts_is_timestamp)
            keep = [False] * len(pdf)
            for i, m in enumerate(ms):
                if last_kept_ms is None or m - last_kept_ms > interval_ms:
                    last_kept_ms = int(m)
                    keep[i] = True
            out = pdf.loc[keep]
            if not out.empty:
                yield out
        if last_kept_ms is not None:
            state.update((int(last_kept_ms),))

    return df.groupBy(key).applyInPandasWithState(
        fn, out_schema, _DEDUP_STATE, "append", GroupStateTimeout.NoTimeout
    )


def tumbling_batch_stream(
    df: DataFrame,
    keys,
    window_time: int | str,
    ts: str = "ts",
    keep: str = "last",
    watermark_delay: str = "10 seconds",
) -> DataFrame:
    """Streaming ``unique:timeBatch`` / ``unique:firstTimeBatch`` /
    ``unique:externalTimeBatch``: event-time tumbling window + keyed
    retain-one aggregation, watermark-driven flush. Append mode — a
    batch emits once its window closes (the streaming analog of the
    reference's boundary fire, UniqueTimeBatchWindowProcessor.java:
    235-266). The reference's ``time.out`` idle flush maps to the
    watermark delay."""
    keys = require_keys(keys)
    require_column(df, ts, "ts")
    window_ms = parse_time_ms(window_time, "window.time")
    if keep not in ("last", "first"):
        raise ValueError(f"keep must be 'last' or 'first', got {keep!r}")
    payload = F.struct(*[F.col(c) for c in df.columns])
    agg = (
        F.max_by(payload, F.col(ts)) if keep == "last" else F.min_by(payload, F.col(ts))
    )
    win = F.window(ts, f"{window_ms} milliseconds")
    return (
        df.withWatermark(ts, watermark_delay)
        .groupBy(win, *key_cols(keys))
        .agg(agg.alias("_retained"))
        .select(
            F.unix_millis(F.col("window.start")).alias("batch_start_ms"),
            F.unix_millis(F.col("window.end")).alias("batch_end_ms"),
            "_retained.*",
        )
    )


# ---------------------------------------------------------------------
# Stateful tier: applyInPandasWithState twins


def _drain_sorted(pdfs, *sort_cols) -> pd.DataFrame | None:
    """Drain a keyed state group's Arrow chunks and sort ONCE: a group's
    micro-batch rows arrive as several frames whose time ranges
    interleave after the keyed shuffle, so an order-sensitive walk sorts
    the whole group (sorting per chunk flipped ~2,700 of 915,720
    dedup-chain decisions at sf1). Memory is one key's rows per
    micro-batch; the chain twins stream chunks (:func:`_chain_stream`)."""
    frames = [p for p in pdfs if not p.empty]
    if not frames:
        return None
    pdf = frames[0] if len(frames) == 1 else pd.concat(frames, ignore_index=True)
    if not sort_cols:
        return pdf  # caller sorts on derived columns
    return pdf.sort_values(list(sort_cols), kind="mergesort")


def _ms_series(pdf: pd.DataFrame, ts: str, is_timestamp: bool):
    if is_timestamp:  # via ns: pyarrow>=13 may hand over datetime64[us]
        return (pdf[ts].astype("datetime64[ns]").astype("int64") // 1_000_000).to_numpy()
    return pdf[ts].to_numpy()


def _row_dicts(pdf: pd.DataFrame, columns, ts: str, ms) -> list[dict]:
    """Materialize a sorted chunk as JSON-safe python row dicts with
    ``ts`` rewritten to epoch millis — one vectorized ``to_dict`` pass
    instead of per-cell ``.iloc`` (which costs ~50us per access and
    dominates the replay loop)."""
    recs = pdf[list(columns)].to_dict("records")
    for i, r in enumerate(recs):
        r[ts] = int(ms[i])
        for c, v in r.items():
            if hasattr(v, "item"):
                r[c] = v.item()
    return recs


def _records_frame(records, columns, ts: str, is_timestamp: bool) -> pd.DataFrame:
    """Rebuild an output frame (plus ``channel``) from stored row
    dicts whose ``ts`` is epoch millis."""
    out = pd.DataFrame.from_records(records, columns=columns + ["channel"])
    if is_timestamp and len(out):
        out[ts] = pd.to_datetime(out[ts], unit="ms")
    return out


def time_window_stream(
    df: DataFrame,
    key: str,
    window_time: int | str,
    ts: str = "ts",
    watermark_delay: str = "10 seconds",
) -> DataFrame:
    """Streaming ``unique:time`` — sliding per-key time window with
    the reference's dual emission protocol on one output stream via a
    ``channel`` column:

    - arrival: the event emits on ``current``; a previously retained
      event for the key expires immediately on replacement
      (UniqueTimeWindowProcessor.java:191-212);
    - timer: the retained event expires ``window_time`` after its
      event time, driven by the watermark clock — the streaming
      analog of ``scheduler.notifyAt`` (:176-188, :118-125).

    State is one (ts, payload) pair per key in the state store —
    hash-partitioned by key, scales to any key cardinality. Payload
    columns must be JSON-scalar (int/float/str/bool/null)."""
    require_column(df, key, "unique.key")
    require_column(df, ts, "ts")
    interval_ms = parse_time_ms(window_time, "window.time")
    is_timestamp = str(df.schema[ts].dataType) in ("TimestampType()", "TimestampNTZType()")
    columns = [f.name for f in df.schema.fields]
    out_schema = StructType(df.schema.fields + [StructField("channel", StringType())])
    state_schema = StructType(
        [StructField("ts_ms", LongType()), StructField("payload_json", StringType())]
    )

    def fn(key_tuple, pdfs, state: GroupState):
        if state.hasTimedOut:
            ts_ms, payload_json = state.get
            rec = json.loads(payload_json)
            state.remove()
            yield _records_frame(
                [tuple(rec[c] for c in columns) + ("expired",)],
                columns, ts, is_timestamp,
            )
            return
        stored = None
        if state.exists:
            ts_ms, payload_json = state.get
            stored = json.loads(payload_json)
        # drain + sort ONCE: a key straddling an Arrow chunk boundary
        # arrives as interleaved frames (see _drain_sorted)
        pdf = _drain_sorted(pdfs, ts)
        if pdf is not None:
            ms = _ms_series(pdf, ts, is_timestamp)
            recs = []
            for row in _row_dicts(pdf, columns, ts, ms):
                if stored is not None:
                    # replaced event expires immediately
                    recs.append(tuple(stored[c] for c in columns) + ("expired",))
                stored = row
                recs.append(tuple(stored[c] for c in columns) + ("current",))
            if recs:
                yield _records_frame(recs, columns, ts, is_timestamp)
        if stored is not None:
            state.update((int(stored[ts]), json.dumps(stored)))
            state.setTimeoutTimestamp(int(stored[ts]) + interval_ms)

    return (
        df.withWatermark(ts, watermark_delay)
        .groupBy(key)
        .applyInPandasWithState(
            fn, out_schema, state_schema, "append", GroupStateTimeout.EventTimeTimeout
        )
    )


_FOREVER_MS = 300 * 365 * 86_400_000  # ~300 years: never fires in practice


def ever_stream_dual(
    df: DataFrame,
    key: str,
    ts: str = "ts",
    watermark_delay: str = "10 seconds",
) -> DataFrame:
    """Dual-channel streaming ``unique:ever``: every arrival emits on
    ``current`` and the replaced event (if any) emits on ``expired``
    immediately — the reference's exact emission protocol
    (UniqueEverWindowProcessor.java:153-166), which the update-mode
    aggregation form (:func:`ever_stream`) can't express because
    Spark's update stream carries no retraction channel.

    Implementation: the sliding unique time window with an
    effectively-infinite window length — replacement expiry is
    identical and the ever window simply never times out (reference:
    ever keeps state forever, README.md:27)."""
    return time_window_stream(
        df, key, _FOREVER_MS, ts=ts, watermark_delay=watermark_delay
    )


def _load_rows(text: str) -> list:
    """A saved row list. Also reads the layouts of earlier releases
    (a key -> row object, or ``[key, row]`` pairs), so their
    checkpoints resume."""
    rows = json.loads(text)
    rows = list(rows.values()) if isinstance(rows, dict) else rows
    return [r[1] if isinstance(r, list) else r for r in rows]


def _chain_stream(df, key, ts, partition_attr, chain, shape, fields, saved,
                  timeout=GroupStateTimeout.NoTimeout, tick=None,
                  arm=None, watermark_delay=None):
    """The one ``applyInPandasWithState`` driver of the chain twins: it
    runs :mod:`~siddhi_execution_unique_spark.operators.replay`'s chain
    classes as the batch replays do, one state group per
    ``partition_attr`` value (each instance its own chain, as the
    reference's per-instance WindowState) or one constant group (the
    reference's own single-JVM semantics).

    FEED-ORDER CONTRACT: the group's Arrow chunks stream through the
    chain without materializing the micro-batch (O(chunk) memory — the
    whole batch funnels into one group), each chunk sorted by ``ts``
    only. Chunks of a single-partition input arrive in row order, so a
    feed that is ts-sorted within each input partition replays the
    reference's arrival order exactly (the certification entries and
    the 1M-row soak feed this way); a multi-partition unsorted feed
    gets arrival-order semantics over an unspecified interleaving —
    same as the reference consuming an unordered transport. The keyed
    twins instead drain-and-sort per key (:func:`_drain_sorted`).

    ``shape(st, fed, rows, prev)`` turns a ``feed`` (or ``tick``) result
    into rows with the ``fields`` columns, ``prev`` being the refs of
    the chain's last fire before it; rows ride a ``_CarryScan`` with
    ``ts`` as epoch millis. The state row is the chain's ``STATE``
    scalars as longs (-1 for unset), then the ``saved`` JSON row lists:
    the held rows and, if named, the last fire's. ``tick(st,
    state)`` feeds a timeout; ``arm(st, state)`` sets the next timer.
    ``watermark_delay`` sets an ``EventTimeTimeout`` twin's watermark
    but drops no late row (Spark drops rows behind the last batch's
    watermark before the state function, so a resumed run lost rows one
    run keeps): it is set on ``ts`` + 100 years with the delay grown as
    much, so timers are unchanged and late rows feed the chain."""
    cols = list(df.columns)
    is_timestamp = str(df.schema[ts].dataType) in ("TimestampType()", "TimestampNTZType()")
    keys = _chain_keys(df.schema, key)
    out_schema = StructType(df.schema.fields + fields)
    scalars = chain().STATE
    state_schema = StructType([StructField(f, LongType()) for _, f in scalars]
                              + [StructField(c, StringType()) for c in saved])
    if watermark_delay is not None:  # never carried: _CarryScan takes cols
        df = (df.withColumn("_wm", F.col(ts) + F.expr("INTERVAL 36500 DAYS"))
              .withWatermark("_wm", f"36500 days {watermark_delay}"))

    def fn(key_tuple, pdfs, state: GroupState):
        st, carry = chain(), _CarryScan(cols)
        if state.exists:
            vals = state.get
            for (a, _), v in zip(scalars, vals):
                setattr(st, a, None if v == -1 else v)
            held, *last = [_load_rows(t) for t in vals[len(scalars):]]
            carry.frame = pd.DataFrame.from_records(
                held + [r for rs in last for r in rs], columns=cols)
            st.held = dict(zip(keys(carry.frame[key].iloc[:len(held)]),
                               range(len(held))))
            st.last = list(range(len(held), len(carry.frame)))

        def fed():  # -> (feed or tick result, the last fire before it)
            for pdf in pdfs:
                if pdf.empty:
                    continue
                pdf = pdf.sort_values(ts, kind="mergesort")
                ms = _ms_series(pdf, ts, is_timestamp)
                pdf[ts] = ms
                prev, base = st.last, carry.begin(pdf)
                yield st.feed(keys(pdf[key]), ms.tolist(), base), prev
            if state.hasTimedOut:
                prev = st.last
                yield tick(st, state), prev

        for res, prev in fed():
            out = shape(st, res, carry.rows, prev)
            carry.keep(st)
            if is_timestamp:
                out[ts] = pd.to_datetime(out[ts], unit="ms")
            if len(out):
                yield out
        frame = pd.DataFrame(columns=cols) if carry.frame is None else carry.frame
        n = len(st.held)
        parts = (frame.iloc[:n], frame.iloc[n:])[:len(saved)]
        state.update(
            tuple(-1 if getattr(st, a) is None else int(getattr(st, a))
                  for a, _ in scalars)
            + tuple(json.dumps(p.to_dict("records")) for p in parts))
        if arm is not None:
            arm(st, state)

    grouped = (df.groupBy(partition_attr) if partition_attr
               else df.withColumn("_g", F.lit(1)).groupBy("_g"))
    return grouped.applyInPandasWithState(fn, out_schema, state_schema, "append", timeout)


def _fire_log(rows, prev, fired, counts, seq0, **extras) -> pd.DataFrame:
    """The dual channel of a fire chain's flush log: flush ``j``
    re-emits flush ``j-1``'s rows on ``expired`` (with their own
    ``batch_seq`` and flush ``j``'s ``extras``), then its own rows on
    ``current`` (UniqueLengthBatchWindowProcessor.java:171-191). Flush
    ``-1`` is ``prev``, the chain's last fire before this result; a
    flush of no rows only drains. Index arithmetic in numpy, no
    per-row Python."""
    counts = np.asarray(counts, dtype=np.int64)
    k = len(counts)
    sizes = np.r_[len(prev), counts]
    refs = np.r_[np.asarray(prev, dtype=np.int64), np.asarray(fired, dtype=np.int64)]
    blocks = np.repeat(np.arange(k + 1), 2)[1:-1]  # flush j: blocks j, j+1
    lens = sizes[blocks]
    starts = (np.cumsum(sizes) - sizes)[blocks]
    idx = np.arange(lens.sum()) + np.repeat(starts - (np.cumsum(lens) - lens), lens)
    out = rows(refs[idx])
    seqs = seq0 - 1 + np.r_[0, np.cumsum(counts > 0)]
    out[BATCH_SEQ] = np.repeat(seqs[blocks], lens)
    flush = np.repeat(np.arange(k), 2)
    for name, vals in extras.items():
        out[name] = np.repeat(np.asarray(vals)[flush], lens)
    out["channel"] = np.repeat(np.array(["expired", "current"] * k, dtype=object), lens)
    return out


_BATCH_SEQ_FIELD = StructField(BATCH_SEQ, LongType())
_CHANNEL_FIELD = StructField("channel", StringType())


def length_batch_stream(
    df: DataFrame,
    key: str,
    window_length: int,
    ts: str = "ts",
    keep: str = "last",
    partition_attr: str | None = None,
) -> DataFrame:
    """Streaming ``unique:lengthBatch`` / ``unique:firstLengthBatch``:
    tumbling batch that fires when ``window_length`` distinct keys
    have accumulated; within the forming batch a duplicate key
    replaces (``keep='last'``) or is dropped (``keep='first'``) —
    UniqueLengthBatchWindowProcessor.java:165,210-213 and the
    firstLengthBatch putIfAbsent override. On fire, the previous
    batch re-emits on the ``expired`` channel before the new batch
    emits on ``current`` (:171-191).

    The distinct-key count is global, so this runs as a single state
    group (:func:`_chain_stream`); it cannot scale out by key. At
    scale use the per-window ``time_batch`` family, the batch-mode
    replay operator, or ``partition_attr``."""
    n = _check_chain_args(df, key, ts, window_length, keep, partition_attr)

    def shape(st, fed, rows, prev):
        fired, at, seq0 = fed
        return _fire_log(rows, prev, fired, [n] * len(at), seq0)

    return _chain_stream(
        df, key, ts, partition_attr, lambda: _FormingSet(n, keep), shape,
        [_BATCH_SEQ_FIELD, _CHANNEL_FIELD], ["forming_json", "prev_json"])


def length_window_stream(
    df: DataFrame,
    key: str,
    window_length: int,
    ts: str = "ts",
) -> DataFrame:
    """Streaming ``unique:length`` — sliding FIFO buffer of the last
    ``N`` unique keys with the reference's dual emission protocol
    (UniqueLengthWindowProcessor.java:148-166) on a ``channel`` column:
    every arrival emits on ``current``; a duplicate key expires the
    replaced event immediately and moves the key to the back of the
    FIFO (:153-157); a new key on a full buffer expires the
    oldest-inserted key's event (:158-166).

    The FIFO is one global ordered buffer (insertion order is shared
    by all keys), so this runs as a single state group — the
    reference's own single-JVM semantics. State is bounded at ``N``
    rows. Batch twin: ``operators.length.length_window_emissions``;
    distributable final-contents form: ``operators.length.length_window``."""
    n = _check_chain_args(df, key, ts, window_length)
    return _chain_stream(df, key, ts, None, lambda: _UniqueFifo(n),
                         _fifo_channels, [_CHANNEL_FIELD], ["buffer_json"])


def time_length_batch_stream(
    df: DataFrame,
    key: str,
    window_time: int | str,
    window_length: int,
    ts: str = "ts",
    watermark_delay: str = "10 seconds",
    start_time_ms: int | None = None,
    partition_attr: str | None = None,
) -> DataFrame:
    """Streaming ``unique:timeLengthBatch``: tumbling batch fired by
    ``T`` elapsed or ``N`` distinct keys, whichever first
    (UniqueTimeLengthBatchWindowProcessor.java:110), the batch
    replay's chain (operators/replay.py:time_length_batch):

    - length fire the moment the Nth distinct key arrives (:279-282);
      afterwards events are **discarded** until the next time boundary
      (``eventSent`` skip, :261-271,288-290), which the boundary clears;
    - time fire flushes the forming batch at ``anchor + k*T``
      (:304-336) — event-driven when a later event crosses the
      boundary, watermark-driven (``EventTimeTimeout``, the streaming
      analog of ``scheduler.notifyAt``) when the stream idles; a row
      behind the watermark is kept, not dropped as late;
    - on each fire the previous batch re-emits on the ``expired``
      channel before the new batch emits on ``current``
      (UniqueTimeLengthBatchWindowTestCase.java:100-101 counts both);
      expired rows carry their own ``batch_seq`` and the *current*
      fire's ``fired_at_ms``/``fire_reason`` (= when they expired). A
      boundary with no forming rows still drains the previous batch.

    One state group (the count and clock are global), or one per
    ``partition_attr`` value with its own anchor; at scale use the
    per-window ``tumbling_batch_stream`` family."""
    n = _check_chain_args(df, key, ts, window_length,
                          partition_attr=partition_attr,
                          start_time_ms=start_time_ms)
    t_ms = parse_time_ms(window_time, "window.time")

    def shape(st, fed, rows, prev):
        fired, counts, at_ms, reasons, seq0 = fed
        return _fire_log(rows, prev, fired, counts, seq0,
                         fired_at_ms=at_ms, fire_reason=reasons)

    def tick(st, state):
        # the watermark is GLOBAL; a group's event-time clock is its OWN
        # stream front (the per-instance convention every partitioned
        # derivation uses), so a timer never crosses past it
        return st.advance(min(state.getCurrentWatermarkMs(), st.front))

    def arm(st, state):
        # the watermark drives the next boundary on an idle stream (an
        # undrained last fire still needs its flush) — but only when
        # the group's front has reached it: short of that only a new
        # event can progress, and a timer would fire a no-op timeout
        # every micro-batch on idle partitions
        if (st.next_emit is not None and (st.held or st.skip or st.last)
                and st.front >= st.next_emit):
            state.setTimeoutTimestamp(
                max(st.next_emit, state.getCurrentWatermarkMs() + 1))

    return _chain_stream(
        df, key, ts, partition_attr,
        lambda: _TimeLengthBatch(t_ms, n, start_time_ms), shape,
        [_BATCH_SEQ_FIELD, StructField("fired_at_ms", LongType()),
         StructField("fire_reason", StringType()), _CHANNEL_FIELD],
        ["forming_json", "prev_json"],
        GroupStateTimeout.EventTimeTimeout, tick, arm, watermark_delay)


def external_time_batch_stream(
    df: DataFrame,
    key: str,
    window_time: int | str,
    ts: str = "ts",
    idle_timeout: int | str | None = None,
    start_time_ms: int | None = None,
    partition_attr: str | None = None,
) -> DataFrame:
    """Streaming ``unique:externalTimeBatch`` with the reference's
    ``time.out`` idle flush (UniqueExternalTimeBatchWindowProcessor.
    java:279-298): batches are driven by the event's own timestamp —
    flush when an event lands past the batch boundary (:454-458) — and
    additionally by a WALL-CLOCK timer: if no events arrive for
    ``idle_timeout``, the forming batch flushes even though nothing
    crossed the boundary. That timer is inherently processing-time
    (the reference schedules it on the system clock), so it maps to
    ``ProcessingTimeTimeout`` — the one place this module uses
    wall-clock state expiry.

    Output adds ``batch_start_ms``/``batch_end_ms`` and ``flush_reason``
    ('boundary' | 'timeout'). After an idle flush the batch window
    stays open: later events of the same window flush as a second
    partial chunk, matching the reference (flushed keys were cleared
    from the map, :296-298). Keep-latest per key within a chunk.

    One state group (the boundary clock is global), or one per
    ``partition_attr`` value; :func:`tumbling_batch_stream` is the
    scale path."""
    _check_chain_args(df, key, ts, partition_attr=partition_attr,
                      start_time_ms=start_time_ms)
    t_ms = parse_time_ms(window_time, "window.time")
    idle_ms = None if idle_timeout is None else parse_time_ms(idle_timeout, "time.out")

    def shape(st, fed, rows, prev):
        fired, counts, ends, reason = fed
        end = np.repeat(np.asarray(ends, dtype=np.int64), counts)
        return rows(fired).assign(batch_start_ms=end - t_ms, batch_end_ms=end,
                                  flush_reason=reason)

    def arm(st, state):
        if idle_ms is not None and st.held:
            state.setTimeoutDuration(idle_ms)

    # ProcessingTimeTimeout ONLY when time.out is configured: the
    # timeout mode forces Spark to keep scheduling state-cleanup
    # micro-batches while any state exists, so an availableNow replay
    # of the no-time.out variant would never terminate (observed:
    # endless "No new data but cleaning up state" batches)
    timeout = (GroupStateTimeout.ProcessingTimeTimeout if idle_ms is not None
               else GroupStateTimeout.NoTimeout)
    return _chain_stream(
        df, key, ts, partition_attr, lambda: _ExternalTimeBatch(t_ms, start_time_ms),
        shape,
        [StructField("batch_start_ms", LongType()),
         StructField("batch_end_ms", LongType()),
         StructField("flush_reason", StringType())],
        ["forming_json"], timeout, lambda st, state: st.flush(), arm)


_ASOF_STATE = StructType(
    [StructField("r_ts_ms", LongType()), StructField("r_id", LongType())]
)


def asof_stream(
    df: DataFrame,
    key: str,
    side_col: str,
    ts: str = "ts",
    payload: str = "event_id",
) -> DataFrame:
    """Streaming twin of :func:`functions.asof.asof_join` — continuous
    point-in-time enrichment. Rows where ``side_col`` is true are the
    reference ("right") stream: each updates its key's state to the
    greatest (ts, payload) seen. All other rows are emitted enriched
    with the state AT their event time: columns ``r_ts_ms`` /
    ``r_id`` (-1 before any right row).

    Same per-key state-store shape as the other twins: one tiny tuple
    per key, hash-partitioned, checkpointed. Within a micro-batch rows
    are processed in event-time order with right rows first at equal
    timestamps (the batch operator's inclusive `<=` rule); cross-batch
    disorder is the stream's ordering contract, as in
    ``deduplicate_exact_stream``."""
    require_column(df, key, "unique.key")
    require_column(df, ts, "ts")
    require_column(df, side_col, "side column")
    require_column(df, payload, "payload column")
    out_schema = StructType(
        df.schema.fields
        + [StructField("r_ts_ms", LongType()), StructField("r_id", LongType())]
    )
    ts_is_timestamp = str(df.schema[ts].dataType) in (
        "TimestampType()", "TimestampNTZType()",
    )
    columns = [f.name for f in df.schema.fields]

    def fn(
        key_tuple: Tuple,
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        r_ts, r_id = state.get if state.exists else (None, None)
        pdf = _drain_sorted(pdfs)  # sort below needs derived columns
        if pdf is not None:
            pdf = pdf.copy()
            ms = _ms_series(pdf, ts, ts_is_timestamp)
            pdf["__ms"] = ms
            # right rows first at equal timestamps -> inclusive "<="
            pdf["__side"] = (~pdf[side_col].astype(bool)).astype(int)
            pdf = pdf.sort_values(
                ["__ms", "__side", payload], kind="mergesort"
            )
            out_ts, out_id, emit = [], [], []
            for row_ms, is_left, pval in zip(
                pdf["__ms"], pdf["__side"], pdf[payload]
            ):
                if not is_left:
                    cand = (int(row_ms), int(pval))
                    if r_ts is None or cand > (r_ts, r_id):
                        r_ts, r_id = cand
                else:
                    emit.append(True)
                    out_ts.append(r_ts if r_ts is not None else -1)
                    out_id.append(r_id if r_id is not None else -1)
            left = pdf[pdf["__side"] == 1].drop(columns=["__ms", "__side"])
            if not left.empty:
                left["r_ts_ms"] = pd.array(out_ts, dtype="int64")
                left["r_id"] = pd.array(out_id, dtype="int64")
                yield left
        if r_ts is not None:
            state.update((int(r_ts), int(r_id)))

    return df.groupBy(key).applyInPandasWithState(
        fn, out_schema, _ASOF_STATE, "append", GroupStateTimeout.NoTimeout
    )


_KMV_STATE = StructType([StructField("mins_csv", StringType())])


def kmv_stream(
    df: DataFrame,
    key: str = "event_type",
    id_col: str = "user_id",
    k: int = 32,
) -> DataFrame:
    """Streaming twin of :func:`functions.sketch.kmv_distinct` —
    continuous distinct-count estimation. The KMV sketch is mergeable
    (union sketch = k smallest of the union), so the streaming form is
    just: fold each micro-batch's hashes into the per-key k-smallest
    set held in state, emit the refreshed estimate. State is bounded
    at k longs per key FOREVER — the whole point of a sketch vs the
    exact DISTINCT, whose state grows with true cardinality.

    Emits one (key, n_k, kmv_estimate) row per key per micro-batch
    (update semantics). The hash is the same md5-derived uniform point
    as the batch operator, so a stream that has seen the same rows
    reports the IDENTICAL estimate (pinned by test)."""
    import hashlib

    from siddhi_execution_unique_spark.functions.sketch import P

    require_column(df, key, "sketch key")
    require_column(df, id_col, "sketch id column")
    out_schema = StructType(
        [
            df.schema[key],
            StructField("n_k", LongType()),
            StructField("kmv_estimate", DoubleType()),
        ]
    )

    def fn(
        key_tuple: Tuple,
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (csv,) = state.get if state.exists else ("",)
        mins = {int(x) for x in csv.split(",") if x}
        for pdf in pdfs:
            for uid in pdf[id_col]:
                h = int(hashlib.md5(str(int(uid)).encode()).hexdigest()[:15], 16) % P
                mins.add(h)
        mins = set(sorted(mins)[:k])
        ordered = sorted(mins)
        if len(ordered) < k:
            est = float(len(ordered))
        else:
            # mirror the batch/DuckDB estimator bit-for-bit: one IEEE
            # multiply and divide, then round-half-up at 3 decimals
            # (Python's round() is banker's, so do it in integers)
            raw = (k - 1) * float(P) / ordered[k - 1]
            est = ((int(raw * 1000) + (1 if raw * 1000 % 1 >= 0.5 else 0)) / 1000.0)
        yield pd.DataFrame(
            {
                key: [key_tuple[0]],
                "n_k": [len(ordered)],
                "kmv_estimate": [float(est)],
            }
        )
        state.update((",".join(map(str, ordered)),))

    return df.groupBy(key).applyInPandasWithState(
        fn, out_schema, _KMV_STATE, "update", GroupStateTimeout.NoTimeout
    )


_RANGE_STATE = StructType([StructField("buf_json", StringType())])


def range_agg_stream(
    df: DataFrame,
    key: str,
    side_col: str,
    window_ms: int,
    ts: str = "ts",
    value_col: str = "v",
) -> DataFrame:
    """Streaming twin of :func:`functions.asof.clicks_before_purchase`
    — continuous trailing-interval aggregation. Rows where
    ``side_col`` is true are the reference stream; every other row is
    emitted with the count and (milli-quantized) value sum of the
    reference rows for its key inside ``(row_ts - window_ms, row_ts]``.

    State is the per-key buffer of reference rows still inside the
    window — bounded by the key's reference-event rate times the
    window, NOT by history (rows older than ``window_ms`` behind the
    processed frontier are pruned as the event-time cursor advances;
    the cursor is monotone because each micro-batch is processed in
    event-time order). This is the state-size contract a stream-stream
    interval join needs at 100 TB/day: O(window) per key, forever."""
    require_column(df, key, "unique.key")
    require_column(df, ts, "ts")
    require_column(df, side_col, "side column")
    require_column(df, value_col, "value column")
    if window_ms <= 0:
        raise ValueError(f"window_ms must be positive, got {window_ms}")
    out_schema = StructType(
        df.schema.fields
        + [StructField("n_in_window", LongType()),
           StructField("win_value_sum", DoubleType())]
    )
    ts_is_timestamp = str(df.schema[ts].dataType) in (
        "TimestampType()", "TimestampNTZType()",
    )

    def fn(
        key_tuple: Tuple,
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        buf = json.loads(state.get[0]) if state.exists else []
        pdf = _drain_sorted(pdfs)  # sort below needs derived columns
        if pdf is not None:
            pdf = pdf.copy()
            pdf["__ms"] = _ms_series(pdf, ts, ts_is_timestamp)
            # reference rows first at equal ts -> inclusive <=
            pdf["__side"] = (~pdf[side_col].astype(bool)).astype(int)
            pdf = pdf.sort_values(["__ms", "__side"], kind="mergesort")
            counts, sums, = [], []
            for row_ms, is_left, val in zip(
                pdf["__ms"], pdf["__side"], pdf[value_col]
            ):
                m = int(row_ms)
                # monotone cursor: anything at or before m - window can
                # never satisfy a future row's trailing window either
                buf = [e for e in buf if e[0] > m - window_ms]
                if not is_left:
                    buf.append((m, int(round(float(val) * 1000))))
                else:
                    counts.append(len(buf))
                    sums.append(sum(q for _, q in buf) / 1000.0)
            left = pdf[pdf["__side"] == 1].drop(columns=["__ms", "__side"])
            if not left.empty:
                left["n_in_window"] = pd.array(counts, dtype="int64")
                left["win_value_sum"] = pd.array(sums, dtype="float64")
                yield left
        state.update((json.dumps(buf),))

    return df.groupBy(key).applyInPandasWithState(
        fn, out_schema, _RANGE_STATE, "append", GroupStateTimeout.NoTimeout
    )


_SESSION_STATE = StructType(
    [
        StructField("session_seq", LongType()),
        StructField("start_ms", LongType()),
        StructField("end_ms", LongType()),
        StructField("n_events", LongType()),
        StructField("types_json", StringType()),
        StructField("open", LongType()),  # 1 = a session is in flight
    ]
)


def sessionize_stream(
    df: DataFrame,
    gap_ms: int,
    user: str = "user_id",
    ts: str = "ts",
    type_col: str = "event_type",
    watermark_delay: str = "10 seconds",
) -> DataFrame:
    """Streaming twin of :func:`functions.sessions.sessionize` —
    event-time session windows (a session = a maximal run of one
    user's events with consecutive gaps <= ``gap_ms``). A session
    CLOSES and emits its aggregate row either when a same-user event
    arrives more than ``gap_ms`` later, or when the watermark passes
    ``last event + gap_ms`` (EventTimeTimeout as the scheduler — same
    pattern as :func:`time_window_stream`). Emitted rows match the
    batch operator's: (user, session_seq, session_start_ms,
    session_end_ms, n_events, n_event_types).

    State per user is ONE open-session aggregate (5 scalars + the
    distinct type set) regardless of event volume — the state store
    never holds raw events, which is what lets this run on an
    unbounded stream. The per-user ``session_seq`` counter survives
    session closes (state is kept with ``open=0`` rather than
    removed). Events within a micro-batch are re-sorted by event
    time; data late enough to land after its session's close is the
    documented divergence vs the batch form's global re-sort (same
    caveat as every streaming twin here)."""
    require_column(df, user, "session user")
    require_column(df, ts, "ts")
    require_column(df, type_col, "session type column")
    if gap_ms <= 0:
        raise ValueError(f"gap_ms must be > 0, got {gap_ms}")
    is_timestamp = str(df.schema[ts].dataType) in ("TimestampType()", "TimestampNTZType()")
    out_schema = StructType(
        [
            df.schema[user],
            StructField("session_seq", LongType()),
            StructField("session_start_ms", LongType()),
            StructField("session_end_ms", LongType()),
            StructField("n_events", LongType()),
            StructField("n_event_types", LongType()),
        ]
    )

    def fn(
        key_tuple: Tuple,
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        seq, start, end, n, types_json, is_open = (
            state.get if state.exists else (0, 0, 0, 0, "[]", 0)
        )
        types = set(json.loads(types_json))

        def row():
            return (key_tuple[0], seq, start, end, n, len(types))

        if state.hasTimedOut:
            closed = [row()] if is_open else []
            state.update((seq, start, end, n, "[]", 0))
            if closed:
                yield pd.DataFrame(
                    closed,
                    columns=[user, "session_seq", "session_start_ms",
                             "session_end_ms", "n_events", "n_event_types"],
                )
            return

        closed_rows = []
        pdf = _drain_sorted(pdfs, ts)
        if pdf is not None:
            ms = _ms_series(pdf, ts, is_timestamp)
            for t, ev_type in zip(ms, pdf[type_col]):
                t = int(t)
                if is_open and t - end > gap_ms:
                    closed_rows.append(row())
                    is_open = 0
                if not is_open:
                    seq, start, end, n, types, is_open = seq + 1, t, t, 0, set(), 1
                start = min(start, t)  # late-but-in-gap event extends backwards
                end = max(end, t)
                n += 1
                types.add(ev_type if not hasattr(ev_type, "item") else ev_type.item())
        if is_open and end + gap_ms <= state.getCurrentWatermarkMs():
            # the whole gap already lies behind the watermark: close now
            # (a timeout set in the past would be rejected)
            closed_rows.append(row())
            is_open = 0
            types = set()
        state.update((seq, start, end, n, json.dumps(sorted(types, key=repr)), is_open))
        if is_open:
            state.setTimeoutTimestamp(end + gap_ms)
        if closed_rows:
            yield pd.DataFrame(
                closed_rows,
                columns=[user, "session_seq", "session_start_ms",
                         "session_end_ms", "n_events", "n_event_types"],
            )

    return (
        df.withWatermark(ts, watermark_delay)
        .groupBy(user)
        .applyInPandasWithState(
            fn, out_schema, _SESSION_STATE, "append", GroupStateTimeout.EventTimeTimeout
        )
    )


def index_ingest_stream(docs_stream: DataFrame) -> DataFrame:
    """Streaming posting-list ingest: tokenize arriving documents into
    (doc_id, term, tf) rows — the storage unit the BM25 / tf-idf
    retrieval ops aggregate — with NO state store and no shuffle: a
    document's postings are a row-local computation (Arrow-batched
    ``mapInPandas``), so the stream runs in append mode and scales with
    arrival rate alone. An accumulated stream ingest IS the index the
    batch side queries — encode at the edge, append skinny rows (the
    text analog of :func:`pq_encode_stream`).

    Tokenization mirrors ``text.SPARK_TOKS``
    (``split(trim(lower(text)), '\\s+')``) exactly, including the
    empty-string token a whitespace-only document produces, so the
    stream's postings are row-for-row identical to the batch
    ``explode`` (pinned by test)."""
    import re

    from collections import Counter

    require_column(docs_stream, "doc_id", "index doc id")
    require_column(docs_stream, "text", "index text")
    out_schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("term", StringType()),
            StructField("tf", LongType()),
        ]
    )

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            out = {"doc_id": [], "term": [], "tf": []}
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                counts = Counter(re.split(r"\s+", str(text).strip().lower()))
                for term, tf in counts.items():
                    out["doc_id"].append(int(doc_id))
                    out["term"].append(term)
                    out["tf"].append(tf)
            yield pd.DataFrame(out)

    return docs_stream.select("doc_id", "text").mapInPandas(encode, out_schema)


_LSH_STATE = StructType([StructField("rep", LongType())])


def lsh_ingest_stream(docs_stream: DataFrame) -> DataFrame:
    """Streaming near-dup candidate detection AT INGEST — the
    incremental form of the MinHash/LSH batch pipeline
    (functions.dedup: shingle → 12-perm signature → 4 banded buckets):
    each arriving document's band keys feed a state store keyed by
    band bucket holding the first document seen per bucket. Later
    arrivals emit ``(doc_id, band_key, rep_id)`` candidate rows
    immediately — the stream analog of the batch bucket self-join,
    with the self-join replaced by one tiny long per bucket of state.

    The signature stage IS the batch pipeline's SQL: tokenize →
    explode word-3-gram shingle rows → per-shingle ``md5`` hash, all
    whole-stage codegen via the shared ``_shingle_rows`` /
    ``_hash_expr`` expressions (functions/dedup.py) — so stream and
    batch hash algebra are bit-identical by construction (tokenizer
    included; a Python ``re.split(r'\\s+')`` here would diverge on
    Unicode whitespace). The batch side's ``groupBy(doc_id).agg(min)``
    is a stateful streaming aggregation — illegal in append mode
    before ``applyInPandasWithState`` — so the 12 permutation minima
    reduce map-side instead: a document's exploded shingle rows are
    contiguous within their partition (projection → generate → map,
    no exchange), so one Arrow-vectorized ``mapInPandas`` computes
    numpy segmented minima with zero shuffle — exactly the map-side
    partial aggregate the batch plan's first phase performs, with the
    merge phase vacuous because each doc lives in one partition. Band
    keys then explode JVM-side (shared ``_band_keys``).

    Within a micro-batch, documents are processed in ``doc_id`` order,
    so the bucket representative is the minimum doc_id seen so far;
    replayed as one batch this equals the batch rule "rep = min doc_id
    sharing the bucket". Across arbitrary batch interleavings the rep
    is first-wins — the same order dependence as ``unique:first``
    (UniqueFirstWindowProcessor.java:129-132 applied to the bucket
    key). State is ONE long per occupied bucket: bounded by distinct
    bucket count, not candidate-pair count — a 100 TB ingest never
    materializes the pair explosion."""
    import numpy as np

    from siddhi_execution_unique_spark.functions.dedup import (
        P,
        SEEDS,
        _band_keys,
        _hash_expr,
        _shingle_rows,
    )

    require_column(docs_stream, "doc_id", "lsh doc id")
    require_column(docs_stream, "text", "lsh text")

    # (doc_id, h): one codegen pass — split/trim/lower, shingle rows
    # via explode(sequence)+indexing, md5 → bigint — identical
    # expressions to the batch minhash_signatures input
    hashed = _shingle_rows(docs_stream.select("doc_id", "text")).select(
        "doc_id", F.expr(_hash_expr("sh")).alias("h")
    )

    seed_a = np.array([a for a, _ in SEEDS], dtype=np.int64)
    seed_b = np.array([b for _, b in SEEDS], dtype=np.int64)
    n_perm = len(SEEDS)
    sig_cols = [f"mh_{j}" for j in range(n_perm)]

    def sig_frame(ids: list, mins: list) -> pd.DataFrame:
        mat = np.stack(mins, axis=1)  # (n_perm, k)
        data = {"doc_id": np.asarray(ids, dtype=np.int64)}
        for j in range(n_perm):
            data[sig_cols[j]] = mat[j]
        return pd.DataFrame(data)

    def sig_reduce(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # segmented min over contiguous doc_id runs; an Arrow chunk
        # boundary can split one doc's rows, so the last (open)
        # segment carries into the next chunk
        carry_id, carry_min = None, None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf["doc_id"].to_numpy(np.int64)
            hs = pdf["h"].to_numpy(np.int64)
            # h < P ~ 2^30, a <= 1091 -> a*h+b < 2^41: int64-safe
            vals = (seed_a[:, None] * hs[None, :] + seed_b[:, None]) % P
            starts = np.concatenate(([0], np.flatnonzero(np.diff(ids)) + 1))
            mins = np.minimum.reduceat(vals, starts, axis=1)
            seg_ids = ids[starts]
            done_ids: list = []
            done_mins: list = []
            if carry_id is not None:
                if int(seg_ids[0]) == carry_id:
                    mins[:, 0] = np.minimum(mins[:, 0], carry_min)
                else:
                    done_ids.append(carry_id)
                    done_mins.append(carry_min)
            for k in range(len(seg_ids) - 1):
                done_ids.append(int(seg_ids[k]))
                done_mins.append(mins[:, k])
            carry_id, carry_min = int(seg_ids[-1]), mins[:, -1]
            if done_ids:
                yield sig_frame(done_ids, done_mins)
        if carry_id is not None:
            yield sig_frame([carry_id], [carry_min])

    sig_schema = ", ".join(["doc_id long"] + [f"{c} long" for c in sig_cols])
    sigs = hashed.mapInPandas(sig_reduce, sig_schema)
    bands = _band_keys(sigs)
    out_schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("band_key", StringType()),
            StructField("rep_id", LongType()),
        ]
    )

    def fn(
        key_tuple: Tuple,
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (rep,) = state.get if state.exists else (None,)
        out_ids, out_reps = [], []
        # materialize ALL chunks before sorting: applyInPandasWithState
        # may split one band-key group into several Arrow chunks with
        # no cross-chunk ordering, so a per-chunk sort would break the
        # "rep = min doc_id within a micro-batch" invariant
        all_ids: list = []
        for pdf in pdfs:
            all_ids.extend(int(x) for x in pdf["doc_id"])
        for d in sorted(all_ids):
            if rep is None:
                rep = d
            elif d != rep:
                out_ids.append(d)
                out_reps.append(rep)
        if rep is not None:
            state.update((int(rep),))
        if out_ids:
            yield pd.DataFrame(
                {
                    "doc_id": out_ids,
                    "band_key": key_tuple[0],
                    "rep_id": out_reps,
                }
            )

    return bands.groupBy("band_key").applyInPandasWithState(
        fn, out_schema, _LSH_STATE, "append", GroupStateTimeout.NoTimeout
    )


def pq_encode_stream(stream_df: DataFrame, codebook_corpus: DataFrame) -> DataFrame:
    """Streaming PQ ingest: encode arriving embedding rows into
    (vec_id, m, code) with the codebook frozen from the batch corpus —
    new vectors become searchable codes at stream time without
    touching the stored corpus. Stateless row-local transform (the
    codebook is collected model parameters in the encode closure), so
    it runs in append mode with no state store and no shuffle — the
    same shape a 100 TB ingest pipeline wants: encode at the edge,
    append skinny code rows.

    Reference parity note: the reference has no ANN surface; this is
    north-star scope (SURVEY.md §7 phase 4) composed from the same
    mapInPandas encode the batch path uses."""
    from siddhi_execution_unique_spark.functions.similarity import (
        pq_codebook,
        pq_encode,
    )

    return pq_encode(stream_df, pq_codebook(codebook_corpus))


_FUNNEL_STATE = StructType(
    [
        StructField("t1", LongType()),
        StructField("t2", LongType()),
        StructField("t3", LongType()),
    ]
)


def funnel_stream(
    df: DataFrame,
    steps: tuple = ("view", "click", "purchase"),
    step_window_ms: int = 86_400_000,
    user: str = "user_id",
    ts: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Streaming twin of :func:`functions.analytics.funnel` — the
    Siddhi pattern-query shape (``from every e1=views -> e2=clicks[
    within window] -> ...``) as an ``applyInPandasWithState`` state
    machine: per user, ONE fixed-size tuple of completed-step
    timestamps, advanced greedily in event-time order. Emits (update
    semantics) the user's funnel row whenever a step completes:
    (user, step_reached, t1_ms..t3_ms; -1 = unreached).

    State is 3 longs per user regardless of event volume — the same
    bounded-state argument as every twin here. Within a micro-batch
    events re-sort by event time; an out-of-order event that arrives
    AFTER a later step anchored (e.g. an earlier 'view' than the one
    that anchored t1) does not re-anchor the chain — the documented
    divergence vs the batch operator's global minimum, bounded by the
    source's disorder, and identical to how the reference's pattern
    runtime commits on the first matching event it sees
    (UniqueEverWindowProcessor.java:143-169 processes in arrival
    order)."""
    if len(steps) != 3:
        raise ValueError(f"funnel_stream supports exactly 3 steps, got {len(steps)}")
    if step_window_ms <= 0:
        raise ValueError(f"step_window_ms must be > 0, got {step_window_ms}")
    require_column(df, user, "funnel user")
    require_column(df, ts, "ts")
    require_column(df, type_col, "funnel type column")
    is_timestamp = str(df.schema[ts].dataType) in ("TimestampType()", "TimestampNTZType()")
    out_schema = StructType(
        [
            df.schema[user],
            StructField("step_reached", LongType()),
            StructField("t1_ms", LongType()),
            StructField("t2_ms", LongType()),
            StructField("t3_ms", LongType()),
        ]
    )
    s1, s2, s3 = steps

    def fn(
        key_tuple: Tuple,
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        t1, t2, t3 = state.get if state.exists else (0, 0, 0)
        advanced = False
        pdf = _drain_sorted(pdfs, ts)
        if pdf is not None:
            ms = _ms_series(pdf, ts, is_timestamp)
            for t, ev in zip(ms, pdf[type_col]):
                t = int(t)
                if not t1 and ev == s1:
                    t1, advanced = t, True
                elif t1 and not t2 and ev == s2 and t1 < t <= t1 + step_window_ms:
                    t2, advanced = t, True
                elif t2 and not t3 and ev == s3 and t2 < t <= t2 + step_window_ms:
                    t3, advanced = t, True
        if advanced:
            state.update((t1, t2, t3))
            step = 1 + (t2 > 0) + (t3 > 0)
            yield pd.DataFrame(
                [(key_tuple[0], step, t1, t2 or -1, t3 or -1)],
                columns=[user, "step_reached", "t1_ms", "t2_ms", "t3_ms"],
            )

    return df.groupBy(user).applyInPandasWithState(
        fn, out_schema, _FUNNEL_STATE, "update", GroupStateTimeout.NoTimeout
    )


def countmin_stream(events_stream: DataFrame) -> DataFrame:
    """Streaming count-min maintenance — the sketch kept CURRENT as
    events arrive: each micro-batch's d cell increments merge into the
    running (i, cell) counts through the state store, so the live
    sketch is always the exact batch sketch of everything ingested.
    State is BOUNDED at d*w (= 2048) rows forever — the streaming
    -state version of the mergeability argument in
    :func:`functions.sketch.countmin_heavy_hitters` (cells merge by
    SUM, so micro-batches compose exactly like shards). Runs in
    update/complete mode; heavy-hitter probes query the sink table.

    Row-for-row parity with the batch cells is pinned by
    ``test_countmin_stream_matches_batch_cells``."""
    from siddhi_execution_unique_spark.functions.sketch import CM_D, _CM_HASH_SPARK

    require_column(events_stream, "user_id", "count-min key")
    return (
        events_stream.select(
            "user_id",
            F.explode(F.expr(f"sequence(0, {CM_D - 1})")).alias("i"),
        )
        .select("i", F.expr(_CM_HASH_SPARK).alias("cell"))
        .groupBy("i", "cell")
        .agg(F.count("*").alias("c"))
    )


_ANOMALY_STATE = StructType(
    [
        StructField("hbs", ArrayType(LongType())),
        StructField("xs", ArrayType(LongType())),
        StructField("open_hb", LongType()),
        StructField("open_x", LongType()),
    ]
)


def anomaly_stream(
    df: DataFrame,
    cohort: int = 50,
    hist: int = 24,
    min_n: int = 8,
    user: str = "user_id",
    ts: str = "ts",
    value: str = "value",
) -> DataFrame:
    """Streaming twin of :func:`functions.analytics.hourly_anomalies`
    — live 3-sigma monitoring: per user the state is one OPEN hour
    accumulator plus a ring of the last ``hist`` CLOSED hourly sums
    (<= hist+2 longs per user, bounded forever). An hour closes when
    a later-hour event arrives for that user; at close it is judged
    against the trailing ring with the same all-integer inequality
    ``(n·x − S)² > 9·(n·SS − S²)`` the batch operator hashes, and the
    flag row emits in append mode.

    Divergences vs batch (both inherent to unbounded input, both
    documented): each user's final, never-closed hour cannot emit
    (the batch pass sees the corpus end), and an event arriving
    AFTER its hour closed is dropped (the watermark analog; the
    batch pass re-sorts the full corpus). Cross-checked by
    ``test_anomaly_stream_matches_batch_on_closed_hours``."""
    if cohort < 1 or hist < 2 or min_n < 2:
        raise ValueError(
            f"anomaly_stream needs cohort >= 1, hist >= 2, min_n >= 2; "
            f"got cohort={cohort}, hist={hist}, min_n={min_n}"
        )
    require_column(df, user, "anomaly user")
    require_column(df, ts, "ts")
    require_column(df, value, "anomaly value")
    is_timestamp = str(df.schema[ts].dataType) in ("TimestampType()", "TimestampNTZType()")
    out_schema = StructType(
        [
            df.schema[user],
            StructField("hb", LongType()),
            StructField("metric_q", LongType()),
            StructField("n_hist", LongType()),
            StructField("is_anomaly", LongType()),
        ]
    )
    import math

    def fn(
        key_tuple: Tuple,
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        hbs, xs, open_hb, open_x = (
            state.get if state.exists else ([], [], -1, 0)
        )
        hbs, xs = list(hbs), list(xs)
        rows = []

        def close_open():
            nonlocal hbs, xs
            tail_h, tail_x = hbs[-hist:], xs[-hist:]
            n = len(tail_x)
            if n >= min_n:
                s_, ss = sum(tail_x), sum(v * v for v in tail_x)
                flag = int(
                    (n * open_x - s_) ** 2 > 9 * (n * ss - s_ * s_)
                )
                rows.append((key_tuple[0], open_hb, open_x, n, flag))
            hbs = (hbs + [open_hb])[-hist:]
            xs = (xs + [open_x])[-hist:]

        pdf = _drain_sorted(pdfs, ts)
        if pdf is not None:
            ms = _ms_series(pdf, ts, is_timestamp)
            for t, v in zip(ms, pdf[value]):
                hb = int(t) // 3_600_000
                q = math.floor(float(v) * 1000)
                if open_hb == -1:
                    open_hb, open_x = hb, q
                elif hb == open_hb:
                    open_x += q
                elif hb > open_hb:
                    close_open()
                    open_hb, open_x = hb, q
                # hb < open_hb: late event for a closed hour — dropped
        state.update((hbs, xs, open_hb, open_x))
        if rows:
            yield pd.DataFrame(
                rows, columns=[user, "hb", "metric_q", "n_hist", "is_anomaly"]
            )

    return (
        df.filter(F.col(user) < cohort)
        .groupBy(user)
        .applyInPandasWithState(
            fn, out_schema, _ANOMALY_STATE, "append", GroupStateTimeout.NoTimeout
        )
    )


def trend_stream(events_stream: DataFrame, t0_ms: int, ts: str = "ts") -> DataFrame:
    """Streaming maintenance of the grouped-OLS sufficient statistics
    (:func:`functions.analytics.value_trend_by_type`): per event_type,
    the five exact sums (n, Σt, Σq, Σtq, Σt²) stay CURRENT as events
    arrive — micro-batches merge by addition through the state store,
    exactly like shards, so the live table always equals the batch
    sums over everything ingested. The slope/intercept divisions are
    a trivial projection on the sink (or the batch expression reused);
    state is bounded at one row per event_type forever.

    ``t0_ms`` is the corpus epoch the hour offsets anchor to — in
    batch it is a 1-row min aggregate; a stream cannot know its own
    minimum, so the anchor is an explicit parameter (any fixed epoch
    works: slope is translation-invariant, and passing the batch
    side's min reproduces its sums exactly — pinned by test)."""
    from siddhi_execution_unique_spark.functions.analytics import (
        HOUR_MS,
        TREND_Q,
    )

    require_column(events_stream, "event_type", "trend group")
    require_column(events_stream, ts, "ts")
    require_column(events_stream, "value", "trend value")
    base = events_stream.select(
        "event_type",
        F.expr(f"(unix_millis({ts}) - {t0_ms}) div {HOUR_MS}").alias("t"),
        F.expr(f"cast(floor(value * {TREND_Q}) as bigint)").alias("q"),
    )
    return base.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("t").alias("st"),
        F.sum("q").alias("sq"),
        F.sum(F.col("t") * F.col("q")).alias("stq"),
        F.sum(F.col("t") * F.col("t")).alias("stt"),
    )


def interval_join_stream(
    events_stream: DataFrame,
    left_type: str,
    right_type: str,
    within: int | str,
    key: str = "user_id",
    ts: str = "ts",
    watermark_delay: str = "2 hours",
    how: str = "inner",
) -> DataFrame:
    """Native watermarked stream-stream event-time interval join —
    the streaming analogue of the host-engine window-contents join
    the reference exercises (UniqueEverWindowTestCase.java:230-232;
    Siddhi core performs the join, SURVEY.md §2b). Each right-side
    event (e.g. a purchase) matches the left-side events (e.g.
    clicks) of the same key whose timestamp lies in
    ``(right.ts - within, right.ts]``.

    Scale design: this is Spark's built-in
    StreamingSymmetricHashJoin — both sides shuffle once on the key,
    and the explicit time-range predicate (native INTERVAL
    arithmetic on the two watermarked timestamp columns, never
    unix_millis, which would defeat the optimizer's state-bound
    extraction) lets the engine evict join state past
    ``watermark - within``: state is bounded by the window span per
    key, not by stream history. No Python stage anywhere.

    Output: one row per (left, right) match with both event ids, the
    key, and the in-window gap in ms.

    ``how="left_outer"`` additionally emits every unmatched left
    event once its match horizon is provably closed: the engine
    emits the null-extended row when the global watermark (MIN
    across both sides' watermark nodes, the default policy) passes
    ``left.ts + within`` — boundary pinned empirically and by
    ``tests/test_streaming.py``: emitted iff
    ``l_ts + within <= min(max_l_ts, max_r_ts) - delay``. Unmatched
    columns are coalesced to -1 sentinels (NaN breaks downstream
    hash compares). Known engine quirk, pinned by the same test: the
    state-cleanup math suppresses eviction when timestamps sit
    within ``delay + within`` of the Unix epoch — irrelevant for
    real event time.
    """
    if how not in ("inner", "left_outer"):
        raise ValueError(f"how must be inner or left_outer, got {how!r}")
    w_ms = parse_time_ms(within, "within")
    require_column(events_stream, "event_type", "interval-join type")
    require_column(events_stream, key, "unique.key")
    require_column(events_stream, ts, "ts")
    left = (
        events_stream.filter(F.col("event_type") == left_type)
        .select(
            F.col("event_id").alias("l_event_id"),
            F.col(key).alias("l_key"),
            F.col(ts).alias("l_ts"),
        )
        .withWatermark("l_ts", watermark_delay)
    )
    right = (
        events_stream.filter(F.col("event_type") == right_type)
        .select(
            F.col("event_id").alias("r_event_id"),
            F.col(key).alias("r_key"),
            F.col(ts).alias("r_ts"),
        )
        .withWatermark("r_ts", watermark_delay)
    )
    # INTERVAL in MILLISECOND units: a sub-second `within` (legal per
    # parse_time_ms) must not truncate to INTERVAL 0 SECONDS — that
    # would make the range predicate unsatisfiable and the join
    # silently empty (ADVICE r09).
    cond = F.expr(
        f"l_key = r_key AND l_ts <= r_ts "
        f"AND l_ts > r_ts - INTERVAL {w_ms} MILLISECOND"
    )
    joined = left.join(right, cond, how)
    return joined.select(
        F.col("l_event_id").alias("left_event_id"),
        F.expr("coalesce(r_event_id, -1L)").alias("right_event_id"),
        F.col("l_key").alias(key),
        F.expr(
            "coalesce(unix_millis(r_ts) - unix_millis(l_ts), -1L)"
        ).alias("gap_ms"),
    )


_QSK_STATE = StructType([StructField("sample_json", StringType())])


def quantile_sample_stream(
    events_stream: DataFrame,
    k: int | None = None,
) -> DataFrame:
    """Streaming twin of
    :func:`functions.sketch.bottomk_sample_quantiles` — continuous
    quantile estimation with BOUNDED state. Bottom-k row-hash samples
    merge exactly (bottom-k of a union = bottom-k of the parts'
    bottom-ks), so each micro-batch folds its rows into the per-type
    k-smallest-hash sample held in state and emits the refreshed
    p50/p90/p99 — k rows of state per group FOREVER, the sketch
    property the residue sample lacks.

    The row hash is computed JVM-side (the same codegen md5
    expression as the batch operator) BEFORE the state operator; the
    Python stage only merges two sorted bounded lists. A stream that
    has seen the same rows reports the IDENTICAL row to the batch
    operator (same hash, same integer-ceil rank selection —
    driver-certified)."""
    from siddhi_execution_unique_spark.functions.sketch import (
        BK_K,
        _BK_HASH_SPARK,
    )

    kk = BK_K if k is None else k
    require_column(events_stream, "event_type", "sketch key")
    require_column(events_stream, "value", "sketch value")
    base = events_stream.select(
        "event_type", "value", "event_id",
        F.expr(_BK_HASH_SPARK).alias("h"),
    )
    out_schema = StructType(
        [
            base.schema["event_type"],
            StructField("n_sample", LongType()),
            StructField("p50", DoubleType()),
            StructField("p90", DoubleType()),
            StructField("p99", DoubleType()),
        ]
    )

    def fn(key_tuple, pdfs, state: GroupState):
        (sj,) = state.get if state.exists else ("[]",)
        sample = [tuple(x) for x in json.loads(sj)]  # (h, event_id, value)
        for pdf in pdfs:
            sample.extend(
                zip(
                    (int(x) for x in pdf["h"]),
                    (int(x) for x in pdf["event_id"]),
                    (float(x) for x in pdf["value"]),
                )
            )
        sample = sorted(sample)[:kk]
        vals = sorted((v, e) for (_, e, v) in sample)
        n = len(vals)

        def pick(num, den):
            # integer ceil rank, 1-based — mirrors (num*n + den-1) div den
            r = (num * n + den - 1) // den
            return vals[r - 1][0] if n else None

        yield pd.DataFrame(
            {
                "event_type": [key_tuple[0]],
                "n_sample": [n],
                "p50": [pick(1, 2)],
                "p90": [pick(9, 10)],
                "p99": [pick(99, 100)],
            }
        )
        state.update((json.dumps([[h, e, v] for (h, e, v) in sample]),))

    return base.groupBy("event_type").applyInPandasWithState(
        fn, out_schema, _QSK_STATE, "update", GroupStateTimeout.NoTimeout
    )


def session_window_native_stream(
    events_stream: DataFrame,
    gap_ms: int,
    user: str = "user_id",
    ts: str = "ts",
    watermark_delay: str = "2 hours",
) -> DataFrame:
    """Streaming twin of
    :func:`functions.sessions.session_window_native`: Spark's native
    ``session_window`` aggregate under a watermark — the engine
    merges overlapping per-event windows in the state store and, in
    append mode, emits each session exactly once when the watermark
    passes its end (state evicted with it; memory bounded by OPEN
    sessions per key, not history). No Python stage.

    Distinct aggregations are unsupported in streaming, so the twin
    reports (user, session_start_ms, session_end_ms, n_events) —
    the batch operator minus ``n_event_types``. The emission rule is
    pinned empirically (tests/test_streaming.py): a session emits
    iff ``session_end <= watermark`` with
    ``watermark = max(ts) - delay``."""
    if gap_ms <= 0:
        raise ValueError(f"gap_ms must be > 0, got {gap_ms}")
    if gap_ms % 1000:
        raise ValueError(f"gap_ms must be whole seconds, got {gap_ms}")
    require_column(events_stream, user, "session key")
    require_column(events_stream, ts, "ts")
    wm = events_stream.withWatermark(ts, watermark_delay)
    sw = F.session_window(F.col(ts), f"{gap_ms // 1000} seconds")
    return (
        wm.groupBy(F.col(user), sw.alias("sw"))
        .agg(F.count("*").alias("n_events"))
        .select(
            user,
            F.unix_millis("sw.start").alias("session_start_ms"),
            F.unix_millis("sw.end").alias("session_end_ms"),
            "n_events",
        )
    )


# ---------------------------------------------------------------------
# PROCESSING-TIME tier (opt-in, VERDICT r12 item 3): the reference's
# default clock is the runtime wall clock
# (siddhiAppContext.getTimestampGenerator().currentTime(), e.g.
# UniqueTimeWindowProcessor.java:174) and its scheduler fires TIMER
# events with no arrivals (:118-125, DeduplicateStreamProcessor.java:
# 172). The event-time twins above reinterpret both over a `ts`
# column (documented divergence); this tier is the wall-clock
# alternative: arrival stamping at ingest + ProcessingTimeTimeout
# idle flushes. Inherently non-deterministic (not oracle-checkable):
# the per-key transition logic is factored into pure functions
# (_time_proc_transition / _dedup_proc_transition) pinned by pytest
# under a controlled replay clock, plus one live rate-source
# integration test per twin.


def with_processing_time(df: DataFrame, ts: str = "ts") -> DataFrame:
    """Opt-in PROCESSING-TIME ingest: stamp ``ts`` with the arrival
    wall clock instead of requiring an event-time column — the
    reference's default timestamp source. In Structured Streaming,
    ``current_timestamp()`` is fixed per micro-batch (the trigger
    instant), so stamping has micro-batch granularity rather than the
    reference's per-event millisecond clock — a documented divergence
    that vanishes as triggers shorten. Every event-time twin then
    runs unchanged on the stamped column; the twins below also accept
    ``ts=None`` as a shorthand for this call."""
    return df.withColumn(ts, F.current_timestamp())


def _now_ms() -> int:
    import time

    return time.time_ns() // 1_000_000


def _time_proc_transition(stored, arrivals, now_ms, interval_ms,
                          timed_out):
    """Pure per-key transition of the PROCESSING-TIME ``unique:time``
    (UniqueTimeWindowProcessor.java:177-215 with the wall clock):

    - timeout (idle, no arrivals): the retained event expires,
      stamped at the fire instant — the reference's
      ``scheduler.notifyAt(arrival + T)`` (:185);
    - arrivals: each displaces the retained event (which expires
      immediately, :199-205) and emits on ``current``; the timer
      re-arms at ``now + T`` for the latest arrival.

    Returns ``(emissions [(row, channel, at_ms)], new_stored,
    timeout_at_ms | None)`` — pinned by pytest under a controlled
    replay clock (test_processing_time_transitions)."""
    if timed_out:
        return [(stored, "expired", now_ms)], None, None
    out = []
    for row in arrivals:
        if stored is not None:
            out.append((stored, "expired", now_ms))
        stored = row
        out.append((row, "current", now_ms))
    timeout = (now_ms + interval_ms) if stored is not None else None
    return out, stored, timeout


def _dedup_proc_transition(last_kept_ms, n_arrivals, now_ms, interval_ms,
                           timed_out):
    """Pure per-key transition of the PROCESSING-TIME
    ``unique:deduplicate`` (DeduplicateStreamProcessor.java:158-172
    with the wall clock): keep the first arrival iff no kept event
    lives within ``interval`` (the anchor only advances on KEPT
    events); the idle timer purges the map entry so the next arrival
    re-admits (:172 — a state cleanup, the reference emits nothing at
    the timer). Arrivals within one micro-batch share the trigger
    instant, so at most the FIRST is kept per invocation.

    Returns ``(n_kept 0|1, new_last_kept_ms | None,
    timeout_at_ms | None)``."""
    if timed_out:
        return 0, None, None
    if n_arrivals and (last_kept_ms is None
                       or now_ms - last_kept_ms > interval_ms):
        return 1, now_ms, now_ms + interval_ms
    if last_kept_ms is None:
        return 0, None, None
    return 0, last_kept_ms, last_kept_ms + interval_ms


def time_window_proc_stream(
    df: DataFrame,
    key: str,
    window_time: int | str,
) -> DataFrame:
    """PROCESSING-TIME streaming ``unique:time``: wall-clock arrival
    stamping + a TIMER idle flush with NO arrivals required — the one
    reference behavior the event-time twins cannot express (their
    expiry needs the watermark to advance, i.e. new events). Dual
    emission protocol on one stream via ``channel``; emissions carry
    ``at_ms`` (the wall instant — non-deterministic, hence
    pytest-pinned through :func:`_time_proc_transition` under a
    replay clock rather than oracle-checked). Update-mode semantics
    over ProcessingTimeTimeout; state is one JSON payload per key.
    Timeout re-arming stores the target instant and re-registers the
    REMAINING duration on every invocation, so the arm survives
    Spark's invoke-clears-timeout contract. The retained row is
    pickled (not JSON): pandas hands back numpy scalars /
    ``pd.Timestamp`` values that round-trip type-faithfully through
    pickle but are not JSON-serializable."""
    import pickle

    require_column(df, key, "unique.key")
    interval_ms = parse_time_ms(window_time, "window.time")
    columns = [f.name for f in df.schema.fields]
    out_schema = StructType(
        df.schema.fields
        + [StructField("channel", StringType()), StructField("at_ms", LongType())]
    )
    state_schema = StructType(
        [StructField("timeout_at", LongType()),
         StructField("payload", BinaryType())]
    )

    def fn(key_tuple, pdfs, state: GroupState):
        now = _now_ms()
        if state.hasTimedOut:
            _, payload = state.get
            stored = pickle.loads(bytes(payload))
            emits, _, _ = _time_proc_transition(
                stored, [], now, interval_ms, True)
            state.remove()
            yield pd.DataFrame(
                [tuple(r[c] for c in columns) + (ch, at)
                 for r, ch, at in emits],
                columns=columns + ["channel", "at_ms"],
            )
            return
        stored = None
        if state.exists:
            _, payload = state.get
            stored = pickle.loads(bytes(payload))
        rows = []
        for pdf in pdfs:  # arrival order within the micro-batch
            rows.extend(pdf[columns].to_dict("records"))
        emits, stored, timeout_at = _time_proc_transition(
            stored, rows, now, interval_ms, False)
        if stored is not None:
            state.update((int(timeout_at), pickle.dumps(stored)))
            state.setTimeoutDuration(max(1, int(timeout_at) - now))
        if emits:
            yield pd.DataFrame(
                [tuple(r[c] for c in columns) + (ch, at)
                 for r, ch, at in emits],
                columns=columns + ["channel", "at_ms"],
            )

    return df.groupBy(key).applyInPandasWithState(
        fn, out_schema, state_schema, "update",
        GroupStateTimeout.ProcessingTimeTimeout,
    )


def deduplicate_proc_stream(
    df: DataFrame,
    key: str,
    time_interval: int | str,
) -> DataFrame:
    """PROCESSING-TIME streaming ``unique:deduplicate``: wall-clock
    anchored suppression with the reference's idle-purge TIMER
    (DeduplicateStreamProcessor.java:172) — state clears after
    ``interval`` with no kept arrival, so the next arrival re-admits
    even if the stream was silent meanwhile (the event-time twin's
    watermark cannot advance without events). Append mode; one long
    per key. Micro-batch granularity: arrivals within one trigger
    share an instant, so at most one is kept per key per batch."""
    require_column(df, key, "unique.key")
    interval_ms = parse_time_ms(time_interval, "time.interval")
    columns = [f.name for f in df.schema.fields]
    state_schema = StructType([StructField("last_kept_ms", LongType())])

    def fn(key_tuple, pdfs, state: GroupState):
        now = _now_ms()
        if state.hasTimedOut:
            _dedup_proc_transition(None, 0, now, interval_ms, True)
            state.remove()
            return
            yield  # pragma: no cover - makes fn a generator
        (last_kept,) = state.get if state.exists else (None,)
        first = None
        n = 0
        for pdf in pdfs:
            if len(pdf) and first is None:
                first = pdf[columns].head(1)
            n += len(pdf)
        kept, new_last, timeout_at = _dedup_proc_transition(
            last_kept, n, now, interval_ms, False)
        if new_last is not None:
            state.update((int(new_last),))
            state.setTimeoutDuration(max(1, int(timeout_at) - now))
        if kept and first is not None:
            yield first

    return df.groupBy(key).applyInPandasWithState(
        fn, df.schema, state_schema, "append",
        GroupStateTimeout.ProcessingTimeTimeout,
    )


def _key_runs(kcol: "pd.Series"):
    """Yield the (lo, hi) row ranges of each key's contiguous run in a
    key-sorted chunk, null-group safe (``factorize`` gives NaN its own
    code, so a null key is ONE run exactly as Spark's groupBy would
    group it)."""
    codes, _ = pd.factorize(kcol, use_na_sentinel=False)
    n = len(codes)
    lo = 0
    for i in range(1, n):
        if codes[i] != codes[lo]:
            yield lo, i
            lo = i
    if n:
        yield lo, n


def _keyed_replay(src: DataFrame, replay_groups, out_schema) -> DataFrame:
    """Dispatch a per-key sequential replay as partition-level Arrow
    batches: hash-repartition by ``k`` (every key fully in one
    partition), sort each partition by (k, stamp_ms, tb), and split on
    key-change boundaries inside ``mapInPandas``. A key's run can span
    consecutive Arrow batches, so the trailing (possibly incomplete)
    key run of each batch is carried into the next; order within the
    partition is preserved by the sort, making the carry a simple
    prefix concat. Replaces the one-pandas-group-per-key
    ``groupBy().applyInPandas`` dispatch, which cost ~1.8 s of pure
    per-group machinery at 1500 keys (guide §4.1: fewer, larger
    batches across the Python boundary; the replay semantics per key
    are untouched)."""

    int_key = src.schema["k"].dataType.typeName() in _INT_TYPES

    def _same_key(a, b) -> bool:
        if pd.isna(a) or pd.isna(b):
            return bool(pd.isna(a) and pd.isna(b))
        return bool(a == b)

    def replay(parts: list):
        """Replay the complete key runs in ``parts`` (consecutive chunks
        of one partition's key-sorted rows)."""
        done = pd.concat(parts, ignore_index=True) \
            if len(parts) > 1 else parts[0].reset_index(drop=True)
        # a float chunk (null keys sort first) promotes every int64
        # chunk concatenated with it, so the whole frame is checked
        _refuse_inexact_int_keys(done["k"], int_key, "keyed replay")
        return replay_groups(done)

    def run(batches):
        # carry = list of chunks of the (single-key) trailing run of
        # the previous batches, concatenated ONCE when the run closes
        # — a hot key spanning many Arrow batches costs O(run), not
        # the O(run^2) of re-concatenating the carry per batch
        # (ADVICE r14).
        carry: list = []
        for pdf in batches:
            if not len(pdf):
                continue
            kcol = pdf["k"]
            last = kcol.iloc[-1]
            tail = (
                kcol.isna().to_numpy()
                if pd.isna(last) else kcol.eq(last).to_numpy()
            )
            rev = tail[::-1]
            run_len = len(pdf) if rev.all() else int(rev.argmin())
            cut = len(pdf) - run_len
            if cut == 0:
                # whole batch is one key run
                if carry and not _same_key(carry[-1]["k"].iloc[-1],
                                           kcol.iloc[0]):
                    out = replay(carry)
                    carry = [pdf]
                    if len(out):
                        yield out
                else:
                    carry.append(pdf)
                continue
            # batch closes at least one run: everything before the cut
            # (plus any carried prefix — sorted order makes the concat
            # contiguous) is complete
            out = replay(carry + [pdf.iloc[:cut]])
            carry = [pdf.iloc[cut:]]
            if len(out):
                yield out
        if carry:
            out = replay(carry)
            if len(out):
                yield out

    return (
        src.repartition("k")
        # nulls-LAST on the within-key ordering columns to match the
        # pandas sort_values (NaN last) of the old per-group dispatch;
        # Spark's default asc is nulls-first and would silently change
        # replay order of null-stamp/null-tiebreak rows (ADVICE r14)
        .sortWithinPartitions(
            F.col("k").asc(),
            F.col("stamp_ms").asc_nulls_last(),
            F.col("tb").asc_nulls_last(),
        )
        .mapInPandas(run, out_schema)
    )


def time_proc_replay(
    df: DataFrame,
    key: str,
    window_time: int | str,
    ts: str = "ts",
    tiebreak: str = "event_id",
) -> DataFrame:
    """Deterministic driver-certifiable replay of the PROCESSING-TIME
    ``unique:time`` tier (VERDICT r13 item 5): the tier's transition
    core :func:`_time_proc_transition` is pure given arrival stamps,
    so replaying a PINNED stamp log through it — each event's own
    event-time ms as its wall-clock arrival instant, one invocation
    per arrival in (stamp, tiebreak) order, a timeout invocation at
    ``timeout_at`` whenever the next stamp exceeds it (and once at end
    of stream — the forever clock) — exercises exactly the code the
    wall-clock twin :func:`time_window_proc_stream` runs, minus the
    nondeterministic clock. Closed form (the DuckDB oracle): every
    event emits ``current`` at its stamp and ``expired`` at
    ``least(next same-key stamp, stamp + T)`` (end of stream:
    ``stamp + T``) — an arrival landing exactly on ``timeout_at``
    displaces at the same instant the timer would fire, so the
    emission log is identical either way. Distributed shape: one
    keyed shuffle, per-key sequential replay (the reference protocol
    is inherently serial per key), all keys parallel — dispatched as
    partition-level Arrow batches (``repartition(key)`` +
    ``mapInPandas`` with the key-sorted partition split on key-change
    boundaries) rather than one pandas group per key: the per-key
    replay loop is IDENTICAL, but a 1500-key replay pays ~32 Python
    dispatches instead of 1500 (measured 2.2 s of pure
    FlatMapGroupsInPandas dispatch on a 0.4 s source at sf0.1)."""
    require_column(df, key, "unique.key")
    require_column(df, ts, "ts")
    require_column(df, tiebreak, "tiebreak")
    interval_ms = parse_time_ms(window_time, "window.time")
    src = df.select(
        F.col(key).alias("k"),
        F.unix_millis(ts).alias("stamp_ms"),
        F.col(tiebreak).alias("tb"),
    )
    out_schema = StructType([
        StructField("k", src.schema["k"].dataType),
        StructField("tb", src.schema["tb"].dataType),
        StructField("channel", StringType()),
        StructField("at_ms", LongType()),
    ])

    def replay_groups(pdf: pd.DataFrame) -> pd.DataFrame:
        """Replay every (complete) key group in a key-sorted chunk
        through the ACTUAL transition function, per key in
        (stamp, tiebreak) order."""
        rows_out = []

        def emit(emits):
            for row, ch, at in emits:
                rows_out.append((row["k"], row["tb"], ch, int(at)))

        ks = pdf["k"].to_numpy()
        tbs = pdf["tb"].to_numpy()
        stamps = pdf["stamp_ms"].to_numpy()
        for lo, hi in _key_runs(pdf["k"]):
            stored, timeout_at = None, None
            for i in range(lo, hi):
                s = int(stamps[i])
                if stored is not None and s > timeout_at:
                    emits, stored, timeout_at = _time_proc_transition(
                        stored, [], timeout_at, interval_ms, True)
                    emit(emits)
                row = {"k": ks[i], "tb": tbs[i]}
                emits, stored, timeout_at = _time_proc_transition(
                    stored, [row], s, interval_ms, False)
                emit(emits)
            if stored is not None:
                emits, _, _ = _time_proc_transition(
                    stored, [], timeout_at, interval_ms, True)
                emit(emits)
        return pd.DataFrame(rows_out, columns=["k", "tb", "channel", "at_ms"])

    return (
        _keyed_replay(src, replay_groups, out_schema)
        .select(F.col("k").alias(key), F.col("tb").alias(tiebreak),
                "channel", "at_ms")
    )


def dedup_proc_replay(
    df: DataFrame,
    key: str,
    time_interval: int | str,
    ts: str = "ts",
    tiebreak: str = "event_id",
) -> DataFrame:
    """Deterministic replay of the PROCESSING-TIME
    ``unique:deduplicate`` tier through its pure transition core
    :func:`_dedup_proc_transition` (VERDICT r13 item 5), under the
    same pinned stamp protocol as :func:`time_proc_replay` (per-event
    invocations; an idle-timer invocation purges state when a stamp
    exceeds ``timeout_at``). The kept set lands on the strict
    anchored chain — first arrival per key, then the first stamp
    STRICTLY more than ``interval`` after the last kept one (the
    timer purge and the ``now - last_kept > interval`` admission rule
    produce the same chain; at equal stamps the lowest tiebreak is
    the kept one) — which is the closed form the DuckDB oracle
    computes. Dispatched through the same partition-level
    :func:`_keyed_replay` shape as :func:`time_proc_replay` (per-key
    loop untouched)."""
    require_column(df, key, "unique.key")
    require_column(df, ts, "ts")
    require_column(df, tiebreak, "tiebreak")
    interval_ms = parse_time_ms(time_interval, "time.interval")
    src = df.select(
        F.col(key).alias("k"),
        F.unix_millis(ts).alias("stamp_ms"),
        F.col(tiebreak).alias("tb"),
    )
    out_schema = StructType([
        StructField("k", src.schema["k"].dataType),
        StructField("tb", src.schema["tb"].dataType),
        StructField("kept_at_ms", LongType()),
    ])

    def replay_groups(pdf: pd.DataFrame) -> pd.DataFrame:
        rows_out = []
        ks = pdf["k"].to_numpy()
        tbs = pdf["tb"].to_numpy()
        stamps = pdf["stamp_ms"].to_numpy()
        for lo, hi in _key_runs(pdf["k"]):
            last_kept, timeout_at = None, None
            for i in range(lo, hi):
                s = int(stamps[i])
                if last_kept is not None and s > timeout_at:
                    _, last_kept, timeout_at = _dedup_proc_transition(
                        last_kept, 0, timeout_at, interval_ms, True)
                kept, last_kept, timeout_at = _dedup_proc_transition(
                    last_kept, 1, s, interval_ms, False)
                if kept:
                    rows_out.append((ks[i], tbs[i], s))
        return pd.DataFrame(rows_out, columns=["k", "tb", "kept_at_ms"])

    return (
        _keyed_replay(src, replay_groups, out_schema)
        .select(F.col("k").alias(key), F.col("tb").alias(tiebreak),
                "kept_at_ms")
    )

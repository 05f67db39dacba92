"""The stateful tier: operators whose semantics are an ordered replay
that Catalyst cannot express declaratively.

- ``unique:deduplicate`` (reference: component/src/main/java/io/siddhi/
  extension/execution/unique/DeduplicateStreamProcessor.java:89,
  evict-then-test :155-178): per key, keep an event iff its timestamp
  is more than ``interval`` after the **last kept** event of that key
  (the anchor is the kept event — dropped duplicates do not refresh
  it, map entries keep the kept timestamp). A ``lag()``-based SQL
  formulation under-approximates when bursts chain; the exact
  semantics need the per-key greedy chain.

  Scale design: the state is keyed, so the replay distributes —
  ``repartition(key) → sortWithinPartitions(key, ts) → mapInPandas``
  with an O(rows) scan carrying state across Arrow batches inside a
  partition. One shuffle + one per-partition sort, no single-group
  bottleneck, works at any key cardinality.

- ``unique:lengthBatch`` / ``unique:firstLengthBatch`` (reference:
  UniqueLengthBatchWindowProcessor.java:106, fire at map.size()==N
  :165, replace :210-213; UniqueFirstLengthBatchWindowProcessor.java:
  73-81): a tumbling batch fires the moment ``N`` *distinct keys*
  accumulate; duplicate keys replace (or are dropped, first-variant)
  within the forming batch; the trailing partial batch never fires.

- ``unique:timeLengthBatch`` (reference: UniqueTimeLengthBatchWindow-
  Processor.java:110; length-fire :279-282, skip-until-boundary
  :261-271,288-290, flush :304-336): fires on ``T`` elapsed or ``N``
  distinct keys, whichever first; after a length-fire, events are
  **discarded** until the next time boundary.

Each window's state machine is one chain class (:class:`_FormingSet`,
:class:`_UniqueFifo`, :class:`_TimeLengthBatch`, :class:`_ExternalTimeBatch`).
``streaming._chain_stream`` runs all four for the streaming twins; the
batch operators run the first three through :func:`_sorted_stream_replay`
(one ordered scan) or :func:`_partitioned_replay` (per ``partition with``
value), while batch externalTimeBatch stays a Catalyst lowering
(``time_batch.py``). The serial stage's throughput is the remaining scale
caveat (SURVEY.md §7); use the pure-Catalyst time/length-batch operators
when global arrival order isn't semantically required.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from siddhi_execution_unique_spark.operators.time_batch import channel_tags, event_ms
from siddhi_execution_unique_spark.operators.validation import (
    parse_time_ms,
    require_column,
    require_keys,
    require_pos_int,
    require_start_time,
)

_TS_MS = "_ts_ms"


def _sort_cols(ts: str, tiebreak: str | None) -> list[str]:
    return [_TS_MS] + ([tiebreak] if tiebreak else [])


def deduplicate(
    df: DataFrame,
    key: str,
    time_interval: int | str,
    ts: str = "ts",
    tiebreak: str | None = None,
) -> DataFrame:
    """``unique:deduplicate`` — drop events whose key was kept within
    the last ``time_interval``; strictly-greater spacing re-admits
    (reference keeps when ``new_ts - kept_ts > interval``,
    DeduplicateStreamProcessor.java:158-171). No expired channel
    (DeduplicateTestCase.java:84-86 asserts none)."""
    keys = require_keys(key, "unique.key")
    if len(keys) != 1 or not isinstance(keys[0], str):
        raise ValueError("unique:deduplicate takes exactly one key column name")
    key = keys[0]
    require_column(df, key, "unique.key")
    require_column(df, ts, "ts")
    interval_ms = parse_time_ms(time_interval, "time.interval")

    out_cols = list(df.columns)
    schema = df.schema
    sort_cols = [key] + _sort_cols(ts, tiebreak)

    prepared = (
        df.withColumn(_TS_MS, event_ms(df, ts))
        .repartition(F.col(key))
        .sortWithinPartitions(*sort_cols)
    )

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        last_key: object = _SENTINEL
        last_kept_ms = 0
        for pdf in batches:
            if pdf.empty:
                continue
            key_arr = pdf[key].to_numpy()
            ms_arr = pdf[_TS_MS].to_numpy()
            m = len(pdf)
            keep = np.zeros(m, dtype=bool)
            # per-key group boundaries (input sorted by key, ts)
            starts = np.flatnonzero(np.r_[True, key_arr[1:] != key_arr[:-1]])
            ends = np.r_[starts[1:], m]
            # Each kept event's successor is the first row strictly more
            # than `interval` later — a searchsorted jump. Python-level
            # iterations scale with KEPT events (the chain length), not
            # with input rows; dropped bursts cost nothing.
            for s, e in zip(starts, ends):
                if s == 0 and key_arr[0] == last_key:
                    # chain continues across the Arrow batch boundary
                    i = s + np.searchsorted(
                        ms_arr[s:e], last_kept_ms + interval_ms, side="right"
                    )
                else:
                    i = s
                while i < e:
                    keep[i] = True
                    last_kept_ms = ms_arr[i]
                    i = s + np.searchsorted(
                        ms_arr[s:e], last_kept_ms + interval_ms, side="right"
                    )
            last_key = key_arr[-1]
            yield pdf.loc[keep, out_cols]

    return prepared.mapInPandas(scan, schema=schema)


_SENTINEL = object()  # equal to no key value

BATCH_SEQ = "batch_seq"
FIRED_AT = "fired_at_ms"
FIRE_REASON = "fire_reason"


class _Chain:
    """One replay chain: a step over an arrival-ordered chunk that
    carries its state across calls. ``feed(keys, ms, base)`` walks the
    chunk's keys (:func:`_chain_keys`) and event-time millis as Python
    lists and refers to its rows by int refs ``base + i``. ``held`` maps
    each key whose row the chain holds to that row's ref and ``last``
    lists its last fire's refs: the rows a driver carries to the next
    chunk (:class:`_CarryScan`). ``STATE`` pairs each scalar a streaming
    driver saves with its state-schema field name, in state-row order.
    Output columns are built with numpy, never per row."""

    STATE: tuple = ()

    def __init__(self):
        self.held: dict = {}
        self.last: list = []


def _anchor(t: int, t_ms: int, start: int | None) -> int:
    """The first boundary after arrival ``t``: ``t + T``, or on the
    ``start + k*T`` grid (reference ``endTime = ts + (T - (ts - start) %
    T)``, UniqueExternalTimeBatchWindowProcessor.java:454-458)."""
    return t + t_ms if start is None else start + ((t - start) // t_ms + 1) * t_ms


class _FormingSet(_Chain):
    """The lengthBatch forming set (UniqueLengthBatchWindowProcessor.
    java:165, replace :210-213): add the key — ``keep='last'`` replaces
    its row, ``'first'`` keeps the first — and at ``n`` distinct keys
    fire all ``n`` rows and clear. A plain dict walk over lists, the
    fire metadata repeated by numpy, takes 0.06 s of CPU for 200k rows
    (1k Zipf(1.2) keys, N=50, 10k-row chunks); a fully vectorized form
    (prev/next same-key indices + chunked cumulative fire scan) ran
    1.8 s against the walk's 0.54 s at 1M rows, 50k keys, its per-fire
    numpy dispatch dominating at realistic fire rates. The single
    task's real cost is the Arrow funnel bytes, which the narrow
    3-column path bounds."""

    STATE = (("seq", "batch_seq"),)

    def __init__(self, n: int, keep: str):
        super().__init__()
        self.n, self.keep_last, self.seq = n, keep == "last", 0

    def feed(self, keys, ms, base):
        """-> (fired refs, ``n`` per fire; chunk position of each fire;
        ``batch_seq`` of the chunk's first fire)."""
        held, n, last = self.held, self.n, self.keep_last
        fired, at = [], []
        for i, k in enumerate(keys):
            if k in held:
                if last:
                    held[k] = base + i
            else:
                held[k] = base + i
                if len(held) == n:
                    fired.extend(held.values())
                    held.clear()
                    at.append(i)
        seq0 = self.seq
        self.seq += len(at)
        if at:
            self.last = fired[-n:]
        return fired, at, seq0


class _TimeLengthBatch(_Chain):
    """The timeLengthBatch chain (UniqueTimeLengthBatchWindowProcessor.
    java:110; length-fire :279-282, skip-until-boundary
    :261-271,288-290): fire on ``T`` elapsed or ``n`` distinct keys,
    whichever first; after a length fire, arrivals are discarded until
    the next boundary. Boundaries sit at ``anchor + k*T``, the anchor
    being ``start_time_ms`` or the first arrival's time (:244-252).

    A boundary clears the skip flag or flushes the forming rows; with
    none formed it still drains the last fire (``sendEvents`` drains
    the expired queue on every flush, :304-318): a flush of no rows,
    dropped by the batch output, kept by the streaming expired channel.
    ``front`` is the latest arrival fed, the instance's own clock."""

    STATE = (("seq", "batch_seq"), ("next_emit", "next_emit"),
             ("skip", "event_sent"), ("front", "seen_max"))

    def __init__(self, t_ms: int, n: int, start_time_ms: int | None):
        super().__init__()
        self.t_ms, self.n, self.start = t_ms, n, start_time_ms
        self.seq, self.skip, self.next_emit, self.front = 0, False, None, None

    def feed(self, keys, ms, base):
        """-> (fired refs; rows per flush; flush times; flush reasons;
        ``batch_seq`` of the chunk's first fire)."""
        log, seq0, held, n = ([], [], [], []), self.seq, self.held, self.n
        if self.next_emit is None:
            self.next_emit = _anchor(ms[0], self.t_ms, self.start)
        for i, (k, t) in enumerate(zip(keys, ms)):
            if t >= self.next_emit:
                self._cross(t, log)
            if self.skip:
                continue  # discarded until the next boundary
            held[k] = base + i
            if len(held) == n:
                self._flush(t, "length", log)
                self.skip = True
        self.front = max(ms) if self.front is None else max(self.front, max(ms))
        return (*log, seq0)

    def advance(self, up_to: int):
        """Cross the boundaries at or before ``up_to`` with no arrival
        (a streaming event-time timer). -> as :meth:`feed`."""
        log, seq0 = ([], [], [], []), self.seq
        self._cross(up_to, log)
        return (*log, seq0)

    def _cross(self, up_to, log):
        while up_to >= self.next_emit:
            if self.skip:
                self.skip = False  # the boundary clears the skip flag
            elif self.held or self.last:
                self._flush(self.next_emit, "time", log)
            self.next_emit += self.t_ms

    def _flush(self, at, reason, log):
        fired, counts, at_ms, reasons = log
        held = self.held
        self.last = list(held.values())
        fired.extend(self.last)
        counts.append(len(held))
        at_ms.append(at)
        reasons.append(reason)
        self.seq += bool(held)
        held.clear()


class _ExternalTimeBatch(_Chain):
    """The externalTimeBatch chain (UniqueExternalTimeBatchWindow-
    Processor.java:449-458): the latest row per key; an arrival at or
    past the batch end flushes the batch, if any row formed, and moves
    the end to the first boundary after it."""

    STATE = (("end", "end_time"),)

    def __init__(self, t_ms: int, start_time_ms: int | None):
        super().__init__()
        self.t_ms, self.start, self.end = t_ms, start_time_ms, None

    def feed(self, keys, ms, base):
        """-> (flushed refs; rows per flush; each flush's batch end;
        ``'boundary'``)."""
        fired, counts, ends = [], [], []
        if self.end is None:
            self.end = _anchor(ms[0], self.t_ms, self.start)
        held, t_ms, end = self.held, self.t_ms, self.end
        for i, (k, t) in enumerate(zip(keys, ms)):
            if t >= end:
                if held:
                    fired.extend(held.values())
                    counts.append(len(held))
                    ends.append(end)
                    held.clear()
                end += ((t - end) // t_ms + 1) * t_ms
            held[k] = base + i
        self.end = end
        return fired, counts, ends, "boundary"

    def flush(self):
        """The ``time.out`` idle flush (:279-298): the forming rows go
        and the batch window stays open. -> as :meth:`feed`."""
        refs = list(self.held.values())
        self.held.clear()
        n = [len(refs)] if refs else []
        return refs, n, [self.end] * len(n), "timeout"


class _UniqueFifo(_Chain):
    """The ``unique:length`` FIFO over the last ``n`` distinct keys: a
    repeated key's buffered row expires and the key moves to the back
    (UniqueLengthWindowProcessor.java:148-157); a new key past ``n``
    evicts the oldest-inserted key's row (:158-166)."""

    def __init__(self, n: int):
        super().__init__()
        self.n, self.emitted = n, 0

    def feed(self, keys, ms, base):
        """-> (per arrival, the ref of the row it expires or -1; base)."""
        held, n = self.held, self.n
        out: list = []
        for i, k in enumerate(keys):
            if k in held:
                out.append(held.pop(k))  # replaced: expires now
            elif len(held) == n:
                out.append(held.pop(next(iter(held))))  # FIFO eviction
            else:
                out.append(-1)
            held[k] = base + i
        return np.array(out, dtype=np.int64), base

    def log(self, expired, base):
        """The reference's emission order for one fed chunk: per
        arrival, the row it expires (if any) on ``expired`` FIRST, then
        the arrival on ``current``. -> (refs, channels, emission_idx)."""
        has = expired >= 0
        m = len(expired)
        cur = np.arange(m) + np.cumsum(has)
        refs = np.empty(m + int(has.sum()), dtype=np.int64)
        chans = np.full(len(refs), "current", dtype=object)
        refs[cur] = np.arange(base, base + m)
        refs[cur[has] - 1] = expired[has]
        chans[cur[has] - 1] = "expired"
        idx = np.arange(self.emitted, self.emitted + len(refs), dtype=np.int64)
        self.emitted += len(refs)
        return refs, chans, idx


_INT_TYPES = ("long", "integer", "short", "byte")


def _refuse_inexact_int_keys(col: pd.Series, int_key: bool, what: str) -> None:
    """An integral key column with nulls reaches pandas as float64,
    exact only below 2^53: past that distinct keys would merge into one
    float, so they are refused rather than merged."""
    if int_key and col.dtype.kind == "f" and col.abs().max() >= 2.0 ** 53:
        raise ValueError(
            f"{what}: integer key column holds nulls and |key| >= 2^53; "
            "float64 conversion cannot represent these keys exactly")


def _chain_keys(schema: StructType, key: str):
    """-> ``keys(col)``: a chunk's key column as the list a chain
    hashes. Every null is the one key ``None``, as Spark's ``groupBy``
    groups them (a NaN per null would be a new key each time); integral
    keys stay ints (:func:`_refuse_inexact_int_keys`)."""
    int_key = schema[key].dataType.typeName() in _INT_TYPES

    def keys(col: pd.Series) -> list:
        null = col.isna().to_numpy()
        if not null.any():
            return col.to_numpy().tolist()
        _refuse_inexact_int_keys(col, int_key, "chain replay")
        out = (col.fillna(0).astype(np.int64) if int_key else col).to_numpy().tolist()
        for i in np.flatnonzero(null).tolist():
            out[i] = None
        return out

    return keys


def _fire_rows(rows, fired, counts, at_ms, seq0) -> pd.DataFrame:
    """The fired rows with ``batch_seq`` and ``fired_at_ms``: flush
    ``j`` emitted the next ``counts[j]`` refs of ``fired``; a flush of
    no rows (a drain) takes no ``batch_seq``."""
    counts = np.asarray(counts, dtype=np.int64)
    out = rows(fired)
    out[BATCH_SEQ] = np.repeat(seq0 - 1 + np.cumsum(counts > 0), counts)
    out[FIRED_AT] = np.repeat(np.asarray(at_ms, dtype=np.int64), counts)
    return out


class _CarryScan:
    """The rows a replay still holds across Arrow chunks, referred to by
    int refs into ``frame``: the carried rows (``0..c-1``), then the
    current chunk (``c..``). After each chunk :meth:`keep` slices only
    the chain's held rows and last fire (bounded by the window length)
    into the next carry, vectorized, and renumbers the chain's refs.
    Memory is O(window length + one Arrow batch) at any input size, and
    the upstream JVM external sort spills — so there is NO single-task
    row ceiling on the streamed replays."""

    def __init__(self, cols):
        self.cols = cols
        self.frame: pd.DataFrame | None = None

    def begin(self, chunk: pd.DataFrame) -> int:
        rows = chunk[self.cols]
        if self.frame is None or self.frame.empty:
            self.frame = rows
            return 0
        base = len(self.frame)
        self.frame = pd.concat([self.frame, rows], ignore_index=True)
        return base

    def rows(self, refs) -> pd.DataFrame:
        return self.frame.take(refs)

    def keep(self, chain: _Chain) -> None:
        held = chain.held
        self.frame = self.frame.take([*held.values(), *chain.last])
        chain.held = dict(zip(held, range(len(held))))
        chain.last = list(range(len(held), len(self.frame)))


def _sorted_stream_replay(df, key, ts, tiebreak, out_schema, cols, chain,
                          shape, final=None):
    """Globally ordered replay WITHOUT the in-memory concat ceiling:
    ``repartition(1)`` keeps the upstream scan/projection parallel, the
    JVM sorts the single partition (UnsafeExternalSorter — spills to
    disk at any size), and one ``chain()`` consumes the Arrow batches in
    global order, its rows carried by :class:`_CarryScan` over ``cols``.
    ``shape(chain, fed, rows, chunk)`` turns one ``feed`` result into
    output rows (``rows(refs)`` takes ``cols`` of referenced rows);
    ``final(chain, rows)`` emits at end of stream."""
    prepared = (
        df.withColumn(_TS_MS, event_ms(df, ts))
        .repartition(1)
        .sortWithinPartitions(*_sort_cols(ts, tiebreak))
    )
    keys = _chain_keys(df.schema, key)

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        carry, st = _CarryScan(cols), chain()
        for pdf in batches:
            if pdf.empty:
                continue
            base = carry.begin(pdf)
            fed = st.feed(keys(pdf[key]), pdf[_TS_MS].to_numpy().tolist(), base)
            out = shape(st, fed, carry.rows, pdf)
            carry.keep(st)
            if len(out):
                yield out
        if final is not None and carry.frame is not None:
            out = final(st, carry.rows)
            if len(out):
                yield out

    return prepared.mapInPandas(scan, schema=out_schema)


def _partitioned_replay(df, partition_attr, key, ts, tiebreak, out_schema,
                        cols, chain, shape, final=None):
    """The same chain run INDEPENDENTLY per ``partition_attr`` value
    (Siddhi's ``partition with``: every value owns a window instance
    with its own state). Unlike the global ordered-scan funnel this
    distributes: one shuffle keyed on the partition attribute, then
    each instance's chain runs over its own pandas group — the scale
    shape is bounded by the LARGEST partition, not the corpus."""
    sort_cols = _sort_cols(ts, tiebreak)
    prepared = df.withColumn(_TS_MS, event_ms(df, ts))
    keys = _chain_keys(df.schema, key)

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(sort_cols, kind="mergesort", ignore_index=True)
        st = chain()
        fed = st.feed(keys(pdf[key]), pdf[_TS_MS].to_numpy().tolist(), 0)

        def rows(refs):
            return pdf.take(refs)[cols]

        out = shape(st, fed, rows, pdf)
        if final is not None:
            tail = final(st, rows)
            # no concat with an empty frame: pandas deprecates its dtypes
            out = pd.concat([out, tail], ignore_index=True) if len(out) else tail
        return out

    return prepared.groupBy(partition_attr).applyInPandas(run, schema=out_schema)


def _replay(df, partition_attr, *args, **kwargs):
    """Run a chain per ``partition_attr`` value, or globally."""
    if partition_attr:
        return _partitioned_replay(df, partition_attr, *args, **kwargs)
    return _sorted_stream_replay(df, *args, **kwargs)


def _check_chain_args(df, key, ts, window_length=None, keep="last",
                      partition_attr=None, start_time_ms=None):
    """Validate a chain operator's or twin's arguments. -> the window
    length, or None when the window has none."""
    if partition_attr:
        require_column(df, partition_attr, "partition attribute")
    require_column(df, key, "unique.key")
    require_column(df, ts, "ts")
    require_start_time(start_time_ms)
    if keep not in ("last", "first"):
        raise ValueError(f"keep must be 'last' or 'first', got {keep!r}")
    if window_length is None:
        return None
    return require_pos_int(window_length, "window.length")


def length_batch(
    df: DataFrame,
    key: str,
    window_length: int,
    ts: str = "ts",
    tiebreak: str | None = None,
    keep: str = "last",
    partition_attr: str | None = None,
) -> DataFrame:
    """``unique:lengthBatch`` (``keep='last'``) / ``unique:firstLengthBatch``
    (``keep='first'``): tumbling batches of ``N`` distinct keys.

    Output: the retained event per (batch, key), plus ``batch_seq``
    (0-based fire index) and ``fired_at_ms`` (event time of the fire,
    i.e. of the Nth distinct key's arrival — the reference rewrites
    emitted timestamps to flush time,
    UniqueLengthBatchWindowProcessor.java:171-191). The trailing
    partial batch is dropped (lengthBatch(10) never fires on <10
    uniques, UniqueLengthBatchWindowTestCase.java:90-106).

    ``partition_attr`` (``partition with (attr of S)``): an
    independent chain per value, ``batch_seq`` 0-based per instance,
    each instance replayed in its own pandas group.
    """
    n = _check_chain_args(df, key, ts, window_length, keep, partition_attr)
    # Narrow funnel: the single ordered task scans ONLY
    # (key, ts_ms, tiebreak) — the sequential chain needs nothing
    # else — and the batch assignment joins back to the full rows by
    # the unique tiebreak id in a normal distributed hash join. With no
    # unique id to join back on (or per instance) the full rows ride
    # the replay, the <=N-1 forming rows carried across Arrow chunks.
    narrow = tiebreak is not None and not partition_attr
    fire_fields = [StructField(BATCH_SEQ, LongType()), StructField(FIRED_AT, LongType())]
    if narrow:
        src, cols = df.select(key, ts, tiebreak), [tiebreak]
        schema = StructType(
            [StructField(tiebreak, df.schema[tiebreak].dataType)] + fire_fields)
    else:
        src, cols = df, list(df.columns)
        schema = StructType(list(df.schema.fields) + fire_fields)

    def shape(st, fed, rows, chunk):
        fired, at, seq0 = fed
        return _fire_rows(rows, fired, [n] * len(at),
                          chunk[_TS_MS].to_numpy()[at], seq0)

    out = _replay(src, partition_attr, key, ts, tiebreak, schema, cols,
                  lambda: _FormingSet(n, keep), shape)
    if narrow:
        return df.join(out, tiebreak).select(*df.columns, BATCH_SEQ, FIRED_AT)
    return out


def length_batch_expired(batched: DataFrame, group_cols=()) -> DataFrame:
    """The EXPIRED channel of ``unique:lengthBatch``, derived from a
    :func:`length_batch` result: batch ``k`` re-emits as expired when
    fire ``k+1`` happens (UniqueLengthBatchWindowProcessor.java:
    171-191), timestamps rewritten to that flush time. The inner join
    on the shifted fire log drops the last batch — no successor fire
    ever flushes it. Plan shape: a tiny (one row per batch) distinct
    + an equi-join back onto the batched rows. No broadcast hint: the
    fire log has rows/N entries, which at billions of rows is far past
    broadcast size — AQE picks broadcast when it actually fits.

    ``group_cols`` scopes the fire chain: for a ``partition with``
    result (``length_batch(..., partition_attr=)``) pass the partition
    attribute so each instance's ``batch_seq`` log shifts
    independently — fire k+1 OF THE SAME INSTANCE is what drains
    batch k."""
    gcols = list(group_cols)
    return batched.join(_drain_log(batched, gcols), gcols + [BATCH_SEQ])


def _drain_log(batched: DataFrame, gcols: list) -> DataFrame:
    """One row per fire: batch ``k`` of the instance with the time of
    its fire ``k+1`` (the flush that drains it) as ``expired_at_ms``."""
    return (
        batched.select(*gcols, BATCH_SEQ, FIRED_AT).distinct()
        .select(
            *gcols,
            (F.col(BATCH_SEQ) - 1).alias(BATCH_SEQ),
            F.col(FIRED_AT).alias("expired_at_ms"),
        )
    )


def length_batch_periods(
    df: DataFrame,
    key: str,
    window_length: int,
    ts: str = "ts",
    tiebreak: str | None = None,
) -> DataFrame:
    """Assign every event its lengthBatch FORMING-PERIOD index: period
    ``p`` spans the arrivals after fire ``p-1`` up to and including
    the arrival that completes fire ``p`` (``period_seq`` == the
    ``batch_seq`` the period closes with; the trailing open period
    gets the next index and never appears in the fire log).

    This is the piece the MIXED-pair join channels need to
    reconstruct the forming unique map *as of any probe time*
    (reference ``find()`` searches ``uniqueEventMap.values()``,
    UniqueLengthBatchWindowProcessor.java:226-233): an event is in
    the map from its arrival until it is displaced by a same-key
    arrival in the same period or the period fires — both derivable
    from ``period_seq`` with one window function, so the serial chain
    walk stays minimal (the same (key, ts, tiebreak) funnel and
    forming-set chain as :func:`length_batch`; a row's period is the
    count of fires before it)."""
    n = _check_chain_args(df, key, ts, window_length)
    if tiebreak is None:
        raise ValueError(
            "length_batch_periods needs a tiebreak id column to join the "
            "period refs back to full rows"
        )
    require_column(df, tiebreak, "tiebreak")
    assign_schema = StructType(
        [
            StructField(tiebreak, df.schema[tiebreak].dataType),
            StructField("period_seq", LongType()),
        ]
    )

    def shape(st, fed, rows, chunk):
        _, at, seq0 = fed
        before = np.searchsorted(np.asarray(at, dtype=np.int64),
                                 np.arange(len(chunk)), side="left")
        return pd.DataFrame(
            {tiebreak: chunk[tiebreak].to_numpy(), "period_seq": seq0 + before}
        )

    refs = _sorted_stream_replay(
        df.select(key, ts, tiebreak), key, ts, tiebreak, assign_schema,
        [tiebreak], lambda: _FormingSet(n, "first"), shape,
    )
    return df.join(refs, tiebreak).select(*df.columns, "period_seq")


def length_batch_forming(
    df: DataFrame,
    key: str,
    window_length: int,
    ts: str = "ts",
    tiebreak: str | None = None,
    keep: str = "last",
    partition_attr: str | None = None,
) -> DataFrame:
    """Final FORMING contents of ``unique:lengthBatch`` — the unique
    map a window-to-window JOIN probes: the reference's
    ``find()`` searches ``uniqueEventMap.values()``
    (UniqueLengthBatchWindowProcessor.java:226-233), i.e. the current
    UNFIRED batch, never the fired log. The final-state analog is the
    per-key retained event among arrivals after the last fire (or the
    whole stream when nothing fired) — at most ``N - 1`` rows, per
    instance with ``partition_attr``.

    Same chain as :func:`length_batch` (globally the narrow streamed
    single-task funnel, joined back on ``tiebreak``; per instance one
    pandas group per value), but the replay emits only the forming
    rows at end of stream, so output is tiny regardless of input."""
    n = _check_chain_args(df, key, ts, window_length, keep, partition_attr)
    narrow = not partition_attr
    if narrow:
        if tiebreak is None:
            raise ValueError(
                "length_batch_forming needs a tiebreak id column to join the "
                "forming refs back to full rows"
            )
        src, cols = df.select(key, ts, tiebreak), [tiebreak]
        schema = StructType([StructField(tiebreak, df.schema[tiebreak].dataType)])
    else:
        src, cols = df, list(df.columns)
        schema = StructType(list(df.schema.fields))
    out = _replay(
        src, partition_attr, key, ts, tiebreak, schema, cols,
        lambda: _FormingSet(n, keep),
        lambda st, fed, rows, chunk: rows([]),
        final=lambda st, rows: rows(list(st.held.values())),
    )
    return df.join(out, tiebreak).select(*df.columns) if narrow else out


def first_length_batch(
    df: DataFrame,
    key: str,
    window_length: int,
    ts: str = "ts",
    tiebreak: str | None = None,
    partition_attr: str | None = None,
) -> DataFrame:
    """``unique:firstLengthBatch`` — keep-first within each N-distinct-key
    batch (reference: UniqueFirstLengthBatchWindowProcessor.java:74-81)."""
    return length_batch(df, key, window_length, ts, tiebreak, keep="first",
                        partition_attr=partition_attr)


def time_length_batch(
    df: DataFrame,
    key: str,
    window_time: int | str,
    window_length: int,
    ts: str = "ts",
    tiebreak: str | None = None,
    start_time_ms: int | None = None,
    partition_attr: str | None = None,
) -> DataFrame:
    """``unique:timeLengthBatch`` — tumbling batch fired by ``T``
    elapsed or ``N`` distinct keys, whichever first; after a
    length-fire, events are discarded until the next time boundary
    (``eventSent`` skip, UniqueTimeLengthBatchWindowProcessor.java:
    261-271,288-290).

    Event-time replay with boundary timers at ``anchor + k*T`` (anchor
    = ``start_time_ms`` or the first event's time + T alignment,
    :244-252). Output adds ``batch_seq``, ``fired_at_ms`` and
    ``fire_reason`` ('time' | 'length'). Empty time windows fire
    nothing; the trailing partial batch never fires. With
    ``partition_attr`` every value runs its own fire chain with its
    own anchor (without ``start.time`` each instance anchors at its
    OWN first event + T, mirroring the per-instance ``WindowState``
    the reference allocates per partition key).
    """
    n = _check_chain_args(df, key, ts, window_length,
                          partition_attr=partition_attr,
                          start_time_ms=start_time_ms)
    t_ms = parse_time_ms(window_time, "window.time")
    out_schema = StructType(
        list(df.schema.fields)
        + [
            StructField(BATCH_SEQ, LongType()),
            StructField(FIRED_AT, LongType()),
            StructField(FIRE_REASON, StringType()),
        ]
    )

    def shape(st, fed, rows, chunk):
        fired, counts, at_ms, reasons, seq0 = fed
        out = _fire_rows(rows, fired, counts, at_ms, seq0)
        out[FIRE_REASON] = np.repeat(np.asarray(reasons, dtype=object), counts)
        return out

    return _replay(
        df, partition_attr, key, ts, tiebreak, out_schema, list(df.columns),
        lambda: _TimeLengthBatch(t_ms, n, start_time_ms), shape,
    )


def time_length_batch_distributed(
    df: DataFrame,
    key: str,
    window_time: int | str,
    window_length: int,
    ts: str = "ts",
    tiebreak: str | None = None,
    start_time_ms: int | None = None,
    _keep_anchor: bool = False,
) -> DataFrame:
    """Distributed ``unique:timeLengthBatch`` — same semantics as
    :func:`time_length_batch` (cross-checked by test and by the shared
    driver oracle) built from window functions partitioned by the time
    interval, with no single-group replay.

    Why this is possible: the post-length-fire discard flag clears
    exactly at the next boundary, so intervals are INDEPENDENT. Within
    interval ``k = floor((ms - anchor)/T)``:

    - a length fire happens at the first row where the running count
      of distinct-key first occurrences reaches ``N`` (exactly one
      such row per interval — later events are discarded);
    - otherwise the interval time-fires at its boundary, but only if a
      later event actually crosses it (trailing partial never fires).

    Plan shape: one shuffle keyed on the interval (all three window
    functions share it), a per-interval fire-point aggregate (one row
    per interval — broadcast-sized at any corpus scale), and a tiny
    sequence-numbering window over distinct intervals."""
    from pyspark.sql.window import Window

    n = _check_chain_args(df, key, ts, window_length,
                          start_time_ms=start_time_ms)
    t_ms = parse_time_ms(window_time, "window.time")
    out_cols = list(df.columns)

    ms = event_ms(df, ts)
    if start_time_ms is None:
        edges = df.agg(F.min(ms).alias("_anchor"), F.max(ms).alias("_max_ms"))
    else:
        edges = df.agg(F.max(ms).alias("_max_ms")).withColumn(
            "_anchor", F.lit(start_time_ms).cast("long")
        )
    base = (
        df.withColumn(_TS_MS, ms)
        .crossJoin(F.broadcast(edges))
        .withColumn("_k", F.expr(f"({_TS_MS} - _anchor) div {t_ms}"))
    )
    order = [F.col(_TS_MS)] + ([F.col(tiebreak)] if tiebreak else [])
    w_first = Window.partitionBy("_k", key).orderBy(*order)
    w_run = (
        Window.partitionBy("_k")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    pos = F.struct(*order)
    # the fire point _L rides on an unbounded window over the same _k
    # partitioning the running count already shuffled on — no separate
    # per-interval aggregate + join
    w_k = Window.partitionBy("_k").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    running = (
        base.withColumn("_isf", F.row_number().over(w_first) == 1)
        .withColumn("_nd", F.sum(F.when(F.col("_isf"), 1).otherwise(0)).over(w_run))
        .withColumn(
            "_L",
            F.min(F.when((F.col("_nd") == n) & F.col("_isf"), pos)).over(w_k),
        )
    )
    live = running.filter(
        (
            F.col("_L").isNull()
            & (F.expr(f"_anchor + (_k + 1) * {t_ms}") <= F.col("_max_ms"))
        )
        | (F.col("_L").isNotNull() & (pos <= F.col("_L")))
    )
    w_keep = Window.partitionBy("_k", key).orderBy(*[c.desc() for c in order])
    retained = live.withColumn("_rnk", F.row_number().over(w_keep)).filter(
        F.col("_rnk") == 1
    )
    # one row per fired interval — tiny at any scale
    seqs = (
        live.select("_k")
        .distinct()
        .withColumn("_seq", F.row_number().over(Window.orderBy("_k")) - 1)
    )
    return retained.join(seqs, "_k").select(
        *out_cols,
        F.col("_seq").cast("long").alias(BATCH_SEQ),
        F.when(F.col("_L").isNotNull(), F.col("_L").getField(_TS_MS))
        .otherwise(F.expr(f"_anchor + (_k + 1) * {t_ms}"))
        .cast("long")
        .alias(FIRED_AT),
        F.when(F.col("_L").isNotNull(), F.lit("length"))
        .otherwise(F.lit("time"))
        .alias(FIRE_REASON),
        *([F.col("_anchor"), F.col("_max_ms")] if _keep_anchor else []),
    )


def _time_length_batch_drain(df, key, window_time, window_length, ts,
                             tiebreak, start_time_ms, partition_attr):
    """Batched timeLengthBatch rows with ``_exp_at`` (the drain instant
    of :func:`time_length_batch_expired`) and ``_max_ms`` (the witness
    clock), globally or per instance. Globally the batched rows come
    from the distributed form, which already carries the anchor and
    clock; per instance from the per-value replay plus a tiny
    per-instance anchor/clock aggregate joined back on the attribute
    (AQE broadcasts it when it fits)."""
    from pyspark.sql.window import Window

    t_ms = parse_time_ms(window_time, "window.time")
    gcols = [partition_attr] if partition_attr else []
    if partition_attr:
        batched = time_length_batch(
            df, key, window_time, window_length, ts=ts, tiebreak=tiebreak,
            start_time_ms=start_time_ms, partition_attr=partition_attr,
        )
        ms = event_ms(df, ts)
        stats = df.groupBy(partition_attr).agg(
            F.min(ms).alias("_anchor"), F.max(ms).alias("_max_ms")
        )
        if start_time_ms is not None:
            stats = stats.withColumn("_anchor", F.lit(start_time_ms).cast("long"))
    else:
        batched = time_length_batch_distributed(
            df, key, window_time, window_length, ts=ts, tiebreak=tiebreak,
            start_time_ms=start_time_ms, _keep_anchor=True,
        )
    fires = batched.select(*gcols, BATCH_SEQ, FIRED_AT).distinct()
    nxt = fires.withColumn(
        "_next_fire",
        F.lead(FIRED_AT).over(Window.partitionBy(*gcols).orderBy(BATCH_SEQ)),
    ).select(*gcols, BATCH_SEQ, "_next_fire")
    joined = batched.join(nxt, gcols + [BATCH_SEQ])
    if partition_attr:
        joined = joined.join(stats, partition_attr)
    # B(k): for a time fire (fired_at sits ON a boundary) floor+1
    # already lands one period later; for a length fire it gives the
    # clearing boundary, which only resets the skip flag — the drain
    # is one more period out
    drain_boundary = (
        F.col("_anchor")
        + (F.floor((F.col(FIRED_AT) - F.col("_anchor")) / t_ms) + 1) * t_ms
        + F.when(F.col(FIRE_REASON) == "length", F.lit(t_ms)).otherwise(F.lit(0))
    )
    # least() skips NULLs: the last fired batch has no next fire,
    # leaving the boundary term alone
    return joined.withColumn(
        "_exp_at", F.least(drain_boundary.cast("long"), F.col("_next_fire"))
    )


def time_length_batch_expired(
    df: DataFrame,
    key: str,
    window_time: int | str,
    window_length: int,
    ts: str = "ts",
    tiebreak: str | None = None,
    start_time_ms: int | None = None,
    partition_attr: str | None = None,
) -> DataFrame:
    """The EXPIRED channel of ``unique:timeLengthBatch``: batch ``k``
    re-emits as expired at the first FLUSH after its own fire,
    timestamps rewritten to that flush time (``sendEvents`` drains
    ``eventsToBeExpired`` on every flush,
    UniqueTimeLengthBatchWindowProcessor.java:304-318). After a TIME
    fire the scheduler's next tick (one period later) flushes even
    with no arrivals; after a LENGTH fire the first boundary only
    RESETS the skip flag — the ``eventSent`` timer branch returns
    WITHOUT calling ``sendEvents``
    (UniqueTimeLengthBatchWindowProcessor.java:261-265) — so the
    drain waits for the flush AFTER that clearing boundary. With
    ``B(k)`` = first boundary strictly after fire ``k``:

        expired_at(k) = min( fire k+1,
                             B(k) + (T if fire k was a length fire
                                     else 0) )

    The unrestricted ``lead(fired_at)`` term is safe in both cases: a
    time fire following a length-fired batch can never precede
    ``B(k)+T`` (no events accumulate during the skip phase, and the
    clearing boundary itself never fires), and a time fire following a
    time-fired batch lands exactly on its boundary term. A batch
    expires within the stream iff the event-time clock demonstrably
    reaches that flush point, i.e. ``expired_at <= max(event ts)`` —
    the same witness rule the distributed form already applies to time
    fires, so the two channels share one clock model.

    With ``partition_attr`` the rule applies independently per value:
    each instance has its own anchor (its first event unless
    ``start.time`` fixes the grid), its own fire log, and its own
    event-time witness clock (the per-instance-clock convention shared
    with the partitioned ``unique:time`` edge and
    :func:`~.time_batch.expired_channel`).

    Plan shape: the batched form plus a one-row-per-fired-batch
    distinct with a ``lead`` over it (tiny at any scale) joined back on
    ``batch_seq`` — AQE broadcasts it when it fits.
    """
    return (
        _time_length_batch_drain(df, key, window_time, window_length, ts,
                                 tiebreak, start_time_ms, partition_attr)
        .withColumnRenamed("_exp_at", "expired_at_ms")
        .filter(F.col("expired_at_ms") <= F.col("_max_ms"))
        .drop("_anchor", "_max_ms", "_next_fire")
    )


def length_batch_all(batched: DataFrame, group_cols=()) -> DataFrame:
    """Single-pass ALL-events channel for a :func:`length_batch`
    result: LEFT-join the shifted fire log of
    :func:`length_batch_expired` and explode each row into its
    channel tags — the expensive batched chain runs once instead of
    once per union branch (Spark does not reuse exchanges across a
    union)."""
    gcols = list(group_cols)
    return (
        batched.join(_drain_log(batched, gcols), gcols + [BATCH_SEQ], "left")
        .withColumn("channel", channel_tags(F.col("expired_at_ms").isNotNull()))
        .withColumn(
            "expired_at_ms",
            F.when(F.col("channel") == "expired", F.col("expired_at_ms"))
            .cast("long"),
        )
    )


def time_length_batch_all(
    df: DataFrame,
    key: str,
    window_time: int | str,
    window_length: int,
    ts: str = "ts",
    tiebreak: str | None = None,
    start_time_ms: int | None = None,
    partition_attr: str | None = None,
) -> DataFrame:
    """Single-pass ALL-events channel of ``unique:timeLengthBatch``:
    ONE batched computation joined with the tiny next-fire log, each
    row exploding into its channel tags — the union form ran the
    batched computation once per branch (no exchange reuse across a
    union). Drain rule, witness filter and per-instance scoping are
    :func:`time_length_batch_expired`'s exactly."""
    return (
        _time_length_batch_drain(df, key, window_time, window_length, ts,
                                 tiebreak, start_time_ms, partition_attr)
        .withColumn("channel", channel_tags(F.col("_exp_at") <= F.col("_max_ms")))
        .withColumn(
            "expired_at_ms",
            F.when(F.col("channel") == "expired", F.col("_exp_at"))
            .cast("long"),
        )
        .drop("_anchor", "_max_ms", "_next_fire", "_exp_at")
    )

"""``unique:length`` — sliding buffer of the last ``N`` unique keys
(reference: component/src/main/java/io/siddhi/extension/execution/
unique/UniqueLengthWindowProcessor.java:99; replace :148-157, FIFO
evict :158-166).

In the reference, a duplicate key *moves to the back* of the FIFO (the
old event is removed from the expired chunk and the new clone appended,
:153-157), so the window contents are exactly: the latest event per
key, ranked by that latest event's time, top ``N``. That is what
:func:`length_window` computes — ``max_by`` per key (one shuffle), then
a global top-N, which Spark executes as TakeOrderedAndProject (per-
partition heaps + merge, no global sort materialization).

The ordered forms (:func:`length_window_emissions`,
:func:`length_window_emissions_indexed`, :func:`length_exit_instants`)
replay the FIFO chain ``replay._UniqueFifo`` through the replay
drivers.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from siddhi_execution_unique_spark.operators.keyed import ever
from siddhi_execution_unique_spark.operators.replay import (
    _TS_MS,
    _UniqueFifo,
    _check_chain_args,
    _replay,
    _sorted_stream_replay,
)
from siddhi_execution_unique_spark.operators.time_batch import channel_tags
from siddhi_execution_unique_spark.operators.validation import (
    require_column,
    require_keys,
    require_pos_int,
)


def length_window(
    df: DataFrame,
    keys,
    window_length: int,
    ts: str = "ts",
    tiebreak: str | None = None,
    partition_attr: str | None = None,
) -> DataFrame:
    """Final contents of ``unique:length``: the ``N`` most recent
    distinct keys' latest events.

    ``partition_attr`` (``partition with (attr of S)``): an independent
    FIFO per value, ranked per partition instead of globally — one
    (partition, key) hash-agg shuffle + a ranked window keyed on the
    attribute, fully distributed (a partitioned unique:length
    distributes BETTER than the global one)."""
    from pyspark.sql.window import Window

    if partition_attr:
        require_column(df, partition_attr, "partition attribute")
    keys = require_keys(keys)
    require_column(df, ts, "ts")
    n = require_pos_int(window_length, "window.length")
    gcols = [partition_attr] if partition_attr else []
    latest = ever(df, gcols + list(keys), ts=ts, tiebreak=tiebreak)
    order = [F.col(ts).desc()] + ([F.col(tiebreak).desc()] if tiebreak else [])
    if not partition_attr:
        return latest.orderBy(*order).limit(n)
    w = Window.partitionBy(partition_attr).orderBy(*order)
    return (
        latest.withColumn("_rnk", F.row_number().over(w))
        .filter(F.col("_rnk") <= n)
        .drop("_rnk")
    )


CHANNEL = "channel"


def length_window_emissions_distributed(
    df: DataFrame,
    key,
    window_length: int,
    ts: str = "ts",
    *,
    tiebreak: str,
    partition_attr: str | None = None,
) -> DataFrame:
    """Set-semantics emission log of ``unique:length``, fully
    distributed (no single-group replay): every arrival emits on
    ``current``, and an event emits on ``expired`` iff it is NOT in
    the window's final contents (its instance's, with
    ``partition_attr``). That equivalence holds because a
    duplicate key moves to the back of the FIFO
    (UniqueLengthWindowProcessor.java:153-157), so the buffer is
    always exactly the ``N`` most-recently-occurring distinct keys'
    latest events — i.e. :func:`length_window`'s output (invariant
    property-tested in ``tests/test_properties.py``). Plan shape: one
    keyed partial-agg shuffle + a global top-N (TakeOrderedAndProject)
    + ONE left join with a channel explode — a current ∪ anti-join
    union would scan the source twice (Spark does not reuse exchanges
    across union branches); survives any corpus size.

    The per-arrival emission ORDER the reference's log defines is not
    represented here; use :func:`length_window_emissions` for the
    ordered replay or ``streaming.length_window_stream`` for the live
    log."""
    keys = require_keys(key, "unique.key")
    for k in keys:
        require_column(df, k, "unique.key")
    require_column(df, ts, "ts")
    require_column(df, tiebreak, "tiebreak")
    n = require_pos_int(window_length, "window.length")
    retained = length_window(df, keys, n, ts=ts, tiebreak=tiebreak,
                             partition_attr=partition_attr)
    on = ([partition_attr] if partition_attr else []) + keys + [ts, tiebreak]
    marker = retained.select(*on).withColumn("_keep", F.lit(1))
    return (
        df.join(marker, on, "left")
        .withColumn(CHANNEL, channel_tags(F.col("_keep").isNull()))
        .drop("_keep")
    )


def length_window_emissions_indexed(
    df: DataFrame,
    key: str,
    window_length: int,
    ts: str = "ts",
    *,
    tiebreak: str,
    partition_attr: str | None = None,
) -> DataFrame:
    """Ordered emission log of ``unique:length`` with an explicit
    ``emission_idx`` (0-based position in the reference's emission
    sequence): at each arrival the replaced/evicted event emits on
    ``expired`` FIRST, then the arrival emits on ``current`` —
    reference replace UniqueLengthWindowProcessor.java:148-157, FIFO
    evict :158-166. Unlike the set-semantics
    :func:`length_window_emissions_distributed`, the index pins the
    reference's per-arrival emission ORDER, so an order-insensitive
    hash compare still verifies the sequence.

    Scale shape: the FIFO over unique keys is one global sequential
    chain (inherent to the semantics), but its STATE is bounded (the
    n buffered keys), so the ordered task streams the Arrow batches a
    JVM external sort feeds it — no in-memory concat, no single-task
    row ceiling — and it sees ONLY (key, ts, tiebreak); the (tiebreak,
    channel, emission_idx) assignment joins back to the full rows in a
    normal distributed hash join, so payload columns never ride the
    single-partition exchange.

    ``partition_attr``: every value owns an independent FIFO and a
    0-based ``emission_idx``; this DISTRIBUTES — one shuffle keyed on
    the attribute, each instance's chain walking its own pandas group
    (bounded by the largest partition, not the corpus)."""
    n = _check_chain_args(df, key, ts, window_length,
                          partition_attr=partition_attr)
    require_column(df, tiebreak, "tiebreak")
    assign_schema = StructType(
        [
            StructField(tiebreak, df.schema[tiebreak].dataType),
            StructField(CHANNEL, StringType()),
            StructField("emission_idx", LongType()),
        ]
    )

    def shape(st, fed, rows, chunk):
        refs, chans, idx = st.log(*fed)
        out = rows(refs)
        out[CHANNEL] = chans
        out["emission_idx"] = idx
        return out

    gcols = [partition_attr] if partition_attr else []
    assignment = _replay(
        df.select(*gcols, key, ts, tiebreak), partition_attr, key, ts,
        tiebreak, assign_schema, [tiebreak], lambda: _UniqueFifo(n), shape,
    )
    return df.join(assignment, tiebreak)


def length_window_emissions(
    df: DataFrame,
    key: str,
    window_length: int,
    ts: str = "ts",
    tiebreak: str | None = None,
) -> DataFrame:
    """Emission log of ``unique:length``: per arrival, the event emits
    on the ``current`` channel; if its key was already buffered the
    replaced event expires immediately; if the buffer exceeds ``N``
    unique keys the oldest-inserted key's event expires (FIFO) —
    reference replace :148-157, FIFO evict :158-166.

    The buffer is one global FIFO over unique keys, so the replay is a
    single ordered SCAN — but the state is bounded (the N buffered
    rows carried across Arrow chunks), so the stream spills through
    the JVM external sort with no single-task row ceiling; use
    :func:`length_window` for the fully distributable final-contents
    form.
    """
    n = _check_chain_args(df, key, ts, window_length)
    out_schema = StructType(
        list(df.schema.fields) + [StructField(CHANNEL, StringType())]
    )
    return _sorted_stream_replay(
        df, key, ts, tiebreak, out_schema, list(df.columns),
        lambda: _UniqueFifo(n), _fifo_channels,
    )


def _fifo_channels(st, fed, rows, _):
    """One fed chunk's FIFO emission log as rows with a channel column
    (the shape of :func:`length_window_emissions` and its streaming
    twin)."""
    refs, chans, _ = st.log(*fed)
    out = rows(refs)
    out[CHANNEL] = chans
    return out


def length_exit_instants(
    df: DataFrame,
    key: str,
    window_length: int,
    ts: str = "ts",
    *,
    tiebreak: str,
) -> DataFrame:
    """Per-event EXIT instant of ``unique:length``'s live FIFO: the
    event-time millisecond (``__mx_to``) AND tiebreak (``__mx_totb``)
    of the arrival that removes the event — a same-key replacement
    (UniqueLengthWindowProcessor.java:148-157) or the FIFO eviction
    by the N-th distinct other key (:158-166) — both NULL while the
    event is still buffered at end of stream. The remover's tiebreak
    makes the exit a full LEXICOGRAPHIC (ms, tiebreak) instant, which
    the arrival-pair mixed-join lowerings need to resolve same-ms
    cross-stream ties. This is the interval log the mixed-channel join lowering
    probes (``find()`` searches the live ``expiredEventChunk``,
    :190-196), under the idealized-FIFO convention pinned by
    ``tests/test_properties.py::fifo_replay`` since r01.

    Scale shape: the FIFO is one global sequential chain (inherent,
    the same funnel as :func:`length_window_emissions_indexed`) with
    BOUNDED state (N buffered refs); only (key, ts, tiebreak) ride
    the single-partition exchange and the result joins back to full
    rows distributively."""
    n = _check_chain_args(df, key, ts, window_length)
    require_column(df, tiebreak, "tiebreak")
    out_schema = StructType(
        [
            StructField(tiebreak, df.schema[tiebreak].dataType),
            StructField("__mx_to", LongType()),
            StructField("__mx_totb", df.schema[tiebreak].dataType),
        ]
    )

    def shape(st, fed, rows, chunk):
        expired, _ = fed
        has = expired >= 0  # the arrival itself is the remover
        out = rows(expired[has])
        out["__mx_to"] = chunk[_TS_MS].to_numpy()[has]
        out["__mx_totb"] = chunk[tiebreak].to_numpy()[has]
        return out

    def final(st, rows):  # still buffered at end of stream: exit = NULL
        out = rows(list(st.held.values()))
        out["__mx_to"] = pd.array([None] * len(out), dtype="Int64")
        out["__mx_totb"] = pd.Series([None] * len(out), index=out.index)
        return out

    return _sorted_stream_replay(
        df.select(key, ts, tiebreak), key, ts, tiebreak, out_schema,
        [tiebreak], lambda: _UniqueFifo(n), shape, final,
    )

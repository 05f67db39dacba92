"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exposes every implemented operator from SURVEY.md §2 as a
``(spark, sf_dir) -> DataFrame`` callable; ``oracle_sql()`` gives the
DuckDB-equivalent SQL for each SQL-expressible one. Timestamps are
emitted as epoch-millis bigints (``ts_ms``) on both sides so the
value-hash comparison is precision- and timezone-proof.
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from siddhi_execution_unique_spark import operators as ops  # noqa: E402
from siddhi_execution_unique_spark.functions import (  # noqa: E402
    analytics as fana,
    asof as fasof,
    fuzzy as ffuzzy,
    graph as fgraph,
    curation as fcur,
    dedup as fdedup,
    multimodal as fmm,
    pipeline as fpipe,
    retrieval as fret,
    sessions as fsess,
    similarity as fsim,
    sketch as fsk,
    text as ftext,
)
from siddhi_execution_unique_spark.sources import load_table  # noqa: E402

HOUR = 3_600_000
DAY = 86_400_000

_EVENT_COLS = ["event_id", "ts_ms", "user_id", "event_type", "value", "props"]
_EVENT_SQL_COLS = "event_id, epoch_ms(ts) AS ts_ms, user_id, event_type, value, props"

# unique:deduplicate's anchored chain (keep iff ts - last KEPT ts >
# interval) — shared by the batch operator entry and the streaming
# twin parity entry, which must agree row-for-row
_DEDUPLICATE_SQL = f"""
    WITH RECURSIVE kept AS (
      SELECT user_id, min(epoch_ms(ts)) AS ts_ms FROM events GROUP BY user_id
      UNION ALL
      SELECT user_id, next_ms AS ts_ms FROM (
        SELECT k.user_id,
               (SELECT min(epoch_ms(e.ts)) FROM events e
                WHERE e.user_id = k.user_id
                  AND epoch_ms(e.ts) > k.ts_ms + 3600000) AS next_ms
        FROM kept k) t
      WHERE next_ms IS NOT NULL
    )
    SELECT {_EVENT_SQL_COLS}
    FROM (SELECT e.*, row_number() OVER (PARTITION BY e.user_id, epoch_ms(e.ts)
                                         ORDER BY e.event_id) AS rn
          FROM events e
          JOIN kept k ON e.user_id = k.user_id AND epoch_ms(e.ts) = k.ts_ms) t
    WHERE rn = 1
"""


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "events")


def _ev_out(df: DataFrame, *extra: str) -> DataFrame:
    cols = [
        F.col("event_id"),
        F.unix_millis("ts").alias("ts_ms"),
        F.col("user_id"),
        F.col("event_type"),
        F.col("value"),
        F.col("props"),
    ] + [F.col(c) for c in extra]
    return df.select(*cols)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: ``unique:ever`` — latest event per user over all
    history (the reference's own flagship example,
    UniqueEverWindowProcessor.java:84-93)."""
    events = _events(spark, "/root/testdata/sf0.001")
    return _ev_out(ops.ever(events, "user_id", ts="ts", tiebreak="event_id"))


# ---------------------------------------------------------------- queries

def q_unique_ever(spark, sf_dir):
    return _ev_out(ops.ever(_events(spark, sf_dir), "user_id", ts="ts", tiebreak="event_id"))


def q_unique_ever_multi(spark, sf_dir):
    return _ev_out(
        ops.ever(_events(spark, sf_dir), ["user_id", "event_type"], ts="ts", tiebreak="event_id")
    )


def q_unique_first(spark, sf_dir):
    return _ev_out(ops.first(_events(spark, sf_dir), "user_id", ts="ts", tiebreak="event_id"))


def q_unique_ever_expired(spark, sf_dir):
    return _ev_out(
        ops.ever_expired(_events(spark, sf_dir), "user_id", ts="ts", tiebreak="event_id")
    )


def q_unique_ever_expired_expr(spark, sf_dir):
    """ever_expired with COLUMN-EXPRESSION keys (user cohort bucket +
    event_type): exercises the staged-expression-key path — generated
    key columns must materialize before the anti-join and be dropped
    after (the reference evaluates arbitrary key ExpressionExecutors,
    UniqueEverWindowProcessor.java:216-222)."""
    events = _events(spark, sf_dir)
    return _ev_out(
        ops.ever_expired(
            events,
            [F.expr("user_id % 4"), F.col("event_type")],
            ts="ts",
            tiebreak="event_id",
        )
    )


def q_orders_latest_per_customer(spark, sf_dir):
    """unique:ever applied to a second table (orders): latest order
    per customer — shows the operator is schema-generic, not
    events-specific."""
    orders = load_table(spark, sf_dir, "orders")
    latest = ops.ever(orders, "o_custkey", ts="o_orderdate", tiebreak="o_orderkey")
    return latest.select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        # load_table reinterprets the naive parquet timestamp as a UTC
        # instant, so this is tz-independent (the cast is a no-op kept
        # for long/date-typed variants of the column).
        F.unix_millis(F.col("o_orderdate").cast("timestamp")).alias("o_orderdate_ms"),
    )


def q_unique_length(spark, sf_dir):
    return _ev_out(
        ops.length_window(_events(spark, sf_dir), "user_id", 100, ts="ts", tiebreak="event_id")
    )


def q_unique_time(spark, sf_dir):
    return _ev_out(
        ops.time_window(_events(spark, sf_dir), "user_id", DAY, ts="ts", tiebreak="event_id")
    )


def q_unique_time_expired(spark, sf_dir):
    from siddhi_execution_unique_spark.operators.time_window import time_window_expired

    return _ev_out(
        time_window_expired(
            _events(spark, sf_dir), "user_id", DAY, ts="ts", tiebreak="event_id"
        )
    )


def q_unique_time_batch(spark, sf_dir):
    return _ev_out(
        ops.time_batch(_events(spark, sf_dir), "user_id", HOUR, ts="ts", tiebreak="event_id"),
        "batch_start_ms",
        "batch_end_ms",
    )


def q_unique_first_time_batch(spark, sf_dir):
    return _ev_out(
        ops.first_time_batch(
            _events(spark, sf_dir), "user_id", HOUR, ts="ts", tiebreak="event_id"
        ),
        "batch_start_ms",
        "batch_end_ms",
    )


def q_unique_external_time_batch(spark, sf_dir):
    return _ev_out(
        ops.external_time_batch(
            _events(spark, sf_dir), "user_id", timestamp="ts", window_time=2 * HOUR,
            tiebreak="event_id",
        ),
        "batch_start_ms",
        "batch_end_ms",
    )


def q_unique_external_time_batch_end_ts(spark, sf_dir):
    return _ev_out(
        ops.external_time_batch(
            _events(spark, sf_dir), "user_id", timestamp="ts", window_time=2 * HOUR,
            start_time_ms=0, replace_timestamp_with_batch_end=True, tiebreak="event_id",
        ),
        "batch_start_ms",
        "batch_end_ms",
    )


def q_unique_deduplicate(spark, sf_dir):
    return _ev_out(
        ops.deduplicate(_events(spark, sf_dir), "user_id", HOUR, ts="ts", tiebreak="event_id")
    )


def q_proc_time_replay(spark, sf_dir):
    """Driver certification of the PROCESSING-TIME tier's
    deterministic core (VERDICT r13 item 5): the pinned-stamp replay
    drives the ACTUAL `_time_proc_transition` function the wall-clock
    twin runs (streaming.time_window_proc_stream), so the tier's
    per-key state machine — displacement expiry, idle-timer fires,
    timeout re-arming — is oracle-hash-checked instead of
    pytest-only. Closed-form oracle: current at each stamp, expired
    at least(next same-key stamp, stamp + T)."""
    from siddhi_execution_unique_spark import streaming as stw

    return stw.time_proc_replay(
        _events(spark, sf_dir), "user_id", HOUR, ts="ts",
        tiebreak="event_id")


def q_proc_dedup_replay(spark, sf_dir):
    """Driver certification of the processing-time
    ``unique:deduplicate`` transition core (`_dedup_proc_transition`
    behind streaming.deduplicate_proc_stream) under the pinned-stamp
    replay: the idle-purge timer plus the now-vs-last-kept admission
    rule must land on the strict anchored chain (first stamp per key,
    then the first stamp > last kept + interval) — here with a 2h
    interval, distinct from the event-time unique_deduplicate's 1h
    chain."""
    from siddhi_execution_unique_spark import streaming as stw

    return stw.dedup_proc_replay(
        _events(spark, sf_dir), "user_id", 2 * HOUR, ts="ts",
        tiebreak="event_id")


def q_siddhiql_ever_filtered(spark, sf_dir):
    """The reference's own query-text surface end-to-end: a SiddhiQL
    app string (filter + unique:ever window + projection) parsed by
    siddhiql.run_app onto the same operators the function API uses —
    pinning the front-end through the driver's oracle hash."""
    from siddhi_execution_unique_spark import siddhiql as sq

    app = """
    define stream events (event_id long, user_id long, event_type string, value double);
    from events[value > 100]#window.unique:ever(user_id)
    select event_id, user_id, event_type, value
    insert into out;
    """
    return sq.run_app(app, {"events": _events(spark, sf_dir)},
                      tiebreak="event_id")["out"]


def q_siddhiql_time_all_events(spark, sf_dir):
    """`insert all events into` through the query-text surface
    (UniqueLengthWindowTestCase.java:65,95 consume both chunks of one
    output stream): unique:time's current ∪ expired, tagged on
    `channel` (round-6 fix — previously `all` silently degraded to
    current-only)."""
    from siddhi_execution_unique_spark import siddhiql as sq

    app = """
    from events#window.unique:time(user_id, 1 day)
    select event_id, user_id, channel
    insert all events into out;
    """
    return sq.run_app(app, {"events": _events(spark, sf_dir)},
                      tiebreak="event_id")["out"]


def _split_clicks_purchases(spark, sf_dir):
    ev = _events(spark, sf_dir)
    return {
        "clicks": ev.filter(F.col("event_type") == "click"),
        "purchases": ev.filter(F.col("event_type") == "purchase"),
    }


def q_siddhiql_join_ever(spark, sf_dir):
    """The reference's own window-to-window JOIN query text
    (UniqueEverWindowTestCase.java:228-233): two unique:ever windows
    joined on an attribute equality with Siddhi-style qualified
    references and `as` aliases, parsed by siddhiql.run_app."""
    from siddhi_execution_unique_spark import siddhiql as sq

    app = """
    define stream clicks (event_id long, user_id long, value double);
    define stream purchases (event_id long, user_id long, value double);
    from clicks#window.unique:ever(user_id) join purchases#window.unique:ever(user_id)
    on clicks.user_id== purchases.user_id
    select clicks.user_id as user_id, purchases.event_id as purchase_event_id, clicks.value as click_value
    insert into joined ;
    """
    return sq.run_app(app, _split_clicks_purchases(spark, sf_dir),
                      tiebreak="event_id")["joined"]


def q_siddhiql_join_time_batch_all(spark, sf_dir):
    """UniqueTimeBatchWindowTestCase.java:192-196's text: timeBatch
    join timeBatch with `insert all events into`. Both windows share
    the tumbling grid, so joined pairs are batch-aligned; every joined
    batch re-emits as expired when a later batch fires anywhere, the
    final batch never does."""
    from siddhi_execution_unique_spark import siddhiql as sq

    app = """
    from clicks#window.unique:timeBatch(user_id, 1 hour) join purchases#window.unique:timeBatch(user_id, 1 hour)
    on clicks.user_id== purchases.user_id
    select clicks.user_id as user_id, purchases.event_id as purchase_event_id, channel
    insert all events into joined ;
    """
    return sq.run_app(app, _split_clicks_purchases(spark, sf_dir),
                      tiebreak="event_id")["joined"]


def q_siddhiql_join_mixed(spark, sf_dir):
    """MIXED-pair batch-window join (VERDICT r10 item 3): lengthBatch
    ⋈ timeBatch shares no tumbling grid, so each side joins its
    find() probe state — the FORMING unique map for lengthBatch
    (UniqueLengthBatchWindowProcessor.java:226-233), the last fired
    batch (``eventsToBeExpired``) for timeBatch
    (UniqueTimeBatchWindowProcessor.java:318-328)."""
    from siddhi_execution_unique_spark import siddhiql as sq

    app = """
    from clicks#window.unique:lengthBatch(user_id, 50) join purchases#window.unique:timeBatch(user_id, 1 hour)
    on clicks.user_id == purchases.user_id
    select clicks.user_id as user_id, clicks.event_id as click_event_id, purchases.event_id as purchase_event_id
    insert into joined ;
    """
    return sq.run_app(app, _split_clicks_purchases(spark, sf_dir),
                      tiebreak="event_id")["joined"]


def q_siddhiql_join_mixed_external(spark, sf_dir):
    """MIXED pair with an externalTimeBatch side: its find() probes
    ``expiredEvents`` — the last FLUSHED batch, i.e. the SECOND-highest
    present batch end, because the forming batch never flushes without
    a later arrival (UniqueExternalTimeBatchWindowProcessor.java:
    283-318,383-393). The ever side probes its retained map (its
    find() target is the window contents)."""
    from siddhi_execution_unique_spark import siddhiql as sq

    app = """
    from clicks#window.unique:externalTimeBatch(user_id, ts, 2 days) join purchases#window.unique:ever(user_id)
    on clicks.user_id == purchases.user_id
    select clicks.user_id as user_id, clicks.event_id as click_event_id, purchases.event_id as purchase_event_id
    insert into joined ;
    """
    return sq.run_app(app, _split_clicks_purchases(spark, sf_dir),
                      tiebreak="event_id")["joined"]


def q_siddhiql_join_mixed_all(spark, sf_dir):
    """Expired/all channels for a NON-aligned mixed-pair join
    (VERDICT r11 item 4): lengthBatch ⋈ timeBatch shares no tumbling
    grid, so the channels are the full event-at-a-time EMISSION LOG —
    each side's current/expired chunks probe the other window's
    find() state *as of the emission time* (lengthBatch fires are
    arrival-driven, timeBatch flushes are tick-driven; ticks precede
    same-instant arrivals). Lowered as the interval algebra
    simulation-certified in tests/test_properties.py::
    test_mixed_join_channels_algebra_matches_simulation: a
    clamped-slot equi-join for arrival-driven probes of the tick
    grid, a T-banded interval join for tick-driven probes of the
    forming map (siddhiql.py:_run_join_mixed_channels)."""
    from siddhi_execution_unique_spark import siddhiql as sq

    app = """
    from clicks#window.unique:lengthBatch(user_id, 50) join purchases#window.unique:timeBatch(user_id, 1 hour)
    on clicks.user_id == purchases.user_id
    select clicks.user_id as user_id, clicks.event_id as click_event_id, purchases.event_id as purchase_event_id, channel
    insert all events into joined ;
    """
    return sq.run_app(app, _split_clicks_purchases(spark, sf_dir),
                      tiebreak="event_id")["joined"]


def q_siddhiql_join_mixed_grids_all(spark, sf_dir):
    """Expired/all channels for a MISALIGNED timeBatch ⋈ timeBatch
    pair (1 hour vs 2 hours — no shared tumbling grid), under the
    co-residency convention that generalizes the certified
    aligned-pair protocol: a key-matched pair of batches with
    intersecting findable intervals ([end, end+T); the last batch
    forever) emits current once and re-emits expired when the
    earlier side's interval ends. Simulation-certified
    (tests/test_properties.py::test_tt_mixed_join_coresidency_
    matches_simulation); lowered as ONE banded clamped-slot
    equi-join + post-join channel arithmetic
    (siddhiql.py:_run_join_mixed_tt)."""
    from siddhi_execution_unique_spark import siddhiql as sq

    app = """
    from clicks#window.unique:timeBatch(user_id, 1 hour) join purchases#window.unique:timeBatch(user_id, 2 hours)
    on clicks.user_id == purchases.user_id
    select clicks.user_id as user_id, clicks.event_id as click_event_id, purchases.event_id as purchase_event_id, channel
    insert all events into joined ;
    """
    return sq.run_app(app, _split_clicks_purchases(spark, sf_dir),
                      tiebreak="event_id")["joined"]


def q_siddhiql_join_mixed_external_all(spark, sf_dir):
    """Expired/all channels for an externalTimeBatch ⋈ timeBatch
    mixed pair: the external side's PRESENT batches in rank order
    flush (emit current, become the find()-able ``expiredEvents``) at
    the first event of the next rank and re-emit expired at the first
    event of rank+2 (the certified rank+2 rule,
    UniqueExternalTimeBatchWindowProcessor.java:283-318,363-366) —
    all arrival-driven probes of the timeBatch tick grid; the
    timeBatch side's tick-driven chunks probe the external side's
    flushed-batch intervals (flush(i), flush(i+1)]. Simulation-
    certified (tests/test_properties.py::test_etb_tb_mixed_join_
    algebra_matches_simulation); lowered via the shared mixed-channel
    machinery (siddhiql.py:_external_side_artifacts)."""
    from siddhi_execution_unique_spark import siddhiql as sq

    app = """
    from clicks#window.unique:externalTimeBatch(user_id, ts, 2 hours, 0) join purchases#window.unique:timeBatch(user_id, 1 hour)
    on clicks.user_id == purchases.user_id
    select clicks.user_id as user_id, clicks.event_id as click_event_id, purchases.event_id as purchase_event_id, channel
    insert all events into joined ;
    """
    return sq.run_app(app, _split_clicks_purchases(spark, sf_dir),
                      tiebreak="event_id")["joined"]


def q_siddhiql_join_mixed_lengths_all(spark, sf_dir):
    """Expired/all channels for a lengthBatch ⋈ lengthBatch mixed
    pair — both windows transition on ARRIVALS, so the emission order
    is the engine's pinned global (ts, tiebreak) arrival order. Each
    side's fired chunk (current) and previous batch (expired at the
    same fire) probe the other side's forming unique map at that
    lexicographic instant. Simulation-certified
    (tests/test_properties.py::test_ll_mixed_join_algebra_matches_
    simulation); lowered as two banded probe-vs-interval joins whose
    band width follows the probing side's fire cadence
    (siddhiql.py:_run_join_mixed_ll)."""
    from siddhi_execution_unique_spark import siddhiql as sq

    app = """
    from clicks#window.unique:lengthBatch(user_id, 50) join purchases#window.unique:lengthBatch(user_id, 30)
    on clicks.user_id == purchases.user_id
    select clicks.user_id as user_id, clicks.event_id as click_event_id, purchases.event_id as purchase_event_id, channel
    insert all events into joined ;
    """
    return sq.run_app(app, _split_clicks_purchases(spark, sf_dir),
                      tiebreak="event_id")["joined"]


def q_siddhiql_join_mixed_lb_external_all(spark, sf_dir):
    """Expired/all channels for a lengthBatch ⋈ externalTimeBatch
    pair — both sides arrival-driven, ordered by the global
    (ts, tiebreak) instant. The lengthBatch side's fires probe the
    external side's last FLUSHED batch (its find() target); the
    external side's flush chunks probe the lengthBatch forming map.
    Simulation-certified (tests/test_properties.py::
    test_lb_etb_mixed_join_algebra_matches_simulation); lowered via
    the shared arrival-instant machinery
    (siddhiql.py:_run_join_mixed_ll + _etb_instant_artifacts)."""
    from siddhi_execution_unique_spark import siddhiql as sq

    app = """
    from clicks#window.unique:lengthBatch(user_id, 50) join purchases#window.unique:externalTimeBatch(user_id, ts, 2 hours, 0)
    on clicks.user_id == purchases.user_id
    select clicks.user_id as user_id, clicks.event_id as click_event_id, purchases.event_id as purchase_event_id, channel
    insert all events into joined ;
    """
    return sq.run_app(app, _split_clicks_purchases(spark, sf_dir),
                      tiebreak="event_id")["joined"]


def q_siddhiql_join_mixed_external_pair_all(spark, sf_dir):
    """Expired/all channels for two externalTimeBatch windows on
    DIFFERENT grids (2 h vs 1 h): each side's flush chunks probe the
    other side's last flushed batch at the flushing arrival's
    (ts, tiebreak) instant. Simulation-certified
    (tests/test_properties.py::test_etb_etb_mixed_join_algebra_
    matches_simulation). With this, EVERY mixed batch-window pair
    channel is lowered — no eager edges remain for batch pairs."""
    from siddhi_execution_unique_spark import siddhiql as sq

    app = """
    from clicks#window.unique:externalTimeBatch(user_id, ts, 2 hours, 0) join purchases#window.unique:externalTimeBatch(user_id, ts, 1 hour, 0)
    on clicks.user_id == purchases.user_id
    select clicks.user_id as user_id, clicks.event_id as click_event_id, purchases.event_id as purchase_event_id, channel
    insert all events into joined ;
    """
    return sq.run_app(app, _split_clicks_purchases(spark, sf_dir),
                      tiebreak="event_id")["joined"]


def q_siddhiql_join_ever_tb_all(spark, sf_dir):
    """Expired/all channels for a NON-BATCH window ⋈ batch window
    join (VERDICT r12 item 2 — the last join-channel family):
    unique:ever holds the latest event per key FOREVER, the displaced
    event expiring at the displacing arrival
    (UniqueEverWindowProcessor.java:157-165), so its live intervals
    [arrival, next same-key arrival) probe the timeBatch find() state
    at both ends while the batch window's tick chunks probe whichever
    interval covers the tick. Simulation-certified
    (tests/test_properties.py::test_x_tb_join_channels_algebra_
    matches_simulation); lowered through the shared instant-pair
    machinery (siddhiql.py:_run_join_mixed_ll with
    _tb_instant_artifacts — flush ticks as 3-strata timer instants),
    where the batch chunks probe ever's long/open intervals via the
    ZERO-fan-out as-of lookup rather than a banded explode."""
    from siddhi_execution_unique_spark import siddhiql as sq

    app = """
    from clicks#window.unique:ever(user_id) join purchases#window.unique:timeBatch(user_id, 1 hour)
    on clicks.user_id == purchases.user_id
    select clicks.user_id as user_id, clicks.event_id as click_event_id, purchases.event_id as purchase_event_id, channel
    insert all events into joined ;
    """
    return sq.run_app(app, _split_clicks_purchases(spark, sf_dir),
                      tiebreak="event_id")["joined"]


def q_siddhiql_join_time_tb_all(spark, sf_dir):
    """unique:time(30 min) ⋈ unique:timeBatch(1 hour) expired/all
    channels: the sliding window's TIMER exits (enter + T unless
    displaced first, UniqueTimeWindowProcessor.java:177-215) probe
    the batch window's PRE-flush find() state when a timer collides
    with a flush tick (scheduler exits precede enters at a shared
    instant — the certified convention), while displacement exits
    probe post-flush. The hardest X-window algebra: timer/tick
    collisions, kind-dependent visibility at interval ends.
    Simulation-certified (test_x_tb_join_channels_algebra_matches_
    simulation, 400 hypothesis cases + 6,000-trial sweep)."""
    from siddhi_execution_unique_spark import siddhiql as sq

    app = """
    from clicks#window.unique:time(user_id, 30 min) join purchases#window.unique:timeBatch(user_id, 1 hour)
    on clicks.user_id == purchases.user_id
    select clicks.user_id as user_id, clicks.event_id as click_event_id, purchases.event_id as purchase_event_id, channel
    insert all events into joined ;
    """
    return sq.run_app(app, _split_clicks_purchases(spark, sf_dir),
                      tiebreak="event_id")["joined"]


def q_siddhiql_join_length_tb_all(spark, sf_dir):
    """unique:length(20) ⋈ unique:timeBatch(1 hour) expired/all
    channels: the sliding FIFO's live intervals end at a same-key
    replacement (UniqueLengthWindowProcessor.java:148-157) or the
    FIFO eviction by the 20th distinct other key (:158-166) — the
    idealized-FIFO convention pinned since r01. Eviction instants
    come from the bounded-state serial scan
    (operators/length.py:length_exit_instants); the join itself stays
    the two-join interval algebra. The DuckDB oracle derives the same
    exits positionally (the n-th distinct OTHER key first-occurring
    after p — the certified closed form of the ordered emission
    oracle) with a gap-bounded join, no recursion."""
    from siddhi_execution_unique_spark import siddhiql as sq

    app = """
    from clicks#window.unique:length(user_id, 20) join purchases#window.unique:timeBatch(user_id, 1 hour)
    on clicks.user_id == purchases.user_id
    select clicks.user_id as user_id, clicks.event_id as click_event_id, purchases.event_id as purchase_event_id, channel
    insert all events into joined ;
    """
    return sq.run_app(app, _split_clicks_purchases(spark, sf_dir),
                      tiebreak="event_id")["joined"]


def q_siddhiql_join_ever_lb_all(spark, sf_dir):
    """Expired/all channels for a NON-BATCH ⋈ ARRIVAL-DRIVEN batch
    pair (the closing half of VERDICT r12 item 2):
    unique:lengthBatch(50) ⋈ unique:ever. Both sides transition on
    arrivals, so the lowering is the instant-space pair algebra
    (siddhiql.py:_x_instant_artifacts via _run_join_mixed_ll): the
    lB chain's fire chunks probe ever's live intervals [arrival,
    next same-key arrival) and ever's per-arrival chunks probe the
    lB forming map, all with strict lexicographic (ms, tiebreak)
    bounds. Simulation-certified (tests/test_properties.py::
    test_x_lb_join_channels_algebra_matches_simulation, 300
    hypothesis cases + a 6,000-trial randomized sweep)."""
    from siddhi_execution_unique_spark import siddhiql as sq

    app = """
    from clicks#window.unique:lengthBatch(user_id, 50) join purchases#window.unique:ever(user_id)
    on clicks.user_id == purchases.user_id
    select clicks.user_id as user_id, clicks.event_id as click_event_id, purchases.event_id as purchase_event_id, channel
    insert all events into joined ;
    """
    return sq.run_app(app, _split_clicks_purchases(spark, sf_dir),
                      tiebreak="event_id")["joined"]


def q_siddhiql_join_time_etb_all(spark, sf_dir):
    """unique:time(30 min) ⋈ unique:externalTimeBatch(1 hour, 0)
    expired/all channels — the hardest arrival-pair algebra: the
    sliding window's TIMER exits (enter + T unless displaced first,
    UniqueTimeWindowProcessor.java:177-215) are instants (t, -inf)
    that precede every arrival at t, encoded as flag-guarded NULL
    tiebreaks in the instant join (siddhiql.py:_x_instant_artifacts);
    the external side's present slots flush at the next slot's first
    event (UniqueExternalTimeBatchWindowProcessor.java:304-326).
    Simulation-certified (test_x_etb_join_channels_algebra_matches_
    simulation)."""
    from siddhi_execution_unique_spark import siddhiql as sq

    app = """
    from clicks#window.unique:time(user_id, 30 min) join purchases#window.unique:externalTimeBatch(user_id, ts, 1 hour, 0)
    on clicks.user_id == purchases.user_id
    select clicks.user_id as user_id, clicks.event_id as click_event_id, purchases.event_id as purchase_event_id, channel
    insert all events into joined ;
    """
    return sq.run_app(app, _split_clicks_purchases(spark, sf_dir),
                      tiebreak="event_id")["joined"]


def q_siddhiql_join_time_time_all(spark, sf_dir):
    """NON-BATCH ⋈ NON-BATCH expired/all channels (r13, the final
    join family — with this, every unique-window pair outside
    timeLengthBatch's hybrid protocol is lowered on all channels):
    two unique:time sliding windows, both sides carrying TIMER exits
    with flag-guarded NULL tiebreaks in the instant join
    (siddhiql.py:_x_instant_artifacts). The SHARED-timer-instant edge
    (equal T + same-ms cross-stream arrivals: both windows expire
    simultaneously, each ripe exit sees the other side's
    PRE-transition state; probe timers sort (t,-2), leave timers
    (t,-1)) cannot occur on the ms-granular driver corpus — it is
    pinned by the collision-dense pytest layer instead
    (tests/test_properties.py::test_x_x_join_channels_algebra_
    matches_simulation, 400 hypothesis cases + an 8,000-trial
    randomized sweep; Spark-vs-algebra in
    test_join_x_x_channels_match_certified_algebra)."""
    from siddhi_execution_unique_spark import siddhiql as sq

    app = """
    from clicks#window.unique:time(user_id, 30 min) join purchases#window.unique:time(user_id, 30 min)
    on clicks.user_id == purchases.user_id
    select clicks.user_id as user_id, clicks.event_id as click_event_id, purchases.event_id as purchase_event_id, channel
    insert all events into joined ;
    """
    return sq.run_app(app, _split_clicks_purchases(spark, sf_dir),
                      tiebreak="event_id")["joined"]


def q_siddhiql_join_ever_tlb_all(spark, sf_dir):
    """unique:timeLengthBatch(6 hours, 20) ⋈ unique:ever expired/all
    channels — the LAST remaining mixed family (timeLengthBatch's
    hybrid time+count fire protocol): the fixed boundary grid makes
    intervals independent (the post-length-fire discard flag clears
    exactly at the next boundary,
    UniqueTimeLengthBatchWindowProcessor.java:261-271), so the chain
    lowers to per-interval window functions with NO serial scan
    (siddhiql.py:_tlb_instant_artifacts). Time fires are ENTER-probe
    timers (flush ticks see post-transition state), drains at
    boundaries are EXIT-probe timers (pre-transition) — the 3-strata
    sub-ms instant encoding. At sf0.01 the 6h/20 config fires BOTH
    kinds (19 length + 101 time fires). Simulation-certified
    (tests/test_properties.py::test_x_tlb_join_channels_algebra_
    matches_simulation, 400 hypothesis cases + an 8,000-trial
    randomized sweep)."""
    from siddhi_execution_unique_spark import siddhiql as sq

    app = """
    from clicks#window.unique:timeLengthBatch(user_id, 6 hours, 20) join purchases#window.unique:ever(user_id)
    on clicks.user_id == purchases.user_id
    select clicks.user_id as user_id, clicks.event_id as click_event_id, purchases.event_id as purchase_event_id, channel
    insert all events into joined ;
    """
    return sq.run_app(app, _split_clicks_purchases(spark, sf_dir),
                      tiebreak="event_id")["joined"]


def q_siddhiql_join_tlb_tb_all(spark, sf_dir):
    """unique:timeLengthBatch(6 hours, 20) ⋈ unique:timeBatch(4 hours)
    expired/all channels — the LAST join-channel square (VERDICT r13
    item 4): timeLengthBatch against another batch window. Both sides
    carry timer probes (tlb time fires / drains; every timeBatch
    flush and drain), so the join exercises the full flag-guarded
    3-strata tie rules in both directions — timer enters vs tick
    probes, exit probes seeing pre-transition state at shared grid
    instants (6h and 4h grids collide every 12h), and the timeBatch
    last batch findable forever against tlb drains beyond its
    horizon. Two-processor-replay-certified
    (tests/test_properties.py::test_tlb_tb_join_channels_algebra_
    matches_simulation, 400 hypothesis cases + an 8,000-trial
    randomized sweep across all four tlb⋈batch pairs;
    Spark-vs-algebra in tests/test_siddhiql.py::
    test_join_tlb_batch_channels_match_certified_algebra)."""
    from siddhi_execution_unique_spark import siddhiql as sq

    app = """
    from clicks#window.unique:timeLengthBatch(user_id, 6 hours, 20) join purchases#window.unique:timeBatch(user_id, 4 hours)
    on clicks.user_id == purchases.user_id
    select clicks.user_id as user_id, clicks.event_id as click_event_id, purchases.event_id as purchase_event_id, channel
    insert all events into joined ;
    """
    return sq.run_app(app, _split_clicks_purchases(spark, sf_dir),
                      tiebreak="event_id")["joined"]


def q_siddhiql_partitioned_time(spark, sf_dir):
    """`partition with (attr of Stream)`: an independent window
    instance per partition value. unique:time's timer is driven by
    each instance's OWN event-time front, so the live set is
    ts > max(ts) OVER (PARTITION BY attr) - T — distinguishable from
    the naive composite-key global-edge form whenever partition maxima
    differ."""
    from siddhi_execution_unique_spark import siddhiql as sq

    app = """
    partition with (event_type of events)
    begin
        from events#window.unique:time(user_id, 1 day)
        select event_type, user_id, event_id
        insert into recent;
    end
    """
    return sq.run_app(app, {"events": _events(spark, sf_dir)},
                      tiebreak="event_id")["recent"]


def q_siddhiql_group_having(spark, sf_dir):
    """Explicit `group by` + `having` clauses over window contents —
    the general-Siddhi aggregation shape (group keys need not appear
    in the select list; having filters on select aliases)."""
    from siddhi_execution_unique_spark import siddhiql as sq

    app = """
    from events#window.unique:ever(user_id)
    select event_type, count() as n, max(value) as vmax
    group by event_type
    having n > 20
    insert into agg;
    """
    return sq.run_app(app, {"events": _events(spark, sf_dir)},
                      tiebreak="event_id")["agg"]


def q_siddhiql_partitioned_expr_key_agg(spark, sf_dir):
    """The last composition square (VERDICT r09 item 5): EXPRESSION
    keys × `partition with` × group-by/having in one SiddhiQL text.
    The reference evaluates arbitrary ExpressionExecutors as unique
    keys (UniqueEverWindowProcessor.java:216-222); here `user_id % 4`
    is the key, each event_type instance owns its own window, and the
    aggregate select runs over the per-instance retained rows.
    Lowered to one composite-key hash aggregation (instance attr +
    staged expression key) feeding one group-by — no funnel."""
    from siddhi_execution_unique_spark import siddhiql as sq

    app = """
    partition with (event_type of events)
    begin
        from events#window.unique:ever(user_id % 4)
        select event_type, count() as n_buckets,
               min(event_id) as min_id, max(event_id) as max_id
        group by event_type
        having n_buckets > 2
        insert into agg;
    end
    """
    return sq.run_app(app, {"events": _events(spark, sf_dir)},
                      tiebreak="event_id")["agg"]


def q_streaming_dedup_parity(spark, sf_dir):
    """Batch/stream equivalence under the DRIVER hash (not just
    pytest): replay the events table as a file-stream, run the
    ``deduplicate_exact_stream`` twin (per-key anchored chain in
    ``applyInPandasWithState``, streaming/__init__.py), sink to
    parquet with an availableNow trigger, and return the sunk rows.
    The oracle is the batch ``unique:deduplicate`` recursive SQL —
    the two engines must agree row-for-row on the kept chain
    (DeduplicateStreamProcessor.java:155-178 semantics)."""
    from siddhi_execution_unique_spark import streaming as stw

    work = _stream_work(prefix="sgraft_dedup_stream_")
    sdf = _stream_events_replay(spark, sf_dir, work)
    out = stw.deduplicate_exact_stream(sdf, "user_id", HOUR, ts="ts")
    # project epoch-millis BEFORE the sink: parquet round-trips of
    # timestamp columns come back TIMESTAMP_NTZ under Spark 4's
    # inference, and reinterpreting the naive value is only correct in
    # a UTC session — a bigint is timezone-proof in any driver session
    out = out.select(
        "event_id",
        F.unix_millis("ts").alias("ts_ms"),
        "user_id", "event_type", "value", "props",
    )
    return _drain(spark, out, work).select(*_EVENT_COLS)


def q_streaming_length_parity(spark, sf_dir):
    """Second streaming-twin driver certification, this one for a
    DUAL-CHANNEL stateful twin: the unique:length FIFO
    (`streaming.length_window_stream`, the reference's per-arrival
    current/expired emission protocol) run over a file-stream replay
    and checked against the batch emission-log CLOSED FORM oracle
    (`_length_emissions_oracle`) — the twin's per-arrival walk and the
    window+join algebra must produce the identical emission multiset."""
    from siddhi_execution_unique_spark import streaming as stw

    work = _stream_work(prefix="sgraft_length_stream_")
    sdf = _stream_events_replay(spark, sf_dir, work)
    out = stw.length_window_stream(sdf, "user_id", 100, ts="ts")
    return _drain(spark, out.select("event_id", "user_id", "channel"), work)


_REPLAY_SORT = {"events": ("ts", "event_id"), "documents": ("doc_id",),
                "embeddings": ("vec_id",)}

_STREAM_WORK_DIRS: list[str] = []


def _stream_work(prefix: str) -> str:
    """A fresh work dir for one entry invocation. The oldest dirs
    beyond the last five are deleted here, not by the entry that made
    them: its result may still read from the dir (see :func:`_drain`)."""
    while len(_STREAM_WORK_DIRS) > 4:
        shutil.rmtree(_STREAM_WORK_DIRS.pop(0), ignore_errors=True)
    work = tempfile.mkdtemp(prefix=prefix)
    _STREAM_WORK_DIRS.append(work)
    return work


def _drain(spark, out: DataFrame, work: str, sink: str = "parquet",
           mode: str = "append", name: str | None = None) -> DataFrame:
    """Run the streaming query ``out`` over all its available input
    (``trigger(availableNow=True)``) and return what its sink holds.

    The query checkpoints to ``work/ckpt``, so a second call over the
    same ``work`` resumes the same query. A ``parquet`` or ``evtlog``
    sink writes to ``work/out`` and the result is the lazy batch read
    of that directory; a ``memory`` sink registers the table ``name``
    and the result is ``spark.table(name)``.

    The result is not copied before returning, so the work dir must
    outlive the call: :func:`_stream_work` deletes it a few
    certifications later. That is safe because every caller of
    ``queries()`` (bench.py, the correctness gate, the parity suites)
    consumes an entry's result before the next entry runs, and it
    saves an eager second copy of every result. Nothing is cached across runs: each invocation stages fresh
    inputs, runs the stream and reads its own sink."""
    w = (
        out.writeStream.format(sink)
        .outputMode(mode)
        .option("checkpointLocation", os.path.join(work, "ckpt"))
        .trigger(availableNow=True)
    )
    if sink == "memory":
        w.queryName(name).start().awaitTermination()
        return spark.table(name)
    path = os.path.join(work, "out")
    w.option("path", path).start().awaitTermination()
    return spark.read.format(sink).option("path", path).load()


def _stage_replay_file(spark, sf_dir: str, table: str, dest: str):
    """Stage one table as a SINGLE parquet file for file-stream replay
    (one file -> one micro-batch). Driver testdata ships single-file
    tables (copied as-is); rebuilt scale corpora (/tmp/sf1) are
    Spark-written parquet DIRECTORIES, consolidated here into one
    single-partition file sorted by the replay convention's arrival
    order (the same (ts, tiebreak) the oracles replay) so the
    certification feeds at any scale. Returns the table schema."""
    src = os.path.join(sf_dir, table + ".parquet")
    if not os.path.isdir(src):
        shutil.copy(src, dest)
        return spark.read.parquet(src).schema
    df = spark.read.parquet(src).repartition(1)
    sort_cols = _REPLAY_SORT.get(table)
    if sort_cols:
        df = df.sortWithinPartitions(*sort_cols)
    tmp = dest + ".tmp"
    df.write.mode("overwrite").parquet(tmp)
    part = next(f for f in sorted(os.listdir(tmp)) if f.endswith(".parquet"))
    shutil.move(os.path.join(tmp, part), dest)
    shutil.rmtree(tmp, ignore_errors=True)
    return df.schema


def _stamp_arrival_order(indir: str, names: list) -> None:
    """Pin a multi-file stream feed's ARRIVAL ORDER: FileStreamSource
    sorts new files by Hadoop mtime, which is millisecond-granular,
    so two files landing in the same ms tie and fall back to listing
    order (inode order on a local fs) — a real full-suite flake in
    the two-file sink test. Stamp strictly increasing mtimes in the
    intended order. The base is a few minutes in the PAST of the real
    clock, not a fixed ancient epoch (ADVICE r11): FileStreamSource's
    default maxFileAge=7d purges listings older than (newest file −
    7d), so an epoch-2001 base would silently drop every stamped file
    the moment any unstamped file (mtime ~now) landed in the same
    directory."""
    base = float(int(time.time())) - 600.0
    for i, name in enumerate(names):
        t = base + i
        os.utime(os.path.join(indir, name), (t, t))


def _write_sentinel_row(staged: str, dest: str) -> None:
    """Write a one-row watermark-sentinel parquet next to a staged
    replay file: row 0 of the staged file with ``event_id`` and
    ``user_id`` forced to -1 and ``ts`` forced to (max ts + 365 days),
    same column types. Pure pyarrow — no Spark jobs — and unit-safe
    for every ts physical type the driver corpora have shipped
    (TIMESTAMP ns/µs, NTZ): the shift is applied on the int64 view in
    the column's own unit."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as papq

    tbl = papq.read_table(staged)
    if tbl.num_rows == 0:
        # pc.max of an empty column is null; set_column would then fail
        # with an opaque length mismatch — name the real problem instead
        raise ValueError(
            f"_write_sentinel_row: staged replay file {staged!r} is "
            "empty; cannot derive a watermark sentinel from zero rows")
    one = tbl.slice(0, 1)

    def _replace(t, name, arr):
        i = t.schema.get_field_index(name)
        return t.set_column(i, t.schema.field(name), arr)

    for col in ("event_id", "user_id"):
        typ = tbl.schema.field(col).type
        one = _replace(one, col, pa.array([-1]).cast(typ))
    ts_type = tbl.schema.field("ts").type
    if pa.types.is_timestamp(ts_type):
        mult = {"s": 1, "ms": 10**3, "us": 10**6, "ns": 10**9}[ts_type.unit]
    else:  # int64 nanos (legacy TIMESTAMP(NANOS) read as long)
        mult = 10**9
    far = pc.max(tbl.column("ts").cast(pa.int64())).as_py()
    sent_ts = pa.array([far + 365 * 86400 * mult], type=pa.int64()).cast(ts_type)
    one = _replace(one, "ts", sent_ts)
    papq.write_table(one, dest)


def _stream_events_replay(spark, sf_dir: str, work: str, table: str = "events"):
    """File-stream replay of one table for the streaming-twin
    certifications: one parquet file -> one micro-batch. Only the
    events table carries an event-time column."""
    from siddhi_execution_unique_spark.streaming.sources import stream_table

    indir = os.path.join(work, "in")
    os.makedirs(indir)
    schema = _stage_replay_file(
        spark, sf_dir, table, os.path.join(indir, table + ".parquet"))
    return stream_table(spark, indir, schema,
                        ts="ts" if table == "events" else None)


def q_streaming_ever_parity(spark, sf_dir):
    """Driver certification of the ``ever_stream`` twin — the
    reference's core update-mode behavior (UniqueEverWindowProcessor
    .java:153-166): replay the events table as a file-stream through
    the keyed max_by aggregation; the complete-mode final state must
    equal batch ``unique:ever`` row-for-row (oracle: the same
    _EVER_SQL the batch entry certifies against)."""
    from siddhi_execution_unique_spark import streaming as stw

    work = _stream_work(prefix="sgraft_ever_stream_")
    sdf = _stream_events_replay(spark, sf_dir, work)
    out = stw.ever_stream(sdf, "user_id", ts="ts").select(
        "event_id", F.unix_millis("ts").alias("ts_ms"),
        "user_id", "event_type", "value", "props",
    )
    return _drain(spark, out, work, sink="memory", mode="complete",
                  name="sgraft_ever_parity_sink")


def q_streaming_time_batch_parity(spark, sf_dir):
    """Driver certification of the ``tumbling_batch_stream`` twin
    (unique:timeBatch): event-time tumbling window + keyed retain-one
    aggregation over a file-stream replay; the complete-mode final
    state must equal the batch hourly-grid operator (oracle: the
    unique_time_batch SQL)."""
    from siddhi_execution_unique_spark import streaming as stw

    work = _stream_work(prefix="sgraft_tbatch_stream_")
    sdf = _stream_events_replay(spark, sf_dir, work)
    out = stw.tumbling_batch_stream(sdf, "user_id", HOUR, ts="ts").select(
        "event_id", F.unix_millis("ts").alias("ts_ms"),
        "user_id", "event_type", "value", "props",
        "batch_start_ms", "batch_end_ms",
    )
    return _drain(spark, out, work, sink="memory", mode="complete",
                  name="sgraft_tbatch_parity_sink")


def q_streaming_length_batch_parity(spark, sf_dir):
    """Driver certification of the DUAL-CHANNEL ``length_batch_stream``
    twin: the per-arrival N-distinct-keys fire chain with the
    reference's expired re-emission protocol
    (UniqueLengthBatchWindowProcessor.java:165,171-191), replayed over
    a file-stream and checked against the batch recursive fire-chain
    oracle: current = every fired batch, expired = every batch with a
    successor fire, at its own batch_seq."""
    from siddhi_execution_unique_spark import streaming as stw

    work = _stream_work(prefix="sgraft_lbatch_stream_")
    sdf = _stream_events_replay(spark, sf_dir, work)
    out = stw.length_batch_stream(sdf, "user_id", 50, ts="ts")
    return _drain(
        spark, out.select("event_id", "user_id", "batch_seq", "channel"), work)


def q_siddhiql_streaming_agg_parity(spark, sf_dir):
    """VERDICT r06 item 8 driver certification: the SAME SiddhiQL
    aggregate-select text (`select event_type, count() as n ... group
    by ... having`) over a unique:ever window runs against a
    file-stream replay through the foreachBatch lowering
    (siddhiql.run_app_streaming_aggregates) and must land on the batch
    engine's final state — the oracle is the identical SQL the batch
    siddhiql_group_having entry certifies against."""
    from siddhi_execution_unique_spark import siddhiql as sq

    app = """
    from events#window.unique:ever(user_id)
    select event_type, count() as n, max(value) as vmax
    group by event_type
    having n > 20
    insert into agg;
    """
    work = _stream_work(prefix="sgraft_sql_agg_parity_")
    sdf = _stream_events_replay(spark, sf_dir, work)
    return sq.run_app_streaming_aggregates(app, {"events": sdf})["agg"]


def q_streaming_time_length_batch_parity(spark, sf_dir):
    """Driver certification of the ``time_length_batch_stream`` twin's
    CURRENT channel: the single-group arrival-order fire chain
    (length fire -> discard-until-boundary, event-driven time fires)
    over a file-stream replay must land on the batch interval algebra
    (oracle: _time_length_batch_oracle with the same per-type filter).
    Filtered to one event_type to bound the single-state-group cost —
    the semantics under certification are identical."""
    from siddhi_execution_unique_spark import streaming as stw

    work = _stream_work(prefix="sgraft_tlb_stream_")
    sdf = _stream_events_replay(spark, sf_dir, work).filter(
        F.col("event_type") == "purchase"
    )
    out = stw.time_length_batch_stream(sdf, "user_id", 6 * HOUR, 20, ts="ts")
    out = out.filter(F.col("channel") == "current").select(
        "event_id", "user_id", "batch_seq", "fired_at_ms", "fire_reason")
    return _drain(spark, out, work)


_RT_SCHEMA = (
    "event_id long, ts_ms long, user_id long, event_type string, "
    "value double, props string"
)


def _q_source_roundtrip(spark, sf_dir, fmt: str):
    """Text-format source/sink certification: events → write as
    ``fmt`` → read back through ``sources.load_path`` with an
    explicit schema (never inference — at 100 TB that is a second
    full pass) → unique:ever → the same _EVER_SQL oracle the parquet
    path certifies against. Timestamps travel as epoch-ms longs (the
    oracle's own representation) so text serialization can't lose
    sub-millisecond precision; doubles and JSON-bearing props survive
    quoting round-trip exactly."""
    from siddhi_execution_unique_spark import sources as src

    work = _stream_work(prefix=f"sgraft_{fmt}_src_")
    path = os.path.join(work, f"events_{fmt}")
    flat = _events(spark, sf_dir).select(
        "event_id", F.unix_millis("ts").alias("ts_ms"),
        "user_id", "event_type", "value", "props",
    )
    src.write_table(flat, path, fmt)
    back = src.load_path(spark, path, fmt, _RT_SCHEMA)
    return ops.ever(back, "user_id", ts="ts_ms", tiebreak="event_id").select(
        "event_id", "ts_ms", "user_id", "event_type", "value", "props"
    )


def q_source_python_datasource(spark, sf_dir):
    """Spark 4 PYTHON DATA SOURCE certification
    (``pyspark.sql.datasource``): events travel through the
    from-scratch ``evtlog`` sink (one JSON array per line,
    per-write-task files) and back through its reader — both
    registered Python classes Spark schedules as ordinary write/scan
    tasks — then unique:ever runs over the round-tripped stream,
    certified against the same _EVER_SQL oracle as the parquet and
    csv/jsonl source paths (sources/eventlog.py; the reference's
    custom-io extension surface, SURVEY.md §2b)."""
    from siddhi_execution_unique_spark.sources.eventlog import register_eventlog

    register_eventlog(spark)
    work = _stream_work(prefix="sgraft_pyds_")
    path = os.path.join(work, "events_evtlog")
    flat = _events(spark, sf_dir).select(
        "event_id", F.unix_millis("ts").alias("ts_ms"),
        "user_id", "event_type", "value", "props",
    )
    flat.write.format("evtlog").mode("overwrite").option("path", path).save()
    back = spark.read.format("evtlog").option("path", path).load()
    return ops.ever(back, "user_id", ts="ts_ms", tiebreak="event_id").select(
        "event_id", "ts_ms", "user_id", "event_type", "value", "props"
    )


def q_streaming_python_sink_parity(spark, sf_dir):
    """CUSTOM STREAMING SINK certification (Spark 4
    ``DataSourceStreamWriter``): the evtlog Python sink stages each
    micro-batch task's rows and atomically publishes them in
    ``commit`` under deterministic ``part-<batchId>-<task>`` names
    (a replayed batch re-publishes the same names — exactly-once per
    batch id; ``abort`` unstages). It receives the
    ``deduplicate_exact_stream`` twin's append output over a
    file-stream replay; reading the published files back through the
    evtlog batch reader must hash-match the same batch
    recursive-chain oracle as ``streaming_dedup_parity``
    (sources/eventlog.py)."""
    from siddhi_execution_unique_spark import streaming as stw
    from siddhi_execution_unique_spark.sources.eventlog import register_eventlog

    register_eventlog(spark)
    work = _stream_work(prefix="sgraft_pysink_")
    sdf = _stream_events_replay(spark, sf_dir, work)
    out = stw.deduplicate_exact_stream(sdf, "user_id", HOUR, ts="ts").select(
        "event_id", F.unix_millis("ts").alias("ts_ms"),
        "user_id", "event_type", "value", "props",
    )
    return _drain(spark, out, work, sink="evtlog").select(*_EVENT_COLS)


def q_streaming_python_source_parity(spark, sf_dir):
    """CUSTOM STREAMING SOURCE certification (Spark 4
    ``SimpleDataSourceStreamReader``): events written through the
    evtlog batch sink stream back in through the evtlog streaming
    reader (offset = sorted-file position; an availableNow run
    snapshots ONE read() call as the available end, so the entry
    consumes all files in one batch — cross-restart offset
    persistence is pinned by the two-run shared-checkpoint pytest)
    feeding the complete-mode ever twin; the final state must
    hash-match the same _EVER_SQL oracle as every other ever path
    (sources/eventlog.py). With the batch entry, the stream sink, and
    this, all four quadrants of the Python DataSource API
    (batch/stream x read/write) are oracle-certified."""
    from siddhi_execution_unique_spark import streaming as stw
    from siddhi_execution_unique_spark.sources.eventlog import (
        EVENTLOG_SCHEMA,
        register_eventlog,
    )

    register_eventlog(spark)
    work = _stream_work(prefix="sgraft_pysrc_")
    path = os.path.join(work, "in")
    flat = _events(spark, sf_dir).select(
        "event_id", F.unix_millis("ts").alias("ts_ms"),
        "user_id", "event_type", "value", "props",
    )
    flat.write.format("evtlog").mode("overwrite").option("path", path).save()
    sdf = (
        spark.readStream.format("evtlog")
        .schema(EVENTLOG_SCHEMA)
        .option("path", path)
        .load()
    )
    out = stw.ever_stream(sdf, "user_id", ts="ts_ms")
    return _drain(spark, out, work, sink="memory", mode="complete",
                  name="pysrc_ever").select(*_EVENT_COLS)


def q_streaming_python_source_partitioned_parity(spark, sf_dir):
    """The SCALE-PATH custom streaming reader
    (``DataSourceStreamReader``, ``option("reader", "partitioned")``):
    the driver plans only file-position offsets and one InputPartition
    per file; rows are read ON THE EXECUTORS (the simple variant
    prefetches driver-side), so batch size is bounded by cluster
    width, not driver memory. The exact-dedup twin consumes the
    custom stream and must hash-match the batch recursive-chain
    oracle (sources/eventlog.py)."""
    from siddhi_execution_unique_spark import streaming as stw
    from siddhi_execution_unique_spark.sources.eventlog import (
        EVENTLOG_SCHEMA,
        register_eventlog,
    )

    register_eventlog(spark)
    work = _stream_work(prefix="sgraft_pysrcp_")
    path = os.path.join(work, "in")
    flat = _events(spark, sf_dir).select(
        "event_id", F.unix_millis("ts").alias("ts_ms"),
        "user_id", "event_type", "value", "props",
    )
    flat.write.format("evtlog").mode("overwrite").option("path", path).save()
    sdf = (
        spark.readStream.format("evtlog")
        .schema(EVENTLOG_SCHEMA)
        .option("path", path)
        .option("reader", "partitioned")
        .load()
    )
    out = stw.deduplicate_exact_stream(sdf, "user_id", HOUR, ts="ts_ms")
    return _drain(spark, out.select(*_EVENT_COLS), work).select(*_EVENT_COLS)


def q_source_csv_roundtrip(spark, sf_dir):
    return _q_source_roundtrip(spark, sf_dir, "csv")


def q_source_jsonl_roundtrip(spark, sf_dir):
    return _q_source_roundtrip(spark, sf_dir, "json")


def q_streaming_join_parity(spark, sf_dir):
    """Driver certification of the native watermarked stream-stream
    interval join (``streaming.interval_join_stream``) — the
    streaming analogue of the reference's window-contents joins
    (SURVEY.md §2b): click→purchase attribution per user within 30
    minutes, run as Spark's StreamingSymmetricHashJoin over a
    file-stream replay, checked pair-for-pair against the plain batch
    interval join (DuckDB oracle with the identical epoch-ms
    predicate)."""
    from siddhi_execution_unique_spark import streaming as stw

    work = _stream_work(prefix="sgraft_join_stream_")
    sdf = _stream_events_replay(spark, sf_dir, work)
    out = stw.interval_join_stream(
        sdf, "click", "purchase", 30 * 60 * 1000, key="user_id", ts="ts"
    )
    return _drain(spark, out, work)


def q_streaming_outer_join_parity(spark, sf_dir):
    """Driver certification of the LEFT-OUTER watermarked
    stream-stream interval join: unmatched clicks emit null-extended
    (-1 sentinel) rows exactly when the global min-policy watermark
    closes their match horizon. The oracle replicates the pinned
    eviction rule: an unmatched left row appears iff
    ``l_ms + within <= least(max_click_ms, max_purchase_ms) - delay``
    (boundary inequality and min-watermark policy both empirically
    pinned; see tests/test_streaming.py)."""
    from siddhi_execution_unique_spark import streaming as stw

    work = _stream_work(prefix="sgraft_ojoin_stream_")
    sdf = _stream_events_replay(spark, sf_dir, work)
    out = stw.interval_join_stream(
        sdf, "click", "purchase", 30 * 60 * 1000,
        key="user_id", ts="ts", how="left_outer",
    )
    return _drain(spark, out, work)


def q_source_bucketed_join(spark, sf_dir):
    """The bucketing story end-to-end: events and customer written as
    bucketed tables on their join keys, unique:ever over the bucketed
    events, then the dimension join — the WHOLE chain runs with ZERO
    exchanges (pinned by tests/test_plans.py): the bucketed scan
    satisfies the aggregation's distribution, and ever's output now
    reuses its grouping column so the distribution carries into the
    join. Pay the shuffle once at ingest; every later keyed pass is
    co-located. Oracle: the same result as the broadcast-join entry."""
    import uuid

    from siddhi_execution_unique_spark.sources import write_bucketed

    tag = uuid.uuid4().hex[:8]
    work = _stream_work(prefix="sgraft_bucketed_")
    te, tc = f"ev_bucketed_{tag}", f"cust_bucketed_{tag}"
    try:
        be = write_bucketed(
            _events(spark, sf_dir), te, "user_id",
            n_buckets=8, path=os.path.join(work, te),
        )
        bc = write_bucketed(
            load_table(spark, sf_dir, "customer"), tc, "c_custkey",
            n_buckets=8, path=os.path.join(work, tc),
        )
        latest = ops.ever(be, "user_id", ts="ts", tiebreak="event_id")
        out = (
            latest.select(
                "user_id", F.unix_millis("ts").alias("ts_ms"),
                "event_type", "value",
            )
            .join(bc, F.col("user_id") == F.col("c_custkey"), "inner")
            .select("user_id", "ts_ms", "event_type", "value",
                    "c_name", "c_mktsegment")
        )
        return out.localCheckpoint(eager=True)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {te}")
        spark.sql(f"DROP TABLE IF EXISTS {tc}")


def q_siddhiql_streaming_join_parity(spark, sf_dir):
    """The reference's window-to-window JOIN text executed over
    STREAMING inputs via siddhiql.run_app_streaming_join — the
    two-stage topology (each side's twin staged to its final
    contents, then the batch join lowering over the staged tables;
    Spark cannot join two streaming aggregates in one query). Lands
    bit-for-bit on the batch join's certified oracle."""
    from siddhi_execution_unique_spark import siddhiql as sq

    app = """
    define stream clicks (event_id long, user_id long, value double);
    define stream purchases (event_id long, user_id long, value double);
    from clicks#window.unique:ever(user_id) join purchases#window.unique:ever(user_id)
    on clicks.user_id== purchases.user_id
    select clicks.user_id as user_id, purchases.event_id as purchase_event_id, clicks.value as click_value
    insert into joined ;
    """
    work = _stream_work(prefix="sgraft_sqljoin_")
    sdf = _stream_events_replay(spark, sf_dir, work)
    streams = {
        "clicks": sdf.filter(F.col("event_type") == "click"),
        "purchases": sdf.filter(F.col("event_type") == "purchase"),
    }
    res = sq.run_app_streaming_join(app, streams, work_dir=work)["joined"]
    return res


def q_streaming_session_native_parity(spark, sf_dir):
    """Driver certification of Spark's NATIVE streaming
    ``session_window`` aggregate (append mode): each session emits
    exactly once when the watermark passes its end — pinned rule
    (tests/test_streaming.py): emitted iff
    ``session_end <= max(ts) - delay``, inclusive. The oracle is the
    batch native-semantics gaps-and-islands filtered by that
    watermark rule."""
    from siddhi_execution_unique_spark import streaming as stw

    work = _stream_work(prefix="sgraft_snb_stream_")
    sdf = _stream_events_replay(spark, sf_dir, work)
    out = stw.session_window_native_stream(sdf, 2 * HOUR)
    return _drain(spark, out, work)


def q_streaming_quantile_parity(spark, sf_dir):
    """Driver certification of the ``quantile_sample_stream`` twin:
    bottom-k row-hash samples merge exactly, so the streamed fold's
    final per-type row must equal the batch
    ``bottomk_sample_quantiles`` bit-for-bit (same JVM md5 hash, same
    integer-ceil rank selection) — certified against the batch
    operator's own DuckDB oracle."""
    from siddhi_execution_unique_spark import streaming as stw

    work = _stream_work(prefix="sgraft_qsk_stream_")
    sdf = _stream_events_replay(spark, sf_dir, work)
    out = stw.quantile_sample_stream(sdf)
    return _drain(spark, out, work, sink="memory", mode="update",
                  name="sgraft_qsk_parity_sink")


def q_streaming_rate_shape_parity(spark, sf_dir):
    """Certification for the ``rate_events`` synthetic source — the
    one twin a replay cannot certify end-to-end because the rate
    source's row arrival is wall-clock nondeterministic. Its
    value→event shaping is pure, so the shared
    ``shape_rate_events`` projection (the exact code path
    ``rate_events`` executes) is driven here by a DETERMINISTIC
    file-stream of (value, timestamp) ticks derived from the events
    table and oracle-checked column-for-column."""
    from siddhi_execution_unique_spark.streaming.sources import shape_rate_events

    work = _stream_work(prefix="sgraft_rate_shape_")
    indir = os.path.join(work, "in")
    os.makedirs(indir)
    # one file -> ONE micro-batch: the shaping is stateless, so
    # multi-batch replay adds nothing but per-batch overhead (a
    # 32-file write made this the most expensive bench entry)
    _events(spark, sf_dir).select(
        F.col("event_id").alias("value"),
        F.col("ts").alias("timestamp"),
    ).coalesce(1).write.mode("overwrite").parquet(indir)
    schema = spark.read.parquet(indir).schema
    sdf = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(indir)
    )
    out = shape_rate_events(sdf).select(
        "event_id", "user_id", "event_type", "value", "props"
    )
    return _drain(spark, out, work)


def q_streaming_external_time_batch_parity(spark, sf_dir):
    """Driver certification of the ``external_time_batch_stream``
    twin: event-driven boundary flushes (first-event anchor, flush
    when an arrival crosses the forming batch's end) over a
    file-stream replay. The final forming batch never flushes without
    time.out, exactly the reference's event-driven behavior — the
    oracle is the batch externalTimeBatch algebra minus the last
    present batch, on the same per-type filter."""
    from siddhi_execution_unique_spark import streaming as stw

    work = _stream_work(prefix="sgraft_etb_stream_")
    sdf = _stream_events_replay(spark, sf_dir, work).filter(
        F.col("event_type") == "purchase"
    )
    out = stw.external_time_batch_stream(sdf, "user_id", 2 * HOUR, ts="ts")
    return _drain(spark, out.select(
        "event_id", "user_id", "batch_start_ms", "batch_end_ms"), work)


def q_streaming_kmv_parity(spark, sf_dir):
    """Driver certification of the ``kmv_stream`` sketch twin: the KMV
    sketch is mergeable and order-independent, so the streamed
    fold's final estimate must equal the batch operator's to the last
    bit (same md5-derived hash, same rounded estimator). Projected to
    (event_type, kmv_estimate) — the twin reports the sketch size
    n_k = min(k, distinct), not the exact count."""
    from siddhi_execution_unique_spark import streaming as stw

    work = _stream_work(prefix="sgraft_kmv_stream_")
    sdf = _stream_events_replay(spark, sf_dir, work)
    out = stw.kmv_stream(sdf).select("event_type", "kmv_estimate")
    return _drain(spark, out, work, sink="memory", mode="update",
                  name="sgraft_kmv_parity_sink")


def q_streaming_countmin_parity(spark, sf_dir):
    """Driver certification of the ``countmin_stream`` twin: count-min
    cells merge by SUM, so the complete-mode final (i, cell, c) table
    must equal the batch sketch's cells row-for-row (same md5 cell
    hash on both engines)."""
    from siddhi_execution_unique_spark import streaming as stw

    work = _stream_work(prefix="sgraft_cm_stream_")
    sdf = _stream_events_replay(spark, sf_dir, work)
    return _drain(spark, stw.countmin_stream(sdf), work, sink="memory",
                  mode="complete", name="sgraft_cm_parity_sink")


def q_streaming_sessionize_parity(spark, sf_dir):
    """Driver certification of the ``sessionize_stream`` twin: replay
    the events file, then a far-future watermark SENTINEL event
    (user_id -1) in a second micro-batch — the advanced watermark
    fires every open session's EventTimeTimeout, so the closed-session
    stream (sentinel excluded) must equal the batch sessionize
    row-for-row, session_seq included."""
    from siddhi_execution_unique_spark import streaming as stw
    from siddhi_execution_unique_spark.streaming.sources import stream_table

    work = _stream_work(prefix="sgraft_sess_stream_")
    indir = os.path.join(work, "in")
    os.makedirs(indir)
    schema = _stage_replay_file(
        spark, sf_dir, "events", os.path.join(indir, "0_events.parquet"))
    # the sentinel is one row with user_id/event_id = -1 and a ts a
    # year past every event (its exact value is immaterial — the
    # result filter drops it; it only advances the watermark), so
    # build it driver-side with pyarrow instead of three Spark jobs
    # (max-agg collect, one-row write, schema re-read) on the timed
    # path — the staged file is single-row-group local parquet
    _write_sentinel_row(
        os.path.join(indir, "0_events.parquet"),
        os.path.join(indir, "1_sentinel.parquet"))
    _stamp_arrival_order(indir, ["0_events.parquet", "1_sentinel.parquet"])
    sdf = stream_table(spark, indir, schema)
    out = stw.sessionize_stream(sdf, 2 * HOUR, ts="ts")
    return _drain(spark, out, work).filter(F.col("user_id") >= 0)


def q_streaming_time_window_parity(spark, sf_dir):
    """Driver certification of the dual-channel ``time_window_stream``
    twin (unique:time): every arrival emits current and the replaced
    event expires immediately; the retained event expires when the
    watermark passes its ts + T (EventTimeTimeout). Closed form for
    the replay: an event expires iff a later same-key event exists, or
    its ts + T lies strictly below the final watermark
    (max ts - the 10 s delay)."""
    from siddhi_execution_unique_spark import streaming as stw

    work = _stream_work(prefix="sgraft_tw_stream_")
    sdf = _stream_events_replay(spark, sf_dir, work)
    out = stw.time_window_stream(sdf, "user_id", DAY, ts="ts")
    return _drain(spark, out.select("event_id", "user_id", "channel"), work)


def q_streaming_first_parity(spark, sf_dir):
    """Driver certification of the ``first_stream`` twin
    (unique:first, UniqueFirstWindowProcessor.java:129-132): streaming
    ``dropDuplicates`` keeps the FIRST ARRIVAL per key, so the replay
    is written pre-sorted by (ts, event_id) into one file / one map
    partition — arrival order is then the reference's canonical
    event-time order and the kept row per key is exactly the batch
    unique:first row (oracle: _FIRST_SQL)."""
    from siddhi_execution_unique_spark import streaming as stw
    from siddhi_execution_unique_spark.streaming.sources import stream_table

    work = _stream_work(prefix="sgraft_first_stream_")
    indir = os.path.join(work, "in")
    (
        _events(spark, sf_dir)
        .repartition(1)
        .sortWithinPartitions("ts", "event_id")
        .write.parquet(indir)
    )
    schema = spark.read.parquet(indir).schema
    out = stw.first_stream(stream_table(spark, indir, schema), "user_id")
    out = out.select(
        "event_id", F.unix_millis("ts").alias("ts_ms"),
        "user_id", "event_type", "value", "props",
    )
    return _drain(spark, out, work).select(*_EVENT_COLS)


def q_streaming_ever_dual_parity(spark, sf_dir):
    """Driver certification of ``ever_stream_dual`` — the reference's
    exact dual-channel ever emission protocol
    (UniqueEverWindowProcessor.java:153-166): every arrival emits
    current, the replaced event expires immediately, and (ever keeps
    state forever) nothing ever times out. Closed form: expired iff a
    later same-key event exists."""
    from siddhi_execution_unique_spark import streaming as stw

    work = _stream_work(prefix="sgraft_everdual_stream_")
    sdf = _stream_events_replay(spark, sf_dir, work)
    out = stw.ever_stream_dual(sdf, "user_id", ts="ts")
    return _drain(spark, out.select("event_id", "user_id", "channel"), work)


def q_streaming_asof_parity(spark, sf_dir):
    """Driver certification of the ``asof_stream`` twin — continuous
    point-in-time enrichment with the batch as-of join's inclusive
    ``<=`` / greatest-(ts, id) tie rule: clicks are the reference
    stream, purchases emit enriched with the last click at-or-before
    their event time. The oracle is the SAME SQL the batch
    ``events_asof_join`` entry certifies against."""
    from siddhi_execution_unique_spark import streaming as stw

    work = _stream_work(prefix="sgraft_asof_stream_")
    sdf = _stream_events_replay(spark, sf_dir, work).withColumn(
        "is_ref", F.col("event_type") == F.lit("click")
    )
    out = stw.asof_stream(sdf, "user_id", "is_ref", ts="ts", payload="event_id")
    out = out.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.unix_millis("ts").alias("ts_ms"),
        F.col("r_id").alias("click_id"),
        F.when(F.col("r_id") == -1, F.lit(-1).cast("long"))
        .otherwise(F.unix_millis("ts") - F.col("r_ts_ms"))
        .alias("gap_ms"),
    )
    return _drain(spark, out, work)


def q_streaming_range_agg_parity(spark, sf_dir):
    """Driver certification of ``range_agg_stream`` — the streaming
    trailing-interval aggregation (stream-stream interval-join
    semantics with O(window) per-key state): every purchase emits the
    count and milli-quantized value sum of its user's clicks in the
    trailing hour. Oracle: the batch ``events_range_join`` SQL."""
    from siddhi_execution_unique_spark import streaming as stw

    work = _stream_work(prefix="sgraft_range_stream_")
    sdf = _stream_events_replay(spark, sf_dir, work).withColumn(
        "is_ref", F.col("event_type") == F.lit("click")
    )
    out = stw.range_agg_stream(
        sdf, "user_id", "is_ref", HOUR, ts="ts", value_col="value"
    )
    out = out.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.unix_millis("ts").alias("ts_ms"),
        F.col("n_in_window").alias("n_clicks_1h"),
        F.col("win_value_sum").alias("click_value_1h"),
    )
    return _drain(spark, out, work)


def q_streaming_funnel_parity(spark, sf_dir):
    """Driver certification of ``funnel_stream`` — the Siddhi
    pattern-query state machine (``every e1 -> e2[within] -> e3``):
    replayed in one micro-batch the greedy event-time walk lands on
    exactly the batch operator's minimum-anchored chain (ties at equal
    ts are excluded by both engines' strict ``>`` step predicate).
    Oracle: the batch ``events_funnel`` SQL."""
    from siddhi_execution_unique_spark import streaming as stw

    work = _stream_work(prefix="sgraft_funnel_stream_")
    sdf = _stream_events_replay(spark, sf_dir, work)
    out = stw.funnel_stream(sdf)
    return _drain(spark, out, work, sink="memory", mode="update",
                  name="sgraft_funnel_parity_sink")


def q_streaming_trend_parity(spark, sf_dir):
    """Driver certification of ``trend_stream`` — the grouped-OLS
    sufficient statistics kept current through the state store
    (micro-batches merge by addition, exactly like shards). The
    anchor ``t0_ms`` is the corpus epoch (a 1-row min aggregate —
    constant-size driver collect); the complete-mode final table must
    equal the batch sums bit-for-bit."""
    from siddhi_execution_unique_spark import streaming as stw

    work = _stream_work(prefix="sgraft_trend_stream_")
    t0_ms = (
        _events(spark, sf_dir)
        .agg(F.min(F.unix_millis("ts")))
        .collect()[0][0]
    )
    sdf = _stream_events_replay(spark, sf_dir, work)
    out = stw.trend_stream(sdf, int(t0_ms), ts="ts")
    return _drain(spark, out, work, sink="memory", mode="complete",
                  name="sgraft_trend_parity_sink")


def q_streaming_anomaly_parity(spark, sf_dir):
    """Driver certification of ``anomaly_stream`` — live 3-sigma
    hourly monitoring with a bounded per-user ring of closed hours.
    A replayed corpus closes every hour except each user's final one
    (a stream never sees its own end), so the oracle is the batch
    ``events_hourly_anomalies`` SQL minus each user's maximum hour."""
    from siddhi_execution_unique_spark import streaming as stw

    work = _stream_work(prefix="sgraft_anom_stream_")
    sdf = _stream_events_replay(spark, sf_dir, work)
    return _drain(spark, stw.anomaly_stream(sdf), work)


def q_streaming_dedup_watermark_parity(spark, sf_dir):
    """Driver certification of ``deduplicate_stream`` — the
    watermark-evicted dedup (Spark's ``dropDuplicatesWithinWatermark``
    instead of the reference's per-event anchored chain, the
    documented divergence at streaming/__init__.py:75). The replay
    pins the ENGINE-DEFINED semantics exactly: two event-time-ordered
    micro-batches (sequential availableNow runs over a shared
    checkpoint); batch 1 keeps the first arrival per key; between
    batches the watermark advances to max(b1 ts) - delay and evicts
    every state entry with kept_ts + delay <= watermark (boundary
    evicts — verified empirically); batch 2 then keeps the first
    arrival of every key not still in state."""
    from pyspark.sql.window import Window

    from siddhi_execution_unique_spark import streaming as stw
    from siddhi_execution_unique_spark.streaming.sources import stream_table

    work = _stream_work(prefix="sgraft_wmdedup_stream_")
    indir = os.path.join(work, "in")
    os.makedirs(indir)
    ev = _events(spark, sf_dir).select("event_id", "user_id", "ts")
    n = ev.count()
    ranked = ev.withColumn(
        "rn", F.row_number().over(Window.orderBy("ts", "event_id"))
    )

    def write_half(pred, name):
        half_dir = os.path.join(work, name)
        (
            ranked.filter(pred).drop("rn")
            .repartition(1).sortWithinPartitions("ts", "event_id")
            .write.parquet(half_dir)
        )
        import glob

        part = glob.glob(os.path.join(half_dir, "part-*.parquet"))[0]
        shutil.copy(part, os.path.join(indir, f"{name}.parquet"))

    write_half(F.col("rn") <= n // 2, "001")
    schema = spark.read.parquet(indir).schema

    def run_once():
        out = stw.deduplicate_stream(
            stream_table(spark, indir, schema), "user_id", HOUR, ts="ts"
        )
        return _drain(spark, out.select(
            "event_id", F.unix_millis("ts").alias("ts_ms"), "user_id"), work)

    run_once()
    write_half(F.col("rn") > n // 2, "002")
    return run_once()


def q_streaming_curation_parity(spark, sf_dir):
    """Driver certification of ``curation_stream`` — the incremental
    corpus-curation manifest (row-local scoring + first-wins
    fingerprint state): documents replayed in doc_id order make
    first-wins equal the batch min-doc_id representative, so the
    streamed manifest must equal the batch ``corpus_curation`` SQL
    row-for-row."""
    from siddhi_execution_unique_spark.functions import pipeline as fpipe
    from siddhi_execution_unique_spark.streaming.sources import stream_table

    work = _stream_work(prefix="sgraft_curation_stream_")
    indir = os.path.join(work, "in")
    (
        load_table(spark, sf_dir, "documents")
        .repartition(1).sortWithinPartitions("doc_id")
        .write.parquet(indir)
    )
    schema = spark.read.parquet(indir).schema
    sdf = stream_table(spark, indir, schema, ts=None)
    out = fpipe.curation_stream(sdf)
    return _drain(spark, out, work)


def q_streaming_lsh_ingest_parity(spark, sf_dir):
    """Driver certification of ``lsh_ingest_stream`` — incremental
    MinHash/LSH near-dup detection at ingest: one state long per
    occupied band bucket instead of the batch self-join. Replayed as
    one micro-batch the bucket rep is the minimum doc_id, so the
    oracle is the signature algebra + a preceding-window min over each
    bucket."""
    from siddhi_execution_unique_spark import streaming as stw

    work = _stream_work(prefix="sgraft_lsh_stream_")
    sdf = _stream_events_replay(spark, sf_dir, work, table="documents")
    out = stw.lsh_ingest_stream(sdf)
    return _drain(spark, out, work)


def q_streaming_index_ingest_parity(spark, sf_dir):
    """Driver certification of ``index_ingest_stream`` — stateless
    edge tokenization: documents replayed as a file-stream emit
    (doc_id, term, tf) posting rows whose multiset must equal the
    batch explode of the same tokenizer (``text.SPARK_TOKS``
    semantics, including the empty token of whitespace-only docs)."""
    from siddhi_execution_unique_spark import streaming as stw

    work = _stream_work(prefix="sgraft_index_stream_")
    sdf = _stream_events_replay(spark, sf_dir, work, table="documents")
    out = stw.index_ingest_stream(sdf)
    return _drain(spark, out, work)


def q_streaming_pq_encode_parity(spark, sf_dir):
    """Driver certification of ``pq_encode_stream`` — streaming ANN
    ingest with the codebook frozen from the batch corpus: embedding
    rows replayed as a file-stream encode to (vec_id, m, code) rows
    that must equal the batch PQ encode bit-for-bit (oracle: the
    shared ``codes`` CTE every PQ oracle builds on)."""
    from siddhi_execution_unique_spark import streaming as stw

    work = _stream_work(prefix="sgraft_pq_stream_")
    sdf = _stream_events_replay(spark, sf_dir, work, table="embeddings")
    corpus = load_table(spark, sf_dir, "embeddings")
    out = stw.pq_encode_stream(sdf, corpus)
    return _drain(spark, out, work)


def q_running_distinct_users(spark, sf_dir):
    # running aggregate over window contents (SURVEY 2b "aggregation"):
    # per event, how many distinct users this event_type has seen so
    # far — two-phase range-bucket prefix sum (sketch.py), never a
    # window partitioned on the cardinality-5 event_type alone
    return fsk.running_distinct_count(_events(spark, sf_dir))


def q_ever_count_by_type(spark, sf_dir):
    # aggregation over window contents (SURVEY §2b)
    latest = ops.ever(_events(spark, sf_dir), "user_id", ts="ts", tiebreak="event_id")
    return latest.groupBy("event_type").agg(F.count("*").alias("n"))


def q_ever_join_customer(spark, sf_dir):
    # window-contents probed by a dimension join; dimension is broadcast
    latest = ops.ever(_events(spark, sf_dir), "user_id", ts="ts", tiebreak="event_id")
    customer = load_table(spark, sf_dir, "customer")
    return (
        _ev_out(latest)
        .join(F.broadcast(customer), F.col("user_id") == F.col("c_custkey"), "inner")
        .select("user_id", "ts_ms", "event_type", "value", "c_name", "c_mktsegment")
    )


def q_first_filtered(spark, sf_dir):
    # filter-before-window composition (UniqueFirstWindowTestCase.java:158)
    ev = _events(spark, sf_dir).filter(F.col("value") > 100)
    return _ev_out(ops.first(ev, "user_id", ts="ts", tiebreak="event_id"))


def q_window_join(spark, sf_dir):
    # window-to-window stream join (UniqueEverWindowTestCase.java:228-233)
    ev = _events(spark, sf_dir)
    clicks = _ev_out(
        ops.ever(ev.filter(F.col("event_type") == "click"), "user_id", ts="ts", tiebreak="event_id")
    ).select(
        "user_id",
        F.col("ts_ms").alias("click_ts_ms"),
        F.col("value").alias("click_value"),
    )
    purchases = _ev_out(
        ops.ever(
            ev.filter(F.col("event_type") == "purchase"), "user_id", ts="ts", tiebreak="event_id"
        )
    ).select(
        "user_id",
        F.col("ts_ms").alias("purchase_ts_ms"),
        F.col("value").alias("purchase_value"),
    )
    return clicks.join(purchases, "user_id", "inner")


def _events_narrow(spark, sf_dir):
    # the single-group replay tier funnels its input through one Arrow
    # stream; column pruning can't push through mapInPandas, so project
    # BEFORE the replay (props is a map column — the bulk of the row)
    return _events(spark, sf_dir).select("event_id", "ts", "user_id")


def q_length_batch(spark, sf_dir):
    return ops.length_batch(
        _events_narrow(spark, sf_dir), "user_id", 50, ts="ts", tiebreak="event_id"
    ).select("event_id", "user_id", "batch_seq", "fired_at_ms")


def q_first_length_batch(spark, sf_dir):
    return ops.first_length_batch(
        _events_narrow(spark, sf_dir), "user_id", 50, ts="ts", tiebreak="event_id"
    ).select("event_id", "user_id", "batch_seq", "fired_at_ms")


def q_time_length_batch(spark, sf_dir):
    # distributed form (window functions partitioned by interval); the
    # ordered-scan twin ops.time_length_batch (streamed, _CarryScan)
    # is cross-checked against it in tests/test_unique_operators.py
    return ops.time_length_batch_distributed(
        _events(spark, sf_dir), "user_id", 6 * HOUR, 20, ts="ts", tiebreak="event_id"
    ).select("event_id", "user_id", "batch_seq", "fired_at_ms", "fire_reason")


def q_time_length_batch_start(spark, sf_dir):
    # start.time branch (reference UniqueTimeLengthBatchWindow-
    # Processor.java:244-252): boundaries anchored at epoch 0 instead
    # of the first event's time
    return ops.time_length_batch_distributed(
        _events(spark, sf_dir), "user_id", 4 * HOUR, 25, ts="ts", tiebreak="event_id",
        start_time_ms=0,
    ).select("event_id", "user_id", "batch_seq", "fired_at_ms", "fire_reason")


def q_time_batch_expired(spark, sf_dir):
    # EXPIRED channel of the tumbling time batch: every fired batch
    # re-emits when the next batch fires (UniqueTimeBatchWindow-
    # Processor.java:235-266)
    batched = ops.time_batch(
        _events(spark, sf_dir), "user_id", HOUR, ts="ts", tiebreak="event_id"
    )
    return _ev_out(
        ops.expired_channel(batched, HOUR),
        "batch_start_ms", "batch_end_ms", "expired_at_ms",
    )


def q_length_batch_expired(spark, sf_dir):
    # EXPIRED channel of unique:lengthBatch: batch k re-emits as
    # expired at fire k+1 (UniqueLengthBatchWindowProcessor.java:
    # 171-191); the inner join on the shifted fire log drops the last
    # batch (no successor fire ever flushes it)
    base = ops.length_batch(
        _events_narrow(spark, sf_dir), "user_id", 50, ts="ts", tiebreak="event_id"
    )
    return ops.length_batch_expired(base).select(
        "event_id", "user_id", "batch_seq", "fired_at_ms", "expired_at_ms"
    )


def q_time_length_batch_expired(spark, sf_dir):
    # EXPIRED channel of unique:timeLengthBatch: batch k re-emits at
    # the first flush after its fire — min(next boundary, fire k+1) —
    # iff the event-time clock demonstrably reaches it
    # (UniqueTimeLengthBatchWindowProcessor.java:304-318; boundary
    # flushes happen on the scheduler regardless of arrivals)
    return ops.time_length_batch_expired(
        _events(spark, sf_dir), "user_id", 4 * HOUR, 25, ts="ts",
        tiebreak="event_id", start_time_ms=0,
    ).select("event_id", "user_id", "batch_seq", "fired_at_ms", "expired_at_ms")


def q_external_time_batch_expired(spark, sf_dir):
    # EXPIRED channel of unique:externalTimeBatch: flushes are purely
    # event-driven (no scheduler without time.out), so batch rank r
    # re-emits as expired at the first event of rank r+2 — the arrival
    # that flushes rank r+1 and advances lastCurrentEventTime
    # (UniqueExternalTimeBatchWindowProcessor.java:304-318,363-366)
    return _ev_out(
        ops.external_time_batch_expired(
            _events(spark, sf_dir), "user_id", "ts", 2 * HOUR, tiebreak="event_id"
        ),
        "batch_start_ms", "batch_end_ms", "expired_at_ms",
    )


def q_siddhiql_external_time_batch_all(spark, sf_dir):
    """The reference's `insert all events into` over
    unique:externalTimeBatch (UniqueExternalTimeBatchWindowTestCase
    uses `all events` 9x) through the SiddhiQL text surface: current
    (all present batches, final-state convention) ∪ expired (batches
    with a rank+2 successor), tagged on `channel`."""
    from siddhi_execution_unique_spark import siddhiql as sq

    app = """
    from events#window.unique:externalTimeBatch(user_id, ts, 2 hours)
    select event_id, user_id, channel
    insert all events into out;
    """
    return sq.run_app(app, {"events": _events(spark, sf_dir)},
                      tiebreak="event_id")["out"]


def q_siddhiql_time_length_batch_all(spark, sf_dir):
    """`insert all events into` over unique:timeLengthBatch
    (UniqueTimeLengthBatchWindowTestCase.java:100-101 asserts the dual
    channel 12x) through the SiddhiQL text surface."""
    from siddhi_execution_unique_spark import siddhiql as sq

    app = """
    from events#window.unique:timeLengthBatch(user_id, 6 hours, 20)
    select event_id, user_id, channel
    insert all events into out;
    """
    return sq.run_app(app, {"events": _events(spark, sf_dir)},
                      tiebreak="event_id")["out"]


def q_siddhiql_partitioned_length(spark, sf_dir):
    """`partition with` over unique:length (VERDICT r06 item 3): an
    independent last-N-distinct-keys FIFO per partition value —
    per-partition ranked top-N, which distributes BETTER than the
    global single-ordered form (no global tail to rank)."""
    from siddhi_execution_unique_spark import siddhiql as sq

    app = """
    partition with (event_type of events)
    begin
        from events#window.unique:length(user_id, 100)
        select event_type, user_id, event_id
        insert into recent;
    end
    """
    return sq.run_app(app, {"events": _events(spark, sf_dir)},
                      tiebreak="event_id")["recent"]


def q_siddhiql_partitioned_length_batch(spark, sf_dir):
    """`partition with` over unique:lengthBatch: every partition value
    owns an independent N-distinct-key tumbling fire chain
    (groupBy(attr).applyInPandas replay — distributes by the
    partition attribute, unlike the global single-group funnel)."""
    from siddhi_execution_unique_spark import siddhiql as sq

    app = """
    partition with (event_type of events)
    begin
        from events#window.unique:lengthBatch(user_id, 50)
        select event_type, user_id, event_id, batch_seq, fired_at_ms
        insert into batches;
    end
    """
    return sq.run_app(app, {"events": _events(spark, sf_dir)},
                      tiebreak="event_id")["batches"]


def q_siddhiql_partitioned_external_time_batch(spark, sf_dir):
    """`partition with` over unique:externalTimeBatch WITHOUT
    start.time (VERDICT r07 item 6): each instance anchors its batch
    grid at its OWN first event
    (UniqueExternalTimeBatchWindowProcessor.java:261-332 seeds the
    grid from the first event the instance sees). Lowered to a tiny
    per-attribute min-anchor aggregate joined back (AQE broadcast) +
    one (batch, attr, key) hash aggregation — no per-instance
    funnel."""
    from siddhi_execution_unique_spark import siddhiql as sq

    app = """
    partition with (event_type of events)
    begin
        from events#window.unique:externalTimeBatch(user_id, ts, 2 hours)
        select event_type, user_id, event_id, batch_start_ms, batch_end_ms
        insert into batches;
    end
    """
    return sq.run_app(app, {"events": _events(spark, sf_dir)},
                      tiebreak="event_id")["batches"]


def q_siddhiql_partitioned_external_time_batch_all(spark, sf_dir):
    """`insert all events into` over a PARTITIONED
    unique:externalTimeBatch: each instance anchors its grid at its
    own first event AND owns its own flush protocol, so the rank+2
    arrival-flush rule (batch rank r's retained rows re-emit as
    expired at the first event of the instance's rank r+2 batch)
    applies per instance. Channel column only — expired_at_ms is
    dropped to keep the oracle hash free of NULL sentinels."""
    from siddhi_execution_unique_spark import siddhiql as sq

    app = """
    partition with (event_type of events)
    begin
        from events#window.unique:externalTimeBatch(user_id, ts, 2 hours)
        select event_type, user_id, event_id, channel
        insert all events into batches;
    end
    """
    return sq.run_app(app, {"events": _events(spark, sf_dir)},
                      tiebreak="event_id")["batches"]


def q_siddhiql_partitioned_time_batch_all(spark, sf_dir):
    """`insert all events into` over a PARTITIONED unique:timeBatch
    (VERDICT r07 item 7): every partition value owns its window
    instance AND its own expired stream — a batch re-emits as expired
    iff its own instance fired a later batch (per-instance witness,
    the same per-instance-clock convention as the partitioned
    unique:time edge). Channel column drops expired_at_ms to keep the
    oracle hash free of NULL/NaN sentinels."""
    from siddhi_execution_unique_spark import siddhiql as sq

    app = """
    partition with (event_type of events)
    begin
        from events#window.unique:timeBatch(user_id, 1 hour)
        select event_type, user_id, event_id, channel
        insert all events into both;
    end
    """
    return sq.run_app(app, {"events": _events(spark, sf_dir)},
                      tiebreak="event_id")["both"]


def q_streaming_partitioned_time_length_batch_parity(spark, sf_dir):
    """Driver certification of the SHARDED ``time_length_batch_stream``
    twin (r08): one state group per partition value, each instance
    anchoring its boundary clock at its own first event — replayed
    over a file-stream, current channel checked against the
    per-instance interval algebra (the same oracle the batch
    partitioned entry certifies)."""
    from siddhi_execution_unique_spark import streaming as stw

    work = _stream_work(prefix="sgraft_ptlb_stream_")
    sdf = _stream_events_replay(spark, sf_dir, work)
    out = stw.time_length_batch_stream(
        sdf, "user_id", 6 * HOUR, 20, ts="ts", partition_attr="event_type"
    )
    out = out.filter(F.col("channel") == "current").select(
        "event_type", "user_id", "event_id", "batch_seq",
        "fired_at_ms", "fire_reason")
    return _drain(spark, out, work)


def q_streaming_partitioned_length_batch_parity(spark, sf_dir):
    """Driver certification of the SHARDED ``length_batch_stream``
    twin (r08): `partition with` maps to one state group per
    partition value, so the fire chain runs per instance AND
    distributes across executors. Replayed over a file-stream and
    checked against the per-instance recursive fire-chain oracle
    (the same algebra the batch partitioned entry certifies)."""
    from siddhi_execution_unique_spark import streaming as stw

    work = _stream_work(prefix="sgraft_plb_stream_")
    sdf = _stream_events_replay(spark, sf_dir, work)
    out = stw.length_batch_stream(
        sdf, "user_id", 50, ts="ts", partition_attr="event_type"
    )
    out = out.filter(F.col("channel") == "current").select(
        "event_type", "user_id", "event_id", "batch_seq")
    return _drain(spark, out, work)


def q_siddhiql_partitioned_join(spark, sf_dir):
    """Partitioned window-to-window join (`partition with (a of A,
    b of B)` + join): each partition instance owns BOTH unique:ever
    windows, so the join runs between per-instance contents with the
    instances pinned to each other — lowered to composite-key evers
    plus the partition-attr equality folded into the join condition
    (one equi-join, AQE-planned)."""
    from siddhi_execution_unique_spark import siddhiql as sq

    ev = _events(spark, sf_dir)
    two = {
        "lefties": ev.filter(F.col("event_id") % 2 == 0),
        "righties": ev.filter(F.col("event_id") % 2 == 1),
    }
    app = """
    partition with (event_type of lefties, event_type of righties)
    begin
        from lefties#window.unique:ever(user_id)
        join righties#window.unique:ever(user_id)
        on lefties.user_id == righties.user_id
        select lefties.event_type as event_type,
               lefties.event_id as l_id, righties.event_id as r_id
        insert into joined;
    end
    """
    return sq.run_app(app, two, tiebreak="event_id")["joined"]


def q_siddhiql_partitioned_join_all(spark, sf_dir):
    """`insert all events into` over a PARTITIONED timeBatch join:
    both windows of each instance share the absolute tumbling grid
    (joined pairs are batch-aligned within the instance), and a
    joined batch re-emits as expired iff its OWN instance fired a
    later batch on either side — the per-instance flush witness the
    partitioned timeBatch expired channel already certifies."""
    from siddhi_execution_unique_spark import siddhiql as sq

    ev = _events(spark, sf_dir)
    two = {
        "lefties": ev.filter(F.col("event_id") % 2 == 0),
        "righties": ev.filter(F.col("event_id") % 2 == 1),
    }
    app = """
    partition with (event_type of lefties, event_type of righties)
    begin
        from lefties#window.unique:timeBatch(user_id, 1 hour)
        join righties#window.unique:timeBatch(user_id, 1 hour)
        on lefties.user_id == righties.user_id
        select lefties.event_type as event_type,
               lefties.event_id as l_id, righties.event_id as r_id,
               channel
        insert all events into joined;
    end
    """
    return sq.run_app(app, two, tiebreak="event_id")["joined"]


def q_siddhiql_partitioned_join_external_time_batch(spark, sf_dir):
    """Partitioned join over START.TIME-ANCHORED
    unique:externalTimeBatch pairs (VERDICT r09 item 3): with an
    explicit start.time on both sides the reference's
    ``endTime = ts + (T - (ts - start) % T)``
    (UniqueExternalTimeBatchWindowProcessor.java:454-458) is an
    ABSOLUTE grid — the same batch-co-residency algebra as the
    aligned timeBatch join, so the identical lowering applies:
    per-instance (batch, key) retains, the batch_end_ms equality
    folded into the join condition, and the per-instance flush
    witness for the all-events channel. Pairs WITHOUT start.time
    keep the documented eager error (each side anchors at its own
    first event)."""
    from siddhi_execution_unique_spark import siddhiql as sq

    ev = _events(spark, sf_dir)
    two = {
        "lefties": ev.filter(F.col("event_id") % 2 == 0),
        "righties": ev.filter(F.col("event_id") % 2 == 1),
    }
    app = """
    partition with (event_type of lefties, event_type of righties)
    begin
        from lefties#window.unique:externalTimeBatch(user_id, ts, 2 hours, 0)
        join righties#window.unique:externalTimeBatch(user_id, ts, 2 hours, 0)
        on lefties.user_id == righties.user_id
        select lefties.event_type as event_type,
               lefties.event_id as l_id, righties.event_id as r_id,
               channel
        insert all events into joined;
    end
    """
    return sq.run_app(app, two, tiebreak="event_id")["joined"]


def q_siddhiql_partitioned_length_all(spark, sf_dir):
    """`insert all events into` over a PARTITIONED unique:length:
    per-instance set-semantics emission log — every arrival emits
    current, and an event emits expired iff it is NOT in its
    instance's final FIFO contents (the per-instance buffer
    invariant)."""
    from siddhi_execution_unique_spark import siddhiql as sq

    app = """
    partition with (event_type of events)
    begin
        from events#window.unique:length(user_id, 100)
        select event_type, user_id, event_id, channel
        insert all events into log;
    end
    """
    return sq.run_app(app, {"events": _events(spark, sf_dir)},
                      tiebreak="event_id")["log"]


def q_siddhiql_partitioned_time_length_batch_expired(spark, sf_dir):
    """EXPIRED channel of a PARTITIONED unique:timeLengthBatch through
    SiddhiQL: per-instance fire chains with the corrected drain rule —
    batch k of instance p re-emits at min(p's fire k+1,
    B_p(k) + T·[length fire]), witnessed by p's own clock."""
    from siddhi_execution_unique_spark import siddhiql as sq

    app = """
    partition with (event_type of events)
    begin
        from events#window.unique:timeLengthBatch(user_id, 6 hours, 20)
        select event_type, user_id, event_id, batch_seq, expired_at_ms
        insert expired events into exp;
    end
    """
    return sq.run_app(app, {"events": _events(spark, sf_dir)},
                      tiebreak="event_id")["exp"]


def q_siddhiql_partitioned_time_length_batch(spark, sf_dir):
    """`partition with` over unique:timeLengthBatch: per-instance fire
    chains, each anchored at its OWN first event + T (the reference
    allocates a fresh WindowState per partition key)."""
    from siddhi_execution_unique_spark import siddhiql as sq

    app = """
    partition with (event_type of events)
    begin
        from events#window.unique:timeLengthBatch(user_id, 6 hours, 20)
        select event_type, user_id, event_id, batch_seq, fired_at_ms, fire_reason
        insert into batches;
    end
    """
    return sq.run_app(app, {"events": _events(spark, sf_dir)},
                      tiebreak="event_id")["batches"]


def _docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents")


def _emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings")


# The driver's CORRECTNESS harness samples the FIRST 50 ``queries()``
# entries each round. ROTATION INVARIANT (VERDICT r07 item 1, made
# self-maintaining in r10 per VERDICT r09 item 1, pinned by
# tests/test_plans.py::test_driver_window_covers_stale_entries): the
# window must contain (a) every entry never driver-checked and
# (b) every entry whose last green driver row is 3+ rounds old.
# Through r09 the order was a hand-kept list, which went red every
# time a new CORRECTNESS_r*.json landed after the round closed (the
# r08 _R08_FILL and r09 _R09_FILL failures). Now the order is DERIVED
# from the ledger at call time: never-checked entries lead, then all
# checked entries ascending by last green round (stalest first, so
# the mandatory stale tier is always inside the window), with
# ``_CHANGED_THIS_ROUND`` slotted between them so re-implemented
# entries re-certify as soon as budget allows. A ledger drop can
# therefore never redden a committed tree: the same files that define
# staleness define the order.

# Entries whose implementation or plan changed this round and should
# re-certify ahead of the fresh tiers (best-effort: they rank after
# the mandatory never-checked + stale sets, so they only consume
# window slots the invariant doesn't need).
_CHANGED_THIS_ROUND: list = [
    # r14: the coarse-cell ASSIGNMENT cosine moved to the quantized
    # floor-1e6 integer form (order-independent → BLAS assign; K now
    # corpus-scaled via n_centroids_for) — cell boundaries can differ
    # from the r11-certified raw-double argmax, so all three
    # cell-consuming entries re-certify (both engines changed in
    # lockstep; local sweeps green at sf0.01 and /tmp/sf1).
    "dedup_semantic",
    "sim_ivf_topk",
    "sim_cell_centroids",
    # r14: the pair-tier verifiers moved to their 100 TB forms
    # (VERDICT r13 item 2) — simhash pairs are now between
    # distinct-hash group REPRESENTATIVES with hot-band suppression
    # (BAND_OCCUPANCY_CAP), and char-ngram jaccard is over
    # df-capped gram sets (GRAM_DF_CAP stop-grams). Both engines
    # changed in lockstep; local sweeps green at sf0.01 and /tmp/sf1,
    # sf10 ENGINE_BENCH cells now complete (26.1 s / 3.7 s where r13
    # recorded ENOSPC/OOM capacity boundaries).
    "dedup_simhash_near_pairs",
    "dedup_char_ngram_jaccard",
    # r14: the last join-channel square (timeLengthBatch ⋈ batch
    # windows) — new entry
    "siddhiql_join_tlb_tb_all",
    # r14: processing-time tier deterministic-core replays — new
    # entries (VERDICT r13 item 5)
    "proc_time_replay",
    "proc_dedup_replay",
]


def _ledger_last() -> tuple[dict[str, int], int]:
    """Latest green driver round per entry, and the max round seen,
    from the CORRECTNESS_r*.json ledger next to this file. Mirrors
    the parsing in test_driver_window_covers_stale_entries exactly —
    both sides reading the same files is what makes the rotation
    self-maintaining."""
    import glob as _glob
    import json
    import os

    repo = os.path.dirname(os.path.abspath(__file__))
    last: dict[str, int] = {}
    max_round = 0
    for f in _glob.glob(os.path.join(repo, "CORRECTNESS_r*.json")):
        try:
            rnd = int(os.path.basename(f).split("_r")[1].split(".")[0])
            rows = json.loads(open(f).read())
        except (ValueError, OSError, json.JSONDecodeError):
            continue
        if not isinstance(rows, dict):
            continue  # a malformed ledger file must never break queries()
        max_round = max(max_round, rnd)
        for k, v in rows.items():
            if (
                isinstance(v, dict)
                and v.get("rows_match")
                and v.get("schema_match")
                and v.get("hash_match") in (True, None)
                and not v.get("err")
            ):
                last[k] = max(last.get(k, 0), rnd)
    return last, max_round


def _stale_after(n_entries: int) -> int:
    """Rounds after which an unrechecked entry counts as STALE
    (mandatory in the next driver window). The driver certifies 50
    entries per round, so the structurally best achievable freshness
    for N entries is a ceil(N/50)-round cycle — at 150 entries every
    entry can be ≤3 rounds old (the original hand-pinned threshold),
    at 200 the optimum is 4, at 201-250 it is 5. Deriving the
    threshold keeps the invariant both TRUE and OPTIMAL as the
    registry grows; pinning it at 3 past 150 entries would make the
    mandatory tier permanently exceed the window."""
    import math

    return max(3, math.ceil(n_entries / 50))


def _ledger_order(names: list, ledger=None) -> list:
    """Driver sampling order. Tiers: (0) never driver-checked —
    mandatory in the first 50; (1) stale (ledger row older than the
    derived ceil(N/50)-round cycle — see :func:`_stale_after`) —
    mandatory; (2) changed this round — best-effort; (3) everything
    else, stalest first so the next round's mandatory tier is already
    queued at the head. Ties break on registry insertion order.
    ``ledger`` injects a (last, max_round) pair for testing the
    rotation against a simulated future ledger drop."""
    last, max_round = _ledger_last() if ledger is None else ledger
    idx = {k: i for i, k in enumerate(names)}
    stale_cut = max_round - _stale_after(len(names))
    # list position = re-certification priority (the head of the list
    # wins the last window slots when mandatory tiers nearly fill 50)
    changed = {k: i for i, k in enumerate(_CHANGED_THIS_ROUND)}

    def key(k):
        if k not in last:
            return (0, 0, idx[k])
        if last[k] <= stale_cut:
            return (1, last[k], idx[k])
        if k in changed:
            return (2, changed[k], idx[k])
        return (3, last[k], idx[k])

    return sorted(names, key=key)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Entry order is the driver's sampling order (first 50 sampled),
    so the dict leads with ``_R09_WINDOW``: the 26 r05-stale entries
    (oldest driver signal first — the rotation invariant, see the
    comment on ``_R09_WINDOW``) plus entries new this round, then the
    head of ``_R09_FILL`` (r06 tier) up to 50. The r08/r07-certified
    tiers follow, byte-unchanged. ALL entries are hash-green in the
    local sf0.01 full-sweep replica."""
    registry = {
        # -- (0) never driver-checked through r05 (VERDICT r05 item 1):
        #    positions 0-14 put them inside the driver's sample window
        "events_time_weighted_avg": lambda s, d: fana.time_weighted_avg(_events(s, d)),
        "events_disorder_stats": lambda s, d: fana.disorder_stats(_events(s, d)),
        "events_ks_cohort_drift": lambda s, d: fana.ks_cohort_drift(_events(s, d)),
        "vocab_top_per_lang": lambda s, d: fcur.vocab_top_per_lang(_docs(s, d)),
        "events_funnel_latency": lambda s, d: fana.funnel_latency(_events(s, d)),
        "events_zorder_layout": lambda s, d: fcur.zorder_layout(_events(s, d)),
        "events_gap_fill_locf": lambda s, d: fana.gap_fill_locf(_events(s, d)),
        "sample_priority_weighted": lambda s, d: fcur.priority_sample(_docs(s, d)),
        "events_data_profile": lambda s, d: fcur.data_profile(_events(s, d)),
        "join_key_health": lambda s, d: fcur.join_key_health(
            _events(s, d), load_table(s, d, "orders")
        ),
        "docs_bm25_topk": lambda s, d: fret.bm25_topk(_docs(s, d)),
        "dedup_tfidf_cosine": lambda s, d: fret.tfidf_cosine_pairs(_docs(s, d)),
        "events_trailing_distinct": lambda s, d: fsk.trailing_distinct_users(_events(s, d)),
        "embedding_lsh_recall": lambda s, d: fsim.embedding_lsh_recall(_emb(s, d)),
        # ordered emission log: emission_idx pins the reference's
        # per-arrival emission ORDER through the order-insensitive
        # driver hash; closed form property-tested against a
        # brute-force FIFO replay.
        "unique_length_emissions_ordered": lambda s, d: ops.length_window_emissions_indexed(
            _events(s, d), "user_id", 100, ts="ts", tiebreak="event_id"
        ).select("event_id", "user_id", "channel", "emission_idx"),
        # per-instance ordered emission log (partition with + ORDER):
        # each event_type owns its own FIFO and 0-based emission_idx;
        # distributes better than the global chain (one groupBy(attr)
        # replay, bounded by the largest instance)
        "unique_length_emissions_partitioned": lambda s, d: (
            ops.length_window_emissions_indexed(
                _events(s, d), "user_id", 20, ts="ts", tiebreak="event_id",
                partition_attr="event_type",
            ).select("event_type", "event_id", "user_id", "channel", "emission_idx")
        ),
        # -- (0a) new in round 7: batch expired/all-events channels for
        #    unique:timeLengthBatch and unique:externalTimeBatch
        #    (VERDICT r06 item 1), function API + SiddhiQL text surface
        "unique_time_length_batch_expired": q_time_length_batch_expired,
        "unique_external_time_batch_expired": q_external_time_batch_expired,
        "siddhiql_external_time_batch_all": q_siddhiql_external_time_batch_all,
        "siddhiql_time_length_batch_all": q_siddhiql_time_length_batch_all,
        # -- (0a) new in round 7: `partition with` over the length
        #    families (VERDICT r06 item 3) — per-instance chains
        "siddhiql_partitioned_length": q_siddhiql_partitioned_length,
        "siddhiql_partitioned_length_batch": q_siddhiql_partitioned_length_batch,
        "siddhiql_partitioned_time_length_batch": q_siddhiql_partitioned_time_length_batch,
        "siddhiql_partitioned_external_time_batch": q_siddhiql_partitioned_external_time_batch,
        "siddhiql_partitioned_external_time_batch_all": q_siddhiql_partitioned_external_time_batch_all,
        "siddhiql_partitioned_time_batch_all": q_siddhiql_partitioned_time_batch_all,
        "siddhiql_partitioned_time_length_batch_expired": q_siddhiql_partitioned_time_length_batch_expired,
        "siddhiql_partitioned_length_all": q_siddhiql_partitioned_length_all,
        "siddhiql_partitioned_join": q_siddhiql_partitioned_join,
        "siddhiql_partitioned_join_all": q_siddhiql_partitioned_join_all,
        # -- new in round 10: aligned externalTimeBatch partitioned
        #    join (VERDICT r09 item 3)
        "siddhiql_partitioned_join_external_time_batch": q_siddhiql_partitioned_join_external_time_batch,
        "streaming_partitioned_length_batch_parity": q_streaming_partitioned_length_batch_parity,
        "streaming_partitioned_time_length_batch_parity": q_streaming_partitioned_time_length_batch_parity,
        # -- (0a) new in round 7: three more streaming twins
        #    driver-certified via file-stream replay parity (VERDICT
        #    r06 item 4) — ever (update-mode core), timeBatch
        #    (tumbling agg), lengthBatch (dual-channel fire chain)
        "streaming_ever_parity": q_streaming_ever_parity,
        "streaming_time_batch_parity": q_streaming_time_batch_parity,
        "streaming_length_batch_parity": q_streaming_length_batch_parity,
        # -- (0a) new in round 7: stereo mid/side + LPC FLAC decode
        #    (VERDICT r06 item 6) — the last undeclared codec boundary
        "multimodal_decode_flac_stereo": lambda s, d: fmm.flac_stereo_audio_stats(
            _docs(s, d)
        ),
        # -- (0a) new in round 7: foreachBatch aggregate lowering for
        #    SiddhiQL streaming aggregate selects (VERDICT r06 item 8)
        "siddhiql_streaming_agg_parity": q_siddhiql_streaming_agg_parity,
        # -- (0a) round 7 continuation: two more streaming twins
        #    driver-certified (timeLengthBatch fire chain,
        #    externalTimeBatch event-driven flushes) -> 7/26
        "streaming_time_length_batch_parity": q_streaming_time_length_batch_parity,
        "streaming_rate_shape_parity": q_streaming_rate_shape_parity,
        "streaming_join_parity": q_streaming_join_parity,
        "source_csv_roundtrip": q_source_csv_roundtrip,
        "source_python_datasource": q_source_python_datasource,
        "streaming_python_sink_parity": q_streaming_python_sink_parity,
        "streaming_python_source_parity": q_streaming_python_source_parity,
        "streaming_python_source_partitioned_parity": (
            q_streaming_python_source_partitioned_parity
        ),
        "source_jsonl_roundtrip": q_source_jsonl_roundtrip,
        "streaming_outer_join_parity": q_streaming_outer_join_parity,
        "streaming_external_time_batch_parity": q_streaming_external_time_batch_parity,
        # -- (0a) round 7 continuation: chroma-subsampled JPEG (2x2
        #    luma MCUs + upsampling) and indexed-palette PNG decode —
        #    two more declared codec boundaries removed
        "multimodal_decode_jpeg_420": lambda s, d: fmm.jpeg420_decode_stats(_docs(s, d)),
        "multimodal_decode_jpeg_progressive_420": lambda s, d: (
            fmm.jpeg_progressive_420_decode_stats(_docs(s, d))
        ),
        "multimodal_decode_png_subbyte": lambda s, d: fmm.png_subbyte_decode_stats(
            _docs(s, d)
        ),
        "multimodal_decode_png_palette": lambda s, d: fmm.png_palette_decode_stats(
            _docs(s, d)
        ),
        "multimodal_decode_png_adam7": lambda s, d: fmm.png_adam7_decode_stats(
            _docs(s, d)
        ),
        "multimodal_decode_jpeg_progressive": lambda s, d: fmm.jpeg_progressive_decode_stats(
            _docs(s, d)
        ),
        # -- (0a) round 8 continuation: lossless (SOF3) predictive
        #    huffman — bit-exact on arbitrary bytes, 1 px per raw byte
        "multimodal_decode_jpeg_lossless": lambda s, d: fmm.jpeg_lossless_decode_stats(
            _docs(s, d)
        ),
        # -- round 9: arithmetic (SOF9) QM-coded path, same constant-
        #    block image model -> shares the certified byte oracle
        "multimodal_decode_jpeg_arith": lambda s, d: fmm.jpeg_arith_decode_stats(
            _docs(s, d)
        ),
        # -- round 10: SOF11 arithmetic LOSSLESS — the last cell of
        #    the T.81 process matrix (annex-H predictor walk x QM
        #    coder); bit-exact, shares the lossless identity oracle
        "multimodal_decode_jpeg_arith_lossless": lambda s, d: (
            fmm.jpeg_arith_lossless_decode_stats(_docs(s, d))
        ),
        # -- (0a) round 7 continuation: sketch/session analytics twins
        #    driver-certified (mergeable-state parity; watermark
        #    sentinel closes every session) -> 10/26
        "streaming_kmv_parity": q_streaming_kmv_parity,
        "streaming_countmin_parity": q_streaming_countmin_parity,
        "streaming_sessionize_parity": q_streaming_sessionize_parity,
        "streaming_time_window_parity": q_streaming_time_window_parity,
        "streaming_first_parity": q_streaming_first_parity,
        "streaming_ever_dual_parity": q_streaming_ever_dual_parity,
        "streaming_asof_parity": q_streaming_asof_parity,
        "streaming_range_agg_parity": q_streaming_range_agg_parity,
        "streaming_funnel_parity": q_streaming_funnel_parity,
        "streaming_trend_parity": q_streaming_trend_parity,
        "streaming_anomaly_parity": q_streaming_anomaly_parity,
        "streaming_dedup_watermark_parity": q_streaming_dedup_watermark_parity,
        "streaming_curation_parity": q_streaming_curation_parity,
        "streaming_lsh_ingest_parity": q_streaming_lsh_ingest_parity,
        "streaming_index_ingest_parity": q_streaming_index_ingest_parity,
        "streaming_pq_encode_parity": q_streaming_pq_encode_parity,
        # -- (0b) new in round 6: `insert all events into` and the
        #    reference's window-to-window JOIN query text through the
        #    SiddhiQL front-end
        "siddhiql_time_all_events": q_siddhiql_time_all_events,
        "siddhiql_join_ever": q_siddhiql_join_ever,
        "siddhiql_join_time_batch_all": q_siddhiql_join_time_batch_all,
        # -- new in round 11: mixed-pair find()-state join + iterative
        #    BPE trainer (never driver-checked => rotation tier 0)
        "siddhiql_join_mixed": q_siddhiql_join_mixed,
        "siddhiql_join_mixed_external": q_siddhiql_join_mixed_external,
        # -- new in round 12: expired/all channels for the NON-aligned
        #    mixed pairs (emission-log / co-residency interval
        #    algebras, VERDICT r11 item 4); never driver-checked =>
        #    rotation tier 0
        "siddhiql_join_mixed_all": q_siddhiql_join_mixed_all,
        "siddhiql_join_mixed_grids_all": q_siddhiql_join_mixed_grids_all,
        "siddhiql_join_mixed_external_all": q_siddhiql_join_mixed_external_all,
        "siddhiql_join_mixed_lengths_all": q_siddhiql_join_mixed_lengths_all,
        "siddhiql_join_mixed_lb_external_all":
            q_siddhiql_join_mixed_lb_external_all,
        "siddhiql_join_mixed_external_pair_all":
            q_siddhiql_join_mixed_external_pair_all,
        # -- new in round 13: expired/all channels for NON-BATCH
        #    windows against the timeBatch family (live-interval
        #    algebra, VERDICT r12 item 2 — the last join-channel
        #    family); never driver-checked => rotation tier 0
        "siddhiql_join_ever_tb_all": q_siddhiql_join_ever_tb_all,
        "siddhiql_join_time_tb_all": q_siddhiql_join_time_tb_all,
        "siddhiql_join_length_tb_all": q_siddhiql_join_length_tb_all,
        # -- new in round 13 (second half of VERDICT r12 item 2):
        #    NON-BATCH windows against the ARRIVAL-DRIVEN batch
        #    families (lengthBatch / externalTimeBatch) — instant-
        #    space pair algebra with timer flags; never
        #    driver-checked => rotation tier 0
        "siddhiql_join_ever_lb_all": q_siddhiql_join_ever_lb_all,
        "siddhiql_join_time_etb_all": q_siddhiql_join_time_etb_all,
        # -- new in round 13 (final join family): NON-BATCH x
        #    NON-BATCH with shared timer instants; never
        #    driver-checked => rotation tier 0
        "siddhiql_join_time_time_all": q_siddhiql_join_time_time_all,
        # -- new in round 13: timeLengthBatch's hybrid fire protocol
        #    joins the instant machinery (3-strata encoding)
        "siddhiql_join_ever_tlb_all": q_siddhiql_join_ever_tlb_all,
        "siddhiql_join_tlb_tb_all": q_siddhiql_join_tlb_tb_all,
        "vocab_bpe_train": lambda s, d: fcur.bpe_train(_docs(s, d)),
        # -- new in round 12: apply the learned BPE merges back to the
        #    corpus (train -> encode completes the tokenizer story;
        #    parity-tested at two SFs in r11, registration deferred to
        #    keep the r11 window at its 50 mandatory entries)
        "vocab_bpe_encode": lambda s, d: fcur.bpe_encode(_docs(s, d)),
        "streaming_dedup_parity": q_streaming_dedup_parity,
        "streaming_length_parity": q_streaming_length_parity,
        "multimodal_decode_jpeg": lambda s, d: fmm.jpeg_decode_stats(_docs(s, d)),
        "multimodal_decode_png": lambda s, d: fmm.png_decode_stats(_docs(s, d)),
        "docs_gunzip_ingest": lambda s, d: fmm.gunzip_text_stats(_docs(s, d)),
        "multimodal_decode_flac": lambda s, d: fmm.flac_audio_stats(_docs(s, d)),
        "siddhiql_partitioned_time": q_siddhiql_partitioned_time,
        "siddhiql_group_having": q_siddhiql_group_having,
        # -- new in round 10: expression keys x partition x
        #    group-by/having (VERDICT r09 item 5)
        "siddhiql_partitioned_expr_key_agg": q_siddhiql_partitioned_expr_key_agg,
        # -- (1) last certified r05: pipelines, curation,
        #    asof/range, sketch, rollup, sessionize
        "pipeline_corpus_curation": lambda s, d: fpipe.corpus_curation(_docs(s, d)),
        "pipeline_dedup_corpus": lambda s, d: fpipe.dedup_corpus(_docs(s, d)),
        "text_repetition_stats": lambda s, d: fcur.repetition_stats(_docs(s, d)),
        "vocab_top_tokens": lambda s, d: fcur.vocab_top_tokens(_docs(s, d)),
        "sample_stratified": lambda s, d: fcur.stratified_sample(_docs(s, d)),
        "sample_domain_quota": lambda s, d: fcur.domain_quota(
            _docs(s, d), ftext.quality_score(_docs(s, d))
        ),
        "contamination_check": lambda s, d: fcur.contamination_check(_docs(s, d)),
        "corpus_mixture_stats": lambda s, d: fcur.mixture_stats(_docs(s, d)),
        "corpus_quality_percentiles": lambda s, d: fcur.quality_percentiles(_docs(s, d)),
        "corpus_pack_shards": lambda s, d: fcur.pack_training_shards(_docs(s, d)),
        "pii_redact": lambda s, d: fcur.pii_redact(_docs(s, d)),
        "events_asof_join": lambda s, d: fasof.purchases_with_last_click(_events(s, d)),
        "events_range_join": lambda s, d: fasof.clicks_before_purchase(_events(s, d)),
        "sketch_kmv_distinct": lambda s, d: fsk.kmv_distinct(_events(s, d)),
        "events_time_rollup": lambda s, d: fsk.time_rollup(_events(s, d)),
        "events_sessionize": lambda s, d: fsess.sessionize(_events(s, d), 2 * HOUR),
        "events_session_native": lambda s, d: fsess.session_window_native(
            _events(s, d), 2 * HOUR
        ),
        # -- (1b) new in round 5 continuation — never driver-checked:
        #    cross-document line dedup (CCNet/RefinedWeb), SemDeDup
        #    cluster-blocked semantic dedup, fixed-token chunking
        "dedup_lines": lambda s, d: fdedup.line_dedup(_docs(s, d)),
        "dedup_semantic": lambda s, d: fsim.semantic_dedup(_emb(s, d)),
        "docs_chunk_tokens": lambda s, d: fcur.chunk_documents(_docs(s, d)),
        "sample_temperature": lambda s, d: fcur.temperature_resample(_docs(s, d)),
        "pipeline_pretrain_chunks": lambda s, d: fpipe.pretrain_chunks(_docs(s, d)),
        "vocab_bpe_merges": lambda s, d: fcur.bpe_merge_pairs(_docs(s, d)),
        "source_overlap_matrix": lambda s, d: fcur.source_overlap_matrix(_docs(s, d)),
        "emb_pca_covariance": lambda s, d: fsim.pca_covariance(_emb(s, d)),
        "emb_pca_project": lambda s, d: fsim.pca_project(_emb(s, d)),
        "select_token_budget": lambda s, d: fcur.select_token_budget(
            _docs(s, d), ftext.quality_score(_docs(s, d))
        ),
        # -- (1c) new in this session — never driver-checked: ordered
        #    funnel + cohort retention (event-sequence analytics)
        "events_funnel": lambda s, d: fana.funnel(_events(s, d)),
        "events_retention_cohorts": lambda s, d: fana.retention_cohorts(_events(s, d)),
        "text_bigram_logprob": lambda s, d: ftext.bigram_logprob(_docs(s, d)),
        "fuzzy_match_names": lambda s, d: ffuzzy.fuzzy_match_names(
            load_table(s, d, "part")
        ),
        "sketch_hll_distinct": lambda s, d: fsk.hll_distinct(_events(s, d)),
        "sketch_sample_quantiles": lambda s, d: fsk.hash_sample_quantiles(_events(s, d)),
        "sketch_bottomk_quantiles": lambda s, d: fsk.bottomk_sample_quantiles(_events(s, d)),
        "streaming_quantile_parity": q_streaming_quantile_parity,
        "streaming_session_native_parity": q_streaming_session_native_parity,
        "siddhiql_streaming_join_parity": q_siddhiql_streaming_join_parity,
        "source_bucketed_join": q_source_bucketed_join,
        "dedup_graph_pagerank": lambda s, d: fgraph.near_dup_pagerank(_docs(s, d)),
        "events_absence": lambda s, d: fana.absence(_events(s, d)),
        "events_transition_matrix": lambda s, d: fana.transition_matrix(_events(s, d)),
        "dedup_near_incremental": lambda s, d: fdedup.incremental_near_dup(
            _docs(s, d).filter(F.col("doc_id") >= 250),
            fdedup.minhash_signatures(_docs(s, d).filter(F.col("doc_id") < 250)),
        ),
        "orders_status_scd2": lambda s, d: fana.scd2_intervals(
            load_table(s, d, "orders")
        ),
        "multimodal_decode_ppm": lambda s, d: fmm.decode_stats(_docs(s, d)),
        "sample_train_val_test": lambda s, d: fcur.train_val_test_split(_docs(s, d)),
        "emb_label_outliers": lambda s, d: fsim.label_outliers(_emb(s, d)),
        # -- (1d) new in this session — never driver-checked: triangle
        #    counting, count-min, Bloom runtime prefilter, positional
        #    phrase search, z-order layout manifest
        # ordered within 1d by novelty-of-algebra (the cap cuts inside
        # this group): parsers, query-text front-end, and exact-flag
        # algebra first; simpler agg/window shapes last
        "siddhiql_ever_filtered": q_siddhiql_ever_filtered,
        "multimodal_decode_wav": lambda s, d: fmm.audio_stats(_docs(s, d)),
        "multimodal_decode_y4m": lambda s, d: fmm.video_frame_stats(_docs(s, d)),
        "events_hourly_anomalies": lambda s, d: fana.hourly_anomalies(_events(s, d)),
        "dedup_graph_triangles": lambda s, d: fgraph.near_dup_triangles(_docs(s, d)),
        "sketch_countmin_topk": lambda s, d: fsk.countmin_heavy_hitters(_events(s, d)),
        "join_bloom_prefilter": lambda s, d: fsk.bloom_prefilter_join(
            load_table(s, d, "orders"), load_table(s, d, "lineitem")
        ),
        "docs_phrase_search": lambda s, d: fret.phrase_search(_docs(s, d)),
        "events_json_props": lambda s, d: fana.json_props_stats(_events(s, d)),
        "events_value_trend": lambda s, d: fana.value_trend_by_type(_events(s, d)),
        "events_chi2_cohorts": lambda s, d: fana.chi2_type_vs_cohort(_events(s, d)),
        # -- (2) implementation changed in round 5 (bounded-K ANN,
        #    two-phase running distinct, narrow lengthBatch funnel);
        #    r04-green with the prior implementation, local parity
        #    green (sf0.001 pytest + sf0.01/sf0.1 full sweeps) with
        #    the current one
        "sim_ivf_topk": lambda s, d: fsim.ivf_topk(_emb(s, d)),
        "sim_cell_centroids": lambda s, d: fsim.cell_centroids(_emb(s, d)),
        "sim_pq_topk": lambda s, d: fsim.pq_topk(_emb(s, d)),
        "sim_pq_rerank": lambda s, d: fsim.pq_rerank_topk(_emb(s, d)),
        "dedup_embedding_cosine": lambda s, d: fsim.embedding_near_dup_pairs(_emb(s, d)),
        "running_distinct_users": q_running_distinct_users,
        "unique_length_batch": q_length_batch,
        "unique_first_length_batch": q_first_length_batch,
        "unique_length_batch_expired": q_length_batch_expired,
        # -- (3) stable: reference operators and host-engine surface
        "unique_ever": q_unique_ever,
        "unique_first": q_unique_first,
        "unique_ever_expired": q_unique_ever_expired,
        "orders_latest_per_customer": q_orders_latest_per_customer,
        "unique_length": q_unique_length,
        "unique_time": q_unique_time,
        "unique_time_batch": q_unique_time_batch,
        "unique_external_time_batch": q_unique_external_time_batch,
        "unique_deduplicate": q_unique_deduplicate,
        "proc_time_replay": q_proc_time_replay,
        "proc_dedup_replay": q_proc_dedup_replay,
        "ever_count_by_type": q_ever_count_by_type,
        "ever_join_customer": q_ever_join_customer,
        "first_filtered": q_first_filtered,
        "window_join": q_window_join,
        # emission log: distributed set-semantics form (the driver's
        # hash compare is order-insensitive; the ordered replay twin is
        # ops.length_window_emissions, pinned by pytest)
        "unique_length_emissions": lambda s, d: ops.length_window_emissions_distributed(
            _events(s, d), "user_id", 100, ts="ts", tiebreak="event_id"
        ).select("event_id", "user_id", "channel"),
        "unique_time_length_batch": q_time_length_batch,
        "unique_time_length_batch_start": q_time_length_batch_start,
        "unique_time_batch_expired": q_time_batch_expired,
        # -- (3) stable: dedup / similarity / multimodal tier
        "dedup_exact": lambda s, d: fdedup.exact_dedup(_docs(s, d)),
        "dedup_exact_incremental": lambda s, d: fdedup.incremental_exact_dedup(
            _docs(s, d).filter(F.col("doc_id") >= 250),
            fdedup.exact_dedup(_docs(s, d).filter(F.col("doc_id") < 250)),
        ),
        "dedup_near_pairs_lsh": lambda s, d: fdedup.near_dup_pairs(_docs(s, d)),
        "dedup_clusters": lambda s, d: fdedup.near_dup_clusters(_docs(s, d)),
        "dedup_simhash_near_pairs": lambda s, d: fdedup.simhash_near_pairs(_docs(s, d)),
        "dedup_char_ngram_jaccard": lambda s, d: fdedup.char_ngram_jaccard_pairs(_docs(s, d)),
        # exact-substring duplicated-span coverage (Lee et al.),
        # new in round 9
        "dedup_span_coverage": lambda s, d: fdedup.dup_span_coverage(_docs(s, d)),
        "dedup_span_removal": lambda s, d: fdedup.dup_span_removal(_docs(s, d)),
        "dedup_span_incremental": lambda s, d: fdedup.incremental_span_coverage(
            _docs(s, d).filter(F.col("doc_id") >= 250),
            fdedup.span_gram_manifest(_docs(s, d).filter(F.col("doc_id") < 250)),
        ),
        "sim_cosine_topk": lambda s, d: fsim.cosine_topk(_emb(s, d)),
        "multimodal_resize": lambda s, d: fmm.resize_payload(fmm.with_binary_payload(_docs(s, d))),
        # ---- entries past the 50-entry driver cap: all hash-green in
        #      CORRECTNESS_r04 and untouched in round 5 ----
        "unique_ever_multi": q_unique_ever_multi,
        "unique_ever_expired_expr": q_unique_ever_expired_expr,
        "unique_time_expired": q_unique_time_expired,
        "unique_first_time_batch": q_unique_first_time_batch,
        "unique_external_time_batch_end_ts": q_unique_external_time_batch_end_ts,
        "text_token_stats": lambda s, d: ftext.token_stats(_docs(s, d)),
        "text_quality_score": lambda s, d: ftext.quality_score(_docs(s, d)),
        "text_lang_id": lambda s, d: ftext.lang_id(_docs(s, d)),
        "text_fingerprint": lambda s, d: ftext.fingerprint(_docs(s, d)),
        "text_winnow_fingerprints": lambda s, d: ftext.winnow_fingerprints(_docs(s, d)),
        "text_unigram_logprob": lambda s, d: ftext.unigram_logprob(_docs(s, d)),
        "dedup_minhash_signatures": lambda s, d: fdedup.minhash_signatures(_docs(s, d)),
        "dedup_minhash_accuracy": lambda s, d: fdedup.minhash_accuracy(_docs(s, d)),
        "dedup_simhash": lambda s, d: fdedup.simhash(_docs(s, d)),
        "multimodal_feature_stats": lambda s, d: fmm.feature_stats(_docs(s, d)),
        "multimodal_frame_sample": lambda s, d: fmm.sample_frames(
            fmm.with_binary_payload(_docs(s, d))
        ),
    }
    # The streaming certification entries replay tiny corpora through
    # checkpointed micro-batches: their cost is dominated by per-batch
    # state-store commit I/O, which scales with the shuffle-partition
    # count (one state file per partition per operator per batch), not
    # with data. 8 state partitions cuts the two-run checkpoint
    # entries ~30% (measured at sf0.1) with identical results; the
    # session conf is restored after the entry so batch plans keep the
    # driver's setting. On a real cluster a streaming job would size
    # this to key cardinality, not inherit a batch default.
    for k in list(registry):
        if k.startswith("streaming_") or k in (
            "siddhiql_streaming_agg_parity",
            # its two staged twins otherwise run at the ambient 32
            # shuffle partitions: 32 state files per micro-batch per
            # side (measured 2.5 s -> 1.7 s at 8, r10)
            "siddhiql_streaming_join_parity",
        ):
            registry[k] = _with_stream_conf(registry[k], _STREAM_PARTS.get(k, "8"))
    order = _ledger_order(list(registry))
    return {k: registry[k] for k in order}


# Per-entry state-partition overrides, measured r10 (interleaved
# min-of-2 at sf0.1, local[32]): the Python-stateful-heavy twins gain
# 15-20% from 16 partitions (more Arrow worker parallelism outweighs
# the extra per-batch state files: lsh_ingest 5.1->3.9, sessionize
# 4.7->3.5, time_window 4.6->3.5, ever_dual 4.2->3.5, asof 2.7->2.5);
# the small/native-state and two-run checkpoint entries measured
# FASTER at 8 (outer_join 3.4 vs 4.3, dedup_watermark 4.4 vs 4.7,
# python_source_partitioned 5.1 vs 5.6), so 8 stays the default. On a
# real cluster a streaming job sizes this to key cardinality.
_STREAM_PARTS = {
    "streaming_lsh_ingest_parity": "16",
    "streaming_sessionize_parity": "16",
    "streaming_time_window_parity": "16",
    "streaming_ever_dual_parity": "16",
    "streaming_asof_parity": "16",
}


def _with_stream_conf(fn, parts: str = "8"):
    def wrapped(spark, sf_dir):
        old = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", parts)
        try:
            return fn(spark, sf_dir)
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", old)

    return wrapped


# ---------------------------------------------------------------- oracles

_EVER_SQL = f"""
SELECT {_EVENT_SQL_COLS}
FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      FROM events) t
WHERE rn = 1
"""

_FIRST_SQL = f"""
SELECT {_EVENT_SQL_COLS}
FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS rn
      FROM events) t
WHERE rn = 1
"""

_TIME_BATCH_SQL = f"""
SELECT {_EVENT_SQL_COLS}, batch_start_ms, batch_start_ms + 3600000 AS batch_end_ms
FROM (SELECT *, (epoch_ms(ts) // 3600000) * 3600000 AS batch_start_ms,
             row_number() OVER (PARTITION BY epoch_ms(ts) // 3600000, user_id
                                ORDER BY epoch_ms(ts) DESC, event_id DESC) AS rn
      FROM events) t
WHERE rn = 1
"""


def _length_batch_oracle(n: int, keep: str) -> str:
    """DuckDB oracle for the lengthBatch family: a recursive CTE steps
    one FIRE at a time — the next fire position is the Nth distinct
    first-occurrence key position after the previous fire — then the
    retained event per (batch, key) is the max (replace) or min
    (keep-first) position in the batch's range. Mirrors
    operators/replay.py:length_batch exactly (verified row-for-row)."""
    pos_pick = "max(pos)" if keep == "last" else "min(pos)"
    return f"""
WITH RECURSIVE ev AS (
  SELECT event_id, user_id, epoch_ms(ts) AS ms,
         row_number() OVER (ORDER BY ts, event_id) AS pos
  FROM events
),
fires(seq, start_pos, fire_pos) AS (
  SELECT -1, CAST(0 AS BIGINT), CAST(0 AS BIGINT)
  UNION ALL
  SELECT f.seq + 1, f.fire_pos,
         (SELECT pos FROM (
            SELECT min(pos) AS pos FROM ev WHERE ev.pos > f.fire_pos GROUP BY user_id
          ) t ORDER BY pos LIMIT 1 OFFSET {n - 1})
  FROM fires f
  WHERE (SELECT pos FROM (
            SELECT min(pos) AS pos FROM ev WHERE ev.pos > f.fire_pos GROUP BY user_id
          ) t ORDER BY pos LIMIT 1 OFFSET {n - 1}) IS NOT NULL
)
SELECT e.event_id, e.user_id, f.seq AS batch_seq,
       (SELECT ms FROM ev WHERE pos = f.fire_pos) AS fired_at_ms
FROM fires f
JOIN ev e ON e.pos = (
  SELECT {pos_pick} FROM ev e2
  WHERE e2.user_id = e.user_id AND e2.pos > f.start_pos AND e2.pos <= f.fire_pos)
 AND e.pos > f.start_pos AND e.pos <= f.fire_pos
WHERE f.seq >= 0
"""


def _length_emissions_oracle(n: int) -> str:
    """DuckDB oracle for the unique:length emission log. Key insight:
    because a duplicate key moves to the back of the FIFO
    (UniqueLengthWindowProcessor.java:153-157), the buffer is always
    exactly "the n most-recently-occurring distinct keys, each mapped
    to its latest event". So an event expires (exactly once, channel
    'expired') iff its key occurs again later (replace, :148-157) OR
    at least ``n`` distinct OTHER keys occur after it (FIFO eviction,
    :158-166) — whichever would come first, the emitted row is the
    same. Every arrival also emits on 'current'. Window functions
    only, no recursion."""
    return f"""
WITH ev AS (
  SELECT event_id, user_id, row_number() OVER (ORDER BY ts, event_id) AS pos FROM events
),
nx AS (
  SELECT *, lead(pos) OVER (PARTITION BY user_id ORDER BY pos) AS next_pos FROM ev
),
d AS (
  SELECT *, sum(CASE WHEN next_pos IS NULL THEN 1 ELSE 0 END)
            OVER (ORDER BY pos ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS d_after
  FROM nx
)
SELECT event_id, user_id, 'current' AS channel FROM ev
UNION ALL
SELECT event_id, user_id, 'expired' AS channel FROM d
WHERE next_pos IS NOT NULL OR coalesce(d_after, 0) >= {n}
"""


def _length_emissions_indexed_oracle(n: int) -> str:
    """DuckDB oracle for the ORDERED unique:length emission log
    (operators/length.py:length_window_emissions_indexed). Extends the
    set-semantics insight (_length_emissions_oracle) to positions: the
    event at pos p (key k) expires at

        exp(p) = min( next occurrence of k,                 -- replace
                      pos of the n-th distinct OTHER key    -- FIFO
                      first-occurring after p )             -- evict

    because the buffer is always "the n most-recently-occurring
    distinct keys"; when the n-th distinct other key arrives, p is the
    buffer front and that arrival is new-to-buffer with the buffer
    full. At each arrival the expired row (if any — at most one)
    emits BEFORE the arrival's own 'current' row, which fixes
    ``emission_idx`` as a prefix sum. The q-candidate join is bounded:
    q pairs with p only for prev(q) <= p < q, so the join size is the
    sum of same-key gaps ~ n_events^2 / n_keys — window functions and
    one bounded equi-ish join, no recursion (a per-event recursive-CTE
    FIFO simulation was measured 100x slower)."""
    return f"""
WITH ev AS (
  SELECT event_id, user_id, row_number() OVER (ORDER BY ts, event_id) AS pos FROM events
),
linked AS (
  SELECT *,
         coalesce(lag(pos)  OVER (PARTITION BY user_id ORDER BY pos), 0) AS prev_pos,
         lead(pos) OVER (PARTITION BY user_id ORDER BY pos) AS next_pos
  FROM ev
),
qn AS (
  SELECT p_pos, q_pos AS evict_pos FROM (
    SELECT p.pos AS p_pos, q.pos AS q_pos,
           row_number() OVER (PARTITION BY p.pos ORDER BY q.pos) AS rq
    FROM linked p JOIN linked q
      ON q.pos > p.pos AND q.prev_pos <= p.pos AND q.user_id != p.user_id
  ) WHERE rq = {n}
),
expiry AS (
  SELECT l.pos, l.event_id,
         least(coalesce(l.next_pos, 9223372036854775807),
               coalesce(q.evict_pos, 9223372036854775807)) AS exp_pos
  FROM linked l LEFT JOIN qn q ON q.p_pos = l.pos
),
arr AS (
  SELECT e.pos, e.event_id, x.event_id AS expired_eid
  FROM ev e LEFT JOIN expiry x ON x.exp_pos = e.pos
),
flagged AS (
  SELECT pos, event_id, expired_eid,
         CASE WHEN expired_eid IS NOT NULL THEN 1 ELSE 0 END AS has_exp,
         (pos - 1) + coalesce(sum(CASE WHEN expired_eid IS NOT NULL THEN 1 ELSE 0 END)
           OVER (ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS base
  FROM arr
),
outp AS (
  SELECT expired_eid AS event_id, CAST(base AS BIGINT) AS emission_idx,
         'expired' AS channel
  FROM flagged WHERE expired_eid IS NOT NULL
  UNION ALL
  SELECT event_id, CAST(base + has_exp AS BIGINT), 'current' AS channel FROM flagged
)
SELECT o.event_id, e.user_id, o.channel, o.emission_idx
FROM outp o JOIN ev e ON e.event_id = o.event_id
"""


def _length_emissions_indexed_partitioned_oracle(n: int) -> str:
    """Per-instance variant of :func:`_length_emissions_indexed_oracle`
    (operators/length.py:length_window_emissions_indexed with
    ``partition_attr=``):
    every clause is re-scoped to the partition attribute — positions,
    the same-key chain, the n-th-distinct-other-key eviction join, and
    the emission-index prefix sum all run within each event_type's own
    FIFO, so emission_idx is 0-based per instance."""
    return f"""
WITH ev AS (
  SELECT event_id, user_id, event_type,
         row_number() OVER (PARTITION BY event_type ORDER BY ts, event_id) AS pos
  FROM events
),
linked AS (
  SELECT *,
         coalesce(lag(pos)  OVER (PARTITION BY event_type, user_id ORDER BY pos), 0) AS prev_pos,
         lead(pos) OVER (PARTITION BY event_type, user_id ORDER BY pos) AS next_pos
  FROM ev
),
qn AS (
  SELECT et, p_pos, q_pos AS evict_pos FROM (
    SELECT p.event_type AS et, p.pos AS p_pos, q.pos AS q_pos,
           row_number() OVER (PARTITION BY p.event_type, p.pos ORDER BY q.pos) AS rq
    FROM linked p JOIN linked q
      ON q.event_type = p.event_type AND q.pos > p.pos
     AND q.prev_pos <= p.pos AND q.user_id != p.user_id
  ) WHERE rq = {n}
),
expiry AS (
  SELECT l.event_type, l.pos, l.event_id,
         least(coalesce(l.next_pos, 9223372036854775807),
               coalesce(q.evict_pos, 9223372036854775807)) AS exp_pos
  FROM linked l LEFT JOIN qn q ON q.et = l.event_type AND q.p_pos = l.pos
),
arr AS (
  SELECT e.event_type, e.pos, e.event_id, x.event_id AS expired_eid
  FROM ev e LEFT JOIN expiry x
    ON x.event_type = e.event_type AND x.exp_pos = e.pos
),
flagged AS (
  SELECT event_type, pos, event_id, expired_eid,
         CASE WHEN expired_eid IS NOT NULL THEN 1 ELSE 0 END AS has_exp,
         (pos - 1) + coalesce(sum(CASE WHEN expired_eid IS NOT NULL THEN 1 ELSE 0 END)
           OVER (PARTITION BY event_type ORDER BY pos
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS base
  FROM arr
),
outp AS (
  SELECT event_type, expired_eid AS event_id, CAST(base AS BIGINT) AS emission_idx,
         'expired' AS channel
  FROM flagged WHERE expired_eid IS NOT NULL
  UNION ALL
  SELECT event_type, event_id, CAST(base + has_exp AS BIGINT), 'current' AS channel
  FROM flagged
)
SELECT o.event_type, o.event_id, e.user_id, o.channel, o.emission_idx
FROM outp o JOIN ev e ON e.event_id = o.event_id
"""


# byte%16 histogram == low hex nibble counts: hex() exposes each byte's
# low nibble at the even (1-based) string positions, so the histogram
# is computable engine-side without byte-array access.
_MULTIMODAL_ORACLE = """
WITH h AS (
  SELECT doc_id, octet_length(encode(text)) AS n_bytes, lower(hex(encode(text))) AS hx
  FROM documents
),
l AS (
  SELECT doc_id, n_bytes,
         list_transform(generate_series(1, CAST(n_bytes AS INTEGER)),
                        i -> substring(hx, 2*i, 1)) AS lows
  FROM h
),
hist AS (
  SELECT doc_id, n_bytes,
         list_transform(generate_series(0, 15),
           b -> len(list_filter(lows,
                 c -> c = substring('0123456789abcdef', CAST(b AS INTEGER) + 1, 1)))) AS bh
  FROM l
)
SELECT doc_id, n_bytes, list_max(bh) AS max_bin,
       list_position(bh, list_max(bh)) AS argmax_bin_1based
FROM hist
"""


def _time_length_batch_oracle(
    t_ms: int, n: int, start_ms: int | None = None, src: str = "events"
) -> str:
    """DuckDB oracle for unique:timeLengthBatch. Intervals are
    independent (the post-length-fire discard flag clears exactly at
    the next boundary), so no recursion is needed: per interval
    ``k = floor((ms - anchor)/T)``, a length fire occurs at the Nth
    distinct key's first occurrence (later interval events are
    discarded), else a time fire flushes at the boundary — but only
    if a later event actually crosses it (the trailing partial batch
    never fires, mirroring operators/replay.py:time_length_batch).
    ``start_ms`` pins the start.time anchor; default anchors at the
    first event's time."""
    anchor = str(start_ms) if start_ms is not None else "min(epoch_ms(ts)) OVER ()"
    return f"""
WITH ev AS (
  SELECT event_id, user_id, epoch_ms(ts) AS ms,
         row_number() OVER (ORDER BY ts, event_id) AS pos,
         {anchor} AS anchor,
         max(epoch_ms(ts)) OVER () AS max_ms
  FROM {src}
),
iv AS (
  SELECT *, CAST(floor((ms - anchor) / {t_ms}) AS BIGINT) AS k FROM ev
),
flagged AS (
  SELECT *, (row_number() OVER (PARTITION BY k, user_id ORDER BY pos) = 1) AS is_first
  FROM iv
),
running AS (
  SELECT *, sum(CASE WHEN is_first THEN 1 ELSE 0 END)
              OVER (PARTITION BY k ORDER BY pos) AS nd
  FROM flagged
),
firepos AS (
  SELECT k, min(CASE WHEN nd = {n} AND is_first THEN pos END) AS L
  FROM running GROUP BY k
),
live AS (
  SELECT r.*, f.L FROM running r JOIN firepos f USING (k)
  WHERE (f.L IS NULL OR r.pos <= f.L)
    AND (f.L IS NOT NULL OR r.anchor + (r.k + 1) * {t_ms} <= r.max_ms)
),
retained AS (
  SELECT *, row_number() OVER (PARTITION BY k, user_id ORDER BY pos DESC) AS rnk
  FROM live
),
seqs AS (
  SELECT k, row_number() OVER (ORDER BY k) - 1 AS batch_seq
  FROM (SELECT DISTINCT k FROM live)
)
SELECT r.event_id, r.user_id, s.batch_seq,
       CASE WHEN r.L IS NOT NULL THEN (SELECT ms FROM ev WHERE pos = r.L)
            ELSE r.anchor + (r.k + 1) * {t_ms} END AS fired_at_ms,
       CASE WHEN r.L IS NOT NULL THEN 'length' ELSE 'time' END AS fire_reason
FROM retained r JOIN seqs s USING (k)
WHERE r.rnk = 1
"""


def _time_length_batch_expired_oracle(t_ms: int, n: int, start_ms: int | None = None) -> str:
    """Expired-channel wrap of ``_time_length_batch_oracle``: batch k
    re-emits at min(fire k+1, B(k) + T·[fire k was a length fire])
    where B(k) is the first boundary strictly after fire k — a
    boundary right after a length fire only resets the skip flag
    (reference timer branch returns without sendEvents), so the drain
    waits one more flush. Witnessed iff <= max event ts — mirroring
    operators/replay.py:time_length_batch_expired."""
    anchor = str(start_ms) if start_ms is not None else "min(epoch_ms(ts))"
    return f"""
WITH base AS ({_time_length_batch_oracle(t_ms, n, start_ms)}),
a AS (SELECT {anchor} AS anchor, max(epoch_ms(ts)) AS max_ms FROM events),
fires AS (SELECT DISTINCT batch_seq, fired_at_ms FROM base),
nxt AS (SELECT batch_seq,
               lead(fired_at_ms) OVER (ORDER BY batch_seq) AS next_fire
        FROM fires)
SELECT event_id, user_id, batch_seq, fired_at_ms, expired_at_ms FROM (
  SELECT b.event_id, b.user_id, b.batch_seq, b.fired_at_ms, a.max_ms,
         least(((b.fired_at_ms - a.anchor) // {t_ms} + 1) * {t_ms} + a.anchor
                 + CASE WHEN b.fire_reason = 'length' THEN {t_ms} ELSE 0 END,
               coalesce(nxt.next_fire, 9223372036854775807)) AS expired_at_ms
  FROM base b JOIN nxt USING (batch_seq) CROSS JOIN a
) t WHERE expired_at_ms <= max_ms
"""


def _external_time_batch_oracle(t_ms: int) -> str:
    """Current channel of unique:externalTimeBatch, first-event anchor
    (all present batches, final-state convention)."""
    return f"""
WITH a AS (SELECT min(epoch_ms(ts)) AS anchor FROM events),
b AS (SELECT e.*, ((epoch_ms(e.ts) - a.anchor) // {t_ms}) * {t_ms} + a.anchor
             AS batch_start_ms
      FROM events e CROSS JOIN a)
SELECT {_EVENT_SQL_COLS}, batch_start_ms, batch_start_ms + {t_ms} AS batch_end_ms
FROM (SELECT *, row_number() OVER (PARTITION BY batch_start_ms, user_id
                                   ORDER BY epoch_ms(ts) DESC, event_id DESC) AS rn
      FROM b) t
WHERE rn = 1
"""


def _external_time_batch_expired_oracle(t_ms: int) -> str:
    """Expired channel of unique:externalTimeBatch (first-event
    anchor): batch rank r re-emits at the first event timestamp of
    rank r+2 among the batches present — mirroring
    operators/time_batch.py:external_time_batch_expired."""
    return f"""
WITH a AS (SELECT min(epoch_ms(ts)) AS anchor FROM events),
b AS (SELECT e.*, ((epoch_ms(e.ts) - a.anchor) // {t_ms}) * {t_ms} + a.anchor
             AS batch_start_ms
      FROM events e CROSS JOIN a),
r AS (SELECT * FROM (
        SELECT *, row_number() OVER (PARTITION BY batch_start_ms, user_id
                                     ORDER BY epoch_ms(ts) DESC, event_id DESC) AS rn
        FROM b) t
      WHERE rn = 1),
log AS (SELECT batch_start_ms, min(epoch_ms(ts)) AS first_ms
        FROM b GROUP BY batch_start_ms),
x AS (SELECT batch_start_ms,
             lead(first_ms, 2) OVER (ORDER BY batch_start_ms) AS expired_at_ms
      FROM log)
SELECT {_EVENT_SQL_COLS}, batch_start_ms,
       batch_start_ms + {t_ms} AS batch_end_ms, expired_at_ms
FROM r JOIN x USING (batch_start_ms)
WHERE expired_at_ms IS NOT NULL
"""


def _length_batch_partitioned_oracle(n: int) -> str:
    """Per-partition-value lengthBatch chains (`partition with`): the
    recursive fire CTE of ``_length_batch_oracle`` stepped
    independently per event_type — positions are numbered within each
    partition and every correlated lookup pins the partition value, so
    one recursion advances all instances in lockstep."""
    return f"""
WITH RECURSIVE ev AS (
  SELECT event_id, user_id, event_type, epoch_ms(ts) AS ms,
         row_number() OVER (PARTITION BY event_type ORDER BY ts, event_id) AS pos
  FROM events
),
fires(event_type, seq, start_pos, fire_pos) AS (
  SELECT DISTINCT event_type, -1, CAST(0 AS BIGINT), CAST(0 AS BIGINT) FROM ev
  UNION ALL
  SELECT f.event_type, f.seq + 1, f.fire_pos,
         (SELECT pos FROM (
            SELECT min(pos) AS pos FROM ev
            WHERE ev.event_type = f.event_type AND ev.pos > f.fire_pos
            GROUP BY user_id
          ) t ORDER BY pos LIMIT 1 OFFSET {n - 1})
  FROM fires f
  WHERE (SELECT pos FROM (
            SELECT min(pos) AS pos FROM ev
            WHERE ev.event_type = f.event_type AND ev.pos > f.fire_pos
            GROUP BY user_id
          ) t ORDER BY pos LIMIT 1 OFFSET {n - 1}) IS NOT NULL
)
SELECT e.event_type, e.user_id, e.event_id, f.seq AS batch_seq,
       (SELECT ms FROM ev
        WHERE event_type = f.event_type AND pos = f.fire_pos) AS fired_at_ms
FROM fires f
JOIN ev e ON e.event_type = f.event_type
 AND e.pos = (
   SELECT max(pos) FROM ev e2
   WHERE e2.event_type = f.event_type AND e2.user_id = e.user_id
     AND e2.pos > f.start_pos AND e2.pos <= f.fire_pos)
 AND e.pos > f.start_pos AND e.pos <= f.fire_pos
WHERE f.seq >= 0
"""


def _time_length_batch_expired_partitioned_oracle(t_ms: int, n: int) -> str:
    """Per-instance expired wrap of the partitioned timeLengthBatch
    oracle: each event_type instance applies the corrected drain rule
    (min of its own next fire and B+T·[length fire]) against its own
    anchor and witness clock — mirroring
    operators/replay.py:time_length_batch_expired with ``partition_attr=``."""
    return f"""
WITH base AS ({_time_length_batch_partitioned_oracle(t_ms, n)}),
a AS (SELECT event_type, min(epoch_ms(ts)) AS anchor,
             max(epoch_ms(ts)) AS max_ms
      FROM events GROUP BY event_type),
fires AS (SELECT DISTINCT event_type, batch_seq, fired_at_ms FROM base),
nxt AS (SELECT event_type, batch_seq,
               lead(fired_at_ms) OVER (PARTITION BY event_type
                                       ORDER BY batch_seq) AS next_fire
        FROM fires)
SELECT event_type, user_id, event_id, batch_seq, expired_at_ms FROM (
  SELECT b.event_type, b.user_id, b.event_id, b.batch_seq, a.max_ms,
         least(((b.fired_at_ms - a.anchor) // {t_ms} + 1) * {t_ms} + a.anchor
                 + CASE WHEN b.fire_reason = 'length' THEN {t_ms} ELSE 0 END,
               coalesce(nxt.next_fire, 9223372036854775807)) AS expired_at_ms
  FROM base b JOIN nxt USING (event_type, batch_seq) JOIN a USING (event_type)
) t WHERE expired_at_ms <= max_ms
"""


def _time_length_batch_partitioned_oracle(t_ms: int, n: int) -> str:
    """Per-partition-value timeLengthBatch (`partition with`): the
    interval-independence algebra of ``_time_length_batch_oracle``
    with every window/group additionally keyed on event_type, and each
    instance anchored at its own first event."""
    return f"""
WITH ev AS (
  SELECT event_id, user_id, event_type, epoch_ms(ts) AS ms,
         row_number() OVER (PARTITION BY event_type ORDER BY ts, event_id) AS pos,
         min(epoch_ms(ts)) OVER (PARTITION BY event_type) AS anchor,
         max(epoch_ms(ts)) OVER (PARTITION BY event_type) AS max_ms
  FROM events
),
iv AS (
  SELECT *, CAST(floor((ms - anchor) / {t_ms}) AS BIGINT) AS k FROM ev
),
flagged AS (
  SELECT *, (row_number() OVER (PARTITION BY event_type, k, user_id ORDER BY pos) = 1) AS is_first
  FROM iv
),
running AS (
  SELECT *, sum(CASE WHEN is_first THEN 1 ELSE 0 END)
              OVER (PARTITION BY event_type, k ORDER BY pos) AS nd
  FROM flagged
),
firepos AS (
  SELECT event_type, k, min(CASE WHEN nd = {n} AND is_first THEN pos END) AS L
  FROM running GROUP BY event_type, k
),
live AS (
  SELECT r.*, f.L FROM running r JOIN firepos f USING (event_type, k)
  WHERE (f.L IS NULL OR r.pos <= f.L)
    AND (f.L IS NOT NULL OR r.anchor + (r.k + 1) * {t_ms} <= r.max_ms)
),
retained AS (
  SELECT *, row_number() OVER (PARTITION BY event_type, k, user_id ORDER BY pos DESC) AS rnk
  FROM live
),
seqs AS (
  SELECT event_type, k,
         row_number() OVER (PARTITION BY event_type ORDER BY k) - 1 AS batch_seq
  FROM (SELECT DISTINCT event_type, k FROM live)
)
SELECT r.event_type, r.user_id, r.event_id, s.batch_seq,
       CASE WHEN r.L IS NOT NULL THEN
              (SELECT ms FROM ev WHERE event_type = r.event_type AND pos = r.L)
            ELSE r.anchor + (r.k + 1) * {t_ms} END AS fired_at_ms,
       CASE WHEN r.L IS NOT NULL THEN 'length' ELSE 'time' END AS fire_reason
FROM retained r JOIN seqs s USING (event_type, k)
WHERE r.rnk = 1
"""


def _oracle_sql_base() -> dict[str, str]:
    return {
        "unique_ever": _EVER_SQL,
        # text-format source round-trips land on the identical result
        "source_csv_roundtrip": _EVER_SQL,
        "source_python_datasource": _EVER_SQL,
        "streaming_python_sink_parity": _DEDUPLICATE_SQL,
        "streaming_python_source_parity": _EVER_SQL,
        "streaming_python_source_partitioned_parity": _DEDUPLICATE_SQL,
        "source_jsonl_roundtrip": _EVER_SQL,
        "unique_ever_multi": f"""
            SELECT {_EVENT_SQL_COLS}
            FROM (SELECT *, row_number() OVER (PARTITION BY user_id, event_type
                                               ORDER BY ts DESC, event_id DESC) AS rn
                  FROM events) t
            WHERE rn = 1
        """,
        "unique_first": _FIRST_SQL,
        "unique_ever_expired": f"""
            SELECT {_EVENT_SQL_COLS}
            FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
                  FROM events) t
            WHERE rn > 1
        """,
        "unique_ever_expired_expr": f"""
            SELECT {_EVENT_SQL_COLS}
            FROM (SELECT *, row_number() OVER (PARTITION BY user_id % 4, event_type
                                               ORDER BY ts DESC, event_id DESC) AS rn
                  FROM events) t
            WHERE rn > 1
        """,
        "orders_latest_per_customer": """
            SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
                   epoch_ms(o_orderdate) AS o_orderdate_ms
            FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey
                                               ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
                  FROM orders) t
            WHERE rn = 1
        """,
        "unique_length": f"""
            SELECT {_EVENT_SQL_COLS}
            FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
                  FROM events) t
            WHERE rn = 1
            ORDER BY ts DESC, event_id DESC
            LIMIT 100
        """,
        "unique_time": f"""
            SELECT {_EVENT_SQL_COLS}
            FROM (SELECT e.*, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
                  FROM events e
                  WHERE epoch_ms(ts) > (SELECT max(epoch_ms(ts)) FROM events) - 86400000) t
            WHERE rn = 1
        """,
        "unique_time_expired": f"""
            SELECT {_EVENT_SQL_COLS}
            FROM (SELECT e.*,
                         epoch_ms(ts) > (SELECT max(epoch_ms(ts)) FROM events) - 86400000 AS in_win,
                         row_number() OVER (
                           PARTITION BY user_id,
                             (epoch_ms(ts) > (SELECT max(epoch_ms(ts)) FROM events) - 86400000)
                           ORDER BY ts DESC, event_id DESC) AS rn
                  FROM events e) t
            WHERE NOT (in_win AND rn = 1)
        """,
        "unique_time_batch": _TIME_BATCH_SQL,
        # the tumbling-window streaming twin's complete-mode final
        # state must equal the batch hourly grid
        "streaming_time_batch_parity": _TIME_BATCH_SQL,
        "unique_first_time_batch": f"""
            SELECT {_EVENT_SQL_COLS}, batch_start_ms, batch_start_ms + 3600000 AS batch_end_ms
            FROM (SELECT *, (epoch_ms(ts) // 3600000) * 3600000 AS batch_start_ms,
                         row_number() OVER (PARTITION BY epoch_ms(ts) // 3600000, user_id
                                            ORDER BY epoch_ms(ts) ASC, event_id ASC) AS rn
                  FROM events) t
            WHERE rn = 1
        """,
        "unique_external_time_batch": _external_time_batch_oracle(2 * HOUR),
        "siddhiql_partitioned_length": """
            SELECT event_type, user_id, event_id
            FROM (
              SELECT *, row_number() OVER (PARTITION BY event_type
                                           ORDER BY ts DESC, event_id DESC) AS rnk
              FROM (SELECT *, row_number() OVER (PARTITION BY event_type, user_id
                                                 ORDER BY ts DESC, event_id DESC) AS rn
                    FROM events) t
              WHERE rn = 1) z
            WHERE rnk <= 100
        """,
        "siddhiql_partitioned_length_batch": _length_batch_partitioned_oracle(50),
        "siddhiql_partitioned_time_length_batch": _time_length_batch_partitioned_oracle(
            6 * HOUR, 20
        ),
        "streaming_partitioned_time_length_batch_parity": (
            "SELECT event_type, user_id, event_id, batch_seq, fired_at_ms, "
            "fire_reason FROM (" + _time_length_batch_partitioned_oracle(6 * HOUR, 20) + ") t"
        ),
        "streaming_partitioned_length_batch_parity": (
            "SELECT event_type, user_id, event_id, batch_seq FROM ("
            + _length_batch_partitioned_oracle(50) + ") t"
        ),
        "siddhiql_partitioned_join": """
            WITH l AS (
              SELECT event_type, user_id, event_id FROM (
                SELECT *, row_number() OVER (PARTITION BY event_type, user_id
                                             ORDER BY ts DESC, event_id DESC) AS rn
                FROM events WHERE event_id % 2 = 0) t WHERE rn = 1
            ),
            r AS (
              SELECT event_type, user_id, event_id FROM (
                SELECT *, row_number() OVER (PARTITION BY event_type, user_id
                                             ORDER BY ts DESC, event_id DESC) AS rn
                FROM events WHERE event_id % 2 = 1) t WHERE rn = 1
            )
            SELECT l.event_type AS event_type,
                   l.event_id AS l_id, r.event_id AS r_id
            FROM l JOIN r ON l.user_id = r.user_id
                         AND l.event_type = r.event_type
        """,
        "siddhiql_partitioned_length_all": """
            WITH latest AS (
              SELECT event_type, user_id, event_id, ts FROM (
                SELECT *, row_number() OVER (PARTITION BY event_type, user_id
                                             ORDER BY ts DESC, event_id DESC) AS rn
                FROM events) t WHERE rn = 1
            ),
            kept AS (
              SELECT event_type, event_id FROM (
                SELECT *, row_number() OVER (PARTITION BY event_type
                                             ORDER BY ts DESC, event_id DESC) AS rnk
                FROM latest) t WHERE rnk <= 100
            )
            SELECT event_type, user_id, event_id, 'current' AS channel FROM events
            UNION ALL
            SELECT e.event_type, e.user_id, e.event_id, 'expired' AS channel
            FROM events e
            WHERE NOT EXISTS (SELECT 1 FROM kept k
                              WHERE k.event_type = e.event_type
                                AND k.event_id = e.event_id)
        """,
        "siddhiql_partitioned_join_all": """
            WITH lb AS (
              SELECT * FROM (
                SELECT e.*, (epoch_ms(ts) // 3600000) * 3600000 + 3600000 AS batch_end_ms,
                       row_number() OVER (PARTITION BY event_type, epoch_ms(ts) // 3600000, user_id
                                          ORDER BY epoch_ms(ts) DESC, event_id DESC) AS rn
                FROM events e WHERE event_id % 2 = 0) t WHERE rn = 1),
            rb AS (
              SELECT * FROM (
                SELECT e.*, (epoch_ms(ts) // 3600000) * 3600000 + 3600000 AS batch_end_ms,
                       row_number() OVER (PARTITION BY event_type, epoch_ms(ts) // 3600000, user_id
                                          ORDER BY epoch_ms(ts) DESC, event_id DESC) AS rn
                FROM events e WHERE event_id % 2 = 1) t WHERE rn = 1),
            j AS (
              SELECT lb.event_type AS event_type, lb.event_id AS l_id,
                     rb.event_id AS r_id, lb.batch_end_ms AS be
              FROM lb JOIN rb ON lb.user_id = rb.user_id
                             AND lb.event_type = rb.event_type
                             AND lb.batch_end_ms = rb.batch_end_ms),
            last AS (
              SELECT event_type, max(batch_end_ms) AS last_end FROM (
                SELECT event_type, batch_end_ms FROM lb
                UNION ALL SELECT event_type, batch_end_ms FROM rb)
              GROUP BY event_type)
            SELECT event_type, l_id, r_id, 'current' AS channel FROM j
            UNION ALL
            SELECT j.event_type, j.l_id, j.r_id, 'expired' AS channel
            FROM j JOIN last USING (event_type)
            WHERE j.be < last.last_end
        """,
        "siddhiql_partitioned_join_external_time_batch": """
            WITH lb AS (
              SELECT * FROM (
                SELECT e.*, (epoch_ms(ts) // 7200000) * 7200000 + 7200000 AS batch_end_ms,
                       row_number() OVER (PARTITION BY event_type, epoch_ms(ts) // 7200000, user_id
                                          ORDER BY epoch_ms(ts) DESC, event_id DESC) AS rn
                FROM events e WHERE event_id % 2 = 0) t WHERE rn = 1),
            rb AS (
              SELECT * FROM (
                SELECT e.*, (epoch_ms(ts) // 7200000) * 7200000 + 7200000 AS batch_end_ms,
                       row_number() OVER (PARTITION BY event_type, epoch_ms(ts) // 7200000, user_id
                                          ORDER BY epoch_ms(ts) DESC, event_id DESC) AS rn
                FROM events e WHERE event_id % 2 = 1) t WHERE rn = 1),
            j AS (
              SELECT lb.event_type AS event_type, lb.event_id AS l_id,
                     rb.event_id AS r_id, lb.batch_end_ms AS be
              FROM lb JOIN rb ON lb.user_id = rb.user_id
                             AND lb.event_type = rb.event_type
                             AND lb.batch_end_ms = rb.batch_end_ms),
            last AS (
              SELECT event_type, max(batch_end_ms) AS last_end FROM (
                SELECT event_type, batch_end_ms FROM lb
                UNION ALL SELECT event_type, batch_end_ms FROM rb)
              GROUP BY event_type)
            SELECT event_type, l_id, r_id, 'current' AS channel FROM j
            UNION ALL
            SELECT j.event_type, j.l_id, j.r_id, 'expired' AS channel
            FROM j JOIN last USING (event_type)
            WHERE j.be < last.last_end
        """,
        "siddhiql_partitioned_time_length_batch_expired": _time_length_batch_expired_partitioned_oracle(
            6 * HOUR, 20
        ),
        "siddhiql_partitioned_time_batch_all": """
            WITH b AS (
              SELECT event_type, user_id, event_id, batch_start_ms,
                     batch_start_ms + 3600000 AS batch_end_ms
              FROM (SELECT *, (epoch_ms(ts) // 3600000) * 3600000 AS batch_start_ms,
                           row_number() OVER (
                               PARTITION BY event_type, epoch_ms(ts) // 3600000, user_id
                               ORDER BY epoch_ms(ts) DESC, event_id DESC) AS rn
                    FROM events) t
              WHERE rn = 1
            ),
            last AS (SELECT event_type, max(batch_end_ms) AS last_end
                     FROM b GROUP BY event_type)
            SELECT event_type, user_id, event_id, 'current' AS channel FROM b
            UNION ALL
            SELECT b.event_type, b.user_id, b.event_id, 'expired' AS channel
            FROM b JOIN last USING (event_type)
            WHERE b.batch_end_ms < last.last_end
        """,
        "siddhiql_partitioned_external_time_batch": """
            WITH a AS (SELECT event_type, min(epoch_ms(ts)) AS anchor
                       FROM events GROUP BY event_type),
            b AS (SELECT e.event_id, e.user_id, e.event_type,
                         epoch_ms(e.ts) AS ms, a.anchor
                  FROM events e JOIN a USING (event_type)),
            c AS (SELECT *, ((ms - anchor) // 7200000) * 7200000 + anchor
                         AS batch_start_ms FROM b)
            SELECT event_type, user_id, event_id, batch_start_ms,
                   batch_start_ms + 7200000 AS batch_end_ms
            FROM (SELECT *, row_number() OVER (
                        PARTITION BY event_type, batch_start_ms, user_id
                        ORDER BY ms DESC, event_id DESC) AS rn FROM c) t
            WHERE rn = 1
        """,
        "siddhiql_partitioned_external_time_batch_all": """
            WITH a AS (SELECT event_type, min(epoch_ms(ts)) AS anchor
                       FROM events GROUP BY event_type),
            b AS (SELECT e.event_id, e.user_id, e.event_type,
                         epoch_ms(e.ts) AS ms, a.anchor
                  FROM events e JOIN a USING (event_type)),
            c AS (SELECT *, ((ms - anchor) // 7200000) * 7200000 + anchor
                         AS batch_start_ms FROM b),
            kept AS (
              SELECT event_type, user_id, event_id, batch_start_ms
              FROM (SELECT *, row_number() OVER (
                          PARTITION BY event_type, batch_start_ms, user_id
                          ORDER BY ms DESC, event_id DESC) AS rn FROM c) t
              WHERE rn = 1),
            ranks AS (
              SELECT event_type, batch_start_ms,
                     row_number() OVER (PARTITION BY event_type
                                        ORDER BY batch_start_ms) AS r,
                     count(*) OVER (PARTITION BY event_type) AS nb
              FROM (SELECT DISTINCT event_type, batch_start_ms FROM c))
            SELECT event_type, user_id, event_id, 'current' AS channel FROM kept
            UNION ALL
            SELECT k.event_type, k.user_id, k.event_id, 'expired' AS channel
            FROM kept k JOIN ranks r USING (event_type, batch_start_ms)
            WHERE r.r + 2 <= r.nb
        """,
        "unique_external_time_batch_expired": _external_time_batch_expired_oracle(2 * HOUR),
        "unique_time_length_batch_expired": _time_length_batch_expired_oracle(
            4 * HOUR, 25, start_ms=0
        ),
        "siddhiql_time_length_batch_all": f"""
            SELECT event_id, user_id, 'current' AS channel
            FROM ({_time_length_batch_oracle(6 * HOUR, 20)}) c
            UNION ALL
            SELECT event_id, user_id, 'expired' AS channel
            FROM ({_time_length_batch_expired_oracle(6 * HOUR, 20)}) x
        """,
        "siddhiql_external_time_batch_all": f"""
            SELECT event_id, user_id, 'current' AS channel
            FROM ({_external_time_batch_oracle(2 * HOUR)}) c
            UNION ALL
            SELECT event_id, user_id, 'expired' AS channel
            FROM ({_external_time_batch_expired_oracle(2 * HOUR)}) x
        """,
        "unique_external_time_batch_end_ts": """
            WITH b AS (SELECT e.*, (epoch_ms(e.ts) // 7200000) * 7200000 AS batch_start_ms
                       FROM events e)
            SELECT event_id, batch_start_ms + 7200000 AS ts_ms, user_id, event_type, value, props,
                   batch_start_ms, batch_start_ms + 7200000 AS batch_end_ms
            FROM (SELECT *, row_number() OVER (PARTITION BY batch_start_ms, user_id
                                               ORDER BY epoch_ms(ts) DESC, event_id DESC) AS rn
                  FROM b) t
            WHERE rn = 1
        """,
        "unique_deduplicate": _DEDUPLICATE_SQL,
        # processing-time tier, deterministic core (VERDICT r13 item
        # 5): the pinned-stamp replay through _time_proc_transition —
        # current at each stamp; expired at the next same-key stamp or
        # the idle timer at stamp + T, whichever is first (an arrival
        # exactly at timeout_at displaces at the instant the timer
        # would fire, so the emission log is identical either way)
        "proc_time_replay": """
            WITH e AS (
              SELECT user_id, event_id, epoch_ms(ts) AS ms,
                     lead(epoch_ms(ts)) OVER (
                       PARTITION BY user_id
                       ORDER BY epoch_ms(ts), event_id) AS nxt
              FROM events
            )
            SELECT user_id, event_id, 'current' AS channel,
                   ms AS at_ms
            FROM e
            UNION ALL
            SELECT user_id, event_id, 'expired',
                   CASE WHEN nxt IS NULL OR nxt > ms + 3600000
                        THEN ms + 3600000 ELSE nxt END
            FROM e
        """,
        # _dedup_proc_transition's idle purge + admission rule land on
        # the strict anchored chain (2h interval; lowest event_id at
        # equal stamps)
        "proc_dedup_replay": """
            WITH RECURSIVE kept AS (
              SELECT user_id, min(epoch_ms(ts)) AS ts_ms
              FROM events GROUP BY user_id
              UNION ALL
              SELECT user_id, next_ms AS ts_ms FROM (
                SELECT k.user_id,
                       (SELECT min(epoch_ms(e.ts)) FROM events e
                        WHERE e.user_id = k.user_id
                          AND epoch_ms(e.ts) > k.ts_ms + 7200000)
                         AS next_ms
                FROM kept k) t
              WHERE next_ms IS NOT NULL
            )
            SELECT t.user_id, t.event_id, t.ms AS kept_at_ms
            FROM (SELECT e.user_id, e.event_id, epoch_ms(e.ts) AS ms,
                         row_number() OVER (
                           PARTITION BY e.user_id, epoch_ms(e.ts)
                           ORDER BY e.event_id) AS rn
                  FROM events e
                  JOIN kept k ON e.user_id = k.user_id
                             AND epoch_ms(e.ts) = k.ts_ms) t
            WHERE rn = 1
        """,
        # the streaming twin must land on the SAME anchored chain
        "streaming_dedup_parity": _DEDUPLICATE_SQL,
        # streaming twins certified against their batch oracles
        "streaming_ever_parity": _EVER_SQL,
        "streaming_rate_shape_parity": """
            SELECT event_id, event_id % 100 AS user_id,
                   CASE WHEN event_id % 3 = 0 THEN 'click'
                        WHEN event_id % 3 = 1 THEN 'view'
                        ELSE 'purchase' END AS event_type,
                   CAST(event_id % 997 AS DOUBLE) AS value,
                   '{}' AS props
            FROM events
        """,
        # native stream-stream interval join: batch join with the
        # identical epoch-ms predicate
        "streaming_join_parity": """
            SELECT l.event_id AS left_event_id,
                   r.event_id AS right_event_id,
                   l.user_id,
                   epoch_ms(r.ts) - epoch_ms(l.ts) AS gap_ms
            FROM events l
            JOIN events r
              ON l.user_id = r.user_id
             AND epoch_ms(l.ts) <= epoch_ms(r.ts)
             AND epoch_ms(l.ts) > epoch_ms(r.ts) - 1800000
            WHERE l.event_type = 'click' AND r.event_type = 'purchase'
        """,
        # left-outer twin: matched pairs plus -1-sentinel rows for
        # every unmatched click whose horizon the min-policy global
        # watermark (least side max - 2h delay) has closed
        "streaming_outer_join_parity": """
            WITH l AS (SELECT event_id, user_id, epoch_ms(ts) AS ms
                       FROM events WHERE event_type = 'click'),
            r AS (SELECT event_id, user_id, epoch_ms(ts) AS ms
                  FROM events WHERE event_type = 'purchase'),
            wm AS (SELECT least((SELECT max(ms) FROM l),
                                (SELECT max(ms) FROM r)) - 7200000 AS w),
            m AS (SELECT l.event_id AS left_event_id,
                         r.event_id AS right_event_id,
                         l.user_id, r.ms - l.ms AS gap_ms
                  FROM l JOIN r
                    ON l.user_id = r.user_id
                   AND l.ms <= r.ms AND l.ms > r.ms - 1800000)
            SELECT left_event_id, right_event_id, user_id, gap_ms FROM m
            UNION ALL
            SELECT l.event_id AS left_event_id,
                   CAST(-1 AS BIGINT) AS right_event_id,
                   l.user_id,
                   CAST(-1 AS BIGINT) AS gap_ms
            FROM l CROSS JOIN wm
            WHERE l.event_id NOT IN (SELECT left_event_id FROM m)
              AND l.ms + 1800000 <= wm.w
        """,
        "streaming_time_length_batch_parity": _time_length_batch_oracle(
            6 * HOUR, 20,
            src="(SELECT * FROM events WHERE event_type = 'purchase')",
        ),
        # the twin flushes only on boundary crossings: every present
        # batch except the last, latest per key within each
        "streaming_external_time_batch_parity": """
            WITH src AS (SELECT * FROM events WHERE event_type = 'purchase'),
            a AS (SELECT min(epoch_ms(ts)) AS anchor FROM src),
            b AS (SELECT e.*, ((epoch_ms(e.ts) - a.anchor) // 7200000) * 7200000
                         + a.anchor AS batch_start_ms
                  FROM src e CROSS JOIN a)
            SELECT event_id, user_id, batch_start_ms,
                   batch_start_ms + 7200000 AS batch_end_ms
            FROM (SELECT *, row_number() OVER (PARTITION BY batch_start_ms, user_id
                                               ORDER BY epoch_ms(ts) DESC, event_id DESC) AS rn
                  FROM b) t
            WHERE rn = 1
              AND batch_start_ms < (SELECT max(batch_start_ms) FROM b)
        """,
        "streaming_length_batch_parity": f"""
            WITH base AS ({_length_batch_oracle(50, "last")}),
            last AS (SELECT max(batch_seq) AS mx FROM base)
            SELECT event_id, user_id, batch_seq, 'current' AS channel FROM base
            UNION ALL
            SELECT event_id, user_id, batch_seq, 'expired' AS channel
            FROM base, last WHERE batch_seq < mx
        """,
        "running_distinct_users": """
            SELECT event_id, event_type,
                   CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) OVER (
                     PARTITION BY event_type ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS BIGINT) AS n_distinct_users_so_far
            FROM (SELECT *, row_number() OVER (PARTITION BY event_type, user_id
                                               ORDER BY ts, event_id) AS rn
                  FROM events) t
        """,
        "ever_count_by_type": """
            SELECT event_type, count(*) AS n
            FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
                  FROM events) t
            WHERE rn = 1
            GROUP BY event_type
        """,
        "ever_join_customer": """
            SELECT user_id, epoch_ms(ts) AS ts_ms, event_type, value, c_name, c_mktsegment
            FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
                  FROM events) t
            JOIN customer ON user_id = c_custkey
            WHERE rn = 1
        """,
        "first_filtered": """
            SELECT event_id, epoch_ms(ts) AS ts_ms, user_id, event_type, value, props
            FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS rn
                  FROM events WHERE value > 100) t
            WHERE rn = 1
        """,
        "window_join": """
            WITH clicks AS (
              SELECT user_id, epoch_ms(ts) AS click_ts_ms, value AS click_value
              FROM events WHERE event_type = 'click'
              QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1
            ),
            purchases AS (
              SELECT user_id, epoch_ms(ts) AS purchase_ts_ms, value AS purchase_value
              FROM events WHERE event_type = 'purchase'
              QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1
            )
            SELECT user_id, click_ts_ms, click_value, purchase_ts_ms, purchase_value
            FROM clicks JOIN purchases USING (user_id)
        """,
        "unique_length_emissions": _length_emissions_oracle(100),
        # the dual-channel FIFO streaming twin must land on the same
        # emission multiset as the closed form
        "streaming_length_parity": _length_emissions_oracle(100),
        "unique_length_emissions_ordered": _length_emissions_indexed_oracle(100),
        "unique_length_emissions_partitioned": _length_emissions_indexed_partitioned_oracle(20),
        "docs_bm25_topk": fret.bm25_topk_oracle(),
        "dedup_tfidf_cosine": fret.tfidf_cosine_pairs_oracle(),
        "events_trailing_distinct": fsk.trailing_distinct_users_oracle(),
        "embedding_lsh_recall": fsim.embedding_lsh_recall_oracle(),
        "unique_length_batch": _length_batch_oracle(50, "last"),
        "unique_first_length_batch": _length_batch_oracle(50, "first"),
        "unique_time_length_batch": _time_length_batch_oracle(6 * HOUR, 20),
        "unique_time_length_batch_start": _time_length_batch_oracle(
            4 * HOUR, 25, start_ms=0
        ),
        "unique_time_batch_expired": f"""
            WITH b AS (
              SELECT {_EVENT_SQL_COLS}, batch_start_ms,
                     batch_start_ms + 3600000 AS batch_end_ms
              FROM (SELECT *, (epoch_ms(ts) // 3600000) * 3600000 AS batch_start_ms,
                           row_number() OVER (PARTITION BY epoch_ms(ts) // 3600000, user_id
                                              ORDER BY epoch_ms(ts) DESC, event_id DESC) AS rn
                    FROM events) t
              WHERE rn = 1
            )
            SELECT *, batch_end_ms + 3600000 AS expired_at_ms
            FROM b
            WHERE batch_end_ms < (SELECT max(batch_end_ms) FROM b)
        """,
        "unique_length_batch_expired": f"""
            WITH base AS ({_length_batch_oracle(50, "last")}),
            nxt AS (
              SELECT batch_seq - 1 AS batch_seq, fired_at_ms AS expired_at_ms
              FROM (SELECT DISTINCT batch_seq, fired_at_ms FROM base)
            )
            SELECT base.event_id, base.user_id, base.batch_seq,
                   base.fired_at_ms, nxt.expired_at_ms
            FROM base JOIN nxt USING (batch_seq)
        """,
        "text_token_stats": ftext.token_stats_oracle(),
        "text_quality_score": ftext.quality_score_oracle(),
        "text_lang_id": ftext.lang_id_oracle(),
        "text_fingerprint": ftext.fingerprint_oracle(),
        "text_winnow_fingerprints": ftext.winnow_fingerprints_oracle(),
        "text_unigram_logprob": ftext.unigram_logprob_oracle(),
        "dedup_exact": fdedup.exact_dedup_oracle(),
        "dedup_exact_incremental": fdedup.incremental_exact_dedup_oracle(250),
        "dedup_minhash_signatures": fdedup.minhash_signatures_oracle(),
        "dedup_near_pairs_lsh": fdedup.near_dup_pairs_oracle(),
        "dedup_clusters": fdedup.near_dup_clusters_oracle(),
        "dedup_minhash_accuracy": fdedup.minhash_accuracy_oracle(),
        "dedup_simhash": fdedup.simhash_oracle(),
        "dedup_simhash_near_pairs": fdedup.simhash_near_pairs_oracle(),
        "dedup_char_ngram_jaccard": fdedup.char_ngram_jaccard_pairs_oracle(),
        "dedup_span_coverage": fdedup.dup_span_coverage_oracle(),
        "dedup_span_removal": fdedup.dup_span_removal_oracle(),
        "dedup_span_incremental": fdedup.incremental_span_coverage_oracle(250),
        "sim_cosine_topk": fsim.cosine_topk_oracle(),
        "sim_ivf_topk": fsim.ivf_topk_oracle(),
        "sim_cell_centroids": fsim.cell_centroids_oracle(),
        "sim_pq_topk": fsim.pq_topk_oracle(),
        "sim_pq_rerank": fsim.pq_rerank_topk_oracle(),
        "dedup_embedding_cosine": fsim.embedding_near_dup_pairs_oracle(),
        "multimodal_feature_stats": _MULTIMODAL_ORACLE,
        "multimodal_frame_sample": fmm.FRAME_SAMPLE_ORACLE,
        "multimodal_resize": fmm.RESIZE_ORACLE,
        "pipeline_corpus_curation": fpipe.corpus_curation_oracle(),
        "pipeline_dedup_corpus": fpipe.dedup_corpus_oracle(),
        "text_repetition_stats": fcur.repetition_stats_oracle(),
        "vocab_top_tokens": fcur.vocab_top_tokens_oracle(),
        "sample_stratified": fcur.stratified_sample_oracle(),
        "sample_domain_quota": fcur.domain_quota_oracle(ftext.quality_score_oracle()),
        "contamination_check": fcur.contamination_check_oracle(),
        "corpus_mixture_stats": fcur.mixture_stats_oracle(),
        "corpus_quality_percentiles": fcur.quality_percentiles_oracle(),
        "corpus_pack_shards": fcur.pack_training_shards_oracle(),
        "pii_redact": fcur.pii_redact_oracle(),
        "dedup_lines": fdedup.line_dedup_oracle(),
        "dedup_semantic": fsim.semantic_dedup_oracle(),
        "docs_chunk_tokens": fcur.chunk_documents_oracle(),
        "sample_temperature": fcur.temperature_resample_oracle(),
        "pipeline_pretrain_chunks": fpipe.pretrain_chunks_oracle(),
        "vocab_bpe_merges": fcur.bpe_merge_pairs_oracle(),
        "vocab_bpe_train": fcur.bpe_train_oracle(),
        "vocab_bpe_encode": fcur.bpe_encode_oracle(),
        "source_overlap_matrix": fcur.source_overlap_matrix_oracle(),
        "emb_pca_covariance": fsim.pca_covariance_oracle(),
        "emb_pca_project": fsim.pca_project_oracle(),
        "select_token_budget": fcur.select_token_budget_oracle(
            ftext.quality_score_oracle()
        ),
        "events_sessionize": fsess.sessionize_oracle(2 * HOUR),
        "events_session_native": fsess.session_window_native_oracle(2 * HOUR),
        # append-mode native sessions: the batch islands filtered to
        # sessions the final watermark (max ts - delay) has closed
        "streaming_session_native_parity": f"""
            WITH flagged AS (
              SELECT user_id, event_id, epoch_ms(ts) AS ts_ms,
                     CASE WHEN epoch_ms(ts) - lag(epoch_ms(ts)) OVER w >= {2 * HOUR}
                          OR lag(epoch_ms(ts)) OVER w IS NULL
                          THEN 1 ELSE 0 END AS new_session
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ),
            numbered AS (
              SELECT *, sum(new_session) OVER (
                       PARTITION BY user_id ORDER BY ts_ms, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                     ) AS session_seq
              FROM flagged
            ),
            sess AS (
              SELECT user_id,
                     min(ts_ms) AS session_start_ms,
                     max(ts_ms) + {2 * HOUR} AS session_end_ms,
                     count(*) AS n_events
              FROM numbered GROUP BY user_id, session_seq
            ),
            wm AS (SELECT max(epoch_ms(ts)) - {2 * HOUR} AS w FROM events)
            SELECT s.user_id, s.session_start_ms, s.session_end_ms, s.n_events
            FROM sess s CROSS JOIN wm
            WHERE s.session_end_ms <= wm.w
        """,
        "events_asof_join": fasof.purchases_with_last_click_oracle(),
        "events_range_join": fasof.clicks_before_purchase_oracle(),
        "sketch_kmv_distinct": fsk.kmv_distinct_oracle(),
        # sketch twins: mergeable state must land on the batch sketch
        "streaming_kmv_parity": f"""
            SELECT event_type, kmv_estimate
            FROM ({fsk.kmv_distinct_oracle()}) t
        """,
        "streaming_countmin_parity": f"""
            WITH ids AS (SELECT unnest(generate_series(0, {fsk.CM_D - 1})) AS i)
            SELECT i, {fsk._CM_HASH_DUCK} AS cell, CAST(count(*) AS BIGINT) AS c
            FROM events CROSS JOIN ids
            GROUP BY 1, 2
        """,
        # the watermark sentinel closes every session, so the twin's
        # closed-session stream equals the batch operator exactly
        "streaming_sessionize_parity": fsess.sessionize_oracle(2 * HOUR),
        # dual-channel unique:time: expired iff replaced by a later
        # same-key event OR ts+T strictly below the final watermark
        "streaming_time_window_parity": """
            SELECT event_id, user_id, 'current' AS channel FROM events
            UNION ALL
            SELECT event_id, user_id, 'expired' AS channel
            FROM (SELECT e.*,
                         lead(epoch_ms(ts)) OVER (PARTITION BY user_id
                                                  ORDER BY ts, event_id) AS nxt,
                         max(epoch_ms(ts)) OVER () AS mx
                  FROM events e) t
            WHERE nxt IS NOT NULL
               OR epoch_ms(ts) + 86400000 < mx - 10000
        """,
        # first-arrival per key over the (ts, event_id)-sorted replay
        # == the batch unique:first row
        "streaming_first_parity": _FIRST_SQL,
        # dual-channel ever: nothing times out, expired iff replaced
        "streaming_ever_dual_parity": """
            SELECT event_id, user_id, 'current' AS channel FROM events
            UNION ALL
            SELECT event_id, user_id, 'expired' AS channel
            FROM (SELECT e.*,
                         lead(epoch_ms(ts)) OVER (PARTITION BY user_id
                                                  ORDER BY ts, event_id) AS nxt
                  FROM events e) t
            WHERE nxt IS NOT NULL
        """,
        # the streaming as-of/interval twins must land on the SAME SQL
        # the batch operators certify against
        "streaming_asof_parity": fasof.purchases_with_last_click_oracle(),
        "streaming_range_agg_parity": fasof.clicks_before_purchase_oracle(),
        "streaming_funnel_parity": fana.funnel_oracle(),
        # the OLS sufficient statistics, anchored at the corpus epoch
        "streaming_trend_parity": """
            WITH t0 AS (
              SELECT min(CAST(epoch_ms(ts) AS BIGINT)) AS t0_ms FROM events
            ),
            base AS (
              SELECT event_type,
                     (CAST(epoch_ms(ts) AS BIGINT) - t0_ms) // 3600000 AS t,
                     CAST(floor(value * 1000) AS BIGINT) AS q
              FROM events CROSS JOIN t0
            )
            SELECT event_type, count(*) AS n,
                   CAST(sum(t) AS BIGINT) AS st,
                   CAST(sum(q) AS BIGINT) AS sq,
                   CAST(sum(t * q) AS BIGINT) AS stq,
                   CAST(sum(t * t) AS BIGINT) AS stt
            FROM base GROUP BY event_type
        """,
        # watermark-evicted dedup: first per key in batch 1; after the
        # boundary, keys with kept_ts + delay <= max(b1) - delay are
        # evicted and re-admitted at their first batch-2 arrival
        "streaming_dedup_watermark_parity": """
            WITH ranked AS (
              SELECT event_id, user_id, epoch_ms(ts) AS ts_ms,
                     row_number() OVER (ORDER BY ts, event_id) AS rn,
                     count(*) OVER () AS n
              FROM events
            ),
            b1 AS (SELECT * FROM ranked WHERE rn <= n // 2),
            b2 AS (SELECT * FROM ranked WHERE rn > n // 2),
            b1_kept AS (
              SELECT event_id, user_id, ts_ms
              FROM (SELECT *, row_number() OVER (PARTITION BY user_id
                                                 ORDER BY ts_ms, event_id) AS krn
                    FROM b1) t
              WHERE krn = 1
            ),
            wm AS (SELECT max(ts_ms) - 3600000 AS wm1 FROM b1),
            surviving AS (
              SELECT user_id FROM b1_kept CROSS JOIN wm
              WHERE ts_ms + 3600000 > wm1
            ),
            b2_kept AS (
              SELECT event_id, user_id, ts_ms
              FROM (SELECT *, row_number() OVER (PARTITION BY user_id
                                                 ORDER BY ts_ms, event_id) AS krn
                    FROM b2) t
              WHERE krn = 1
                AND user_id NOT IN (SELECT user_id FROM surviving)
            )
            SELECT * FROM b1_kept UNION ALL SELECT * FROM b2_kept
        """,
        # stateless edge-ingest twins: the streamed rows must be the
        # batch transform of the same corpus, bit-for-bit
        "streaming_index_ingest_parity": f"""
            SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
            FROM (SELECT doc_id, unnest({ftext.DUCK_TOKS}) AS term
                  FROM documents)
            GROUP BY doc_id, term
        """,
        "streaming_pq_encode_parity": fsim.pq_codes_oracle(),
        # doc_id-ordered replay makes first-wins = the batch min-doc_id
        # representative, so the batch manifest SQL is the oracle
        "streaming_curation_parity": fpipe.corpus_curation_oracle(),
        # incremental LSH ingest: candidates vs the bucket-minimum rep
        "streaming_lsh_ingest_parity": fdedup.lsh_ingest_oracle(),
        # every hour closes except each user's final (never-seen-end)
        # one: the batch anomalies minus the per-user maximum hour
        "streaming_anomaly_parity": f"""
            WITH batch_rows AS ({fana.hourly_anomalies_oracle()})
            SELECT user_id, hb, metric_q, n_hist, is_anomaly
            FROM batch_rows
            QUALIFY hb < max(hb) OVER (PARTITION BY user_id)
        """,
        "events_time_rollup": fsk.time_rollup_oracle(),
        "events_funnel": fana.funnel_oracle(),
        "events_retention_cohorts": fana.retention_cohorts_oracle(),
        "text_bigram_logprob": ftext.bigram_logprob_oracle(),
        "fuzzy_match_names": ffuzzy.fuzzy_match_names_oracle(),
        "sketch_hll_distinct": fsk.hll_distinct_oracle(),
        "sketch_sample_quantiles": fsk.hash_sample_quantiles_oracle(),
        "sketch_bottomk_quantiles": fsk.bottomk_sample_quantiles_oracle(),
        # the twin's final update row per type equals the batch
        # bottom-k operator bit-for-bit (mergeable sample + identical
        # integer-ceil rank selection)
        "streaming_quantile_parity": fsk.bottomk_sample_quantiles_oracle(),
        "dedup_graph_pagerank": fgraph.near_dup_pagerank_oracle(),
        "events_absence": fana.absence_oracle(),
        "events_transition_matrix": fana.transition_matrix_oracle(),
        "dedup_near_incremental": fdedup.incremental_near_dup_oracle(250),
        "orders_status_scd2": fana.scd2_intervals_oracle(),
        "multimodal_decode_ppm": fmm.DECODE_STATS_ORACLE,
        "multimodal_decode_jpeg": fmm.JPEG_DECODE_STATS_ORACLE,
        "multimodal_decode_jpeg_420": fmm.JPEG420_DECODE_STATS_ORACLE,
        # the progressive 4:2:0 fixture decodes bit-identically to the
        # baseline 4:2:0 one, so they share the closed-form algebra
        "multimodal_decode_jpeg_progressive_420": fmm.JPEG420_DECODE_STATS_ORACLE,
        "multimodal_decode_png": fmm.PNG_DECODE_STATS_ORACLE,
        "multimodal_decode_png_palette": fmm.PNG_PALETTE_DECODE_STATS_ORACLE,
        "multimodal_decode_png_subbyte": fmm.PNG_SUBBYTE_DECODE_STATS_ORACLE,
        # the de-interlaced Adam7 image equals the row-major one, so
        # the straight gray oracle pins the seven-pass decoder
        "multimodal_decode_png_adam7": fmm.PNG_DECODE_STATS_ORACLE,
        # the progressive scans reconstruct the same constant-block
        # image as the baseline fixture
        "multimodal_decode_jpeg_progressive": fmm.JPEG_DECODE_STATS_ORACLE,
        # lossless decode is the identity on the raw bytes (padded to
        # full rows), so the oracle is the direct byte algebra
        "multimodal_decode_jpeg_lossless": fmm.JPEG_LOSSLESS_DECODE_STATS_ORACLE,
        "multimodal_decode_jpeg_arith": fmm.JPEG_DECODE_STATS_ORACLE,
        "multimodal_decode_jpeg_arith_lossless": fmm.JPEG_LOSSLESS_DECODE_STATS_ORACLE,
        "docs_gunzip_ingest": fmm.GUNZIP_TEXT_STATS_ORACLE,
        # the streaming foreachBatch lowering of the same text must
        # land on the batch engine's final state
        "siddhiql_streaming_agg_parity": """
            SELECT event_type, count(*) AS n, max(value) AS vmax
            FROM (SELECT *, row_number() OVER (PARTITION BY user_id
                                               ORDER BY ts DESC, event_id DESC) AS rn
                  FROM events) t
            WHERE rn = 1
            GROUP BY event_type
            HAVING count(*) > 20
        """,
        "siddhiql_partitioned_expr_key_agg": """
            WITH ret AS (
              SELECT event_type, event_id FROM (
                SELECT event_type, event_id, row_number() OVER (
                         PARTITION BY event_type, user_id % 4
                         ORDER BY ts DESC, event_id DESC) AS rn
                FROM events) t WHERE rn = 1)
            SELECT event_type, count(*) AS n_buckets,
                   min(event_id) AS min_id, max(event_id) AS max_id
            FROM ret GROUP BY event_type HAVING count(*) > 2
        """,
        "siddhiql_group_having": """
            SELECT event_type, count(*) AS n, max(value) AS vmax
            FROM (SELECT *, row_number() OVER (PARTITION BY user_id
                                               ORDER BY ts DESC, event_id DESC) AS rn
                  FROM events) t
            WHERE rn = 1
            GROUP BY event_type
            HAVING count(*) > 20
        """,
        # partitioned unique:time: per-partition event-time edge, then
        # latest per (partition, key) inside it
        "siddhiql_partitioned_time": """
            SELECT event_type, user_id, event_id
            FROM (
              SELECT e.*, row_number() OVER (
                       PARTITION BY event_type, user_id
                       ORDER BY ts DESC, event_id DESC) AS rn
              FROM (SELECT e2.*,
                           max(epoch_ms(ts)) OVER (PARTITION BY event_type) AS edge
                    FROM events e2) e
              WHERE epoch_ms(ts) > edge - 86400000) t
            WHERE rn = 1
        """,
        "sample_train_val_test": fcur.train_val_test_split_oracle(),
        "emb_label_outliers": fsim.label_outliers_oracle(),
        "dedup_graph_triangles": fgraph.near_dup_triangles_oracle(),
        "sketch_countmin_topk": fsk.countmin_heavy_hitters_oracle(),
        "join_bloom_prefilter": fsk.bloom_prefilter_join_oracle(),
        "docs_phrase_search": fret.phrase_search_oracle(),
        "events_zorder_layout": fcur.zorder_layout_oracle(),
        "events_gap_fill_locf": fana.gap_fill_locf_oracle(),
        "sample_priority_weighted": fcur.priority_sample_oracle(),
        "multimodal_decode_wav": fmm.AUDIO_STATS_ORACLE,
        # FLAC is lossless over the same synthesized waveform, so the
        # WAV oracle algebra pins the compressed decoder identically
        "multimodal_decode_flac": fmm.AUDIO_STATS_ORACLE,
        "multimodal_decode_flac_stereo": fmm.FLAC_STEREO_STATS_ORACLE,
        "multimodal_decode_y4m": fmm.VIDEO_FRAME_STATS_ORACLE,
        "events_data_profile": fcur.data_profile_oracle(),
        "events_hourly_anomalies": fana.hourly_anomalies_oracle(),
        "events_funnel_latency": fana.funnel_latency_oracle(),
        "events_json_props": fana.json_props_stats_oracle(),
        "events_value_trend": fana.value_trend_by_type_oracle(),
        "events_chi2_cohorts": fana.chi2_type_vs_cohort_oracle(),
        "events_time_weighted_avg": fana.time_weighted_avg_oracle(),
        "events_disorder_stats": fana.disorder_stats_oracle(),
        "events_ks_cohort_drift": fana.ks_cohort_drift_oracle(),
        "vocab_top_per_lang": fcur.vocab_top_per_lang_oracle(),
        "siddhiql_ever_filtered": """
            SELECT event_id, user_id, event_type, value
            FROM (SELECT *, row_number() OVER (PARTITION BY user_id
                                               ORDER BY ts DESC, event_id DESC) AS rn
                  FROM events WHERE value > 100) t
            WHERE rn = 1
        """,
        "join_key_health": fcur.join_key_health_oracle(),
        # unique:time `insert all events into`: current (latest per key
        # inside the trailing 1-day window) ∪ expired (the exact
        # complement), tagged on channel
        "siddhiql_time_all_events": """
            SELECT event_id, user_id, 'current' AS channel
            FROM (SELECT e.*, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
                  FROM events e
                  WHERE epoch_ms(ts) > (SELECT max(epoch_ms(ts)) FROM events) - 86400000) t
            WHERE rn = 1
            UNION ALL
            SELECT event_id, user_id, 'expired' AS channel
            FROM (SELECT e.*,
                         epoch_ms(ts) > (SELECT max(epoch_ms(ts)) FROM events) - 86400000 AS in_win,
                         row_number() OVER (
                           PARTITION BY user_id,
                             (epoch_ms(ts) > (SELECT max(epoch_ms(ts)) FROM events) - 86400000)
                           ORDER BY ts DESC, event_id DESC) AS rn
                  FROM events e) t
            WHERE NOT (in_win AND rn = 1)
        """,
        "siddhiql_join_ever": """
            WITH cl AS (
              SELECT * FROM (
                SELECT e.*, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
                FROM events e WHERE event_type = 'click') t WHERE rn = 1),
            pu AS (
              SELECT * FROM (
                SELECT e.*, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
                FROM events e WHERE event_type = 'purchase') t WHERE rn = 1)
            SELECT cl.user_id AS user_id, pu.event_id AS purchase_event_id,
                   cl.value AS click_value
            FROM cl JOIN pu ON cl.user_id = pu.user_id
        """,
        # mixed pair with an externalTimeBatch side: last FLUSHED batch
        # (second-highest present batch end; first-event-anchored grid)
        # x the ever side's retained map
        "siddhiql_join_mixed_external": """
            WITH cl AS (
              SELECT e.*, epoch_ms(ts) AS ms FROM events e
              WHERE event_type = 'click'),
            a AS (SELECT min(ms) AS anchor FROM cl),
            cb AS (
              SELECT * FROM (
                SELECT cl.*,
                       anchor + ((ms - anchor) // 172800000 + 1) * 172800000 AS batch_end_ms,
                       row_number() OVER (PARTITION BY (ms - anchor) // 172800000, user_id
                                          ORDER BY ms DESC, event_id DESC) AS rn
                FROM cl, a) t WHERE rn = 1),
            flushed AS (
              SELECT * FROM cb
              WHERE batch_end_ms = (
                SELECT max(batch_end_ms) FROM cb
                WHERE batch_end_ms < (SELECT max(batch_end_ms) FROM cb))),
            pu AS (
              SELECT * FROM (
                SELECT e.*, row_number() OVER (PARTITION BY user_id
                                               ORDER BY ts DESC, event_id DESC) AS rn
                FROM events e WHERE event_type = 'purchase') t WHERE rn = 1)
            SELECT f.user_id AS user_id, f.event_id AS click_event_id,
                   pu.event_id AS purchase_event_id
            FROM flushed f JOIN pu ON f.user_id = pu.user_id
        """,
        # lengthBatch ⋈ externalTimeBatch mixed pair (both arrival-
        # driven, global (ms, event_id) instants): the lB chain's
        # probes/intervals as in siddhiql_join_mixed_lengths_all; the
        # external side's present slots flush at the next slot's
        # first event and are findable until the slot after that
        # (certified by test_lb_etb_mixed_join_algebra_matches_
        # simulation)
        "siddhiql_join_mixed_lb_external_all": """
            WITH RECURSIVE ca AS (
              SELECT event_id, user_id, epoch_ms(ts) AS ms,
                     row_number() OVER (ORDER BY ts, event_id) AS pos
              FROM events WHERE event_type = 'click'
            ),
            fa(seq, start_pos, fire_pos) AS (
              SELECT -1, CAST(0 AS BIGINT), CAST(0 AS BIGINT)
              UNION ALL
              SELECT f.seq + 1, f.fire_pos,
                     (SELECT pos FROM (
                        SELECT min(pos) AS pos FROM ca
                        WHERE ca.pos > f.fire_pos GROUP BY user_id
                      ) t ORDER BY pos LIMIT 1 OFFSET 49)
              FROM fa f
              WHERE (SELECT pos FROM (
                        SELECT min(pos) AS pos FROM ca
                        WHERE ca.pos > f.fire_pos GROUP BY user_id
                      ) t ORDER BY pos LIMIT 1 OFFSET 49) IS NOT NULL
            ),
            fa2 AS MATERIALIZED (
              SELECT f.seq, f.start_pos, f.fire_pos,
                     (SELECT ms FROM ca WHERE pos = f.fire_pos) AS pms,
                     (SELECT event_id FROM ca
                      WHERE pos = f.fire_pos) AS ptb
              FROM fa f WHERE f.seq >= 0
            ),
            aret AS MATERIALIZED (
              SELECT e.event_id, e.user_id, f.seq
              FROM fa2 f JOIN ca e
                ON e.pos > f.start_pos AND e.pos <= f.fire_pos
               AND e.pos = (SELECT max(pos) FROM ca e2
                            WHERE e2.user_id = e.user_id
                              AND e2.pos > f.start_pos
                              AND e2.pos <= f.fire_pos)
            ),
            aprobe AS (
              SELECT r.event_id, r.user_id, 'current' AS channel,
                     f.pms, f.ptb
              FROM aret r JOIN fa2 f ON f.seq = r.seq
              UNION ALL
              SELECT r.event_id, r.user_id, 'expired', f.pms, f.ptb
              FROM aret r JOIN fa2 f ON f.seq = r.seq + 1
            ),
            aiv AS MATERIALIZED (
              SELECT user_id, event_id, ms AS ems, event_id AS etb,
                     CASE WHEN nms IS NOT NULL AND (fms IS NULL OR
                               (nms, ntb) < (fms, ftb))
                          THEN nms ELSE fms END AS lms,
                     CASE WHEN nms IS NOT NULL AND (fms IS NULL OR
                               (nms, ntb) < (fms, ftb))
                          THEN ntb ELSE ftb END AS ltb
              FROM (
                SELECT p.*,
                       lead(ms) OVER (PARTITION BY pseq, user_id
                                      ORDER BY pos) AS nms,
                       lead(event_id) OVER (PARTITION BY pseq, user_id
                                            ORDER BY pos) AS ntb,
                       (SELECT pms FROM fa2 WHERE seq = p.pseq) AS fms,
                       (SELECT ptb FROM fa2 WHERE seq = p.pseq) AS ftb
                FROM (
                  SELECT e.event_id, e.user_id, e.ms, e.pos,
                         (SELECT count(*) FROM fa2
                          WHERE fa2.fire_pos < e.pos) AS pseq
                  FROM ca e) p)
            ),
            es AS (
              SELECT event_id, user_id, s FROM (
                SELECT e.event_id, e.user_id,
                       epoch_ms(ts) // 7200000 AS s,
                       row_number() OVER (
                         PARTITION BY epoch_ms(ts) // 7200000, user_id
                         ORDER BY epoch_ms(ts) DESC, event_id DESC) AS rn
                FROM events e WHERE event_type = 'purchase') t
              WHERE rn = 1
            ),
            el AS (
              SELECT s,
                     lead(fm, 1) OVER (ORDER BY s) AS flms,
                     lead(ftb, 1) OVER (ORDER BY s) AS fltb,
                     lead(fm, 2) OVER (ORDER BY s) AS exms,
                     lead(ftb, 2) OVER (ORDER BY s) AS extb
              FROM (
                SELECT s, ms AS fm, event_id AS ftb FROM (
                  SELECT epoch_ms(ts) // 7200000 AS s,
                         epoch_ms(ts) AS ms, event_id,
                         row_number() OVER (
                           PARTITION BY epoch_ms(ts) // 7200000
                           ORDER BY epoch_ms(ts), event_id) AS rn
                  FROM events WHERE event_type = 'purchase') t
                WHERE rn = 1)
            ),
            bprobe AS (
              SELECT es.event_id, es.user_id, 'current' AS channel,
                     el.flms AS pms, el.fltb AS ptb
              FROM es JOIN el USING (s) WHERE el.flms IS NOT NULL
              UNION ALL
              SELECT es.event_id, es.user_id, 'expired',
                     el.exms, el.extb
              FROM es JOIN el USING (s) WHERE el.exms IS NOT NULL
            ),
            biv AS (
              SELECT es.user_id, es.event_id,
                     el.flms AS ems, el.fltb AS etb,
                     el.exms AS lms, el.extb AS ltb
              FROM es JOIN el USING (s) WHERE el.flms IS NOT NULL
            ),
            e_ab AS (
              SELECT ap.user_id AS user_id,
                     ap.event_id AS click_event_id,
                     iv.event_id AS purchase_event_id,
                     ap.channel AS channel
              FROM aprobe ap JOIN biv iv
                ON ap.user_id = iv.user_id
               AND (iv.ems, iv.etb) < (ap.pms, ap.ptb)
               AND (iv.lms IS NULL OR
                    (ap.pms, ap.ptb) < (iv.lms, iv.ltb))
            ),
            e_ba AS (
              SELECT bp.user_id AS user_id,
                     iv.event_id AS click_event_id,
                     bp.event_id AS purchase_event_id,
                     bp.channel AS channel
              FROM bprobe bp JOIN aiv iv
                ON bp.user_id = iv.user_id
               AND (iv.ems, iv.etb) < (bp.pms, bp.ptb)
               AND (iv.lms IS NULL OR
                    (bp.pms, bp.ptb) < (iv.lms, iv.ltb))
            )
            SELECT * FROM e_ab UNION ALL SELECT * FROM e_ba
        """,
        # externalTimeBatch ⋈ externalTimeBatch on DIFFERENT grids
        # (2h vs 1h, both start.time-anchored): each side's slot log
        # flushes at the next present slot's first event; strict
        # instant bounds both directions (certified by
        # test_etb_etb_mixed_join_algebra_matches_simulation)
        "siddhiql_join_mixed_external_pair_all": """
            WITH ca AS (
              SELECT event_id, user_id, s FROM (
                SELECT e.event_id, e.user_id,
                       epoch_ms(ts) // 7200000 AS s,
                       row_number() OVER (
                         PARTITION BY epoch_ms(ts) // 7200000, user_id
                         ORDER BY epoch_ms(ts) DESC, event_id DESC) AS rn
                FROM events e WHERE event_type = 'click') t
              WHERE rn = 1
            ),
            la AS (
              SELECT s,
                     lead(fm, 1) OVER (ORDER BY s) AS flms,
                     lead(ftb, 1) OVER (ORDER BY s) AS fltb,
                     lead(fm, 2) OVER (ORDER BY s) AS exms,
                     lead(ftb, 2) OVER (ORDER BY s) AS extb
              FROM (
                SELECT s, ms AS fm, event_id AS ftb FROM (
                  SELECT epoch_ms(ts) // 7200000 AS s,
                         epoch_ms(ts) AS ms, event_id,
                         row_number() OVER (
                           PARTITION BY epoch_ms(ts) // 7200000
                           ORDER BY epoch_ms(ts), event_id) AS rn
                  FROM events WHERE event_type = 'click') t
                WHERE rn = 1)
            ),
            cb AS (
              SELECT event_id, user_id, s FROM (
                SELECT e.event_id, e.user_id,
                       epoch_ms(ts) // 3600000 AS s,
                       row_number() OVER (
                         PARTITION BY epoch_ms(ts) // 3600000, user_id
                         ORDER BY epoch_ms(ts) DESC, event_id DESC) AS rn
                FROM events e WHERE event_type = 'purchase') t
              WHERE rn = 1
            ),
            lb AS (
              SELECT s,
                     lead(fm, 1) OVER (ORDER BY s) AS flms,
                     lead(ftb, 1) OVER (ORDER BY s) AS fltb,
                     lead(fm, 2) OVER (ORDER BY s) AS exms,
                     lead(ftb, 2) OVER (ORDER BY s) AS extb
              FROM (
                SELECT s, ms AS fm, event_id AS ftb FROM (
                  SELECT epoch_ms(ts) // 3600000 AS s,
                         epoch_ms(ts) AS ms, event_id,
                         row_number() OVER (
                           PARTITION BY epoch_ms(ts) // 3600000
                           ORDER BY epoch_ms(ts), event_id) AS rn
                  FROM events WHERE event_type = 'purchase') t
                WHERE rn = 1)
            ),
            aprobe AS (
              SELECT c.event_id, c.user_id, 'current' AS channel,
                     l.flms AS pms, l.fltb AS ptb
              FROM ca c JOIN la l USING (s) WHERE l.flms IS NOT NULL
              UNION ALL
              SELECT c.event_id, c.user_id, 'expired', l.exms, l.extb
              FROM ca c JOIN la l USING (s) WHERE l.exms IS NOT NULL
            ),
            aiv AS (
              SELECT c.user_id, c.event_id,
                     l.flms AS ems, l.fltb AS etb,
                     l.exms AS lms, l.extb AS ltb
              FROM ca c JOIN la l USING (s) WHERE l.flms IS NOT NULL
            ),
            bprobe AS (
              SELECT c.event_id, c.user_id, 'current' AS channel,
                     l.flms AS pms, l.fltb AS ptb
              FROM cb c JOIN lb l USING (s) WHERE l.flms IS NOT NULL
              UNION ALL
              SELECT c.event_id, c.user_id, 'expired', l.exms, l.extb
              FROM cb c JOIN lb l USING (s) WHERE l.exms IS NOT NULL
            ),
            biv AS (
              SELECT c.user_id, c.event_id,
                     l.flms AS ems, l.fltb AS etb,
                     l.exms AS lms, l.extb AS ltb
              FROM cb c JOIN lb l USING (s) WHERE l.flms IS NOT NULL
            ),
            e_ab AS (
              SELECT ap.user_id AS user_id,
                     ap.event_id AS click_event_id,
                     iv.event_id AS purchase_event_id,
                     ap.channel AS channel
              FROM aprobe ap JOIN biv iv
                ON ap.user_id = iv.user_id
               AND (iv.ems, iv.etb) < (ap.pms, ap.ptb)
               AND (iv.lms IS NULL OR
                    (ap.pms, ap.ptb) < (iv.lms, iv.ltb))
            ),
            e_ba AS (
              SELECT bp.user_id AS user_id,
                     iv.event_id AS click_event_id,
                     bp.event_id AS purchase_event_id,
                     bp.channel AS channel
              FROM bprobe bp JOIN aiv iv
                ON bp.user_id = iv.user_id
               AND (iv.ems, iv.etb) < (bp.pms, bp.ptb)
               AND (iv.lms IS NULL OR
                    (bp.pms, bp.ptb) < (iv.lms, iv.ltb))
            )
            SELECT * FROM e_ab UNION ALL SELECT * FROM e_ba
        """,
        # lengthBatch ⋈ lengthBatch mixed pair, all-events channel:
        # both sides arrival-driven, ordered by the global
        # (ms, event_id) instant; each side's fired chunks probe the
        # other's forming map — visible iff enter < probe < leave in
        # lexicographic instants (certified by
        # test_ll_mixed_join_algebra_matches_simulation)
        "siddhiql_join_mixed_lengths_all": """
            WITH RECURSIVE ca AS (
              SELECT event_id, user_id, epoch_ms(ts) AS ms,
                     row_number() OVER (ORDER BY ts, event_id) AS pos
              FROM events WHERE event_type = 'click'
            ),
            fa(seq, start_pos, fire_pos) AS (
              SELECT -1, CAST(0 AS BIGINT), CAST(0 AS BIGINT)
              UNION ALL
              SELECT f.seq + 1, f.fire_pos,
                     (SELECT pos FROM (
                        SELECT min(pos) AS pos FROM ca
                        WHERE ca.pos > f.fire_pos GROUP BY user_id
                      ) t ORDER BY pos LIMIT 1 OFFSET 49)
              FROM fa f
              WHERE (SELECT pos FROM (
                        SELECT min(pos) AS pos FROM ca
                        WHERE ca.pos > f.fire_pos GROUP BY user_id
                      ) t ORDER BY pos LIMIT 1 OFFSET 49) IS NOT NULL
            ),
            cb AS (
              SELECT event_id, user_id, epoch_ms(ts) AS ms,
                     row_number() OVER (ORDER BY ts, event_id) AS pos
              FROM events WHERE event_type = 'purchase'
            ),
            fb(seq, start_pos, fire_pos) AS (
              SELECT -1, CAST(0 AS BIGINT), CAST(0 AS BIGINT)
              UNION ALL
              SELECT f.seq + 1, f.fire_pos,
                     (SELECT pos FROM (
                        SELECT min(pos) AS pos FROM cb
                        WHERE cb.pos > f.fire_pos GROUP BY user_id
                      ) t ORDER BY pos LIMIT 1 OFFSET 29)
              FROM fb f
              WHERE (SELECT pos FROM (
                        SELECT min(pos) AS pos FROM cb
                        WHERE cb.pos > f.fire_pos GROUP BY user_id
                      ) t ORDER BY pos LIMIT 1 OFFSET 29) IS NOT NULL
            ),
            fa2 AS MATERIALIZED (
              SELECT f.seq, f.start_pos, f.fire_pos,
                     (SELECT ms FROM ca WHERE pos = f.fire_pos) AS pms,
                     (SELECT event_id FROM ca
                      WHERE pos = f.fire_pos) AS ptb
              FROM fa f WHERE f.seq >= 0
            ),
            fb2 AS MATERIALIZED (
              SELECT f.seq, f.start_pos, f.fire_pos,
                     (SELECT ms FROM cb WHERE pos = f.fire_pos) AS pms,
                     (SELECT event_id FROM cb
                      WHERE pos = f.fire_pos) AS ptb
              FROM fb f WHERE f.seq >= 0
            ),
            aret AS MATERIALIZED (
              SELECT e.event_id, e.user_id, f.seq
              FROM fa2 f JOIN ca e
                ON e.pos > f.start_pos AND e.pos <= f.fire_pos
               AND e.pos = (SELECT max(pos) FROM ca e2
                            WHERE e2.user_id = e.user_id
                              AND e2.pos > f.start_pos
                              AND e2.pos <= f.fire_pos)
            ),
            bret AS MATERIALIZED (
              SELECT e.event_id, e.user_id, f.seq
              FROM fb2 f JOIN cb e
                ON e.pos > f.start_pos AND e.pos <= f.fire_pos
               AND e.pos = (SELECT max(pos) FROM cb e2
                            WHERE e2.user_id = e.user_id
                              AND e2.pos > f.start_pos
                              AND e2.pos <= f.fire_pos)
            ),
            aprobe AS (
              SELECT r.event_id, r.user_id, 'current' AS channel,
                     f.pms, f.ptb
              FROM aret r JOIN fa2 f ON f.seq = r.seq
              UNION ALL
              SELECT r.event_id, r.user_id, 'expired', f.pms, f.ptb
              FROM aret r JOIN fa2 f ON f.seq = r.seq + 1
            ),
            bprobe AS (
              SELECT r.event_id, r.user_id, 'current' AS channel,
                     f.pms, f.ptb
              FROM bret r JOIN fb2 f ON f.seq = r.seq
              UNION ALL
              SELECT r.event_id, r.user_id, 'expired', f.pms, f.ptb
              FROM bret r JOIN fb2 f ON f.seq = r.seq + 1
            ),
            aper AS MATERIALIZED (
              SELECT e.event_id, e.user_id, e.ms, e.pos,
                     (SELECT count(*) FROM fa2
                      WHERE fa2.fire_pos < e.pos) AS pseq
              FROM ca e
            ),
            bper AS MATERIALIZED (
              SELECT e.event_id, e.user_id, e.ms, e.pos,
                     (SELECT count(*) FROM fb2
                      WHERE fb2.fire_pos < e.pos) AS pseq
              FROM cb e
            ),
            aiv AS MATERIALIZED (
              SELECT user_id, event_id, ms AS ems, event_id AS etb,
                     CASE WHEN nms IS NOT NULL AND (fms IS NULL OR
                               (nms, ntb) < (fms, ftb))
                          THEN nms ELSE fms END AS lms,
                     CASE WHEN nms IS NOT NULL AND (fms IS NULL OR
                               (nms, ntb) < (fms, ftb))
                          THEN ntb ELSE ftb END AS ltb
              FROM (
                SELECT p.*,
                       lead(ms) OVER (PARTITION BY pseq, user_id
                                      ORDER BY pos) AS nms,
                       lead(event_id) OVER (PARTITION BY pseq, user_id
                                            ORDER BY pos) AS ntb,
                       (SELECT pms FROM fa2 WHERE seq = p.pseq) AS fms,
                       (SELECT ptb FROM fa2 WHERE seq = p.pseq) AS ftb
                FROM aper p)
            ),
            biv AS MATERIALIZED (
              SELECT user_id, event_id, ms AS ems, event_id AS etb,
                     CASE WHEN nms IS NOT NULL AND (fms IS NULL OR
                               (nms, ntb) < (fms, ftb))
                          THEN nms ELSE fms END AS lms,
                     CASE WHEN nms IS NOT NULL AND (fms IS NULL OR
                               (nms, ntb) < (fms, ftb))
                          THEN ntb ELSE ftb END AS ltb
              FROM (
                SELECT p.*,
                       lead(ms) OVER (PARTITION BY pseq, user_id
                                      ORDER BY pos) AS nms,
                       lead(event_id) OVER (PARTITION BY pseq, user_id
                                            ORDER BY pos) AS ntb,
                       (SELECT pms FROM fb2 WHERE seq = p.pseq) AS fms,
                       (SELECT ptb FROM fb2 WHERE seq = p.pseq) AS ftb
                FROM bper p)
            ),
            e_ab AS (
              SELECT ap.user_id AS user_id,
                     ap.event_id AS click_event_id,
                     iv.event_id AS purchase_event_id,
                     ap.channel AS channel
              FROM aprobe ap JOIN biv iv
                ON ap.user_id = iv.user_id
               AND (iv.ems, iv.etb) < (ap.pms, ap.ptb)
               AND (iv.lms IS NULL OR
                    (ap.pms, ap.ptb) < (iv.lms, iv.ltb))
            ),
            e_ba AS (
              SELECT bp.user_id AS user_id,
                     iv.event_id AS click_event_id,
                     bp.event_id AS purchase_event_id,
                     bp.channel AS channel
              FROM bprobe bp JOIN aiv iv
                ON bp.user_id = iv.user_id
               AND (iv.ems, iv.etb) < (bp.pms, bp.ptb)
               AND (iv.lms IS NULL OR
                    (bp.pms, bp.ptb) < (iv.lms, iv.ltb))
            )
            SELECT * FROM e_ab UNION ALL SELECT * FROM e_ba
        """,
        # externalTimeBatch ⋈ timeBatch mixed pair, all-events
        # channel: E present-batch rank i flushes at the first event
        # of rank i+1 (current; enters the findable expiredEvents),
        # re-emits expired at the first event of rank i+2, and is
        # findable during (flush(i), flush(i+1)] for tick probes; E's
        # arrival-driven chunks probe the timeBatch findable slot via
        # the clamp rule (certified by test_etb_tb_mixed_join_
        # algebra_matches_simulation)
        "siddhiql_join_mixed_external_all": """
            WITH ce AS (
              SELECT event_id, user_id, s FROM (
                SELECT e.event_id, e.user_id,
                       epoch_ms(ts) // 7200000 AS s,
                       row_number() OVER (
                         PARTITION BY epoch_ms(ts) // 7200000, user_id
                         ORDER BY epoch_ms(ts) DESC, event_id DESC) AS rn
                FROM events e WHERE event_type = 'click') t
              WHERE rn = 1
            ),
            fl AS (
              SELECT s,
                     lead(first_ms, 1) OVER (ORDER BY s) AS flush,
                     lead(first_ms, 2) OVER (ORDER BY s) AS expat
              FROM (SELECT epoch_ms(ts) // 7200000 AS s,
                           min(epoch_ms(ts)) AS first_ms
                    FROM events WHERE event_type = 'click' GROUP BY 1)
            ),
            pb AS (
              SELECT event_id, user_id, m FROM (
                SELECT e.event_id, e.user_id,
                       epoch_ms(ts) // 3600000 AS m,
                       row_number() OVER (
                         PARTITION BY epoch_ms(ts) // 3600000, user_id
                         ORDER BY epoch_ms(ts) DESC, event_id DESC) AS rn
                FROM events e WHERE event_type = 'purchase') t
              WHERE rn = 1
            ),
            ml AS (SELECT max(m) AS ml FROM pb),
            eprobe AS (
              SELECT ce.event_id, ce.user_id, 'current' AS channel,
                     fl.flush AS pt
              FROM ce JOIN fl USING (s) WHERE fl.flush IS NOT NULL
              UNION ALL
              SELECT ce.event_id, ce.user_id, 'expired', fl.expat
              FROM ce JOIN fl USING (s) WHERE fl.expat IS NOT NULL
            ),
            e12 AS (
              SELECT ep.user_id AS user_id,
                     ep.event_id AS click_event_id,
                     pb.event_id AS purchase_event_id,
                     ep.channel AS channel
              FROM eprobe ep CROSS JOIN ml
              JOIN pb ON least(ep.pt // 3600000, ml.ml + 1) = pb.m + 1
                     AND ep.user_id = pb.user_id
            ),
            iv AS (
              SELECT ce.event_id, ce.user_id,
                     fl.flush AS frm, fl.expat AS tto
              FROM ce JOIN fl USING (s) WHERE fl.flush IS NOT NULL
            ),
            bprobe AS (
              SELECT event_id, user_id, 'current' AS channel,
                     (m + 1) * 3600000 AS pt
              FROM pb
              UNION ALL
              SELECT pb.event_id, pb.user_id, 'expired',
                     (pb.m + 2) * 3600000
              FROM pb CROSS JOIN ml WHERE pb.m < ml.ml
            ),
            e34 AS (
              SELECT iv.user_id AS user_id,
                     iv.event_id AS click_event_id,
                     bp.event_id AS purchase_event_id,
                     bp.channel AS channel
              FROM bprobe bp JOIN iv
                ON iv.user_id = bp.user_id
               AND iv.frm < bp.pt
               AND (iv.tto IS NULL OR bp.pt <= iv.tto)
            )
            SELECT * FROM e12 UNION ALL SELECT * FROM e34
        """,
        # misaligned timeBatch pair, all-events channel: co-residency
        # of findable intervals ([end, end+T), last batch forever) —
        # every intersecting key-matched batch pair emits current
        # once and expired when the earlier side's interval ends
        # (certified by test_tt_mixed_join_coresidency_matches_
        # simulation)
        "siddhiql_join_mixed_grids_all": """
            WITH ca AS (
              SELECT event_id, user_id, m FROM (
                SELECT e.event_id, e.user_id,
                       epoch_ms(ts) // 3600000 AS m,
                       row_number() OVER (
                         PARTITION BY epoch_ms(ts) // 3600000, user_id
                         ORDER BY epoch_ms(ts) DESC, event_id DESC) AS rn
                FROM events e WHERE event_type = 'click') t
              WHERE rn = 1
            ),
            cb AS (
              SELECT event_id, user_id, m FROM (
                SELECT e.event_id, e.user_id,
                       epoch_ms(ts) // 7200000 AS m,
                       row_number() OVER (
                         PARTITION BY epoch_ms(ts) // 7200000, user_id
                         ORDER BY epoch_ms(ts) DESC, event_id DESC) AS rn
                FROM events e WHERE event_type = 'purchase') t
              WHERE rn = 1
            ),
            la AS (SELECT max(m) AS lm FROM ca),
            lb AS (SELECT max(m) AS lm FROM cb),
            fa AS (
              SELECT ca.*, (m + 1) * 3600000 AS e,
                     CASE WHEN ca.m < la.lm
                          THEN (m + 2) * 3600000 END AS x
              FROM ca CROSS JOIN la
            ),
            fb AS (
              SELECT cb.*, (m + 1) * 7200000 AS e,
                     CASE WHEN cb.m < lb.lm
                          THEN (m + 2) * 7200000 END AS x
              FROM cb CROSS JOIN lb
            ),
            pairs AS (
              SELECT fa.user_id AS user_id,
                     fa.event_id AS click_event_id,
                     fb.event_id AS purchase_event_id,
                     CASE WHEN fa.x IS NULL THEN fb.x
                          WHEN fb.x IS NULL THEN fa.x
                          ELSE least(fa.x, fb.x) END AS ex
              FROM fa JOIN fb ON fa.user_id = fb.user_id
               AND (fa.x IS NULL OR fa.x > fb.e)
               AND (fb.x IS NULL OR fb.x > fa.e)
            )
            SELECT user_id, click_event_id, purchase_event_id,
                   'current' AS channel
            FROM pairs
            UNION ALL
            SELECT user_id, click_event_id, purchase_event_id, 'expired'
            FROM pairs WHERE ex IS NOT NULL
        """,
        # mixed pair, all-events channel: the full emission log (the
        # interval algebra certified by test_mixed_join_channels_
        # algebra_matches_simulation). clicks lengthBatch(50):
        # recursive fire chain gives fired batches (current at fire
        # p, expired at fire p+1) and forming periods (count of fires
        # before pos); purchases timeBatch(1h): slot batches findable
        # one slot after their end (last batch clamped findable
        # forever), current at end, expired one slot later.
        "siddhiql_join_mixed_all": """
            WITH RECURSIVE ev AS (
              SELECT event_id, user_id, epoch_ms(ts) AS ms,
                     row_number() OVER (ORDER BY ts, event_id) AS pos
              FROM events WHERE event_type = 'click'
            ),
            fires(seq, start_pos, fire_pos) AS (
              SELECT -1, CAST(0 AS BIGINT), CAST(0 AS BIGINT)
              UNION ALL
              SELECT f.seq + 1, f.fire_pos,
                     (SELECT pos FROM (
                        SELECT min(pos) AS pos FROM ev
                        WHERE ev.pos > f.fire_pos GROUP BY user_id
                      ) t ORDER BY pos LIMIT 1 OFFSET 49)
              FROM fires f
              WHERE (SELECT pos FROM (
                        SELECT min(pos) AS pos FROM ev
                        WHERE ev.pos > f.fire_pos GROUP BY user_id
                      ) t ORDER BY pos LIMIT 1 OFFSET 49) IS NOT NULL
            ),
            f2 AS MATERIALIZED (
              SELECT f.seq, f.start_pos, f.fire_pos,
                     (SELECT ms FROM ev WHERE pos = f.fire_pos) AS fire_ms
              FROM fires f WHERE f.seq >= 0
            ),
            abat AS MATERIALIZED (
              SELECT e.event_id, e.user_id, f.seq, f.fire_ms
              FROM f2 f JOIN ev e
                ON e.pos > f.start_pos AND e.pos <= f.fire_pos
               AND e.pos = (SELECT max(pos) FROM ev e2
                            WHERE e2.user_id = e.user_id
                              AND e2.pos > f.start_pos
                              AND e2.pos <= f.fire_pos)
            ),
            pb AS MATERIALIZED (
              SELECT event_id, user_id, m FROM (
                SELECT e.event_id, e.user_id,
                       epoch_ms(ts) // 3600000 AS m,
                       row_number() OVER (
                         PARTITION BY epoch_ms(ts) // 3600000, user_id
                         ORDER BY epoch_ms(ts) DESC, event_id DESC) AS rn
                FROM events e WHERE event_type = 'purchase') t
              WHERE rn = 1
            ),
            ml AS MATERIALIZED (SELECT max(m) AS ml FROM pb),
            aprobe AS (
              SELECT event_id, user_id, 'current' AS channel,
                     fire_ms AS pt
              FROM abat
              UNION ALL
              SELECT a.event_id, a.user_id, 'expired', nf.fire_ms
              FROM abat a JOIN f2 nf ON nf.seq = a.seq + 1
            ),
            e12 AS (
              SELECT ap.user_id AS user_id,
                     ap.event_id AS click_event_id,
                     pb.event_id AS purchase_event_id,
                     ap.channel AS channel
              FROM aprobe ap CROSS JOIN ml
              JOIN pb ON least(ap.pt // 3600000, ml.ml + 1) = pb.m + 1
                     AND ap.user_id = pb.user_id
            ),
            per AS MATERIALIZED (
              SELECT e.event_id, e.user_id, e.ms, e.pos,
                     (SELECT count(*) FROM f2
                      WHERE f2.fire_pos < e.pos) AS pseq
              FROM ev e
            ),
            iv0 AS (
              SELECT p.*,
                     lead(ms) OVER (PARTITION BY pseq, user_id
                                    ORDER BY pos) AS nxt,
                     (SELECT fire_ms FROM f2
                      WHERE f2.seq = p.pseq) AS fire
              FROM per p
            ),
            iv AS MATERIALIZED (
              SELECT user_id, event_id, ms AS frm,
                     CASE WHEN nxt IS NOT NULL AND fire IS NOT NULL
                          THEN least(nxt, fire)
                          WHEN nxt IS NOT NULL THEN nxt
                          ELSE fire END AS tto
              FROM iv0
            ),
            bprobe AS (
              SELECT event_id, user_id, 'current' AS channel,
                     (m + 1) * 3600000 AS pt
              FROM pb
              UNION ALL
              SELECT pb.event_id, pb.user_id, 'expired',
                     (pb.m + 2) * 3600000
              FROM pb CROSS JOIN ml WHERE pb.m < ml.ml
            ),
            e34 AS (
              SELECT iv.user_id AS user_id,
                     iv.event_id AS click_event_id,
                     bp.event_id AS purchase_event_id,
                     bp.channel AS channel
              FROM bprobe bp JOIN iv
                ON iv.user_id = bp.user_id
               AND iv.frm < bp.pt
               AND (iv.tto IS NULL OR bp.pt <= iv.tto)
            )
            SELECT * FROM e12 UNION ALL SELECT * FROM e34
        """,
        # NON-BATCH x batch (r13, VERDICT r12 item 2): unique:ever's
        # live intervals [arrival, next same-key arrival) — both
        # probe directions of the certified interval algebra
        "siddhiql_join_ever_tb_all": """
            WITH x AS (
              SELECT event_id, user_id, epoch_ms(ts) AS ms
              FROM events WHERE event_type = 'click'
            ),
            iv AS (
              SELECT user_id, event_id, ms AS frm,
                     lead(ms) OVER (PARTITION BY user_id
                                    ORDER BY ms, event_id) AS tto
              FROM x
            ),
            pb AS (
              SELECT event_id, user_id, m FROM (
                SELECT e.event_id, e.user_id,
                       epoch_ms(ts) // 3600000 AS m,
                       row_number() OVER (
                         PARTITION BY epoch_ms(ts) // 3600000, user_id
                         ORDER BY epoch_ms(ts) DESC, event_id DESC) AS rn
                FROM events e WHERE event_type = 'purchase') t
              WHERE rn = 1
            ),
            ml AS (SELECT max(m) AS ml FROM pb),
            aprobe AS (
              SELECT user_id, event_id, 'current' AS channel, frm AS pf
              FROM iv
              UNION ALL
              SELECT user_id, event_id, 'expired', tto
              FROM iv WHERE tto IS NOT NULL
            ),
            e12 AS (
              SELECT ap.user_id AS user_id,
                     ap.event_id AS click_event_id,
                     pb.event_id AS purchase_event_id,
                     ap.channel AS channel
              FROM aprobe ap CROSS JOIN ml
              JOIN pb ON least(ap.pf // 3600000, ml.ml + 1) = pb.m + 1
                     AND ap.user_id = pb.user_id
            ),
            bprobe AS (
              SELECT event_id, user_id, 'current' AS channel,
                     (m + 1) * 3600000 AS pt
              FROM pb
              UNION ALL
              SELECT pb.event_id, pb.user_id, 'expired',
                     (pb.m + 2) * 3600000
              FROM pb CROSS JOIN ml WHERE pb.m < ml.ml
            ),
            e34 AS (
              SELECT iv.user_id AS user_id,
                     iv.event_id AS click_event_id,
                     bp.event_id AS purchase_event_id,
                     bp.channel AS channel
              FROM bprobe bp JOIN iv
                ON iv.user_id = bp.user_id
               AND iv.frm < bp.pt
               AND (iv.tto IS NULL OR bp.pt <= iv.tto)
            )
            SELECT * FROM e12 UNION ALL SELECT * FROM e34
        """,
        # NON-BATCH x batch (r13): unique:time(30 min)'s intervals
        # end at min(next same-key, enter + T); TIMER exits (kind
        # 't') probe the PRE-flush batch (pf = exit - 1) and are
        # invisible to the flush chunk at their own instant —
        # kind-dependent guards per the certified convention
        "siddhiql_join_time_tb_all": """
            WITH x AS (
              SELECT event_id, user_id, epoch_ms(ts) AS ms
              FROM events WHERE event_type = 'click'
            ),
            iv AS (
              SELECT user_id, event_id, ms AS frm,
                     CASE WHEN nxt IS NULL OR ms + 1800000 <= nxt
                          THEN ms + 1800000 ELSE nxt END AS tto,
                     CASE WHEN nxt IS NULL OR ms + 1800000 <= nxt
                          THEN 't' ELSE 'a' END AS tk
              FROM (
                SELECT user_id, event_id, ms,
                       lead(ms) OVER (PARTITION BY user_id
                                      ORDER BY ms, event_id) AS nxt
                FROM x)
            ),
            pb AS (
              SELECT event_id, user_id, m FROM (
                SELECT e.event_id, e.user_id,
                       epoch_ms(ts) // 3600000 AS m,
                       row_number() OVER (
                         PARTITION BY epoch_ms(ts) // 3600000, user_id
                         ORDER BY epoch_ms(ts) DESC, event_id DESC) AS rn
                FROM events e WHERE event_type = 'purchase') t
              WHERE rn = 1
            ),
            ml AS (SELECT max(m) AS ml FROM pb),
            aprobe AS (
              SELECT user_id, event_id, 'current' AS channel, frm AS pf
              FROM iv
              UNION ALL
              SELECT user_id, event_id, 'expired',
                     tto - CASE WHEN tk = 't' THEN 1 ELSE 0 END
              FROM iv
            ),
            e12 AS (
              SELECT ap.user_id AS user_id,
                     ap.event_id AS click_event_id,
                     pb.event_id AS purchase_event_id,
                     ap.channel AS channel
              FROM aprobe ap CROSS JOIN ml
              JOIN pb ON least(ap.pf // 3600000, ml.ml + 1) = pb.m + 1
                     AND ap.user_id = pb.user_id
            ),
            bprobe AS (
              SELECT event_id, user_id, 'current' AS channel,
                     (m + 1) * 3600000 AS pt
              FROM pb
              UNION ALL
              SELECT pb.event_id, pb.user_id, 'expired',
                     (pb.m + 2) * 3600000
              FROM pb CROSS JOIN ml WHERE pb.m < ml.ml
            ),
            e34 AS (
              SELECT iv.user_id AS user_id,
                     iv.event_id AS click_event_id,
                     bp.event_id AS purchase_event_id,
                     bp.channel AS channel
              FROM bprobe bp JOIN iv
                ON iv.user_id = bp.user_id
               AND iv.frm < bp.pt
               AND (bp.pt < iv.tto OR
                    (bp.pt = iv.tto AND (iv.tk = 'a' OR
                                         bp.channel = 'expired')))
            )
            SELECT * FROM e12 UNION ALL SELECT * FROM e34
        """,
        # NON-BATCH x batch (r13): unique:length(20)'s exits =
        # min(next same-key, FIFO eviction by the 20th distinct OTHER
        # key first-occurring after p) — the certified positional
        # closed form of the ordered emission oracle, mapped from
        # positions to instants with a gap-bounded join
        "siddhiql_join_length_tb_all": """
            WITH x AS (
              SELECT event_id, user_id, epoch_ms(ts) AS ms,
                     row_number() OVER (ORDER BY ts, event_id) AS pos
              FROM events WHERE event_type = 'click'
            ),
            linked AS (
              SELECT *,
                     coalesce(lag(pos) OVER (PARTITION BY user_id
                                             ORDER BY pos), 0) AS prev_pos,
                     lead(pos) OVER (PARTITION BY user_id
                                     ORDER BY pos) AS next_pos
              FROM x
            ),
            qn AS (
              SELECT p_pos, q_pos AS evict_pos FROM (
                SELECT p.pos AS p_pos, q.pos AS q_pos,
                       row_number() OVER (PARTITION BY p.pos
                                          ORDER BY q.pos) AS rq
                FROM linked p JOIN linked q
                  ON q.pos > p.pos AND q.prev_pos <= p.pos
                 AND q.user_id != p.user_id
              ) WHERE rq = 20
            ),
            iv AS (
              SELECT l.user_id, l.event_id, l.ms AS frm, x2.ms AS tto
              FROM (
                SELECT l.user_id, l.event_id, l.ms,
                       least(coalesce(l.next_pos, 9223372036854775807),
                             coalesce(q.evict_pos, 9223372036854775807))
                         AS exp_pos
                FROM linked l LEFT JOIN qn q ON q.p_pos = l.pos
              ) l LEFT JOIN x x2 ON x2.pos = l.exp_pos
            ),
            pb AS (
              SELECT event_id, user_id, m FROM (
                SELECT e.event_id, e.user_id,
                       epoch_ms(ts) // 3600000 AS m,
                       row_number() OVER (
                         PARTITION BY epoch_ms(ts) // 3600000, user_id
                         ORDER BY epoch_ms(ts) DESC, event_id DESC) AS rn
                FROM events e WHERE event_type = 'purchase') t
              WHERE rn = 1
            ),
            ml AS (SELECT max(m) AS ml FROM pb),
            aprobe AS (
              SELECT user_id, event_id, 'current' AS channel, frm AS pf
              FROM iv
              UNION ALL
              SELECT user_id, event_id, 'expired', tto
              FROM iv WHERE tto IS NOT NULL
            ),
            e12 AS (
              SELECT ap.user_id AS user_id,
                     ap.event_id AS click_event_id,
                     pb.event_id AS purchase_event_id,
                     ap.channel AS channel
              FROM aprobe ap CROSS JOIN ml
              JOIN pb ON least(ap.pf // 3600000, ml.ml + 1) = pb.m + 1
                     AND ap.user_id = pb.user_id
            ),
            bprobe AS (
              SELECT event_id, user_id, 'current' AS channel,
                     (m + 1) * 3600000 AS pt
              FROM pb
              UNION ALL
              SELECT pb.event_id, pb.user_id, 'expired',
                     (pb.m + 2) * 3600000
              FROM pb CROSS JOIN ml WHERE pb.m < ml.ml
            ),
            e34 AS (
              SELECT iv.user_id AS user_id,
                     iv.event_id AS click_event_id,
                     bp.event_id AS purchase_event_id,
                     bp.channel AS channel
              FROM bprobe bp JOIN iv
                ON iv.user_id = bp.user_id
               AND iv.frm < bp.pt
               AND (iv.tto IS NULL OR bp.pt <= iv.tto)
            )
            SELECT * FROM e12 UNION ALL SELECT * FROM e34
        """,
        # NON-BATCH x arrival-driven batch (r13, second half of the
        # r12-item-2 family): lengthBatch(50) chain (fires + forming
        # intervals, as in siddhiql_join_mixed_lengths_all) x
        # unique:ever live intervals [arrival, next same-key) on the
        # purchase side — strict lexicographic (ms, event_id) bounds
        # both directions (certified by
        # test_x_lb_join_channels_algebra_matches_simulation)
        "siddhiql_join_ever_lb_all": """
            WITH RECURSIVE ca AS (
              SELECT event_id, user_id, epoch_ms(ts) AS ms,
                     row_number() OVER (ORDER BY ts, event_id) AS pos
              FROM events WHERE event_type = 'click'
            ),
            fa(seq, start_pos, fire_pos) AS (
              SELECT -1, CAST(0 AS BIGINT), CAST(0 AS BIGINT)
              UNION ALL
              SELECT f.seq + 1, f.fire_pos,
                     (SELECT pos FROM (
                        SELECT min(pos) AS pos FROM ca
                        WHERE ca.pos > f.fire_pos GROUP BY user_id
                      ) t ORDER BY pos LIMIT 1 OFFSET 49)
              FROM fa f
              WHERE (SELECT pos FROM (
                        SELECT min(pos) AS pos FROM ca
                        WHERE ca.pos > f.fire_pos GROUP BY user_id
                      ) t ORDER BY pos LIMIT 1 OFFSET 49) IS NOT NULL
            ),
            fa2 AS MATERIALIZED (
              SELECT f.seq, f.start_pos, f.fire_pos,
                     (SELECT ms FROM ca WHERE pos = f.fire_pos) AS pms,
                     (SELECT event_id FROM ca
                      WHERE pos = f.fire_pos) AS ptb
              FROM fa f WHERE f.seq >= 0
            ),
            aret AS MATERIALIZED (
              SELECT e.event_id, e.user_id, f.seq
              FROM fa2 f JOIN ca e
                ON e.pos > f.start_pos AND e.pos <= f.fire_pos
               AND e.pos = (SELECT max(pos) FROM ca e2
                            WHERE e2.user_id = e.user_id
                              AND e2.pos > f.start_pos
                              AND e2.pos <= f.fire_pos)
            ),
            aprobe AS (
              SELECT r.event_id, r.user_id, 'current' AS channel,
                     f.pms, f.ptb
              FROM aret r JOIN fa2 f ON f.seq = r.seq
              UNION ALL
              SELECT r.event_id, r.user_id, 'expired', f.pms, f.ptb
              FROM aret r JOIN fa2 f ON f.seq = r.seq + 1
            ),
            aiv AS MATERIALIZED (
              SELECT user_id, event_id, ms AS ems, event_id AS etb,
                     CASE WHEN nms IS NOT NULL AND (fms IS NULL OR
                               (nms, ntb) < (fms, ftb))
                          THEN nms ELSE fms END AS lms,
                     CASE WHEN nms IS NOT NULL AND (fms IS NULL OR
                               (nms, ntb) < (fms, ftb))
                          THEN ntb ELSE ftb END AS ltb
              FROM (
                SELECT p.*,
                       lead(ms) OVER (PARTITION BY pseq, user_id
                                      ORDER BY pos) AS nms,
                       lead(event_id) OVER (PARTITION BY pseq, user_id
                                            ORDER BY pos) AS ntb,
                       (SELECT pms FROM fa2 WHERE seq = p.pseq) AS fms,
                       (SELECT ptb FROM fa2 WHERE seq = p.pseq) AS ftb
                FROM (
                  SELECT e.event_id, e.user_id, e.ms, e.pos,
                         (SELECT count(*) FROM fa2
                          WHERE fa2.fire_pos < e.pos) AS pseq
                  FROM ca e) p)
            ),
            pu AS (
              SELECT event_id, user_id, epoch_ms(ts) AS ms
              FROM events WHERE event_type = 'purchase'
            ),
            biv AS (
              SELECT user_id, event_id, ms AS ems, event_id AS etb,
                     lead(ms) OVER (PARTITION BY user_id
                                    ORDER BY ms, event_id) AS lms,
                     lead(event_id) OVER (PARTITION BY user_id
                                          ORDER BY ms, event_id) AS ltb
              FROM pu
            ),
            bprobe AS (
              SELECT user_id, event_id, 'current' AS channel,
                     ems AS pms, etb AS ptb
              FROM biv
              UNION ALL
              SELECT user_id, event_id, 'expired', lms, ltb
              FROM biv WHERE lms IS NOT NULL
            ),
            e_ab AS (
              SELECT ap.user_id AS user_id,
                     ap.event_id AS click_event_id,
                     iv.event_id AS purchase_event_id,
                     ap.channel AS channel
              FROM aprobe ap JOIN biv iv
                ON ap.user_id = iv.user_id
               AND (iv.ems, iv.etb) < (ap.pms, ap.ptb)
               AND (iv.lms IS NULL OR
                    (ap.pms, ap.ptb) < (iv.lms, iv.ltb))
            ),
            e_ba AS (
              SELECT bp.user_id AS user_id,
                     iv.event_id AS click_event_id,
                     bp.event_id AS purchase_event_id,
                     bp.channel AS channel
              FROM bprobe bp JOIN aiv iv
                ON bp.user_id = iv.user_id
               AND (iv.ems, iv.etb) < (bp.pms, bp.ptb)
               AND (iv.lms IS NULL OR
                    (bp.pms, bp.ptb) < (iv.lms, iv.ltb))
            )
            SELECT * FROM e_ab UNION ALL SELECT * FROM e_ba
        """,
        # NON-BATCH x arrival-driven batch (r13): unique:time(30 min)
        # live intervals with TIMER exits — instants (t, -inf) that
        # precede every arrival at t, expressed as flag-guarded NULL
        # tiebreaks — x externalTimeBatch(1 hour) present-slot flush
        # log (certified by
        # test_x_etb_join_channels_algebra_matches_simulation)
        "siddhiql_join_time_etb_all": """
            WITH x AS (
              SELECT event_id, user_id, epoch_ms(ts) AS ms
              FROM events WHERE event_type = 'click'
            ),
            aiv AS (
              SELECT user_id, event_id, ms AS ems, event_id AS etb,
                     CASE WHEN tmr THEN ms + 1800000 ELSE nms END AS lms,
                     CASE WHEN tmr THEN NULL ELSE ntb END AS ltb,
                     tmr AS ltimer
              FROM (
                SELECT user_id, event_id, ms, nms, ntb,
                       (nms IS NULL OR ms + 1800000 <= nms) AS tmr
                FROM (
                  SELECT user_id, event_id, ms,
                         lead(ms) OVER (PARTITION BY user_id
                                        ORDER BY ms, event_id) AS nms,
                         lead(event_id) OVER (PARTITION BY user_id
                                              ORDER BY ms, event_id) AS ntb
                  FROM x))
            ),
            aprobe AS (
              SELECT user_id, event_id, 'current' AS channel,
                     ems AS pms, etb AS ptb, FALSE AS ptimer
              FROM aiv
              UNION ALL
              SELECT user_id, event_id, 'expired', lms, ltb, ltimer
              FROM aiv
            ),
            es AS (
              SELECT event_id, user_id, s FROM (
                SELECT e.event_id, e.user_id,
                       epoch_ms(ts) // 3600000 AS s,
                       row_number() OVER (
                         PARTITION BY epoch_ms(ts) // 3600000, user_id
                         ORDER BY epoch_ms(ts) DESC, event_id DESC) AS rn
                FROM events e WHERE event_type = 'purchase') t
              WHERE rn = 1
            ),
            el AS (
              SELECT s,
                     lead(fm, 1) OVER (ORDER BY s) AS flms,
                     lead(ftb, 1) OVER (ORDER BY s) AS fltb,
                     lead(fm, 2) OVER (ORDER BY s) AS exms,
                     lead(ftb, 2) OVER (ORDER BY s) AS extb
              FROM (
                SELECT s, ms AS fm, event_id AS ftb FROM (
                  SELECT epoch_ms(ts) // 3600000 AS s,
                         epoch_ms(ts) AS ms, event_id,
                         row_number() OVER (
                           PARTITION BY epoch_ms(ts) // 3600000
                           ORDER BY epoch_ms(ts), event_id) AS rn
                  FROM events WHERE event_type = 'purchase') t
                WHERE rn = 1)
            ),
            bprobe AS (
              SELECT es.event_id, es.user_id, 'current' AS channel,
                     el.flms AS pms, el.fltb AS ptb
              FROM es JOIN el USING (s) WHERE el.flms IS NOT NULL
              UNION ALL
              SELECT es.event_id, es.user_id, 'expired',
                     el.exms, el.extb
              FROM es JOIN el USING (s) WHERE el.exms IS NOT NULL
            ),
            biv AS (
              SELECT es.user_id, es.event_id,
                     el.flms AS ems, el.fltb AS etb,
                     el.exms AS lms, el.extb AS ltb
              FROM es JOIN el USING (s) WHERE el.flms IS NOT NULL
            ),
            e_ab AS (
              SELECT ap.user_id AS user_id,
                     ap.event_id AS click_event_id,
                     iv.event_id AS purchase_event_id,
                     ap.channel AS channel
              FROM aprobe ap JOIN biv iv
                ON ap.user_id = iv.user_id
               AND (iv.ems < ap.pms OR (iv.ems = ap.pms AND
                    NOT ap.ptimer AND iv.etb < ap.ptb))
               AND (iv.lms IS NULL OR ap.pms < iv.lms OR
                    (ap.pms = iv.lms AND
                     (ap.ptimer OR ap.ptb < iv.ltb)))
            ),
            e_ba AS (
              SELECT bp.user_id AS user_id,
                     iv.event_id AS click_event_id,
                     bp.event_id AS purchase_event_id,
                     bp.channel AS channel
              FROM bprobe bp JOIN aiv iv
                ON bp.user_id = iv.user_id
               AND (iv.ems, iv.etb) < (bp.pms, bp.ptb)
               AND (bp.pms < iv.lms OR
                    (bp.pms = iv.lms AND NOT iv.ltimer AND
                     bp.ptb < iv.ltb))
            )
            SELECT * FROM e_ab UNION ALL SELECT * FROM e_ba
        """,
        # NON-BATCH x NON-BATCH (r13, final family): two
        # unique:time(30 min) sliding windows with EQUAL T — shared
        # timer instants, where each side's ripe exit probes the
        # other's PRE-transition state: probe timers sort (t,-2),
        # leave timers (t,-1), expressed as flag-guarded tie rules
        # (certified by test_x_x_join_channels_algebra_matches_
        # simulation)
        "siddhiql_join_time_time_all": """
            WITH civ AS (
              SELECT user_id, event_id, ms AS ems, event_id AS etb,
                     CASE WHEN tmr THEN ms + 1800000 ELSE nms END AS lms,
                     CASE WHEN tmr THEN NULL ELSE ntb END AS ltb,
                     tmr AS ltimer
              FROM (
                SELECT user_id, event_id, ms, nms, ntb,
                       (nms IS NULL OR ms + 1800000 <= nms) AS tmr
                FROM (
                  SELECT user_id, event_id, epoch_ms(ts) AS ms,
                         lead(epoch_ms(ts)) OVER (
                           PARTITION BY user_id
                           ORDER BY epoch_ms(ts), event_id) AS nms,
                         lead(event_id) OVER (
                           PARTITION BY user_id
                           ORDER BY epoch_ms(ts), event_id) AS ntb
                  FROM events WHERE event_type = 'click'))
            ),
            piv AS (
              SELECT user_id, event_id, ms AS ems, event_id AS etb,
                     CASE WHEN tmr THEN ms + 1800000 ELSE nms END AS lms,
                     CASE WHEN tmr THEN NULL ELSE ntb END AS ltb,
                     tmr AS ltimer
              FROM (
                SELECT user_id, event_id, ms, nms, ntb,
                       (nms IS NULL OR ms + 1800000 <= nms) AS tmr
                FROM (
                  SELECT user_id, event_id, epoch_ms(ts) AS ms,
                         lead(epoch_ms(ts)) OVER (
                           PARTITION BY user_id
                           ORDER BY epoch_ms(ts), event_id) AS nms,
                         lead(event_id) OVER (
                           PARTITION BY user_id
                           ORDER BY epoch_ms(ts), event_id) AS ntb
                  FROM events WHERE event_type = 'purchase'))
            ),
            cprobe AS (
              SELECT user_id, event_id, 'current' AS channel,
                     ems AS pms, etb AS ptb, FALSE AS ptimer
              FROM civ
              UNION ALL
              SELECT user_id, event_id, 'expired', lms, ltb, ltimer
              FROM civ
            ),
            pprobe AS (
              SELECT user_id, event_id, 'current' AS channel,
                     ems AS pms, etb AS ptb, FALSE AS ptimer
              FROM piv
              UNION ALL
              SELECT user_id, event_id, 'expired', lms, ltb, ltimer
              FROM piv
            ),
            e_ab AS (
              SELECT cp.user_id AS user_id,
                     cp.event_id AS click_event_id,
                     iv.event_id AS purchase_event_id,
                     cp.channel AS channel
              FROM cprobe cp JOIN piv iv
                ON cp.user_id = iv.user_id
               AND (iv.ems < cp.pms OR (iv.ems = cp.pms AND
                    NOT cp.ptimer AND iv.etb < cp.ptb))
               AND (cp.pms < iv.lms OR
                    (cp.pms = iv.lms AND
                     (cp.ptimer OR (NOT iv.ltimer AND
                                    cp.ptb < iv.ltb))))
            ),
            e_ba AS (
              SELECT pp.user_id AS user_id,
                     iv.event_id AS click_event_id,
                     pp.event_id AS purchase_event_id,
                     pp.channel AS channel
              FROM pprobe pp JOIN civ iv
                ON pp.user_id = iv.user_id
               AND (iv.ems < pp.pms OR (iv.ems = pp.pms AND
                    NOT pp.ptimer AND iv.etb < pp.ptb))
               AND (pp.pms < iv.lms OR
                    (pp.pms = iv.lms AND
                     (pp.ptimer OR (NOT iv.ltimer AND
                                    pp.ptb < iv.ltb))))
            )
            SELECT * FROM e_ab UNION ALL SELECT * FROM e_ba
        """,
        # timeLengthBatch(6h, 20) x ever (r13, the last mixed
        # family): per-interval-independent chain (no recursion —
        # the skip flag clears exactly at the next boundary), fires
        # at the Nth distinct key's arrival (length) or boundary k+1
        # (time, a timer transition), findable until min(next fire,
        # boundary k+2); 3-strata tie rules (exit probes see
        # pre-transition state, enter probes post, arrivals last)
        # flag-encoded exactly as in the Spark lowering (certified by
        # test_x_tlb_join_channels_algebra_matches_simulation)
        "siddhiql_join_ever_tlb_all": """
            WITH pe AS (
              SELECT event_id, user_id, epoch_ms(ts) AS ms
              FROM events WHERE event_type = 'click'
            ),
            anc AS (SELECT min(ms) AS a FROM pe),
            iv0 AS (
              SELECT pe.*, anc.a,
                     CAST(floor((ms - anc.a) / 21600000) AS BIGINT) AS k
              FROM pe, anc
            ),
            pos0 AS (
              SELECT *,
                     row_number() OVER (PARTITION BY k
                                        ORDER BY ms, event_id) AS pos,
                     (row_number() OVER (PARTITION BY k, user_id
                                         ORDER BY ms, event_id) = 1)
                       AS isf
              FROM iv0
            ),
            run0 AS (
              SELECT *, sum(CASE WHEN isf THEN 1 ELSE 0 END)
                          OVER (PARTITION BY k ORDER BY pos) AS nd
              FROM pos0
            ),
            fp AS (
              SELECT k, min(CASE WHEN nd = 20 AND isf THEN pos END) AS L
              FROM run0 GROUP BY k
            ),
            inb AS (
              SELECT r.*, f.L FROM run0 r JOIN fp f USING (k)
              WHERE f.L IS NULL OR r.pos <= f.L
            ),
            kept AS (
              SELECT * FROM (
                SELECT *, row_number() OVER (
                  PARTITION BY k, user_id
                  ORDER BY ms DESC, event_id DESC) AS rnk
                FROM inb) t
              WHERE rnk = 1
            ),
            fl AS (
              SELECT k, ms AS fm, event_id AS ftb FROM inb WHERE pos = L
            ),
            flog0 AS (
              SELECT b.k, b.a,
                     CASE WHEN b.L IS NOT NULL THEN fl.fm
                          ELSE b.a + (b.k + 1) * 21600000 END AS ems,
                     CASE WHEN b.L IS NOT NULL THEN fl.ftb END AS etb,
                     (b.L IS NULL) AS etimer
              FROM (SELECT DISTINCT k, a, L FROM inb) b
              LEFT JOIN fl USING (k)
            ),
            flog AS (
              SELECT *,
                     lead(ems) OVER (ORDER BY k) AS fnms,
                     lead(etb) OVER (ORDER BY k) AS fntb,
                     lead(etimer) OVER (ORDER BY k) AS fntimer,
                     a + (k + 2) * 21600000 AS bterm
              FROM flog0
            ),
            flog2 AS (
              SELECT k, ems, etb, etimer,
                     CASE WHEN fnms IS NULL OR bterm <= fnms
                          THEN bterm ELSE fnms END AS lms,
                     CASE WHEN fnms IS NULL OR bterm <= fnms
                          THEN NULL ELSE fntb END AS ltb,
                     CASE WHEN fnms IS NULL OR bterm <= fnms
                          THEN TRUE ELSE fntimer END AS ltimer
              FROM flog
            ),
            biv AS (
              SELECT kt.user_id, kt.event_id,
                     f.ems, f.etb, f.etimer, f.lms, f.ltb, f.ltimer
              FROM kept kt JOIN flog2 f USING (k)
            ),
            bprobe AS (
              SELECT user_id, event_id, 'current' AS channel,
                     ems AS pms, etb AS ptb,
                     FALSE AS ptimer, etimer AS ptick
              FROM biv
              UNION ALL
              SELECT user_id, event_id, 'expired',
                     lms, ltb, ltimer, FALSE
              FROM biv
            ),
            civ AS (
              SELECT user_id, event_id, ms AS ems, event_id AS etb,
                     lead(ms) OVER (PARTITION BY user_id
                                    ORDER BY ms, event_id) AS lms,
                     lead(event_id) OVER (PARTITION BY user_id
                                          ORDER BY ms, event_id) AS ltb
              FROM (SELECT event_id, user_id, epoch_ms(ts) AS ms
                    FROM events WHERE event_type = 'purchase')
            ),
            cprobe AS (
              SELECT user_id, event_id, 'current' AS channel,
                     ems AS pms, etb AS ptb
              FROM civ
              UNION ALL
              SELECT user_id, event_id, 'expired', lms, ltb
              FROM civ WHERE lms IS NOT NULL
            ),
            e_ab AS (
              SELECT bp.user_id AS user_id,
                     bp.event_id AS click_event_id,
                     iv.event_id AS purchase_event_id,
                     bp.channel AS channel
              FROM bprobe bp JOIN civ iv
                ON bp.user_id = iv.user_id
               AND (iv.ems < bp.pms OR (iv.ems = bp.pms AND
                    NOT bp.ptimer AND NOT bp.ptick AND
                    iv.etb < bp.ptb))
               AND (iv.lms IS NULL OR bp.pms < iv.lms OR
                    (bp.pms = iv.lms AND
                     (bp.ptimer OR bp.ptick OR bp.ptb < iv.ltb)))
            ),
            e_ba AS (
              SELECT cp.user_id AS user_id,
                     iv.event_id AS click_event_id,
                     cp.event_id AS purchase_event_id,
                     cp.channel AS channel
              FROM cprobe cp JOIN biv iv
                ON cp.user_id = iv.user_id
               AND (iv.ems < cp.pms OR (iv.ems = cp.pms AND
                    (iv.etimer OR iv.etb < cp.ptb)))
               AND (cp.pms < iv.lms OR
                    (cp.pms = iv.lms AND NOT iv.ltimer AND
                     cp.ptb < iv.ltb))
            )
            SELECT * FROM e_ab UNION ALL SELECT * FROM e_ba
        """,
        # the last join-channel square: clicks timeLengthBatch
        # (6h, 20) x purchases timeBatch(4h) — both sides in the
        # 3-strata instant space with the GENERAL flag-guarded tie
        # rules (enter<probe: timer enters (t,-2) visible to tick
        # (t,-1)/arrival probes but not exit timers (t,-3);
        # probe<leave: only exit timers see a timer-leaving interval
        # at its own ms). tlb chain identical to the
        # siddhiql_join_ever_tlb_all oracle.
        "siddhiql_join_tlb_tb_all": """
            WITH pe AS (
              SELECT event_id, user_id, epoch_ms(ts) AS ms
              FROM events WHERE event_type = 'click'
            ),
            anc AS (SELECT min(ms) AS a FROM pe),
            iv0 AS (
              SELECT pe.*, anc.a,
                     CAST(floor((ms - anc.a) / 21600000) AS BIGINT) AS k
              FROM pe, anc
            ),
            pos0 AS (
              SELECT *,
                     row_number() OVER (PARTITION BY k
                                        ORDER BY ms, event_id) AS pos,
                     (row_number() OVER (PARTITION BY k, user_id
                                         ORDER BY ms, event_id) = 1)
                       AS isf
              FROM iv0
            ),
            run0 AS (
              SELECT *, sum(CASE WHEN isf THEN 1 ELSE 0 END)
                          OVER (PARTITION BY k ORDER BY pos) AS nd
              FROM pos0
            ),
            fp AS (
              SELECT k, min(CASE WHEN nd = 20 AND isf THEN pos END) AS L
              FROM run0 GROUP BY k
            ),
            inb AS (
              SELECT r.*, f.L FROM run0 r JOIN fp f USING (k)
              WHERE f.L IS NULL OR r.pos <= f.L
            ),
            kept AS (
              SELECT * FROM (
                SELECT *, row_number() OVER (
                  PARTITION BY k, user_id
                  ORDER BY ms DESC, event_id DESC) AS rnk
                FROM inb) t
              WHERE rnk = 1
            ),
            fl AS (
              SELECT k, ms AS fm, event_id AS ftb FROM inb WHERE pos = L
            ),
            flog0 AS (
              SELECT b.k, b.a,
                     CASE WHEN b.L IS NOT NULL THEN fl.fm
                          ELSE b.a + (b.k + 1) * 21600000 END AS ems,
                     CASE WHEN b.L IS NOT NULL THEN fl.ftb END AS etb,
                     (b.L IS NULL) AS etimer
              FROM (SELECT DISTINCT k, a, L FROM inb) b
              LEFT JOIN fl USING (k)
            ),
            flog AS (
              SELECT *,
                     lead(ems) OVER (ORDER BY k) AS fnms,
                     lead(etb) OVER (ORDER BY k) AS fntb,
                     lead(etimer) OVER (ORDER BY k) AS fntimer,
                     a + (k + 2) * 21600000 AS bterm
              FROM flog0
            ),
            flog2 AS (
              SELECT k, ems, etb, etimer,
                     CASE WHEN fnms IS NULL OR bterm <= fnms
                          THEN bterm ELSE fnms END AS lms,
                     CASE WHEN fnms IS NULL OR bterm <= fnms
                          THEN NULL ELSE fntb END AS ltb,
                     CASE WHEN fnms IS NULL OR bterm <= fnms
                          THEN TRUE ELSE fntimer END AS ltimer
              FROM flog
            ),
            biv AS (
              SELECT kt.user_id, kt.event_id,
                     f.ems, f.etb, f.etimer, f.lms, f.ltb, f.ltimer
              FROM kept kt JOIN flog2 f USING (k)
            ),
            bprobe AS (
              SELECT user_id, event_id, 'current' AS channel,
                     ems AS pms, etb AS ptb,
                     FALSE AS ptimer, etimer AS ptick
              FROM biv
              UNION ALL
              SELECT user_id, event_id, 'expired',
                     lms, ltb, ltimer, FALSE
              FROM biv
            ),
            pe2 AS (
              SELECT event_id, user_id, epoch_ms(ts) AS ms
              FROM events WHERE event_type = 'purchase'
            ),
            slot AS (
              SELECT *, CAST(floor(ms / 14400000) AS BIGINT) AS m
              FROM pe2
            ),
            mlast AS (SELECT max(m) AS ml FROM slot),
            tbk AS (
              SELECT * FROM (
                SELECT *, row_number() OVER (
                  PARTITION BY m, user_id
                  ORDER BY ms DESC, event_id DESC) AS rnk
                FROM slot) t
              WHERE rnk = 1
            ),
            tiv AS (
              SELECT t.user_id, t.event_id,
                     (t.m + 1) * 14400000 AS ems,
                     CAST(NULL AS BIGINT) AS etb,
                     TRUE AS etimer,
                     CASE WHEN t.m = mlast.ml THEN NULL
                          ELSE (t.m + 2) * 14400000 END AS lms,
                     CAST(NULL AS BIGINT) AS ltb,
                     (t.m <> mlast.ml) AS ltimer
              FROM tbk t, mlast
            ),
            tprobe AS (
              SELECT user_id, event_id, 'current' AS channel,
                     ems AS pms, etb AS ptb,
                     FALSE AS ptimer, TRUE AS ptick
              FROM tiv
              UNION ALL
              SELECT user_id, event_id, 'expired',
                     lms, ltb, TRUE, FALSE
              FROM tiv WHERE lms IS NOT NULL
            ),
            e_ab AS (
              SELECT bp.user_id AS user_id,
                     bp.event_id AS click_event_id,
                     iv.event_id AS purchase_event_id,
                     bp.channel AS channel
              FROM bprobe bp JOIN tiv iv
                ON bp.user_id = iv.user_id
               AND (iv.ems < bp.pms OR (iv.ems = bp.pms AND
                    ((iv.etimer AND NOT bp.ptimer) OR
                     (NOT iv.etimer AND NOT bp.ptimer AND
                      NOT bp.ptick AND iv.etb < bp.ptb))))
               AND (iv.lms IS NULL OR bp.pms < iv.lms OR
                    (bp.pms = iv.lms AND
                     ((iv.ltimer AND bp.ptimer) OR
                      (NOT iv.ltimer AND (bp.ptimer OR bp.ptick OR
                                          bp.ptb < iv.ltb)))))
            ),
            e_ba AS (
              SELECT tp.user_id AS user_id,
                     iv.event_id AS click_event_id,
                     tp.event_id AS purchase_event_id,
                     tp.channel AS channel
              FROM tprobe tp JOIN biv iv
                ON tp.user_id = iv.user_id
               AND (iv.ems < tp.pms OR (iv.ems = tp.pms AND
                    ((iv.etimer AND NOT tp.ptimer) OR
                     (NOT iv.etimer AND NOT tp.ptimer AND
                      NOT tp.ptick AND iv.etb < tp.ptb))))
               AND (iv.lms IS NULL OR tp.pms < iv.lms OR
                    (tp.pms = iv.lms AND
                     ((iv.ltimer AND tp.ptimer) OR
                      (NOT iv.ltimer AND (tp.ptimer OR tp.ptick OR
                                          tp.ptb < iv.ltb)))))
            )
            SELECT * FROM e_ab UNION ALL SELECT * FROM e_ba
        """,
        # mixed pair: clicks lengthBatch(user_id, 50) forming map
        # (events after the LAST fire of the recursive fire chain,
        # keep-last per key) x purchases timeBatch last fired batch
        "siddhiql_join_mixed": """
            WITH RECURSIVE ev AS (
              SELECT event_id, user_id,
                     row_number() OVER (ORDER BY ts, event_id) AS pos
              FROM events WHERE event_type = 'click'
            ),
            fires(seq, start_pos, fire_pos) AS (
              SELECT -1, CAST(0 AS BIGINT), CAST(0 AS BIGINT)
              UNION ALL
              SELECT f.seq + 1, f.fire_pos,
                     (SELECT pos FROM (
                        SELECT min(pos) AS pos FROM ev
                        WHERE ev.pos > f.fire_pos GROUP BY user_id
                      ) t ORDER BY pos LIMIT 1 OFFSET 49)
              FROM fires f
              WHERE (SELECT pos FROM (
                        SELECT min(pos) AS pos FROM ev
                        WHERE ev.pos > f.fire_pos GROUP BY user_id
                      ) t ORDER BY pos LIMIT 1 OFFSET 49) IS NOT NULL
            ),
            last_fire AS (SELECT max(fire_pos) AS lf FROM fires),
            forming AS (
              SELECT e.event_id, e.user_id FROM ev e, last_fire
              WHERE e.pos > last_fire.lf
                AND e.pos = (SELECT max(pos) FROM ev e2
                             WHERE e2.user_id = e.user_id
                               AND e2.pos > last_fire.lf)
            ),
            pb AS (
              SELECT * FROM (
                SELECT e.*, (epoch_ms(ts) // 3600000) * 3600000 + 3600000 AS batch_end_ms,
                       row_number() OVER (PARTITION BY epoch_ms(ts) // 3600000, user_id
                                          ORDER BY epoch_ms(ts) DESC, event_id DESC) AS rn
                FROM events e WHERE event_type = 'purchase') t WHERE rn = 1),
            lastb AS (
              SELECT * FROM pb
              WHERE batch_end_ms = (SELECT max(batch_end_ms) FROM pb))
            SELECT f.user_id AS user_id, f.event_id AS click_event_id,
                   lb.event_id AS purchase_event_id
            FROM forming f JOIN lastb lb ON f.user_id = lb.user_id
        """,
        "siddhiql_join_time_batch_all": """
            WITH cb AS (
              SELECT * FROM (
                SELECT e.*, (epoch_ms(ts) // 3600000) * 3600000 + 3600000 AS batch_end_ms,
                       row_number() OVER (PARTITION BY epoch_ms(ts) // 3600000, user_id
                                          ORDER BY epoch_ms(ts) DESC, event_id DESC) AS rn
                FROM events e WHERE event_type = 'click') t WHERE rn = 1),
            pb AS (
              SELECT * FROM (
                SELECT e.*, (epoch_ms(ts) // 3600000) * 3600000 + 3600000 AS batch_end_ms,
                       row_number() OVER (PARTITION BY epoch_ms(ts) // 3600000, user_id
                                          ORDER BY epoch_ms(ts) DESC, event_id DESC) AS rn
                FROM events e WHERE event_type = 'purchase') t WHERE rn = 1),
            j AS (
              SELECT cb.user_id AS user_id, pb.event_id AS purchase_event_id,
                     cb.batch_end_ms AS be
              FROM cb JOIN pb ON cb.user_id = pb.user_id
                             AND cb.batch_end_ms = pb.batch_end_ms),
            last AS (
              SELECT max(batch_end_ms) AS last_end FROM (
                SELECT batch_end_ms FROM cb UNION ALL SELECT batch_end_ms FROM pb))
            SELECT user_id, purchase_event_id, 'current' AS channel FROM j
            UNION ALL
            SELECT user_id, purchase_event_id, 'expired' AS channel
            FROM j WHERE be < (SELECT last_end FROM last)
        """,
    }


def oracle_sql() -> dict[str, str]:
    oracles = _oracle_sql_base()
    # the staged streaming join lands on the batch join's result
    oracles["siddhiql_streaming_join_parity"] = oracles["siddhiql_join_ever"]
    # the bucketed chain computes the same ever-join result as the
    # broadcast entry — only the physical plan differs
    oracles["source_bucketed_join"] = oracles["ever_join_customer"]
    return oracles

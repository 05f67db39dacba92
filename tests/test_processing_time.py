"""PROCESSING-TIME tier (opt-in wall-clock mode, VERDICT r12 item 3).

The reference's default clock is the runtime wall clock
(``siddhiAppContext.getTimestampGenerator().currentTime()``,
UniqueTimeWindowProcessor.java:174) and its scheduler injects TIMER
events with no arrivals (:118-125, DeduplicateStreamProcessor.java:172).
That behavior is inherently non-deterministic, so it is NOT
oracle-checkable; instead the per-key transition logic is factored
into pure functions pinned here under a controlled replay clock, and
each twin gets one live wall-clock integration test (file source +
ProcessingTimeTimeout idle flush with NO further arrivals — the one
behavior the event-time twins cannot express, since their expiry
needs the watermark, i.e. new events, to advance)."""

import time

import pytest

from siddhi_execution_unique_spark.streaming import (
    _dedup_proc_transition,
    _time_proc_transition,
    deduplicate_proc_stream,
    time_window_proc_stream,
    with_processing_time,
)

from test_streaming import SCHEMA, read_stream, workdir, write_batch  # noqa: F401


# ---------------------------------------------------------------------
# Pure transition cores under a replay clock (deterministic).
# ---------------------------------------------------------------------


class TestTimeProcTransition:
    """unique:time with the wall clock
    (UniqueTimeWindowProcessor.java:177-215)."""

    def test_first_arrival_emits_current_and_arms_timer(self):
        emits, stored, timeout = _time_proc_transition(
            None, [{"k": "a", "v": 1}], now_ms=1000, interval_ms=5000,
            timed_out=False)
        assert emits == [({"k": "a", "v": 1}, "current", 1000)]
        assert stored == {"k": "a", "v": 1}
        assert timeout == 6000  # now + T (scheduler.notifyAt, :185)

    def test_replacement_expires_previous_immediately(self):
        # :199-205 — a same-key arrival displaces the retained event,
        # which expires AT the arrival instant, not at its own deadline
        emits, stored, timeout = _time_proc_transition(
            {"k": "a", "v": 1}, [{"k": "a", "v": 2}], now_ms=3000,
            interval_ms=5000, timed_out=False)
        assert emits == [
            ({"k": "a", "v": 1}, "expired", 3000),
            ({"k": "a", "v": 2}, "current", 3000),
        ]
        assert stored == {"k": "a", "v": 2}
        assert timeout == 8000  # re-armed for the latest arrival

    def test_multiple_arrivals_in_one_batch_chain_in_order(self):
        emits, stored, timeout = _time_proc_transition(
            None, [{"v": 1}, {"v": 2}, {"v": 3}], now_ms=100,
            interval_ms=1000, timed_out=False)
        assert [(e[0]["v"], e[1]) for e in emits] == [
            (1, "current"), (1, "expired"), (2, "current"),
            (2, "expired"), (3, "current"),
        ]
        assert stored == {"v": 3}
        assert timeout == 1100

    def test_idle_timeout_expires_retained_event_at_fire_instant(self):
        # the TIMER path: no arrivals required
        emits, stored, timeout = _time_proc_transition(
            {"k": "a", "v": 1}, [], now_ms=6000, interval_ms=5000,
            timed_out=True)
        assert emits == [({"k": "a", "v": 1}, "expired", 6000)]
        assert stored is None and timeout is None

    def test_replay_sequence_matches_reference_protocol(self):
        # replay clock: arrivals at 0 and 2, idle fire at 2+T
        T = 5000
        stored, log = None, []
        for now, rows, to in [(0, [{"v": 1}], False),
                              (2000, [{"v": 2}], False),
                              (7000, [], True)]:
            emits, stored, _ = _time_proc_transition(
                stored, rows, now, T, to)
            log.extend((e[0]["v"], e[1], e[2]) for e in emits)
        assert log == [
            (1, "current", 0),
            (1, "expired", 2000), (2, "current", 2000),
            (2, "expired", 7000),
        ]


class TestDedupProcTransition:
    """unique:deduplicate with the wall clock
    (DeduplicateStreamProcessor.java:158-172)."""

    def test_first_arrival_kept(self):
        kept, last, timeout = _dedup_proc_transition(
            None, 2, now_ms=1000, interval_ms=5000, timed_out=False)
        assert (kept, last, timeout) == (1, 1000, 6000)

    def test_arrival_within_interval_suppressed_anchor_fixed(self):
        # the anchor only advances on KEPT events (:158-166)
        kept, last, timeout = _dedup_proc_transition(
            1000, 1, now_ms=4000, interval_ms=5000, timed_out=False)
        assert (kept, last, timeout) == (0, 1000, 6000)

    def test_arrival_after_interval_readmitted(self):
        kept, last, timeout = _dedup_proc_transition(
            1000, 1, now_ms=6001, interval_ms=5000, timed_out=False)
        assert (kept, last, timeout) == (1, 6001, 11001)

    def test_idle_timer_purges_state_emits_nothing(self):
        # :172 — the TIMER is a state cleanup; the reference emits
        # nothing at the timer, the next arrival simply re-admits
        kept, last, timeout = _dedup_proc_transition(
            1000, 0, now_ms=6000, interval_ms=5000, timed_out=True)
        assert (kept, last, timeout) == (0, None, None)

    def test_no_arrivals_no_state_noop(self):
        assert _dedup_proc_transition(
            None, 0, 1000, 5000, False) == (0, None, None)


# ---------------------------------------------------------------------
# Live wall-clock integration (one per twin; generous poll deadlines —
# the assertions depend only on ORDER-insensitive sets, never on the
# non-deterministic at_ms instants).
# ---------------------------------------------------------------------


def _poll(fetch, pred, deadline_s=90):
    deadline = time.time() + deadline_s
    rows = fetch()
    while time.time() < deadline and not pred(rows):
        time.sleep(1)
        rows = fetch()
    return rows


def test_with_processing_time_stamps_arrival(spark, workdir):
    # batch smoke: the stamp column is the session clock, not the data
    write_batch(workdir / "in", "001.parquet", [(1000, 1, "a", 1.0)])
    df = spark.read.schema(SCHEMA).parquet(str(workdir / "in"))
    out = with_processing_time(df.drop("ts"), "ts").collect()
    assert abs(out[0]["ts"].timestamp() - time.time()) < 600


def test_time_window_proc_stream_idle_timer_flush(spark, workdir):
    """One event arrives, then the source goes SILENT: only the
    wall-clock TIMER can expire it (the event-time twin would hold it
    forever — no events, no watermark advance)."""
    write_batch(workdir / "in", "001.parquet",
                [(1000, 1, "a", 1.0), (2000, 2, "b", 2.0)])
    out = time_window_proc_stream(
        read_stream(spark, workdir / "in"), "k", 2_000)
    q = (
        out.writeStream.format("memory")
        .queryName("proc_time_sink")
        .outputMode("update")
        .option("checkpointLocation", str(workdir / "ckpt"))
        .trigger(processingTime="500 milliseconds")
        .start()
    )
    try:
        rows = _poll(
            lambda: spark.sql("SELECT * FROM proc_time_sink").collect(),
            lambda rs: sum(r["channel"] == "expired" for r in rs) >= 2,
        )
    finally:
        q.stop()
    got = {(r["k"], r["event_id"], r["channel"]) for r in rows}
    assert got == {("a", 1, "current"), ("b", 2, "current"),
                   ("a", 1, "expired"), ("b", 2, "expired")}
    # the expiry instant is the wall clock ~interval after emit.
    # Spark's setTimeoutDuration is anchored to the BATCH trigger
    # timestamp, while at_ms is the worker clock mid-batch, so the
    # fire can land up to one batch-latency EARLY relative to
    # current+interval — the documented micro-batch-granularity
    # divergence from the reference's per-event notifyAt clock.
    by = {(r["k"], r["channel"]): r["at_ms"] for r in rows}
    for k in ("a", "b"):
        assert by[(k, "expired")] - by[(k, "current")] >= 1_000


def test_deduplicate_proc_stream_suppress_then_timer_readmit(spark, workdir):
    """First arrival kept; a duplicate inside the interval suppressed;
    after the idle TIMER purges the key (DeduplicateStreamProcessor.
    java:172), a late duplicate is re-admitted even though the stream
    was silent meanwhile."""
    interval_ms = 8_000
    write_batch(workdir / "in", "001.parquet", [(1000, 1, "a", 1.0)])
    write_batch(workdir / "in", "002.parquet", [(2000, 2, "a", 2.0)])
    out = deduplicate_proc_stream(
        read_stream(spark, workdir / "in"), "k", interval_ms)
    q = (
        out.writeStream.format("memory")
        .queryName("proc_dedup_sink")
        .outputMode("append")
        .option("checkpointLocation", str(workdir / "ckpt"))
        .trigger(processingTime="500 milliseconds")
        .start()
    )
    fetch = lambda: spark.sql("SELECT * FROM proc_dedup_sink").collect()
    try:
        rows = _poll(fetch, lambda rs: len(rs) >= 1, deadline_s=60)
        assert {r["event_id"] for r in rows} == {1}, (
            "event 2 must be suppressed (same key within interval)")
        kept_at = time.time()
        # silence > interval: the TIMER purges the map entry
        time.sleep(max(0.0, kept_at + interval_ms / 1000 + 2 - time.time()))
        write_batch(workdir / "in", "003.parquet", [(3000, 3, "a", 3.0)])
        rows = _poll(fetch, lambda rs: len(rs) >= 2, deadline_s=60)
    finally:
        q.stop()
    assert {r["event_id"] for r in rows} == {1, 3}


def test_api_dispatch_processing_time_twins(spark, workdir):
    """`api.streaming_window` exposes the processing-time tier under
    `unique:time:processing` / `unique:deduplicate:processing`
    (construction only — the live TIMER behavior is pinned above)."""
    from siddhi_execution_unique_spark import api

    write_batch(workdir / "in", "001.parquet", [(1000, 1, "a", 1.0)])
    src = read_stream(spark, workdir / "in")
    out = api.streaming_window(src, "unique:time:processing", "k", 5_000)
    assert out.isStreaming and "channel" in out.columns
    out2 = api.streaming_window(
        src, "unique:deduplicate:processing", "k", 5_000)
    assert out2.isStreaming and out2.columns == src.columns


def test_deduplicate_proc_stream_checkpoint_resume(spark, workdir):
    """The processing-time dedup twin recovers its wall-clock anchors
    from a checkpoint (the reference's persist()/restoreLastRevision()
    story, DeduplicateTestCase.java:256-275): after a restart within
    the interval, a duplicate stays suppressed. Append mode -> parquet
    file sink (memory sinks cannot recover a stateful checkpoint)."""
    interval_ms = 60_000  # long: restart happens well inside it
    outdir = workdir / "out"

    def run_once(files_then_stop):
        out = deduplicate_proc_stream(
            read_stream(spark, workdir / "in"), "k", interval_ms)
        q = (
            out.writeStream.format("parquet")
            .option("path", str(outdir))
            .option("checkpointLocation", str(workdir / "ckpt"))
            .outputMode("append")
            .trigger(processingTime="300 milliseconds")
            .start()
        )
        try:
            deadline = time.time() + 60
            while time.time() < deadline and not files_then_stop():
                time.sleep(0.5)
        finally:
            q.stop()

    def kept_ids():
        try:
            return {r["event_id"] for r in
                    spark.read.parquet(str(outdir)).collect()}
        except Exception:
            return set()

    write_batch(workdir / "in", "001.parquet", [(1000, 1, "a", 1.0)])
    run_once(lambda: kept_ids() == {1})
    assert kept_ids() == {1}
    # "down" time: a duplicate arrives, then restart from the same
    # checkpoint — the recovered anchor must suppress it
    write_batch(workdir / "in", "002.parquet", [(2000, 2, "a", 2.0)])
    write_batch(workdir / "in", "003.parquet", [(3000, 3, "b", 3.0)])
    run_once(lambda: 3 in kept_ids())
    assert kept_ids() == {1, 3}, "duplicate 2 must stay suppressed"


# ---------------------------------------------------------------------
# r14 optimization: the replay entries' partition-level dispatch
# (_keyed_replay: repartition + mapInPandas with key-run splitting and
# a cross-batch carry) must emit exactly what the one-pandas-group-
# per-key groupBy dispatch emitted — including keys whose runs span
# Arrow batch boundaries and a NULL key group.
# ---------------------------------------------------------------------


def test_keyed_replay_dispatch_matches_per_key_reference(spark):
    import random

    import pandas as pd
    import pyspark.sql.functions as F

    from siddhi_execution_unique_spark.streaming import (
        dedup_proc_replay,
        time_proc_replay,
    )

    rng = random.Random(42)
    rows, eid = [], 0
    for k in list(range(6)) + [None]:
        for _ in range(rng.choice([1, 3, 25, 60])):
            rows.append((eid, k, rng.randint(0, 10_000_000)))
            eid += 1
    df = (
        spark.createDataFrame(rows, "event_id long, user_id long, ms long")
        .withColumn("ts", F.timestamp_millis("ms"))
    )
    old_batch = spark.conf.get(
        "spark.sql.execution.arrow.maxRecordsPerBatch", None)
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    try:
        got_time = sorted(
            map(tuple, time_proc_replay(
                df, "user_id", 3600_000, ts="ts", tiebreak="event_id"
            ).collect()), key=repr)
        got_dedup = sorted(
            map(tuple, dedup_proc_replay(
                df, "user_id", 7200_000, ts="ts", tiebreak="event_id"
            ).collect()), key=repr)
    finally:
        if old_batch is None:
            spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")
        else:
            spark.conf.set(
                "spark.sql.execution.arrow.maxRecordsPerBatch", old_batch)

    pdf = pd.DataFrame(rows, columns=["event_id", "user_id", "ms"])
    ref_time, ref_dedup = [], []
    for _, g in pdf.groupby("user_id", dropna=False):
        g = g.sort_values(["ms", "event_id"])
        stored, timeout_at = None, None
        for _, r in g.iterrows():
            s = int(r["ms"])
            k = None if pd.isna(r["user_id"]) else int(r["user_id"])
            if stored is not None and s > timeout_at:
                emits, stored, timeout_at = _time_proc_transition(
                    stored, [], timeout_at, 3600_000, True)
                ref_time += [(row["k"], row["tb"], ch, int(at))
                             for row, ch, at in emits]
            emits, stored, timeout_at = _time_proc_transition(
                stored, [{"k": k, "tb": int(r["event_id"])}], s,
                3600_000, False)
            ref_time += [(row["k"], row["tb"], ch, int(at))
                         for row, ch, at in emits]
        if stored is not None:
            emits, _, _ = _time_proc_transition(
                stored, [], timeout_at, 3600_000, True)
            ref_time += [(row["k"], row["tb"], ch, int(at))
                         for row, ch, at in emits]
        last_kept, timeout_at = None, None
        for _, r in g.iterrows():
            s = int(r["ms"])
            if last_kept is not None and s > timeout_at:
                _, last_kept, timeout_at = _dedup_proc_transition(
                    last_kept, 0, timeout_at, 7200_000, True)
            kept, last_kept, timeout_at = _dedup_proc_transition(
                last_kept, 1, s, 7200_000, False)
            if kept:
                k = None if pd.isna(r["user_id"]) else int(r["user_id"])
                ref_dedup.append((k, int(r["event_id"]), s))
    assert got_time == sorted(ref_time, key=repr)
    assert got_dedup == sorted(ref_dedup, key=repr)


def test_keyed_replay_refuses_big_int_keys_promoted_by_null_carry(spark):
    """Null keys sort first, so an all-null Arrow batch (float64 in
    pandas) is carried into the next batch's key runs. Concatenating it
    with an int64 batch promotes keys >= 2^53 to float64, where 2^53
    and 2^53 + 1 are the same number and their replay state would
    merge; the replay must refuse instead."""
    import pyspark.sql.functions as F

    from siddhi_execution_unique_spark.streaming import dedup_proc_replay

    big = 2 ** 53
    rows = [(i, None, 1000 * i) for i in range(3)]
    rows += [(3, big, 5000), (4, big + 1, 6000), (5, big + 2, 7000)]
    df = (
        spark.createDataFrame(rows, "event_id long, user_id long, ms long")
        .withColumn("ts", F.timestamp_millis("ms"))
    )
    conf = {"spark.sql.execution.arrow.maxRecordsPerBatch": "3",
            "spark.sql.shuffle.partitions": "1"}
    old = {k: spark.conf.get(k, None) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        with pytest.raises(Exception, match=r"2\^53"):
            dedup_proc_replay(
                df, "user_id", 3600_000, ts="ts", tiebreak="event_id").collect()
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)

"""Semantic scenario tests mirroring the reference's TestNG cases
(SURVEY.md §5 category 1-4), with Thread.sleep boundaries re-expressed
as explicit event-time (long millis) gaps."""

import pytest

from pyspark.sql import functions as F

from siddhi_execution_unique_spark import operators as ops
from siddhi_execution_unique_spark import (
    deduplicate,
    ever,
    external_time_batch,
    first,
    first_length_batch,
    first_time_batch,
    length_batch,
    length_window,
    time_batch,
    time_length_batch,
    time_window,
)
from siddhi_execution_unique_spark.operators.keyed import ever_expired
from siddhi_execution_unique_spark.operators.length import length_window_emissions
from siddhi_execution_unique_spark.operators.time_batch import expired_channel

SCHEMA = "ts long, event_id long, k string, v double"


def make(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def rows_set(df, *cols):
    return {tuple(r) for r in df.select(*cols).collect()}


# --- unique:ever (UniqueEverWindowTestCase: 5 events, 3 uniques) ---

def test_ever_latest_per_key(spark):
    df = make(spark, [(1, 1, "a", 1.0), (2, 2, "b", 2.0), (3, 3, "a", 3.0),
                      (4, 4, "c", 4.0), (5, 5, "b", 5.0)])
    out = ever(df, "k", ts="ts", tiebreak="event_id")
    assert rows_set(out, "k", "ts") == {("a", 3), ("b", 5), ("c", 4)}


def test_ever_multi_key(spark):
    df = make(spark, [(1, 1, "a", 1.0), (2, 2, "a", 1.0), (3, 3, "a", 2.0)])
    out = ever(df, ["k", "v"], ts="ts", tiebreak="event_id")
    assert rows_set(out, "k", "v", "ts") == {("a", 1.0, 2), ("a", 2.0, 3)}


def test_ever_expired_channel(spark):
    df = make(spark, [(1, 1, "a", 1.0), (2, 2, "b", 2.0), (3, 3, "a", 3.0),
                      (4, 4, "c", 4.0), (5, 5, "b", 5.0)])
    out = ever_expired(df, "k", ts="ts", tiebreak="event_id")
    assert rows_set(out, "k", "ts") == {("a", 1), ("b", 2)}


def test_ever_expired_expression_key(spark):
    # Column-expression keys (reference accepts key expressions,
    # UniqueEverWindowProcessor.java:71-81): 'A' and 'a' collapse
    # under lower(k); output keeps the original columns only
    df = make(spark, [(1, 1, "A", 1.0), (2, 2, "b", 2.0), (3, 3, "a", 3.0)])
    out = ever_expired(df, F.lower(F.col("k")), ts="ts", tiebreak="event_id")
    assert rows_set(out, "k", "ts") == {("A", 1)}
    assert set(out.columns) == {"ts", "event_id", "k", "v"}


def test_ever_tiebreak_deterministic(spark):
    df = make(spark, [(1, 1, "a", 1.0), (1, 2, "a", 2.0)])
    out = ever(df, "k", ts="ts", tiebreak="event_id")
    assert rows_set(out, "k", "event_id") == {("a", 2)}


# --- unique:first (UniqueFirstWindowTestCase) ---

def test_first_per_key(spark):
    df = make(spark, [(1, 1, "a", 1.0), (2, 2, "b", 2.0), (3, 3, "a", 3.0)])
    out = first(df, "k", ts="ts", tiebreak="event_id")
    assert rows_set(out, "k", "ts") == {("a", 1), ("b", 2)}


def test_first_after_filter(spark):
    # composition: filter before window (UniqueFirstWindowTestCase.java:158)
    df = make(spark, [(1, 1, "a", 5.0), (2, 2, "a", 20.0), (3, 3, "b", 30.0)])
    out = first(df.filter(F.col("v") > 10), "k", ts="ts", tiebreak="event_id")
    assert rows_set(out, "k", "ts") == {("a", 2), ("b", 3)}


# --- unique:deduplicate (DeduplicateTestCase; anchored-burst chain) ---

def test_deduplicate_burst_collapses(spark):
    df = make(spark, [(0, 1, "a", 1.0), (50, 2, "a", 2.0), (120, 3, "a", 3.0),
                      (260, 4, "a", 4.0), (10, 5, "b", 5.0)])
    out = deduplicate(df, "k", 100, ts="ts", tiebreak="event_id")
    # a@50 dropped (50-0 <= 100); a@120 kept (120-0 > 100, anchor moves);
    # a@260 kept (260-120 > 100); b independent.
    assert rows_set(out, "k", "ts") == {("a", 0), ("a", 120), ("a", 260), ("b", 10)}


def test_deduplicate_anchor_not_refreshed_by_drops(spark):
    # lag()-style SQL would drop t=120 (120-50=70 <= 100); reference keeps it.
    df = make(spark, [(0, 1, "a", 1.0), (50, 2, "a", 2.0), (120, 3, "a", 3.0)])
    out = deduplicate(df, "k", 100, ts="ts", tiebreak="event_id")
    assert rows_set(out, "ts") == {(0,), (120,)}


def test_deduplicate_chain_across_arrow_batches(spark):
    # force tiny Arrow batches so the kept-chain continuation across
    # batch boundaries inside one partition actually runs
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "3")
    try:
        rows = [(t, i + 1, "a", 1.0) for i, t in enumerate(
            [0, 50, 90, 120, 130, 260, 270, 400])]
        df = make(spark, rows).coalesce(1)
        out = deduplicate(df, "k", 100, ts="ts", tiebreak="event_id")
        # chain: 0 kept; 50,90 in-interval; 120 kept; 130 dropped;
        # 260 kept; 270 dropped; 400 kept
        assert rows_set(out, "ts") == {(0,), (120,), (260,), (400,)}
    finally:
        spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")


def test_deduplicate_time_constant_sugar(spark):
    df = make(spark, [(0, 1, "a", 1.0), (500, 2, "a", 2.0), (1500, 3, "a", 3.0)])
    out = deduplicate(df, "k", "1 sec", ts="ts", tiebreak="event_id")
    assert rows_set(out, "ts") == {(0,), (1500,)}


# --- unique:length (final contents) ---

def test_length_window_contents(spark):
    df = make(spark, [(1, 1, "a", 1.0), (2, 2, "b", 2.0), (3, 3, "c", 3.0),
                      (4, 4, "a", 4.0)])
    out = length_window(df, "k", 2, ts="ts", tiebreak="event_id")
    # latest per key: a@4, b@2, c@3 -> two most recent keys: a, c
    assert rows_set(out, "k", "ts") == {("a", 4), ("c", 3)}


# --- unique:timeBatch / firstTimeBatch ---

def test_time_batch_replace(spark):
    df = make(spark, [(1, 1, "a", 1.0), (5, 2, "a", 2.0), (11, 3, "a", 3.0),
                      (12, 4, "b", 4.0)])
    out = time_batch(df, "k", 10, ts="ts", tiebreak="event_id")
    assert rows_set(out, "batch_start_ms", "k", "ts") == {
        (0, "a", 5), (10, "a", 11), (10, "b", 12)}


def test_first_time_batch_keep_first(spark):
    df = make(spark, [(1, 1, "a", 1.0), (5, 2, "a", 2.0), (11, 3, "a", 3.0)])
    out = first_time_batch(df, "k", 10, ts="ts", tiebreak="event_id")
    assert rows_set(out, "batch_start_ms", "k", "ts") == {(0, "a", 1), (10, "a", 11)}


def test_time_batch_expression_key(spark):
    """Expression keys take the struct-extraction path of
    _batched_retain's output select (simple-name keys reuse the
    grouping column); values must be identical either way."""
    df = make(spark, [(1, 1, "a", 1.0), (5, 2, "A", 2.0), (11, 3, "a", 3.0),
                      (12, 4, "b", 4.0)])
    out = time_batch(df, [F.upper(F.col("k"))], 10, ts="ts",
                     tiebreak="event_id")
    # case-folded key: a@1 and A@5 collapse to the @5 row in batch 0
    assert rows_set(out, "batch_start_ms", "k", "ts") == {
        (0, "A", 5), (10, "a", 11), (10, "b", 12)}


def test_time_batch_start_time_alignment(spark):
    # start.time modulo alignment (UniqueTimeBatchWindowProcessor.java:302-305)
    df = make(spark, [(7, 1, "a", 1.0), (12, 2, "a", 2.0)])
    out = time_batch(df, "k", 10, ts="ts", tiebreak="event_id", start_time_ms=5)
    assert rows_set(out, "batch_start_ms", "ts") == {(5, 12)}


def test_time_batch_expired_channel(spark):
    df = make(spark, [(1, 1, "a", 1.0), (11, 2, "a", 2.0), (21, 3, "b", 3.0)])
    cur = time_batch(df, "k", 10, ts="ts", tiebreak="event_id")
    exp = expired_channel(cur, 10)
    # batches [0,10) and [10,20) expire at next fire; last batch never does
    assert rows_set(exp, "batch_start_ms", "expired_at_ms") == {(0, 20), (10, 30)}


# --- unique:externalTimeBatch ---

def test_external_time_batch_anchored_to_first_event(spark):
    df = make(spark, [(10, 1, "a", 1.0), (12, 2, "b", 2.0), (25, 3, "a", 3.0),
                      (40, 4, "a", 4.0)])
    out = external_time_batch(df, "k", timestamp="ts", window_time=10,
                              tiebreak="event_id")
    assert rows_set(out, "batch_start_ms", "k", "ts") == {
        (10, "a", 10), (10, "b", 12), (20, "a", 25), (40, "a", 40)}


def test_external_time_batch_counts_sequence(spark):
    # mirrors UniqueExternalTimeBatchWindowTestCase per-batch count asserts
    rows = [(0, i, f"k{i}", 1.0) for i in range(3)] \
         + [(1000, 10 + i, f"k{i}", 2.0) for i in range(2)] \
         + [(2000, 20 + i, f"x{i}", 3.0) for i in range(3)]
    df = make(spark, rows)
    out = external_time_batch(df, "k", timestamp="ts", window_time=1000,
                              start_time_ms=0, tiebreak="event_id")
    counts = {r["batch_start_ms"]: r["n"] for r in
              out.groupBy("batch_start_ms").agg(F.count("*").alias("n")).collect()}
    assert counts == {0: 3, 1000: 2, 2000: 3}


def test_external_time_batch_replace_timestamp(spark):
    df = make(spark, [(10, 1, "a", 1.0), (12, 2, "b", 2.0)])
    out = external_time_batch(df, "k", timestamp="ts", window_time=10,
                              start_time_ms=0, tiebreak="event_id",
                              replace_timestamp_with_batch_end=True)
    assert rows_set(out, "k", "ts") == {("a", 20), ("b", 20)}


# --- unique:time (final contents) ---

def test_time_window_contents(spark):
    df = make(spark, [(0, 1, "a", 1.0), (950, 2, "b", 2.0), (980, 3, "a", 3.0),
                      (1000, 4, "c", 4.0)])
    out = time_window(df, "k", 100, ts="ts", tiebreak="event_id")
    assert rows_set(out, "k", "ts") == {("b", 950), ("a", 980), ("c", 1000)}


# --- unique:lengthBatch / firstLengthBatch ---

def test_length_batch_fire_on_distinct_keys(spark):
    df = make(spark, [(1, 1, "a", 1.0), (2, 2, "a", 2.0), (3, 3, "b", 3.0),
                      (4, 4, "c", 4.0), (5, 5, "a", 5.0), (6, 6, "d", 6.0),
                      (7, 7, "e", 7.0)])
    out = length_batch(df, "k", 2, ts="ts", tiebreak="event_id")
    assert rows_set(out, "batch_seq", "k", "ts") == {
        (0, "a", 2), (0, "b", 3), (1, "c", 4), (1, "a", 5), (2, "d", 6), (2, "e", 7)}


def test_length_batch_never_fires_below_n(spark):
    # lengthBatch(10) never fires on <10 uniques (testcase :90-106)
    df = make(spark, [(i, i, f"k{i}", 1.0) for i in range(9)])
    assert length_batch(df, "k", 10, ts="ts", tiebreak="event_id").count() == 0


def test_length_batch_forming_matches_simulation(spark):
    """length_batch_forming (r10, join-contents op) must equal an
    event-at-a-time simulation of the reference's forming unique map
    (UniqueLengthBatchWindowProcessor.java:165-193 put/clear walk) —
    randomized sequences, both keeps, plus the never-fired and
    exactly-at-fire edges."""
    import random

    from siddhi_execution_unique_spark.operators import length_batch_forming

    rng = random.Random(11)
    for trial in range(6):
        n = rng.choice([2, 3, 5])
        keep = rng.choice(["last", "first"])
        # SCHEMA order: (ts, event_id, k, v); ts == event_id here so
        # arrival order is unambiguous
        seq = [(i + 1, i + 1, f"k{rng.randrange(n + 2)}", float(i))
               for i in range(rng.randrange(0, 25))]
        # simulate the forming map
        forming: dict = {}
        for (ts, eid, k, v) in seq:
            if k in forming:
                if keep == "last":
                    forming[k] = eid
            else:
                forming[k] = eid
                if len(forming) == n:
                    forming.clear()
        want = set(forming.values())
        df = make(spark, seq)
        got = {
            r["event_id"]
            for r in length_batch_forming(
                df, "k", n, ts="ts", tiebreak="event_id", keep=keep
            ).collect()
        }
        assert got == want, (trial, n, keep, seq)
    # tiebreak is required (the refs join back on it)
    with pytest.raises(ValueError, match="tiebreak"):
        length_batch_forming(make(spark, [(1, 1, "a", 1.0)]), "k", 2, ts="ts")


def test_first_length_batch_keeps_first(spark):
    df = make(spark, [(1, 1, "a", 1.0), (2, 2, "a", 2.0), (3, 3, "b", 3.0)])
    out = first_length_batch(df, "k", 2, ts="ts", tiebreak="event_id")
    assert rows_set(out, "batch_seq", "k", "ts") == {(0, "a", 1), (0, "b", 3)}


# --- unique:timeLengthBatch ---

def test_time_length_batch_length_fire_then_discard(spark):
    df = make(spark, [(0, 1, "a", 1.0), (10, 2, "b", 2.0), (20, 3, "c", 3.0),
                      (30, 4, "d", 4.0),   # discarded (after length fire)
                      (110, 5, "e", 5.0), (120, 6, "f", 6.0), (130, 7, "g", 7.0),
                      (140, 8, "h", 8.0),  # discarded
                      (250, 9, "i", 9.0)])  # trailing partial batch
    out = time_length_batch(df, "k", 100, 3, ts="ts", tiebreak="event_id")
    got = rows_set(out, "batch_seq", "k", "fire_reason")
    assert got == {(0, "a", "length"), (0, "b", "length"), (0, "c", "length"),
                   (1, "e", "length"), (1, "f", "length"), (1, "g", "length")}


def test_time_length_batch_time_fire(spark):
    df = make(spark, [(0, 1, "a", 1.0), (10, 2, "b", 2.0), (50, 3, "a", 3.0),
                      (120, 4, "c", 4.0), (130, 5, "d", 5.0)])
    out = time_length_batch(df, "k", 100, 10, ts="ts", tiebreak="event_id")
    got = rows_set(out, "batch_seq", "k", "ts", "fire_reason", "fired_at_ms")
    assert got == {(0, "a", 50, "time", 100), (0, "b", 10, "time", 100)}


def test_time_length_batch_distributed_matches_replay(spark):
    # the interval-partitioned distributed form must reproduce the
    # ordered replay exactly, including the discard-after-length-fire
    # quirk and the trailing partial
    from siddhi_execution_unique_spark.operators.replay import (
        time_length_batch_distributed,
    )

    rows = [((i + 1) * 17, i + 1, k, float(i + 1)) for i, k in enumerate(
        "a b c d a e b f a a g c h b i j a k".split())]
    df = make(spark, rows)
    for kwargs in ({}, {"start_time_ms": 0}, {"start_time_ms": 5}):
        rep = time_length_batch(df, "k", 100, 3, ts="ts", tiebreak="event_id", **kwargs)
        dist = time_length_batch_distributed(
            df, "k", 100, 3, ts="ts", tiebreak="event_id", **kwargs
        )
        cols = ("event_id", "k", "batch_seq", "fired_at_ms", "fire_reason")
        assert rows_set(rep, *cols) == rows_set(dist, *cols), kwargs


def test_time_length_batch_start_time(spark):
    # start.time=0, T=100: boundaries at 100, 200, ... regardless of
    # the first event's time (reference UniqueTimeLengthBatchWindow-
    # Processor.java:244-252). First event at 70 -> first boundary is
    # 100 (not 170): {a@70, b@90} time-fire at 100; {c} flushes at 200.
    df = make(spark, [(70, 1, "a", 1.0), (90, 2, "b", 2.0),
                      (150, 3, "c", 3.0), (210, 4, "d", 4.0)])
    out = time_length_batch(df, "k", 100, 10, ts="ts", tiebreak="event_id",
                            start_time_ms=0)
    got = rows_set(out, "batch_seq", "k", "fire_reason", "fired_at_ms")
    assert got == {(0, "a", "time", 100), (0, "b", "time", 100),
                   (1, "c", "time", 200)}
    # without start.time the anchor is the first event: boundary 170
    # splits {a,b} from {c} differently
    out2 = time_length_batch(df, "k", 100, 10, ts="ts", tiebreak="event_id")
    got2 = rows_set(out2, "batch_seq", "k", "fired_at_ms")
    assert got2 == {(0, "a", 170), (0, "b", 170), (0, "c", 170)}


def test_time_length_batch_expired_channel(spark):
    # T=100, N=3, start=0. Batch 0 length-fires at 40 -> the boundary
    # at 100 only RESETS the skip flag (the reference's eventSent
    # timer branch returns WITHOUT sendEvents,
    # UniqueTimeLengthBatchWindowProcessor.java:261-265), so batch 0's
    # expired drains at the NEXT flush: batch 1's time fire at 200.
    # Batch 1 time-fires at 200 -> its expired flushes at boundary
    # 300, witnessed by the event at 310. The interval [300,400) forms
    # a trailing partial that never fires, so nothing else expires.
    from siddhi_execution_unique_spark.operators.replay import (
        time_length_batch_expired,
    )

    df = make(spark, [(10, 1, "a", 1.0), (20, 2, "b", 2.0), (30, 3, "a", 3.0),
                      (40, 4, "c", 4.0), (50, 5, "d", 5.0),
                      (120, 6, "e", 6.0), (130, 7, "f", 7.0),
                      (310, 8, "g", 8.0), (350, 9, "h", 9.0)])
    exp = time_length_batch_expired(df, "k", 100, 3, ts="ts",
                                    tiebreak="event_id", start_time_ms=0)
    assert rows_set(exp, "batch_seq", "k", "expired_at_ms") == {
        (0, "a", 200), (0, "b", 200), (0, "c", 200),
        (1, "e", 300), (1, "f", 300)}


def test_time_length_batch_expired_length_fire_beats_boundary(spark):
    # a length fire in the interval right after batch k's time fire
    # flushes batch k's expired EARLY (sendEvents drains
    # eventsToBeExpired on every flush, not only boundaries)
    from siddhi_execution_unique_spark.operators.replay import (
        time_length_batch_expired,
    )

    df = make(spark, [(10, 1, "a", 1.0),
                      (110, 2, "b", 2.0), (120, 3, "c", 3.0),  # length fire @120
                      (350, 4, "d", 4.0)])
    exp = time_length_batch_expired(df, "k", 100, 2, ts="ts",
                                    tiebreak="event_id", start_time_ms=0)
    got = rows_set(exp, "batch_seq", "k", "expired_at_ms")
    # batch0 {a} time-fires at 100; batch1 {b,c} length-fires at 120
    # -> batch0 expires at min(B(0)+T = 200, fire 120) = 120. Batch1's
    # clearing boundary (200) only resets the skip flag; its expired
    # drains at the following boundary flush 300 (witnessed by the
    # event at 350 — the scheduler ticks even through empty intervals)
    assert got == {(0, "a", 120), (1, "b", 300), (1, "c", 300)}


def test_time_length_batch_expired_drain_skips_clearing_boundary(spark):
    # length fire with EMPTY following interval: T=100, N=3, start=0.
    # Batch 0 length-fires at 40; boundary 100 only clears the skip
    # flag (no sendEvents, reference timer branch :261-265); nothing
    # arrives in [100,200) so the timer at 200 is a drain-only flush —
    # batch 0's expired drains at 200 (witnessed by the 250 event),
    # NOT 100 and NOT batch 1's later fire at 300
    from siddhi_execution_unique_spark.operators.replay import (
        time_length_batch_expired,
    )

    df = make(spark, [(10, 1, "a", 1.0), (20, 2, "b", 2.0), (40, 3, "c", 3.0),
                      (250, 4, "d", 4.0), (310, 5, "e", 5.0)])
    exp = time_length_batch_expired(df, "k", 100, 3, ts="ts",
                                    tiebreak="event_id", start_time_ms=0)
    got = rows_set(exp, "batch_seq", "k", "expired_at_ms")
    # batch 1 {d} time-fires at 300; its own drain point 400 is past
    # the last event (310) -> unwitnessed, so only batch 0 expires
    assert got == {(0, "a", 200), (0, "b", 200), (0, "c", 200)}


def test_time_length_batch_expired_needs_clock_witness(spark):
    # the last fired batch's flush point lies beyond every event: the
    # event-time clock never reaches it, so it never expires
    from siddhi_execution_unique_spark.operators.replay import (
        time_length_batch_expired,
    )

    df = make(spark, [(10, 1, "a", 1.0), (150, 2, "b", 2.0)])
    exp = time_length_batch_expired(df, "k", 100, 5, ts="ts",
                                    tiebreak="event_id", start_time_ms=0)
    # batch0 {a} time-fires at 100 but its expiry flush (200) is past
    # the last event (150) -> empty expired channel
    assert exp.count() == 0


def test_external_time_batch_expired_channel(spark):
    # batches (anchor=first event 10, T=100): rank0 [10,110) {a,b},
    # rank1 [110,210) {c}, rank2 [310,410) {d,e}. Rank 0's expired
    # re-emits at the first event of rank 2 (ts=310) — the arrival
    # that flushes rank 1 and advances lastCurrentEventTime. Ranks
    # 1 and 2 have no rank+2 successor and never expire.
    from siddhi_execution_unique_spark.operators.time_batch import (
        external_time_batch_expired,
    )

    df = make(spark, [(10, 1, "a", 1.0), (20, 2, "b", 2.0),
                      (120, 3, "c", 3.0),
                      (310, 4, "d", 4.0), (350, 5, "e", 5.0)])
    exp = external_time_batch_expired(df, "k", "ts", 100, tiebreak="event_id")
    assert rows_set(exp, "k", "batch_start_ms", "expired_at_ms") == {
        ("a", 10, 310), ("b", 10, 310)}


def test_external_time_batch_expired_skips_empty_buckets(spark):
    # rank is over batches PRESENT in the data, not grid cells: with
    # empty cells between occupied ones, rank r+2 is the second next
    # OCCUPIED batch
    from siddhi_execution_unique_spark.operators.time_batch import (
        external_time_batch_expired,
    )

    df = make(spark, [(0, 1, "a", 1.0),      # rank0 [0,100)
                      (500, 2, "b", 2.0),    # rank1 [500,600)
                      (900, 3, "c", 3.0)])   # rank2 [900,1000)
    exp = external_time_batch_expired(df, "k", "ts", 100,
                                      start_time_ms=0, tiebreak="event_id")
    assert rows_set(exp, "k", "expired_at_ms") == {("a", 900)}


def test_length_batch_streams_one_million_rows(spark):
    """The narrow lengthBatch funnel streams across Arrow batches with
    O(N) state — no concat of the full frame in one pandas task
    (VERDICT r06 item 7). 1M rows with keys cycling 0..999 and N=100:
    every 100 consecutive arrivals are distinct, so the chain fires
    exactly every 100 rows — 10,000 full batches, each retaining 100
    rows, fired at the 100th arrival's timestamp."""
    from pyspark.sql import functions as F

    from siddhi_execution_unique_spark.operators.replay import length_batch

    n_rows, n_keys, n = 1_000_000, 1_000, 100
    df = (
        spark.range(n_rows)
        .select(
            F.col("id").alias("ts"),
            F.col("id").alias("event_id"),
            (F.col("id") % n_keys).cast("string").alias("k"),
        )
    )
    out = length_batch(df, "k", n, ts="ts", tiebreak="event_id")
    agg = out.agg(
        F.count("*").alias("rows"),
        F.countDistinct("batch_seq").alias("batches"),
        F.max("batch_seq").alias("max_seq"),
        F.sum(F.when(F.col("fired_at_ms") == F.col("batch_seq") * n + n - 1, 1)
              .otherwise(0)).alias("fired_ok"),
    ).collect()[0]
    assert agg["rows"] == n_rows
    assert agg["batches"] == n_rows // n
    assert agg["max_seq"] == n_rows // n - 1
    assert agg["fired_ok"] == n_rows  # every retained row carries its fire ts


PSCHEMA = "ts long, event_id long, k string, v double, p string"


def _with_p(p, *keys):
    return ([p] if p else []) + list(keys)


_TB = {"ts": "ts", "tiebreak": "event_id"}
# every operator taking partition_attr=, as fn(df, partition_attr)
PARTITION_CASES = {
    "length_window": lambda d, p: ops.length_window(
        d, "k", 2, partition_attr=p, **_TB),
    "length_window_emissions_indexed": lambda d, p: (
        ops.length_window_emissions_indexed(d, "k", 2, partition_attr=p, **_TB)),
    "length_window_emissions_distributed": lambda d, p: (
        ops.length_window_emissions_distributed(d, "k", 2, partition_attr=p, **_TB)),
    "length_batch": lambda d, p: ops.length_batch(
        d, "k", 2, partition_attr=p, **_TB),
    "length_batch_no_tiebreak": lambda d, p: ops.length_batch(
        d, "k", 3, ts="ts", partition_attr=p),
    "first_length_batch": lambda d, p: ops.first_length_batch(
        d, "k", 3, partition_attr=p, **_TB),
    "length_batch_forming": lambda d, p: ops.length_batch_forming(
        d, "k", 4, partition_attr=p, **_TB),
    "time_length_batch": lambda d, p: ops.time_length_batch(
        d, "k", 100, 3, partition_attr=p, **_TB),
    "time_length_batch_expired": lambda d, p: ops.time_length_batch_expired(
        d, "k", 100, 3, partition_attr=p, **_TB),
    "time_length_batch_all": lambda d, p: ops.time_length_batch_all(
        d, "k", 100, 3, partition_attr=p, **_TB),
    "external_time_batch": lambda d, p: ops.external_time_batch(
        d, "k", "ts", 100, tiebreak="event_id", partition_attr=p),
    "external_time_batch_start_time": lambda d, p: ops.external_time_batch(
        d, "k", "ts", 100, start_time_ms=50, tiebreak="event_id",
        partition_attr=p),
    "external_time_batch_expired": lambda d, p: ops.external_time_batch_expired(
        d, "k", "ts", 100, tiebreak="event_id", partition_attr=p),
    "external_time_batch_all": lambda d, p: ops.external_time_batch_all(
        d, "k", "ts", 100, tiebreak="event_id", partition_attr=p),
    "expired_channel": lambda d, p: ops.expired_channel(
        ops.time_batch(d, _with_p(p, "k"), 100, **_TB), 100, partition_attr=p),
    "all_channel": lambda d, p: ops.all_channel(
        ops.time_batch(d, _with_p(p, "k"), 100, **_TB), 100, partition_attr=p),
}
# hand-derived per-instance results, on top of the filtered-replay check
PARTITION_HAND = {
    # P: a@0 b@37 -> fire 0 at 37; a@74 c@111 -> fire 1 at 111 ...
    # Q: x@13 y@66 -> fire 0 at 66 — a global chain would mix them
    "length_batch": (("p", "batch_seq", "k", "ts"), {
        ("P", 0, "a", 0), ("P", 0, "b", 37), ("P", 1, "a", 74),
        ("P", 1, "c", 111), ("P", 2, "d", 148), ("P", 2, "b", 185),
        ("P", 3, "e", 222), ("P", 3, "a", 259), ("P", 4, "c", 296),
        ("P", 4, "f", 333), ("P", 5, "g", 370), ("P", 5, "a", 407),
        ("Q", 0, "x", 13), ("Q", 0, "y", 66), ("Q", 1, "x", 119),
        ("Q", 1, "z", 172), ("Q", 2, "w", 225), ("Q", 2, "y", 278),
        ("Q", 3, "v", 331), ("Q", 3, "u", 384),
    }),
    # each instance's buffer(2) holds its last two distinct keys
    "length_window": (("p", "k", "ts"), {
        ("P", "g", 370), ("P", "a", 407), ("Q", "u", 384), ("Q", "x", 437),
    }),
}


@pytest.mark.parametrize("name", sorted(PARTITION_CASES))
def test_partition_attr_equals_per_value_union(spark, name):
    # `partition with`: the partitioned call must equal the union, over
    # partition values, of the unpartitioned call on that value's rows
    # (two interleaved instances with different first events, so a
    # shared chain, anchor or witness clock would show)
    rows = [(i * 37, i + 1, k, float(i), "P")
            for i, k in enumerate("a b a c d b e a c f g a".split())]
    rows += [(13 + i * 53, 100 + i, k, float(i), "Q")
             for i, k in enumerate("x y x z w y v u x".split())]
    df = spark.createDataFrame(rows, PSCHEMA)
    fn = PARTITION_CASES[name]
    got = fn(df, "p")
    want: set = set()
    for v in ("P", "Q"):
        sub = fn(df.filter(F.col("p") == v), None)
        cols = sub.columns
        want |= rows_set(sub, *cols)
    assert rows_set(got, *cols) == want
    assert want, name  # the case produced rows to compare
    if name in PARTITION_HAND:
        hand_cols, hand = PARTITION_HAND[name]
        assert rows_set(got, *hand_cols) == hand


# --- validation (negative tests, SURVEY §5 category 4) ---

@pytest.mark.parametrize("bad", [None, [], 42])
def test_keys_validation(spark, bad):
    df = make(spark, [(1, 1, "a", 1.0)])
    with pytest.raises(ValueError):
        ever(df, bad, ts="ts")


def test_bad_time_constant(spark):
    df = make(spark, [(1, 1, "a", 1.0)])
    with pytest.raises(ValueError):
        time_batch(df, "k", "1 parsec", ts="ts")
    with pytest.raises(ValueError):
        time_batch(df, "k", 0, ts="ts")
    with pytest.raises(ValueError):
        time_batch(df, "k", -5, ts="ts")


@pytest.mark.parametrize("bad", ["1 sec", 1.5, True], ids=["duration", "float", "bool"])
def test_start_time_must_be_an_int(spark, bad):
    # start.time is an instant (int epoch ms), never a duration: one
    # eager check in every operator that takes it
    df = make(spark, [(1, 1, "a", 1.0)])
    for op in (
        lambda: time_batch(df, "k", 10, ts="ts", start_time_ms=bad),
        lambda: first_time_batch(df, "k", 10, ts="ts", start_time_ms=bad),
        lambda: time_length_batch(df, "k", 10, 2, ts="ts", start_time_ms=bad),
        lambda: ops.time_length_batch_distributed(
            df, "k", 10, 2, ts="ts", start_time_ms=bad),
        lambda: external_time_batch(
            df, "k", timestamp="ts", window_time=10, start_time_ms=bad),
    ):
        with pytest.raises(ValueError, match="start.time"):
            op()


def test_bad_length(spark):
    df = make(spark, [(1, 1, "a", 1.0)])
    with pytest.raises(ValueError):
        length_window(df, "k", 0, ts="ts")
    with pytest.raises(ValueError):
        length_batch(df, "k", "ten", ts="ts")


def test_bad_ts_column(spark):
    df = make(spark, [(1, 1, "a", 1.0)])
    with pytest.raises(ValueError):
        ever(df, "k", ts="nope")


def test_deduplicate_rejects_multi_key(spark):
    # reference signature takes exactly one key expression
    # (DeduplicateStreamProcessor.java:63-75)
    df = make(spark, [(1, 1, "a", 1.0)])
    with pytest.raises(ValueError):
        deduplicate(df, ["k", "v"], 1000, ts="ts")


def test_length_batch_rejects_bad_keep(spark):
    df = make(spark, [(1, 1, "a", 1.0)])
    with pytest.raises(ValueError):
        length_batch(df, "k", 2, ts="ts", keep="latest")


def test_missing_key_column(spark):
    df = make(spark, [(1, 1, "a", 1.0)])
    with pytest.raises(ValueError):
        deduplicate(df, "nope", 1000, ts="ts")


def test_external_time_batch_rejects_bad_interval(spark):
    # wrong-type / non-positive window.time
    # (UniqueExternalTimeBatchWindowProcessor.java:170-247)
    df = make(spark, [(1, 1, "a", 1.0)])
    with pytest.raises(ValueError):
        external_time_batch(df, "k", timestamp="ts", window_time="soon")
    with pytest.raises(ValueError):
        external_time_batch(df, "k", timestamp="ts", window_time=0)


def test_ever_accepts_expression_key(spark):
    # the reference key is an arbitrary expression
    # (UniqueEverWindowProcessor.java:216-222)
    df = make(spark, [(1000, 1, "a", 1.0), (2000, 2, "A", 2.0), (3000, 3, "b", 3.0)])
    out = ever(df, F.lower(F.col("k")), ts="ts", tiebreak="event_id").collect()
    got = {(r["k"], r["event_id"]) for r in out}
    assert got == {("A", 2), ("b", 3)}  # 'a'/'A' collapse under lower()


def test_length_window_emissions_distributed_matches_replay_set(spark):
    # the scale-path form must emit exactly the replay's emission SET
    # (order is the replay's own concern)
    from siddhi_execution_unique_spark.operators.length import (
        length_window_emissions_distributed,
    )

    rows = [((i + 1) * 1000, i + 1, k, float(i + 1))
            for i, k in enumerate("a b a c d b e a c f g a".split())]
    df = make(spark, rows)
    replay = length_window_emissions(df, "k", 3, ts="ts", tiebreak="event_id")
    dist = length_window_emissions_distributed(df, "k", 3, ts="ts", tiebreak="event_id")
    assert rows_set(replay, "event_id", "channel") == rows_set(dist, "event_id", "channel")


def test_length_window_emissions_replace_and_fifo(spark):
    # buffer size 2: a,b fill it; second 'a' replaces (old a expires);
    # 'c' FIFO-evicts 'b' (oldest insertion)
    df = make(spark, [(1000, 1, "a", 1.0), (2000, 2, "b", 2.0),
                      (3000, 3, "a", 3.0), (4000, 4, "c", 4.0)])
    out = length_window_emissions(df, "k", 2, ts="ts", tiebreak="event_id")
    rows = [(r["event_id"], r["channel"]) for r in out.collect()]
    assert rows == [
        (1, "current"), (2, "current"),
        (1, "expired"), (3, "current"),   # replace: old 'a' out first
        (2, "expired"), (4, "current"),   # FIFO: 'b' evicted by 'c'
    ]


def test_time_length_batch_trailing_window_never_fires(spark):
    # T=10s, N=3: events at 0s,1s (interval 0) then 12s (interval 1).
    # Interval 0 time-fires when the 12s event crosses the 10s
    # boundary; interval 1's boundary (20s) is never crossed and it
    # has <N distinct keys, so it must not fire (reference: trailing
    # partial batch, UniqueTimeLengthBatchWindowProcessor.java:304-336)
    df = make(spark, [(0, 1, "a", 1.0), (1000, 2, "b", 2.0), (12000, 3, "c", 3.0)])
    out = time_length_batch(df, "k", 10_000, 3, ts="ts", tiebreak="event_id").collect()
    got = [(r["event_id"], r["batch_seq"], r["fire_reason"], r["fired_at_ms"]) for r in out]
    assert sorted(got) == [(1, 0, "time", 10000), (2, 0, "time", 10000)]


# --- Siddhi-name dispatch API ---

def test_api_dispatch_matches_direct_calls(spark):
    from siddhi_execution_unique_spark import api

    df = make(spark, [(1, 1, "a", 1.0), (2, 2, "b", 2.0), (3, 3, "a", 3.0)])
    via_api = api.window(df, "unique:ever", "k", ts="ts", tiebreak="event_id")
    direct = ever(df, "k", ts="ts", tiebreak="event_id")
    assert rows_set(via_api, "k", "event_id") == rows_set(direct, "k", "event_id")
    dedup = api.stream_processor(df, "unique:deduplicate", "k",
                                 time_interval=1, ts="ts", tiebreak="event_id")
    assert rows_set(dedup, "event_id") == {(1,), (2,), (3,)}


def test_api_unknown_name_raises(spark):
    import pytest as _pytest

    from siddhi_execution_unique_spark import api

    df = make(spark, [(1, 1, "a", 1.0)])
    with _pytest.raises(ValueError, match="unknown window"):
        api.window(df, "unique:nope", "k")


# --- cross-chunk carry (the streamed full-row replays) ---

def test_carry_scan_survives_tiny_arrow_batches(spark):
    """The full-row replay paths (length_batch without tiebreak,
    time_length_batch, length_window_emissions) buffer the forming
    batch / FIFO rows across Arrow chunk boundaries via _CarryScan.
    Force 16-row chunks over a 600-row stream so pending rows cross
    dozens of boundaries, and check each path against its
    independently-derived twin (tiebreak funnel / distributed form)."""
    import random

    from siddhi_execution_unique_spark.operators.length import (
        length_window_emissions_distributed,
    )
    from siddhi_execution_unique_spark.operators.replay import (
        time_length_batch_distributed,
    )

    rng = random.Random(42)
    keys = [f"k{rng.randrange(11)}" for _ in range(600)]
    rows = [((i + 1) * 13, i + 1, k, float(i)) for i, k in enumerate(keys)]
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "16")
    try:
        df = make(spark, rows)

        # 1. lengthBatch fallback (full rows ride the scan) vs the
        # narrow-funnel tiebreak path — ts values are unique, so both
        # orderings agree
        fb = length_batch(df, "k", 7, ts="ts")
        tb = length_batch(df, "k", 7, ts="ts", tiebreak="event_id")
        cols = ("event_id", "batch_seq", "fired_at_ms")
        assert rows_set(fb, *cols) == rows_set(tb, *cols)

        # keep='first' variant through the same fallback
        fb_f = first_length_batch(df, "k", 7, ts="ts")
        tb_f = first_length_batch(df, "k", 7, ts="ts", tiebreak="event_id")
        assert rows_set(fb_f, *cols) == rows_set(tb_f, *cols)

        # 2. timeLengthBatch ordered scan vs the interval-partitioned
        # distributed form (independent algebra)
        for kwargs in ({}, {"start_time_ms": 0}):
            rep = time_length_batch(df, "k", 700, 9, ts="ts",
                                    tiebreak="event_id", **kwargs)
            dist = time_length_batch_distributed(df, "k", 700, 9, ts="ts",
                                                 tiebreak="event_id", **kwargs)
            tl_cols = ("event_id", "k", "batch_seq", "fired_at_ms", "fire_reason")
            assert rows_set(rep, *tl_cols) == rows_set(dist, *tl_cols), kwargs

        # 3. emission log (rows emit current now, expired later — the
        # same physical row crosses chunks between its two emissions)
        rep_e = length_window_emissions(df, "k", 5, ts="ts", tiebreak="event_id")
        dist_e = length_window_emissions_distributed(
            df, "k", 5, ts="ts", tiebreak="event_id"
        )
        e_cols = ("event_id", "channel")
        assert rows_set(rep_e, *e_cols) == rows_set(dist_e, *e_cols)
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)


def test_full_row_replays_stream_one_million_rows(spark):
    """The full-row replay paths (no-tiebreak lengthBatch fallback and
    the exact timeLengthBatch scan) stream across Arrow batches with
    only the forming rows buffered — the retired concat-everything
    form would hold all 1M rows in one pandas frame. Same key pattern
    as the narrow-funnel 1M test: keys cycle 0..999, N=100, so the
    chain fires every 100 rows. For timeLengthBatch, T=200 gives each
    interval 200 arrivals: the first 100 distinct keys length-fire,
    the rest are discarded until the boundary (the reference's
    eventSent skip) — 5000 length-fired batches of 100 rows."""
    n_rows, n_keys, n = 1_000_000, 1_000, 100
    df = (
        spark.range(n_rows)
        .select(
            F.col("id").alias("ts"),
            F.col("id").alias("event_id"),
            (F.col("id") % n_keys).cast("string").alias("k"),
        )
    )
    out = length_batch(df, "k", n, ts="ts")  # no tiebreak -> full-row scan
    agg = out.agg(
        F.count("*").alias("rows"),
        F.countDistinct("batch_seq").alias("batches"),
        F.sum(F.when(F.col("fired_at_ms") == F.col("batch_seq") * n + n - 1, 1)
              .otherwise(0)).alias("fired_ok"),
    ).collect()[0]
    assert agg["rows"] == n_rows
    assert agg["batches"] == n_rows // n
    assert agg["fired_ok"] == n_rows

    t_win = 2 * n  # 200 arrivals per interval; first 100 fire, rest skip
    tlb = time_length_batch(df, "k", t_win, n, ts="ts", start_time_ms=0)
    agg2 = tlb.agg(
        F.count("*").alias("rows"),
        F.countDistinct("batch_seq").alias("batches"),
        F.sum(F.when(F.col("fire_reason") == "length", 1).otherwise(0)).alias(
            "len_fires"
        ),
        F.sum(
            F.when(F.col("fired_at_ms") % t_win == n - 1, 1).otherwise(0)
        ).alias("fired_ok"),
    ).collect()[0]
    assert agg2["rows"] == n_rows // 2
    assert agg2["batches"] == n_rows // t_win
    assert agg2["len_fires"] == n_rows // 2
    assert agg2["fired_ok"] == n_rows // 2


# --- chain keys: every null is one key; ints past 2^53 never merge ---

@pytest.mark.parametrize("op, cols", [
    (lambda df: length_batch(df, "k", 3, ts="ts", tiebreak="event_id"),
     ["event_id", "batch_seq", "fired_at_ms"]),
    (lambda df: time_length_batch(df, "k", 100, 3, ts="ts", tiebreak="event_id"),
     ["event_id", "batch_seq", "fired_at_ms", "fire_reason"]),
    (lambda df: ops.length_window_emissions_indexed(
        df, "k", 2, ts="ts", tiebreak="event_id"),
     ["event_id", "channel", "emission_idx"]),
], ids=["length_batch", "time_length_batch", "length_window_emissions_indexed"])
def test_chain_null_keys_are_one_key(spark, op, cols):
    # Spark's groupBy convention: all nulls are ONE key, for a long key
    # column (whose nulls reach pandas as NaN) as for a string one
    df = spark.createDataFrame(
        [(i, i, k, 0.0) for i, k in enumerate([1, None, None, 2, None, 3], 1)],
        "ts long, event_id long, k long, v double")
    as_long = rows_set(op(df), *cols)
    as_str = rows_set(op(df.withColumn("k", F.col("k").cast("string"))), *cols)
    assert as_long == as_str
    if cols[1] == "batch_seq":
        # the second null replaces the first; key 2 completes the batch
        assert {r[0] for r in as_long if r[1] == 0} == {1, 3, 4}


def test_chain_keys_past_2_53_never_merge(spark):
    big = 2 ** 53
    df = spark.createDataFrame([(1, 1, big, 0.0), (2, 2, big + 1, 0.0)],
                               "ts long, event_id long, k long, v double")
    got = rows_set(length_batch(df, "k", 2, ts="ts", tiebreak="event_id"),
                   "event_id", "batch_seq")
    assert got == {(1, 0), (2, 0)}  # two distinct keys fire a batch of 2
    # a null key makes the column float64 in pandas, where the two keys
    # are one float: refused rather than merged
    nulls = df.union(spark.createDataFrame([(3, 3, None, 0.0)], df.schema))
    with pytest.raises(Exception, match=r"2\^53"):
        length_batch(nulls, "k", 2, ts="ts", tiebreak="event_id").collect()

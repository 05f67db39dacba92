"""Streaming twins: file-source micro-batches + memory sink, plus the
checkpoint-resume story (mirrors the reference's persist/restore
tests, UniqueEverWindowTestCase.java:141-219)."""

import os
import shutil
import time

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from siddhi_execution_unique_spark import streaming as stw

SCHEMA = StructType([
    StructField("ts", TimestampType()),
    StructField("event_id", LongType()),
    StructField("k", StringType()),
    StructField("v", DoubleType()),
])


def stamp_arrival(dirname, filename):
    """Make the intended arrival order the PROCESSED order:
    FileStreamSource sorts new files by Hadoop mtime, which is
    MILLISECOND-granular, so two files written back-to-back tie and
    fall back to listing order (inode order on local fs) — observed
    as a full-suite-only flake where batch 1's input processed before
    batch 0's. Stamp each written file one second after every file
    already in the directory. The first file's base sits a few
    minutes in the PAST of the real clock, not at a fixed ancient
    epoch (ADVICE r11): FileStreamSource's default maxFileAge=7d
    purges listings older than (newest file − 7d), so an epoch-2001
    base would silently drop every stamped file if any unstamped
    file (mtime ~now) ever landed in the same directory."""
    path = os.path.join(dirname, filename)
    others = [
        os.path.getmtime(os.path.join(dirname, f))
        for f in os.listdir(dirname)
        if f != filename and not f.startswith(("_", "."))
    ]
    base = float(int(time.time())) - 600.0
    t = max([base] + [m + 1.0 for m in others])
    os.utime(path, (t, t))


def write_batch(dirname, filename, rows):
    """rows: list of (ts_ms, event_id, k, v)"""
    table = pa.table({
        "ts": pa.array([r[0] * 1000 for r in rows], pa.timestamp("us")),
        "event_id": pa.array([r[1] for r in rows], pa.int64()),
        "k": pa.array([r[2] for r in rows], pa.string()),
        "v": pa.array([r[3] for r in rows], pa.float64()),
    })
    pq.write_table(table, os.path.join(dirname, filename))
    stamp_arrival(dirname, filename)


@pytest.fixture()
def workdir(tmp_path):
    d = tmp_path / "stream"
    d.mkdir()
    (d / "in").mkdir()
    (d / "ckpt").mkdir()
    return d


def run_available(spark, out_df, sink_name, ckpt, mode="append"):
    q = (
        out_df.writeStream.format("memory")
        .queryName(sink_name)
        .outputMode(mode)
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.sql(f"SELECT * FROM {sink_name}")


def read_stream(spark, indir):
    return (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(indir))
    )


def test_first_stream_dedups_across_batches(spark, workdir):
    write_batch(workdir / "in", "001.parquet", [(1000, 1, "a", 1.0), (2000, 2, "b", 2.0)])
    write_batch(workdir / "in", "002.parquet", [(3000, 3, "a", 3.0), (4000, 4, "c", 4.0)])
    out = stw.first_stream(read_stream(spark, workdir / "in"), "k")
    res = run_available(spark, out, "first_sink", workdir / "ckpt")
    got = {(r["k"], r["event_id"]) for r in res.collect()}
    assert got == {("a", 1), ("b", 2), ("c", 4)}


def test_first_stream_checkpoint_resume(spark, workdir):
    # file sink (memory sink can't recover from a checkpoint)
    outdir = workdir / "out"

    def run_to_files(sink_dir):
        q = (
            stw.first_stream(read_stream(spark, workdir / "in"), "k")
            .writeStream.format("parquet")
            .option("path", str(sink_dir))
            .option("checkpointLocation", str(workdir / "ckpt"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    write_batch(workdir / "in", "001.parquet", [(1000, 1, "a", 1.0), (2000, 2, "b", 2.0)])
    run_to_files(outdir)
    # new data arrives while "down": a duplicate key and a new key
    write_batch(workdir / "in", "002.parquet", [(5000, 5, "a", 9.0), (6000, 6, "d", 6.0)])
    # restart from the same checkpoint: state remembered -> 'a' stays dropped
    run_to_files(outdir)
    got = {(r["k"], r["event_id"]) for r in spark.read.parquet(str(outdir)).collect()}
    assert got == {("a", 1), ("b", 2), ("d", 6)}


def test_streaming_aggregate_select_matches_batch(spark, workdir):
    """VERDICT r06 item 8: the same SiddhiQL aggregate-select text
    runs on both engines — the streaming side through the
    foreachBatch lowering — and lands on the batch run_app's final
    state for ever (update stream, group by + having) and
    deduplicate (append stream)."""
    from siddhi_execution_unique_spark import siddhiql as sq

    rows1 = [(1000, 1, "a", 150.0), (2000, 2, "b", 30.0), (2500, 3, "a", 60.0)]
    rows2 = [(3000, 4, "a", 90.0), (4000, 5, "c", 10.0), (9000, 6, "b", 70.0)]
    write_batch(workdir / "in", "001.parquet", rows1)
    write_batch(workdir / "in", "002.parquet", rows2)
    app = """
    from events#window.unique:ever(k)
    select k, count() as n, max(v) as vmax
    group by k
    insert into agg;

    from events#window.unique:deduplicate(k, 2 sec)
    select k, count() as kept
    insert into kept_counts;
    """
    got = sq.run_app_streaming_aggregates(
        app, {"events": read_stream(spark, workdir / "in")}
    )
    import datetime

    batch_rows = [
        (datetime.datetime.utcfromtimestamp(t / 1000.0), e, k, v)
        for (t, e, k, v) in rows1 + rows2
    ]
    bdf = spark.createDataFrame(batch_rows, "ts timestamp, event_id long, k string, v double")
    want = sq.run_app(app, {"events": bdf}, tiebreak="event_id")
    for name in ("agg", "kept_counts"):
        assert sorted(map(tuple, got[name].collect())) == \
            sorted(map(tuple, want[name].collect())), name


def test_partitioned_streaming_aggregate_matches_batch(spark, workdir):
    """A partitioned `ever` aggregate finalizes per (partition value,
    key): the same key in two instances is two window rows, also when
    both arrive in one micro-batch."""
    import datetime

    from siddhi_execution_unique_spark import siddhiql as sq

    rows = [(1000, 1, "x", "a"), (2000, 2, "y", "a"), (3000, 3, "x", "b"),
            (4000, 4, "x", "a")]
    table = pa.table({
        "ts": pa.array([r[0] * 1000 for r in rows], pa.timestamp("us")),
        "event_id": pa.array([r[1] for r in rows], pa.int64()),
        "g": pa.array([r[2] for r in rows], pa.string()),
        "k": pa.array([r[3] for r in rows], pa.string()),
    })
    pq.write_table(table, str(workdir / "in" / "001.parquet"))
    app = """
    partition with (g of events) begin
    from events#window.unique:ever(k)
    select k, count() as n
    group by k
    insert into agg;
    end
    """
    schema = "ts timestamp, event_id long, g string, k string"
    src = spark.readStream.schema(schema).parquet(str(workdir / "in"))
    got = sq.run_app_streaming_aggregates(app, {"events": src})["agg"]
    bdf = spark.createDataFrame(
        [(datetime.datetime.utcfromtimestamp(t / 1000.0), e, g, k)
         for (t, e, g, k) in rows], schema)
    want = sq.run_app(app, {"events": bdf}, tiebreak="event_id")["agg"]
    assert sorted(map(tuple, got.collect())) == [("a", 2), ("b", 1)]
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_ever_stream_update_mode(spark, workdir):
    write_batch(workdir / "in", "001.parquet", [(1000, 1, "a", 1.0), (2000, 2, "b", 2.0)])
    write_batch(workdir / "in", "002.parquet", [(3000, 3, "a", 3.0)])
    out = stw.ever_stream(read_stream(spark, workdir / "in"), "k", ts="ts")
    res = run_available(spark, out, "ever_sink", workdir / "ckpt", mode="update")
    rows = res.collect()
    # update stream re-emits 'a' on replacement; latest emission wins
    latest = {}
    for r in rows:
        latest[r["k"]] = max(latest.get(r["k"], 0), r["event_id"])
    assert latest == {"a": 3, "b": 2}
    assert len(rows) >= 3  # the replacement really was re-emitted


def test_deduplicate_exact_stream_anchored_chain(spark, workdir):
    # chain: 0 kept, +50 dropped, +120 kept (anchor moved), 260 kept
    write_batch(workdir / "in", "001.parquet",
                [(0, 1, "a", 1.0), (50, 2, "a", 2.0)])
    write_batch(workdir / "in", "002.parquet",
                [(120, 3, "a", 3.0), (260, 4, "a", 4.0), (10, 5, "b", 5.0)])
    out = stw.deduplicate_exact_stream(read_stream(spark, workdir / "in"), "k", 100, ts="ts")
    res = run_available(spark, out, "dedup_sink", workdir / "ckpt")
    got = {(r["k"], r["event_id"]) for r in res.collect()}
    assert got == {("a", 1), ("a", 3), ("a", 4), ("b", 5)}


def test_deduplicate_stream_watermarked(spark, workdir):
    write_batch(workdir / "in", "001.parquet",
                [(0, 1, "a", 1.0), (10, 2, "a", 2.0), (20, 3, "b", 3.0)])
    out = stw.deduplicate_stream(read_stream(spark, workdir / "in"), "k", 1000, ts="ts")
    res = run_available(spark, out, "wdedup_sink", workdir / "ckpt")
    rows = res.collect()
    # which duplicate represents a burst within one micro-batch is
    # engine-determined; the guarantee is one row per key in-window
    # (deduplicate_exact_stream pins the reference's exact choice)
    assert {r["k"] for r in rows} == {"a", "b"}
    assert len(rows) == 2


def test_tumbling_batch_stream_append(spark, workdir):
    write_batch(workdir / "in", "001.parquet",
                [(1000, 1, "a", 1.0), (5000, 2, "a", 2.0), (11000, 3, "b", 3.0)])
    # sentinel far ahead pushes the watermark past the first windows
    write_batch(workdir / "in", "002.parquet", [(600000, 99, "zz", 0.0)])
    out = stw.tumbling_batch_stream(
        read_stream(spark, workdir / "in"), "k", 10_000, ts="ts", watermark_delay="1 second"
    )
    res = run_available(spark, out, "batch_sink", workdir / "ckpt")
    got = {(r["batch_start_ms"], r["k"], r["event_id"]) for r in res.collect()}
    assert (0, "a", 2) in got       # replace-within-batch kept the later event
    assert (10000, "b", 3) in got
    assert not any(k == "zz" for _, k, _e in got)  # sentinel window still open


def test_time_window_stream_dual_channel(spark, workdir):
    # a@1s replaced by a@3s (expired immediately); watermark far past
    # 3s+10s window -> the retained a@3s expires on the timer path
    write_batch(workdir / "in", "001.parquet",
                [(1000, 1, "a", 1.0), (3000, 2, "a", 2.0)])
    write_batch(workdir / "in", "002.parquet", [(600000, 99, "zz", 0.0)])
    out = stw.time_window_stream(
        read_stream(spark, workdir / "in"), "k", 10_000, ts="ts",
        watermark_delay="1 second",
    )
    res = run_available(spark, out, "tw_sink", workdir / "ckpt")
    got = {(r["event_id"], r["channel"]) for r in res.collect()}
    assert (1, "current") in got
    assert (2, "current") in got
    assert (1, "expired") in got    # replaced immediately
    assert (2, "expired") in got    # expired by event-time timer
    # sentinel still inside its window: current only
    assert (99, "current") in got and (99, "expired") not in got


def test_length_batch_stream_fires_at_n_distinct(spark, workdir):
    # 3 distinct keys fire a batch; duplicate 'a' replaces in-batch
    write_batch(workdir / "in", "001.parquet",
                [(1000, 1, "a", 1.0), (2000, 2, "a", 2.0), (3000, 3, "b", 3.0)])
    write_batch(workdir / "in", "002.parquet",
                [(4000, 4, "c", 4.0), (5000, 5, "d", 5.0)])
    out = stw.length_batch_stream(read_stream(spark, workdir / "in"), "k", 3, ts="ts")
    res = run_available(spark, out, "lb_sink", workdir / "ckpt")
    rows = res.collect()
    current0 = {r["event_id"] for r in rows if r["batch_seq"] == 0 and r["channel"] == "current"}
    # replace-within-batch: event 2 (later 'a') kept, event 1 dropped
    assert current0 == {2, 3, 4}
    # second batch still forming (only 'd') -> nothing emitted for it
    assert not any(r["batch_seq"] == 1 for r in rows)
    assert not any(r["channel"] == "expired" for r in rows)  # no prior batch yet


def test_length_batch_stream_checkpoint_resume_emits_expired(spark, workdir):
    outdir = workdir / "out"

    def run_to_files():
        q = (
            stw.length_batch_stream(read_stream(spark, workdir / "in"), "k", 2, ts="ts")
            .writeStream.format("parquet")
            .option("path", str(outdir))
            .option("checkpointLocation", str(workdir / "ckpt"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    write_batch(workdir / "in", "001.parquet",
                [(1000, 1, "a", 1.0), (2000, 2, "b", 2.0)])
    run_to_files()
    # second fire after restart: previous batch must re-emit as expired
    write_batch(workdir / "in", "002.parquet",
                [(3000, 3, "c", 3.0), (4000, 4, "d", 4.0)])
    run_to_files()
    rows = spark.read.parquet(str(outdir)).collect()
    expired = {r["event_id"] for r in rows if r["channel"] == "expired"}
    current1 = {r["event_id"] for r in rows if r["batch_seq"] == 1 and r["channel"] == "current"}
    assert expired == {1, 2}      # batch 0 re-emitted as expired on fire 1
    assert current1 == {3, 4}


def test_ever_stream_dual_channel(spark, workdir):
    # replaced 'a' expires immediately; nothing ever times out
    write_batch(workdir / "in", "001.parquet",
                [(1000, 1, "a", 1.0), (2000, 2, "b", 2.0)])
    write_batch(workdir / "in", "002.parquet", [(600000, 3, "a", 3.0)])
    out = stw.ever_stream_dual(
        read_stream(spark, workdir / "in"), "k", ts="ts", watermark_delay="1 second"
    )
    res = run_available(spark, out, "everd_sink", workdir / "ckpt")
    got = {(r["event_id"], r["channel"]) for r in res.collect()}
    assert got == {
        (1, "current"), (2, "current"), (3, "current"),
        (1, "expired"),  # replaced by event 3; 'b' never expires
    }


def test_length_window_stream_replace_and_fifo(spark, workdir):
    # N=2: 'a' replaced (old expires, key moves to back), then 'c' on a
    # full buffer FIFO-evicts 'b' (oldest insertion)
    write_batch(workdir / "in", "001.parquet",
                [(1000, 1, "a", 1.0), (2000, 2, "b", 2.0)])
    write_batch(workdir / "in", "002.parquet",
                [(3000, 3, "a", 3.0), (4000, 4, "c", 4.0)])
    out = stw.length_window_stream(read_stream(spark, workdir / "in"), "k", 2, ts="ts")
    res = run_available(spark, out, "lw_sink", workdir / "ckpt")
    got = {(r["event_id"], r["channel"]) for r in res.collect()}
    assert got == {
        (1, "current"), (2, "current"), (3, "current"), (4, "current"),
        (1, "expired"),   # replaced by event 3 (same key)
        (2, "expired"),   # FIFO-evicted by event 4 ('a' moved to back)
    }


def test_length_window_stream_checkpoint_resume(spark, workdir):
    # the FIFO buffer (contents AND insertion order) must survive a
    # restart: 'a' was moved to the back pre-restart, so post-restart
    # 'd' evicts 'b', not 'a'
    outdir = workdir / "out"

    def run_to_files():
        q = (
            stw.length_window_stream(read_stream(spark, workdir / "in"), "k", 2, ts="ts")
            .writeStream.format("parquet")
            .option("path", str(outdir))
            .option("checkpointLocation", str(workdir / "ckpt"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    write_batch(workdir / "in", "001.parquet",
                [(1000, 1, "a", 1.0), (2000, 2, "b", 2.0), (3000, 3, "a", 3.0)])
    run_to_files()
    write_batch(workdir / "in", "002.parquet", [(4000, 4, "d", 4.0)])
    run_to_files()
    rows = spark.read.parquet(str(outdir)).collect()
    expired = {r["event_id"] for r in rows if r["channel"] == "expired"}
    assert expired == {1, 2}  # 1 replaced pre-restart; 2 FIFO-evicted post-restart


def test_time_length_batch_stream_semantics(spark, workdir):
    # t=10s, n=3: length fire at the 3rd distinct key, then discard
    # until the next boundary; later boundaries flush by time
    write_batch(workdir / "in", "001.parquet",
                [(1000, 1, "a", 1.0), (2000, 2, "b", 2.0),
                 (3000, 3, "c", 3.0), (4000, 4, "d", 4.0)])
    write_batch(workdir / "in", "002.parquet",
                [(12000, 5, "e", 5.0), (22000, 6, "f", 6.0),
                 (600000, 99, "zz", 0.0)])
    out = stw.time_length_batch_stream(
        read_stream(spark, workdir / "in"), "k", 10_000, 3, ts="ts",
        watermark_delay="1 second",
    )
    res = run_available(spark, out, "tlb_sink", workdir / "ckpt")
    rows = res.collect()
    cur = {b: set() for b in range(3)}
    for r in rows:
        if r["channel"] == "current":
            cur[r["batch_seq"]].add(r["event_id"])
    # fire-by-length: batch 0 fired the moment 'c' (3rd distinct) arrived
    assert cur[0] == {1, 2, 3}
    b0 = [r for r in rows if r["batch_seq"] == 0 and r["channel"] == "current"][0]
    assert b0["fire_reason"] == "length" and b0["fired_at_ms"] == 3000
    # discard-until-boundary: event 4 (after the length fire) is dropped
    assert not any(r["event_id"] == 4 for r in rows)
    # fire-by-time: boundary 21000 flushes {e}; boundary 31000 flushes {f}
    assert cur[1] == {5}
    b1 = [r for r in rows if r["batch_seq"] == 1 and r["channel"] == "current"][0]
    assert b1["fire_reason"] == "time" and b1["fired_at_ms"] == 21000
    assert cur[2] == {6}
    # dual channel: each fire re-emits the previous batch as expired
    expired = {(r["batch_seq"], r["event_id"]) for r in rows if r["channel"] == "expired"}
    assert {(0, 1), (0, 2), (0, 3), (1, 5)} <= expired
    # drain-only flush: the empty boundary at 41000 still drains batch
    # 2's expired (sendEvents runs on every timer flush even with no
    # forming batch)
    drain = [r for r in rows if r["channel"] == "expired" and r["batch_seq"] == 2]
    assert {r["event_id"] for r in drain} == {6}
    assert drain[0]["fired_at_ms"] == 41000
    # trailing partial batch (zz) never fires as current
    assert not any(r["event_id"] == 99 for r in rows)


def test_time_length_batch_stream_checkpoint_resume(spark, workdir):
    # state (forming batch, boundary clock, batch_seq) must survive a
    # restart from the checkpoint — the streaming analog of the
    # reference's persist/restore round-trip
    outdir = workdir / "out"

    def run_to_files():
        q = (
            stw.time_length_batch_stream(
                read_stream(spark, workdir / "in"), "k", 10_000, 3, ts="ts",
                watermark_delay="1 second",
            )
            .writeStream.format("parquet")
            .option("path", str(outdir))
            .option("checkpointLocation", str(workdir / "ckpt"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    # two distinct keys accumulate, no fire yet
    write_batch(workdir / "in", "001.parquet",
                [(1000, 1, "a", 1.0), (2000, 2, "b", 2.0)])
    run_to_files()
    # after restart the 3rd distinct key must fire WITH the remembered
    # forming batch {a, b}
    write_batch(workdir / "in", "002.parquet", [(3000, 3, "c", 3.0)])
    run_to_files()
    rows = spark.read.parquet(str(outdir)).collect()
    current0 = {r["event_id"] for r in rows if r["batch_seq"] == 0 and r["channel"] == "current"}
    assert current0 == {1, 2, 3}
    assert all(r["fire_reason"] == "length" for r in rows)


@pytest.mark.parametrize("twin", [
    lambda df, n: stw.length_batch_stream(df, "k", n, ts="ts"),
    lambda df, n: stw.length_window_stream(df, "k", n, ts="ts"),
    lambda df, n: stw.time_length_batch_stream(df, "k", 10_000, n, ts="ts"),
], ids=["length_batch_stream", "length_window_stream", "time_length_batch_stream"])
@pytest.mark.parametrize("bad", [2.9, True, 0], ids=["float", "bool", "zero"])
def test_length_twins_reject_bad_window_length(spark, twin, bad):
    # the same constant-positive-int rule as the batch operators: a
    # float must not truncate to N=2, nor a bool count as N=1
    df = spark.createDataFrame([(1000, 1, "a", 1.0)],
                               "ts long, event_id long, k string, v double")
    with pytest.raises(ValueError, match="window.length"):
        twin(df, bad)


@pytest.mark.parametrize("twin, args, bad", [
    ("length_batch_stream", (2,), {"partition_attr": "ghost"}),
    ("time_length_batch_stream", (10_000, 2), {"partition_attr": "ghost"}),
    ("external_time_batch_stream", (10_000,), {"partition_attr": "ghost"}),
    ("time_length_batch_stream", (10_000, 2), {"start_time_ms": "1 sec"}),
    ("external_time_batch_stream", (10_000,), {"start_time_ms": "1 sec"}),
], ids=["length_batch_partition_attr", "time_length_batch_partition_attr",
        "external_time_batch_partition_attr", "time_length_batch_start_time",
        "external_time_batch_start_time"])
def test_chain_twins_validate_like_batch(spark, twin, args, bad):
    # the batch chain operators' argument checks: an unknown partition
    # attribute or a duration as start.time fails when the query is
    # built, not inside it
    df = spark.createDataFrame([(1000, 1, "a", 1.0)],
                               "ts long, event_id long, k string, v double")
    with pytest.raises(ValueError, match="partition attribute|start.time"):
        getattr(stw, twin)(df, "k", *args, ts="ts", **bad)


def test_external_time_batch_stream_boundary_flush(spark, workdir):
    # event at 12s crosses the 10s boundary anchored at 1s -> first
    # batch [1s,11s) flushes with keep-latest 'a'
    write_batch(workdir / "in", "001.parquet",
                [(1000, 1, "a", 1.0), (2000, 2, "a", 2.0), (12000, 3, "b", 3.0)])
    out = stw.external_time_batch_stream(
        read_stream(spark, workdir / "in"), "k", 10_000, ts="ts"
    )
    res = run_available(spark, out, "etb_sink", workdir / "ckpt")
    rows = res.collect()
    got = {(r["k"], r["event_id"], r["batch_start_ms"], r["flush_reason"]) for r in rows}
    assert got == {("a", 2, 1000, "boundary")}  # keep-latest; 'b' batch still forming
    assert all(r["batch_end_ms"] == 11000 for r in rows)


def test_external_time_batch_stream_idle_flush(spark, workdir):
    import time

    # all events sit inside one 1-hour window and the source stalls:
    # only the wall-clock time.out timer can flush them (reference:
    # UniqueExternalTimeBatchWindowProcessor.java:279-298)
    write_batch(workdir / "in", "001.parquet",
                [(1000, 1, "a", 1.0), (2000, 2, "a", 2.0), (3000, 3, "b", 3.0)])
    out = stw.external_time_batch_stream(
        read_stream(spark, workdir / "in"), "k", 3_600_000, ts="ts",
        idle_timeout=2_000,
    )
    q = (
        out.writeStream.format("memory")
        .queryName("etb_idle_sink")
        .outputMode("append")
        .option("checkpointLocation", str(workdir / "ckpt"))
        .trigger(processingTime="500 milliseconds")
        .start()
    )
    try:
        deadline = time.time() + 90
        rows = []
        while time.time() < deadline:
            rows = spark.sql("SELECT * FROM etb_idle_sink").collect()
            if rows:
                break
            time.sleep(1)
    finally:
        q.stop()
    got = {(r["k"], r["event_id"], r["flush_reason"]) for r in rows}
    assert got == {("a", 2, "timeout"), ("b", 3, "timeout")}  # keep-latest per key
    assert all(r["batch_start_ms"] == 1000 and r["batch_end_ms"] == 3601000 for r in rows)


def test_stream_table_source_feeds_operator(spark, workdir):
    from siddhi_execution_unique_spark.streaming import sources as ssrc

    write_batch(workdir / "in", "001.parquet", [(1000, 1, "a", 1.0)])
    write_batch(workdir / "in", "002.parquet", [(2000, 2, "a", 2.0), (3000, 3, "b", 3.0)])
    src = ssrc.stream_table(spark, str(workdir / "in"), SCHEMA)
    out = stw.first_stream(src, "k")
    res = run_available(spark, out, "src_sink", workdir / "ckpt")
    got = {(r["k"], r["event_id"]) for r in res.collect()}
    assert got == {("a", 1), ("b", 3)}


def test_api_streaming_dispatch(spark, workdir):
    from siddhi_execution_unique_spark import api

    write_batch(workdir / "in", "001.parquet",
                [(1000, 1, "a", 1.0), (2000, 2, "a", 2.0), (3000, 3, "b", 3.0)])
    out = api.streaming_window(read_stream(spark, workdir / "in"), "unique:first", "k")
    res = run_available(spark, out, "api_sink", workdir / "ckpt")
    assert {(r["k"], r["event_id"]) for r in res.collect()} == {("a", 1), ("b", 3)}


def test_rate_events_schema(spark):
    from siddhi_execution_unique_spark.streaming import sources as ssrc

    df = ssrc.rate_events(spark)
    assert df.isStreaming
    assert [f.name for f in df.schema.fields] == [
        "event_id", "ts", "user_id", "event_type", "value", "props"]


def test_lsh_ingest_stream_first_wins_across_batches(spark, workdir):
    """Bucket reps persist across micro-batches (first-wins, like
    unique:first applied to the band key) and every later same-bucket
    arrival emits a candidate against the ORIGINAL rep — including a
    batch-2 doc with a smaller id than the rep."""
    import pyarrow as pa
    import pyarrow.parquet as pq_

    def write_docs(name, rows):
        table = pa.table({
            "doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "text": pa.array([r[1] for r in rows], pa.string()),
        })
        pq_.write_table(table, str(workdir / "in" / name))
        stamp_arrival(str(workdir / "in"), name)

    same = "alpha beta gamma delta"       # 2 shingles, 4 shared buckets
    write_docs("001.parquet", [(4, same), (9, same), (7, "one two three four")])
    schema = spark.read.parquet(str(workdir / "in")).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(workdir / "in"))
    )
    out = stw.lsh_ingest_stream(stream)
    outdir = workdir / "out"

    def run_once():
        q = (
            out.writeStream.format("parquet")
            .option("path", str(outdir))
            .option("checkpointLocation", str(workdir / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    got1 = {(r["doc_id"], r["rep_id"])
            for r in spark.read.parquet(str(outdir)).collect()}
    # batch 1: 4 is rep (min within batch), 9 matches in all 4 bands
    assert got1 == {(9, 4)}
    assert spark.read.parquet(str(outdir)).count() == 4
    # batch 2: doc 2 has a SMALLER id but the rep stays first-wins 4
    write_docs("002.parquet", [(2, same)])
    run_once()
    got2 = {(r["doc_id"], r["rep_id"])
            for r in spark.read.parquet(str(outdir)).collect()}
    assert got2 == {(9, 4), (2, 4)}


def test_lsh_ingest_stream_matches_batch_buckets(spark, workdir):
    """Single-file replay of the corpus: candidates = every
    (doc, band) whose bucket holds a lower doc_id, rep = the bucket
    minimum — the closed form the driver oracle uses."""
    import shutil as _sh

    from pyspark.sql import functions as F
    from siddhi_execution_unique_spark.functions import dedup as fdedup
    from siddhi_execution_unique_spark.sources import load_table
    from siddhi_execution_unique_spark.streaming.sources import stream_table

    src = "/root/testdata/sf0.001/documents.parquet"
    _sh.copy(src, workdir / "in" / "docs.parquet")
    docs_schema = spark.read.parquet(src).schema
    stream = stream_table(spark, str(workdir / "in"), docs_schema, ts=None)
    out = stw.lsh_ingest_stream(stream)
    q = (
        out.writeStream.format("parquet")
        .option("path", str(workdir / "out"))
        .option("checkpointLocation", str(workdir / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {(r["doc_id"], r["band_key"], r["rep_id"])
           for r in spark.read.parquet(str(workdir / "out")).collect()}

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    sig = fdedup.minhash_signatures(docs)
    bands = fdedup._band_keys(sig)
    from pyspark.sql.window import Window

    w = (Window.partitionBy("band_key").orderBy("doc_id")
         .rowsBetween(Window.unboundedPreceding, -1))
    want = {
        (r["doc_id"], r["band_key"], r["rep_id"])
        for r in bands.withColumn("rep_id", F.min("doc_id").over(w))
        .filter(F.col("rep_id").isNotNull()).collect()
    }
    assert got == want and len(got) > 0


def test_curation_stream_matches_batch_manifest(spark, workdir):
    """The streaming curation twin (row-local scoring + first-wins
    fingerprint state) must produce the batch manifest exactly when
    ingest order follows doc_id — single-file replay of the corpus."""
    import shutil as _sh

    from siddhi_execution_unique_spark.functions import pipeline as fpipe
    from siddhi_execution_unique_spark.sources import load_table
    from siddhi_execution_unique_spark.streaming.sources import stream_table

    src = "/root/testdata/sf0.001/documents.parquet"
    _sh.copy(src, workdir / "in" / "docs.parquet")
    docs_schema = spark.read.parquet(src).schema
    stream = stream_table(spark, str(workdir / "in"), docs_schema, ts=None)
    out = fpipe.curation_stream(stream)
    res = run_available(spark, out, "curation_sink", workdir / "ckpt")
    got = {(r["doc_id"], r["pred_lang"], r["quality"]) for r in res.collect()}

    batch = fpipe.corpus_curation(load_table(spark, "/root/testdata/sf0.001", "documents"))
    want = {(r["doc_id"], r["pred_lang"], r["quality"]) for r in batch.collect()}
    assert got == want and len(got) > 0


def test_api_streaming_keep_first_variants(spark, workdir):
    """firstLengthBatch / firstTimeBatch dispatch to the keep='first'
    twins: within a forming batch the first arrival per key wins."""
    from siddhi_execution_unique_spark import api

    write_batch(workdir / "in", "001.parquet",
                [(1000, 1, "a", 1.0), (2000, 2, "a", 2.0), (3000, 3, "b", 3.0)])
    out = api.streaming_window(
        read_stream(spark, workdir / "in"), "unique:firstLengthBatch", "k", 2)
    res = run_available(spark, out, "flb_sink", workdir / "ckpt", mode="append")
    cur = {(r["k"], r["event_id"]) for r in res.collect() if r["channel"] == "current"}
    assert cur == {("a", 1), ("b", 3)}  # event 2 dropped, first 'a' kept


def test_asof_stream_enriches_with_latest_reference_row(spark, workdir):
    import pyspark.sql.functions as F
    # reference rows are v < 0; left rows are enriched
    write_batch(workdir / "in", "001.parquet",
                [(5, 3, "a", 1.0),     # left before any right -> -1
                 (10, 1, "a", -1.0),   # right
                 (10, 2, "a", 2.0)])   # left at SAME ts -> inclusive match id 1
    write_batch(workdir / "in", "002.parquet",
                [(20, 7, "a", 3.0),    # left, state carried across batches
                 (30, 4, "a", -2.0),   # newer right
                 (40, 8, "a", 4.0),    # left -> id 4
                 (15, 9, "b", 5.0)])   # other key, no right ever -> -1
    src = read_stream(spark, workdir / "in").withColumn("is_ref", F.col("v") < 0)
    out = stw.asof_stream(src, "k", "is_ref", ts="ts")
    res = run_available(spark, out, "asof_sink", workdir / "ckpt")
    got = {r["event_id"]: (r["r_ts_ms"], r["r_id"]) for r in res.collect()}
    assert got == {
        3: (-1, -1),
        2: (10, 1),
        7: (10, 1),
        8: (30, 4),
        9: (-1, -1),
    }


def test_kmv_stream_final_estimate_matches_batch_sketch(spark, workdir):
    import pyspark.sql.functions as F
    from siddhi_execution_unique_spark.functions import sketch as fsk
    # 12 distinct ids spread over two micro-batches, k=8 forces the
    # estimator (not the exact small-set path) for key "a"
    rows1 = [(i, i, "a", float(i % 5)) for i in range(7)]
    rows2 = [(i + 7, i + 7, "a", 1.0) for i in range(5)] + [(99, 99, "b", 2.0)]
    write_batch(workdir / "in", "001.parquet", rows1)
    write_batch(workdir / "in", "002.parquet", rows2)
    src = read_stream(spark, workdir / "in")
    out = stw.kmv_stream(src, key="k", id_col="event_id", k=8)
    res = run_available(spark, out, "kmv_sink", workdir / "ckpt", mode="update")
    # last emitted row per key is the merged-state estimate
    latest = {}
    for r in res.collect():
        latest[r["k"]] = (r["n_k"], r["kmv_estimate"])
    # batch reference on the SAME rows via the batch operator
    batch = spark.createDataFrame(
        [(r[2], r[1]) for r in rows1 + rows2], "event_type string, user_id long")
    want = {r["event_type"]: (r["n_exact"], r["kmv_estimate"])
            for r in fsk.kmv_distinct(batch, k=8).collect()}
    assert latest["b"] == (1, 1.0)
    # key a: 12 distinct > k=8 -> sketch path; stream's merged sketch
    # must give the batch estimator's exact value
    assert latest["a"][0] == 8
    assert latest["a"][1] == want["a"][1]


def test_asof_stream_checkpoint_resume(spark, workdir):
    import pyspark.sql.functions as F
    outdir = workdir / "out"

    def run_to_files():
        src = read_stream(spark, workdir / "in").withColumn("is_ref", F.col("v") < 0)
        q = (
            stw.asof_stream(src, "k", "is_ref", ts="ts")
            .writeStream.format("parquet")
            .option("path", str(outdir))
            .option("checkpointLocation", str(workdir / "ckpt"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    write_batch(workdir / "in", "001.parquet",
                [(10, 1, "a", -1.0), (20, 2, "a", 2.0)])
    run_to_files()
    # restart from checkpoint: the right-row state must survive
    write_batch(workdir / "in", "002.parquet", [(30, 3, "a", 3.0)])
    run_to_files()
    got = {r["event_id"]: (r["r_ts_ms"], r["r_id"])
           for r in spark.read.parquet(str(outdir)).collect()}
    assert got == {2: (10, 1), 3: (10, 1)}


def test_range_agg_stream_trailing_window(spark, workdir):
    import pyspark.sql.functions as F
    # reference rows are v < 0 (magnitude is the value); window = 100ms
    write_batch(workdir / "in", "001.parquet",
                [(10, 1, "a", -1.5),   # ref @10
                 (10, 2, "a", 0.0),    # left @10 -> inclusive, n=1 sum=-1.5
                 (50, 3, "a", -2.0),   # ref @50
                 (110, 4, "a", 0.0)])  # left @110 -> @10 excluded (110-100=10,
                                       # strictly >), @50 in: n=1 sum=-2.0
    write_batch(workdir / "in", "002.parquet",
                [(120, 5, "a", 0.0),   # state carried: @50 in window, n=1
                 (400, 6, "a", 0.0),   # all pruned -> n=0
                 (30, 7, "b", 0.0)])   # other key, no refs -> n=0
    src = read_stream(spark, workdir / "in").withColumn("is_ref", F.col("v") < 0)
    out = stw.range_agg_stream(src, "k", "is_ref", 100, ts="ts")
    res = run_available(spark, out, "range_sink", workdir / "ckpt")
    got = {r["event_id"]: (r["n_in_window"], r["win_value_sum"])
           for r in res.collect()}
    assert got == {
        2: (1, -1.5),
        4: (1, -2.0),
        5: (1, -2.0),
        6: (0, 0.0),
        7: (0, 0.0),
    }


def test_pq_encode_stream_matches_batch_codes(spark, workdir):
    """Streaming PQ ingest with the batch-frozen codebook must emit
    exactly the batch encode's codes for the same vectors."""
    import shutil as _sh

    from siddhi_execution_unique_spark.functions import similarity as fsim
    from siddhi_execution_unique_spark.sources import load_table
    from siddhi_execution_unique_spark.streaming import pq_encode_stream
    from siddhi_execution_unique_spark.streaming.sources import stream_table

    src = "/root/testdata/sf0.001/embeddings.parquet"
    _sh.copy(src, workdir / "in" / "emb.parquet")
    schema = spark.read.parquet(src).schema
    corpus = load_table(spark, "/root/testdata/sf0.001", "embeddings")

    stream = stream_table(spark, str(workdir / "in"), schema, ts=None)
    out = pq_encode_stream(stream, corpus)
    res = run_available(spark, out, "pq_codes_sink", workdir / "ckpt")
    got = {(r["vec_id"], r["m"], r["code"]) for r in res.collect()}

    want = {(r["vec_id"], r["m"], r["code"])
            for r in fsim.pq_encode(corpus, fsim.pq_codebook(corpus)).collect()}
    assert got == want and len(got) == 500 * fsim.PQ_M


def test_sessionize_stream_matches_batch_sessions(spark, workdir):
    from siddhi_execution_unique_spark.functions import sessions as fsess

    gap = 10_000  # 10 s
    # user a: two sessions (gap of 30s between), user b: one session.
    # batch 2's first event continues a's second session across the
    # micro-batch boundary; the final events are far ahead so the
    # watermark closes everything earlier via timeout.
    rows1 = [(1000, 1, "a", 1.0), (5000, 2, "a", 2.0), (8000, 3, "b", 1.0),
             (40_000, 4, "a", 1.0)]
    rows2 = [(45_000, 5, "a", 3.0), (47_000, 6, "b", 2.0),
             (500_000, 7, "a", 1.0), (500_000, 8, "b", 1.0)]
    write_batch(workdir / "in", "001.parquet", rows1)
    write_batch(workdir / "in", "002.parquet", rows2)
    out = stw.sessionize_stream(
        read_stream(spark, workdir / "in"), gap, user="k", ts="ts", type_col="v"
    )
    res = run_available(spark, out, "sess_sink", workdir / "ckpt")
    got = {(r["k"], r["session_seq"]): (r["session_start_ms"], r["session_end_ms"],
                                        r["n_events"], r["n_event_types"])
           for r in res.collect()}
    # the batch operator on the same rows is the reference; the
    # trailing 500s events' sessions stay open (watermark) and only
    # they may be absent from the stream's output
    batch = spark.createDataFrame(
        [(r[1], r[2], str(r[3]), r[0]) for r in rows1 + rows2],
        "event_id long, user_id string, event_type string, ms long",
    ).selectExpr("event_id", "user_id", "event_type",
                 "timestamp_micros(ms * 1000) as ts")
    want = {(r["user_id"], r["session_seq"]): (r["session_start_ms"], r["session_end_ms"],
                                               r["n_events"], r["n_event_types"])
            for r in fsess.sessionize(batch, gap, user="user_id").collect()}
    open_keys = {("a", 3), ("b", 3)}  # the 500s sessions, still open
    assert set(want) - set(got) <= open_keys
    for key in got:
        assert got[key] == want[key], (key, got[key], want[key])
    # all mid-stream closes happened (gap-close and timeout-close):
    # a's sessions at 1-5s and 40-45s, b's at 8s and 47s
    assert {("a", 1), ("a", 2), ("b", 1), ("b", 2)} <= set(got)


def test_sessionize_stream_checkpoint_resume(spark, workdir):
    outdir = workdir / "out"

    def run_to_files():
        q = (
            stw.sessionize_stream(
                read_stream(spark, workdir / "in"), 10_000,
                user="k", ts="ts", type_col="v",
            )
            .writeStream.format("parquet")
            .option("path", str(outdir))
            .option("checkpointLocation", str(workdir / "ckpt"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    # session 1 spans the restart: events at 1s and 5s before, 8s after
    write_batch(workdir / "in", "001.parquet",
                [(1000, 1, "a", 1.0), (5000, 2, "a", 2.0)])
    run_to_files()
    # restart: the open-session aggregate AND the seq counter must
    # survive; 8s continues session 1, 60s opens session 2 (closing
    # session 1 with all three events), 500s closes session 2 by
    # watermark timeout
    write_batch(workdir / "in", "002.parquet",
                [(8000, 3, "a", 3.0), (60_000, 4, "a", 1.0),
                 (500_000, 5, "a", 1.0)])
    run_to_files()
    got = {r["session_seq"]: (r["session_start_ms"], r["session_end_ms"],
                              r["n_events"], r["n_event_types"])
           for r in spark.read.parquet(str(outdir)).collect()}
    assert got == {1: (1000, 8000, 3, 3), 2: (60_000, 60_000, 1, 1)}


def test_index_ingest_stream_matches_batch_postings(spark, workdir):
    import shutil as _sh

    from pyspark.sql import functions as F
    from siddhi_execution_unique_spark.functions.text import SPARK_TOKS
    from siddhi_execution_unique_spark.sources import load_table
    from siddhi_execution_unique_spark.streaming import index_ingest_stream
    from siddhi_execution_unique_spark.streaming.sources import stream_table

    src = "/root/testdata/sf0.001/documents.parquet"
    _sh.copy(src, workdir / "in" / "docs.parquet")
    schema = spark.read.parquet(src).schema
    stream = stream_table(spark, str(workdir / "in"), schema, ts=None)
    res = run_available(spark, index_ingest_stream(stream), "idx_sink", workdir / "ckpt")
    got = {(r["doc_id"], r["term"], r["tf"]) for r in res.collect()}

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    want = {(r["doc_id"], r["term"], r["tf"]) for r in
            docs.select("doc_id", F.explode(F.expr(SPARK_TOKS)).alias("term"))
            .groupBy("doc_id", "term").agg(F.count("*").alias("tf")).collect()}
    assert got == want and len(got) > 0


FUNNEL_SCHEMA = StructType([
    StructField("ts", TimestampType()),
    StructField("event_id", LongType()),
    StructField("user_id", StringType()),
    StructField("event_type", StringType()),
])


def write_funnel_batch(dirname, filename, rows):
    """rows: list of (ts_ms, event_id, user, event_type)"""
    table = pa.table({
        "ts": pa.array([r[0] * 1000 for r in rows], pa.timestamp("us")),
        "event_id": pa.array([r[1] for r in rows], pa.int64()),
        "user_id": pa.array([r[2] for r in rows], pa.string()),
        "event_type": pa.array([r[3] for r in rows], pa.string()),
    })
    pq.write_table(table, os.path.join(dirname, filename))
    stamp_arrival(dirname, filename)


def test_funnel_stream_matches_batch(spark, workdir):
    from siddhi_execution_unique_spark.functions import analytics as fana

    win = 60_000
    # user a completes the funnel across micro-batches; user b's click
    # precedes their view (never counts); user c times out on step 2
    rows1 = [(1000, 1, "a", "view"), (2000, 2, "b", "click"),
             (3000, 3, "b", "view"), (4000, 4, "c", "view")]
    rows2 = [(5000, 5, "a", "click"), (9000, 6, "a", "purchase"),
             (80_000, 7, "c", "click")]
    write_funnel_batch(workdir / "in", "001.parquet", rows1)
    write_funnel_batch(workdir / "in", "002.parquet", rows2)
    stream = (
        spark.readStream.schema(FUNNEL_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(workdir / "in"))
    )
    out = stw.funnel_stream(stream, step_window_ms=win)
    res = run_available(spark, out, "funnel_sink", workdir / "ckpt", mode="update")
    # last update per user = the user's final funnel state
    final = {}
    for r in res.collect():
        cur = final.get(r["user_id"])
        if cur is None or r["step_reached"] > cur["step_reached"]:
            final[r["user_id"]] = r
    batch = spark.createDataFrame(
        [(r[1], r[2], r[3], r[0]) for r in rows1 + rows2],
        "event_id long, user_id string, event_type string, ms long",
    ).selectExpr("event_id", "user_id", "event_type",
                 "timestamp_micros(ms * 1000) as ts")
    want = {r["user_id"]: r for r in fana.funnel(batch, step_window_ms=win).collect()}
    assert set(final) == set(want)
    for u in want:
        for c in ("step_reached", "t1_ms", "t2_ms", "t3_ms"):
            assert final[u][c] == want[u][c], (u, c, final[u][c], want[u][c])
    with pytest.raises(ValueError):
        stw.funnel_stream(stream, steps=("a", "b"))


def test_funnel_stream_checkpoint_resume(spark, workdir):
    outdir = workdir / "out"

    def run_once():
        out = stw.funnel_stream(
            spark.readStream.schema(FUNNEL_SCHEMA)
            .option("maxFilesPerTrigger", "1")
            .parquet(str(workdir / "in")),
            step_window_ms=60_000,
        )
        # update-mode stream → foreachBatch parquet append (the
        # update-capable sink that also supports checkpoint recovery)
        q = (
            out.writeStream.foreachBatch(
                lambda df, _id: df.write.mode("append").parquet(str(outdir))
            )
            .option("checkpointLocation", str(workdir / "ckpt"))
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    # the funnel spans the restart: view+click before, purchase after
    write_funnel_batch(workdir / "in", "001.parquet",
                       [(1000, 1, "a", "view"), (5000, 2, "a", "click")])
    run_once()
    write_funnel_batch(workdir / "in", "002.parquet",
                       [(9000, 3, "a", "purchase")])
    run_once()
    rows = sorted(spark.read.parquet(str(outdir)).collect(),
                  key=lambda r: r["step_reached"])
    # pre-restart state (t1, t2) must survive for step 3 to complete
    assert rows[-1]["step_reached"] == 3
    assert (rows[-1]["t1_ms"], rows[-1]["t2_ms"], rows[-1]["t3_ms"]) == (1000, 5000, 9000)


def test_countmin_stream_matches_batch_cells(spark, workdir):
    import shutil as _sh

    from siddhi_execution_unique_spark.functions.sketch import (
        countmin_heavy_hitters,  # noqa: F401 (same hash constants)
        CM_D,
        _CM_HASH_SPARK,
    )
    from pyspark.sql import functions as F
    from siddhi_execution_unique_spark.sources import load_table
    from siddhi_execution_unique_spark.streaming import countmin_stream
    from siddhi_execution_unique_spark.streaming.sources import stream_table

    src = "/root/testdata/sf0.001/events.parquet"
    events = load_table(spark, "/root/testdata/sf0.001", "events")
    # split the corpus into two files: the state store must merge
    # cell counts ACROSS micro-batches, not just within one
    half1 = events.filter(F.col("event_id") % 2 == 0)
    half2 = events.filter(F.col("event_id") % 2 == 1)
    half1.coalesce(1).write.mode("overwrite").parquet(str(workdir / "in"))
    res = run_available(
        spark, countmin_stream(
            stream_table(spark, str(workdir / "in"), events.schema, ts=None)
        ), "cm_sink", workdir / "ckpt", mode="complete",
    )
    half2.coalesce(1).write.mode("append").parquet(str(workdir / "in"))
    res = run_available(
        spark, countmin_stream(
            stream_table(spark, str(workdir / "in"), events.schema, ts=None)
        ), "cm_sink", workdir / "ckpt", mode="complete",
    )
    got = {(r["i"], r["cell"]): r["c"] for r in res.collect()}
    want = {
        (r["i"], r["cell"]): r["c"]
        for r in events.select(
            "user_id", F.explode(F.expr(f"sequence(0, {CM_D - 1})")).alias("i")
        )
        .select("i", F.expr(_CM_HASH_SPARK).alias("cell"))
        .groupBy("i", "cell").agg(F.count("*").alias("c")).collect()
    }
    assert got == want and len(got) > 0


def test_anomaly_stream_matches_batch_on_closed_hours(spark, workdir):
    from pyspark.sql import functions as F
    from siddhi_execution_unique_spark.functions.analytics import hourly_anomalies
    from siddhi_execution_unique_spark.sources import load_table
    from siddhi_execution_unique_spark.streaming import anomaly_stream
    from siddhi_execution_unique_spark.streaming.sources import stream_table

    events = load_table(spark, "/root/testdata/sf0.001", "events")
    # two event-time-ordered micro-batches: state must carry open
    # hours and history across the boundary (file sink: append-mode
    # stateful queries cannot recover into a memory sink)
    cut = events.approxQuantile("event_id", [0.5], 0)[0]
    half1 = events.filter(F.col("event_id") <= cut)
    half2 = events.filter(F.col("event_id") > cut)
    outdir = workdir / "out"

    def run_to_files():
        q = (
            anomaly_stream(
                stream_table(spark, str(workdir / "in"), events.schema, ts=None)
            )
            .writeStream.format("parquet")
            .option("path", str(outdir))
            .option("checkpointLocation", str(workdir / "ckpt"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    # event_id order == ts order in the synthetic corpus
    half1.coalesce(1).write.mode("overwrite").parquet(str(workdir / "in"))
    run_to_files()
    half2.coalesce(1).write.mode("append").parquet(str(workdir / "in"))
    run_to_files()
    got = {(r["user_id"], r["hb"]): (r["metric_q"], r["n_hist"], r["is_anomaly"])
           for r in spark.read.parquet(str(outdir)).collect()}
    batch = hourly_anomalies(events).collect()
    last_hb = {}
    for r in batch:
        last_hb[r["user_id"]] = max(last_hb.get(r["user_id"], -1), r["hb"])
    want = {(r["user_id"], r["hb"]): (r["metric_q"], r["n_hist"], r["is_anomaly"])
            for r in batch if r["hb"] != last_hb[r["user_id"]]}
    assert got == want and len(got) > 0


def test_trend_stream_matches_batch_sufficient_statistics(spark, workdir):
    from pyspark.sql import functions as F
    from siddhi_execution_unique_spark.functions.analytics import HOUR_MS, TREND_Q
    from siddhi_execution_unique_spark.sources import load_table
    from siddhi_execution_unique_spark.streaming import trend_stream
    from siddhi_execution_unique_spark.streaming.sources import stream_table

    events = load_table(spark, "/root/testdata/sf0.001", "events")
    t0 = events.agg(F.min(F.expr("unix_millis(ts)"))).collect()[0][0]
    half1 = events.filter(F.col("event_id") % 2 == 0)
    half2 = events.filter(F.col("event_id") % 2 == 1)
    half1.coalesce(1).write.mode("overwrite").parquet(str(workdir / "in"))
    run_available(
        spark, trend_stream(
            stream_table(spark, str(workdir / "in"), events.schema, ts=None), t0
        ), "tr_sink", workdir / "ckpt", mode="complete",
    )
    half2.coalesce(1).write.mode("append").parquet(str(workdir / "in"))
    res = run_available(
        spark, trend_stream(
            stream_table(spark, str(workdir / "in"), events.schema, ts=None), t0
        ), "tr_sink", workdir / "ckpt", mode="complete",
    )
    got = {r["event_type"]: (r["n"], r["st"], r["sq"], r["stq"], r["stt"])
           for r in res.collect()}
    want = {
        r["event_type"]: (r["n"], r["st"], r["sq"], r["stq"], r["stt"])
        for r in events.select(
            "event_type",
            F.expr(f"(unix_millis(ts) - {t0}) div {HOUR_MS}").alias("t"),
            F.expr(f"cast(floor(value * {TREND_Q}) as bigint)").alias("q"),
        ).groupBy("event_type").agg(
            F.count("*").alias("n"), F.sum("t").alias("st"),
            F.sum("q").alias("sq"),
            F.sum(F.expr("t * q")).alias("stq"),
            F.sum(F.expr("t * t")).alias("stt"),
        ).collect()
    }
    assert got == want and len(got) == 5


def test_length_batch_stream_partitioned_state_groups(spark, workdir):
    # r08: partition_attr shards the fire chain — one state group per
    # value, each with its own forming batch and batch_seq. n=2 on
    # key=v, partitions p/q interleaved.
    write_batch(workdir / "in", "001.parquet",
                [(1000, 1, "p", 1.0), (2000, 2, "q", 9.0),
                 (3000, 3, "p", 2.0), (4000, 4, "q", 8.0),
                 (5000, 5, "p", 3.0)])
    out = stw.length_batch_stream(
        read_stream(spark, workdir / "in"), "v", 2, ts="ts",
        partition_attr="k",
    )
    res = run_available(spark, out, "plb_sink", workdir / "ckpt")
    rows = res.collect()
    cur = {(r["k"], r["batch_seq"], r["event_id"])
           for r in rows if r["channel"] == "current"}
    # p fires {1,3} when v=2.0 (2nd distinct) arrives; q fires {2,4}
    assert cur == {("p", 0, 1), ("p", 0, 3), ("q", 0, 2), ("q", 0, 4)}
    # event 5 is p's forming batch — never fired
    assert not any(r["event_id"] == 5 for r in rows)


def test_time_length_batch_stream_partitioned_anchors(spark, workdir):
    # r08: each instance anchors its boundary clock at ITS OWN first
    # event. T=10s, N=3: p anchors at 1s (boundary 11s), q at 6s
    # (boundary 16s); events crossing each instance's own boundary
    # time-fire that instance only.
    write_batch(workdir / "in", "001.parquet",
                [(1000, 1, "p", 1.0), (6000, 2, "q", 1.0),
                 (12000, 3, "p", 2.0), (15000, 4, "q", 2.0),
                 (17000, 5, "q", 3.0), (30000, 9, "p", 9.0)])
    out = stw.time_length_batch_stream(
        read_stream(spark, workdir / "in"), "v", 10_000, 3, ts="ts",
        watermark_delay="1 second", partition_attr="k",
    )
    res = run_available(spark, out, "ptlb_sink", workdir / "ckpt")
    rows = res.collect()
    cur = {(r["k"], r["batch_seq"], r["event_id"], r["fired_at_ms"],
            r["fire_reason"])
           for r in rows if r["channel"] == "current"}
    # p: {1} time-fires at its boundary 11000 (crossed by event 3 at
    # 12000); q: {2,4} ... q's boundary is 16000, crossed by event 5
    # at 17000 -> time fire {2,4} at 16000
    assert ("p", 0, 1, 11000, "time") in cur
    assert ("q", 0, 2, 16000, "time") in cur and ("q", 0, 4, 16000, "time") in cur
    # p's second batch {3} fires at its own boundary 21000 (crossed by
    # event 9 at 30000)
    assert ("p", 1, 3, 21000, "time") in cur


def test_run_app_streaming_partitioned_length_batch(spark, workdir):
    # the SiddhiQL streaming dispatch shards the lengthBatch twin's
    # state by the partition attribute
    from pyspark.sql import functions as F
    from siddhi_execution_unique_spark import siddhiql as sq

    write_batch(workdir / "in", "001.parquet",
                [(1000, 1, "p", 1.0), (2000, 2, "q", 9.0),
                 (3000, 3, "p", 2.0), (4000, 4, "q", 8.0)])
    app = """
    from events#window.unique:lengthBatch(v, 2)
    select k, event_id, batch_seq
    insert into out;
    """
    wrapped = ("partition with (k of events) begin " + app + " end")
    out = sq.run_app_streaming(
        wrapped, {"events": read_stream(spark, workdir / "in")}
    )["out"]
    assert out.isStreaming
    res = run_available(spark, out, "sq_plb_sink", workdir / "ckpt")
    got = {(r["k"], r["batch_seq"], r["event_id"]) for r in res.collect()}
    assert got == {("p", 0, 1), ("p", 0, 3), ("q", 0, 2), ("q", 0, 4)}


def test_external_time_batch_stream_partitioned_anchors(spark, workdir):
    # r08: partition_attr shards the event-time batch clock — each
    # instance anchors at its own first event. T=10s: p anchors at 1s
    # ([1,11)), q at 6s ([6,16)); each flushes when an event crosses
    # ITS boundary.
    write_batch(workdir / "in", "001.parquet",
                [(1000, 1, "p", 1.0), (6000, 2, "q", 1.0),
                 (12000, 3, "p", 2.0), (17000, 4, "q", 2.0)])
    out = stw.external_time_batch_stream(
        read_stream(spark, workdir / "in"), "v", 10_000, ts="ts",
        partition_attr="k",
    )
    res = run_available(spark, out, "petb_sink", workdir / "ckpt")
    rows = res.collect()
    got = {(r["k"], r["event_id"], r["batch_start_ms"]) for r in rows}
    # p's batch [1000,11000) flushes at event 3 (12000); q's batch
    # [6000,16000) flushes at event 4 (17000); the two forming batches
    # (events 3, 4) never flush without time.out
    assert got == {("p", 1, 1000), ("q", 2, 6000)}


def test_interval_join_outer_emission_boundary(spark, workdir):
    """Pins the left-outer stream-stream join's eviction rule: an
    unmatched left row null-emits iff ``l_ts + within <= wm`` with
    ``wm = min(side maxima) - delay`` (min watermark policy). Also
    pins the far-from-epoch requirement: timestamps must sit beyond
    ``delay + within`` of the Unix epoch or the engine's state
    cleanup suppresses eviction entirely (observed on Spark 4.1;
    the real corpus is 2024-epoch so this never bites)."""
    import pandas as pd

    from pyspark.sql import functions as F

    B = 1_700_000_000_000  # 2023-11-14, far from epoch
    delay_ms, within_ms = 7_200_000, 1_800_000
    max_ts = B + 10_800_000
    wm = max_ts - delay_ms

    def run(click_ts, tag):
        indir = str(workdir / f"in_{tag}")
        pdf = pd.DataFrame(
            [
                (1, click_ts, 1, "click"),
                (2, max_ts, 2, "click"),
                (3, max_ts, 3, "purchase"),
            ],
            columns=["event_id", "ts_ms", "user_id", "event_type"],
        )
        (
            spark.createDataFrame(pdf)
            .withColumn("ts", F.timestamp_millis("ts_ms"))
            .drop("ts_ms")
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(indir)
        )
        schema = spark.read.parquet(indir).schema
        sdf = spark.readStream.schema(schema).parquet(indir)
        out = stw.interval_join_stream(
            sdf, "click", "purchase", within_ms, how="left_outer"
        )
        outdir = str(workdir / f"out_{tag}")
        q = (
            out.writeStream.format("parquet")
            .option("path", outdir)
            .option("checkpointLocation", str(workdir / f"ckpt_{tag}"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        res = spark.read.parquet(outdir).toPandas()
        return set(res.left_event_id) if len(res) else set()

    # exactly at the horizon: l_ts + within == wm -> emitted
    assert 1 in run(wm - within_ms, "at")
    # one ms past: horizon still open -> held in state, not emitted
    assert 1 not in run(wm - within_ms + 1, "past")


def test_interval_join_stream_validation(spark, workdir):
    import pandas as pd

    from pyspark.sql import functions as F

    pdf = pd.DataFrame(
        [(1, 0, 1, "click")],
        columns=["event_id", "ts_ms", "user_id", "event_type"],
    )
    df = (
        spark.createDataFrame(pdf)
        .withColumn("ts", F.timestamp_millis("ts_ms"))
        .drop("ts_ms")
    )
    with pytest.raises(ValueError, match="how"):
        stw.interval_join_stream(df, "click", "purchase", 1000, how="full")


def test_interval_join_stream_subsecond_within(spark, workdir):
    """ADVICE r09: a sub-second ``within`` (legal per parse_time_ms)
    must keep millisecond semantics — the old ``w_ms // 1000``
    SECONDS interval truncated 500 ms to INTERVAL 0 SECONDS, making
    the range predicate unsatisfiable and the join silently empty."""
    import pandas as pd

    from pyspark.sql import functions as F

    B = 1_700_000_000_000
    pdf = pd.DataFrame(
        [
            (1, B, 1, "click"),
            (2, B + 400, 1, "purchase"),   # 400 ms gap: inside 500 ms
            (3, B + 5000, 2, "click"),
            (4, B + 5600, 2, "purchase"),  # 600 ms gap: outside
        ],
        columns=["event_id", "ts_ms", "user_id", "event_type"],
    )
    indir = str(workdir / "in")
    (
        spark.createDataFrame(pdf)
        .withColumn("ts", F.timestamp_millis("ts_ms"))
        .drop("ts_ms")
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(indir)
    )
    schema = spark.read.parquet(indir).schema
    sdf = spark.readStream.schema(schema).parquet(indir)
    out = stw.interval_join_stream(sdf, "click", "purchase", "500 ms")
    outdir = str(workdir / "out")
    q = (
        out.writeStream.format("parquet")
        .option("path", outdir)
        .option("checkpointLocation", str(workdir / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    res = spark.read.parquet(outdir).toPandas()
    assert set(zip(res.left_event_id, res.right_event_id)) == {(1, 2)}
    assert set(res.gap_ms) == {400}


def test_quantile_sample_stream_merges_across_batches(spark, workdir):
    """The bottom-k sample must MERGE across micro-batches: replaying
    the events table as 4 files (4 batches) must land on the exact
    batch-operator row per type — the mergeability claim, not just
    single-batch parity."""
    from pyspark.sql import functions as F

    from siddhi_execution_unique_spark.functions.sketch import (
        bottomk_sample_quantiles,
    )
    from siddhi_execution_unique_spark.sources import load_table
    from siddhi_execution_unique_spark.streaming.sources import stream_table

    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    indir = workdir / "in"
    for part in range(4):
        (
            ev.filter(F.col("event_id") % 4 == part)
            .coalesce(1)
            .write.mode("append")
            .parquet(str(indir))
        )
    schema = spark.read.parquet(str(indir)).schema
    sdf = stream_table(spark, str(indir), schema)  # 1 file per trigger
    out = stw.quantile_sample_stream(sdf)
    q = (
        out.writeStream.format("memory")
        .queryName("qsk_merge_sink")
        .outputMode("update")
        .option("checkpointLocation", str(workdir / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = spark.table("qsk_merge_sink").toPandas()
    # keep the LAST update per type (cumulative row after batch 4)
    final = got.groupby("event_type").tail(1).reset_index(drop=True)
    want = bottomk_sample_quantiles(ev).toPandas()
    f = final.sort_values("event_type").reset_index(drop=True)[want.columns]
    w = want.sort_values("event_type").reset_index(drop=True)
    assert f.equals(w), f"\n{f}\nvs\n{w}"


def test_session_native_stream_emission_boundary(spark, workdir):
    """Pins the native streaming session_window emission rule: a
    session emits (append mode) iff session_end <= watermark with
    watermark = max(ts) - delay, inclusive at equality."""
    import pandas as pd

    from pyspark.sql import functions as F

    B = 1_700_000_000_000
    GAP, DELAY = 1_800_000, 7_200_000
    M = B + 20_000_000
    wm = M - DELAY

    def run(delta, tag):
        ts0 = wm - GAP + delta  # single-event session end = wm + delta
        indir = str(workdir / f"in_{tag}")
        pdf = pd.DataFrame(
            [(1, ts0, 1, "click"), (2, M, 2, "click")],
            columns=["event_id", "ts_ms", "user_id", "event_type"],
        )
        (
            spark.createDataFrame(pdf)
            .withColumn("ts", F.timestamp_millis("ts_ms"))
            .drop("ts_ms")
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(indir)
        )
        schema = spark.read.parquet(indir).schema
        sdf = spark.readStream.schema(schema).parquet(indir)
        out = stw.session_window_native_stream(sdf, GAP)
        outdir = str(workdir / f"out_{tag}")
        q = (
            out.writeStream.format("parquet")
            .option("path", outdir)
            .option("checkpointLocation", str(workdir / f"ckpt_{tag}"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        res = spark.read.parquet(outdir).toPandas()
        return 1 in set(res.user_id) if len(res) else False

    assert run(0, "at")        # end == wm -> emitted
    assert not run(1, "past")  # one ms later -> held open


def test_python_stream_sink_publishes_per_batch(spark, workdir):
    """The evtlog DataSourceStreamWriter (sources/eventlog.py) stages
    each micro-batch's task files and publishes them atomically in
    commit() under part-<batchId>-<task> names. Two input files at
    maxFilesPerTrigger=1 -> two batch ids -> two published name
    prefixes, an empty staging dir, and the dedup chain's cross-batch
    state intact through the custom sink."""
    import pyarrow as pa
    import pyarrow.parquet as pq_

    from pyspark.sql import functions as F

    from pyspark.sql import functions as F

    from siddhi_execution_unique_spark import streaming as stw
    from siddhi_execution_unique_spark.sources.eventlog import register_eventlog
    from siddhi_execution_unique_spark.streaming.sources import stream_table

    register_eventlog(spark)
    indir = str(workdir / "in")  # pre-created by the fixture

    def evfile(name, rows):
        pq_.write_table(pa.table({
            "ts": pa.array([r[0] * 1000 for r in rows], pa.timestamp("us")),
            "event_id": pa.array([r[1] for r in rows], pa.int64()),
            "user_id": pa.array([r[2] for r in rows], pa.int64()),
            "event_type": pa.array([r[3] for r in rows], pa.string()),
            "value": pa.array([r[4] for r in rows], pa.float64()),
            "props": pa.array([r[5] for r in rows], pa.string()),
        }), os.path.join(indir, name))
        stamp_arrival(indir, name)

    # interval=100ms chain: user 7 keeps 0 and 120 (50 dropped, anchor
    # stays at the KEPT event); user 8 keeps 200 and 350
    evfile("a.parquet", [(0, 1, 7, "c", 1.0, "{}"), (50, 2, 7, "c", 2.0, "{}"),
                         (200, 3, 8, "v", 3.0, '{"x":"|"}')])
    evfile("b.parquet", [(120, 4, 7, "c", 4.0, "{}"),
                         (350, 5, 8, "v", 5.0, "{}")])
    schema = spark.read.parquet(indir).schema
    sdf = stream_table(spark, indir, schema)
    out = stw.deduplicate_exact_stream(sdf, "user_id", 100, ts="ts").select(
        "event_id", F.unix_millis("ts").alias("ts_ms"),
        "user_id", "event_type", "value", "props",
    )
    outdir = str(workdir / "out")
    q = (
        out.writeStream.format("evtlog")
        .option("path", outdir)
        .option("checkpointLocation", str(workdir / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    published = sorted(f for f in os.listdir(outdir) if f.endswith(".evt"))
    batches = {f.split("-")[1] for f in published}
    assert batches == {"00000000", "00000001"}, published
    staging = os.path.join(outdir, "_staging")
    assert not os.path.exists(staging) or not os.listdir(staging)
    back = spark.read.format("evtlog").option("path", outdir).load()
    got = sorted((r["event_id"], r["ts_ms"], r["props"]) for r in back.collect())
    assert got == [(1, 0, "{}"), (3, 200, '{"x":"|"}'),
                   (4, 120, "{}"), (5, 350, "{}")]


def test_python_stream_sink_replayed_batch_with_replan_is_exactly_once(workdir):
    """ADVICE r09: the stream sink's published names derive from the
    TASK PARTITION ID carried in the commit message, and commit()
    sweeps same-batch stragglers — so a checkpoint-replayed batch that
    Spark replans with a different task count/order replaces the old
    plan's files instead of duplicating rows alongside them. Driven
    directly through the writer's write/commit contract."""
    import os

    from siddhi_execution_unique_spark.sources.eventlog import (
        _EventLogStreamWriter,
        _EvtCommit,
    )

    outdir = str(workdir / "out")
    os.makedirs(outdir, exist_ok=True)
    w = _EventLogStreamWriter({"path": outdir})

    def stage(rows):
        import json as _json
        import uuid as _uuid

        staging = os.path.join(outdir, "_staging")
        os.makedirs(staging, exist_ok=True)
        p = os.path.join(staging, f"{_uuid.uuid4().hex}.tmp")
        with open(p, "w", encoding="utf-8") as fh:
            for r in rows:
                fh.write(_json.dumps(r) + "\n")
        return p

    # original plan for batch 5: three tasks, pids 0/1/2
    msgs = [_EvtCommit(stage([[i, 0, i, "c", 1.0, "{}"]]), pid=i) for i in range(3)]
    w.commit(msgs, batchId=5)
    first = sorted(f for f in os.listdir(outdir) if f.endswith(".evt"))
    assert first == [f"part-00000005-{i:05d}.evt" for i in range(3)]

    # replayed batch 5, replanned into ONE task with all three rows
    replay = [_EvtCommit(stage([[i, 0, i, "c", 1.0, "{}"] for i in range(3)]), pid=0)]
    w.commit(replay, batchId=5)
    second = sorted(f for f in os.listdir(outdir) if f.endswith(".evt"))
    assert second == ["part-00000005-00000.evt"], second  # old plan swept
    rows = open(os.path.join(outdir, second[0]), encoding="utf-8").read().splitlines()
    assert len(rows) == 3  # same payload once, not duplicated


@pytest.mark.parametrize("mode", ["simple", "partitioned"])
def test_python_stream_source_offsets_survive_restart(spark, workdir, mode):
    """Both evtlog streaming readers' offsets (sorted-file position)
    persist through the checkpoint — the driver-prefetching
    SimpleDataSourceStreamReader and the executor-side partitioned
    DataSourceStreamReader: run 1 consumes the initial files; new
    files land; run 2 on the SAME checkpoint must emit only the new
    files' rows (complete-mode state then covers both) — proving
    offset round-trip through recovery rather than re-reading from
    scratch."""
    import json as _json

    from pyspark.sql import functions as F

    from siddhi_execution_unique_spark.sources.eventlog import (
        EVENTLOG_SCHEMA,
        register_eventlog,
    )

    register_eventlog(spark)
    indir = str(workdir / "in")

    def evt(name, rows):
        with open(os.path.join(indir, name), "w") as fh:
            for r in rows:
                fh.write(_json.dumps(list(r)) + "\n")

    evt("a.evt", [(1, 100, 7, "c", 1.0, "{}"), (2, 200, 8, "v", 2.0, "{}")])

    def run_once():
        sdf = (spark.readStream.format("evtlog").schema(EVENTLOG_SCHEMA)
               .option("path", indir).option("reader", mode).load())
        agg = sdf.groupBy("user_id").agg(
            F.max("ts_ms").alias("last_ms"), F.count("*").alias("n"))
        q = (agg.writeStream.format("memory").queryName("pysrc_restart")
             .outputMode("complete")
             .option("checkpointLocation", str(workdir / "ckpt"))
             .trigger(availableNow=True).start())
        q.awaitTermination()
        return {r["user_id"]: (r["last_ms"], r["n"])
                for r in spark.table("pysrc_restart").collect()}

    assert run_once() == {7: (100, 1), 8: (200, 1)}
    # restart with NO new files: the committed offset is already at
    # the end, so no batch plans and the fresh memory sink stays
    # empty — nothing was re-read (a from-scratch re-read would have
    # re-emitted both users)
    assert run_once() == {}
    evt("b.evt", [(3, 300, 7, "c", 3.0, "{}")])
    # restart with one new file: only b.evt is consumed; the agg
    # state recovers from the checkpoint, so user 7's count goes
    # 1 -> 2 (a re-read from scratch would give 3)
    assert run_once() == {7: (300, 2), 8: (200, 1)}


# ------------------------------------------------- 1M-row state soak

@pytest.mark.slow
def test_streaming_soak_one_million_rows(spark, tmp_path):
    """VERDICT r10 item 6: the heaviest stateful twins at 1M rows.
    Pins (a) exact emission counts under a deterministic arrival
    order (10 ts-sorted single-partition files, one per trigger) and
    (b) PEAK STATE SIZE from the query progress metrics — the scale
    claim measured, not argued: lengthBatch's chain state is ONE state
    row (a bounded forming-map JSON) no matter how many rows stream
    through; time_window's state is exactly one row per live key.
    Wall-time bound is deliberately loose (shared CI hosts); the
    measured numbers live in BASELINE.md."""
    import time as _time

    import numpy as np

    from pyspark.sql import functions as F

    n_rows, n_keys, n, files = 1_000_000, 1_000, 100, 10
    base_ms = 1_000_000  # keep ts=0 off the initial-watermark edge
    indir = tmp_path / "soak_in"
    indir.mkdir()
    per = n_rows // files
    for f in range(files):
        ids = np.arange(f * per, (f + 1) * per, dtype=np.int64)
        t = pa.table({
            "ts": pa.array((base_ms + ids) * 1000, pa.timestamp("us", tz="UTC")),
            "event_id": pa.array(ids, pa.int64()),
            "k": pa.array((ids % n_keys).astype(str), pa.string()),
            "v": pa.array((ids % 7).astype(float), pa.float64()),
        })
        pq.write_table(t, str(indir / f"{f:03d}.parquet"))
        stamp_arrival(str(indir), f"{f:03d}.parquet")
    schema = spark.read.parquet(str(indir)).schema

    def run(name, build):
        t0 = _time.perf_counter()
        src = (spark.readStream.schema(schema)
               .option("maxFilesPerTrigger", "1").parquet(str(indir)))
        sink = str(tmp_path / f"soak_out_{name}")
        q = (build(src).writeStream.format("parquet").option("path", sink)
             .option("checkpointLocation", str(tmp_path / f"soak_ckpt_{name}"))
             .trigger(availableNow=True).start())
        q.awaitTermination(600)
        states = [so for p in (q.recentProgress or []) if p
                  for so in (p.get("stateOperators") or [])]
        res = spark.read.parquet(sink)
        has_channel = "channel" in res.columns
        return {
            "wall_s": _time.perf_counter() - t0,
            "total": res.count(),
            "current": (res.filter("channel='current'").count()
                        if has_channel else None),
            "expired": (res.filter("channel='expired'").count()
                        if has_channel else None),
            "max_seq": (res.agg(F.max("batch_seq")).collect()[0][0]
                        if "batch_seq" in res.columns else None),
            "peak_state_rows": max(
                (s.get("numRowsTotal", 0) for s in states), default=0),
        }

    # lengthBatch(100): keys cycle 0..999, so every 100 consecutive
    # arrivals are distinct -> exactly 10,000 fires; each fire emits
    # the previous batch on expired (the first has none)
    lb = run("lb", lambda s: stw.length_batch_stream(s, "k", n, ts="ts"))
    assert lb["current"] == n_rows
    assert lb["expired"] == n_rows - n
    assert lb["max_seq"] == n_rows // n - 1
    assert lb["peak_state_rows"] == 1  # the single-instance chain: 1 state row
    assert lb["wall_s"] < 300

    # time(10s): each key re-arrives after 1s, inside the window, so
    # every event is replaced (expired) except each key's final one;
    # the final retained events are all inside their windows at the
    # final watermark, so exactly n_keys rows never expire
    tw = run("tw", lambda s: stw.time_window_stream(
        s, "k", 10_000, ts="ts", watermark_delay="1 second"))
    assert tw["current"] == n_rows
    assert tw["expired"] == n_rows - n_keys
    assert tw["peak_state_rows"] == n_keys  # one state row per live key
    assert tw["wall_s"] < 300

    # deduplicate(60s), the keyed _drain_sorted twin at volume: each
    # key re-arrives every 1,000 ms, and the anchored chain keeps
    # arrival m iff 1000*m jumps the last KEPT anchor by >60,000 ms
    # -> m = 0, 61, 122, ..., 976: exactly 17 kept per key. Any
    # chunk-straddle order break flips chain decisions and changes
    # the count (the bug class the sf1 sweep caught at 915,720 rows).
    dd = run("dd", lambda s: stw.deduplicate_exact_stream(
        s, "k", 60_000, ts="ts"))
    assert dd["total"] == 17 * n_keys
    assert dd["peak_state_rows"] == n_keys  # one 8-byte anchor per key
    assert dd["wall_s"] < 300


def test_stream_work_dirs_reaped_lazily():
    """r14: streaming certifications return LAZY sink reads; the temp
    work dirs must survive the entry's own return (the result is
    consumed after) and be reaped by later invocations, bounding the
    leak to a handful of directories."""
    import os

    import __spark_entry__ as entry_mod

    created = [entry_mod._stream_work("sgraft_reap_test_") for _ in range(8)]
    alive = [d for d in created if os.path.isdir(d)]
    # the reaper keeps at most 4 prior dirs plus the one just created
    assert len(alive) <= 5
    assert created[-1] in alive  # the current invocation's dir survives
    while entry_mod._STREAM_WORK_DIRS:
        import shutil
        shutil.rmtree(entry_mod._STREAM_WORK_DIRS.pop(), ignore_errors=True)


# Output types of every applyInPandasWithState twin, pinned.
# pyspark's applyInPandasWithState serializer pads each Arrow batch
# with an all-NA frame whenever a batch has more group states than
# output rows, and concatenates it with the rows (serializers.py,
# construct_record_batch); pandas warns that the dtypes of that concat
# will change. Each twin below replays two micro-batches; in the second
# some groups with state emit nothing, so the padded path runs, and the
# sink must keep the twin's declared types and the pinned rows.

_T0 = 1_704_067_200_000  # 2024-01-01 00:00 UTC
_MIN = 60_000
_HOUR = 60 * _MIN

# (event_id, minute, user_id, event_type, value)
_TYPED_EVENTS = (
    [(1, 0, 1, "view", 1.0), (2, 5, 2, "view", 2.0), (3, 10, 1, "click", 3.0),
     (4, 15, 3, "click", 4.0), (5, 20, 2, "click", 5.0),
     (6, 25, 1, "purchase", 6.0), (10, 70, 2, "view", 10.0)],
    [(7, 30, 1, "view", 7.0), (8, 130, 2, "purchase", 8.0),
     (9, 135, 4, "view", 9.0), (11, 190, 2, "click", 11.0)],
)
_EVENT_COLUMNS = ["event_id", "ts", "user_id", "event_type", "value", "props"]
_TYPED_DOCS = (
    [(1, "the quick brown fox jumps over the lazy dog"),
     (2, "lorem ipsum dolor sit amet consectetur")],
    [(3, "the quick brown fox jumps over the lazy dog"),
     (4, "a completely different sentence about cats")],
)


def _with_ref(s):
    from pyspark.sql import functions as F

    return s.withColumn("is_ref", F.col("event_type") == "click")


# twin -> (build(stream), sink output mode)
_TYPED_TWINS = {
    "deduplicate_exact_stream": (
        lambda s: stw.deduplicate_exact_stream(s, "user_id", _HOUR), "append"),
    "time_window_stream": (
        lambda s: stw.time_window_stream(s, "user_id", _HOUR), "append"),
    "length_batch_stream": (
        lambda s: stw.length_batch_stream(s, "user_id", 2), "append"),
    "length_window_stream": (
        lambda s: stw.length_window_stream(s, "user_id", 2), "append"),
    "time_length_batch_stream": (
        lambda s: stw.time_length_batch_stream(s, "user_id", _HOUR, 3),
        "append"),
    "external_time_batch_stream": (
        lambda s: stw.external_time_batch_stream(s, "user_id", _HOUR),
        "append"),
    "asof_stream": (
        lambda s: stw.asof_stream(_with_ref(s), "user_id", "is_ref"),
        "append"),
    "kmv_stream": (lambda s: stw.kmv_stream(s, k=2), "update"),
    "range_agg_stream": (
        lambda s: stw.range_agg_stream(
            _with_ref(s), "user_id", "is_ref", _HOUR, value_col="value"),
        "append"),
    "sessionize_stream": (
        lambda s: stw.sessionize_stream(s, 30 * _MIN), "append"),
    "lsh_ingest_stream": (stw.lsh_ingest_stream, "append"),
    "funnel_stream": (
        lambda s: stw.funnel_stream(s, step_window_ms=_HOUR), "update"),
    "anomaly_stream": (
        lambda s: stw.anomaly_stream(s, cohort=10, hist=2, min_n=2),
        "append"),
    "quantile_sample_stream": (
        lambda s: stw.quantile_sample_stream(s, k=2), "update"),
    # the processing-time twins: a processing-time timeout always asks
    # for another batch, so their queries never end by themselves, and
    # ``at_ms`` is the wall clock at emission
    "time_window_proc_stream": (
        lambda s: stw.time_window_proc_stream(s, "user_id", _HOUR),
        "update"),
    "deduplicate_proc_stream": (
        lambda s: stw.deduplicate_proc_stream(s, "user_id", _HOUR),
        "append"),
}

# rows as the sink holds them, sorted; a twin whose output starts with
# the six input event columns has each row's first six values written
# as its event_id alone
_TYPED_EXPECTED = {
    "anomaly_stream": [(2, 473354, 8000, 2, 0)],
    "asof_stream": [(1, False, -1, -1), (2, False, -1, -1),
        (6, False, 1704067800000, 3), (7, False, 1704067800000, 3),
        (8, False, 1704068400000, 5), (9, False, -1, -1),
        (10, False, 1704068400000, 5)],
    "deduplicate_exact_stream": [(1,), (2,), (4,), (9,), (10,), (11,)],
    "deduplicate_proc_stream": [(1,), (2,), (4,), (9,)],
    "external_time_batch_stream": [
        (4, 1704067200000, 1704070800000, "boundary"),
        (5, 1704067200000, 1704070800000, "boundary"),
        (6, 1704067200000, 1704070800000, "boundary"),
        (7, 1704070800000, 1704074400000, "boundary"),
        (8, 1704074400000, 1704078000000, "boundary"),
        (9, 1704074400000, 1704078000000, "boundary"),
        (10, 1704070800000, 1704074400000, "boundary")],
    "funnel_stream": [(1, 3, 1704067200000, 1704067800000, 1704068700000),
        (2, 2, 1704067500000, 1704068400000, -1),
        (4, 1, 1704075300000, -1, -1)],
    "kmv_stream": [("click", 2, 6.303), ("click", 2, 6.303),
        ("purchase", 1, 1.0), ("purchase", 2, 1.28), ("view", 2, 1.28),
        ("view", 2, 2.803)],
    "length_batch_stream": [(1, 0, "current"), (1, 0, "expired"),
        (2, 0, "current"), (2, 0, "expired"), (3, 1, "current"),
        (3, 1, "expired"), (4, 1, "current"), (4, 1, "expired"),
        (5, 2, "current"), (5, 2, "expired"), (6, 2, "current"),
        (6, 2, "expired"), (7, 3, "current"), (7, 3, "expired"),
        (8, 4, "current"), (9, 4, "current"), (10, 3, "current"),
        (10, 3, "expired")],
    "length_window_stream": [(1, "current"), (1, "expired"), (2, "current"),
        (2, "expired"), (3, "current"), (3, "expired"), (4, "current"),
        (4, "expired"), (5, "current"), (5, "expired"), (6, "current"),
        (6, "expired"), (7, "current"), (7, "expired"), (8, "current"),
        (8, "expired"), (9, "current"), (10, "current"), (10, "expired"),
        (11, "current")],
    "lsh_ingest_stream": [(3, "0:114900759:66377743:16392026", 1),
        (3, "1:91666261:88883692:199436981", 1),
        (3, "2:261842119:104847848:57313582", 1),
        (3, "3:60201637:79658165:32519642", 1)],
    "quantile_sample_stream": [("click", 2, 3.0, 5.0, 5.0),
        ("click", 2, 3.0, 5.0, 5.0), ("purchase", 1, 6.0, 6.0, 6.0),
        ("purchase", 2, 6.0, 8.0, 8.0), ("view", 2, 1.0, 2.0, 2.0),
        ("view", 2, 1.0, 9.0, 9.0)],
    "range_agg_stream": [(1, False, 0, 0.0), (2, False, 0, 0.0),
        (6, False, 1, 3.0), (7, False, 1, 3.0), (8, False, 0, 0.0),
        (9, False, 0, 0.0), (10, False, 1, 5.0)],
    "sessionize_stream": [(1, 1, 1704067200000, 1704069000000, 4, 3),
        (2, 1, 1704067500000, 1704068400000, 2, 2),
        (2, 2, 1704071400000, 1704071400000, 1, 1),
        (2, 3, 1704075000000, 1704075000000, 1, 1),
        (3, 1, 1704068100000, 1704068100000, 1, 1),
        (4, 1, 1704075300000, 1704075300000, 1, 1)],
    "time_length_batch_stream": [(2, 0, 1704068100000, "length", "current"),
        (2, 0, 1704074400000, "time", "expired"),
        (3, 0, 1704068100000, "length", "current"),
        (3, 0, 1704074400000, "time", "expired"),
        (4, 0, 1704068100000, "length", "current"),
        (4, 0, 1704074400000, "time", "expired"),
        (7, 1, 1704074400000, "time", "current"),
        (7, 1, 1704078000000, "time", "expired"),
        (8, 2, 1704078000000, "time", "current"),
        (9, 2, 1704078000000, "time", "current"),
        (10, 1, 1704074400000, "time", "current"),
        (10, 1, 1704078000000, "time", "expired")],
    "time_window_proc_stream": [(1, "current"), (1, "expired"), (2, "current"),
        (2, "expired"), (3, "current"), (3, "expired"), (4, "current"),
        (5, "current"), (5, "expired"), (6, "current"), (6, "expired"),
        (7, "current"), (8, "current"), (8, "expired"), (9, "current"),
        (10, "current"), (10, "expired"), (11, "current")],
    "time_window_stream": [(1, "current"), (1, "expired"), (2, "current"),
        (2, "expired"), (3, "current"), (3, "expired"), (4, "current"),
        (4, "expired"), (5, "current"), (5, "expired"), (6, "current"),
        (6, "expired"), (7, "current"), (7, "expired"), (8, "current"),
        (8, "expired"), (9, "current"), (10, "current"), (10, "expired"),
        (11, "current")],
}


def test_typed_twins_cover_every_apply_in_pandas_with_state_twin():
    import ast

    with open(stw.__file__) as f:
        tree = ast.parse(f.read())
    fns = [fn for fn in tree.body if isinstance(fn, ast.FunctionDef)]

    def uses(fn, names):
        # an applyInPandasWithState call, or a call of a private driver
        return any(
            (isinstance(n, ast.Attribute) and n.attr == "applyInPandasWithState")
            or (isinstance(n, ast.Call) and isinstance(n.func, ast.Name)
                and n.func.id in names)
            for n in ast.walk(fn))

    drivers = {fn.name for fn in fns
               if fn.name.startswith("_") and uses(fn, ())}
    twins = {fn.name for fn in fns
             if not fn.name.startswith("_") and uses(fn, drivers)}
    assert twins == set(_TYPED_TWINS)


def _write_typed_batch(indir, name, rows, docs):
    if docs:
        table = pa.table({
            "doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "text": pa.array([r[1] for r in rows], pa.string()),
        })
    else:
        table = pa.table({
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([(_T0 + r[1] * _MIN) * 1000 for r in rows],
                           pa.timestamp("us", tz="UTC")),
            "user_id": pa.array([r[2] for r in rows], pa.int64()),
            "event_type": pa.array([r[3] for r in rows], pa.string()),
            "value": pa.array([r[4] for r in rows], pa.float64()),
            "props": pa.array(["{}"] * len(rows), pa.string()),
        })
    pq.write_table(table, os.path.join(indir, name))
    stamp_arrival(indir, name)


@pytest.mark.parametrize("twin", sorted(_TYPED_TWINS))
def test_apply_in_pandas_twin_output_types_pinned(spark, workdir, twin):
    from pyspark.sql import functions as F
    from pyspark.sql.types import TimestampType

    build, mode = _TYPED_TWINS[twin]
    docs = twin == "lsh_ingest_stream"
    batches = _TYPED_DOCS if docs else _TYPED_EVENTS
    indir = str(workdir / "in")
    for i, rows in enumerate(batches):
        _write_typed_batch(indir, f"{i:03d}.parquet", rows, docs)
    schema = spark.read.parquet(indir).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(indir)
    )
    out = build(stream)
    sink = f"typed_{twin}"
    proc = twin.endswith("_proc_stream")
    if proc:
        # processAllAvailable never returns either; the sink is whole
        # once both files' rows are in (no timer fires within the hour)
        q = (
            out.writeStream.format("memory")
            .queryName(sink)
            .outputMode(mode)
            .option("checkpointLocation", str(workdir / "ckpt"))
            .trigger(processingTime="500 milliseconds")
            .start()
        )
        n_rows = sum(len(rows) for rows in batches)
        deadline = time.time() + 120
        try:
            while sum(p["numInputRows"] for p in q.recentProgress) < n_rows:
                assert time.time() < deadline, q.recentProgress
                time.sleep(0.2)
        finally:
            q.stop()
        res = spark.table(sink)
    else:
        res = run_available(spark, out, sink, workdir / "ckpt", mode)
    assert [(f.name, f.dataType) for f in res.schema] == [
        (f.name, f.dataType) for f in out.schema]
    cols = [
        F.unix_millis(f.name).alias(f.name)
        if isinstance(f.dataType, TimestampType) else F.col(f.name)
        for f in res.schema if not (proc and f.name == "at_ms")
    ]
    got = sorted((tuple(r) for r in res.select(*cols).collect()), key=repr)
    want = _TYPED_EXPECTED[twin]
    if res.columns[:6] == _EVENT_COLUMNS:
        events = {r[0]: (r[0], _T0 + r[1] * _MIN, r[2], r[3], r[4], "{}")
                  for rows in _TYPED_EVENTS for r in rows}
        want = [events[r[0]] + r[1:] for r in want]
    assert got == sorted(want, key=repr)


def _sink_rows(res):
    """A sink's rows with timestamps as epoch millis."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import TimestampType

    return [tuple(r) for r in res.select(*[
        F.unix_millis(f.name).alias(f.name)
        if isinstance(f.dataType, TimestampType) else F.col(f.name)
        for f in res.schema]).collect()]


# An availableNow run ends with a no-data batch that moves the
# late-event watermark to the first file's front (01:10 - 10 s), so the
# resumed run drops event 7 (00:30) as late; one run over both files
# reads it in the batch right after, whose late-event watermark is
# still the first batch's. Spark drops such rows before an
# EventTimeTimeout state function sees them; the chain driver's
# watermark (streaming._chain_stream) keeps them, these two twins not.
_LATE_AFTER_RESTART = pytest.mark.xfail(
    strict=True, reason="a restart drops events behind the watermark "
    "that the no-data batch closing the first run advanced")


@pytest.mark.parametrize("twin", [
    pytest.param(t, marks=_LATE_AFTER_RESTART)
    if t in ("sessionize_stream", "time_window_stream") else t
    for t in sorted(_TYPED_TWINS) if not t.endswith("_proc_stream")])
def test_twin_resumes_from_checkpoint(spark, workdir, twin):
    """Every twin that ends under availableNow resumes from its
    checkpoint: a run over the first file, then a run over the second
    from that checkpoint, emit together what one run over both files
    does (``_TYPED_EXPECTED``: the same one-file-per-trigger split).
    The processing-time twins never end under availableNow."""
    build, mode = _TYPED_TWINS[twin]
    docs = twin == "lsh_ingest_stream"
    indir = str(workdir / "in")
    got = []
    for i, rows in enumerate(_TYPED_DOCS if docs else _TYPED_EVENTS):
        _write_typed_batch(indir, f"{i:03d}.parquet", rows, docs)
        out = build(
            spark.readStream.schema(spark.read.parquet(indir).schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(indir)
        )
        # foreachBatch: the memory sink cannot recover from a checkpoint
        q = (
            out.writeStream.foreachBatch(lambda b, _: got.extend(_sink_rows(b)))
            .outputMode(mode)
            .option("checkpointLocation", str(workdir / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
    want = _TYPED_EXPECTED[twin]
    if out.columns[:6] == _EVENT_COLUMNS:
        events = {r[0]: (r[0], _T0 + r[1] * _MIN, r[2], r[3], r[4], "{}")
                  for rows in _TYPED_EVENTS for r in rows}
        want = [events[r[0]] + r[1:] for r in want]
    assert sorted(got, key=repr) == sorted(want, key=repr)

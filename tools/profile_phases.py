"""Phase-level profiling of the bench's top cost centers (guide §1:
measure first). Re-implements the staging/run/read phases of selected
queries with timers so the fixed harness overheads (staging, stream
start, state-store init, sink read-back) separate from the computation.

Usage: python tools/profile_phases.py [SF_DIR]
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import __spark_entry__ as entry_mod
from pyspark.sql import functions as F
from siddhi_execution_unique_spark.session import get_spark

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
HOUR = 3600 * 1000

T0 = time.perf_counter()
MARKS: list[tuple[str, float]] = []


def mark(label: str) -> None:
    t = time.perf_counter()
    MARKS.append((label, t))
    prev = MARKS[-2][1] if len(MARKS) > 1 else T0
    print(f"  {label:45s} {t - prev:7.3f}s", flush=True)


def force(df):
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    spark = get_spark(app_name="profile-phases")
    spark.sparkContext.setLogLevel("ERROR")
    queries = entry_mod.queries()

    # ---- session warmup (same as bench.py) ----
    print("== warmup ==", flush=True)
    mark("session up")
    force(next(iter(queries.values()))(spark, SF))
    mark("first query (JVM warm)")
    spark.range(spark.sparkContext.defaultParallelism * 4).repartition(
        spark.sparkContext.defaultParallelism
    ).mapInPandas(lambda it: it, "id long").write.format("noop").mode(
        "overwrite"
    ).save()
    mark("python worker pool warm")

    # ---- fixed floor: trivial noop writes ----
    print("== fixed floor ==", flush=True)
    df1 = spark.read.parquet(os.path.join(SF, "nation.parquet"))
    force(df1)
    mark("noop write tiny parquet (warm)")
    for i in range(3):
        force(df1)
    mark("3x noop write tiny parquet")
    ev = spark.read.parquet(os.path.join(SF, "events.parquet"))
    force(ev)
    force(ev)
    mark("2x noop write events scan")
    force(ev.groupBy("user_id").count())
    force(ev.groupBy("user_id").count())
    mark("2x one-shuffle agg over events")

    # ---- streaming_dedup_parity, phase by phase ----
    print("== streaming_dedup_parity phases ==", flush=True)
    import shutil
    import tempfile

    from siddhi_execution_unique_spark import streaming as stw
    from siddhi_execution_unique_spark.streaming.sources import stream_table

    for trial in range(2):
        work = tempfile.mkdtemp(prefix="sgraft_prof_dedup_")
        indir = os.path.join(work, "in")
        os.makedirs(indir)
        mark(f"[t{trial}] tmpdir setup")
        schema = entry_mod._stage_replay_file(
            spark, SF, "events", os.path.join(indir, "events.parquet"))
        mark(f"[t{trial}] stage replay file")
        sdf = stream_table(spark, indir, schema)
        out = stw.deduplicate_exact_stream(sdf, "user_id", HOUR, ts="ts")
        outdir = os.path.join(work, "out")
        mark(f"[t{trial}] build stream df")
        q = (
            out.select(
                "event_id", F.unix_millis("ts").alias("ts_ms"),
                "user_id", "event_type", "value", "props",
            )
            .writeStream.format("parquet")
            .option("path", outdir)
            .option("checkpointLocation", os.path.join(work, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        mark(f"[t{trial}] stream start()")
        q.awaitTermination()
        mark(f"[t{trial}] awaitTermination")
        res = spark.read.parquet(outdir).select(*entry_mod._EVENT_COLS)
        res = res.localCheckpoint(eager=True)
        mark(f"[t{trial}] read-back + localCheckpoint")
        force(res)
        mark(f"[t{trial}] noop force of result")
        shutil.rmtree(work, ignore_errors=True)
        mark(f"[t{trial}] rmtree")

    # ---- complete-mode memory-sink parity (ever) ----
    print("== streaming_ever_parity phases ==", flush=True)
    for trial in range(2):
        work = tempfile.mkdtemp(prefix="sgraft_prof_ever_")
        sdf = entry_mod._stream_events_replay(spark, SF, work)
        mark(f"[t{trial}] stage+stream df")
        out = stw.ever_stream(sdf, "user_id", ts="ts").select(
            "event_id", F.unix_millis("ts").alias("ts_ms"),
            "user_id", "event_type", "value", "props",
        )
        res = entry_mod._drain(spark, out, work, sink="memory",
                               mode="complete", name=f"prof_ever_{trial}")
        mark(f"[t{trial}] run memory complete")
        force(res)
        mark(f"[t{trial}] noop force")
        shutil.rmtree(work, ignore_errors=True)

    # ---- whole-query timings for the headline entries ----
    print("== whole-query (warm, 2 runs each) ==", flush=True)
    for name in [
        "streaming_sessionize_parity",
        "streaming_python_source_parity",
        "streaming_python_source_partitioned_parity",
        "streaming_dedup_watermark_parity",
        "proc_time_replay",
        "proc_dedup_replay",
        "vocab_bpe_train",
        "vocab_bpe_encode",
        "multimodal_decode_jpeg_progressive_420",
        "multimodal_decode_jpeg_420",
        "siddhiql_join_tlb_tb_all",
        "siddhiql_join_ever_tlb_all",
        "join_bloom_prefilter",
        "dedup_char_ngram_jaccard",
        "pipeline_dedup_corpus",
        "dedup_graph_pagerank",
        "dedup_clusters",
        "source_python_datasource",
    ]:
        fn = queries[name]
        force(fn(spark, SF))  # warm
        best = float("inf")
        for _ in range(2):
            t0 = time.perf_counter()
            force(fn(spark, SF))
            best = min(best, time.perf_counter() - t0)
        print(f"  {name:45s} {best:7.3f}s", flush=True)

    spark.stop()


if __name__ == "__main__":
    main()

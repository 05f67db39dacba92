"""Unit tests for the training-data pipeline functions (phase 4).
Cross-engine parity is covered by test_oracle_parity.py; these cover
semantics the oracle can't see."""

import pytest

from pyspark.sql import functions as F

from siddhi_execution_unique_spark.functions import dedup as fdedup
from siddhi_execution_unique_spark.functions import multimodal as fmm
from siddhi_execution_unique_spark.functions import similarity as fsim
from siddhi_execution_unique_spark.sources import load_table


def test_exact_dedup_groups_identical_text(spark):
    docs = spark.createDataFrame(
        [(1, "hello  world", "en", "s", 11), (2, "Hello world", "en", "s", 11),
         (3, "other text", "en", "s", 10)],
        "doc_id long, text string, lang string, source string, n_chars long")
    out = fdedup.exact_dedup(docs).collect()
    groups = {r["keep_doc_id"]: r["n_docs"] for r in out}
    # case + whitespace normalization folds 1 and 2 together
    assert groups == {1: 2, 3: 1}


def test_near_dup_pairs_finds_planted_dup(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    docs = spark.createDataFrame(
        [(1, base, "en", "s", len(base)),
         (2, base + " tomorrow", "en", "s", len(base) + 9),
         (3, "completely different words about spark catalyst optimizer plans", "en", "s", 64)],
        "doc_id long, text string, lang string, source string, n_chars long")
    pairs = fdedup.near_dup_pairs(docs).collect()
    assert [(r["doc_id_1"], r["doc_id_2"]) for r in pairs] == [(1, 2)]
    assert pairs[0]["jaccard"] > 0.8


def test_simhash_identical_docs_equal(spark):
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma", "en", "s", 16), (2, "alpha beta gamma", "en", "s", 16),
         (3, "delta epsilon zeta eta theta", "en", "s", 28)],
        "doc_id long, text string, lang string, source string, n_chars long")
    vals = {r["doc_id"]: r["simhash"] for r in fdedup.simhash(docs).collect()}
    assert vals[1] == vals[2]
    assert vals[1] != vals[3]


def test_cosine_topk_self_excluded_and_ranked(spark):
    emb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.9, 0.1]), (2, [0.0, 1.0]), (3, [1.0, 0.05])],
        "vec_id long, embedding array<float>")
    out = fsim.cosine_topk(emb, n_queries=1, k=2).collect()
    ranked = sorted([(r["rank"], r["neighbor_id"]) for r in out])
    # query 0: nearest is 3 (cos~0.999), then 1 (cos~0.994); self excluded
    assert ranked == [(1, 3), (2, 1)]


def test_multimodal_plumbing(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").limit(20)
    feats = fmm.extract_features(fmm.with_binary_payload(docs))
    rows = feats.collect()
    assert len(rows) == 20
    for r in rows:
        assert len(r["byte_hist"]) == fmm.HIST_BINS
        assert sum(r["byte_hist"]) == r["n_bytes"]
        assert r["mime"] == "application/octet-stream"


def test_real_decode_stub_raises(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").limit(1)
    feats = fmm.extract_features(fmm.with_binary_payload(docs), use_real_decode=True)
    with pytest.raises(Exception, match="NotImplementedError|image decode"):
        feats.collect()


def test_ivf_recall_vs_exact(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    exact = {(r["query_id"], r["neighbor_id"])
             for r in fsim.cosine_topk(emb).collect()}

    def recall(n_probe):
        approx = {(r["query_id"], r["neighbor_id"])
                  for r in fsim.ivf_topk(emb, n_probe=n_probe).collect()}
        return len(exact & approx) / len(exact)

    # synthetic embeddings are unclustered, so coarse quantization is
    # genuinely approximate; recall must rise with n_probe (probing
    # more cells only ever adds candidates) and reach exact when every
    # one of the N_CENTROIDS cells is scanned
    r8, r_all = recall(8), recall(fsim.N_CENTROIDS)
    assert r8 >= 0.2, f"IVF recall@n_probe=8 {r8} unexpectedly low"
    assert r_all >= 0.99, f"IVF recall@all-cells {r_all} should be exact"
    assert r_all >= r8


def test_embedding_near_dup_identical_vectors(spark):
    dim = 64
    v = [1.0] * dim
    w = [1.0, -1.0] * (dim // 2)  # orthogonal to v
    emb = spark.createDataFrame(
        [(1, v, 0), (2, v, 0), (3, w, 1)],
        "vec_id long, embedding array<float>, label int")
    pairs = fsim.embedding_near_dup_pairs(emb).collect()
    # identical vectors share every LSH band and verify at cosine 1.0
    assert [(r["vec_id_1"], r["vec_id_2"]) for r in pairs] == [(1, 2)]
    assert pairs[0]["cos_sim"] == 1.0


def test_winnow_shared_fingerprints_on_overlap(spark):
    from siddhi_execution_unique_spark.functions import text as ftext

    shared = "the quick brown fox jumps over the lazy dog near the river bank"
    docs = spark.createDataFrame(
        [(1, shared + " at dawn", "en", "s", 70),
         (2, "yesterday " + shared, "en", "s", 74),
         (3, "completely unrelated content with different words entirely", "en", "s", 58)],
        "doc_id long, text string, lang string, source string, n_chars long")
    fps = ftext.winnow_fingerprints(docs).collect()
    by_doc = {}
    for r in fps:
        by_doc.setdefault(r["doc_id"], set()).add(r["fp"])
    # overlapping docs share winnowed fingerprints; unrelated doc shares ~none
    assert len(by_doc[1] & by_doc[2]) >= 3
    assert not (by_doc[1] & by_doc[3])


def test_frame_sample_shape_and_determinism(spark):
    docs = spark.createDataFrame(
        [(1, "abcdefgh", "en", "s", 8), (2, "xy", "en", "s", 2)],
        "doc_id long, text string, lang string, source string, n_chars long")
    out = fmm.sample_frames(fmm.with_binary_payload(docs)).collect()
    # doc 1: 4 frames of 2 bytes; doc 2 too short (< 4 bytes) -> dropped
    assert {r["doc_id"] for r in out} == {1}
    assert sorted(r["frame_idx"] for r in out) == [0, 1, 2, 3]
    assert all(r["frame_bytes"] == 2 for r in out)
    import hashlib
    expected0 = hashlib.md5(b"ab".hex().upper().encode()).hexdigest()
    assert [r["frame_md5"] for r in out if r["frame_idx"] == 0] == [expected0]


def _mini_docs(spark, rows):
    return spark.createDataFrame(
        [(i, t, "en", s, len(t)) for i, (t, s) in enumerate(rows)],
        "doc_id long, text string, lang string, source string, n_chars long")


def test_repetition_stats_closed_form(spark):
    from siddhi_execution_unique_spark.functions import curation as fcur
    docs = _mini_docs(spark, [("a a a b", "s")])
    r = fcur.repetition_stats(docs).collect()[0]
    assert r["n_tokens"] == 4
    assert r["dup_token_frac"] == 0.5          # 4 tokens, 2 distinct
    assert r["top_token_frac"] == 0.75         # 'a' x3 / 4
    assert r["dup_2gram_frac"] == round(1 / 3, 6)  # [a a, a a, a b]


def test_stratified_sample_deterministic_and_bounded(spark, sf_dir):
    from siddhi_execution_unique_spark.functions import curation as fcur
    docs = load_table(spark, sf_dir, "documents")
    a = sorted(fcur.stratified_sample(docs, per_stratum=7).collect())
    b = sorted(fcur.stratified_sample(docs, per_stratum=7).collect())
    assert a == b  # hash-rank sampling: retry-stable by construction
    per = {}
    for r in a:
        per[r["source"]] = per.get(r["source"], 0) + 1
    assert all(v <= 7 for v in per.values())


def test_contamination_flags_copied_benchmark_doc(spark):
    from siddhi_execution_unique_spark.functions import curation as fcur
    bench = "alpha beta gamma delta epsilon zeta"
    docs = _mini_docs(spark, [
        (bench, "src0"),                       # the benchmark itself
        (bench, "src1"),                       # verbatim leak
        ("one two three four five six", "src1"),  # disjoint
    ])
    out = {r["doc_id"]: r for r in fcur.contamination_check(docs).collect()}
    assert 0 not in out                        # benchmark rows excluded
    assert out[1]["contamination_frac"] == 1.0 and out[1]["contaminated"]
    assert out[2]["contamination_frac"] == 0.0 and not out[2]["contaminated"]


def test_domain_quota_caps_each_source(spark, sf_dir):
    from siddhi_execution_unique_spark.functions import curation as fcur
    from siddhi_execution_unique_spark.functions import text as ftext
    docs = load_table(spark, sf_dir, "documents")
    out = fcur.domain_quota(docs, ftext.quality_score(docs), quota=3).collect()
    per = {}
    for r in out:
        per.setdefault(r["source"], []).append(r)
    for rows in per.values():
        assert len(rows) <= 3
        assert sorted(r["quota_rank"] for r in rows) == list(range(1, len(rows) + 1))
        # best-first: rank 1 has the max quality in the source
        by_rank = sorted(rows, key=lambda r: r["quota_rank"])
        assert by_rank[0]["quality"] == max(r["quality"] for r in rows)


def test_pii_redact_counts_and_scrubs(spark):
    from siddhi_execution_unique_spark.functions import curation as fcur
    docs = _mini_docs(spark, [
        ("contact bob@example.com or +1 555 123 4567 at 10.0.0.1", "s"),
        ("no pii here at all", "s"),
    ])
    out = {r["doc_id"]: r for r in fcur.pii_redact(docs).collect()}
    assert (out[0]["n_email"], out[0]["n_ipv4"], out[0]["n_phone"]) == (1, 1, 1)
    assert (out[1]["n_email"], out[1]["n_ipv4"], out[1]["n_phone"]) == (0, 0, 0)
    # scrubbed text no longer hashes like the original
    import hashlib
    assert out[1]["redacted_md5"] == hashlib.md5(b"no pii here at all").hexdigest()
    assert out[0]["redacted_md5"] != hashlib.md5(
        b"contact bob@example.com or +1 555 123 4567 at 10.0.0.1").hexdigest()


def test_mixture_stats_rollup_adds_up(spark, sf_dir):
    from siddhi_execution_unique_spark.functions import curation as fcur
    docs = load_table(spark, sf_dir, "documents")
    rows = fcur.mixture_stats(docs).collect()
    total = [r for r in rows if r["lang"] == "<all>" and r["source"] == "<all>"]
    assert len(total) == 1 and total[0]["token_share"] == 1.0
    lang_rows = [r for r in rows if r["lang"] != "<all>" and r["source"] == "<all>"]
    detail = [r for r in rows if r["lang"] != "<all>" and r["source"] != "<all>"]
    assert sum(r["n_docs"] for r in lang_rows) == total[0]["n_docs"]
    assert sum(r["n_tokens"] for r in detail) == total[0]["n_tokens"]


def test_sessionize_gap_semantics(spark):
    from siddhi_execution_unique_spark.functions import sessions as fsess
    import datetime as dt

    def t(ms):
        return dt.datetime.fromtimestamp(ms / 1000, dt.timezone.utc).replace(tzinfo=None)

    rows = [
        # user 1: two sessions split by a 5s gap (gap_ms=1000)
        (t(0), 1, 1, "a"), (t(500), 2, 1, "b"), (t(1400), 3, 1, "a"),
        (t(7000), 4, 1, "a"),
        # user 2: one session, single event
        (t(100), 5, 2, "c"),
    ]
    ev = spark.createDataFrame(
        rows, "ts timestamp, event_id long, user_id long, event_type string")
    out = {(r["user_id"], r["session_seq"]): r
           for r in fsess.sessionize(ev, 1000).collect()}
    assert len(out) == 3
    s11 = out[(1, 1)]
    assert (s11["session_start_ms"], s11["session_end_ms"], s11["n_events"],
            s11["n_event_types"]) == (0, 1400, 3, 2)
    s12 = out[(1, 2)]
    assert (s12["session_start_ms"], s12["n_events"]) == (7000, 1)
    assert out[(2, 1)]["n_events"] == 1


def test_sessionize_rejects_bad_gap(spark):
    from siddhi_execution_unique_spark.functions import sessions as fsess
    with pytest.raises(ValueError):
        fsess.sessionize(None, 0)


def test_curation_validation_errors(spark):
    from siddhi_execution_unique_spark.functions import curation as fcur
    with pytest.raises(ValueError):
        fcur.stratified_sample(None, per_stratum=0)
    with pytest.raises(ValueError):
        fcur.domain_quota(None, None, quota=-1)
    with pytest.raises(ValueError):
        fcur.contamination_check(None, flag_frac=0.0)


def test_incremental_dedup_drops_known_and_batch_dups(spark):
    from siddhi_execution_unique_spark.functions import dedup as fdedup
    known_docs = _mini_docs(spark, [("old content here", "s")])          # doc 0
    batch = spark.createDataFrame(
        [(10, "old  CONTENT here", "en", "s", 16),   # normalizes to known -> dropped
         (11, "brand new thing", "en", "s", 15),
         (12, "brand NEW thing", "en", "s", 15)],    # dup of 11 within batch
        "doc_id long, text string, lang string, source string, n_chars long")
    out = fdedup.incremental_exact_dedup(batch, fdedup.exact_dedup(known_docs))
    rows = {r["doc_id"]: r["n_in_batch"] for r in out.collect()}
    assert rows == {11: 2}


def test_connected_components_chain_and_islands(spark):
    from siddhi_execution_unique_spark.functions import dedup as fdedup
    # chain 1-2-3-4 (diameter forces multiple propagation rounds),
    # pair 7-8, and 5-6 merged to the chain through 5-1
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (7, 8), (5, 6), (5, 1)],
        "doc_id_1 long, doc_id_2 long")
    labels = {r["doc_id"]: r["cluster_id"]
              for r in fdedup.connected_components(pairs).collect()}
    assert labels == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 6: 1, 7: 7, 8: 7}


def test_asof_join_semantics(spark):
    from siddhi_execution_unique_spark.functions import asof as fasof
    left = spark.createDataFrame(
        [(100, 1, 50), (101, 1, 10), (102, 2, 30), (103, 3, 40)],
        "pid long, k long, ts long")
    right = spark.createDataFrame(
        # k=1: rows at ts 50 (tie -> max rid wins, inclusive match at equal ts)
        [(1, 5, 7), (1, 50, 8), (1, 50, 9), (1, 60, 99),
         # k=2: only a LATER row -> no match for ts=30
         (2, 31, 20)],
        "k long, ts long, rid long")
    out = {r["pid"]: (r["r_ts"], r["r_rid"])
           for r in fasof.asof_join(left, right, on="k", ts="ts").collect()}
    assert out == {
        100: (50, 9),    # inclusive <=, tie broken to greatest payload
        101: (5, 7),     # strictly-before row
        102: (None, None),  # right row exists but only after
        103: (None, None),  # key absent from right
    }


def test_csv_json_sources_round_trip(spark, tmp_path):
    from siddhi_execution_unique_spark import sources as src
    events = src.load_table(spark, "/root/testdata/sf0.001", "events").select(
        "event_id", "user_id", "event_type", "value")
    want = sorted(map(tuple, events.collect()))
    schema = events.schema
    for fmt in ("orc", "csv", "json"):
        path = str(tmp_path / fmt)
        src.write_table(events, path, fmt)
        got = sorted(map(tuple, src.load_path(spark, path, fmt, schema).collect()))
        assert got == want, fmt
    # orc carries its own schema: schema-less load round-trips too
    got = sorted(map(tuple, src.load_path(spark, str(tmp_path / "orc"), "orc").collect()))
    assert got == want
    import pytest
    with pytest.raises(ValueError):
        src.load_path(spark, "/nowhere", "csv")  # schema-less csv refused
    with pytest.raises(ValueError):
        src.load_path(spark, "/nowhere", "avro")  # not bundled in this build


def test_new_tier_validation_errors(spark):
    import pytest
    from siddhi_execution_unique_spark.functions import (
        asof as fasof, dedup as fdedup, sketch as fsk)
    df = spark.createDataFrame([(1, 2)], "k long, ts long")
    with pytest.raises(ValueError, match="lacks column"):
        fasof.asof_join(df, df.select("k"), on="k", ts="ts")
    with pytest.raises(ValueError, match="payload"):
        fasof.asof_join(df, df, on="k", ts="ts")
    with pytest.raises(ValueError, match="positive"):
        fasof.clicks_before_purchase(None, window_ms=0)
    with pytest.raises(ValueError, match="k >= 2"):
        fsk.kmv_distinct(None, k=1)
    with pytest.raises(ValueError, match="threshold"):
        fdedup.near_dup_clusters(None, threshold=0.0)


def test_ntz_timestamps_load_as_utc_instants_in_any_session_tz(spark):
    """The driver builds its own SparkSession with an arbitrary
    timezone; naive (TIMESTAMP_NTZ) parquet columns must still load as
    the same UTC instants DuckDB's epoch_ms sees. Pin load_table's
    NTZ reinterpretation under a deliberately non-UTC session tz."""
    import duckdb
    from pyspark.sql import functions as F
    from pyspark.sql.types import TimestampType
    from siddhi_execution_unique_spark import sources as src

    want = dict(duckdb.sql(
        "SELECT event_id, epoch_ms(ts) FROM "
        "'/root/testdata/sf0.001/events.parquet' ORDER BY event_id LIMIT 50"
    ).fetchall())
    old_tz = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "Australia/Eucla")
        ev = src.load_table(spark, "/root/testdata/sf0.001", "events")
        assert isinstance(ev.schema["ts"].dataType, TimestampType)
        got = {r["event_id"]: r["ms"] for r in ev.select(
            "event_id", F.unix_millis("ts").alias("ms")
        ).orderBy("event_id").limit(50).collect()}
    finally:
        spark.conf.set("spark.sql.session.timeZone", old_tz)
    assert got == want


def test_ntz_frame_gives_load_table_rows(spark, sf_dir):
    """A plain ``spark.read.parquet`` frame carries the events' naive
    timestamps as TIMESTAMP_NTZ. ``event_ms`` reads that naive wall
    clock as UTC, the instant ``load_table`` gives it, so the
    operators built on it accept the raw frame and give the same rows
    (``unix_millis`` alone rejects NTZ)."""
    import os

    from pyspark.sql.types import TimestampNTZType

    from siddhi_execution_unique_spark import operators as ops

    raw = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    assert isinstance(raw.schema["ts"].dataType, TimestampNTZType)
    loaded = load_table(spark, sf_dir, "events")

    def rows(df, *extra):
        return sorted(map(tuple, df.select("event_id", "user_id", *extra).collect()))

    kw = {"ts": "ts", "tiebreak": "event_id"}
    for build, extra in (
        (lambda ev: ops.time_batch(ev, "user_id", 3_600_000, **kw),
         ("batch_start_ms", "batch_end_ms")),
        (lambda ev: ops.deduplicate(ev, "user_id", 3_600_000, **kw), ()),
        (lambda ev: ops.length_batch(ev, "user_id", 5, **kw),
         ("batch_seq", "fired_at_ms")),
    ):
        want = rows(build(loaded), *extra)
        assert want and rows(build(raw), *extra) == want


def test_load_table_memo_repeat_load_is_same_plan(spark, sf_dir, tmp_path):
    import os
    import shutil

    sc = spark.sparkContext

    def jobs(group):
        sc.setJobGroup(group, group)
        try:
            df = load_table(spark, str(tmp_path), "events")
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return df, list(sc.statusTracker().getJobIdsForGroup(group))

    # a fresh path, so the first load is a miss in any test order
    shutil.copy(os.path.join(sf_dir, "events.parquet"), tmp_path)
    first, miss_jobs = jobs("memo-miss")
    again, hit_jobs = jobs("memo-hit")
    assert miss_jobs, "a first load infers the schema with a Spark job"
    assert again is first
    assert hit_jobs == []
    # a plan, not rows: the repeat still runs its own scan
    assert again.count() == first.count() > 0


@pytest.mark.parametrize("layout", ["file", "dir"])
def test_load_table_memo_sees_rewritten_file(spark, tmp_path, layout):
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "region.parquet")
    if layout == "dir":
        os.makedirs(path)
        path = os.path.join(path, "part-0.parquet")

    def write(n):
        pq.write_table(pa.table({"r_regionkey": list(range(n)),
                                 "r_name": [f"r{i}" for i in range(n)]}), path)

    write(3)
    before = load_table(spark, str(tmp_path), "region")
    assert before.count() == 3
    write(5)
    after = load_table(spark, str(tmp_path), "region")
    assert after is not before
    assert sorted(r.r_regionkey for r in after.collect()) == list(range(5))


def test_load_table_memo_keys_on_conf_and_session(spark, sf_dir):
    first = load_table(spark, sf_dir, "events")
    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key, None)
    spark.conf.set(key, "64m")
    try:
        assert load_table(spark, sf_dir, "events") is not first
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)
    # a NUL in the conf takes the exact getAll path, and still memoizes
    spark.conf.set("spark.test.memo.nul", "a\0b")
    try:
        nul = load_table(spark, sf_dir, "events")
        assert nul is not first
        assert load_table(spark, sf_dir, "events") is nul
    finally:
        spark.conf.unset("spark.test.memo.nul")
    other = spark.newSession()
    theirs = load_table(other, sf_dir, "events")
    assert theirs is not first
    assert theirs.sparkSession is other
    assert load_table(other, sf_dir, "events") is theirs


def test_load_table_unknown_name_raises_before_lookup(spark, sf_dir, monkeypatch):
    from siddhi_execution_unique_spark import sources as src

    def boom(*_):
        raise AssertionError("looked up")

    monkeypatch.setattr(src, "_stamp", boom)
    monkeypatch.setattr(src, "_set_conf", boom)
    with pytest.raises(ValueError, match="unknown table"):
        load_table(spark, sf_dir, "eventz")


def test_quality_percentiles_known_distribution(spark):
    from siddhi_execution_unique_spark.functions import curation as fcur
    # 10 docs of lengths 1..10 in one stratum: type-1 percentiles are
    # the values at ranks ceil(0.1*10)=1, ceil(0.5*10)=5, ceil(0.9*10)=9
    rows = [(i, "en", "s0", i) for i in range(1, 11)]
    docs = spark.createDataFrame(
        rows, "doc_id long, lang string, source string, n_chars long")
    got = fcur.quality_percentiles(docs).collect()
    assert len(got) == 1
    r = got[0]
    assert (r["n_docs"], r["p10_chars"], r["p50_chars"], r["p90_chars"]) == (10, 1, 5, 9)


def test_pq_topk_recovers_clustered_neighbors(spark):
    import math
    from siddhi_execution_unique_spark.functions import similarity as fsim
    # Two tight clusters along different axes; n_centroids=3 picks the
    # hash-rank seeds {101, 150, 50} so each cluster contributes a
    # centroid and cluster members SHARE codes. Probe 0 must rank its
    # own-cluster members above the other cluster's.
    def vec(axis, eps, d=64):
        v = [0.0] * d
        v[axis] = 1.0
        v[(axis + 7) % d] = eps
        n = math.sqrt(1 + eps * eps)
        return [x / n for x in v]
    rows = (
        [(0, vec(0, 0.0)), (1, vec(0, 0.01)), (2, vec(0, 0.02)), (3, vec(0, 0.03))]
        + [(100, vec(1, 0.0)), (101, vec(1, 0.01)), (102, vec(1, 0.02))]
        # codebook seeds: one per cluster
        + [(50, vec(0, 0.005)), (150, vec(1, 0.005))]
    )
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows],
        "vec_id long, embedding array<float>")
    out = fsim.pq_topk(emb, n_queries=1, k=4, n_centroids=3).collect()
    by_rank = {r["rank"]: r["neighbor_id"] for r in out}
    assert len(by_rank) == 4
    # ADC distance is 0 to every own-cluster member (same code on all
    # subspaces), so the top ranks are own-cluster ids in id order
    assert [by_rank[i] for i in (1, 2, 3)] == [1, 2, 3]
    assert by_rank[4] == 50  # the own-cluster seed, still same-code-adjacent


def test_pq_rerank_orders_by_exact_cosine(spark):
    import math
    from siddhi_execution_unique_spark.functions import similarity as fsim
    def vec(axis, eps, d=64):
        v = [0.0] * d
        v[axis] = 1.0
        v[(axis + 7) % d] = eps
        n = math.sqrt(1 + eps * eps)
        return [x / n for x in v]
    rows = (
        [(0, vec(0, 0.0)), (1, vec(0, 0.01)), (2, vec(0, 0.02)), (3, vec(0, 0.03))]
        + [(100, vec(1, 0.0)), (101, vec(1, 0.01)), (102, vec(1, 0.02))]
        + [(50, vec(0, 0.005)), (150, vec(1, 0.005))]
    )
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows],
        "vec_id long, embedding array<float>")
    out = fsim.pq_rerank_topk(emb, n_queries=1, k=4, n_centroids=3).collect()
    ordered = [r["neighbor_id"] for r in sorted(out, key=lambda r: r["rank"])]
    # ADC ties own-cluster members at distance 0; the exact re-rank
    # resolves them by true cosine: smaller eps = closer to probe 0
    assert ordered == [50, 1, 2, 3]


def test_pack_shards_offsets_are_gapless_prefix_sums(spark):
    from siddhi_execution_unique_spark.functions import curation as fcur
    docs = spark.createDataFrame(
        [(i, "en", "s", " ".join(["w"] * (3 + i % 5))) for i in range(40)],
        "doc_id long, lang string, source string, text string")
    rows = sorted(
        fcur.pack_training_shards(docs, budget_tokens=10, n_buckets=4).collect(),
        key=lambda r: r["start_offset"])
    # the shuffled order is gapless: each doc starts where the previous
    # ended, and the shard id is exactly start_offset // budget
    off = 0
    for r in rows:
        assert r["start_offset"] == off
        assert r["shard_id"] == off // 10
        off += r["n_toks"]
    assert off == sum(3 + i % 5 for i in range(40))
    import pytest
    with pytest.raises(ValueError):
        fcur.pack_training_shards(docs, budget_tokens=0)


def test_bm25_known_corpus(spark):
    from siddhi_execution_unique_spark.functions import retrieval as fret
    docs = spark.createDataFrame(
        [(0, "apple banana"), (1, "apple banana"), (2, "cherry date elderberry")],
        "doc_id long, text string")
    out = fret.bm25_topk(docs, n_query_docs=1, k=10).collect()
    got = {r["rank"]: (r["doc_id"], r["qscore"]) for r in out}
    # docs 0 and 1 are identical -> identical exact integer scores,
    # tie broken by doc_id; doc 2 shares no term -> absent entirely
    assert len(got) == 2
    assert got[1][0] == 0 and got[2][0] == 1
    assert got[1][1] == got[2][1] > 0
    import pytest
    with pytest.raises(ValueError):
        fret.bm25_topk(docs, n_query_docs=0)
    with pytest.raises(ValueError):
        fret.bm25_topk(docs, k=0)


def test_tfidf_cosine_known_corpus(spark):
    from siddhi_execution_unique_spark.functions import retrieval as fret
    # 21 docs so a df=2 term survives the 10% df cut (2*100 <= 21*10);
    # docs 0,1 share rare terms; "common" is in every doc -> pruned
    rows = [(0, "common zebra quagga"), (1, "common zebra quagga")]
    rows += [(i, f"common filler{i}") for i in range(2, 21)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = fret.tfidf_cosine_pairs(docs).collect()
    # identical pruned vectors -> cosine exactly 1.0; no other pair
    # shares a surviving term
    assert [(r["doc_id_1"], r["doc_id_2"], r["cos_sim"]) for r in out] == [(0, 1, 1.0)]


def test_trailing_distinct_hand_example(spark):
    from siddhi_execution_unique_spark.functions import sketch as fsk
    # type A: users 1,1,2 at t=0s,30m,65m -> windows see {1},{1},{1,2}... 
    # wait: at 65m the trailing hour covers 30m and 65m -> users {1,2}
    rows = [(1, 0, "A", 1), (2, 1_800_000, "A", 1), (3, 3_900_000, "A", 2),
            (4, 0, "B", 9)]
    events = spark.createDataFrame(
        [(e, u, t, ty) for e, t, ty, u in rows],
        "event_id long, user_id long, ms long, event_type string",
    ).selectExpr("event_id", "user_id", "event_type",
                 "timestamp_micros(ms * 1000) as ts")
    got = {r["event_id"]: r["n_distinct_trailing"]
           for r in fsk.trailing_distinct_users(events).collect()}
    assert got == {1: 1, 2: 1, 3: 2, 4: 1}
    import pytest
    with pytest.raises(ValueError):
        fsk.trailing_distinct_users(events, window_ms=0)


def test_round5_parameter_validation(spark):
    from siddhi_execution_unique_spark.functions import sketch as fsk
    events = spark.createDataFrame(
        [(1, 1, "A", 0)], "event_id long, user_id long, event_type string, ms long",
    ).selectExpr("event_id", "user_id", "event_type",
                 "timestamp_micros(ms * 1000) as ts")
    with pytest.raises(ValueError):
        fsk.running_distinct_count(events, n_buckets=0)
    with pytest.raises(ValueError):
        fsk.kmv_distinct(events, n_splits=0)
    with pytest.raises(ValueError):
        fsk.kmv_distinct(events, k=1)


def test_line_dedup_removes_cross_doc_boilerplate(spark):
    # segs are 4-token windows; "c1 c2 c3 c4" is shared by 3 docs ->
    # boilerplate at min_docs=3; each doc's unique tail survives
    docs = spark.createDataFrame(
        [(1, "c1 c2 c3 c4 aa bb cc dd", "en", "s", 23),
         (2, "c1 c2 c3 c4 ee ff gg hh", "en", "s", 23),
         (3, "c1 c2 c3 c4 ii jj kk ll", "en", "s", 23),
         (4, "mm nn oo pp qq rr ss tt", "en", "s", 23)],
        "doc_id long, text string, lang string, source string, n_chars long")
    out = {r["doc_id"]: r for r in fdedup.line_dedup(docs).collect()}
    assert out[1]["n_segments"] == 2 and out[1]["n_removed"] == 1
    assert out[1]["clean_text"] == "aa bb cc dd"
    assert out[4]["n_removed"] == 0
    assert out[4]["clean_text"] == "mm nn oo pp qq rr ss tt"


def test_line_dedup_all_boilerplate_doc_empties(spark):
    docs = spark.createDataFrame(
        [(i, "x1 x2 x3 x4", "en", "s", 11) for i in range(1, 5)],
        "doc_id long, text string, lang string, source string, n_chars long")
    out = fdedup.line_dedup(docs).collect()
    assert all(r["clean_text"] == "" and r["n_removed"] == 1 for r in out)
    with pytest.raises(ValueError):
        fdedup.line_dedup(docs, min_docs=1)


def test_semantic_dedup_keeps_lowest_id_of_near_pair(spark):
    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    rows = fsim.semantic_dedup(emb, tau=0.35).collect()
    assert len(rows) == emb.count()  # one verdict per vector
    kept = {r["vec_id"] for r in rows if r["kept"]}
    # at tau > 1.0-equivalent nothing can be removed
    all_kept = fsim.semantic_dedup(emb, tau=1.0).collect()
    # cos(v,v) pairs are excluded (u < v strict), so tau=1.0 removes
    # only exact-duplicate vectors; every removal set is a subset
    assert {r["vec_id"] for r in all_kept if r["kept"]} >= kept
    with pytest.raises(ValueError):
        fsim.semantic_dedup(emb, tau=0.0)


def test_chunk_documents_overlap_and_tail(spark):
    from siddhi_execution_unique_spark.functions import curation as fcur
    text = " ".join(f"t{i}" for i in range(40))  # 40 tokens
    docs = spark.createDataFrame(
        [(1, text, "en", "s", len(text))],
        "doc_id long, text string, lang string, source string, n_chars long")
    rows = sorted(fcur.chunk_documents(docs).collect(),
                  key=lambda r: r["chunk_id"])
    # starts at 0 and 24: chunk 0 is full 32 tokens, chunk 1 the
    # 16-token tail; no chunk 2 (start 48 >= 40)
    assert [r["n_chunk_tokens"] for r in rows] == [32, 16]
    # md5 of the actual token join
    import hashlib
    toks = text.split()
    want0 = hashlib.md5(" ".join(toks[0:32]).encode()).hexdigest()
    want1 = hashlib.md5(" ".join(toks[24:40]).encode()).hexdigest()
    assert [r["chunk_hash"] for r in rows] == [want0, want1]
    with pytest.raises(ValueError):
        fcur.chunk_documents(docs, chunk_tokens=8, stride=9)
    with pytest.raises(ValueError):
        fcur.chunk_documents(docs, chunk_tokens=0)


def test_temperature_resample_flattens_mixture(spark):
    from siddhi_execution_unique_spark.functions import curation as fcur
    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    out = fcur.temperature_resample(docs).toPandas()
    assert len(out) == docs.count()
    # the smallest cell keeps everything (keep_prob == 1.0)
    assert (out.keep_prob <= 1.0).all() and (out.keep_prob > 0.0).all()
    assert out[out.keep_prob == 1.0].kept.all()
    # sqrt smoothing keeps at least as much as linear
    lin = fcur.temperature_resample(docs, alpha=1.0).toPandas()
    assert out.kept.sum() >= lin.kept.sum()
    # deterministic: same verdicts on a rerun
    again = fcur.temperature_resample(docs).toPandas()
    assert out.sort_values("doc_id").kept.tolist() == \
        again.sort_values("doc_id").kept.tolist()
    with pytest.raises(ValueError):
        fcur.temperature_resample(docs, alpha=0.7)


def test_select_token_budget_greedy_prefix(spark):
    from siddhi_execution_unique_spark.functions import curation as fcur
    from siddhi_execution_unique_spark.functions import text as ftext
    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    out = fcur.select_token_budget(docs, ftext.quality_score(docs),
                                   budget_tokens=300).toPandas()
    # per source: kept docs are exactly the top-quality prefix whose
    # cumulative tokens fit the budget
    for src, grp in out.groupby("source"):
        grp = grp.sort_values(["quality", "doc_id"],
                              ascending=[False, True]).reset_index(drop=True)
        cum = grp.n_toks.cumsum()
        want = (cum <= 300).tolist()
        assert grp.kept.tolist() == want, src
    with pytest.raises(ValueError):
        fcur.select_token_budget(docs, ftext.quality_score(docs),
                                 budget_tokens=0)


def test_pca_project_variance_ordering_and_centering(spark):
    import numpy as np
    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    out = fsim.pca_project(emb).toPandas().sort_values("vec_id")
    P = out[["pc0", "pc1", "pc2", "pc3"]].to_numpy()
    # principal scores come in decreasing-variance order
    v = P.var(axis=0)
    assert v[0] >= v[1] >= v[2] >= v[3] > 0
    # scores are centered up to quantization error (1e-4 fixed point)
    assert np.abs(P.mean(axis=0)).max() < 1e-2
    with pytest.raises(ValueError):
        fsim.pca_project(emb, k=0)
    with pytest.raises(ValueError):
        fsim.pca_project(emb, k=65)


def test_pca_covariance_is_symmetric_model(spark):
    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    rows = fsim.pca_covariance(emb).collect()
    assert len(rows) == 64 * 65 // 2  # upper triangle incl. diagonal
    n = {r["n"] for r in rows}
    assert n == {emb.count()}
    # diagonal entries are n*sum(q²) - sum(q)² >= 0
    assert all(r["cov_num"] >= 0 for r in rows if r["i"] == r["j"])


def test_bpe_merge_pairs_hand_corpus(spark):
    from siddhi_execution_unique_spark.functions import curation as fcur
    docs = spark.createDataFrame(
        [(1, "a b a b c", "en", "s", 9), (2, "a b x", "en", "s", 5),
         (3, "z", "en", "s", 1)],
        "doc_id long, text string, lang string, source string, n_chars long")
    rows = fcur.bpe_merge_pairs(docs, k=2).collect()
    # "a b" occurs 3x (2 in doc1, 1 in doc2) across 2 docs — the merge
    assert (rows[0]["left"], rows[0]["right"]) == ("a", "b")
    assert rows[0]["n_pairs"] == 3 and rows[0]["n_docs"] == 2
    with pytest.raises(ValueError):
        fcur.bpe_merge_pairs(docs, k=0)


def test_bpe_train_greedy_merge_rounds(spark):
    """Iterative BPE (VERDICT r10 item 7): pair counts include
    overlapping occurrences (Sennrich get_stats), but the merge
    consumes greedily left-to-right — within a run of k consecutive
    equal tokens only floor(k/2) pairs merge. Hand-replayed below."""
    from siddhi_execution_unique_spark.functions import curation as fcur
    docs = spark.createDataFrame(
        [(1, "a a a b", "en", "s", 7), (2, "a a b c", "en", "s", 7),
         (3, "a a a", "en", "s", 5)],
        "doc_id long, text string, lang string, source string, n_chars long")
    out = {r["merge_round"]: (r["left"], r["right"], r["n_pairs"])
           for r in fcur.bpe_train(docs, n_merges=3).collect()}
    # round 1: (a,a) counted WITH overlaps = 2+1+2 = 5, beats (a,b)=2
    assert out[1] == ("a", "a", 5)
    # greedy: [a,a,a,b]->[aa,a,b]; [a,a,b,c]->[aa,b,c]; [a,a,a]->[aa,a]
    # round 2: (aa,a)=2 beats (aa,b)=1,(a,b)=1,(b,c)=1
    assert out[2] == ("a a", "a", 2)
    # round 3: n=1 ties ("a a a",b), ("a a",b), (b,c) -> left-asc wins
    assert out[3] == ("a a", "b", 1)
    with pytest.raises(ValueError):
        fcur.bpe_train(docs, n_merges=0)


def test_source_overlap_matrix_counts_shared_shingles(spark):
    from siddhi_execution_unique_spark.functions import curation as fcur
    docs = spark.createDataFrame(
        [(1, "p q r s", "en", "sA", 7),   # shingles: "p q r", "q r s"
         (2, "p q r t", "en", "sB", 7),   # shares "p q r" with sA
         (3, "u v w", "en", "sC", 5)],    # shares nothing
        "doc_id long, text string, lang string, source string, n_chars long")
    rows = fcur.source_overlap_matrix(docs).collect()
    m = {(r["source_a"], r["source_b"]): r["n_shared_shingles"] for r in rows}
    assert m == {("sA", "sB"): 1}


def test_pretrain_chunks_gates_on_cleaned_text(spark):
    from siddhi_execution_unique_spark.functions import pipeline as fpipe
    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    out = fpipe.pretrain_chunks(docs).toPandas()
    # every surviving chunk's quality clears the gate
    assert (out.quality >= 0.65).all()
    # chunk sizes are positive and bounded by the chunk length
    assert (out.n_chunk_tokens > 0).all() and (out.n_chunk_tokens <= 32).all()
    # a strictly higher gate keeps a subset of docs
    strict = fpipe.pretrain_chunks(docs, threshold=0.8).toPandas()
    assert set(strict.doc_id) <= set(out.doc_id)


# ---------------------------------------------------- session-6 additions


def test_funnel_greedy_earliest_semantics(spark):
    from siddhi_execution_unique_spark.functions import analytics as fana
    import datetime as dt

    def t(m):
        return dt.datetime(2024, 1, 1, 0, m)

    events = spark.createDataFrame(
        # user 1: view@0 -> click@10 -> purchase@20 (full funnel)
        [(1, t(0), 1, "view", 0.0, ""), (2, t(10), 1, "click", 0.0, ""),
         (3, t(20), 1, "purchase", 0.0, ""),
         # user 2: click BEFORE the first view never counts; no click after
         (4, t(5), 2, "click", 0.0, ""), (5, t(6), 2, "view", 0.0, ""),
         # user 3: view only
         (6, t(0), 3, "view", 0.0, ""),
         # user 4: purchase before click -> stops at step 2
         (7, t(0), 4, "view", 0.0, ""), (8, t(1), 4, "purchase", 0.0, ""),
         (9, t(2), 4, "click", 0.0, "")],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string")
    out = {r["user_id"]: r for r in fana.funnel(events).collect()}
    assert out[1]["step_reached"] == 3
    assert out[2]["step_reached"] == 1 and out[2]["t2_ms"] == -1
    assert out[3]["step_reached"] == 1
    # user 4's purchase@1 precedes their click@2 -> only steps 1-2
    assert out[4]["step_reached"] == 2 and out[4]["t3_ms"] == -1
    with pytest.raises(ValueError):
        fana.funnel(events, steps=("view",))
    with pytest.raises(ValueError):
        fana.funnel(events, step_window_ms=0)


def test_retention_cohorts_day_zero_is_everyone(spark, sf_dir):
    from siddhi_execution_unique_spark.functions import analytics as fana
    events = load_table(spark, sf_dir, "events")
    out = fana.retention_cohorts(events).toPandas()
    day0 = out[out.day_offset == 0]
    # every user appears in their own cohort's day-0 row
    assert day0.n_users.sum() == events.select("user_id").distinct().count()
    # retention never exceeds the cohort's day-0 size
    sizes = {r.cohort_day: r.n_users for r in day0.itertuples()}
    for r in out.itertuples():
        assert r.n_users <= sizes[r.cohort_day]


def test_bigram_logprob_separates_repetition(spark):
    from siddhi_execution_unique_spark.functions import text as ftext
    docs = spark.createDataFrame(
        [(1, "a a a a a a a a", "en", "s", 15),      # one bigram, fully predictable
         (2, "b c d e f g h i", "en", "s", 15)],     # every bigram unique
        "doc_id long, text string, lang string, source string, n_chars long")
    out = {r["doc_id"]: r for r in ftext.bigram_logprob(docs).collect()}
    # repeated text: p(a|a)=1 -> zero surprisal
    assert out[1]["avg_surprisal"] == 0.0
    # unique continuations of unique contexts are also certain under
    # the corpus LM, but mixing the corpora changes that:
    docs2 = spark.createDataFrame(
        [(1, "x y x z", "en", "s", 7)],  # p(y|x)=p(z|x)=0.5
        "doc_id long, text string, lang string, source string, n_chars long")
    out2 = ftext.bigram_logprob(docs2).collect()[0]
    assert out2["n_bigrams"] == 3 and out2["max_surprisal"] > 0.69


def test_fuzzy_match_finds_corrupted_source(spark, sf_dir):
    from siddhi_execution_unique_spark.functions import fuzzy as ffuzzy
    part = load_table(spark, sf_dir, "part")
    out = ffuzzy.fuzzy_match_names(part).toPandas()
    assert len(out) > 0
    # every match is within the edit budget and shares enough grams
    assert (out.edit_dist <= ffuzzy.MAX_DIST).all()
    assert (out.n_shared_grams >= ffuzzy.MIN_SHARED).all()
    # a probe's own source name is at distance 1, so the winner is
    # never worse than that
    assert (out.edit_dist <= 1).all()


def test_hll_distinct_estimate_close_and_mergeable(spark, sf_dir):
    from siddhi_execution_unique_spark.functions import sketch as fsk
    events = load_table(spark, sf_dir, "events")
    out = fsk.hll_distinct(events).toPandas()
    assert (out.n_registers_hit <= fsk.HLL_M).all()
    # linear-counting regime at this scale: estimate within 10%
    rel = (out.hll_estimate - out.n_exact).abs() / out.n_exact
    assert (rel < 0.10).all()
    # merge property: the sketch of a UNION equals max-merged registers,
    # so estimating over a doubled corpus (union with itself) is a no-op
    doubled = events.unionByName(events)
    out2 = fsk.hll_distinct(doubled).toPandas()
    assert (out2.sort_values("event_type").hll_estimate.values
            == out.sort_values("event_type").hll_estimate.values).all()


def test_pagerank_mass_and_symmetry(spark, sf_dir):
    from siddhi_execution_unique_spark.functions import graph as fgraph
    docs = load_table(spark, sf_dir, "documents")
    out = fgraph.near_dup_pagerank(docs).toPandas()
    if len(out) == 0:
        pytest.skip("no near-dup edges at this sf")
    # total rank mass stays ~1 (no dangling loss on a symmetric graph)
    assert abs(out.pagerank.sum() - 1.0) < 1e-6
    # rank grows with degree on this graph's near-clique structure:
    # max-degree node is never ranked below a degree-1 node
    top = out.sort_values(["pagerank"]).iloc[-1]
    assert top.deg >= out.deg.min()
    with pytest.raises(ValueError):
        fgraph.near_dup_pagerank(docs, n_iters=0)


def test_absence_pattern_hand_example(spark):
    from siddhi_execution_unique_spark.functions import analytics as fana
    import datetime as dt

    def t(m):
        return dt.datetime(2024, 1, 1, 0, m)

    events = spark.createDataFrame(
        # user 1: error@0, purchase@30 -> matched (no absence)
        [(1, t(0), 1, "error", 0.0, ""), (2, t(30), 1, "purchase", 0.0, ""),
         # user 2: error@0, purchase 2h later -> absence
         (3, t(0), 2, "error", 0.0, ""), (4, dt.datetime(2024, 1, 1, 2, 0), 2, "purchase", 0.0, ""),
         # user 3: purchase BEFORE the error only -> absence
         (5, t(0), 3, "purchase", 0.0, ""), (6, t(10), 3, "error", 0.0, "")],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string")
    got = {r["event_id"] for r in fana.absence(events).collect()}
    assert got == {3, 6}
    with pytest.raises(ValueError):
        fana.absence(events, window_ms=0)
    with pytest.raises(ValueError):
        fana.absence(events, first="error", absent="error")


def test_transition_matrix_probs_sum_to_one(spark, sf_dir):
    from siddhi_execution_unique_spark.functions import analytics as fana
    events = load_table(spark, sf_dir, "events")
    out = fana.transition_matrix(events).toPandas()
    assert (out.n_transitions > 0).all()
    # each from_type's outgoing probabilities sum to ~1
    sums = out.groupby("from_type").prob.sum()
    assert ((sums - 1.0).abs() < 1e-4).all()
    # total transitions = total events - one per user (last has no next)
    n_events = events.count()
    n_users = events.select("user_id").distinct().count()
    assert out.n_transitions.sum() == n_events - n_users


def test_incremental_near_dup_flags_planted_neighbor(spark):
    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog again and again", "en", "s", 60),
         (2, "completely different text about spark query planning internals", "en", "s", 62),
         # new batch: 101 is a near-copy of manifest doc 1, 102 is novel
         (101, "the quick brown fox jumps over the lazy dog again and again", "en", "s", 60),
         (102, "unrelated fresh content with nothing shared at all here", "en", "s", 55)],
        "doc_id long, text string, lang string, source string, n_chars long")
    manifest = fdedup.minhash_signatures(docs.filter(F.col("doc_id") < 100))
    out = fdedup.incremental_near_dup(
        docs.filter(F.col("doc_id") >= 100), manifest
    ).collect()
    got = {(r["doc_id"], r["old_id"]) for r in out}
    assert (101, 1) in got
    assert all(r["n_sig_match"] >= fdedup.MIN_SIG_MATCH for r in out)
    assert not any(d == 102 for d, _ in got)


def test_scd2_intervals_islands(spark):
    from siddhi_execution_unique_spark.functions import analytics as fana
    import datetime as dt

    def d(day):
        return dt.datetime(2024, 1, day)

    orders = spark.createDataFrame(
        # cust 1: O,O,F,O -> three runs (O x2, F, O)
        [(1, 1, "O", 1.0, d(1), "x"), (2, 1, "O", 1.0, d(2), "x"),
         (3, 1, "F", 1.0, d(3), "x"), (4, 1, "O", 1.0, d(4), "x"),
         # cust 2: single open run
         (5, 2, "P", 1.0, d(1), "x")],
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, o_orderpriority string")
    rows = {(r["o_custkey"], r["run_seq"]): r
            for r in fana.scd2_intervals(orders).collect()}
    assert len(rows) == 4
    assert rows[(1, 1)]["o_orderstatus"] == "O" and rows[(1, 1)]["n_orders"] == 2
    assert rows[(1, 2)]["o_orderstatus"] == "F"
    # each closed run's valid_to is the next run's valid_from
    assert rows[(1, 1)]["valid_to_ms"] == rows[(1, 2)]["valid_from_ms"]
    assert rows[(1, 3)]["valid_to_ms"] == -1  # open
    assert rows[(2, 1)]["valid_to_ms"] == -1


def test_ppm_decode_roundtrip_and_edge_cases(spark):
    import numpy as np
    # whitespace byte (0x0A) as FIRST pixel byte: the classic parsing
    # bug a naive split() would hit
    body = bytes([0x0A, 1, 2] + list(range(3, 48)))  # one 16x1 row
    img = fmm.decode_image(b"P6\n16 1\n255\n" + body)
    assert img.shape == (1, 16, 3)
    assert img.ravel().tolist() == list(body)
    # compressed formats still stub
    with pytest.raises(NotImplementedError):
        fmm.decode_image(b"\x89PNG\r\n")
    with pytest.raises(ValueError):
        fmm.decode_image(b"P6\n16 1\n255\n\x00")  # truncated body
    # real-decode feature path runs end-to-end on generated payloads
    docs = spark.createDataFrame(
        [(1, "hello world", "en", "s", 11)],
        "doc_id long, text string, lang string, source string, n_chars long")
    out = fmm.decode_stats(docs).collect()[0]
    raw = b"hello world"
    assert out["n_pixel_bytes"] == 48
    assert out["pixel_sum"] == sum(raw)
    assert out["zero_bin"] == sum(1 for b in raw if b % 16 == 0) + (48 - len(raw))


def test_train_val_test_split_stable_under_growth(spark, sf_dir):
    from siddhi_execution_unique_spark.functions import curation as fcur
    docs = load_table(spark, sf_dir, "documents")
    full = fcur.train_val_test_split(docs).toPandas()
    assert set(full.split) <= {"train", "val", "test"}
    # growth stability: restricting the corpus never moves a doc's
    # split — the half-corpus manifest is dominated by the full one
    half = fcur.train_val_test_split(docs.filter(F.col("doc_id") % 2 == 0)).toPandas()
    f = {(r.source, r.split): r.n_docs for r in full.itertuples()}
    for r in half.itertuples():
        assert f.get((r.source, r.split), 0) >= r.n_docs
    with pytest.raises(ValueError):
        fcur.train_val_test_split(docs, val_pct=60, test_pct=50)


def test_label_outliers_flags_planted_outlier(spark):
    # two tight clusters plus one far point in label 0
    rows = []
    for i in range(5):
        rows.append((i, [1.0, 0.0, 0.0, 0.0], 0))
        rows.append((10 + i, [0.0, 1.0, 0.0, 0.0], 1))
    rows.append((99, [-5.0, 0.0, 0.0, 0.0], 0))  # planted outlier
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int")
    out = {r["label"]: r for r in fsim.label_outliers(emb).collect()}
    assert out[0]["outlier_vec_id"] == 99
    assert out[0]["max_d2"] > out[1]["max_d2"]
    # a perfectly tight cluster has ~zero spread
    assert out[1]["avg_d2"] < 1e-6


def test_triangles_counts_known_graph(spark):
    # plant: docs 0,1,2 identical (a 3-clique in the near-dup graph),
    # doc 3 identical to 4 (an edge, no triangle), doc 5 unique
    base = "alpha beta gamma delta epsilon zeta eta theta " * 12
    other = "one two three four five six seven eight nine ten " * 12
    rows = [(i, base, "en", "s", len(base)) for i in range(3)]
    rows += [(3, other, "en", "s", len(other)), (4, other, "en", "s", len(other))]
    rows += [(5, "totally unrelated words entirely different corpus text body", "en", "s", 60)]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long")
    from siddhi_execution_unique_spark.functions import graph as fgraph
    out = {r.doc_id: r for r in fgraph.near_dup_triangles(docs).collect()}
    for d in (0, 1, 2):
        assert out[d].deg == 2 and out[d].n_tri == 1
        assert out[d].lcc_micro == 1_000_000  # fully closed neighborhood
    for d in (3, 4):
        assert out[d].deg == 1 and out[d].n_tri == 0 and out[d].lcc_micro == 0
    assert 5 not in out  # no edges -> not a graph node


def test_countmin_never_underestimates_and_exact_when_sparse(spark, sf_dir):
    from siddhi_execution_unique_spark.functions import sketch as fsk
    events = load_table(spark, sf_dir, "events")
    out = fsk.countmin_heavy_hitters(events).toPandas()
    assert (out.overcount >= 0).all()  # count-min errs only upward
    assert (out.cm_estimate >= out.n_exact).all()
    # top-ranked exact counts really are the heaviest users
    exact = events.groupBy("user_id").count().toPandas()
    top_exact = set(
        exact.sort_values(["count", "user_id"], ascending=[False, True])
        .head(len(out)).user_id
    )
    assert set(out.user_id) == top_exact
    with pytest.raises(ValueError):
        fsk.countmin_heavy_hitters(events, d=0)
    with pytest.raises(ValueError):
        fsk.countmin_heavy_hitters(events, top=0)


def test_bloom_prefilter_no_false_negatives(spark, sf_dir):
    from siddhi_execution_unique_spark.functions import sketch as fsk
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    row = fsk.bloom_prefilter_join(orders, lineitem).collect()[0]
    # every true match survives the filter; false positives are the
    # only slack, and the pass set never exceeds the probe set
    assert row.n_bloom_pass >= row.n_true_match
    assert row.n_false_pos == row.n_bloom_pass - row.n_true_match
    assert row.n_probe >= row.n_bloom_pass
    with pytest.raises(ValueError):
        fsk.bloom_prefilter_join(orders, lineitem, m=0)


def test_phrase_search_finds_planted_phrase(spark):
    from siddhi_execution_unique_spark.functions import retrieval as fret
    rows = [(i, "quick brown fox " * 10, "en", "s", 160) for i in range(4)]
    rows.append((9, "quick red fox jumps", "en", "s", 19))
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long")
    out = fret.phrase_search(docs, n_phrases=2).collect()
    got = {(r.w1, r.w2): r for r in out if r.doc_id == 0}
    # "quick brown" and "brown fox" dominate; doc 0 has 10 of each
    assert ("quick", "brown") in got and got[("quick", "brown")].n_occ == 10
    # doc 9 contains neither top phrase (adjacency matters: it has
    # "quick red", not "quick brown")
    assert not [r for r in out if r.doc_id == 9]
    with pytest.raises(ValueError):
        fret.phrase_search(docs, n_phrases=0)


def test_zorder_files_bound_both_dims(spark, sf_dir):
    from siddhi_execution_unique_spark.functions import curation as fcur
    events = load_table(spark, sf_dir, "events")
    out = fcur.zorder_layout(events).toPandas()
    assert int(out.n_rows.sum()) == events.count()
    # top-6-bit files fix 3 high bits of each 10-bit dim: every file's
    # span in BOTH dimensions is <= 2^7 = 128 of the 1024 range — the
    # multidimensional-pruning guarantee a linear sort cannot give
    assert (out.ub_span <= 128).all()
    assert (out.hb_span <= 128).all()
    with pytest.raises(ValueError):
        fcur.zorder_layout(events, bits=0)
    with pytest.raises(ValueError):
        fcur.zorder_layout(events, file_shift=40)


def test_gap_fill_locf_dense_grid_and_carry(spark):
    from siddhi_execution_unique_spark.functions import analytics as fana
    rows = [
        # user 1: events in hours 0 and 3 -> hours 1,2 are gaps
        (1, 0, 1, "view", 10.0, ""),
        (2, 3 * 3_600_000, 1, "view", 99.0, ""),
        # user 2: single hour, no gaps
        (3, 3_600_000, 2, "view", 5.0, ""),
    ]
    events = spark.createDataFrame(
        [(i, __import__("datetime").datetime.utcfromtimestamp(ms / 1000), u, t, v, p)
         for (i, ms, u, t, v, p) in rows],
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string")
    out = {(r.user_id, r.hb): r for r in fana.gap_fill_locf(events).collect()}
    assert len(out) == 5  # user 1: hours 0..3 (4 rows); user 2: 1 row
    assert out[(1, 0)].v_filled == 10.0 and out[(1, 0)].is_gap == 0
    assert out[(1, 1)].v_filled == 10.0 and out[(1, 1)].is_gap == 1  # carried
    assert out[(1, 2)].v_filled == 10.0 and out[(1, 2)].is_gap == 1
    assert out[(1, 3)].v_filled == 99.0 and out[(1, 3)].is_gap == 0
    assert out[(2, 1)].n_events == 1
    with pytest.raises(ValueError):
        fana.gap_fill_locf(events, cohort=0)


def test_priority_sample_weight_monotone_and_deterministic(spark, sf_dir):
    from siddhi_execution_unique_spark.functions import curation as fcur
    docs = load_table(spark, sf_dir, "documents")
    a = fcur.priority_sample(docs).toPandas()
    b = fcur.priority_sample(docs).toPandas()
    assert a.equals(b)  # reproducible sample
    # inclusion probability rises with weight: the sampled docs'
    # mean weight must exceed the corpus mean
    corpus_mean = docs.agg(F.avg("n_chars")).collect()[0][0]
    assert a.w.mean() > corpus_mean
    with pytest.raises(ValueError):
        fcur.priority_sample(docs, k=0)


def test_wav_decode_roundtrip_and_failure_modes(spark):
    import numpy as np
    import struct
    from siddhi_execution_unique_spark.functions import multimodal as fmm
    # hand-built 3-sample PCM16 mono WAV
    samples = np.array([-300, 0, 500], dtype="<i2")
    data = samples.tobytes()
    wav = (b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
           + b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, 8000, 16000, 2, 16)
           + b"data" + struct.pack("<I", len(data)) + data)
    rate, out = fmm.decode_audio(wav)
    assert rate == 8000 and out.tolist() == [-300, 0, 500]
    # compressed container -> declared stub
    with pytest.raises(NotImplementedError):
        fmm.decode_audio(b"\xff\xfb\x90\x00 mp3 frame")
    # non-PCM format code -> declared stub
    bad_fmt = wav.replace(struct.pack("<IHH", 16, 1, 1),
                          struct.pack("<IHH", 16, 85, 1), 1)
    with pytest.raises(NotImplementedError):
        fmm.decode_audio(bad_fmt)
    # truncated data chunk -> loud failure, never zero-fill
    with pytest.raises(ValueError):
        fmm.decode_audio(wav[:-2])
    # end-to-end: stats read the REAL header and the REAL samples
    docs = spark.createDataFrame(
        [(1, "ab", "en", "s", 2)],
        "doc_id long, text string, lang string, source string, n_chars long")
    row = fmm.audio_stats(docs).collect()[0]
    # 'a'=97: (97-128+64)*128 = 4224 ; 'b'=98: (98-128-64)*128 = -12032
    assert row.sample_rate == 8000 and row.n_samples == 2
    assert row.amp_sum == 4224 + 12032 and row.peak == 12032
    assert row.zero_crossings == 1


def test_y4m_decode_walks_frames_and_fails_loud(spark):
    import numpy as np
    from siddhi_execution_unique_spark.functions import multimodal as fmm
    # hand-built 2x2 C420 clip with two frames
    y1, y2 = bytes([10, 20, 30, 40]), bytes([50, 60, 70, 80])
    c = bytes([128])  # 1 U + 1 V byte per frame at 2x2
    clip = (b"YUV4MPEG2 W2 H2 F25:1 Ip A1:1 C420\n"
            + b"FRAME\n" + y1 + c + c
            + b"FRAME\n" + y2 + c + c)
    w, h, frames = fmm.decode_video(clip)
    assert (w, h) == (2, 2) and len(frames) == 2
    assert frames[0].tolist() == [[10, 20], [30, 40]]
    assert frames[1].tolist() == [[50, 60], [70, 80]]
    with pytest.raises(NotImplementedError):
        fmm.decode_video(b"\x00\x00\x01\xba mpeg-ps")
    with pytest.raises(NotImplementedError):
        fmm.decode_video(b"YUV4MPEG2 W2 H2 C444\nFRAME\n" + bytes(12))
    with pytest.raises(ValueError):
        fmm.decode_video(clip[:-1])  # truncated last frame
    # end-to-end over a tiny doc: one padded frame, exact luma math
    docs = spark.createDataFrame(
        [(1, "ab", "en", "s", 2)],
        "doc_id long, text string, lang string, source string, n_chars long")
    rows = fmm.video_frame_stats(docs).collect()
    assert len(rows) == 1 and rows[0].frame_idx == 0
    assert rows[0].luma_sum == 97 + 98          # 'a' + 'b'
    assert rows[0].luma_zero == 32 * 4 - 2      # padding zeros


def test_data_profile_counts_nulls_and_distincts(spark):
    from siddhi_execution_unique_spark.functions import curation as fcur
    import datetime
    rows = [
        (1, datetime.datetime(2024, 1, 1), 10, "view", 1.5, "a"),
        (2, datetime.datetime(2024, 1, 1), 10, "click", None, None),
        (3, datetime.datetime(2024, 1, 1), 20, "view", 2.5, "a"),
    ]
    events = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string")
    prof = {r.col_name: r for r in fcur.data_profile(events).collect()}
    assert prof["user_id"].n_distinct == 2 and prof["user_id"].n_null == 0
    assert prof["event_type"].n_distinct == 2
    assert prof["value"].n_null == 1 and prof["value"].n_distinct == 2
    assert prof["props"].n_null == 1 and prof["props"].min_repr == "a"
    assert all(r.n_rows == 3 for r in prof.values())
    with pytest.raises(ValueError):
        fcur.data_profile(events, cols=("nope",))
    with pytest.raises(ValueError):
        fcur.data_profile(events, cols=())


def test_join_key_health_ranks_fanout(spark, sf_dir):
    from siddhi_execution_unique_spark.functions import curation as fcur
    events = load_table(spark, sf_dir, "events")
    orders = load_table(spark, sf_dir, "orders")
    out = fcur.join_key_health(events, orders).toPandas()
    assert (out.pair_rows == out.n_left * out.n_right).all()
    assert (out.pair_rows.is_monotonic_decreasing)
    assert (out.share_bp <= 10000).all() and (out.share_bp >= 0).all()
    # the report's total equals the true join cardinality
    true_rows = events.join(
        orders, events["user_id"] == orders["o_custkey"]
    ).count()
    assert int(out.total_join_rows.iloc[0]) == true_rows
    with pytest.raises(ValueError):
        fcur.join_key_health(events, orders, top=0)


def test_hourly_anomalies_flags_planted_spike(spark):
    import datetime
    from siddhi_execution_unique_spark.functions import analytics as fana
    # user 1: 10 calm hours at value 10, then a 100x spike
    rows = []
    for h in range(10):
        rows.append((h, datetime.datetime(2024, 1, 1, h), 1, "view", 10.0, ""))
    rows.append((10, datetime.datetime(2024, 1, 1, 10), 1, "view", 1000.0, ""))
    events = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string")
    out = {r.hb % 24: r for r in fana.hourly_anomalies(events).collect()}
    assert out[10].is_anomaly == 1           # the spike
    assert all(r.is_anomaly == 0 for h, r in out.items() if h != 10)
    # zero-variance history + identical value is NOT an anomaly
    # ((n*x-S)^2 = 0 = 9*0): strictness matters
    assert out[9].is_anomaly == 0
    with pytest.raises(ValueError):
        fana.hourly_anomalies(events, hist=1)


def test_funnel_latency_buckets_are_bit_lengths(spark):
    import datetime
    from siddhi_execution_unique_spark.functions import analytics as fana
    base = datetime.datetime(2024, 1, 1)
    ms = lambda s: base + datetime.timedelta(milliseconds=s)
    rows = [
        (1, ms(0), 1, "view", 0.0, ""), (2, ms(5), 1, "click", 0.0, ""),
        (3, ms(0), 2, "view", 0.0, ""), (4, ms(1000), 2, "click", 0.0, ""),
        (5, ms(1100), 2, "purchase", 0.0, ""),
    ]
    events = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string")
    out = {(r.step_pair, r.bucket): r for r in fana.funnel_latency(events).collect()}
    # 5 ms -> bin '101' -> bucket 3 ; 1000 ms -> 10 bits ; 100 ms -> 7 bits
    assert out[("view->click", 3)].n_users == 1
    assert out[("view->click", 10)].min_ms == 1000
    assert out[("click->purchase", 7)].max_ms == 100


def test_json_props_counts_malformed_rows(spark):
    import datetime
    from siddhi_execution_unique_spark.functions import analytics as fana
    ts = datetime.datetime(2024, 1, 1)
    rows = [
        (1, ts, 1, "view", 0.0, '{"k": 87}'),
        (2, ts, 1, "view", 0.0, '{"k": 3}'),
        (3, ts, 1, "view", 0.0, 'not json'),
        (4, ts, 1, "view", 0.0, '{"other": 1}'),
        (5, ts, 1, "view", 0.0, None),
        (6, ts, 1, "click", 0.0, '{"k": 10}'),
    ]
    events = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string")
    out = {(r.event_type, r.k_bucket): r for r in fana.json_props_stats(events).collect()}
    assert out[("view", 8)].n == 1 and out[("view", 8)].sum_k == 87
    assert out[("view", 0)].sum_k == 3
    # malformed / missing-key / null rows are counted, never dropped
    assert out[("view", -1)].n == 3 and out[("view", -1)].n_bad == 3
    assert out[("click", 1)].n == 1


def test_value_trend_recovers_planted_slope(spark):
    import datetime
    from siddhi_execution_unique_spark.functions import analytics as fana
    # exact line: value = 5 + 2*t over hours t = 0..9 -> slope 2/hr
    rows = [(t, datetime.datetime(2024, 1, 1) + datetime.timedelta(hours=t),
             1, "view", 5.0 + 2.0 * t, "") for t in range(10)]
    # a flat series in another type -> slope 0
    rows += [(100 + t, datetime.datetime(2024, 1, 1) + datetime.timedelta(hours=t),
              1, "click", 7.0, "") for t in range(10)]
    events = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string")
    out = {r.event_type: r for r in fana.value_trend_by_type(events).collect()}
    assert out["view"].slope_micro == 2_000_000       # 2.0/hour exactly
    assert out["view"].intercept_micro == 5_000_000   # 5.0 at t=0
    assert out["click"].slope_micro == 0
    assert out["click"].intercept_micro == 7_000_000


def test_chi2_zero_on_independent_and_positive_on_skew(spark):
    import datetime
    from siddhi_execution_unique_spark.functions import analytics as fana
    ts = datetime.datetime(2024, 1, 1)
    # perfectly balanced design: every (type, cohort) cell equal ->
    # chi2 == 0 in every part
    rows = []
    i = 0
    for t in ("view", "click"):
        for u in range(8):
            for _ in range(3):
                rows.append((i, ts, u, t, 0.0, "")); i += 1
    events = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string")
    out = fana.chi2_type_vs_cohort(events).toPandas()
    assert (out.chi2_nano_part == 0).all()
    # now skew cohort 0 heavily toward clicks -> statistic goes positive
    rows += [(1000 + j, ts, 0, "click", 0.0, "") for j in range(24)]
    events2 = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string")
    out2 = fana.chi2_type_vs_cohort(events2).toPandas()
    assert int(out2.chi2_nano_part.sum()) > 0
    with pytest.raises(ValueError):
        fana.chi2_type_vs_cohort(events, cohorts=1)


def test_time_weighted_avg_weights_by_duration(spark):
    import datetime
    from siddhi_execution_unique_spark.functions import analytics as fana
    base = datetime.datetime(2024, 1, 1)
    mk = lambda s: base + datetime.timedelta(seconds=s)
    # user 1: value 10 held for 9s, then 100 for 1s -> TWA = 19, while
    # the plain average of samples would be 55 (3 samples: 10,100,x)
    rows = [
        (1, mk(0), 1, "view", 10.0, ""),
        (2, mk(9), 1, "view", 100.0, ""),
        (3, mk(10), 1, "view", 0.0, ""),   # closes the last interval
    ]
    events = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string")
    out = fana.time_weighted_avg(events).collect()[0]
    assert out.span_ms == 10_000 and out.n_points == 3
    assert out.twa_micro == 19_000_000  # (10*9000 + 100*1000)/10000 = 19
    with pytest.raises(ValueError):
        fana.time_weighted_avg(events, cohort=0)


def test_vocab_top_per_lang_matches_naive_window(spark, sf_dir):
    from siddhi_execution_unique_spark.functions import curation as fcur
    docs = load_table(spark, sf_dir, "documents")
    got = {(r.lang, r.rank): (r.token, r.n_occurrences)
           for r in fcur.vocab_top_per_lang(docs).collect()}
    # naive single-window form (fine at test scale) must agree exactly
    from pyspark.sql.window import Window as W
    counts = (docs.select("lang", F.explode(F.expr(
        "split(trim(lower(text)), '\\\\s+')")).alias("token"))
        .groupBy("lang", "token").count())
    w = W.partitionBy("lang").orderBy(F.desc("count"), F.asc("token"))
    want = {(r.lang, r.rank): (r.token, r["count"])
            for r in counts.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= 20).collect()}
    assert got == want
    with pytest.raises(ValueError):
        fcur.vocab_top_per_lang(docs, k=0)


def test_disorder_stats_flags_planted_late_event(spark):
    import datetime
    from siddhi_execution_unique_spark.functions import analytics as fana
    rows = [
        (1, datetime.datetime(2024, 1, 1, 0, 0, 10), 1, "view", 0.0, ""),
        (2, datetime.datetime(2024, 1, 1, 0, 0, 0), 1, "view", 0.0, ""),  # 10s late
        (3, datetime.datetime(2024, 1, 1, 0, 0, 11), 1, "view", 0.0, ""),
    ]
    events = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string")
    out = {r.late_bucket: r for r in fana.disorder_stats(events, n_buckets=2).collect()}
    # 10,000 ms lateness -> bit_length 14; the in-order event -> bucket 1;
    # the stream-first event (no front yet) is excluded
    assert out[14].n_events == 1 and out[14].max_late_ms == 10_000
    assert out[1].n_events == 1 and out[1].max_late_ms == 0
    assert sum(r.n_events for r in out.values()) == 2
    with pytest.raises(ValueError):
        fana.disorder_stats(events, n_buckets=0)


def test_ks_drift_zero_on_identical_and_one_on_disjoint(spark):
    import datetime
    from siddhi_execution_unique_spark.functions import analytics as fana
    ts = datetime.datetime(2024, 1, 1)
    # identical distributions (same values in both cohorts) -> D = 0
    rows = []
    i = 0
    for v in (1.0, 2.0, 3.0):
        for u in (0, 1, 2, 3):  # users 0,2 -> cohort A; 1,3 -> cohort B
            rows.append((i, ts, u, "view", v, "")); i += 1
    events = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string")
    out = fana.ks_cohort_drift(events).collect()[0]
    assert out.ks_micro == 0 and out.d_num_max == 0
    # disjoint supports (A all low, B all high) -> D = 1
    rows2 = [(i, ts, 0, "view", 1.0, "") for i in range(6)]
    rows2 += [(10 + i, ts, 1, "view", 9.0, "") for i in range(6)]
    events2 = spark.createDataFrame(
        rows2, "event_id long, ts timestamp, user_id long, event_type string, value double, props string")
    out2 = fana.ks_cohort_drift(events2).collect()[0]
    assert out2.ks_micro == 1_000_000
    assert out2.at_q == 1000  # the max gap sits at the low support
    with pytest.raises(ValueError):
        fana.ks_cohort_drift(events, n_buckets=0)


def test_jpeg_decode_roundtrip_and_failure_modes(spark):
    # real baseline JPEG decode: huffman entropy decode + dequant +
    # IDCT must return the EXACT constant blocks the encoder wrote
    # (all-ones quant table keeps the DC-only blocks representable)
    import numpy as np

    body = bytes(range(256)) + b"edge \xff\x00 bytes"
    j = fmm.encode_gray_jpeg(body)
    img = fmm.decode_jpeg(j)
    n = max(1, -(-len(body) // fmm.JPEG_W_BLOCKS)) * fmm.JPEG_W_BLOCKS
    vals = np.frombuffer(body.ljust(n, b"\x00"), dtype=np.uint8)
    assert img.shape == (n // fmm.JPEG_W_BLOCKS * 8, fmm.JPEG_W_BLOCKS * 8)
    for i, v in enumerate(vals):
        r, c = divmod(i, fmm.JPEG_W_BLOCKS)
        block = img[r * 8:(r + 1) * 8, c * 8:(c + 1) * 8]
        assert (block == v).all()
    # declared boundaries fail LOUD with the declared types
    with pytest.raises(ValueError):
        fmm.decode_jpeg(b"\x89PNG\r\n\x1a\n")  # not a JPEG
    # progressive (SOF2) now decodes; a BASELINE stream merely
    # relabeled SOF2 is malformed (its single scan spans the whole
    # band with a DC table) and must fail loud as a ValueError
    with pytest.raises(ValueError):
        fmm.decode_jpeg(j.replace(b"\xff\xc0", b"\xff\xc2", 1))
    # sequential arithmetic (SOF9) now DECODES (conformance-pinned in
    # test_properties); the differential/hierarchical processes stay
    # typed boundaries
    with pytest.raises(NotImplementedError):
        fmm.decode_jpeg(j.replace(b"\xff\xc0", b"\xff\xcd", 1))
    # progressive streams with the same constant-block content decode
    # identically to the baseline form (DC successive approximation +
    # EOB-run AC scans)
    prog = fmm.encode_gray_jpeg_progressive(body)
    import numpy as np
    assert (fmm.decode_jpeg(prog) == img).all()
    # sampling factors 1 and 2 now decode (4:2:0 etc.); factor 3 is
    # the declared boundary
    subsampled = bytearray(j)
    sof = j.index(b"\xff\xc0")
    subsampled[sof + 11] = 0x31  # H=3, V=1 sampling
    with pytest.raises(NotImplementedError):
        fmm.decode_jpeg(bytes(subsampled))
    with pytest.raises(ValueError):
        fmm.decode_jpeg(j[:40])  # truncated before the scan


def test_png_decode_real_inflate_and_filters(spark):
    # the from-scratch INFLATE must decode REFERENCE zlib streams
    # (stored, fixed, dynamic huffman + LZ77 back-references), and the
    # reference zlib must accept OUR fixed-huffman deflate — mutual
    # validation, not a self-consistent pair of bugs
    import zlib
    import numpy as np

    data = (b"the quick brown fox " * 200) + bytes(range(256))
    for level in (0, 1, 9):
        assert fmm._zlib_decompress(zlib.compress(data, level)) == data
    ours = fmm._deflate_fixed_literals(bytes(range(200)))
    assert zlib.decompress(ours, -15) == bytes(range(200))
    # lossless roundtrip: decoded pixels ARE the raw bytes (+ padding)
    body = bytes(range(256)) * 2 + b"tail\xff\x00"
    img = fmm.decode_png(fmm.encode_gray_png(body))
    n = max(1, -(-len(body) // fmm.PNG_W)) * fmm.PNG_W
    want = np.frombuffer(body.ljust(n, b"\x00"), dtype=np.uint8).reshape(-1, fmm.PNG_W)
    assert (img == want).all()
    # declared boundaries fail loud
    with pytest.raises(ValueError):
        fmm.decode_png(b"\xff\xd8 not a png")
    corrupted = bytearray(fmm.encode_gray_png(b"abc"))
    corrupted[40] ^= 0xFF
    with pytest.raises(ValueError):
        fmm.decode_png(bytes(corrupted))  # CRC must be verified


def test_gunzip_mutual_validation_and_failures(spark):
    # our gunzip decodes REFERENCE gzip output (dynamic huffman + LZ77
    # + FNAME header), reference gzip decodes our writer, multi-member
    # streams concatenate, corrupted CRC fails loud
    import gzip as refgzip
    import io

    data = b"corpus line\n" * 100 + bytes(range(256))
    buf = io.BytesIO()
    with refgzip.GzipFile(fileobj=buf, mode="wb", filename="x.jsonl") as g:
        g.write(data)
    assert fmm.gunzip(buf.getvalue()) == data
    assert refgzip.decompress(fmm.gzip_compress(data)) == data
    assert fmm.gunzip(fmm.gzip_compress(b"abc") + fmm.gzip_compress(b"def")) == b"abcdef"
    corrupted = bytearray(fmm.gzip_compress(b"hello world"))
    corrupted[-6] ^= 0xFF
    with pytest.raises(ValueError):
        fmm.gunzip(bytes(corrupted))
    with pytest.raises(ValueError):
        fmm.gunzip(b"\x1f\x8c not gzip")


def test_flac_roundtrip_and_failure_modes(spark):
    # real Rice-coded fixed-predictor FLAC: adversarial waveforms must
    # roundtrip bit-exactly; CRC corruption must fail loud; LPC /
    # stereo-decorrelation markers raise the declared boundary
    import numpy as np

    rng = np.random.default_rng(11)
    for s in (
        np.zeros(0, dtype=np.int64),                       # zero-frame stream
        np.zeros(10, dtype=np.int64),
        np.arange(-5000, 5000, 7, dtype=np.int64),
        rng.integers(-32768, 32767, 9000),                 # 3 frames, noise
        np.array([32767, -32768, 32767, -32768], dtype=np.int64),
        np.array([5], dtype=np.int64),
    ):
        rate, d = fmm.decode_flac(fmm.encode_flac(s))
        assert rate == fmm.FLAC_RATE
        assert len(d) == len(s) and (d == np.asarray(s)).all()
    f = fmm.encode_flac(rng.integers(-1000, 1000, 500))
    corrupted = bytearray(f)
    corrupted[-1] ^= 0xFF
    with pytest.raises(ValueError):
        fmm.decode_flac(bytes(corrupted))  # frame CRC-16
    with pytest.raises(ValueError):
        fmm.decode_flac(b"OggS not flac")


def test_jpeg_color_444_path(spark):
    # pin the 3-component 4:4:4 YCbCr->RGB decode path with a
    # hand-built color stream (the module's encoder is grayscale):
    # constant Y blocks with neutral chroma must decode to gray RGB
    import struct

    import numpy as np
    from siddhi_execution_unique_spark.functions.multimodal import (
        _AC_LUM_BITS, _AC_LUM_VALS, _DC_LUM_BITS, _DC_LUM_VALS,
        _BitWriter, _dc_category, _huffman_codes, decode_jpeg,
    )

    ys = [0, 64, 128, 200, 255]  # 5 blocks wide, 1 block tall
    dc_codes = _huffman_codes(_DC_LUM_BITS, _DC_LUM_VALS)
    ac_codes = _huffman_codes(_AC_LUM_BITS, _AC_LUM_VALS)
    bw = _BitWriter()
    preds = [0, 0, 0]
    for y in ys:
        for ci, val in enumerate((y, 128, 128)):  # Y, Cb, Cr per MCU
            dc = 8 * (val - 128)
            diff = dc - preds[ci]
            preds[ci] = dc
            s = _dc_category(diff)
            code, length = dc_codes[s]
            bw.put(code, length)
            if s:
                bw.put(diff if diff > 0 else diff + (1 << s) - 1, s)
            code, length = ac_codes[0x00]
            bw.put(code, length)
    scan = bw.flush()

    def seg(marker, payload):
        return bytes([0xFF, marker]) + struct.pack(">H", len(payload) + 2) + payload

    jpg = b"".join([
        b"\xff\xd8",
        seg(0xDB, bytes([0x00]) + bytes(64 * [1])),
        seg(0xC0, struct.pack(">BHHB", 8, 8, 8 * len(ys), 3)
            + bytes([1, 0x11, 0, 2, 0x11, 0, 3, 0x11, 0])),
        seg(0xC4, bytes([0x00]) + bytes(_DC_LUM_BITS) + bytes(_DC_LUM_VALS)),
        seg(0xC4, bytes([0x10]) + bytes(_AC_LUM_BITS) + bytes(_AC_LUM_VALS)),
        seg(0xDA, bytes([3, 1, 0x00, 2, 0x00, 3, 0x00, 0, 63, 0])),
        scan,
        b"\xff\xd9",
    ])
    img = decode_jpeg(jpg)
    assert img.shape == (8, 8 * len(ys), 3)
    for i, y in enumerate(ys):
        block = img[:, i * 8:(i + 1) * 8, :]
        # neutral chroma -> R=G=B=Y exactly
        assert (block == y).all(), (y, np.unique(block.reshape(-1, 3), axis=0))


def test_jpeg_progressive_nonzero_ac_and_refinement_bits():
    """Hand-built single-block progressive stream exercising the AC
    paths the constant-block fixture cannot: a nonzero in-band
    coefficient run (first pass at Al=1) and the refinement pass's
    correction bits on nonzero history (T.81 G.1.2.3). Expected image
    computed with the same IDCT matrix over the known coefficients:
    DC=16, zigzag[1]=5, zigzag[10]=-3."""
    import struct

    import numpy as np

    from siddhi_execution_unique_spark.functions import multimodal as fmm

    dc_codes = fmm._huffman_codes(fmm._DC_LUM_BITS, fmm._DC_LUM_VALS)
    ac_bits = [0, 0, 3] + [0] * 13  # three symbols, all code length 3
    ac_vals = [0x02, 0x81, 0x00]    # (r0,s2), (r8,s1), EOB0
    ac_codes = fmm._huffman_codes(ac_bits, ac_vals)

    def seg(marker, payload):
        return bytes([0xFF, marker]) + struct.pack(">H", len(payload) + 2) + payload

    # scan 1: DC first, Al=0 — diff 16 (category 5, raw bits 10000)
    bw = fmm._BitWriter()
    code, ln = dc_codes[5]
    bw.put(code, ln)
    bw.put(16, 5)
    scan_dc = bw.flush()
    # scan 2: AC first [1,63] Al=1 — trunc(5/2)=2 at zz1 (r0,s2),
    # trunc(-3/2)=-1 at zz10 (r8,s1), then EOB
    bw = fmm._BitWriter()
    c, ln = ac_codes[0x02]; bw.put(c, ln); bw.put(2, 2)
    c, ln = ac_codes[0x81]; bw.put(c, ln); bw.put(0, 1)  # -1 -> 0
    c, ln = ac_codes[0x00]; bw.put(c, ln)
    scan_ac1 = bw.flush()
    # scan 3: AC refinement Ah=1 Al=0 — EOB0 then correction bits 1,1
    bw = fmm._BitWriter()
    c, ln = ac_codes[0x00]; bw.put(c, ln)
    bw.put(1, 1)  # zz1: 4 -> 5
    bw.put(1, 1)  # zz10: -2 -> -3
    scan_ac2 = bw.flush()

    payload = b"".join([
        b"\xff\xd8",
        seg(0xDB, bytes([0x00]) + bytes(64 * [1])),
        seg(0xC2, struct.pack(">BHHB", 8, 8, 8, 1) + bytes([1, 0x11, 0])),
        seg(0xC4, bytes([0x00]) + bytes(fmm._DC_LUM_BITS) + bytes(fmm._DC_LUM_VALS)),
        seg(0xC4, bytes([0x11]) + bytes(ac_bits) + bytes(ac_vals)),
        seg(0xDA, bytes([1, 1, 0x00, 0, 0, 0x00])) + scan_dc,
        seg(0xDA, bytes([1, 1, 0x01, 1, 63, 0x01])) + scan_ac1,
        seg(0xDA, bytes([1, 1, 0x01, 1, 63, 0x10])) + scan_ac2,
        b"\xff\xd9",
    ])
    img = fmm.decode_jpeg(payload)

    zz = np.zeros(64, dtype=np.int64)
    zz[0], zz[1], zz[10] = 16, 5, -3
    coefs = np.zeros(64, dtype=np.float64)
    coefs[fmm._ZIGZAG] = zz
    block = fmm._DCT_A.T @ coefs.reshape(8, 8) @ fmm._DCT_A
    want = np.clip(np.round(block + 128.0), 0, 255).astype(np.uint8)
    assert img.shape == (8, 8) and (img == want).all()


def test_session_window_native_validation(spark):
    from siddhi_execution_unique_spark.functions import sessions as fsess

    ev = spark.range(1).selectExpr(
        "id AS event_id", "timestamp_millis(id) AS ts",
        "id AS user_id", "'click' AS event_type"
    )
    with pytest.raises(ValueError, match="gap_ms"):
        fsess.session_window_native(ev, 0)
    with pytest.raises(ValueError, match="whole seconds"):
        fsess.session_window_native(ev, 1500)


def test_python_datasource_eventlog_round_trip(spark, tmp_path):
    """The Spark 4 Python DataSource pair (sources/eventlog.py): the
    evtlog sink writes one JSON-array line per row and one file per
    write task; the reader schedules one task per file. Exact
    round-trip including JSON-bearing props, overwrite semantics, and
    validation of the fixed column order / missing path option."""
    import os

    import pytest
    from pyspark.sql import functions as F

    from siddhi_execution_unique_spark import sources as src
    from siddhi_execution_unique_spark.sources.eventlog import register_eventlog

    register_eventlog(spark)
    register_eventlog(spark)  # idempotent re-registration
    flat = src.load_table(spark, "/root/testdata/sf0.001", "events").select(
        "event_id", F.unix_millis("ts").alias("ts_ms"),
        "user_id", "event_type", "value", "props",
    )
    path = str(tmp_path / "ev")
    flat.write.format("evtlog").mode("overwrite").option("path", path).save()
    files = [f for f in os.listdir(path) if f.endswith(".evt")]
    assert files  # one file per non-empty write task
    back = spark.read.format("evtlog").option("path", path).load()
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, flat.collect()))

    # overwrite replaces prior contents (stale task files removed)
    flat.limit(7).repartition(2).write.format("evtlog").mode(
        "overwrite").option("path", path).save()
    assert spark.read.format("evtlog").option("path", path).load().count() == 7

    # append mode accumulates (ADVICE r09: uuid-named publishes can
    # never collide with a prior write's files, so a second append
    # must not truncate the first)
    flat.limit(7).repartition(2).write.format("evtlog").mode(
        "append").option("path", path).save()
    assert spark.read.format("evtlog").option("path", path).load().count() == 14
    # publish is staged: no .tmp leftovers visible, no partial files
    staging = os.path.join(path, "_staging")
    assert not os.path.exists(staging) or not os.listdir(staging)

    # wrong column order is rejected eagerly at write planning
    with pytest.raises(Exception, match="fixed column order"):
        flat.select("ts_ms", "event_id", "user_id", "event_type",
                    "value", "props").write.format("evtlog").mode(
            "overwrite").option("path", path).save()
    # missing path option
    with pytest.raises(Exception, match="requires option 'path'"):
        flat.write.format("evtlog").mode("overwrite").save()

    # Spark 4.1 filter pushdown (opt-in conf): pushed comparisons are
    # evaluated inside the Python read loop; unsupported filters are
    # yielded back and re-applied by Spark — results must be
    # identical either way
    from pyspark.sql.datasource import EqualTo, GreaterThan, LessThan
    from siddhi_execution_unique_spark.sources.eventlog import (
        _EventLogPushdownReader,
    )

    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    try:
        pushed = (
            spark.read.format("evtlog").option("path", path)
            .option("pushdown", "true").load()
            .filter("event_type = 'click' AND value > 0.5")
            .collect()
        )
    finally:
        spark.conf.set("spark.sql.python.filterPushdown.enabled", "false")
    plain = (
        spark.read.format("evtlog").option("path", path).load()
        .filter("event_type = 'click' AND value > 0.5")
        .collect()
    )
    assert sorted(map(tuple, pushed)) == sorted(map(tuple, plain))
    assert len(plain) > 0  # the corpus must exercise the pushed path
    # arrow-batch return path (option("arrow","true")): one
    # RecordBatch per file, identical rows; composes with pushdown
    arrow_rows = (
        spark.read.format("evtlog").option("path", path)
        .option("arrow", "true").load().collect()
    )
    tuple_rows = spark.read.format("evtlog").option("path", path).load().collect()
    assert sorted(map(tuple, arrow_rows)) == sorted(map(tuple, tuple_rows))
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    try:
        both = (
            spark.read.format("evtlog").option("path", path)
            .option("arrow", "true").option("pushdown", "true").load()
            .filter("event_type = 'click' AND value > 0.5")
            .collect()
        )
    finally:
        spark.conf.set("spark.sql.python.filterPushdown.enabled", "false")
    assert sorted(map(tuple, both)) == sorted(map(tuple, plain))

    # unit level: supported filters are retained, others yielded back
    r = _EventLogPushdownReader({"path": path})
    leftover = list(r.pushFilters([
        EqualTo(("event_type",), "click"),
        GreaterThan(("value",), 0.5),
        LessThan(("no_such",), 1),          # unknown column -> back
        EqualTo(("user_id", "nested"), 1),  # nested path -> back
    ]))
    assert len(r._preds) == 2
    assert len(leftover) == 2

    # a failed job publishes nothing: overwrite with a poisoned row
    # must leave the prior 14-row generation fully intact
    bad = flat.limit(3).withColumn(
        "props", F.when(F.lit(True), F.raise_error(F.lit("boom"))).otherwise(F.col("props"))
    )
    with pytest.raises(Exception):
        bad.write.format("evtlog").mode("overwrite").option("path", path).save()
    assert spark.read.format("evtlog").option("path", path).load().count() == 14


def test_bpe_encode_matches_unrolled_oracle(spark, sf_dir):
    """bpe_encode (apply the learned merges; queued for r12
    registration — SURVEY §2l) vs the unrolled DuckDB CTE chain, at a
    reduced n_merges to keep the oracle chain cheap. Shares _bpe_fit
    with the certified vocab_bpe_train entry, so this also pins the
    r11 refactor as behavior-preserving."""
    from siddhi_execution_unique_spark.functions import curation as fcur

    from tests.test_oracle_parity import _duck, _normalize

    got = fcur.bpe_encode(
        load_table(spark, sf_dir, "documents"), n_merges=4
    ).toPandas()
    con = _duck(sf_dir)
    exp = con.sql(fcur.bpe_encode_oracle(4)).df()
    assert len(got) == len(exp)
    assert sorted(got.columns) == sorted(exp.columns)
    for col in got.columns:
        sk, dk = got[col].dtype.kind, exp[col].dtype.kind
        if {sk, dk} <= {"i", "u", "f"}:
            assert (sk in "iu") == (dk in "iu"), col
    assert _normalize(got) == _normalize(exp)


def test_materialize_strategy_reliable(spark, tmp_path, monkeypatch):
    """VERDICT r14 item 6: every compute-once/read-many intermediate
    (siddhiql chain artifacts, funnel acc, BPE rounds, CC labels,
    posting lists) routes through one ``checkpointed()`` helper whose
    mechanism is a config: ``localCheckpoint`` (local default — fast,
    NOT fault-tolerant) or a reliable ``checkpoint()`` into a real
    checkpoint dir for clusters where an executor loss must not kill
    the job. Rows are identical either way, reliable mode actually
    writes the checkpoint dir, and an unknown mode fails loudly."""
    import os as _os

    from siddhi_execution_unique_spark.functions.text import checkpointed

    df = spark.range(50).withColumn("v", F.col("id") % 7)
    expect = sorted(tuple(r) for r in df.collect())

    monkeypatch.delenv("SPARK_GRAFT_MATERIALIZE", raising=False)
    local = checkpointed(df)
    assert sorted(tuple(r) for r in local.collect()) == expect

    def files(uri):
        # getCheckpointDir returns a URI (file:/...); walk the local path
        return {_os.path.join(d, f)
                for d, _, fs in _os.walk(uri.replace("file:", "", 1)) for f in fs}

    # the env var only applies while the context has no checkpoint dir;
    # an earlier test may have set one, so assert against the dir the
    # checkpoint really used, whichever it is
    sc = spark.sparkContext
    before = sc.getCheckpointDir()
    old_files = files(before) if before else set()
    ckdir = str(tmp_path / "reliable_ckpt")
    monkeypatch.setenv("SPARK_GRAFT_MATERIALIZE", "reliable")
    monkeypatch.setenv("SPARK_GRAFT_CHECKPOINT_DIR", ckdir)
    reliable = checkpointed(df)
    assert sorted(tuple(r) for r in reliable.collect()) == expect
    used = sc.getCheckpointDir()
    if before is None:
        assert used.replace("file:", "", 1).startswith(ckdir)
    else:
        assert used == before
    assert files(used) - old_files, "reliable mode must write checkpoint files"

    monkeypatch.setenv("SPARK_GRAFT_MATERIALIZE", "bogus")
    with pytest.raises(ValueError, match="SPARK_GRAFT_MATERIALIZE"):
        checkpointed(df)

"""Physical-plan regression tests: the properties that make these
operators scale are asserted, not assumed. A correctness-preserving
change that turns a hash aggregation into a global sort, drops a
broadcast, or widens a parquet scan should fail here long before a
100 TB run finds out."""

import pytest

from pyspark.sql import functions as F

from siddhi_execution_unique_spark import operators as ops
from siddhi_execution_unique_spark.functions import dedup as fdedup
from siddhi_execution_unique_spark.functions import similarity as fsim
from siddhi_execution_unique_spark.sources import load_table

SF_DIR = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def optimized_of(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_ever_is_partial_agg_single_shuffle(spark):
    events = load_table(spark, SF_DIR, "events")
    plan = plan_of(ops.ever(events, "user_id", ts="ts", tiebreak="event_id"))
    # map-side combine before the exchange (state bounded by distinct
    # keys per partition), one agg shuffle, no window-function sort of
    # the full data per key
    assert "partial_max_by" in plan
    assert "Window" not in plan
    assert plan.count("Exchange") <= 2  # load_table fan-out + agg shuffle


def test_projection_prunes_parquet_scan(spark):
    events = load_table(spark, SF_DIR, "events")
    two_cols = events.select("user_id", "value")
    plan = plan_of(two_cols)
    read_schema = [line for line in plan.splitlines() if "ReadSchema" in line]
    assert read_schema and "event_type" not in read_schema[0]
    assert "user_id" in read_schema[0] and "value" in read_schema[0]


def test_filter_pushes_down_to_scan(spark):
    events = load_table(spark, SF_DIR, "events")
    plan = plan_of(events.filter(F.col("value") > 100).select("event_id"))
    pushed = [line for line in plan.splitlines() if "PushedFilters" in line]
    assert pushed and "GreaterThan(value" in pushed[0]


def test_dim_join_broadcasts(spark):
    events = load_table(spark, SF_DIR, "events")
    customer = load_table(spark, SF_DIR, "customer")
    latest = ops.ever(events, "user_id", ts="ts", tiebreak="event_id")
    joined = latest.join(
        F.broadcast(customer), F.col("user_id") == F.col("c_custkey")
    )
    assert "BroadcastHashJoin" in plan_of(joined)


def test_lsh_band_join_is_equi_not_cartesian(spark):
    docs = load_table(spark, SF_DIR, "documents")
    plan = plan_of(fdedup.lsh_candidate_pairs(docs, materialize=False))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_char_ngram_join_is_equi_not_cartesian(spark):
    docs = load_table(spark, SF_DIR, "documents")
    plan = plan_of(fdedup.char_ngram_jaccard_pairs(docs, materialize=False))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_embedding_lsh_join_is_equi_not_cartesian(spark):
    emb = load_table(spark, SF_DIR, "embeddings")
    plan = plan_of(fsim.embedding_near_dup_pairs(emb))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_no_interpreted_hofs_in_text_dedup_hot_paths(spark):
    """transform()/aggregate() lambdas run interpreted (CodegenFallback);
    the rewritten pipeline must not reintroduce them."""
    docs = load_table(spark, SF_DIR, "documents")
    for df in (
        fdedup.minhash_signatures(docs),
        fdedup.simhash(docs),
        fdedup.char_ngram_jaccard_pairs(docs, materialize=False),
    ):
        plan = optimized_of(df)
        assert "lambdafunction" not in plan, plan[:500]


def test_jaccard_verifiers_do_not_broadcast_per_doc_sizes(spark):
    """The per-document sizes frame is O(n_docs) rows — a FORCED
    broadcast of it OOMs the driver at corpus scale. The hint was
    removed (VERDICT r01); pin that no broadcast *hint* survives in
    the logical plan. Catalyst/AQE may still pick a broadcast from
    size statistics at test scale — that is the desired adaptive
    behavior (at 100 TB the same statistics choose a shuffle join),
    so the physical plan is not asserted broadcast-free."""
    docs = load_table(spark, SF_DIR, "documents")
    for df in (fdedup.near_dup_pairs(docs, materialize=False),
               fdedup.char_ngram_jaccard_pairs(docs, materialize=False)):
        plan = plan_of(df)
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        assert "strategy=broadcast" not in optimized_of(df)


def test_simhash_near_pairs_rotation_banded_equi_join(spark):
    docs = load_table(spark, SF_DIR, "documents")
    df = fdedup.simhash_near_pairs(docs)
    plan = plan_of(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # 4 rotation bands explode from each signature row
    opt = optimized_of(df)
    assert "Generate explode" in opt or "explode" in opt.lower()


def test_embedding_pairs_candidate_shuffle_is_narrow(spark):
    """Candidate generation must not carry embedding arrays: the band
    self-join and the pair dedup see only (vec_id, band_key)."""
    emb = load_table(spark, SF_DIR, "embeddings")
    plan = plan_of(fsim.embedding_near_dup_pairs(emb))
    # the dedup aggregation runs on the two id columns only
    assert "hashpartitioning(vec_id_1" in plan, plan[:800]


def test_time_batch_is_single_shuffle_agg(spark):
    events = load_table(spark, SF_DIR, "events")
    plan = plan_of(
        ops.time_batch(events, "user_id", 3_600_000, ts="ts", tiebreak="event_id")
    )
    assert "partial_max_by" in plan
    assert plan.count("Exchange") <= 2  # load_table fan-out + agg shuffle


def test_aligned_time_batch_join_reuses_agg_distribution(spark):
    """r09: _batched_retain outputs the GROUPING (batch, key) columns,
    so joining two aligned timeBatch windows on (batch_start_ms, key)
    sort-merges directly on each side's aggregation exchange — exactly
    4 Exchanges (2 load fan-outs + 2 agg shuffles). Re-extracting the
    columns from the max_by struct made them fresh attributes and
    forced 2 more ENSURE_REQUIREMENTS shuffles before the join."""
    events = load_table(spark, SF_DIR, "events")
    old_thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        a = ops.time_batch(events, "user_id", 3_600_000, ts="ts",
                           tiebreak="event_id")
        b = ops.time_batch(events.filter("value > 10"), "user_id",
                           3_600_000, ts="ts", tiebreak="event_id")
        out = a.join(
            b.select("batch_start_ms", "user_id",
                     F.col("value").alias("v2")),
            ["batch_start_ms", "user_id"],
        )
        p = plan_of(out)
        assert "SortMergeJoin" in p
        assert p.count("Exchange") <= 4, p[:1200]
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thr)


def test_distributed_replay_forms_have_no_python_stage(spark):
    """The driver entries for timeLengthBatch and the length emission
    log run the distributed window-function/anti-join forms — a
    regression back to the single-group pandas replay (MapInPandas +
    coalesce(1)) must fail loudly."""
    events = load_table(spark, SF_DIR, "events")
    from siddhi_execution_unique_spark.operators.length import (
        length_window_emissions_distributed,
    )
    from siddhi_execution_unique_spark.operators.replay import (
        time_length_batch_distributed,
    )

    for df in (
        time_length_batch_distributed(
            events, "user_id", 3_600_000, 20, ts="ts", tiebreak="event_id"
        ),
        length_window_emissions_distributed(
            events, "user_id", 100, ts="ts", tiebreak="event_id"
        ),
    ):
        plan = plan_of(df)
        assert "MapInPandas" not in plan
        assert "Coalesce 1" not in plan


def test_bucketed_table_makes_keyed_agg_shuffle_free(spark, tmp_path):
    """Pre-bucketing by the unique key removes the aggregation
    exchange entirely — the scale story for repeated keyed retention
    over the same corpus."""
    from siddhi_execution_unique_spark.sources import write_bucketed

    events = load_table(spark, SF_DIR, "events")
    try:
        bucketed = write_bucketed(
            events, "events_bucketed_test", "user_id",
            n_buckets=8, path=str(tmp_path / "events_b"),
        )
        plan = plan_of(ops.ever(bucketed, "user_id", ts="ts", tiebreak="event_id"))
        assert "partial_max_by" in plan
        assert "Exchange" not in plan, plan[:800]
    finally:
        spark.sql("DROP TABLE IF EXISTS events_bucketed_test")


def test_bucketed_ever_join_chain_is_exchange_free(spark, tmp_path):
    """r09: ever's output reuses its grouping column, so on bucketed
    sources the WHOLE ever -> dimension-join chain runs with zero
    exchanges — selecting the key from the max_by struct instead
    created a fresh attribute that forced a re-shuffle before the
    join."""
    from siddhi_execution_unique_spark.sources import write_bucketed
    import pyspark.sql.functions as F

    events = load_table(spark, SF_DIR, "events")
    cust = load_table(spark, SF_DIR, "customer")
    old_thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        be = write_bucketed(events, "ev_bjoin_test", "user_id",
                            n_buckets=8, path=str(tmp_path / "ev_b"))
        bc = write_bucketed(cust, "cust_bjoin_test", "c_custkey",
                            n_buckets=8, path=str(tmp_path / "cust_b"))
        latest = ops.ever(be, "user_id", ts="ts", tiebreak="event_id")
        out = latest.join(bc, F.col("user_id") == F.col("c_custkey"), "inner")
        p = plan_of(out)
        assert "SortMergeJoin" in p
        assert "Exchange" not in p, p[:900]
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thr)
        spark.sql("DROP TABLE IF EXISTS ev_bjoin_test")
        spark.sql("DROP TABLE IF EXISTS cust_bjoin_test")


def test_ever_expired_is_anti_join_not_window(spark):
    events = load_table(spark, SF_DIR, "events")
    plan = plan_of(
        ops.ever_expired(events, "user_id", ts="ts", tiebreak="event_id")
    )
    assert "Window" not in plan       # no full per-key sort
    assert "LeftAnti" in plan


def test_vocab_topk_is_take_ordered_not_global_sort(spark):
    """Global top-k must be per-partition heaps (TakeOrderedAndProject),
    never a full range-partitioned sort of the vocabulary."""
    from siddhi_execution_unique_spark.functions import curation as fcur
    docs = load_table(spark, SF_DIR, "documents")
    plan = plan_of(fcur.vocab_top_tokens(docs))
    assert "TakeOrderedAndProject" in plan
    assert "rangepartitioning" not in plan


def test_contamination_join_is_equi_and_unhinted(spark):
    """The benchmark shingle set is O(benchmark corpus): the join must
    be a plain equi-join with no forced broadcast (AQE may still pick
    one from size stats at test scale — that is fine)."""
    from siddhi_execution_unique_spark.functions import curation as fcur
    docs = load_table(spark, SF_DIR, "documents")
    df = fcur.contamination_check(docs)
    plan = plan_of(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "strategy=broadcast" not in optimized_of(df)


def test_stratified_rank_partitions_by_stratum(spark):
    """The sample rank must partition by the stratum key — a global
    (range-partitioned) sort would funnel the corpus into one ordering
    and break at scale."""
    from siddhi_execution_unique_spark.functions import curation as fcur
    docs = load_table(spark, SF_DIR, "documents")
    plan = plan_of(fcur.stratified_sample(docs))
    assert "hashpartitioning(source" in plan
    assert "rangepartitioning" not in plan


def test_partitioned_write_prunes_partitions_on_read(spark, tmp_path):
    """Directory partitioning must turn a lang predicate into a
    planning-time PartitionFilter — zero data files of other langs are
    even opened. This is the write-side half of the pushdown story."""
    from siddhi_execution_unique_spark.sources import write_partitioned
    docs = load_table(spark, SF_DIR, "documents")
    back = write_partitioned(docs, str(tmp_path / "docs_by_lang"), "lang",
                             sort_within="doc_id")
    filtered = back.filter(F.col("lang") == "en").select("doc_id")
    plan = plan_of(filtered)
    scan = [l for l in plan.splitlines() if "FileScan" in l][0]
    # the predicate resolves as a planning-time partition filter on the
    # scan, NOT a post-scan data filter (inputFiles() can't show the
    # pruning — it lists the relation's files before planning)
    assert "PartitionFilters: [isnotnull(lang" in scan
    assert "lang#" in scan.split("PartitionFilters:")[1].split("]")[0]
    assert "PushedFilters: []" in scan or "DataFilters: []" in plan


def test_sessionize_windows_partition_by_user(spark):
    """Both session windows and the final agg must key on user_id —
    one hash shuffle, no global ordering of the event stream."""
    from siddhi_execution_unique_spark.functions import sessions as fsess
    events = load_table(spark, SF_DIR, "events")
    plan = plan_of(fsess.sessionize(events, 3_600_000))
    assert "hashpartitioning(user_id" in plan
    assert "rangepartitioning" not in plan
    assert "SinglePartition" not in plan


def test_incremental_dedup_anti_join_unhinted(spark):
    """The manifest side is O(corpus) fingerprints: LEFT ANTI equi-join,
    no forced broadcast, no nested loop."""
    from siddhi_execution_unique_spark.functions import dedup as fdedup
    docs = load_table(spark, SF_DIR, "documents")
    df = fdedup.incremental_exact_dedup(
        docs.filter(F.col("doc_id") >= 25),
        fdedup.exact_dedup(docs.filter(F.col("doc_id") < 25)),
    )
    plan = plan_of(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "LeftAnti" in plan
    assert "strategy=broadcast" not in optimized_of(df)


def test_asof_join_is_one_exchange_sort_window(spark):
    from siddhi_execution_unique_spark.functions import asof as fasof
    events = load_table(spark, SF_DIR, "events")
    plan = plan_of(fasof.purchases_with_last_click(events))
    # sorted-merge encoding: union -> ONE hash exchange on the key ->
    # partition-local sort -> running window. No join at all, so no
    # range-join explosion is even possible.
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan
    assert "Window" in plan
    assert plan.count("hashpartitioning(user_id") == 1


def test_cell_centroids_partial_agg_before_shuffle(spark):
    emb = load_table(spark, SF_DIR, "embeddings")
    plan = plan_of(fsim.cell_centroids(emb))
    # the (cell, pos) mean must map-side combine: shuffle volume is
    # then O(n_cells * dim * n_partitions), independent of corpus rows
    assert "partial_sum" in plan or "partial_count" in plan
    assert "CartesianProduct" not in plan


def test_connected_components_rounds_are_equi_joins(spark):
    pairs = fdedup.lsh_candidate_pairs(load_table(spark, SF_DIR, "documents"),
                                       materialize=False)
    labels = fdedup.connected_components(pairs)
    plan = plan_of(labels)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_time_rollup_expands_grouping_sets_with_partial_agg(spark):
    from siddhi_execution_unique_spark.functions import sketch as fsk
    events = load_table(spark, SF_DIR, "events")
    plan = plan_of(fsk.time_rollup(events))
    # ROLLUP must stay one partially-aggregated pass (Expand + hash
    # agg), never one aggregation per grain level
    assert "Expand" in plan
    assert "partial_" in plan
    assert plan.count("Exchange") <= 2


def test_kmv_distinct_stage_is_partial_agg(spark):
    from siddhi_execution_unique_spark.functions import sketch as fsk
    events = load_table(spark, SF_DIR, "events")
    plan = plan_of(fsk.kmv_distinct(events))
    # the corpus-sized DISTINCT must map-side combine before its shuffle
    assert "partial" in plan
    assert "CartesianProduct" not in plan
    # the k-smallest ranking must run inside salted (event_type, salt)
    # slices — never a sort of all distinct users of one type in a task
    import re
    assert re.search(r"hashpartitioning\(event_type#\d+[^)]*salt#", plan), (
        "expected the rank window keyed on (event_type, salt)"
    )


def test_running_distinct_is_bucketed_prefix_sum(spark):
    from siddhi_execution_unique_spark.functions import sketch as fsk
    events = load_table(spark, SF_DIR, "events")
    plan = plan_of(fsk.running_distinct_count(events))
    # the corpus-sized running sum must key on (event_type, bucket) —
    # the only event_type-alone window is over the tiny per-bucket
    # totals aggregate
    import re
    assert re.search(r"hashpartitioning\(event_type#\d+[^)]*_bkt#", plan), (
        "expected the running-sum window keyed on (event_type, _bkt)"
    )
    # (the 1-row min/max bounds broadcast is a legitimate
    # BroadcastNestedLoopJoin; only a corpus cartesian is forbidden)
    assert "CartesianProduct" not in plan


def test_range_join_is_banded_equi_join(spark):
    from siddhi_execution_unique_spark.functions import asof as fasof
    events = load_table(spark, SF_DIR, "events")
    plan = plan_of(fasof.clicks_before_purchase(events))
    # the trailing-window aggregation must run as a hash equi-join on
    # (user_id, band), never an inequality-only nested-loop join
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan


def test_pq_scan_is_broadcast_adc_join_with_arrow_encode(spark):
    """The PQ scan's corpus side must stay partition-local: the ADC
    table (O(queries x M x K) rows) broadcasts, the encode pass is ONE
    Arrow-batched python stage (no shuffle feeding it), and nothing
    degenerates to a nested loop."""
    emb = load_table(spark, SF_DIR, "embeddings")
    plan = plan_of(fsim.pq_topk(emb))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("MapInPandas") == 1
    # adist aggregation keys on (query_id, vec_id) — skinny int rows
    assert "hashpartitioning(query_id" in plan


def _broadcast_subtrees(plan: str) -> list[str]:
    """The indented subtree under each BroadcastExchange node — i.e.
    what actually gets shipped to every task."""
    import re

    lines = plan.splitlines()
    trees = []
    for i, ln in enumerate(lines):
        if "BroadcastExchange" not in ln:
            continue
        ind = re.search(r"[A-Za-z]", ln).start()
        sub = []
        for nxt in lines[i + 1:]:
            m = re.search(r"[A-Za-z]", nxt)
            if m is None or m.start() <= ind:
                break
            sub.append(nxt)
        trees.append("\n".join(sub))
    return trees


def test_pq_rerank_exact_pass_joins_by_id_only(spark):
    """The exact re-rank must read raw embeddings via id equi-joins
    driven by the shortlist — never a corpus-wide cartesian — and the
    broadcast query relation must be the FILTERED n_queries rows, not
    the corpus (the round-4 plan broadcast the unfiltered corpus)."""
    emb = load_table(spark, SF_DIR, "embeddings")
    plan = plan_of(fsim.pq_rerank_topk(emb))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    qtrees = [t for t in _broadcast_subtrees(plan) if "q_emb" in t]
    assert qtrees, "expected a broadcast of the query-side relation"
    for t in qtrees:
        assert "< 8" in t or "LessThan(vec_id,8)" in t, (
            "broadcast side must carry the vec_id < n_queries filter:\n" + t
        )


def test_bm25_is_posting_list_join(spark):
    from siddhi_execution_unique_spark.functions import retrieval as fret
    docs = load_table(spark, SF_DIR, "documents")
    plan = plan_of(fret.bm25_topk(docs))
    # sparse retrieval: term-keyed equi-joins over the inverted index,
    # map-side combined tf aggregation, never doc-by-doc comparison
    # (the only BroadcastNestedLoopJoin is the 1-row bounds aggregate)
    assert "CartesianProduct" not in plan
    assert "partial_count" in plan or "partial_sum" in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 1


def test_tfidf_pairs_join_is_term_keyed(spark):
    from siddhi_execution_unique_spark.functions import retrieval as fret
    docs = load_table(spark, SF_DIR, "documents")
    plan = plan_of(fret.tfidf_cosine_pairs(docs, materialize=False))
    # posting self-join keys on the (df-pruned) term; dot/norm sums are
    # map-side combined; every BroadcastNestedLoopJoin is the 1-row
    # n_docs aggregate meeting one of the 4 weight-table consumers
    # (materialized to one in the production path)
    assert "CartesianProduct" not in plan
    assert "partial_sum" in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 4


def test_trailing_distinct_is_banded_equi_join(spark):
    from siddhi_execution_unique_spark.functions import sketch as fsk
    events = load_table(spark, SF_DIR, "events")
    plan = plan_of(fsk.trailing_distinct_users(events))
    # the trailing range window must run as a (group, band) hash join
    # with the range check as a residual filter - never an
    # inequality-only nested loop
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    import re
    assert re.search(r"hashpartitioning\(event_type#\d+[^)]*_band#", plan) \
        or "_band" in plan


def test_line_dedup_is_hash_agg_and_equi_join(spark):
    """Line dedup's corpus-sized stages: segment rows -> ONE map-side-
    combined frequency aggregation -> shuffle equi-join against the
    boilerplate set (NOT broadcast: it grows with the corpus) -> one
    per-doc hash aggregation. No window over the corpus, no nested
    loop, no higher-order lambdas in the segment path."""
    docs = load_table(spark, SF_DIR, "documents")
    df = fdedup.line_dedup(docs)
    plan = plan_of(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Window" not in plan
    assert "partial_count" in plan  # countDistinct partial on the seg agg
    assert "strategy=broadcast" not in optimized_of(df)


def test_semantic_dedup_scan_is_cell_local(spark):
    """The duplicate scan is one groupBy(cell).applyInPandas — the
    ONLY data movement is n corpus rows shuffled by cell (the old
    pair-join form shuffled sum(cell²) pair rows carrying two
    embedding arrays each); no join of any kind survives in the
    plan, and the centroid model ships in the mapInPandas closure."""
    emb = load_table(spark, SF_DIR, "embeddings")
    df = fsim.semantic_dedup(emb)
    plan = plan_of(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Join" not in plan  # no pair materialization at all
    assert "FlatMapGroupsInPandas" in plan
    # exactly the cell shuffle (plus AQE readers); no second exchange
    # tier from a join or distinct
    assert plan.count("Exchange hashpartitioning(cell") == 1


def test_chunk_documents_is_shuffle_free(spark):
    """Chunking is a pure narrow projection: tokenize, explode chunk
    starts, slice+hash — a 100 TB corpus chunks map-side. The only
    Exchange allowed is load_table's initial fan-out repartition."""
    from siddhi_execution_unique_spark.functions import curation as fcur
    docs = load_table(spark, SF_DIR, "documents")
    plan = plan_of(fcur.chunk_documents(docs))
    assert plan.count("Exchange") <= 1  # load_table fan-out only
    assert "CartesianProduct" not in plan
    assert "Window" not in plan and "Sort" not in plan


def test_select_token_budget_windows_partition_by_bin(spark):
    """The corpus-sized running sum must partition by (source, bin) —
    never by source alone (a whole-source single-task sort); the
    source-only window may only run over the tiny bins aggregate."""
    from siddhi_execution_unique_spark.functions import curation as fcur
    from siddhi_execution_unique_spark.functions import text as ftext
    import re
    docs = load_table(spark, SF_DIR, "documents")
    df = fcur.select_token_budget(docs, ftext.quality_score(docs))
    plan = plan_of(df)
    assert re.search(r"hashpartitioning\(source#\d+, bin#", plan)
    assert "CartesianProduct" not in plan


def test_temperature_resample_single_corpus_agg(spark):
    """One corpus-sized hash aggregation to cells; the min-share
    window runs on the O(#cells) aggregate; the verdict join is an
    equi-join, not broadcast-hinted."""
    from siddhi_execution_unique_spark.functions import curation as fcur
    docs = load_table(spark, SF_DIR, "documents")
    df = fcur.temperature_resample(docs)
    plan = plan_of(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "partial_sum" in plan
    assert "strategy=broadcast" not in optimized_of(df)


def test_pca_covariance_is_partial_agg_constant_shuffle(spark):
    """The Gram pass must map-side combine to dim²/2 cells before its
    exchange (shuffle volume independent of corpus rows), and nothing
    in the covariance plan windows or nested-loops."""
    emb = load_table(spark, SF_DIR, "embeddings")
    df = fsim.pca_covariance(emb)
    plan = plan_of(df)
    assert "partial_sum" in plan
    assert "Window" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_bpe_pairs_topk_is_take_ordered(spark):
    """Top-k merge pairs must be per-partition heaps (TakeOrdered),
    never a global sort of the pair-count table."""
    from siddhi_execution_unique_spark.functions import curation as fcur
    docs = load_table(spark, SF_DIR, "documents")
    plan = plan_of(fcur.bpe_merge_pairs(docs))
    assert "TakeOrderedAndProject" in plan
    assert "partial_count" in plan


def test_source_overlap_join_is_shingle_keyed(spark):
    """The source-pair matrix must come from a posting-list equi-join
    on the shingle — per-shingle fanout is bounded by n_sources, and
    nothing nested-loops."""
    from siddhi_execution_unique_spark.functions import curation as fcur
    docs = load_table(spark, SF_DIR, "documents")
    plan = plan_of(fcur.source_overlap_matrix(docs))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_funnel_is_keyed_joins_no_window(spark):
    from siddhi_execution_unique_spark.functions import analytics as fana
    events = load_table(spark, SF_DIR, "events")
    # the shipped form truncates the step chain per iteration (acc is
    # referenced twice per step; without truncation the earlier chain
    # re-executes per reference) — pin the chain's SHAPE un-truncated
    plan = plan_of(fana.funnel(events, _truncate=False))
    # S steps = hash aggs + user-keyed equi-joins; no window sort, no
    # nested-loop fallback
    assert "Window" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "partial_min" in plan  # map-side combine on each step agg
    # and pin that the shipped form DOES truncate (r14): the final
    # select reads the checkpointed chain, not a re-executed cascade
    shipped = plan_of(fana.funnel(events))
    assert "ExistingRDD" in shipped


def test_retention_cohorts_two_keyed_shuffles(spark):
    from siddhi_execution_unique_spark.functions import analytics as fana
    events = load_table(spark, SF_DIR, "events")
    plan = plan_of(fana.retention_cohorts(events))
    assert "Window" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_fuzzy_match_is_gram_keyed_equi_join(spark):
    from siddhi_execution_unique_spark.functions import fuzzy as ffuzzy
    part = load_table(spark, SF_DIR, "part")
    plan = plan_of(ffuzzy.fuzzy_match_names(part))
    # candidates come from the gram posting-list equi-join; levenshtein
    # runs only post-join, never as a join condition over all pairs
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "gram" in plan


def test_hll_is_partial_agg_no_distinct_on_estimate_path(spark):
    from siddhi_execution_unique_spark.functions import sketch as fsk
    events = load_table(spark, SF_DIR, "events")
    plan = plan_of(fsk.hll_distinct(events))
    # register fold: partial max per (type, reg) before the exchange
    assert "partial_max" in plan
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


def test_pagerank_iterations_are_equi_joins(spark):
    from siddhi_execution_unique_spark.functions import graph as fgraph
    docs = load_table(spark, SF_DIR, "documents")
    plan = plan_of(fgraph.near_dup_pagerank(docs))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # per-iteration contribution sums partially aggregate map-side
    assert "partial_sum" in plan


def test_absence_is_banded_anti_join(spark):
    from siddhi_execution_unique_spark.functions import analytics as fana
    events = load_table(spark, SF_DIR, "events")
    plan = plan_of(fana.absence(events))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the absence set is a LEFT ANTI join, never a per-row subquery
    assert "LeftAnti" in plan


def test_incremental_near_dup_is_band_keyed_never_broadcast_manifest(spark):
    docs = load_table(spark, SF_DIR, "documents")
    manifest = fdedup.minhash_signatures(docs.filter(F.col("doc_id") < 250))
    df = fdedup.incremental_near_dup(
        docs.filter(F.col("doc_id") >= 250), manifest
    )
    plan = plan_of(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the manifest joins through the band key / id — a corpus-sized
    # frame must never ride a broadcast
    opt = optimized_of(df)
    assert "ResolvedHint" not in opt


def test_scd2_reuses_custkey_exchange(spark):
    from siddhi_execution_unique_spark.functions import analytics as fana
    orders = load_table(spark, SF_DIR, "orders")
    plan = plan_of(fana.scd2_intervals(orders))
    # all three window passes + the run agg share the o_custkey
    # partitioning: at most ingest-fanout + one keyed exchange
    assert plan.count("Exchange") <= 2
    assert "CartesianProduct" not in plan


def test_triangles_are_oriented_equi_joins(spark):
    from siddhi_execution_unique_spark.functions import graph as fgraph
    docs = load_table(spark, SF_DIR, "documents")
    plan = plan_of(fgraph.near_dup_triangles(docs))
    # wedge generation and closure are equi-joins on node / pair keys;
    # degree orientation means no hub ever self-joins its full
    # neighborhood both ways
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Window" not in plan


def test_countmin_cells_partial_agg_topk_is_take_ordered(spark):
    from siddhi_execution_unique_spark.functions import sketch as fsk
    events = load_table(spark, SF_DIR, "events")
    plan = plan_of(fsk.countmin_heavy_hitters(events))
    # sketch cells combine map-side (output bounded at d*w per
    # partition); candidate top-k is distributed TakeOrdered, never a
    # global single-partition window sort
    assert "partial_count" in plan or "partial_sum" in plan
    assert "TakeOrderedAndProject" in plan
    assert "Window" not in plan


def test_bloom_prefilter_probe_side_never_shuffles(spark):
    from siddhi_execution_unique_spark.functions import sketch as fsk
    orders = load_table(spark, SF_DIR, "orders")
    lineitem = load_table(spark, SF_DIR, "lineitem")
    plan = plan_of(fsk.bloom_prefilter_join(orders, lineitem))
    # k semi-join probes + the exact-match check all ride broadcasts:
    # the corpus-sized probe table must never hit an exchange keyed on
    # its rows (only ingest fan-out + the 1-row count aggregates)
    assert plan.count("BroadcastHashJoin") >= 4  # 3 bloom probes + exact
    assert "LeftSemi" in plan
    # (the final 1-row summary cross-joins are broadcast joins of
    # single-row aggregates — bounded by construction)
    assert "SortMergeJoin" not in plan


def test_phrase_search_is_posting_join_no_window(spark):
    from siddhi_execution_unique_spark.functions import retrieval as fret
    docs = load_table(spark, SF_DIR, "documents")
    plan = plan_of(fret.phrase_search(docs))
    # phrase mining top-k is TakeOrdered; adjacency closes via the
    # (doc_id, pos) equi-join — no corpus window, no nested loop
    assert "TakeOrderedAndProject" in plan
    assert "Window" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_zorder_layout_is_single_hash_agg(spark):
    from siddhi_execution_unique_spark.functions import curation as fcur
    events = load_table(spark, SF_DIR, "events")
    plan = plan_of(fcur.zorder_layout(events))
    # z-value is pure codegen arithmetic; manifest is one map-side
    # combined agg keyed on file_id
    assert "partial_min" in plan and "partial_max" in plan
    assert plan.count("Exchange") <= 2  # ingest fan-out + file_id agg
    assert "Window" not in plan and "BatchEvalPython" not in plan


def test_gap_fill_window_is_user_keyed(spark):
    from siddhi_execution_unique_spark.functions import analytics as fana
    events = load_table(spark, SF_DIR, "events")
    plan = plan_of(fana.gap_fill_locf(events))
    # LOCF runs per user grid (high-cardinality partitions); the
    # hourly agg combines map-side
    assert "Window" in plan and "user_id" in plan
    assert "partial_count" in plan or "partial_max" in plan
    assert "CartesianProduct" not in plan


def test_priority_sample_is_take_ordered(spark):
    from siddhi_execution_unique_spark.functions import curation as fcur
    docs = load_table(spark, SF_DIR, "documents")
    plan = plan_of(fcur.priority_sample(docs))
    # top-k selection is a distributed heap merge, never a global sort
    # or a window over the corpus
    assert "TakeOrderedAndProject" in plan
    assert "Window" not in plan
    assert "BatchEvalPython" not in plan


def test_data_profile_is_shared_scan_aggregates(spark):
    from siddhi_execution_unique_spark.functions import curation as fcur
    events = load_table(spark, SF_DIR, "events")
    plan = plan_of(fcur.data_profile(events))
    # every branch partially aggregates; no window, no nested loop
    assert "partial_count" in plan or "partial_min" in plan
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


def test_join_key_health_joins_count_tables_not_facts(spark):
    from siddhi_execution_unique_spark.functions import curation as fcur
    events = load_table(spark, SF_DIR, "events")
    orders = load_table(spark, SF_DIR, "orders")
    plan = plan_of(fcur.join_key_health(events, orders))
    # top slice is a distributed heap, not a global sort window
    assert "TakeOrderedAndProject" in plan
    assert "Window" not in plan
    # fact tables reach only aggregates: count tables join, facts don't
    assert "partial_count" in plan


def test_hourly_anomalies_single_user_keyed_window(spark):
    from siddhi_execution_unique_spark.functions import analytics as fana
    events = load_table(spark, SF_DIR, "events")
    plan = plan_of(fana.hourly_anomalies(events))
    # hourly rollup combines map-side; trailing stats are ONE window
    # pass keyed on the high-cardinality user_id
    assert plan.count("Window") == 1
    assert "partial_sum" in plan
    assert "CartesianProduct" not in plan


def test_vocab_top_per_lang_windows_are_salted(spark):
    from siddhi_execution_unique_spark.functions import curation as fcur
    docs = load_table(spark, SF_DIR, "documents")
    plan = plan_of(fcur.vocab_top_per_lang(docs))
    # phase-1 ranking must partition on (lang, salt), never lang alone
    assert "hashpartitioning(lang" in plan and "salt" in plan
    assert "partial_count" in plan


def test_disorder_prefix_max_never_sorts_globally(spark):
    from siddhi_execution_unique_spark.functions import analytics as fana
    events = load_table(spark, SF_DIR, "events")
    plan = plan_of(fana.disorder_stats(events))
    # the running front must partition on the arrival bucket; a
    # regression to one global ORDER BY window would show an empty
    # partitionBy (SinglePartition exchange feeding a Window)
    assert "hashpartitioning(bkt" in plan
    assert "partial_max" in plan


def test_length_batch_funnel_is_narrow(spark):
    """The lengthBatch single ordered task must see ONLY the 3-column
    (key, ts, tiebreak) funnel — payload columns ride the distributed
    join-back, never the coalesce(1). A regression that lets the props
    map or value column into the serial stage multiplies the one
    unavoidable serial scan's bytes ~10x."""
    events = load_table(spark, SF_DIR, "events")
    plan = plan_of(
        ops.length_batch(events, "user_id", 50, ts="ts", tiebreak="event_id")
    )
    # exactly one single-partition exchange feeding a JVM Sort + the
    # streaming MapInPandas chain (no concat ceiling), and the subtree
    # below it projects only the narrow columns
    assert plan.count("Exchange SinglePartition") == 1
    funnel_idx = plan.index("Exchange SinglePartition")
    below = plan[funnel_idx:]
    assert "props" not in below and "value" not in below and "event_type" not in below
    # the JVM external sort (spillable) orders the chain's input —
    # the pandas side must not re-sort/concat
    sort_idx = plan.index("Sort [")
    assert sort_idx < funnel_idx  # Sort sits directly above the exchange
    # the full rows come back via a distributed equi-join on the
    # tiebreak id, not through the serial stage
    assert "SortMergeJoin" in plan or "BroadcastHashJoin" in plan or "ShuffledHashJoin" in plan


def test_partitioned_replay_is_one_keyed_exchange(spark):
    """`partition with` over the length families must distribute by
    the partition attribute: exactly one hash exchange on it feeding
    the per-instance FlatMapGroupsInPandas — no single-partition
    funnel anywhere in the plan (the partitioned form scales with the
    number of partition values)."""
    events = load_table(spark, SF_DIR, "events")
    for df in (
        ops.length_batch(
            events, "user_id", 40, ts="ts", tiebreak="event_id",
            partition_attr="event_type",
        ),
        ops.time_length_batch(
            events, "user_id", 21_600_000, 20,
            ts="ts", tiebreak="event_id", partition_attr="event_type",
        ),
    ):
        plan = plan_of(df)
        assert "FlatMapGroupsInPandas [event_type" in plan
        assert plan.count("hashpartitioning(event_type") == 1
        assert "Exchange SinglePartition" not in plan
        assert "Coalesce 1" not in plan


def test_expired_channels_join_on_keys_not_forced_broadcast(spark):
    """The expired-channel derivations join the tiny fire/batch log
    back on its key; the STRATEGY is AQE's choice (a forced broadcast
    of the rows/N fire log would OOM at scale — VERDICT r06), so the
    test pins the join key and the absence of a cartesian product,
    not the physical strategy."""
    events = load_table(spark, SF_DIR, "events")
    lb = ops.length_batch_expired(
        ops.length_batch(events, "user_id", 50, ts="ts", tiebreak="event_id")
    )
    opt = optimized_of(lb)
    assert "batch_seq" in opt
    # the join-back is an equi-join on batch_seq, never a cross join
    assert "Join Cross" not in opt
    tlb = ops.time_length_batch_expired(
        events, "user_id", 21_600_000, 20, ts="ts", tiebreak="event_id"
    )
    p = plan_of(tlb)
    assert "Join" in p and "batch_seq" in p
    etb = ops.external_time_batch_expired(
        events, "user_id", "ts", 7_200_000, tiebreak="event_id"
    )
    p2 = plan_of(etb)
    # the present-batch log aggregates to one row per batch, then a
    # lead(2) window over the tiny set, joined back on batch_start_ms
    assert "lead(_first_ms" in p2 and "batch_start_ms" in p2


def test_dup_span_coverage_plan_shape(spark):
    """r09 exact-substring coverage: anchors are explode(sequence) +
    array indexing rows (Generate, codegen — no interpreted array
    lambdas), the cross-doc test is a hash aggregation on the gram
    hash (shuffle = distinct grams, never doc pairs), and the
    interval union is ONE per-doc window pass. No cartesian product
    anywhere."""
    from siddhi_execution_unique_spark.functions import dedup as fdedup

    docs = load_table(spark, SF_DIR, "documents")
    out = fdedup.dup_span_coverage(docs)
    p = plan_of(out)
    assert "CartesianProduct" not in p and "Join Cross" not in p
    assert "Generate explode" in p
    assert "LambdaFunction" not in optimized_of(out)
    assert p.count("Window") == 1  # the lag() interval union
    assert "HashAggregate" in p


def test_interval_join_stream_is_native_watermarked_join(spark, tmp_path):
    """r09 stream-stream join twin: both sides carry event-time
    watermarks and the join condition keeps native INTERVAL
    arithmetic on the watermarked timestamps (the form Spark's
    state-bound extraction understands — unix_millis there would
    leave join state unbounded). No Python stage anywhere."""
    from siddhi_execution_unique_spark import streaming as stw

    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    sdf = spark.readStream.schema(schema).parquet(str(tmp_path))
    out = stw.interval_join_stream(sdf, "click", "purchase", 30 * 60 * 1000)
    plan = out._jdf.queryExecution().analyzed().toString()
    assert plan.count("EventTimeWatermark") == 2
    join_lines = [l for l in plan.splitlines() if "Join Inner" in l]
    assert len(join_lines) == 1
    # the join CONDITION keeps interval arithmetic on the raw
    # watermarked timestamps (unix_millis appears only in the gap_ms
    # output projection, where it's harmless)
    assert "INTERVAL" in join_lines[0]
    assert "unix_millis" not in join_lines[0]
    for py_node in ("MapInPandas", "FlatMapGroupsInPandas", "PythonUDF"):
        assert py_node not in plan


def test_dup_span_removal_plan_shape(spark):
    """r10 anchor-interval rebuild (VERDICT r09 item 6): document
    TOKENS never explode — the only Generate nodes belong to the
    shared anchor-gram pipeline; the covered intervals come from the
    lag-island window over duplicated ANCHORS only, and the rebuild
    slices the intact token array (per-doc interval arrays, so the
    higher-order zip_with runs over interval counts, never tokens).
    No cartesian, no range join, no ordered listagg sort-agg."""
    from siddhi_execution_unique_spark.functions import dedup as fdedup

    docs = load_table(spark, SF_DIR, "documents")
    out = fdedup.dup_span_removal(docs)
    p = plan_of(out)
    assert "CartesianProduct" not in p and "Join Cross" not in p
    # the anchor-gram pipeline explodes gram positions once; the
    # rebuild side adds NO token explode (compare: the coverage
    # entry's plan has the same single Generate)
    cov = plan_of(fdedup.dup_span_coverage(docs))
    assert p.count("Generate") == cov.count("Generate")
    # lag + island-sum over anchors: two window passes, both anchor-
    # bound; the old per-token K-frame covered window is gone with
    # the token explode itself
    assert p.count("Window") == 2
    assert "listagg" not in p.lower()


def test_bench_tail_line_fits_driver_capture():
    """The round driver keeps only the last 2000 chars of bench.py's
    stdout and parses the final JSON line; every BENCH since r03 was
    "parsed": null because the full 174-entry queries map is ~5 KB.
    The budgeted tail line must fit with headroom, parse, keep the
    full totals, lead with the driver's sample window, and declare
    its own truncation."""
    import json

    import bench
    import __spark_entry__ as entry_mod

    names = list(entry_mod.queries())
    # the payload main() emits, every field filled with a value as wide
    # as a real run's (BENCH_LOCAL.json), so the headroom tested is the
    # headroom the real tail line has
    payload = bench._payload(
        {n: round(1.0 + (i % 37) / 7, 3) for i, n in enumerate(names)},
        0.1, 2, chain_sec=0.1997, parallel_sec=0.4271, workers=32,
        load_start=[0.84, 3.49, 3.71], load_end=[15.41, 10.5, 7.81],
        mid_run={"samples": 87, "p95": 14.24, "max": 17.2}, load_waited=150.0,
    )
    payload["contended"] = bench._detect_contention(payload, None)
    priority = list(dict.fromkeys(bench.ANCHOR_QUERIES + names))
    out = bench._tail_budgeted(payload, priority)
    line = json.dumps(out, separators=(",", ":"))
    # driver keeps the last 2000 chars; the budget leaves headroom
    assert len(line) <= 1900
    assert json.loads(line)["value"] == payload["value"]
    reported = list(out["queries"])
    # priority = pinned anchors first (round-stable PERF comparison,
    # VERDICT r14 item 1), then the rotating registry order
    assert reported == priority[: len(reported)]
    assert out["queries_total"] == len(names)
    assert out["queries_reported"] == len(reported) >= 40
    assert out["full"] == "BENCH_LOCAL.json"
    # every pinned anchor must exist in the registry (a renamed or
    # dropped entry would silently shrink the driver's comparison set)
    assert set(bench.ANCHOR_QUERIES) <= set(names)
    # and the whole anchor set fits the budgeted line
    assert set(bench.ANCHOR_QUERIES) <= set(reported)


def test_bench_contention_detector():
    """VERDICT r12 'what's wrong' #1: the p95-envelope heuristic
    passed a run whose stragglers were 6x inflated. The replacement
    flags (a) a start load above 1.0 — sampled post-gate,
    pre-session, so it is pure co-tenant CPU — and (b) 3+ queries
    inflated >2x against the last CLEAN solo payload after
    calibration normalization; a clean quiet run stays unflagged,
    and host-drift (calibration moves WITH the timings) does not
    false-positive."""
    import bench

    prev = {
        "queries": {f"q{i}": 2.0 for i in range(10)},
        "calibration": {"md5_chain_sec": 0.2},
        "contended": {"flag": False, "reasons": []},
    }
    clean = {
        "queries": {f"q{i}": 2.1 for i in range(10)},
        "calibration": {"md5_chain_sec": 0.2},
        "load_avg_start": [0.4, 0.5, 0.6],
    }
    assert bench._detect_contention(clean, prev)["flag"] is False
    # start load witness
    hot_start = dict(clean, load_avg_start=[1.88, 1.0, 0.8])
    v = bench._detect_contention(hot_start, prev)
    assert v["flag"] and "load_avg_start" in v["reasons"][0]
    # straggler inflation vs the last clean solo run
    stragglers = dict(clean)
    stragglers["queries"] = {**clean["queries"],
                             "q0": 12.0, "q1": 6.4, "q2": 5.0}
    v = bench._detect_contention(stragglers, prev)
    assert v["flag"] and ">2x" in v["reasons"][0]
    # host drift: everything 2.5x slower INCLUDING calibration — clean
    drifted = {
        "queries": {f"q{i}": 5.0 for i in range(10)},
        "calibration": {"md5_chain_sec": 0.5},
        "load_avg_start": [0.2, 0.2, 0.2],
    }
    assert bench._detect_contention(drifted, prev)["flag"] is False
    # a previously-CONTENDED payload is not a baseline
    prev_bad = dict(prev, contended={"flag": True, "reasons": ["x"]})
    assert bench._detect_contention(stragglers, prev_bad)["flag"] is False
    # the tail line carries the flag as a compact boolean
    tagged = dict(stragglers, contended={"flag": True, "reasons": ["r"]},
                  metric="total_bench_sec", value=1.0, unit="sec", sf=0.1)
    out = bench._tail_budgeted(tagged, list(tagged["queries"]),
                               full="BENCH_LAST_RUN.json")
    assert out["contended"] is True
    assert out["full"] == "BENCH_LAST_RUN.json"


def test_driver_window_covers_stale_entries():
    """Rotation invariant (VERDICT r07 item 1): the driver certifies
    only the FIRST 50 ``queries()`` entries each round, so the window
    must always contain (a) every entry never driver-checked (new this
    round) and (b) every entry whose last green driver row is 3+
    rounds old. Staleness is recomputed from the CORRECTNESS_r*.json
    ledger, so this test enforces the rotation every round without a
    hand-kept list."""
    import glob
    import json
    import os

    import __spark_entry__ as entry_mod

    repo = os.path.dirname(os.path.abspath(entry_mod.__file__))
    last: dict[str, int] = {}
    rounds = []
    for f in glob.glob(os.path.join(repo, "CORRECTNESS_r*.json")):
        rnd = int(os.path.basename(f).split("_r")[1].split(".")[0])
        rounds.append(rnd)
        for k, v in json.load(open(f)).items():
            if (
                v.get("rows_match")
                and v.get("schema_match")
                and v.get("hash_match") in (True, None)
                and not v.get("err")
            ):
                last[k] = max(last.get(k, 0), rnd)
    assert rounds, "no CORRECTNESS ledger found"
    max_round = max(rounds)
    names = list(entry_mod.queries())
    window = set(names[:50])
    never_checked = {k for k in names if k not in last}
    assert never_checked <= window, (
        f"new entries outside the driver window: {sorted(never_checked - window)}"
    )
    cut = max_round - entry_mod._stale_after(len(names))
    stale = {k for k, v in last.items() if v <= cut and k in set(names)}
    mandatory = never_checked | stale
    if len(mandatory) <= 50:
        assert stale <= window, (
            f"3+-round-stale entries outside the driver window: {sorted(stale - window)}"
        )
    else:
        # Capacity overflow: at 200 entries the 4-round cycle is
        # exactly full (4 x 50), so the round that registers a new
        # entry has |mandatory| = 51 > window. The rotation handles
        # this deterministically: never-checked first, then stalest
        # entries by ledger round; the overflow (lowest-priority
        # stale) waits exactly one round and, being then the stalest
        # entry in the ledger, is guaranteed the head of the next
        # window. Enforce that degraded-mode shape rather than the
        # impossible full-coverage form:
        # (a) every window slot is spent on a mandatory entry —
        #     no fresh entry rides while a stale one waits;
        assert window <= mandatory, (
            f"non-mandatory entries in an overflowing window: "
            f"{sorted(window - mandatory)}"
        )
        # (b) the overflow clears next round: it fits the window
        #     even after the currently-fresh tiers age one round.
        overflow = mandatory - window
        next_stale = {
            k for k, v in last.items()
            if v == max_round - 2 and k in set(names) and k not in window
        }
        assert len(overflow) + len(next_stale) <= 50, (
            f"overflow ({len(overflow)}) + next round's newly-stale "
            f"({len(next_stale)}) exceeds the window — the rotation "
            "cannot recover"
        )


def test_driver_window_self_maintains_after_ledger_drop():
    """VERDICT r09 item 1: the rotation order is DERIVED from the
    CORRECTNESS ledger, so a new CORRECTNESS_r*.json landing after a
    round closes can never redden the committed tree (the failure
    mode of r08's _R08_FILL and r09's _R09_FILL hand-kept lists).
    Simulate the next round's ledger drop — the driver certifies the
    current first 50 — and re-derive the order: the newly-stale tier
    must rotate into the window automatically."""
    import __spark_entry__ as entry_mod

    names = list(entry_mod.queries())
    last, max_round = entry_mod._ledger_last()
    # simulated next-round ledger: current window gets fresh rows
    sim_last = dict(last)
    sim_round = max_round + 1
    for k in names[:50]:
        sim_last[k] = sim_round
    # re-derive the order against the simulated ledger via the REAL
    # code path (ledger injection), not a reimplementation
    sim_order = entry_mod._ledger_order(names, ledger=(sim_last, sim_round))
    window = set(sim_order[:50])
    stale = {k for k, v in sim_last.items()
             if v <= sim_round - entry_mod._stale_after(len(names))
             and k in set(names)}
    never = {k for k in names if k not in sim_last}
    assert len(stale | never) <= 50, (
        f"mandatory tier ({len(stale | never)}) exceeds the 50-entry "
        "window — too many entries added without rotation budget"
    )
    assert (stale | never) <= window, sorted((stale | never) - window)


def test_ledger_rotation_certifies_every_entry_within_cycle(tmp_path):
    """Long-game invariant: iterating the self-maintaining rotation
    (each simulated round certifies the first 50 of the derived
    order) must hand EVERY entry a fresh driver row within
    ceil(total/50) rounds, and the stale set must stay inside the
    window at every step — the rotation can never starve an entry."""
    import math

    import __spark_entry__ as entry_mod

    names = list(entry_mod.queries())
    last, max_round = entry_mod._ledger_last()
    sim_last = dict(last)
    sim_round = max_round
    cycle = math.ceil(len(names) / 50)
    for _ in range(cycle + 2):
        sim_round += 1
        order = entry_mod._ledger_order(names, ledger=(sim_last, sim_round - 1))
        window = set(order[:50])
        stale = {k for k in names
                 if sim_last.get(k, -1)
                 <= (sim_round - 1) - entry_mod._stale_after(len(names))}
        if len(stale) <= 50:
            assert stale <= window, sorted(stale - window)[:5]
        else:
            # full-capacity overflow round (see
            # test_driver_window_covers_stale_entries): every slot
            # must at least be spent on a stale entry, and the
            # starvation bound below still holds.
            assert window <= stale, sorted(window - stale)[:5]
        for k in order[:50]:
            sim_last[k] = sim_round
    oldest = min(sim_last.get(k, -1) for k in names)
    assert oldest >= sim_round - cycle, (
        f"an entry starved: oldest row {oldest} vs round {sim_round}"
    )


def test_ledger_parse_survives_malformed_files(tmp_path, monkeypatch):
    """_ledger_last gates queries() entirely now, so a malformed
    CORRECTNESS file (truncated JSON, a list payload, non-dict rows)
    must be SKIPPED, never crash the registry import."""
    import json
    import os

    import __spark_entry__ as entry_mod

    good = {"q_a": {"rows_match": True, "schema_match": True, "hash_match": True},
            "q_b": {"rows_match": True, "schema_match": True, "hash_match": False},
            "q_c": "not-a-dict"}
    (tmp_path / "CORRECTNESS_r03.json").write_text(json.dumps(good))
    (tmp_path / "CORRECTNESS_r04.json").write_text("{truncated")
    (tmp_path / "CORRECTNESS_r05.json").write_text("[1, 2, 3]")
    (tmp_path / "CORRECTNESS_rXX.json").write_text("{}")
    monkeypatch.setattr(entry_mod, "__file__", str(tmp_path / "__spark_entry__.py"))
    last, max_round = entry_mod._ledger_last()
    assert last == {"q_a": 3}          # hash-false and non-dict rows excluded
    assert max_round == 3              # r04/r05/rXX skipped, not crashed


def test_lsh_ingest_stream_signature_stage_is_jvm(spark, tmp_path):
    """VERDICT r07 item 2: the streaming LSH ingest twin's signature
    stage must run the batch pipeline's codegen md5 algebra JVM-side —
    the only Python stages are the Arrow-vectorized segmented-min
    reduce and the stateful band-bucket operator; no per-row Python
    hashing before the state store."""
    import inspect

    from siddhi_execution_unique_spark import streaming as stw

    # source-level: no hashlib / re-based tokenizer in the twin
    src = inspect.getsource(stw.lsh_ingest_stream)
    assert "import hashlib" not in src and "import re" not in src

    schema = "doc_id long, text string"
    sdf = (
        spark.readStream.schema(schema)
        .parquet(str(tmp_path))  # never started; plan-only
    )
    out = stw.lsh_ingest_stream(sdf)
    # analyzed (not optimized) plan: an unstarted streaming query
    # rejects optimizedPlan(), and the node shapes under test are
    # already fixed at analysis
    plan = out._jdf.queryExecution().analyzed().toString()
    # md5 + conv shingle hash lives in a JVM projection
    assert "md5" in plan and "conv" in plan
    # exactly two Python stages: the segmented-min mapInPandas and the
    # stateful band operator — nothing row-at-a-time
    assert plan.count("MapInPandas") == 1
    assert "FlatMapGroupsInPandasWithState" in plan
    # shingle production is explode(sequence)+indexing (codegen), not
    # an interpreted array lambda
    assert "LambdaFunction" not in plan


def test_partitioned_external_time_batch_plan_shape(spark):
    """r08: the anchor-free partitioned externalTimeBatch is a tiny
    per-attribute min aggregate joined back plus ONE (batch, attr,
    key) hash aggregation — no window function over the fact table,
    no cartesian product."""
    events = load_table(spark, SF_DIR, "events")
    out = ops.external_time_batch(
        events, "user_id", "ts", 7_200_000, tiebreak="event_id",
        partition_attr="event_type",
    )
    p = plan_of(out)
    assert "Join Cross" not in p and "CartesianProduct" not in p
    # the retain step is a hash aggregation (max_by partial+final),
    # not a row_number window over the full table
    assert "HashAggregate" in p
    assert p.count("Window") == 0


def test_partitioned_join_is_single_equi_join(spark):
    """r08: a partitioned window-to-window join lowers to ONE
    equi-join on (user condition AND partition attr) between two
    composite-key evers — never a cartesian product or a
    per-instance loop."""
    from siddhi_execution_unique_spark import siddhiql as sq

    events = load_table(spark, SF_DIR, "events")
    two = {"lefties": events.filter(F.col("event_id") % 2 == 0),
           "righties": events.filter(F.col("event_id") % 2 == 1)}
    app = """
    partition with (event_type of lefties, event_type of righties)
    begin
        from lefties#window.unique:ever(user_id)
        join righties#window.unique:ever(user_id)
        on lefties.user_id == righties.user_id
        select lefties.event_id as l_id, righties.event_id as r_id
        insert into joined;
    end
    """
    out = sq.run_app(app, two, tiebreak="event_id")["joined"]
    p = plan_of(out)
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    assert ("SortMergeJoin" in p) or ("BroadcastHashJoin" in p) or (
        "ShuffledHashJoin" in p
    )


def test_all_channel_lowerings_are_single_pass(spark, sf_dir):
    """`insert all events into` must not recompute its subtree: a
    current∪expired union runs every exchange once per branch (Spark
    has no cross-union exchange reuse). Each all-channel lowering's
    plan must contain NO Union node and at most one Generate (the
    channel explode; the complement windows need none), and its scan
    count must equal the single-pass budget."""
    import __spark_entry__ as entry_mod

    qs = entry_mod.queries()
    # entry -> (max parquet scans in the single-pass shape, unions
    # allowed for the tiny flush-witness log — the join forms union
    # the two sides' one-row-per-batch end lists, which is not a
    # channel-branch recompute)
    budgets = {
        "siddhiql_partitioned_join_all": (8, 1),
        # r10: the aligned externalTimeBatch partitioned join lowers
        # through the same single-pass shape as the timeBatch analog
        "siddhiql_partitioned_join_external_time_batch": (8, 1),
        "siddhiql_join_time_batch_all": (8, 1),
        "siddhiql_partitioned_external_time_batch_all": (8, 0),
        "siddhiql_partitioned_time_batch_all": (4, 0),
        "siddhiql_time_length_batch_all": (8, 0),
        "siddhiql_partitioned_length_all": (4, 0),
    }
    for name, (max_scans, max_unions) in budgets.items():
        df = qs[name](spark, sf_dir)
        plan = plan_of(df)
        assert plan.count("Union") <= max_unions, name
        assert plan.count("Generate") <= 1, name
        scans = plan.count("FileScan")
        assert scans <= max_scans, (name, scans)


def test_multimodal_decode_is_single_python_stage(spark):
    """r14: the synthesized-payload decode pipelines fuse encode →
    decode → reduce into ONE mapInPandas (guide §4) — a second
    MapInPandas node means the payload bytes round-trip through the
    JVM again, and a widened scan means the fused stage stopped
    pruning to (doc_id, text)."""
    from siddhi_execution_unique_spark.functions import multimodal as fmm

    docs = load_table(spark, SF_DIR, "documents")
    for fn in (fmm.decode_stats, fmm.audio_stats, fmm.video_frame_stats,
               fmm.jpeg_decode_stats, fmm.jpeg420_decode_stats,
               fmm.png_decode_stats, fmm.gunzip_text_stats,
               fmm.flac_audio_stats):
        plan = plan_of(fn(docs))
        assert plan.count("MapInPandas") == 1, fn.__name__
        assert "payload" not in plan, fn.__name__  # bytes never reach the JVM

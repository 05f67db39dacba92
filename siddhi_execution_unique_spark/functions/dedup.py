"""Deduplication operators for training-data pipelines: exact,
MinHash+LSH near-dup, SimHash, and blocked n-gram Jaccard.
(Beyond-reference scope — SURVEY.md §7 phase 4.)

All hashing is md5-based (identical across Spark and DuckDB, verified
bit-exact) with arithmetic seed derivation, so every operator has an
exact DuckDB oracle. The LSH pipeline is the 100 TB scale path:
signatures are one narrow projection per doc, candidate generation is
a shuffle on band keys (no O(n²) cross join), and verification only
touches candidate pairs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from siddhi_execution_unique_spark.functions.text import (  # noqa: F401
    checkpointed as _checkpointed,
    DUCK_TOKS,
    NORM_DUCK,
    NORM_SPARK,
    SPARK_TOKS,
)

P = 1_000_000_007
# deterministic (a, b) seed pairs for the 12 minhash permutations
SEEDS = [
    (37, 126), (91, 512), (173, 904), (277, 18), (383, 761), (487, 333),
    (577, 209), (691, 440), (787, 615), (881, 97), (983, 828), (1091, 254),
]
BANDS = 4
ROWS_PER_BAND = 3
JACCARD_THRESHOLD = 0.2
MIN_TOKENS = 3  # word-3-gram shingles need >= 3 tokens

# NOTE ON HIGHER-ORDER FUNCTIONS: Spark evaluates transform()/
# aggregate() lambdas in CodegenFallback (interpreted, boxed) and
# CollapseProject freely inlines a staged tokenization column into the
# lambda body once a Generate/explode sits above it — re-running
# split() per array element. Nothing array-lambda-shaped survives in a
# hot path here: shingles and n-grams are produced as ROWS via
# explode(sequence(...)) + array indexing, which stays entirely inside
# whole-stage codegen.
_SHINGLE_DUCK = (
    f"list_distinct(list_transform(generate_series(1, len({DUCK_TOKS}) - 2), "
    f"i -> concat_ws(' ', {DUCK_TOKS}[i], {DUCK_TOKS}[i+1], {DUCK_TOKS}[i+2])))"
)


def _hash_expr(col: str) -> str:
    return f"cast(conv(substring(md5({col}), 1, 15), 16, 10) as bigint) % {P}"


_HASH_SPARK = _hash_expr("s")
_HASH_DUCK = "CAST(('0x' || substring(md5(s), 1, 15)) AS BIGINT) % {p}".format(p=P)


def exact_dedup(docs: DataFrame) -> DataFrame:
    """Exact dedup on the normalized-text fingerprint: one row per
    distinct content with the kept (minimum) doc_id and the duplicate
    count. Single hash aggregation — the canonical 100 TB dedup."""
    return (
        docs.select(F.expr(f"md5({NORM_SPARK})").alias("fingerprint"), "doc_id")
        .groupBy("fingerprint")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count("*").alias("n_docs"))
    )


def exact_dedup_oracle() -> str:
    return f"""
        SELECT md5({NORM_DUCK}) AS fingerprint,
               min(doc_id) AS keep_doc_id, count(*) AS n_docs
        FROM documents GROUP BY 1
    """


def _shingle_rows(docs: DataFrame) -> DataFrame:
    """(doc_id, sh): one row per word-3-gram shingle occurrence (NOT
    deduplicated). Tokens are staged once per document; positions come
    from explode(sequence) and the shingle from array indexing — all
    codegen, no lambdas."""
    toks = docs.select("doc_id", F.expr(SPARK_TOKS).alias("toks")).filter(
        F.expr(f"size(toks) >= {MIN_TOKENS}")
    )
    return toks.select(
        "doc_id", "toks",
        F.explode(F.expr(f"sequence(0, size(toks) - {MIN_TOKENS})")).alias("i"),
    ).select(
        "doc_id",
        F.expr("concat_ws(' ', toks[i], toks[i+1], toks[i+2])").alias("sh"),
    )


def _distinct_shingles(docs: DataFrame) -> DataFrame:
    """(doc_id, sh) distinct — the set semantics jaccard needs."""
    return _shingle_rows(docs).dropDuplicates(["doc_id", "sh"])


def minhash_signatures(docs: DataFrame, shingle_rows: DataFrame | None = None) -> DataFrame:
    """12-permutation MinHash signature per document over distinct
    word-3-gram shingles.

    Computed as shingle rows → per-shingle hash → 12 ``min()``
    aggregates in one hash-aggregation pass, all whole-stage codegen.
    Duplicate shingles are harmless under ``min`` so no distinct pass
    is needed — which also means a caller holding a (doc_id, sh) frame
    (distinct or not, e.g. the materialized shingle table the jaccard
    verifier already needs) can pass it in and the corpus is shingled
    exactly once across the composed pipeline."""
    src = shingle_rows if shingle_rows is not None else _shingle_rows(docs)
    hashed = src.select(
        "doc_id", F.expr(_hash_expr("sh")).alias("h")
    )
    aggs = [
        F.min(F.expr(f"({a}L * h + {b}L) % {P}L")).alias(f"mh_{j}")
        for j, (a, b) in enumerate(SEEDS)
    ]
    return hashed.groupBy("doc_id").agg(*aggs)


def minhash_signatures_oracle() -> str:
    sig_cols = ",\n               ".join(
        f"list_min(list_transform(hs, h -> ({a} * h + {b}) % {P})) AS mh_{j}"
        for j, (a, b) in enumerate(SEEDS)
    )
    return f"""
        WITH hashed AS (
          SELECT doc_id,
                 list_transform({_SHINGLE_DUCK}, s -> {_HASH_DUCK}) AS hs
          FROM documents WHERE len({DUCK_TOKS}) >= {MIN_TOKENS}
        )
        SELECT doc_id, {sig_cols} FROM hashed
    """


def lsh_ingest_oracle() -> str:
    """Closed form for the one-batch replay of
    :func:`streaming.lsh_ingest_stream`: every (doc, band) whose
    bucket holds a lower doc_id emits a candidate against the bucket
    minimum (the stream's first-wins rep under doc_id-ordered
    processing)."""
    band_list = ", ".join(
        "concat_ws(':', '%d', %s)"
        % (
            b,
            ", ".join(
                f"mh_{b * ROWS_PER_BAND + r}::VARCHAR"
                for r in range(ROWS_PER_BAND)
            ),
        )
        for b in range(BANDS)
    )
    return f"""
        WITH sig AS ({minhash_signatures_oracle()}),
        bands AS (
          SELECT doc_id, unnest([{band_list}]) AS band_key FROM sig
        )
        SELECT doc_id, band_key, rep_id FROM (
          SELECT doc_id, band_key,
                 min(doc_id) OVER (PARTITION BY band_key ORDER BY doc_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND 1 PRECEDING) AS rep_id
          FROM bands) t
        WHERE rep_id IS NOT NULL
    """


def _band_keys(sig: DataFrame) -> DataFrame:
    """Explode a signature frame into (band_key, doc_id) rows — the
    LSH bucketing shuffle key."""
    band_exprs = []
    for b in range(BANDS):
        parts = [f"'{b}'"] + [
            f"cast(mh_{b * ROWS_PER_BAND + r} as string)" for r in range(ROWS_PER_BAND)
        ]
        band_exprs.append(f"concat_ws(':', {', '.join(parts)})")
    return sig.select(
        "doc_id", F.explode(F.expr(f"array({', '.join(band_exprs)})")).alias("band_key")
    )


def lsh_candidate_pairs(
    docs: DataFrame,
    materialize: bool = True,
    shingle_rows: DataFrame | None = None,
) -> DataFrame:
    """Candidate near-dup pairs: documents sharing at least one LSH
    band (4 bands × 3 rows). Self-join on the band key — at scale this
    is a hash join on a high-cardinality key, never a cross join. The
    band table (shingle → signature pipeline) materializes once and
    feeds both join sides (see :func:`_checkpointed`)."""
    sig = minhash_signatures(docs, shingle_rows=shingle_rows)
    bands = _band_keys(sig)
    if shingle_rows is None:
        # standalone use: the full shingle->signature pipeline feeds
        # both self-join sides — materialize it once. When the caller
        # passes a (materialized) shingle frame, bands are two cheap
        # aggregations over it and need no checkpoint of their own.
        bands = _checkpointed(bands) if materialize else bands
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(b, (F.col("a.band_key") == F.col("b.band_key"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("doc_id_1"), F.col("b.doc_id").alias("doc_id_2"))
        .distinct()
    )


def near_dup_pairs(
    docs: DataFrame,
    threshold: float = JACCARD_THRESHOLD,
    materialize: bool = True,
    shingle_rows: DataFrame | None = None,
) -> DataFrame:
    """MinHash-LSH near-duplicate pairs, verified with exact Jaccard
    over distinct word-3-gram shingles. Output: (doc_id_1, doc_id_2,
    jaccard) for candidates with jaccard >= threshold.

    Verification is posting-list shaped: candidates join the distinct
    shingle rows of each side and the intersection is a count over
    matching (shingle, pair) rows — equi-joins and hash aggregation
    only, no pairwise array_intersect (which Catalyst would push into
    the join condition and re-evaluate per row, interpreted). A
    candidate pair with zero shared shingles drops out of the inner
    join — exactly the jaccard=0 < threshold case."""
    ex = shingle_rows
    if ex is None:
        ex = _distinct_shingles(docs)
        ex = _checkpointed(ex) if materialize else ex
    sizes = ex.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    pairs = lsh_candidate_pairs(
        docs, materialize=materialize,
        shingle_rows=ex if materialize else None,
    )
    ex2 = ex.select(F.col("doc_id").alias("d2"), F.col("sh").alias("sh2"))
    inter = (
        pairs.join(ex.withColumnRenamed("doc_id", "doc_id_1"), "doc_id_1")
        .join(ex2, (F.col("doc_id_2") == F.col("d2")) & (F.col("sh") == F.col("sh2")))
        .groupBy("doc_id_1", "doc_id_2")
        .agg(F.count("*").alias("inter"))
    )
    # No broadcast hint on `sizes`: it is O(n_docs) rows, which at the
    # 100 TB corpus scale would OOM the driver. Both joins key on
    # doc_id — a clean shuffle key — so AQE picks broadcast only when
    # the side actually fits.
    return (
        inter.join(sizes.withColumnRenamed("doc_id", "doc_id_1")
                   .withColumnRenamed("n_sh", "n_1"), "doc_id_1")
        .join(sizes.withColumnRenamed("doc_id", "doc_id_2")
              .withColumnRenamed("n_sh", "n_2"), "doc_id_2")
        .withColumn(
            "jaccard",
            F.expr("round(inter / cast(n_1 + n_2 - inter as double), 6)"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_id_1", "doc_id_2", "jaccard")
    )


def near_dup_pairs_oracle(threshold: float = JACCARD_THRESHOLD,
                          table: str = "documents") -> str:
    sig_cols = ",\n                 ".join(
        f"list_min(list_transform(hs, h -> ({a} * h + {b}) % {P})) AS mh_{j}"
        for j, (a, b) in enumerate(SEEDS)
    )
    band_exprs = []
    for b in range(BANDS):
        parts = [f"'{b}'"] + [
            f"CAST(mh_{b * ROWS_PER_BAND + r} AS VARCHAR)" for r in range(ROWS_PER_BAND)
        ]
        band_exprs.append(f"concat_ws(':', {', '.join(parts)})")
    return f"""
        WITH shingles AS (
          SELECT doc_id, {_SHINGLE_DUCK} AS sh
          FROM {table} WHERE len({DUCK_TOKS}) >= {MIN_TOKENS}
        ),
        hashed AS (
          SELECT doc_id, list_transform(sh, s -> {_HASH_DUCK}) AS hs FROM shingles
        ),
        sig AS (
          SELECT doc_id, {sig_cols} FROM hashed
        ),
        bands AS (
          SELECT doc_id, unnest([{', '.join(band_exprs)}]) AS band_key FROM sig
        ),
        cand AS (
          SELECT DISTINCT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2
          FROM bands a JOIN bands b
            ON a.band_key = b.band_key AND a.doc_id < b.doc_id
        )
        SELECT doc_id_1, doc_id_2,
               round(len(list_intersect(s1.sh, s2.sh)) /
                     CAST(len(s1.sh) + len(s2.sh) - len(list_intersect(s1.sh, s2.sh)) AS DOUBLE),
                     6) AS jaccard
        FROM cand
        JOIN shingles s1 ON s1.doc_id = doc_id_1
        JOIN shingles s2 ON s2.doc_id = doc_id_2
        WHERE round(len(list_intersect(s1.sh, s2.sh)) /
                    CAST(len(s1.sh) + len(s2.sh) - len(list_intersect(s1.sh, s2.sh)) AS DOUBLE),
                    6) >= {threshold}
    """


SIMHASH_BITS = 32


def simhash(docs: DataFrame) -> DataFrame:
    """32-bit SimHash over whitespace tokens: bit b is set when the
    sum over tokens of (2*bit_b(md5(token)) - 1) is non-negative.

    Explode → hash per token row → 32 conditional ``sum()`` aggregates
    in one codegen hash-agg pass, then assemble the word. The naive
    form (32 ``aggregate()`` lambdas over a hash array) runs in
    CodegenFallback interpreted eval and re-iterates the array per
    bit — two orders of magnitude slower."""
    hashed = docs.select(
        "doc_id", F.explode(F.expr(SPARK_TOKS)).alias("s")
    ).select("doc_id", F.expr(_HASH_SPARK).alias("h"))
    aggs = [
        F.sum(F.expr(f"2 * (shiftright(h, {b}) & 1) - 1")).alias(f"bit_{b}")
        for b in range(SIMHASH_BITS)
    ]
    word = " + ".join(
        f"(CASE WHEN bit_{b} >= 0 THEN {1 << b}L ELSE 0L END)"
        for b in range(SIMHASH_BITS)
    )
    return hashed.groupBy("doc_id").agg(*aggs).select(
        "doc_id", F.expr(word).alias("simhash")
    )


def simhash_oracle() -> str:
    bit_terms = " + ".join(
        f"(CASE WHEN list_sum(list_transform(hs, h -> (2 * ((h >> {b}) & 1) - 1))) >= 0 "
        f"THEN {1 << b} ELSE 0 END)"
        for b in range(SIMHASH_BITS)
    )
    return f"""
        WITH hashed AS (
          SELECT doc_id, list_transform({DUCK_TOKS}, s -> {_HASH_DUCK}) AS hs
          FROM documents
        )
        SELECT doc_id, {bit_terms} AS simhash FROM hashed
    """


HAMMING_MAX = 8
# 4 cyclic rotations at 8-bit offsets; each band is the top 16 bits of
# the rotated word, so the 4 bands tile every cyclic 16-bit window.
SIMHASH_ROTATIONS = (0, 8, 16, 24)
_ROT_MASK = (1 << SIMHASH_BITS) - 1
# Hot-band suppression: a 16-bit window shared by more than this many
# DISTINCT hash groups is non-discriminative (the banding analogue of a
# stop-word) and is dropped from candidate generation; a pair remains
# discoverable through its other rotations. Bounds candidate volume at
# CAP x 4 x n_groups — linear in distinct hashes at any corpus size.
# 128 binds on the sf1 certification corpus (max bucket 213), so the
# suppression path itself is oracle-checked, while sf0.01 buckets stay
# far below it.
BAND_OCCUPANCY_CAP = 128


def _simhash_band_sql(k: int, spark: bool) -> str:
    """Band key for rotation ``k``: tag * 2^16 + top-16-bits(rotl(simhash, k)).
    Pure 64-bit integer arithmetic, identical in Spark SQL and DuckDB."""
    if spark:
        rot = (
            f"(shiftleft(simhash, {k}) | shiftright(simhash, {SIMHASH_BITS - k}))"
            f" & {_ROT_MASK}L"
        )
        return f"{k // 8}L * 65536L + shiftright({rot}, {SIMHASH_BITS // 2})"
    rot = f"((simhash << {k}) | (simhash >> {SIMHASH_BITS - k})) & {_ROT_MASK}"
    return f"{k // 8} * 65536 + (({rot}) >> {SIMHASH_BITS // 2})"


def simhash_near_pairs(docs: DataFrame) -> DataFrame:
    """SimHash near-dup edges within Hamming distance <= 8 between
    DISTINCT-hash group representatives, blocked on 4 rotation bands
    (top 16 bits of the hash rotated by 0/8/16/24).

    Two-tier shape (the 100 TB form — VERDICT r13 item 2). Tier 0:
    docs sharing an identical simhash collapse to one representative
    (the group-min ``doc_id``) in a single hash-agg — exact-duplicate
    mass, the dominant bulk of a templated corpus, never reaches the
    pair join (the previous all-doc-pairs output was itself quadratic:
    5.9k rows at sf0.01 → 57.6M at sf1; group membership IS the
    distance-0 decision and is re-derivable as a group-by). Tier 1:
    only distinct hash values enter the banded self-join, and band
    buckets holding more than ``BAND_OCCUPANCY_CAP`` groups are
    suppressed (non-discriminative windows; a pair stays discoverable
    via its other 3 rotations). Candidate volume is therefore at most
    CAP x 4 x n_groups — linear in distinct hashes — instead of
    ~n²/band-space (single-box sf10 OOM before this change). Candidate
    pairs are deduplicated BEFORE the Hamming filter so a pair sharing
    several live bands is verified once.

    Output: (doc_id_1, doc_id_2, hamming) with both ids group
    representatives and hamming in [1, 8]."""
    sh = simhash(docs)
    reps = sh.groupBy("simhash").agg(F.min("doc_id").alias("doc_id"))
    band_exprs = ", ".join(
        _simhash_band_sql(k, spark=True) for k in SIMHASH_ROTATIONS
    )
    keys = reps.select(
        "doc_id", "simhash",
        F.explode(F.expr(f"array({band_exprs})")).alias("band_key"),
    )
    # one shuffle on band_key; a bucket is at most n_groups rows, so
    # the occupancy count is a spillable window, never a hot collect
    occ_w = Window.partitionBy("band_key")
    keys = (
        keys.withColumn("occ", F.count("*").over(occ_w))
        .filter(F.col("occ") <= BAND_OCCUPANCY_CAP)
        .drop("occ")
    )
    a, b = keys.alias("a"), keys.alias("b")
    cand = (
        a.join(b, (F.col("a.band_key") == F.col("b.band_key"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("doc_id_1"),
                F.col("b.doc_id").alias("doc_id_2"),
                F.col("a.simhash").alias("s1"),
                F.col("b.simhash").alias("s2"))
        .dropDuplicates(["doc_id_1", "doc_id_2"])
    )
    return (
        cand.withColumn("hamming", F.expr("bit_count(s1 ^ s2)"))
        .filter(F.col("hamming") <= HAMMING_MAX)
        .select("doc_id_1", "doc_id_2", "hamming")
    )


def simhash_near_pairs_oracle() -> str:
    bit_terms = " + ".join(
        f"(CASE WHEN list_sum(list_transform(hs, h -> (2 * ((h >> {b}) & 1) - 1))) >= 0 "
        f"THEN {1 << b} ELSE 0 END)"
        for b in range(SIMHASH_BITS)
    )
    band_exprs = ", ".join(
        _simhash_band_sql(k, spark=False) for k in SIMHASH_ROTATIONS
    )
    return f"""
        WITH hashed AS (
          SELECT doc_id, list_transform({DUCK_TOKS}, s -> {_HASH_DUCK}) AS hs
          FROM documents
        ),
        sh AS (
          SELECT doc_id, {bit_terms} AS simhash FROM hashed
        ),
        reps AS (
          SELECT simhash, min(doc_id) AS doc_id FROM sh GROUP BY simhash
        ),
        blocked AS (
          SELECT doc_id, simhash, unnest([{band_exprs}]) AS band_key FROM reps
        ),
        live AS (
          SELECT doc_id, simhash, band_key FROM blocked
          QUALIFY count(*) OVER (PARTITION BY band_key) <= {BAND_OCCUPANCY_CAP}
        ),
        cand AS (
          SELECT DISTINCT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2,
                 a.simhash AS s1, b.simhash AS s2
          FROM live a JOIN live b
            ON a.band_key = b.band_key AND a.doc_id < b.doc_id
        )
        SELECT doc_id_1, doc_id_2, bit_count(xor(s1, s2)) AS hamming
        FROM cand
        WHERE bit_count(xor(s1, s2)) <= {HAMMING_MAX}
    """


CHAR_NGRAM = 5
NGRAM_JACCARD_THRESHOLD = 0.1
# Stop-gram rule: a gram occurring in more than this many documents of
# its (source, length-bucket) block is boilerplate and is dropped from
# the gram SETS themselves (jaccard is computed over the capped sets,
# both engines alike). This bounds the inverted-index join at
# sum(min(df, CAP)²) <= CAP x postings — linear in the corpus — where
# the uncapped form is sum(df²), measured 144B join rows at sf10
# (single-box ENOSPC, VERDICT r13 item 2) vs 57M capped. It also
# bounds the OUTPUT: a pair needs a shared df<=CAP gram, so mass
# boilerplate cliques (every shared gram hot) stop emitting k² pairs —
# exact/minhash tiers own mass duplication; this verifier owns the
# sparse tail, which is the only part a pairwise output can represent
# at scale anyway. The cap is absolute by design: it is what makes the
# join volume linear, and "occurs in 64+ documents" is a scale-free
# definition of boilerplate (cf. line_dedup's SEG_MIN_DOCS).
GRAM_DF_CAP = 64


def char_ngram_jaccard_pairs(docs: DataFrame, materialize: bool = True) -> DataFrame:
    """Blocked character-5-gram Jaccard over df-capped gram sets:
    pairs within the same (source, length-bucket) block, gram sets
    restricted to non-boilerplate grams (block df <= ``GRAM_DF_CAP``).

    Intersection sizes come from an inverted index (explode grams,
    self-join on the gram within the block, count per pair) rather
    than pairwise ``array_intersect``: the heavy work is then a
    shuffle join keyed on the gram — fully parallel and skew-safe
    under AQE — instead of quadratic set intersections that Catalyst
    would additionally push into the join condition and re-evaluate
    per candidate row. Pairs sharing zero (surviving) grams drop out
    early, which is exactly the jaccard=0 < threshold case."""
    d = docs.select(
        "doc_id", "source",
        F.expr("cast(n_chars div 100 as bigint)").alias("len_bucket"),
        F.expr(NORM_SPARK).alias("norm"),
    ).filter(F.expr(f"length(norm) >= {CHAR_NGRAM}"))
    # grams travel as md5-derived int64 (same digest both engines, so
    # any collision is mirrored in the oracle): narrower dedup/join
    # keys, ~20% faster than shuffling 5-char strings
    posts = (
        d.select(
            "doc_id", "source", "len_bucket", "norm",
            F.explode(
                F.expr(f"sequence(1, length(norm) - {CHAR_NGRAM - 1})")
            ).alias("i"),
        )
        .select(
            "doc_id", "source", "len_bucket",
            F.expr(_hash_expr(f"substring(norm, i, {CHAR_NGRAM})")).alias("gram"),
        )
        .dropDuplicates(["doc_id", "gram"])
    )
    # stop-gram filter: one shuffle on the (block, gram) key; a hot
    # gram's window partition is at most the block population — a
    # spillable count, and everything above the cap is discarded
    # before the quadratic-in-df join below
    df_w = Window.partitionBy("source", "len_bucket", "gram")
    posts = (
        posts.withColumn("df", F.count("*").over(df_w))
        .filter(F.col("df") <= GRAM_DF_CAP)
        .drop("df")
    )
    posts = _checkpointed(posts) if materialize else posts
    sizes = posts.groupBy("doc_id").agg(F.count("*").alias("n_g"))
    a, b = posts.alias("a"), posts.alias("b")
    inter = (
        a.join(b, (F.col("a.source") == F.col("b.source"))
               & (F.col("a.len_bucket") == F.col("b.len_bucket"))
               & (F.col("a.gram") == F.col("b.gram"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_id_1"),
                 F.col("b.doc_id").alias("doc_id_2"))
        .agg(F.count("*").alias("inter"))
    )
    # `sizes` is O(n_docs) — never broadcast it (driver OOM at scale);
    # AQE decides per-run whether the shuffle join can be localized.
    return (
        inter.join(sizes.withColumnRenamed("doc_id", "doc_id_1")
                   .withColumnRenamed("n_g", "n_1"), "doc_id_1")
        .join(sizes.withColumnRenamed("doc_id", "doc_id_2")
              .withColumnRenamed("n_g", "n_2"), "doc_id_2")
        .withColumn(
            "jaccard",
            F.expr("round(inter / cast(n_1 + n_2 - inter as double), 6)"),
        )
        .filter(F.col("jaccard") >= NGRAM_JACCARD_THRESHOLD)
        .select("doc_id_1", "doc_id_2", "jaccard")
    )


def char_ngram_jaccard_pairs_oracle() -> str:
    # mirror the Spark side's md5-int64 gram representation so any
    # hash collision affects both engines identically
    gram_hash = _HASH_DUCK.replace(
        "md5(s)", f"md5(substring({NORM_DUCK}, i, {CHAR_NGRAM}))"
    )
    grams = (
        f"list_distinct(list_transform(generate_series(1, length({NORM_DUCK}) - {CHAR_NGRAM - 1}), "
        f"i -> {gram_hash}))"
    )
    return f"""
        WITH d AS (
          SELECT doc_id, source, n_chars // 100 AS len_bucket, {grams} AS g
          FROM documents WHERE length({NORM_DUCK}) >= {CHAR_NGRAM}
        ),
        posts AS (
          SELECT doc_id, source, len_bucket, unnest(g) AS gram FROM d
        ),
        pf AS (
          SELECT doc_id, source, len_bucket, gram FROM posts
          QUALIFY count(*) OVER (PARTITION BY source, len_bucket, gram)
                  <= {GRAM_DF_CAP}
        ),
        sizes AS (
          SELECT doc_id, count(*) AS n_g FROM pf GROUP BY doc_id
        ),
        inter AS (
          SELECT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2,
                 count(*) AS i
          FROM pf a JOIN pf b
            ON a.source = b.source AND a.len_bucket = b.len_bucket
           AND a.gram = b.gram AND a.doc_id < b.doc_id
          GROUP BY 1, 2
        )
        SELECT i.doc_id_1, i.doc_id_2,
               round(i.i / CAST(s1.n_g + s2.n_g - i.i AS DOUBLE), 6) AS jaccard
        FROM inter i
        JOIN sizes s1 ON s1.doc_id = i.doc_id_1
        JOIN sizes s2 ON s2.doc_id = i.doc_id_2
        WHERE round(i.i / CAST(s1.n_g + s2.n_g - i.i AS DOUBLE), 6)
              >= {NGRAM_JACCARD_THRESHOLD}
    """


def incremental_exact_dedup(new_docs: DataFrame, known: DataFrame) -> DataFrame:
    """Incremental exact dedup — the shape continuous ingest actually
    runs: given today's batch and the manifest of already-ingested
    content fingerprints, keep only documents whose content is (a) new
    against the manifest and (b) first (minimum doc_id) within the
    batch. Output: (fingerprint, doc_id, n_in_batch).

    ``known`` is a 1-column (``fingerprint``) frame, O(corpus) rows —
    joined with a LEFT ANTI shuffle equi-join, never broadcast (the
    manifest grows forever). The within-batch dedup is the same single
    hash aggregation as :func:`exact_dedup`. At 100 TB both sides
    shuffle on the fingerprint hash; pre-bucketing the manifest by
    fingerprint (``sources.write_bucketed``) makes the anti-join
    manifest-side shuffle-free."""
    fresh = (
        new_docs.select(F.expr(f"md5({NORM_SPARK})").alias("fingerprint"), "doc_id")
        .join(known.select("fingerprint"), "fingerprint", "left_anti")
    )
    return fresh.groupBy("fingerprint").agg(
        F.min("doc_id").alias("doc_id"), F.count("*").alias("n_in_batch")
    )


def incremental_exact_dedup_oracle(split_doc_id: int) -> str:
    """Oracle over the single ``documents`` table: docs below
    ``split_doc_id`` play the existing manifest, the rest the new
    batch."""
    return f"""
        WITH known AS (
          SELECT DISTINCT md5({NORM_DUCK}) AS fingerprint
          FROM documents WHERE doc_id < {split_doc_id}
        ),
        batch AS (
          SELECT md5({NORM_DUCK}) AS fingerprint, doc_id
          FROM documents WHERE doc_id >= {split_doc_id}
        )
        SELECT b.fingerprint, min(b.doc_id) AS doc_id,
               count(*) AS n_in_batch
        FROM batch b LEFT JOIN known k ON b.fingerprint = k.fingerprint
        WHERE k.fingerprint IS NULL
        GROUP BY b.fingerprint
    """


# ---------------------------------------------------------------------
# Near-duplicate clustering: connected components + canonical doc

CC_MAX_ITERS = 25


def connected_components(pairs: DataFrame) -> DataFrame:
    """Connected components over an undirected edge list
    (``doc_id_1``, ``doc_id_2``) by iterative min-label propagation:
    every node repeatedly takes the minimum label among itself and its
    neighbors until a fixpoint. Output: (``doc_id``, ``cluster_id``)
    for every node that appears in an edge, where ``cluster_id`` is
    the smallest doc_id in the component.

    Scale design: each round is one shuffle hash join (labels keyed by
    doc_id) plus one partial-aggregating ``min`` — the same join shape
    as large-star/small-star (Kiveris et al., "Connected Components in
    MapReduce and Beyond", SoCC'14). Rounds needed = component
    diameter, and near-dup components are shallow (dozens of docs tied
    through shared shingles), so this converges in a handful of
    rounds even at 100 TB. ``localCheckpoint`` truncates the lineage
    every round so the plan does not grow with the iteration count (on
    a real cluster use ``spark.sparkContext.setCheckpointDir`` +
    ``checkpoint()`` for fault tolerance instead). Convergence is
    detected from ``sum(label)``: labels only ever decrease, so the
    sum strictly decreases until the fixpoint — one cheap aggregate
    action per round instead of a change-count join."""
    edges = (
        pairs.select(F.col("doc_id_1").alias("src"), F.col("doc_id_2").alias("dst"))
        .union(pairs.select(F.col("doc_id_2").alias("src"), F.col("doc_id_1").alias("dst")))
        .transform(_checkpointed)  # do not recompute the pair pipeline per round
    )
    labels = (
        edges.groupBy("src")
        .agg(F.min("dst").alias("nbr_min"))
        .select(F.col("src").alias("doc_id"),
                F.least(F.col("src"), F.col("nbr_min")).alias("label"))
    )
    prev_sum, converged = None, False
    for _ in range(CC_MAX_ITERS):
        labels = _checkpointed(labels)
        cur_sum = labels.agg(F.sum("label")).first()[0]
        if cur_sum == prev_sum:
            converged = True
            break
        prev_sum = cur_sum
        nbr_min = (
            edges.join(
                labels.select(F.col("doc_id").alias("dst"),
                              F.col("label").alias("dst_label")),
                "dst",
            )
            .groupBy("src")
            .agg(F.min("dst_label").alias("nbr_label"))
            .withColumnRenamed("src", "doc_id")
        )
        labels = labels.join(nbr_min, "doc_id", "left").select(
            "doc_id",
            F.least(F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))).alias("label"),
        )
    if not converged:
        # an unconverged label frame silently merges/splits clusters —
        # refuse rather than return wrong components
        raise RuntimeError(
            f"connected_components did not converge in {CC_MAX_ITERS} rounds "
            "(component diameter exceeds the cap); raise CC_MAX_ITERS"
        )
    return labels.select("doc_id", F.col("label").alias("cluster_id"))


def near_dup_clusters(docs: DataFrame, threshold: float = JACCARD_THRESHOLD) -> DataFrame:
    """The post-pair step of the 100 TB dedup pipeline: group the
    verified MinHash near-dup pairs (:func:`near_dup_pairs`) into
    transitive clusters and pick one canonical document per cluster.
    Output: one row per document — (``doc_id``, ``cluster_id``,
    ``keep``) where ``cluster_id`` is the smallest doc_id reachable
    through near-dup edges (the doc's own id if it has no near-dup)
    and ``keep`` marks the canonical doc. ``filter(keep)`` is then the
    deduplicated corpus manifest.

    Reference analogy: ``unique:ever`` keeps one event per key
    (UniqueEverWindowProcessor.java:84-93); this keeps one doc per
    *similarity component*, where the key is discovered transitively
    rather than given."""
    if not 0 < threshold <= 1:
        raise ValueError(f"jaccard threshold must be in (0, 1], got {threshold}")
    labels = connected_components(near_dup_pairs(docs, threshold))
    return (
        docs.select("doc_id")
        .join(labels, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("cluster_id"), F.col("doc_id")).alias("cluster_id"),
        )
        .withColumn("keep", F.col("doc_id") == F.col("cluster_id"))
    )


def near_dup_clusters_oracle(threshold: float = JACCARD_THRESHOLD) -> str:
    """DuckDB oracle: transitive closure by recursive CTE (UNION
    dedups the frontier, so it terminates), cluster_id = min reachable
    node. Exact, not iteration-capped — pins that min-label
    propagation converged."""
    return f"""
        WITH RECURSIVE pairs AS ({near_dup_pairs_oracle(threshold)}),
        edges AS (
          SELECT doc_id_1 AS src, doc_id_2 AS dst FROM pairs
          UNION ALL
          SELECT doc_id_2 AS src, doc_id_1 AS dst FROM pairs
        ),
        reach(src, node) AS (
          SELECT DISTINCT src, src FROM edges
          UNION
          SELECT r.src, e.dst FROM reach r JOIN edges e ON e.src = r.node
        ),
        labels AS (
          SELECT src AS doc_id, min(node) AS cluster_id FROM reach GROUP BY src
        )
        SELECT d.doc_id,
               COALESCE(l.cluster_id, d.doc_id) AS cluster_id,
               d.doc_id = COALESCE(l.cluster_id, d.doc_id) AS keep
        FROM documents d LEFT JOIN labels l ON d.doc_id = l.doc_id
    """


# ---------------------------------------------------------------------
# MinHash sketch calibration: estimated vs exact Jaccard per candidate

N_SIG = len(SEEDS)


def minhash_accuracy(docs: DataFrame) -> DataFrame:
    """Sketch calibration report: for every LSH candidate pair, the
    MinHash ESTIMATE of Jaccard (fraction of agreeing signature
    slots — the estimator whose expectation IS the Jaccard) next to
    the exact Jaccard over distinct shingles. Output: (doc_id_1,
    doc_id_2, est_jaccard, jaccard).

    This is the query you run before trusting a sketch at 100 TB: it
    costs one narrow join of the signature table against the candidate
    ids (signatures are 12 bigints/doc — the wide shingle sets stay
    out of the join), plus the posting-list exact verifier already
    used by :func:`near_dup_pairs`. Candidates whose shingle sets are
    disjoint have exact jaccard 0 (LEFT join + coalesce keeps them —
    precisely the false-positive rows the report exists to expose)."""
    ex = _checkpointed(_distinct_shingles(docs))
    sig = minhash_signatures(docs, shingle_rows=ex)
    pairs = lsh_candidate_pairs(docs, shingle_rows=ex)
    a = sig.select(
        F.col("doc_id").alias("doc_id_1"),
        *[F.col(f"mh_{j}").alias(f"a_{j}") for j in range(N_SIG)],
    )
    b = sig.select(
        F.col("doc_id").alias("doc_id_2"),
        *[F.col(f"mh_{j}").alias(f"b_{j}") for j in range(N_SIG)],
    )
    matches = " + ".join(
        f"(case when a_{j} = b_{j} then 1 else 0 end)" for j in range(N_SIG)
    )
    est = (
        pairs.join(a, "doc_id_1")
        .join(b, "doc_id_2")
        .select(
            "doc_id_1",
            "doc_id_2",
            F.expr(f"round(({matches}) / cast({N_SIG} as double), 6)").alias(
                "est_jaccard"
            ),
        )
    )
    # tiny positive threshold keeps every pair with ANY shared shingle
    exact = near_dup_pairs(docs, threshold=1e-9, shingle_rows=ex)
    return (
        est.join(exact, ["doc_id_1", "doc_id_2"], "left")
        .select(
            "doc_id_1",
            "doc_id_2",
            "est_jaccard",
            F.coalesce(F.col("jaccard"), F.lit(0.0)).alias("jaccard"),
        )
    )


def minhash_accuracy_oracle() -> str:
    sig_cols = ",\n                 ".join(
        f"list_min(list_transform(hs, h -> ({a} * h + {b}) % {P})) AS mh_{j}"
        for j, (a, b) in enumerate(SEEDS)
    )
    band_exprs = []
    for b in range(BANDS):
        parts = [f"'{b}'"] + [
            f"CAST(mh_{b * ROWS_PER_BAND + r} AS VARCHAR)" for r in range(ROWS_PER_BAND)
        ]
        band_exprs.append(f"concat_ws(':', {', '.join(parts)})")
    matches = " + ".join(
        f"(CASE WHEN s1.mh_{j} = s2.mh_{j} THEN 1 ELSE 0 END)" for j in range(N_SIG)
    )
    return f"""
        WITH shingles AS (
          SELECT doc_id, {_SHINGLE_DUCK} AS sh
          FROM documents WHERE len({DUCK_TOKS}) >= {MIN_TOKENS}
        ),
        hashed AS (
          SELECT doc_id, list_transform(sh, s -> {_HASH_DUCK}) AS hs FROM shingles
        ),
        sig AS (
          SELECT doc_id, {sig_cols} FROM hashed
        ),
        bands AS (
          SELECT doc_id, unnest([{', '.join(band_exprs)}]) AS band_key FROM sig
        ),
        cand AS (
          SELECT DISTINCT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2
          FROM bands a JOIN bands b
            ON a.band_key = b.band_key AND a.doc_id < b.doc_id
        )
        SELECT doc_id_1, doc_id_2,
               round(({matches}) / CAST({N_SIG} AS DOUBLE), 6) AS est_jaccard,
               round(len(list_intersect(sh1.sh, sh2.sh)) /
                     CAST(len(sh1.sh) + len(sh2.sh)
                          - len(list_intersect(sh1.sh, sh2.sh)) AS DOUBLE),
                     6) AS jaccard
        FROM cand
        JOIN sig s1 ON s1.doc_id = doc_id_1
        JOIN sig s2 ON s2.doc_id = doc_id_2
        JOIN shingles sh1 ON sh1.doc_id = doc_id_1
        JOIN shingles sh2 ON sh2.doc_id = doc_id_2
    """


# ---------------------------------------------------------------------
# Cross-document line-level dedup (CCNet / RefinedWeb style)

SEG_LEN = 4       # tokens per pseudo-line segment
SEG_MIN_DOCS = 3  # segment is boilerplate if it occurs in >= this many docs

# Spark/DuckDB twin expressions for the per-doc segment count
# ceil(n_tokens / SEG_LEN); every doc has >= 1 token so >= 1 segment.
_NSEG_SPARK = f"cast(ceil(size(toks) / cast({SEG_LEN} as double)) as int)"
_NSEG_DUCK = f"CAST(ceil(len(toks) / {SEG_LEN}.0) AS INT)"


def _segment_rows(docs: DataFrame) -> DataFrame:
    """(doc_id, g, seg): one row per fixed-``SEG_LEN``-token segment,
    in document order. The real-corpus analog splits on newlines; the
    synthetic docs are single-line, so the segmenter is deterministic
    fixed-width token windows — the downstream dedup shape (global
    segment-frequency aggregation + per-doc reconstruction) is
    identical either way.

    Segments are produced as ROWS via ``explode(sequence)`` + codegen'd
    ``slice``/``array_join`` — no higher-order lambdas in the
    corpus-sized path (see module note)."""
    toks = docs.select("doc_id", F.expr(SPARK_TOKS).alias("toks"))
    return toks.select(
        "doc_id", "toks",
        F.explode(F.expr(f"sequence(0, {_NSEG_SPARK} - 1)")).alias("g"),
    ).select(
        "doc_id", "g",
        F.expr(f"array_join(slice(toks, g * {SEG_LEN} + 1, {SEG_LEN}), ' ')").alias("seg"),
    )


def line_dedup(docs: DataFrame, min_docs: int = SEG_MIN_DOCS) -> DataFrame:
    """Cross-document duplicated-line removal (the CCNet/RefinedWeb
    boilerplate filter): a segment ("line") is boilerplate when it
    occurs in >= ``min_docs`` DISTINCT documents; every occurrence of a
    boilerplate segment is removed and each document's text is
    reassembled from its surviving segments in order.

    Output: (doc_id, n_segments, n_removed, clean_text) — one row per
    document; ``clean_text`` is '' when everything was boilerplate.

    Scale shape (the one a 100 TB corpus runs): segment extraction is a
    narrow projection; the global frequency table is ONE map-side-
    combined hash aggregation keyed by the segment (countDistinct over
    doc_id); marking is a shuffle equi-join of segment occurrences
    against the (much smaller) boilerplate set — LEFT join, never
    broadcast, because the boilerplate table grows with the corpus; the
    rebuild is one hash aggregation per doc_id with an ordered
    ``listagg`` (codegen) — no per-doc array lambdas, no window over
    the corpus.
    """
    if min_docs < 2:
        raise ValueError(f"min_docs must be >= 2, got {min_docs}")
    segs = _segment_rows(docs)
    boiler = (
        segs.groupBy("seg")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= min_docs)
        .select("seg", F.lit(True).alias("_boiler"))
    )
    marked = segs.join(boiler, "seg", "left")
    return (
        marked.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_segments"),
            F.coalesce(F.sum(F.expr("if(_boiler, 1, 0)")), F.lit(0)).alias("n_removed"),
            F.expr(
                "coalesce(listagg(CASE WHEN _boiler IS NULL THEN seg END, ' ') "
                "WITHIN GROUP (ORDER BY g), '')"
            ).alias("clean_text"),
        )
    )


def line_dedup_oracle(min_docs: int = SEG_MIN_DOCS) -> str:
    return f"""
        WITH segs AS (
          SELECT doc_id, g,
                 array_to_string(toks[(g * {SEG_LEN} + 1):(g * {SEG_LEN} + {SEG_LEN})], ' ') AS seg
          FROM (SELECT doc_id, {DUCK_TOKS} AS toks FROM documents),
               unnest(generate_series(0, {_NSEG_DUCK} - 1)) AS t(g)
        ),
        boiler AS (
          SELECT seg FROM segs GROUP BY seg
          HAVING count(DISTINCT doc_id) >= {min_docs}
        )
        SELECT s.doc_id,
               count(*) AS n_segments,
               CAST(sum(CASE WHEN b.seg IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_removed,
               coalesce(
                 string_agg(s.seg, ' ' ORDER BY s.g)
                   FILTER (WHERE b.seg IS NULL), '') AS clean_text
        FROM segs s LEFT JOIN boiler b ON s.seg = b.seg
        GROUP BY s.doc_id
    """


MIN_SIG_MATCH = 6  # >= 6 of 12 agreeing components ~ est. jaccard 0.5


def incremental_near_dup(new_docs: DataFrame, manifest_sigs: DataFrame) -> DataFrame:
    """Incremental NEAR-dup check — the continuous-ingest twin of
    :func:`near_dup_pairs`, completing what
    :func:`incremental_exact_dedup` does for exact matches: today's
    batch is signed (12-perm MinHash), banded, and band-joined against
    the MANIFEST of already-ingested signatures; candidates are
    verified by signature agreement (the estimated Jaccard a
    signature-only manifest supports — raw shingles of historical docs
    are exactly what a 100 TB manifest does NOT keep). Output:
    (doc_id, old_id, n_sig_match) for every new doc within estimated
    Jaccard ``MIN_SIG_MATCH/12`` of a manifest doc.

    Scale shape: the manifest is joined ONLY through banded equi-keys
    (never broadcast, never all-pairs); the verify step re-joins two
    one-row-per-doc signature frames by id. Both shuffles are keyed on
    high-cardinality values (band_key, doc ids); the whole check is
    3 joins + 1 distinct regardless of manifest size. Signature
    agreement counting is 12 codegen comparisons, no Python."""
    new_sigs = _checkpointed(minhash_signatures(new_docs))
    new_bands = _band_keys(new_sigs)
    old_bands = _band_keys(manifest_sigs).select(
        F.col("doc_id").alias("old_id"), "band_key"
    )
    cand = (
        new_bands.join(old_bands, "band_key")
        .select("doc_id", "old_id")
        .distinct()
    )
    match_expr = " + ".join(
        f"cast(mh_{j} = omh_{j} as int)" for j in range(len(SEEDS))
    )
    old_named = manifest_sigs.select(
        F.col("doc_id").alias("old_id"),
        *[F.col(f"mh_{j}").alias(f"omh_{j}") for j in range(len(SEEDS))],
    )
    return (
        cand.join(new_sigs, "doc_id")
        .join(old_named, "old_id")
        .select(
            "doc_id", "old_id", F.expr(match_expr).alias("n_sig_match")
        )
        .filter(F.col("n_sig_match") >= MIN_SIG_MATCH)
        .select("doc_id", "old_id", "n_sig_match")
    )


def incremental_near_dup_oracle(split_doc_id: int) -> str:
    """Docs below ``split_doc_id`` play the manifest, the rest the
    new batch (same convention as ``incremental_exact_dedup_oracle``)."""
    sig_cols = ",\n                 ".join(
        f"list_min(list_transform(hs, h -> ({a} * h + {b}) % {P})) AS mh_{j}"
        for j, (a, b) in enumerate(SEEDS)
    )
    band_exprs = []
    for b in range(BANDS):
        parts = [f"'{b}'"] + [
            f"CAST(mh_{b * ROWS_PER_BAND + r} AS VARCHAR)" for r in range(ROWS_PER_BAND)
        ]
        band_exprs.append("concat_ws(':', " + ", ".join(parts) + ")")
    match_expr = " + ".join(
        f"CAST(n.mh_{j} = o.mh_{j} AS INT)" for j in range(len(SEEDS))
    )
    return f"""
        WITH sigs AS (
          SELECT doc_id, {sig_cols}
          FROM (SELECT doc_id,
                       list_transform({_SHINGLE_DUCK}, s -> {_HASH_DUCK}) AS hs
                FROM documents WHERE len({DUCK_TOKS}) >= {MIN_TOKENS})
        ),
        bands AS (
          SELECT doc_id, unnest([{", ".join(band_exprs)}]) AS band_key
          FROM sigs
        ),
        cand AS (
          SELECT DISTINCT nb.doc_id, ob.doc_id AS old_id
          FROM bands nb JOIN bands ob ON nb.band_key = ob.band_key
          WHERE nb.doc_id >= {split_doc_id} AND ob.doc_id < {split_doc_id}
        )
        SELECT c.doc_id, c.old_id, ({match_expr}) AS n_sig_match
        FROM cand c
        JOIN sigs n ON c.doc_id = n.doc_id
        JOIN sigs o ON c.old_id = o.doc_id
        WHERE ({match_expr}) >= {MIN_SIG_MATCH}
    """


# --------------------------------------------------------------- dup spans

DUP_SPAN_K = 8  # token n-gram anchor length for exact-substring coverage


def _span_gram_rows(docs: DataFrame) -> DataFrame:
    """(doc_id, i, gh): one row per K-gram anchor occurrence — the
    shared front of every span operator. Anchors come from
    explode(sequence) + array indexing (codegen rows, no lambdas);
    gh is the 64-bit md5 gram hash."""
    k = DUP_SPAN_K
    toks = docs.select("doc_id", F.expr(SPARK_TOKS).alias("toks")).filter(
        F.expr(f"size(toks) >= {k}")
    )
    gram = "concat_ws(' ', " + ", ".join(f"toks[i+{j}]" for j in range(k)) + ")"
    return toks.select(
        "doc_id", "toks",
        F.explode(F.expr(f"sequence(0, size(toks) - {k})")).alias("i"),
    ).select("doc_id", "i", F.expr(_hash_expr(gram)).alias("gh"))


def _dup_anchor_hits(docs: DataFrame) -> DataFrame:
    """(doc_id, i): the 0-based token positions whose K-gram anchor
    occurs verbatim in at least one OTHER document. The cross-doc
    test is ONE hash aggregation on the gram hash (shuffle volume =
    distinct grams, never doc pairs) followed by a left-semi back to
    the anchor rows."""
    grams = _span_gram_rows(docs)
    dup = (
        grams.groupBy("gh")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("gh")
    )
    return grams.join(dup, "gh", "left_semi").select("doc_id", "i")


def dup_span_coverage(docs: DataFrame) -> DataFrame:
    """Per-document duplicated-text coverage: the fraction of a
    document's token positions covered by a ``DUP_SPAN_K``-token
    n-gram that also occurs verbatim in at least one OTHER document —
    the exact-substring dedup signal (Lee et al., "Deduplicating
    Training Data Makes Language Models Better") at n-gram-anchor
    granularity. A maximal duplicated run of any length >= K is
    covered end-to-end by its overlapping K-gram anchors, so the
    coverage equals the Lee-et-al duplicated-span length for spans
    >= K and is zero below the threshold, without materializing a
    suffix array.

    Plan shape (scale-first): anchors come from explode(sequence) +
    array indexing (whole-stage codegen, no array lambdas); the
    cross-doc duplicate test is ONE hash aggregation on the 64-bit
    gram hash (shuffle volume = distinct grams in the corpus, never
    doc pairs); coverage is the sorted-interval union over only the
    duplicated anchors — equal-length intervals collapse the union
    into a lag() difference, one per-document window pass. Output:
    (doc_id, n_tokens, dup_tokens, dup_ratio) for every document.
    """
    from pyspark.sql.window import Window

    k = DUP_SPAN_K
    sizes = docs.select(
        "doc_id", F.expr(f"cast(size({SPARK_TOKS}) AS BIGINT)").alias("n_tokens")
    )
    hits = _dup_anchor_hits(docs)
    w = Window.partitionBy("doc_id").orderBy("i")
    cov = (
        hits.withColumn("prev", F.lag("i").over(w))
        .select(
            "doc_id",
            F.expr(
                f"CASE WHEN prev IS NULL THEN {k} ELSE least({k}, i - prev) END"
            ).alias("add"),
        )
        .groupBy("doc_id")
        .agg(F.sum("add").alias("dup_tokens"))
    )
    return (
        sizes.join(cov, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.expr("coalesce(dup_tokens, 0L)").alias("dup_tokens"),
            F.expr(
                "coalesce(dup_tokens, 0L) / cast(n_tokens AS DOUBLE)"
            ).alias("dup_ratio"),
        )
    )


def dup_span_coverage_oracle() -> str:
    k = DUP_SPAN_K
    gram_hash = (
        f"CAST(('0x' || substring(md5(array_to_string(tl[i+1:i+{k}], ' ')), 1, 15)) "
        f"AS BIGINT) % {P}"
    )
    return f"""
        WITH toks AS (
          SELECT doc_id, {DUCK_TOKS} AS tl FROM documents
        ),
        sizes AS (SELECT doc_id, len(tl) AS n_tokens FROM toks),
        pos AS (
          SELECT doc_id, tl, unnest(generate_series(0, len(tl) - {k})) AS i
          FROM toks WHERE len(tl) >= {k}
        ),
        grams AS (SELECT doc_id, i, {gram_hash} AS gh FROM pos),
        dup AS (SELECT gh FROM grams GROUP BY gh HAVING count(DISTINCT doc_id) >= 2),
        hits AS (SELECT doc_id, i FROM grams WHERE gh IN (SELECT gh FROM dup)),
        cov AS (
          SELECT doc_id,
                 sum(CASE WHEN prev IS NULL THEN {k} ELSE least({k}, i - prev) END)
                   AS dup_tokens
          FROM (SELECT doc_id, i,
                       lag(i) OVER (PARTITION BY doc_id ORDER BY i) AS prev
                FROM hits)
          GROUP BY doc_id
        )
        SELECT s.doc_id, s.n_tokens,
               CAST(coalesce(c.dup_tokens, 0) AS BIGINT) AS dup_tokens,
               coalesce(c.dup_tokens, 0) / CAST(s.n_tokens AS DOUBLE) AS dup_ratio
        FROM sizes s LEFT JOIN cov c USING (doc_id)
    """


def dup_span_removal(docs: DataFrame) -> DataFrame:
    """Exact-substring dedup, the action step: rebuild each document
    with every cross-document duplicated span (as defined by
    :func:`dup_span_coverage`'s K-gram anchors) REMOVED — the Lee et
    al. treatment applied at n-gram-anchor granularity. A token at
    position p is dropped iff some duplicated anchor starts in
    ``[p-K+1, p]``.

    Plan shape (r10, VERDICT r09 item 6): ANCHOR-INTERVAL MERGE — the
    per-token covered flag (every token row through a K-frame window)
    was the heaviest span op at sf1 (3.7x at 10x rows); now only the
    duplicated ANCHORS flow through windows. Two anchors i < j cover
    contiguous tokens iff ``j - i <= K``, so a lag-island pass over
    the anchors yields the merged covered intervals directly
    (O(duplicated anchors), not O(tokens)); the rebuild then SLICES
    the document's token array between intervals — tokens are never
    exploded at all, and the ordered listagg sort-aggregation is gone.
    The interval arrays are tiny per doc, so the higher-order
    zip_with/slice runs over per-doc interval counts, never tokens.
    Output: (doc_id, n_tokens, kept_tokens, clean_text) for every
    document; documents with no duplicated span round-trip to their
    whitespace-normalized token join."""
    from pyspark.sql.window import Window

    k = DUP_SPAN_K
    base = docs.select("doc_id", F.expr(SPARK_TOKS).alias("tl"))
    hits = _dup_anchor_hits(docs)
    w = Window.partitionBy("doc_id").orderBy("i")
    islands = (
        hits.withColumn("prev", F.lag("i").over(w))
        .withColumn(
            "new_isl",
            F.expr(f"CASE WHEN prev IS NULL OR i - prev > {k} THEN 1 ELSE 0 END"),
        )
        .withColumn("isl", F.sum("new_isl").over(w))
        .groupBy("doc_id", "isl")
        .agg(
            F.min("i").cast("long").alias("s"),
            (F.max("i") + F.lit(k - 1)).cast("long").alias("e"),
        )
    )
    iv = islands.groupBy("doc_id").agg(
        F.expr("array_sort(collect_list(struct(s, e)))").alias("iv"),
        F.expr("cast(sum(e - s + 1) AS BIGINT)").alias("dup_tokens"),
    )
    # gap g sits between interval g-1's end and interval g's start
    # (document edges padded with sentinels); slice each gap out of
    # the intact token array and join once
    rebuild = (
        "array_join(flatten(zip_with("
        "  concat(array(0L), transform(iv, x -> x.e + 1L)),"
        "  concat(transform(iv, x -> x.s), array(cast(size(tl) AS BIGINT))),"
        "  (s, e) -> slice(tl, cast(s + 1 AS INT), cast(e - s AS INT)))), ' ')"
    )
    return base.join(iv, "doc_id", "left").select(
        "doc_id",
        F.expr("cast(size(tl) AS BIGINT)").alias("n_tokens"),
        F.expr("cast(size(tl) - coalesce(dup_tokens, 0L) AS BIGINT)").alias(
            "kept_tokens"
        ),
        F.expr(
            f"CASE WHEN iv IS NULL THEN array_join(tl, ' ') ELSE {rebuild} END"
        ).alias("clean_text"),
    )


def dup_span_removal_oracle() -> str:
    k = DUP_SPAN_K
    gram_hash = (
        f"CAST(('0x' || substring(md5(array_to_string(tl[i+1:i+{k}], ' ')), 1, 15)) "
        f"AS BIGINT) % {P}"
    )
    return f"""
        WITH toks0 AS (
          SELECT doc_id, {DUCK_TOKS} AS tl FROM documents
        ),
        pos AS (
          SELECT doc_id, tl, unnest(generate_series(0, len(tl) - {k})) AS i
          FROM toks0 WHERE len(tl) >= {k}
        ),
        grams AS (SELECT doc_id, i, {gram_hash} AS gh FROM pos),
        dup AS (SELECT gh FROM grams GROUP BY gh HAVING count(DISTINCT doc_id) >= 2),
        hits AS (SELECT doc_id, i, 1 AS a FROM grams
                 WHERE gh IN (SELECT gh FROM dup)),
        toks AS (
          SELECT doc_id, unnest(generate_series(0, len(tl) - 1)) AS i,
                 tl[unnest(generate_series(0, len(tl) - 1)) + 1] AS tok
          FROM toks0
        ),
        flagged AS (
          SELECT t.doc_id, t.i, t.tok,
                 max(h.a) OVER (PARTITION BY t.doc_id ORDER BY t.i
                                ROWS BETWEEN {k - 1} PRECEDING AND CURRENT ROW)
                   AS covered
          FROM toks t LEFT JOIN hits h ON t.doc_id = h.doc_id AND t.i = h.i
        )
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_tokens,
               CAST(sum(CASE WHEN covered IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                 AS kept_tokens,
               coalesce(string_agg(CASE WHEN covered IS NULL THEN tok END,
                                   ' ' ORDER BY i), '') AS clean_text
        FROM flagged GROUP BY doc_id
    """


def span_gram_manifest(docs: DataFrame) -> DataFrame:
    """(gh): the distinct K-gram anchor hashes of an already-ingested
    corpus — the manifest continuous exact-substring ingest checks new
    batches against. O(distinct grams) rows, mergeable by union."""
    return _span_gram_rows(docs).select("gh").distinct()


def incremental_span_coverage(new_docs: DataFrame, known_grams: DataFrame) -> DataFrame:
    """Incremental exact-substring coverage — the continuous-ingest
    shape: score TODAY'S batch against the manifest of every K-gram
    already ingested (:func:`span_gram_manifest`) plus cross-document
    duplication within the batch itself. Equivalent to running
    :func:`dup_span_coverage` over the combined corpus and keeping the
    new docs' rows — without rescanning the old corpus (the manifest
    is O(distinct grams), shuffled on the gram hash; pre-bucketing it
    makes the probe manifest-side shuffle-free).

    An anchor is duplicated iff its gram is in the manifest OR occurs
    in >= 2 distinct batch documents (a gram repeating only within
    ONE new document stays non-duplicated, matching the batch
    operator's countDistinct >= 2 rule)."""
    from pyspark.sql.window import Window

    k = DUP_SPAN_K
    sizes = new_docs.select(
        "doc_id", F.expr(f"cast(size({SPARK_TOKS}) AS BIGINT)").alias("n_tokens")
    )
    grams = _span_gram_rows(new_docs)
    batch_dup = (
        grams.groupBy("gh")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("gh")
    )
    dup = batch_dup.unionByName(known_grams.select("gh")).distinct()
    hits = grams.join(dup, "gh", "left_semi").select("doc_id", "i")
    w = Window.partitionBy("doc_id").orderBy("i")
    cov = (
        hits.withColumn("prev", F.lag("i").over(w))
        .select(
            "doc_id",
            F.expr(
                f"CASE WHEN prev IS NULL THEN {k} ELSE least({k}, i - prev) END"
            ).alias("add"),
        )
        .groupBy("doc_id")
        .agg(F.sum("add").alias("dup_tokens"))
    )
    return (
        sizes.join(cov, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.expr("coalesce(dup_tokens, 0L)").alias("dup_tokens"),
            F.expr(
                "coalesce(dup_tokens, 0L) / cast(n_tokens AS DOUBLE)"
            ).alias("dup_ratio"),
        )
    )


def incremental_span_coverage_oracle(split_doc_id: int) -> str:
    """Docs below ``split_doc_id`` play the ingested manifest, the
    rest the new batch. Identical algebra to
    :func:`dup_span_coverage_oracle` restricted to batch rows, with
    the manifest folded into the duplicate-gram set."""
    k = DUP_SPAN_K
    gram_hash = (
        f"CAST(('0x' || substring(md5(array_to_string(tl[i+1:i+{k}], ' ')), 1, 15)) "
        f"AS BIGINT) % {P}"
    )
    return f"""
        WITH toks AS (
          SELECT doc_id, {DUCK_TOKS} AS tl FROM documents
        ),
        pos AS (
          SELECT doc_id, tl, unnest(generate_series(0, len(tl) - {k})) AS i
          FROM toks WHERE len(tl) >= {k}
        ),
        grams AS (SELECT doc_id, i, {gram_hash} AS gh FROM pos),
        known AS (SELECT DISTINCT gh FROM grams WHERE doc_id < {split_doc_id}),
        newg AS (SELECT doc_id, i, gh FROM grams WHERE doc_id >= {split_doc_id}),
        dup AS (
          SELECT gh FROM newg GROUP BY gh HAVING count(DISTINCT doc_id) >= 2
          UNION SELECT gh FROM known
        ),
        hits AS (SELECT doc_id, i FROM newg WHERE gh IN (SELECT gh FROM dup)),
        cov AS (
          SELECT doc_id,
                 sum(CASE WHEN prev IS NULL THEN {k} ELSE least({k}, i - prev) END)
                   AS dup_tokens
          FROM (SELECT doc_id, i,
                       lag(i) OVER (PARTITION BY doc_id ORDER BY i) AS prev
                FROM hits)
          GROUP BY doc_id
        ),
        sizes AS (
          SELECT doc_id, len(tl) AS n_tokens FROM toks
          WHERE doc_id >= {split_doc_id}
        )
        SELECT s.doc_id, s.n_tokens,
               CAST(coalesce(c.dup_tokens, 0) AS BIGINT) AS dup_tokens,
               coalesce(c.dup_tokens, 0) / CAST(s.n_tokens AS DOUBLE) AS dup_ratio
        FROM sizes s LEFT JOIN cov c USING (doc_id)
    """

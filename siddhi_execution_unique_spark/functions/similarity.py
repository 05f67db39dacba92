"""Similarity search over an embedding column (``array<float>``):
brute-force cosine top-k as the exact baseline, and an IVF
(inverted-file) coarse-quantizer variant as the scale path.
(Beyond-reference scope — SURVEY.md §7 phase 4.)

Dot products run as JVM-side ``zip_with``/``aggregate`` folds (no
Python). Floats are cast to double before multiplying, and both
engines fold left-to-right, so cosine values are bit-identical to the
DuckDB oracle (verified) — but only rank/id columns are emitted, so
the hash compare never rides on float representation anyway.

Scale design: the probe set is a broadcast (queries are few); the
corpus side streams partition-local with no shuffle. Top-k per query
is a partial TakeOrdered per partition + merge. The IVF variant cuts
the scanned fraction to ~nprobe/n_cells by pre-partitioning the
corpus on the cell id — at 100 TB you'd bucket the corpus table by
cell so probes prune partitions at the source.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

TOP_K = 5
N_PROBE_CELLS = 3
# Coarse-quantizer (cell) model size: K is the FLOOR; the effective
# cell count SCALES with the corpus as ceil(n / TARGET_CELL_SIZE) so
# the expected cell population stays constant — a cell-keyed cosine
# self-join (semantic_dedup) then costs sum(cell²) ≈ n·TARGET, linear
# in the corpus, instead of n²/K (measured 28x super-linear at the
# sf1→sf10 step when K was pinned at 64). TARGET_CELL_SIZE is a power
# of two so the oracle's float division n/256.0 is exact in binary
# and ceil() agrees bit-for-bit with the Python integer ceiling.
# The seed set is the K vectors with the smallest md5(vec_id)
# hash-rank — deterministic, engine-portable (Spark and DuckDB md5
# the same utf8 bytes to the same lowercase hex), and uniform over
# the corpus regardless of vec_id distribution. The K-row model stays
# broadcast-shaped far past sf10 (K = n/256 ≈ 4M rows at n = 1e9;
# raise TARGET_CELL_SIZE before the model itself outgrows broadcast).
N_CENTROIDS = 64
TARGET_CELL_SIZE = 256


def n_centroids_for(n: int) -> int:
    """Corpus-scaled cell count: ceil(n / TARGET_CELL_SIZE), floored
    at N_CENTROIDS. One cheap ``count()`` pass derives it on the
    Spark side; the oracle computes the identical value inline."""
    return max(N_CENTROIDS, -(-int(n) // TARGET_CELL_SIZE))


# DuckDB twin of n_centroids_for (scalar subquery; exact: 256 = 2^8)
_SCALED_K_DUCK = (
    f"greatest({N_CENTROIDS}, CAST(ceil((SELECT count(*) FROM embeddings)"
    f" / {TARGET_CELL_SIZE}.0) AS BIGINT))"
)

# Spark-side hash-rank expression (orderBy(this).limit(K) compiles to
# TakeOrderedAndProject: per-partition partial top-K, merged — no
# global sort, no corpus-sized collect)
_SEED_RANK_SPARK = "md5(cast(vec_id as string))"
_SEED_RANK_DUCK = "md5(CAST(vec_id AS VARCHAR))"


def _seed_cte_duck(cols: str = "vec_id, embedding", fixed_k: bool = False) -> str:
    """DuckDB CTE body selecting the seed set. ``fixed_k`` keeps the
    constant N_CENTROIDS codebook (the PQ path — a codebook is model
    weights, not a corpus partitioning; see :func:`pq_codebook`);
    otherwise K scales with the corpus like :func:`_ivf_centroids`."""
    k = str(N_CENTROIDS) if fixed_k else _SCALED_K_DUCK
    return (
        f"SELECT {cols} FROM ("
        f"SELECT *, row_number() OVER (ORDER BY {_SEED_RANK_DUCK}, vec_id) AS hr "
        f"FROM embeddings) WHERE hr <= {k}"
    )

_DOT_SPARK = (
    "aggregate(zip_with({a}, {b}, (x, y) -> cast(x as double) * cast(y as double)), "
    "0d, (acc, v) -> acc + v)"
)
# DuckDB: same left-to-right fold via index transform + list_reduce
_DOT_DUCK = (
    "list_reduce(list_transform(generate_series(1, len({a})), "
    "i -> {a}[i]::DOUBLE * {b}[i]::DOUBLE), (x, y) -> x + y)"
)

# QUANTIZED dot for the cell-ASSIGNMENT cosine (floor(val*1e6) ints,
# the pq_codebook convention): per-element BIGINT products ≤ 3.6e11
# and 64-dim sums ≤ 2.3e13 are exact integers — ORDER-INDEPENDENT, so
# the engine may compute them with BLAS float64 matmul (integers
# ≤ 2^53 are exactly representable; products/sums stay ≤ 2^53) while
# both SQL folds reach bit-identical values without the sequential
# left-fold constraint the raw-double dot needs. The cosine then does
# exactly three correctly-rounded IEEE double ops (multiply of the
# two norm ints widened to double, sqrt, divide) — identical in
# Spark, DuckDB and numpy.
_QDOT_SPARK = (
    "aggregate(zip_with({a}, {b}, (x, y) -> "
    "cast(floor(cast(x as double) * cast(1000000 as double)) as bigint)"
    " * cast(floor(cast(y as double) * cast(1000000 as double)) as bigint)), "
    "0L, (acc, v) -> acc + v)"
)
_QDOT_DUCK = (
    "list_reduce(list_transform(generate_series(1, len({a})), "
    "i -> CAST(floor({a}[i]::DOUBLE * CAST(1000000 AS DOUBLE)) AS BIGINT)"
    " * CAST(floor({b}[i]::DOUBLE * CAST(1000000 AS DOUBLE)) AS BIGINT)), "
    "(x, y) -> x + y)"
)


def _qcos_spark(a: str, b: str) -> str:
    return (
        f"cast({_QDOT_SPARK.format(a=a, b=b)} as double) / "
        f"sqrt(cast({_QDOT_SPARK.format(a=a, b=a)} as double)"
        f" * cast({_QDOT_SPARK.format(a=b, b=b)} as double))"
    )


def _qcos_duck(a: str, b: str) -> str:
    return (
        f"CAST({_QDOT_DUCK.format(a=a, b=b)} AS DOUBLE) / "
        f"sqrt(CAST({_QDOT_DUCK.format(a=a, b=a)} AS DOUBLE)"
        f" * CAST({_QDOT_DUCK.format(a=b, b=b)} AS DOUBLE))"
    )


def _with_norm2(df: DataFrame, vec: str = "embedding") -> DataFrame:
    return df.withColumn("norm2", F.expr(_DOT_SPARK.format(a=vec, b=vec)))


def _cos_expr(a: str, b: str, n2a: str, n2b: str) -> str:
    return f"{_DOT_SPARK.format(a=a, b=b)} / sqrt({n2a} * {n2b})"


def cosine_topk(
    emb: DataFrame,
    n_queries: int = 8,
    k: int = TOP_K,
) -> DataFrame:
    """Exact cosine top-k: for each probe vector (``vec_id <
    n_queries``), the k nearest corpus vectors (self excluded), ranked
    by cosine desc with vec_id tiebreak. Output: (query_id,
    neighbor_id, rank) — ints only."""
    corpus = _with_norm2(emb).select("vec_id", "embedding", "norm2")
    probes = (
        corpus.filter(F.col("vec_id") < n_queries)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("q_emb"),
            F.col("norm2").alias("q_norm2"),
        )
    )
    scored = (
        corpus.join(F.broadcast(probes), F.col("vec_id") != F.col("query_id"))
        .withColumn("cos", F.expr(_cos_expr("embedding", "q_emb", "norm2", "q_norm2")))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", F.col("vec_id").alias("neighbor_id"), "rank")
    )


def cosine_topk_oracle(n_queries: int = 8, k: int = TOP_K) -> str:
    dot = _DOT_DUCK.format(a="c.embedding", b="q.embedding")
    n2c = _DOT_DUCK.format(a="c.embedding", b="c.embedding")
    n2q = _DOT_DUCK.format(a="q.embedding", b="q.embedding")
    return f"""
        WITH scored AS (
          SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                 {dot} / sqrt(({n2c}) * ({n2q})) AS cos
          FROM embeddings c
          JOIN embeddings q ON q.vec_id < {n_queries} AND c.vec_id != q.vec_id
        )
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
        FROM scored
        QUALIFY rank <= {k}
    """


def _ivf_centroids(base: DataFrame, k: int | None = None) -> DataFrame:
    """Corpus-scaled coarse-quantizer seed set: the K vectors with the
    smallest ``md5(vec_id)`` hash-rank, K = :func:`n_centroids_for`
    (constant expected cell size — the knob VERDICT r13 item 1 asked
    for) unless the caller pins it. ``orderBy().limit(K)`` compiles to
    TakeOrderedAndProject — per-partition partial top-K then a K-row
    merge, never a global sort; the ``count()`` that derives K is one
    cheap metadata-ish pass over the corpus."""
    if k is None:
        k = n_centroids_for(base.count())
    return (
        base.orderBy(F.expr(_SEED_RANK_SPARK), "vec_id")
        .limit(k)
        .select(
            F.col("vec_id").alias("c_id"),
            F.col("embedding").alias("c_emb"),
            F.col("norm2").alias("c_norm2"),
        )
    )


def _ivf_assign(base: DataFrame, centroids: DataFrame) -> DataFrame:
    """Nearest-centroid cell per corpus vector — ONE Arrow-batched
    ``mapInPandas`` pass with the K-row centroid model shipped in the
    closure (same model-weights pattern as :func:`pq_codebook`; K·dim
    doubles, ~400 KB at sf10's K=782 — raise TARGET_CELL_SIZE before
    the model outgrows task broadcast).

    Replaces the broadcast-join + row_number form, whose cost was
    n·K interpreted array-lambda cosines: with K now corpus-scaled
    that pass measured 102 s of dedup_semantic's 114 s sf10 cell.

    BIT-PARITY INVARIANT (what keeps every oracle green): the
    assignment cosine is the QUANTIZED one (see ``_QDOT_SPARK`` note)
    — floor(val*1e6) integer dots are exact and order-independent, so
    ``Q @ Cq.T`` runs as BLAS float64 matmul (every intermediate
    ≤ 2^53, hence exact) and still equals the oracle's SQL fold
    bit-for-bit; the final three IEEE ops (norm product, sqrt,
    divide) are single correctly-rounded ops in every engine, and
    argmax picks the FIRST maximum = lowest c_id, the row_number
    (c_cos DESC, c_id) rule. ``norm2`` passes through untouched for
    the downstream RAW-cosine stages."""
    import numpy as np

    rows = sorted(centroids.collect(), key=lambda r: r["c_id"])
    c_ids = np.array([r["c_id"] for r in rows], dtype=np.int64)
    Cq = np.floor(
        np.array([list(r["c_emb"]) for r in rows], dtype=np.float64) * 1.0e6
    )
    cqn2 = (Cq * Cq).sum(axis=1)

    def assign(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            Q = np.floor(
                np.stack(
                    [np.asarray(v, dtype=np.float32) for v in pdf["embedding"]]
                ).astype(np.float64)
                * 1.0e6
            )
            qn2 = (Q * Q).sum(axis=1)
            cos = (Q @ Cq.T) / np.sqrt(qn2[:, None] * cqn2[None, :])
            out = pdf[["vec_id", "embedding", "norm2"]].copy()
            out["cell"] = c_ids[np.argmax(cos, axis=1)]
            yield out

    return base.mapInPandas(
        assign, "vec_id long, embedding array<float>, norm2 double, cell long"
    )


def ivf_topk(
    emb: DataFrame,
    n_queries: int = 8,
    k: int = TOP_K,
    n_probe: int = N_PROBE_CELLS,
) -> DataFrame:
    """IVF approximate top-k: corpus vectors are assigned to their
    nearest of K deterministic hash-rank seed centroids (K
    corpus-scaled, :func:`n_centroids_for` — constant expected cell
    size keeps the probe-side scan n_probe·TARGET_CELL_SIZE rows per
    query at any corpus size); each probe searches only its
    ``n_probe`` closest cells. Same output shape as
    :func:`cosine_topk`."""
    base = _with_norm2(emb).select("vec_id", "embedding", "norm2")
    centroids = _ivf_centroids(base)
    assigned = _ivf_assign(base, centroids)
    probes = (
        base.filter(F.col("vec_id") < n_queries)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("q_emb"),
            F.col("norm2").alias("q_norm2"),
        )
    )
    probe_w = Window.partitionBy("query_id").orderBy(F.col("pc_cos").desc(), F.col("c_id"))
    probe_cells = (
        # probe-cell selection uses the same QUANTIZED assignment
        # cosine as _ivf_assign (n_queries x K rows — SQL is fine here)
        probes.join(F.broadcast(centroids))
        .withColumn("pc_cos", F.expr(_qcos_spark("q_emb", "c_emb")))
        .withColumn("pc_rank", F.row_number().over(probe_w))
        .filter(F.col("pc_rank") <= n_probe)
        .select("query_id", "q_emb", "q_norm2", F.col("c_id").alias("cell"))
    )
    rank_w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("vec_id"))
    return (
        assigned.join(F.broadcast(probe_cells), "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .withColumn("cos", F.expr(_cos_expr("embedding", "q_emb", "norm2", "q_norm2")))
        .withColumn("rank", F.row_number().over(rank_w))
        .filter(F.col("rank") <= k)
        .select("query_id", F.col("vec_id").alias("neighbor_id"), "rank")
    )


def ivf_topk_oracle(n_queries: int = 8, k: int = TOP_K, n_probe: int = N_PROBE_CELLS) -> str:
    def cos(a, b):
        return (
            f"{_DOT_DUCK.format(a=a, b=b)} / "
            f"sqrt(({_DOT_DUCK.format(a=a, b=a)}) * ({_DOT_DUCK.format(a=b, b=b)}))"
        )

    return f"""
        WITH centroids AS (
          SELECT vec_id AS c_id, embedding AS c_emb
          FROM ({_seed_cte_duck()})
        ),
        assigned AS (
          SELECT v.vec_id, v.embedding, c.c_id AS cell,
                 row_number() OVER (PARTITION BY v.vec_id
                                    ORDER BY {_qcos_duck('v.embedding', 'c.c_emb')} DESC, c.c_id) AS rn
          FROM embeddings v CROSS JOIN centroids c
          QUALIFY rn = 1
        ),
        probe_cells AS (
          SELECT q.vec_id AS query_id, q.embedding AS q_emb, c.c_id AS cell,
                 row_number() OVER (PARTITION BY q.vec_id
                                    ORDER BY {_qcos_duck('q.embedding', 'c.c_emb')} DESC, c.c_id) AS rn
          FROM embeddings q CROSS JOIN centroids c
          WHERE q.vec_id < {n_queries}
          QUALIFY rn <= {n_probe}
        )
        SELECT query_id, neighbor_id, rank FROM (
          SELECT p.query_id, a.vec_id AS neighbor_id,
                 row_number() OVER (PARTITION BY p.query_id
                                    ORDER BY {cos('a.embedding', 'p.q_emb')} DESC, a.vec_id) AS rank
          FROM assigned a JOIN probe_cells p ON a.cell = p.cell
          WHERE a.vec_id != p.query_id
        ) WHERE rank <= {k}
    """


# ---------------------------------------------------------------------
# Embedding-cosine near-duplicate pairs (random-hyperplane LSH)

# 32 planes in 4 bands of 8 sign bits: each band key has 256 buckets,
# so candidate pairs scale ~n²/256 per band instead of n²/16 (the
# round-4 4-bit bands measured ~16x candidate growth at 4x corpus —
# effectively quadratic; 8-bit bands cut candidates ~16x). The
# recall/candidate tradeoff is the standard LSH knob: wider bands
# lower per-band match probability for borderline pairs but keep
# high-similarity near-dups (the ones dedup targets) at high recall.
N_PLANES = 32
LSH_BANDS = 4
LSH_ROWS = N_PLANES // LSH_BANDS
COS_THRESHOLD = 0.25
_EMB_DIM = 64


def _plane_signs(p: int, dim: int = _EMB_DIM) -> list[float]:
    """Deterministic ±1 hyperplane weights from md5(p:d) — computed in
    Python so both engines see identical literals."""
    import hashlib

    return [
        1.0 if int(hashlib.md5(f"{p}:{d}".encode()).hexdigest()[:8], 16) % 2 == 0
        else -1.0
        for d in range(dim)
    ]


def _plane_literal_spark(p: int) -> str:
    return "array(" + ", ".join(f"{w}D" for w in _plane_signs(p)) + ")"


# NOTE: rewriting the 16 plane dots as static 64-term +/- indexing
# expressions was tried and REVERTED: 16x64 arithmetic terms overflow
# Janino's method limits, Spark falls back to interpreted eval for the
# whole projection, and the query gets ~2.5x slower. The
# aggregate(zip_with()) fold is interpreted too, but it at least keeps
# the rest of the stage in codegen.


def _plane_literal_duck(p: int) -> str:
    return "[" + ", ".join(str(w) for w in _plane_signs(p)) + "]"


def _band_key_exprs(bit_fn) -> list[str]:
    """One concat_ws band-key expression per band; ``bit_fn(p)`` gives
    the engine-specific sign-bit expression for plane p."""
    keys = []
    for b in range(LSH_BANDS):
        bits = [bit_fn(b * LSH_ROWS + r) for r in range(LSH_ROWS)]
        keys.append((b, bits))
    return keys


def embedding_near_dup_pairs(
    emb: DataFrame, threshold: float = COS_THRESHOLD
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: random-hyperplane LSH
    (16 deterministic ±1 hyperplanes, 4 bands × 4 sign bits) proposes
    candidates; exact cosine (same left-to-right fold as the DuckDB
    oracle) verifies. Output: (vec_id_1, vec_id_2, cos_sim) for
    candidates with cosine >= threshold.

    Scale path: band keys are a shuffle key (hash join per band, no
    cross join); at corpus scale you'd materialize sign sketches next
    to the vectors and self-join per band. The band self-join and the
    pair dedup carry ONLY (vec_id, band_key) — embeddings re-join by
    id after the candidate set is deduplicated, so the wide arrays
    never ride through the candidate shuffle (they'd multiply its
    width ~100x at a 64-dim corpus). Mirrors the reference's
    key-based blocking philosophy (unique:ever key maps) applied to
    vector space."""
    from siddhi_execution_unique_spark.functions.text import checkpointed

    # norm2 is an interpreted 64-element fold (see the module NOTE);
    # base feeds the band-keying pass and BOTH verification sides —
    # materialize it once instead of re-folding the corpus 3x
    base = checkpointed(_with_norm2(emb).select("vec_id", "embedding", "norm2"))
    bit = lambda p: (  # noqa: E731
        f"(CASE WHEN {_DOT_SPARK.format(a='embedding', b=_plane_literal_spark(p))}"
        f" >= 0 THEN 1 ELSE 0 END)"
    )
    band_exprs = [
        f"concat_ws(':', '{b}', {', '.join(bits)})"
        for b, bits in _band_key_exprs(bit)
    ]
    keyed = base.select(
        "vec_id",
        F.explode(F.expr("array(" + ", ".join(band_exprs) + ")")).alias("band_key"),
    )
    cand = (
        keyed.select(F.col("vec_id").alias("vec_id_1"), "band_key")
        .join(keyed.select(F.col("vec_id").alias("vec_id_2"), "band_key"), ["band_key"])
        .filter(F.col("vec_id_1") < F.col("vec_id_2"))
        .select("vec_id_1", "vec_id_2")
        .dropDuplicates(["vec_id_1", "vec_id_2"])
    )
    # id-joins against the O(n) embeddings table: no broadcast hint
    # (driver OOM at corpus scale); AQE localizes when small
    e1 = base.select(
        F.col("vec_id").alias("vec_id_1"),
        F.col("embedding").alias("e1"),
        F.col("norm2").alias("n1"),
    )
    e2 = base.select(
        F.col("vec_id").alias("vec_id_2"),
        F.col("embedding").alias("e2"),
        F.col("norm2").alias("n2"),
    )
    return (
        cand.join(e1, "vec_id_1")
        .join(e2, "vec_id_2")
        .withColumn("cos_sim", F.expr(f"round({_cos_expr('e1', 'e2', 'n1', 'n2')}, 6)"))
        .filter(F.col("cos_sim") >= threshold)
        .select("vec_id_1", "vec_id_2", "cos_sim")
    )


def embedding_near_dup_pairs_oracle(threshold: float = COS_THRESHOLD) -> str:
    def dot(x, y):
        return _DOT_DUCK.format(a=x, b=y)

    bit = lambda p: (  # noqa: E731
        f"(CASE WHEN {dot('embedding', _plane_literal_duck(p))} >= 0 "
        f"THEN 1 ELSE 0 END)"
    )
    band_exprs = [
        f"concat_ws(':', '{b}', {', '.join(bits)})"
        for b, bits in _band_key_exprs(bit)
    ]
    cos = (
        f"{dot('a.embedding', 'b.embedding')} / sqrt(({dot('a.embedding', 'a.embedding')})"
        f" * ({dot('b.embedding', 'b.embedding')}))"
    )
    return f"""
        WITH keyed AS (
          SELECT vec_id, embedding,
                 unnest([{', '.join(band_exprs)}]) AS band_key
          FROM embeddings
        ),
        cand AS (
          SELECT DISTINCT a.vec_id AS vec_id_1, b.vec_id AS vec_id_2
          FROM keyed a JOIN keyed b
            ON a.band_key = b.band_key AND a.vec_id < b.vec_id
        )
        SELECT vec_id_1, vec_id_2, round({cos}, 6) AS cos_sim
        FROM cand
        JOIN embeddings a ON a.vec_id = vec_id_1
        JOIN embeddings b ON b.vec_id = vec_id_2
        WHERE round({cos}, 6) >= {threshold}
    """


N_RECALL_ANCHORS = 64


def embedding_lsh_recall(
    emb: DataFrame,
    threshold: float = COS_THRESHOLD,
    n_anchors: int = N_RECALL_ANCHORS,
) -> DataFrame:
    """Recall report for the plane-LSH near-dup pass (the embedding
    analog of ``dedup.minhash_accuracy``): for an anchored ground-truth
    sample — every true pair whose SMALLER vec_id is < ``n_anchors``,
    so ground truth costs O(anchors × corpus), never corpus² — how many
    pairs at each cosine level the banded LSH actually surfaced.
    Output: (cos_bucket, n_true, n_found, recall) where cos_bucket is
    floor(cos × 10)/10. This is the query that keeps the
    band-width/recall tradeoff honest: widening bands (round 5: 4 → 8
    sign bits) cuts candidates ~n²/256 per band, and THIS entry
    reports what it costs in recall at each similarity level.

    Determinism: cosine uses the same left-to-right fold as
    :func:`cosine_topk` (bit-identical both engines); the bucket is
    computed on round(cos, 6); recall is one int/int division."""
    base = _with_norm2(emb).select("vec_id", "embedding", "norm2")
    anchors = base.filter(F.col("vec_id") < n_anchors).select(
        F.col("vec_id").alias("vec_id_1"),
        F.col("embedding").alias("e1"),
        F.col("norm2").alias("n1"),
    )
    others = base.select(
        F.col("vec_id").alias("vec_id_2"),
        F.col("embedding").alias("e2"),
        F.col("norm2").alias("n2"),
    )
    truth = (
        others.join(F.broadcast(anchors), F.col("vec_id_1") < F.col("vec_id_2"))
        .withColumn(
            "cos6", F.expr(f"round({_cos_expr('e1', 'e2', 'n1', 'n2')}, 6)")
        )
        .filter(F.col("cos6") >= threshold)
        .select(
            "vec_id_1", "vec_id_2",
            F.expr("cast(floor(cos6 * 10) as bigint)").alias("bucket10"),
        )
    )
    found = (
        embedding_near_dup_pairs(emb, threshold)
        .filter(F.col("vec_id_1") < n_anchors)
        .select("vec_id_1", "vec_id_2", F.lit(1).alias("hit"))
    )
    return (
        truth.join(found, ["vec_id_1", "vec_id_2"], "left")
        .groupBy(F.expr("bucket10 / cast(10 as double)").alias("cos_bucket"))
        .agg(
            F.count("*").alias("n_true"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("n_found"),
        )
        .withColumn(
            "recall",
            F.expr("round(n_found / cast(n_true as double), 6)"),
        )
    )


def embedding_lsh_recall_oracle(
    threshold: float = COS_THRESHOLD, n_anchors: int = N_RECALL_ANCHORS
) -> str:
    def dot(x, y):
        return _DOT_DUCK.format(a=x, b=y)

    cos = (
        f"{dot('a.embedding', 'b.embedding')} / sqrt(({dot('a.embedding', 'a.embedding')})"
        f" * ({dot('b.embedding', 'b.embedding')}))"
    )
    bit = lambda p: (  # noqa: E731
        f"(CASE WHEN {dot('embedding', _plane_literal_duck(p))} >= 0 "
        f"THEN 1 ELSE 0 END)"
    )
    band_exprs = [
        f"concat_ws(':', '{b}', {', '.join(bits)})"
        for b, bits in _band_key_exprs(bit)
    ]
    return f"""
        WITH truth AS (
          SELECT a.vec_id AS vec_id_1, b.vec_id AS vec_id_2,
                 CAST(floor(round({cos}, 6) * 10) AS BIGINT) AS bucket10
          FROM embeddings a JOIN embeddings b
            ON a.vec_id < {n_anchors} AND a.vec_id < b.vec_id
          WHERE round({cos}, 6) >= {threshold}
        ),
        keyed AS (
          SELECT vec_id, unnest([{', '.join(band_exprs)}]) AS band_key
          FROM embeddings
        ),
        found AS (
          SELECT DISTINCT x.vec_id AS vec_id_1, y.vec_id AS vec_id_2
          FROM keyed x JOIN keyed y
            ON x.band_key = y.band_key AND x.vec_id < y.vec_id
          WHERE x.vec_id < {n_anchors}
        )
        SELECT bucket10 / CAST(10 AS DOUBLE) AS cos_bucket,
               count(*) AS n_true,
               CAST(sum(CASE WHEN f.vec_id_1 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_found,
               round(sum(CASE WHEN f.vec_id_1 IS NOT NULL THEN 1 ELSE 0 END)
                     / CAST(count(*) AS DOUBLE), 6) AS recall
        FROM truth t
        LEFT JOIN found f
          ON f.vec_id_1 = t.vec_id_1 AND f.vec_id_2 = t.vec_id_2
        GROUP BY bucket10
    """


# ---------------------------------------------------------------------
# IVF centroid training: one exact Lloyd (k-means) update step

_QUANT = 1_000_000  # fixed-point scale for order-independent means


def cell_centroids(emb: DataFrame) -> DataFrame:
    """One exact Lloyd/k-means update step over the IVF assignment:
    for every cell, the member count and the mean embedding, emitted
    long-form as (``cell``, ``pos``, ``n_members``, ``centroid_val``)
    so every column is scalar.

    Floating-point determinism: a double-sum's value depends on
    partition merge order, which would make the mean differ in the
    last ulp between runs (and vs the oracle). Instead each element is
    fixed-point quantized (``round(val * 1e6)`` as bigint) BEFORE
    aggregation — bigint sums are exact and order-independent, so the
    mean is bit-identical on both engines. At 1e6 scale a 64-dim
    unit-norm float keeps ~6 significant decimals, more precision
    than k-means needs.

    Scale shape: posexplode produces rows (stays in whole-stage
    codegen — see the module NOTE on array lambdas), then ONE
    partially-aggregating groupBy on (cell, pos) — the map-side
    combine collapses each partition to n_cells x dim rows before the
    shuffle, so the shuffle volume is O(n_cells * dim * n_partitions)
    regardless of corpus size. This is exactly how you re-train IVF
    centroids on a 100 TB embedding table."""
    base = _with_norm2(emb).select("vec_id", "embedding", "norm2")
    assigned = _ivf_assign(base, _ivf_centroids(base))
    pe = assigned.select(
        "cell", F.posexplode("embedding").alias("pos", "val")
    )
    return (
        pe.withColumn(
            "qv", F.expr(f"cast(round(cast(val as double) * {_QUANT}) as bigint)")
        )
        .groupBy("cell", F.col("pos").cast("long").alias("pos"))
        .agg(F.sum("qv").alias("qsum"), F.count("*").alias("n_members"))
        .select(
            "cell",
            "pos",
            "n_members",
            # Round the micro-unit mean qsum/n half-away-from-zero in
            # EXACT integer arithmetic (fp round() differs between
            # engines when the mean lands exactly on a half), then one
            # deterministic IEEE division scales it back.
            F.expr(
                "(case when qsum < 0 then -1 else 1 end)"
                " * ((2 * abs(qsum) + n_members) div (2 * n_members))"
                f" / cast({_QUANT} as double)"
            ).alias("centroid_val"),
        )
    )


def cell_centroids_oracle() -> str:
    def cos(a, b):
        return (
            f"{_DOT_DUCK.format(a=a, b=b)} / "
            f"sqrt(({_DOT_DUCK.format(a=a, b=a)}) * ({_DOT_DUCK.format(a=b, b=b)}))"
        )

    return f"""
        WITH centroids AS (
          SELECT vec_id AS c_id, embedding AS c_emb
          FROM ({_seed_cte_duck()})
        ),
        assigned AS (
          SELECT v.vec_id, v.embedding, c.c_id AS cell,
                 row_number() OVER (PARTITION BY v.vec_id
                                    ORDER BY {_qcos_duck('v.embedding', 'c.c_emb')} DESC, c.c_id) AS rn
          FROM embeddings v CROSS JOIN centroids c
          QUALIFY rn = 1
        ),
        pe AS (
          SELECT cell, unnest(generate_series(1, len(embedding))) AS i, embedding
          FROM assigned
        ),
        q AS (
          SELECT cell, i - 1 AS pos,
                 CAST(round(embedding[i]::DOUBLE * {_QUANT}) AS BIGINT) AS qv
          FROM pe
        )
        SELECT cell, pos, count(*) AS n_members,
               (CASE WHEN sum(qv) < 0 THEN -1 ELSE 1 END)
                 * ((2 * abs(sum(qv)) + count(*)) // (2 * count(*)))
                 / CAST({_QUANT} AS DOUBLE) AS centroid_val
        FROM q GROUP BY cell, pos
    """


# ---------------------------------------------------------------------
# Product-quantization ANN: PQ encode + asymmetric-distance (ADC) scan

PQ_M = 8  # subspaces (64-dim -> 8 sub-vectors of 8 dims)


def pq_codebook(emb: DataFrame, n_centroids: int = N_CENTROIDS):
    """Quantized PQ codebook from the fixed-size hash-rank seed set
    (see :func:`_ivf_centroids`): an int64 numpy (K, dim) array of
    ``floor(val * 1e6)`` components, K = ``N_CENTROIDS`` rows
    CONSTANT in corpus size — deliberately NOT corpus-scaled: a PQ
    codebook is model weights (real PQ fixes K, e.g. 256 per
    subquantizer) and the encode pass costs n·K, so growing K with n
    would make encoding quadratic; the quadratic-at-scale risk the
    scaled knob fixes lives in CELL populations (IVF/semantic-dedup),
    not here. The collect is a TakeOrderedAndProject of
    exactly K rows — O(K x dim) model parameters, never
    corpus-proportional — shipped in encode closures like broadcast
    model weights; frozen between retrains, which is what lets a
    streaming ingest path encode with the same codes as the batch
    corpus. ``c_idx`` ordering is by seed vec_id, matching the
    oracle's ``row_number() OVER (ORDER BY vec_id) - 1``."""
    import numpy as np

    seeds = sorted(
        emb.select("vec_id", "embedding")
        .orderBy(F.expr(_SEED_RANK_SPARK), "vec_id")
        .limit(n_centroids)
        .collect(),
        key=lambda r: r["vec_id"],
    )
    return np.floor(
        np.array([list(r["embedding"]) for r in seeds], dtype=np.float64) * 1.0e6
    ).astype(np.int64)


def pq_encode(df: DataFrame, C) -> DataFrame:
    """PQ-encode a (vec_id, embedding) frame against codebook ``C``:
    ONE Arrow-batched ``mapInPandas`` pass (vectorized numpy
    (B, K, sub) distance tensor per batch, no shuffle, no per-row
    Python) emitting (vec_id, m, code) rows. Works identically on a
    batch frame and a streaming frame (stateless row-local transform),
    so the streaming ingest twin reuses it verbatim."""
    import numpy as np
    import pandas as pd

    sub = _EMB_DIM // PQ_M

    def encode(batches):
        for pdf in batches:
            V = np.floor(
                np.array([list(v) for v in pdf["embedding"]], dtype=np.float64)
                * 1.0e6
            ).astype(np.int64)
            frames = []
            for m in range(PQ_M):
                s = slice(m * sub, (m + 1) * sub)
                d = ((V[:, None, s] - C[None, :, s]) ** 2).sum(axis=2)  # (B, K)
                frames.append(pd.DataFrame({
                    "vec_id": pdf["vec_id"].to_numpy(),
                    "m": np.full(len(pdf), m, dtype=np.int32),
                    # argmin = first occurrence = lowest centroid index,
                    # mirroring the oracle's (d, c_idx) tie-break
                    "code": d.argmin(axis=1).astype(np.int32),
                }))
            yield pd.concat(frames, ignore_index=True)

    return df.select("vec_id", "embedding").mapInPandas(
        encode, "vec_id long, m int, code int"
    )


def _pq_adist(
    emb: DataFrame, n_queries: int, n_centroids: int = N_CENTROIDS
) -> DataFrame:
    """Shared PQ machinery: (query_id, vec_id, adist) for every
    (probe, corpus vector) pair — the memory-bound 100 TB
    ANN pattern: the corpus is stored as ``PQ_M`` small centroid codes
    (here 8 bytes/vector vs 256 for the raw floats), probes scan codes
    against a per-query asymmetric-distance (ADC) lookup table, and
    only code arithmetic touches the corpus at query time.

    Determinism: every distance is computed on fixed-point quantized
    components (``floor(val * 1e6)`` as bigint — floor, not round, so
    numpy / Spark / DuckDB agree bit-for-bit) and summed in exact
    integer arithmetic; ranks tie-break on ids. The emitted
    ``adist`` is the exact integer ADC distance, so the oracle hash
    rides on integers only.

    Scale shape:
    - The codebook (sub-vectors of the ``N_CENTROIDS`` hash-rank
      seeds) is O(K x dim) MODEL PARAMETERS with K constant in corpus
      size, not data — collected once and shipped in the encode
      closure, exactly like broadcast model weights.
    - Encoding is ONE Arrow-batched ``mapInPandas`` pass over the
      corpus (vectorized numpy (B,K,sub) distance tensor per batch, no
      shuffle, no per-row Python) emitting (vec_id, m, code) rows —
      at 100 TB you materialize these codes next to the table once
      and amortize across every query.
    - The ADC table is O(n_queries x M x K) rows — legitimately
      ``broadcast()`` (probes are few by definition), so the scan is
      a broadcast hash join + one partial-agg sum per (query, vec):
      corpus-side work stays partition-local, ONE shuffle of
      O(n x n_queries) skinny rows for the final top-k.
    """
    sub = _EMB_DIM // PQ_M
    C = pq_codebook(emb, n_centroids)
    spark = emb.sparkSession
    codes = pq_encode(emb, C)

    # per-(query, subspace, centroid) ADC table, built relationally from
    # the same quantization so Spark and the oracle share every bit
    qsub = (
        emb.filter(F.col("vec_id") < n_queries)
        .select("vec_id", F.posexplode("embedding").alias("p", "val"))
        .select(
            F.col("vec_id").alias("query_id"),
            F.expr(f"p div {sub}").cast("int").alias("m"),
            F.expr(f"p % {sub}").cast("int").alias("j"),
            F.expr("cast(floor(cast(val as double) * cast(1000000 as double)) as bigint)").alias("qv"),
        )
    )
    csub = spark.createDataFrame(
        [
            (ci, p // sub, p % sub, int(C[ci, p]))
            for ci in range(C.shape[0])
            for p in range(_EMB_DIM)
        ],
        "c_idx int, m int, j int, cv long",
    )
    table = (
        qsub.join(csub, ["m", "j"])
        .groupBy("query_id", "m", "c_idx")
        .agg(F.sum(F.expr("(qv - cv) * (qv - cv)")).alias("d"))
    )
    return (
        codes.join(
            F.broadcast(table),
            (codes["m"] == table["m"]) & (codes["code"] == table["c_idx"]),
        )
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", "vec_id")
        .agg(F.sum("d").alias("adist"))
    )


def pq_topk(
    emb: DataFrame,
    n_queries: int = 8,
    k: int = TOP_K,
    n_centroids: int = N_CENTROIDS,
) -> DataFrame:
    """PQ/ADC approximate top-k (see :func:`_pq_adist` for the scale
    design). Output: (query_id, neighbor_id, rank, adist) — ints only,
    so the oracle hash rides on exact integers."""
    rank_w = Window.partitionBy("query_id").orderBy(F.col("adist"), F.col("vec_id"))
    return (
        _pq_adist(emb, n_queries, n_centroids)
        .withColumn("rank", F.row_number().over(rank_w))
        .filter(F.col("rank") <= k)
        .select("query_id", F.col("vec_id").alias("neighbor_id"), "rank", "adist")
    )


def pq_rerank_topk(
    emb: DataFrame,
    n_queries: int = 8,
    k: int = TOP_K,
    shortlist: int = 4 * TOP_K,
    n_centroids: int = N_CENTROIDS,
) -> DataFrame:
    """Two-stage retrieval — the production ANN shape: the cheap PQ/ADC
    scan shortlists ``shortlist`` candidates per probe from codes alone,
    then ONLY the shortlist re-joins the raw embeddings by id for an
    exact cosine re-rank to ``k``. At 100 TB the expensive exact pass
    touches O(n_queries x shortlist) vectors instead of the corpus —
    the id-join against the embeddings table is the only place full
    vectors are read, and it is driven by a tiny candidate set (AQE
    localizes it; never a corpus-wide shuffle).

    Cosine determinism matches :func:`cosine_topk`: the same
    left-to-right ``aggregate(zip_with())`` fold both engines use, so
    ranks are bit-stable. Output: (query_id, neighbor_id, rank,
    cos_sim(6dp))."""
    short_w = Window.partitionBy("query_id").orderBy(F.col("adist"), F.col("vec_id"))
    cand = (
        _pq_adist(emb, n_queries, n_centroids)
        .withColumn("srank", F.row_number().over(short_w))
        .filter(F.col("srank") <= shortlist)
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
    )
    base = _with_norm2(emb).select("vec_id", "embedding", "norm2")
    nb = base.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("n_emb"),
        F.col("norm2").alias("n_norm2"),
    )
    # the broadcast side MUST be the filtered n_queries-row relation,
    # not the corpus: broadcasting base would ship O(n) vectors to
    # every task (round-4 flaw — results were right, plan was not)
    qs = base.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("norm2").alias("q_norm2"),
    )
    rank_w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id")
    )
    return (
        cand.join(nb, "neighbor_id")
        .join(F.broadcast(qs), "query_id")
        .withColumn("cos", F.expr(_cos_expr("n_emb", "q_emb", "n_norm2", "q_norm2")))
        .withColumn("rank", F.row_number().over(rank_w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id", "neighbor_id", "rank",
            F.expr("round(cos, 6)").alias("cos_sim"),
        )
    )


def _pq_codes_with() -> str:
    """Shared CTE prefix for every PQ oracle: quantized sub-vectors,
    codebook distances, and the argmin ``codes`` table — the SQL twin
    of :func:`pq_codebook` + :func:`pq_encode` (same floor-1e6
    quantization, same (d, c_idx) tie-break)."""
    sub = _EMB_DIM // PQ_M
    return f"""
        cent AS (
          SELECT row_number() OVER (ORDER BY vec_id) - 1 AS c_idx, embedding
          FROM ({_seed_cte_duck(fixed_k=True)})
        ),
        vsub AS (
          SELECT vec_id, (i - 1) // {sub} AS m, (i - 1) % {sub} AS j,
                 CAST(floor(embedding[i]::DOUBLE * CAST(1000000 AS DOUBLE)) AS BIGINT) AS qv
          FROM (SELECT vec_id, embedding,
                       unnest(generate_series(1, {_EMB_DIM})) AS i
                FROM embeddings)
        ),
        csub AS (
          SELECT c_idx, (i - 1) // {sub} AS m, (i - 1) % {sub} AS j,
                 CAST(floor(embedding[i]::DOUBLE * CAST(1000000 AS DOUBLE)) AS BIGINT) AS cv
          FROM (SELECT c_idx, embedding,
                       unnest(generate_series(1, {_EMB_DIM})) AS i
                FROM cent)
        ),
        dists AS (
          SELECT v.vec_id, v.m, c.c_idx,
                 sum((v.qv - c.cv) * (v.qv - c.cv)) AS d
          FROM vsub v JOIN csub c ON v.m = c.m AND v.j = c.j
          GROUP BY 1, 2, 3
        ),
        codes AS (
          SELECT vec_id, m, c_idx AS code,
                 row_number() OVER (PARTITION BY vec_id, m
                                    ORDER BY d, c_idx) AS rn
          FROM dists QUALIFY rn = 1
        )"""


def pq_codes_oracle() -> str:
    """The corpus PQ code table alone — the oracle for the streaming
    ingest twin (:func:`streaming.pq_encode_stream`): codes computed
    at stream time with the frozen codebook must equal the batch
    encode of the same corpus."""
    return f"""
        WITH {_pq_codes_with()}
        SELECT vec_id, m, code FROM codes
    """


def pq_topk_oracle(n_queries: int = 8, k: int = TOP_K) -> str:
    return f"""
        WITH {_pq_codes_with()},
        qtab AS (
          SELECT vec_id AS query_id, m, c_idx, d FROM dists
          WHERE vec_id < {n_queries}
        ),
        adist AS (
          SELECT t.query_id, c.vec_id, CAST(sum(t.d) AS BIGINT) AS adist
          FROM codes c JOIN qtab t ON c.m = t.m AND c.code = t.c_idx
          WHERE c.vec_id != t.query_id
          GROUP BY 1, 2
        )
        SELECT query_id, vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY adist, vec_id) AS rank,
               adist
        FROM adist QUALIFY rank <= {k}
    """


def pq_rerank_topk_oracle(
    n_queries: int = 8, k: int = TOP_K, shortlist: int = 4 * TOP_K
) -> str:
    def dot(a, b):
        return _DOT_DUCK.format(a=a, b=b)

    cos = (
        f"{dot('nb.embedding', 'q.embedding')} / "
        f"sqrt(({dot('nb.embedding', 'nb.embedding')})"
        f" * ({dot('q.embedding', 'q.embedding')}))"
    )
    return f"""
        WITH {_pq_codes_with()},
        qtab AS (
          SELECT vec_id AS query_id, m, c_idx, d FROM dists
          WHERE vec_id < {n_queries}
        ),
        adist AS (
          SELECT t.query_id, c.vec_id, sum(t.d) AS adist
          FROM codes c JOIN qtab t ON c.m = t.m AND c.code = t.c_idx
          WHERE c.vec_id != t.query_id
          GROUP BY 1, 2
        ),
        shortlist AS (
          SELECT query_id, vec_id AS neighbor_id,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY adist, vec_id) AS srank
          FROM adist QUALIFY srank <= {shortlist}
        )
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY ({cos}) DESC, neighbor_id) AS rank,
               round({cos}, 6) AS cos_sim
        FROM shortlist s
        JOIN embeddings nb ON nb.vec_id = s.neighbor_id
        JOIN embeddings q ON q.vec_id = s.query_id
        QUALIFY rank <= {k}
    """


# ---------------------------------------------------------------------
# Semantic dedup (SemDeDup-style: cluster-blocked cosine prune)

SEMDEDUP_TAU = 0.35


def semantic_dedup(emb: DataFrame, tau: float = SEMDEDUP_TAU) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023): every
    vector is assigned to its nearest of K coarse cells, and within
    each cell a vector is REMOVED when a lower-id vector of the same
    cell has cosine >= ``tau`` with it — the deterministic pairwise
    form of the paper's keep-one-per-duplicate-group rule (greedy by
    vec_id order). Output: (vec_id, cell, kept), one row per corpus
    vector.

    Scale shape: cell assignment is one Arrow pass (see
    :func:`_ivf_assign`); K scales with the corpus
    (:func:`n_centroids_for`) so E[cell_size] stays constant, and the
    duplicate scan is ONE ``groupBy(cell).applyInPandas`` — each cell
    deduplicates locally with a blocked BLAS cosine matrix, so the
    only shuffle is n corpus rows keyed by cell (the previous
    pair-join form shuffled sum(cell²) ≈ n·256 pair rows carrying TWO
    embedding arrays each — ~26 GB at sf10 — and evaluated the cosine
    as an interpreted array-lambda per pair). Work per cell is
    cell²·dim BLAS flops; blocks are capped so no cell materializes
    more than a few-MB score matrix even under data-dependent cell
    skew.

    BIT-PARITY: the pair test uses the same QUANTIZED floor-1e6
    integer cosine as the cell assignment (see ``_QDOT_SPARK``) — the
    integer dot is exact and order-independent (every intermediate
    < 2^53), so numpy's float64 matmul equals the oracle's SQL fold
    bit-for-bit, and the final three IEEE ops (norm-product multiply,
    sqrt, divide) are correctly rounded identically in both
    engines."""
    import numpy as np
    import pandas as pd

    if not 0.0 < tau <= 1.0:
        raise ValueError(f"tau must be in (0, 1], got {tau}")
    base = _with_norm2(emb).select("vec_id", "embedding", "norm2")
    assigned = _ivf_assign(base, _ivf_centroids(base))

    def scan(pdf):
        pdf = pdf.sort_values("vec_id")
        n = len(pdf)
        if n == 0:
            return pd.DataFrame(
                {"vec_id": [], "cell": [], "kept": []})
        Q = np.floor(
            np.stack(
                [np.asarray(v, dtype=np.float32) for v in pdf["embedding"]]
            ).astype(np.float64)
            * 1.0e6
        )
        qn = (Q * Q).sum(axis=1)
        dup = np.zeros(n, dtype=bool)
        lo = 1
        while lo < n:
            # block height capped so the score matrix stays ~64 MB
            # even for a pathologically hot cell
            hi = min(n, lo + max(64, 8_000_000 // max(lo + 1, 1)))
            with np.errstate(invalid="ignore", divide="ignore"):
                cos = (Q[lo:hi] @ Q[:hi].T) / np.sqrt(
                    qn[lo:hi, None] * qn[None, :hi])
            mask = np.arange(hi)[None, :] < np.arange(lo, hi)[:, None]
            with np.errstate(invalid="ignore"):
                dup[lo:hi] = ((cos >= tau) & mask).any(axis=1)
            lo = hi
        return pd.DataFrame({
            "vec_id": pdf["vec_id"].to_numpy(),
            "cell": pdf["cell"].to_numpy(),
            "kept": ~dup,
        })

    return assigned.groupBy("cell").applyInPandas(
        scan, "vec_id long, cell long, kept boolean")


def semantic_dedup_oracle(tau: float = SEMDEDUP_TAU) -> str:
    # the pair test uses the QUANTIZED cosine (the engine's per-cell
    # BLAS scan computes exactly this — see the bit-parity note on
    # semantic_dedup)
    return f"""
        WITH centroids AS (
          SELECT vec_id AS c_id, embedding AS c_emb
          FROM ({_seed_cte_duck()})
        ),
        assigned AS (
          SELECT v.vec_id, v.embedding, c.c_id AS cell,
                 row_number() OVER (PARTITION BY v.vec_id
                                    ORDER BY {_qcos_duck('v.embedding', 'c.c_emb')} DESC, c.c_id) AS rn
          FROM embeddings v CROSS JOIN centroids c
          QUALIFY rn = 1
        ),
        dup AS (
          SELECT DISTINCT b.vec_id
          FROM assigned a JOIN assigned b
            ON a.cell = b.cell AND a.vec_id < b.vec_id
          WHERE {_qcos_duck('a.embedding', 'b.embedding')} >= {tau}
        )
        SELECT a.vec_id, a.cell, (d.vec_id IS NULL) AS kept
        FROM assigned a LEFT JOIN dup d ON a.vec_id = d.vec_id
    """


# ---------------------------------------------------------------------
# PCA over the embedding corpus (exact fixed-point covariance,
# constant-size model, literal-matrix projection)

# quantization for the covariance pass: |v| < 0.6 in the test corpus,
# so |q| < 6e3, |qi*qj| < 3.6e7, and the centered numerator
# n*sum(qi*qj) - sum(qi)*sum(qj) stays < 2^63 up to n ~ 1.8e5 vectors
# per aggregation; a larger corpus raises the scale bound by sharding
# the pass or widening to DECIMAL — the aggregate STRUCTURE (one
# map-side-combined hash agg to dim*(dim+1)/2 cells) is unchanged.
_COV_QUANT = 10_000
PCA_COMPONENTS = 4


def pca_covariance(emb: DataFrame) -> DataFrame:
    """Exact corpus covariance numerators for the embedding table:
    one row per dimension pair ``i <= j`` with the centered fixed-point
    numerator ``cov_num = n * sum(qi*qj) - sum(qi) * sum(qj)`` where
    ``q = round(val * 1e4)`` — all-BIGINT arithmetic, so the result is
    order-independent and bit-identical across engines (a double sum's
    value depends on partition merge order; see
    :func:`cell_centroids`). Output: (i, j, n, cov_num) — the
    dim*(dim+1)/2 = 2080-cell model a PCA/whitening step consumes.

    Scale shape: the Gram pass explodes each vector to its 2080
    dimension pairs INSIDE whole-stage codegen (explode(sequence) +
    array indexing, no lambdas) feeding ONE partially-aggregating
    groupBy(i, j) — each partition collapses to 2080 cells before the
    shuffle, so shuffle volume is O(dim² x n_partitions), independent
    of corpus rows: the distributed outer-product accumulation a
    100 TB whitening job runs. Per-dimension sums ride a second tiny
    (dim-cell) aggregation, joined back on the model cells."""
    q = f"cast(round(cast(embedding[{{idx}}] as double) * {_COV_QUANT}) as bigint)"
    staged = emb.select("vec_id", "embedding").select(
        "embedding", F.explode(F.expr("sequence(0, size(embedding) - 1)")).alias("i")
    ).select(
        "embedding", "i", F.expr(q.format(idx="i")).alias("qi")
    ).select(
        "embedding", "i", "qi",
        F.explode(F.expr("sequence(i, size(embedding) - 1)")).alias("j"),
    ).select(
        "i", "j", "qi", F.expr(q.format(idx="j")).alias("qj")
    )
    gram = staged.groupBy("i", "j").agg(F.sum(F.expr("qi * qj")).alias("sp"))
    dim_sums = (
        emb.select(F.posexplode("embedding").alias("pos", "val"))
        .select("pos", F.expr(
            f"cast(round(cast(val as double) * {_COV_QUANT}) as bigint)"
        ).alias("qv"))
        .groupBy("pos")
        .agg(F.sum("qv").alias("s"), F.count("*").alias("n"))
    )
    si = dim_sums.select(F.col("pos").alias("i"), F.col("s").alias("si"),
                         F.col("n").alias("n"))
    sj = dim_sums.select(F.col("pos").alias("j"), F.col("s").alias("sj"))
    return (
        gram.join(si, "i").join(sj, "j")
        .select(
            F.col("i").cast("long").alias("i"),
            F.col("j").cast("long").alias("j"),
            "n",
            F.expr("n * sp - si * sj").alias("cov_num"),
        )
    )


def pca_covariance_oracle() -> str:
    q = f"CAST(round(embedding[{{idx}}]::DOUBLE * {_COV_QUANT}) AS BIGINT)"
    return f"""
        WITH pairs AS (
          SELECT i.i, j.j,
                 {q.format(idx='i.i + 1')} AS qi,
                 {q.format(idx='j.j + 1')} AS qj
          FROM embeddings,
               unnest(generate_series(0, len(embedding) - 1)) AS i(i),
               unnest(generate_series(0, len(embedding) - 1)) AS j(j)
          WHERE j.j >= i.i
        ),
        gram AS (
          SELECT i, j, CAST(sum(qi * qj) AS BIGINT) AS sp FROM pairs GROUP BY i, j
        ),
        dim_sums AS (
          SELECT pos - 1 AS pos,
                 CAST(sum({q.format(idx='pos')}) AS BIGINT) AS s,
                 count(*) AS n
          FROM (SELECT unnest(generate_series(1, len(embedding))) AS pos,
                       embedding
                FROM embeddings)
          GROUP BY 1
        )
        SELECT g.i, g.j, a.n,
               CAST(a.n * g.sp - a.s * b.s AS BIGINT) AS cov_num
        FROM gram g
        JOIN dim_sums a ON a.pos = g.i
        JOIN dim_sums b ON b.pos = g.j
    """


def _pca_components_from_cov(cov_rows, k: int):
    """Top-k eigenvectors of the (tiny, constant-size) covariance
    model, deterministically: rows are sorted by (i, j) before the
    dense matrix is built, eigh of identical input bits is identical,
    and each vector's sign is canonicalized so its largest-|entry|
    component is positive. Pure numpy on a dim x dim matrix — O(dim³)
    driver work, independent of corpus size."""
    import numpy as np

    rows = sorted(cov_rows, key=lambda r: (r[0], r[1]))
    dim = max(r[1] for r in rows) + 1
    M = np.zeros((dim, dim), dtype=np.float64)
    for i, j, _n, cov_num in rows:
        M[i, j] = M[j, i] = float(cov_num)
    vals, vecs = np.linalg.eigh(M)
    order = np.argsort(vals)[::-1][:k]
    comps = []
    for c in order:
        v = vecs[:, c]
        lead = int(np.argmax(np.abs(v)))
        if v[lead] < 0:
            v = -v
        comps.append([float(x) for x in v])
    return comps


def _project_exprs(comps, idx0) -> list[str]:
    """Literal-matrix projection expressions: component c's score is a
    64-term left-to-right chain of embedding[d] * literal products —
    the fold order (and therefore every IEEE intermediate) is
    identical on both engines. ``idx0`` is the engine's base index."""
    exprs = []
    for ci, v in enumerate(comps):
        terms = " + ".join(
            f"cast(embedding[{d + idx0}] as double) * {w!r}" for d, w in enumerate(v)
        )
        exprs.append(f"round({terms}, 6)")
    return exprs


def pca_project(emb: DataFrame, k: int = PCA_COMPONENTS) -> DataFrame:
    """Project every embedding onto the corpus's top-``k`` principal
    components: (vec_id, pc0..pc{k-1}). The model (dim x dim exact
    covariance -> eigh -> k x dim literal matrix) is CONSTANT-size in
    the corpus; only the single projection pass touches all rows, as a
    codegen'd literal dot product (no Python in the per-row path).

    The collect here is the 2080-row covariance model, not data —
    the same constant-size-model discipline as the ANN codebook
    (round-5 bounded-K rule)."""
    if not 1 <= k <= 64:
        raise ValueError(f"k must be in [1, 64], got {k}")
    cov = [(r["i"], r["j"], r["n"], r["cov_num"]) for r in pca_covariance(emb).collect()]
    comps = _pca_components_from_cov(cov, k)
    cols = [F.expr(e).alias(f"pc{ci}")
            for ci, e in enumerate(_project_exprs(comps, idx0=0))]
    return emb.select("vec_id", *cols)


def pca_project_oracle(sf_dir: str | None = None,
                       k: int = PCA_COMPONENTS) -> str:
    """DuckDB twin: the covariance model is computed by the (already
    parity-proven) covariance oracle SQL on the SAME parquet the
    driver compares at, then the identical numpy eigh produces the
    identical literal matrix — the SQL string tests the projection
    fold bit-for-bit."""
    import duckdb
    import os

    if sf_dir is None:
        # the round driver compares oracles at sf0.01; the local parity
        # suite points this env var at its own sf_dir
        sf_dir = os.environ.get(
            "SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01"
        )
    con = duckdb.connect()
    path = f"{sf_dir}/embeddings.parquet"
    if os.path.isdir(path):
        # rebuilt scale corpora (e.g. /tmp/sf1) are Spark-written
        # parquet directories; driver testdata is a single file
        path += "/*.parquet"
    con.sql(f"CREATE VIEW embeddings AS SELECT * FROM '{path}'")
    cov = [tuple(r) for r in con.sql(pca_covariance_oracle()).fetchall()]
    comps = _pca_components_from_cov(cov, k)
    sel = ", ".join(
        f"{e} AS pc{ci}" for ci, e in enumerate(_project_exprs(comps, idx0=1))
    )
    return f"SELECT vec_id, {sel} FROM embeddings"


def label_outliers(emb: DataFrame) -> DataFrame:
    """Per-label embedding outlier report: exact fixed-point centroid
    per label, every member's squared distance to its own centroid,
    and the label-level summary (n, mean/max distance, the single
    farthest vector) — the screening step that catches mislabeled or
    corrupted embeddings before training.

    Determinism: elements quantize to micro-units BEFORE any
    aggregation (same pattern as :func:`cell_centroids`), the mean is
    one IEEE division of exact operands, and each dimension's squared
    deviation re-quantizes to a bigint before the per-vector sum — so
    distances are order-of-addition independent and hash-identical in
    DuckDB. The argmax vector resolves ties by MIN vec_id via a
    max-then-join, never an engine-specific arg_max.

    Scale shape: aggregations ONLY — (label, pos) centroid agg with
    map-side combine (shuffle volume O(labels × dim × partitions)),
    per-vector distance agg keyed on high-cardinality vec_id, then a
    labels-sized summary agg and one tiny join for the argmax. No
    window over the low-cardinality label key, no broadcast of
    anything corpus-sized."""
    pe = emb.select(
        "vec_id", "label", F.posexplode("embedding").alias("pos", "val")
    ).withColumn(
        "qx", F.expr(f"cast(round(cast(val as double) * {_QUANT}) as bigint)")
    )
    cent = pe.groupBy("label", "pos").agg(
        F.sum("qx").alias("qsum"), F.count("*").alias("n_members")
    )
    dist = (
        pe.join(cent, ["label", "pos"])
        .withColumn(
            "tq",
            F.expr(
                f"cast(round((qx - qsum / cast(n_members as double)) * "
                f"(qx - qsum / cast(n_members as double)) / {_QUANT}) as bigint)"
            ),
        )
        .groupBy("vec_id", "label")
        .agg(F.sum("tq").alias("d2q"))
    )
    summary = dist.groupBy("label").agg(
        F.count("*").alias("n_vecs"),
        F.sum("d2q").alias("sum_d2q"),
        F.max("d2q").alias("max_d2q"),
    )
    argmax = (
        dist.join(
            summary.select("label", "max_d2q"), "label"
        )
        .filter(F.col("d2q") == F.col("max_d2q"))
        .groupBy("label")
        .agg(F.min("vec_id").alias("outlier_vec_id"))
    )
    return summary.join(argmax, "label").select(
        "label",
        "n_vecs",
        F.expr(f"round(sum_d2q / cast(n_vecs as double) / {_QUANT}, 6)").alias("avg_d2"),
        F.expr(f"round(max_d2q / cast({_QUANT} as double), 6)").alias("max_d2"),
        "outlier_vec_id",
    )


def label_outliers_oracle() -> str:
    return f"""
        WITH pe AS (
          SELECT vec_id, label, generate_subscripts(embedding, 1) AS pos,
                 CAST(round(CAST(unnest(embedding) AS DOUBLE) * {_QUANT}) AS BIGINT) AS qx
          FROM embeddings
        ),
        cent AS (
          SELECT label, pos, CAST(sum(qx) AS BIGINT) AS qsum,
                 count(*) AS n_members
          FROM pe GROUP BY label, pos
        ),
        dist AS (
          SELECT p.vec_id, p.label,
                 CAST(sum(CAST(round((p.qx - c.qsum / CAST(c.n_members AS DOUBLE)) *
                                     (p.qx - c.qsum / CAST(c.n_members AS DOUBLE))
                                     / {_QUANT}) AS BIGINT)) AS BIGINT) AS d2q
          FROM pe p JOIN cent c ON p.label = c.label AND p.pos = c.pos
          GROUP BY p.vec_id, p.label
        ),
        summary AS (
          SELECT label, count(*) AS n_vecs,
                 CAST(sum(d2q) AS BIGINT) AS sum_d2q,
                 max(d2q) AS max_d2q
          FROM dist GROUP BY label
        ),
        am AS (
          SELECT d.label, min(d.vec_id) AS outlier_vec_id
          FROM dist d JOIN summary s ON d.label = s.label AND d.d2q = s.max_d2q
          GROUP BY d.label
        )
        SELECT s.label, s.n_vecs,
               round(s.sum_d2q / CAST(s.n_vecs AS DOUBLE) / {_QUANT}, 6) AS avg_d2,
               round(s.max_d2q / CAST({_QUANT} AS DOUBLE), 6) AS max_d2,
               am.outlier_vec_id
        FROM summary s JOIN am ON s.label = am.label
    """

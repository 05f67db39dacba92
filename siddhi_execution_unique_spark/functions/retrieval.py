"""BM25 keyword retrieval over the documents corpus — the lexical
search/contamination-probe primitive a training-data pipeline runs
next to embedding ANN. (Beyond-reference scope — SURVEY.md §7 phase 4;
the reference has no retrieval surface.)

Scale shape: the whole computation is inverted-index relational
algebra — explode tokens once, hash-aggregate term frequencies
(map-side combined), and drive scoring with an equi-join on the term
between the tiny query-term set and the posting list. No document
ever meets another document: cost is O(sum of posting-list lengths
for query terms), the textbook sparse-retrieval bound. Corpus-level
constants (N docs, total token count) ride one broadcast 1-row
aggregate.

Determinism: scores are exact integers. BM25's ``ln`` idf is
transcendental (libm differs across engines), so this uses the
rational idf variant idf = (N - df + 0.5) / (df + 0.5); with
k1 = 6/5 and b = 3/4 every factor is a ratio of exact int64s, and the
per-(query, term, doc) contribution is

    idf * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))
  = [(2N - 2df + 1) / (2df + 1)] * [22*tf*T / (10*tf*T + 3*T + 9*dl*N)]

with T = total tokens — two correctly-rounded IEEE divisions and one
multiply on identical operands in both engines, then fixed-point
``floor(x * 1e6)`` per contribution and an exact bigint sum (the same
pattern as similarity.cell_centroids), so the driver hash rides on
integers only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from siddhi_execution_unique_spark.functions.text import DUCK_TOKS, SPARK_TOKS

TOP_K = 10
N_QUERY_DOCS = 3
_QUANT = 1_000_000

# contribution of one (query term, doc) posting, shared factor shapes:
# idf and tfnorm are each ONE double division of exact int64s
_CONTRIB_SPARK = (
    "(cast(2 * (n_docs - df) + 1 as double) / cast(2 * df + 1 as double))"
    " * (cast(22 * tf * tot_toks as double)"
    "    / cast(10 * tf * tot_toks + 3 * tot_toks + 9 * dl * n_docs as double))"
)
_CONTRIB_DUCK = (
    "(CAST(2 * (n_docs - df) + 1 AS DOUBLE) / CAST(2 * df + 1 AS DOUBLE))"
    " * (CAST(22 * tf * tot_toks AS DOUBLE)"
    "    / CAST(10 * tf * tot_toks + 3 * tot_toks + 9 * dl * n_docs AS DOUBLE))"
)


def bm25_topk(
    docs: DataFrame,
    n_query_docs: int = N_QUERY_DOCS,
    k: int = TOP_K,
) -> DataFrame:
    """Top-``k`` BM25 matches per probe document (``doc_id <
    n_query_docs``; the probe's distinct tokens are its query terms).
    Output: (query_id, doc_id, rank, qscore) — qscore is the exact
    integer micro-unit BM25 sum, rank ties broken by doc_id. The
    probe document itself competes like any other (on the synthetic
    template-vocabulary corpus a twin doc can legitimately outscore
    it — BM25's length normalization at work)."""
    if n_query_docs <= 0:
        raise ValueError(f"n_query_docs must be > 0, got {n_query_docs}")
    if k <= 0:
        raise ValueError(f"k must be > 0, got {k}")
    toks = docs.select(
        "doc_id", F.explode(F.expr(SPARK_TOKS)).alias("term")
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    df_ = tf.groupBy("term").agg(F.count("*").alias("df"))
    bounds = dl.agg(
        F.count("*").alias("n_docs"), F.sum("dl").alias("tot_toks")
    )
    qterms = (
        tf.filter(F.col("doc_id") < n_query_docs)
        .select(F.col("doc_id").alias("query_id"), "term")
    )
    scored = (
        qterms.join(tf, "term")
        .join(df_, "term")
        .join(dl, "doc_id")
        .join(F.broadcast(bounds))
        .withColumn(
            "qc",
            F.expr(f"cast(floor(({_CONTRIB_SPARK}) * {_QUANT}) as bigint)"),
        )
        .groupBy("query_id", "doc_id")
        .agg(F.sum("qc").alias("qscore"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("qscore").desc(), F.col("doc_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "doc_id", "rank", "qscore")
    )


MAX_DF_FRAC_PCT = 10  # prune terms in more than 10% of docs
TFIDF_QUANT = 100
TFIDF_COS_THRESHOLD = 0.3


def tfidf_cosine_pairs(
    docs: DataFrame,
    threshold: float = TFIDF_COS_THRESHOLD,
    materialize: bool = True,
) -> DataFrame:
    """Lexical near-duplicate pairs by cosine of tf-idf vectors over
    the PRUNED vocabulary (terms in more than ``MAX_DF_FRAC_PCT``% of
    docs are dropped — the standard stopword-by-statistics cut, and
    the thing that bounds the posting self-join: a term kept in the
    index pairs at most ``max_df`` docs, so candidates are
    sum-of-df² over rare terms, never corpus²). Completes the
    near-dup family: MinHash-Jaccard, SimHash-Hamming, ngram-Jaccard,
    embedding-cosine, and this — tf-idf cosine.

    Determinism: weights use the rational idf (N + 1)/(df + 1) — one
    IEEE division and multiply on exact ints, identical both engines —
    then fixed-point ``floor(w * 100)`` int64s, so dot products and
    norms are EXACT integer sums (order-independent); the only float
    step is the final dot/sqrt(n1*n2), identical on identical
    integers. Output: (doc_id_1, doc_id_2, cos_sim 6dp).

    The pruned weight table feeds FOUR consumers (both join sides of
    the dot product and both norm lookups); it is materialized once
    (``text.checkpointed`` — at 100 TB: write the index to parquet
    once, read it everywhere)."""
    from siddhi_execution_unique_spark.functions.text import checkpointed

    toks = docs.select("doc_id", F.explode(F.expr(SPARK_TOKS)).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df_ = tf.groupBy("term").agg(F.count("*").alias("df"))
    bounds = docs.agg(F.count("*").alias("n_docs"))
    weights = (
        tf.join(df_, "term")
        .join(F.broadcast(bounds))
        .filter(F.expr(f"df * 100 <= n_docs * {MAX_DF_FRAC_PCT}"))
        .select(
            "doc_id", "term",
            F.expr(
                "cast(floor(cast(tf as double)"
                " * (cast(n_docs + 1 as double) / cast(df + 1 as double))"
                f" * {TFIDF_QUANT}) as bigint)"
            ).alias("wq"),
        )
    )
    weights = checkpointed(weights) if materialize else weights
    norms = weights.groupBy("doc_id").agg(F.sum(F.expr("wq * wq")).alias("n2"))
    a = weights.select(
        F.col("doc_id").alias("doc_id_1"), "term", F.col("wq").alias("w1")
    )
    b = weights.select(
        F.col("doc_id").alias("doc_id_2"), "term", F.col("wq").alias("w2")
    )
    dots = (
        a.join(b, "term")
        .filter(F.col("doc_id_1") < F.col("doc_id_2"))
        .groupBy("doc_id_1", "doc_id_2")
        .agg(F.sum(F.expr("w1 * w2")).alias("dot"))
    )
    # norms frame is O(n_docs): id-equi-joins, no broadcast hint (AQE
    # localizes at test scale, shuffles at corpus scale)
    return (
        dots.join(norms.withColumnRenamed("doc_id", "doc_id_1")
                  .withColumnRenamed("n2", "n2_1"), "doc_id_1")
        .join(norms.withColumnRenamed("doc_id", "doc_id_2")
              .withColumnRenamed("n2", "n2_2"), "doc_id_2")
        .withColumn(
            "cos_sim",
            F.expr("round(cast(dot as double)"
                   " / sqrt(cast(n2_1 as double) * cast(n2_2 as double)), 6)"),
        )
        .filter(F.col("cos_sim") >= threshold)
        .select("doc_id_1", "doc_id_2", "cos_sim")
    )


def tfidf_cosine_pairs_oracle(threshold: float = TFIDF_COS_THRESHOLD) -> str:
    return f"""
        WITH toks AS (
          SELECT doc_id, unnest({DUCK_TOKS}) AS term FROM documents
        ),
        tf AS (
          SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term
        ),
        dfreq AS (
          SELECT term, count(*) AS df FROM tf GROUP BY term
        ),
        bounds AS (SELECT count(*) AS n_docs FROM documents),
        weights AS (
          SELECT t.doc_id, t.term,
                 CAST(floor(CAST(t.tf AS DOUBLE)
                      * (CAST(n_docs + 1 AS DOUBLE) / CAST(f.df + 1 AS DOUBLE))
                      * {TFIDF_QUANT}) AS BIGINT) AS wq
          FROM tf t JOIN dfreq f ON f.term = t.term CROSS JOIN bounds
          WHERE f.df * 100 <= n_docs * {MAX_DF_FRAC_PCT}
        ),
        norms AS (
          SELECT doc_id, CAST(sum(wq * wq) AS BIGINT) AS n2
          FROM weights GROUP BY doc_id
        ),
        dots AS (
          SELECT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2,
                 CAST(sum(a.wq * b.wq) AS BIGINT) AS dot
          FROM weights a JOIN weights b
            ON a.term = b.term AND a.doc_id < b.doc_id
          GROUP BY 1, 2
        )
        SELECT doc_id_1, doc_id_2,
               round(CAST(dot AS DOUBLE)
                     / sqrt(CAST(x.n2 AS DOUBLE) * CAST(y.n2 AS DOUBLE)), 6) AS cos_sim
        FROM dots
        JOIN norms x ON x.doc_id = doc_id_1
        JOIN norms y ON y.doc_id = doc_id_2
        WHERE round(CAST(dot AS DOUBLE)
                    / sqrt(CAST(x.n2 AS DOUBLE) * CAST(y.n2 AS DOUBLE)), 6) >= {threshold}
    """


def bm25_topk_oracle(n_query_docs: int = N_QUERY_DOCS, k: int = TOP_K) -> str:
    return f"""
        WITH toks AS (
          SELECT doc_id, unnest({DUCK_TOKS}) AS term FROM documents
        ),
        tf AS (
          SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term
        ),
        dl AS (
          SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id
        ),
        dfreq AS (
          SELECT term, count(*) AS df FROM tf GROUP BY term
        ),
        bounds AS (
          SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS tot_toks FROM dl
        ),
        qterms AS (
          SELECT doc_id AS query_id, term FROM tf WHERE doc_id < {n_query_docs}
        ),
        scored AS (
          SELECT q.query_id, t.doc_id,
                 CAST(sum(CAST(floor(({_CONTRIB_DUCK}) * {_QUANT}) AS BIGINT)) AS BIGINT)
                   AS qscore
          FROM qterms q
          JOIN tf t ON t.term = q.term
          JOIN dfreq f ON f.term = q.term
          JOIN dl d ON d.doc_id = t.doc_id
          CROSS JOIN bounds
          GROUP BY q.query_id, t.doc_id
        )
        SELECT query_id, doc_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY qscore DESC, doc_id) AS rank,
               qscore
        FROM scored
        QUALIFY rank <= {k}
    """


N_PHRASES = 5


def phrase_search(docs: DataFrame, n_phrases: int = N_PHRASES) -> DataFrame:
    """Exact phrase (adjacent-bigram) search via a POSITIONAL inverted
    index — the retrieval primitive BM25's bag-of-words scoring can't
    express, and the backbone of n-gram-overlap contamination probes
    that need true adjacency, not shingle hashes. The query set is the
    corpus's own ``n_phrases`` most frequent bigrams (deterministic:
    count desc, then lexicographic), so the entry is self-contained.
    Output: (w1, w2, doc_id, n_occ) — every document containing each
    query phrase, with its exact occurrence count.

    Scale shape: the positional posting list (term, doc_id, pos)
    explodes once and materializes; phrase matching is the classic
    positional-index merge expressed relationally — the tiny query
    set broadcast-joins posting rows of w1, and adjacency closes via
    ONE equi-join on (doc_id, pos+1) with a w2 filter, shuffled on
    the high-cardinality (doc_id, pos) key. Cost is O(sum of posting
    lengths of the query terms), never a document self-join. The
    query-mining top-k is TakeOrdered (distributed partial top-k, no
    global window); bigram counting reuses the (doc_id, pos+1)
    self-join shape parity-proven in ``text.bigram_logprob``."""
    if n_phrases < 1:
        raise ValueError(f"phrase_search needs n_phrases >= 1, got {n_phrases}")
    from siddhi_execution_unique_spark.functions.text import checkpointed

    toks = checkpointed(
        docs.select("doc_id", F.posexplode(F.expr(SPARK_TOKS)).alias("pos", "term"))
    )
    nxt = toks.select(
        "doc_id", (F.col("pos") - 1).alias("pos"), F.col("term").alias("w2")
    )
    bigrams = checkpointed(
        toks.join(nxt, ["doc_id", "pos"]).select(
            "doc_id", "pos", F.col("term").alias("w1"), "w2"
        )
    )
    phrases = (
        bigrams.groupBy("w1", "w2")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("w1"), F.col("w2"))
        .limit(n_phrases)
        .select("w1", "w2")
    )
    return (
        bigrams.join(F.broadcast(phrases), ["w1", "w2"])
        .groupBy("w1", "w2", "doc_id")
        .agg(F.count("*").alias("n_occ"))
    )


def phrase_search_oracle(n_phrases: int = N_PHRASES) -> str:
    return f"""
        WITH toks AS (
          SELECT doc_id, generate_subscripts(l, 1) AS pos, unnest(l) AS term
          FROM (SELECT doc_id, {DUCK_TOKS} AS l FROM documents)
        ),
        bigrams AS (
          SELECT a.doc_id, a.pos, a.term AS w1, b.term AS w2
          FROM toks a JOIN toks b
            ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
        ),
        phrases AS (
          SELECT w1, w2 FROM (
            SELECT w1, w2, count(*) AS cnt FROM bigrams GROUP BY w1, w2
          ) ORDER BY cnt DESC, w1, w2 LIMIT {n_phrases}
        )
        SELECT b.w1, b.w2, b.doc_id, count(*) AS n_occ
        FROM bigrams b JOIN phrases p ON b.w1 = p.w1 AND b.w2 = p.w2
        GROUP BY b.w1, b.w2, b.doc_id
    """

"""Text-analysis scalar functions for large-scale training-data
pipelines: token counting, quality scoring, language ID, document
fingerprinting. (Beyond-reference scope — SURVEY.md §7 phase 4; the
reference has no scalar function library, SURVEY.md §2b.)

Everything here is built from JVM-side ``pyspark.sql.functions``
expressions (no Python UDFs), so the hot path stays inside
whole-stage codegen and the parquet scan prunes to the referenced
columns only. Each operator ships a DuckDB oracle builder that
mirrors the exact expression tree, so results hash-match bit-for-bit
(verified: md5-hex→int64, double folds, and round() agree across
engines).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# tokenization shared by every op; mirrored fragments
SPARK_TOKS = r"split(trim(lower(text)), '\\s+')"
DUCK_TOKS = r"string_split_regex(trim(lower(text)), '\s+')"

# "BPE-ish" word/number/punct token pattern
_BPE_SPARK = r"'[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'"
_BPE_DUCK = r"'[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'"

STOPWORDS = {
    "en": ("the", "a", "and", "of", "to", "in", "is"),
    "es": ("el", "la", "de", "que", "y", "en", "un"),
    "de": ("der", "die", "und", "das", "ein", "zu", "ist"),
    "fr": ("le", "la", "de", "et", "un", "pour", "est"),
}
_LANG_ORDER = ("en", "es", "de", "fr")


def checkpointed(df: DataFrame, eager: bool = True) -> DataFrame:
    """Materialize a reused intermediate with the CONFIGURED strategy
    (VERDICT r14 item 6): every compute-once/read-many site in the
    engine routes through here, so the mechanism is one switch, not a
    code audit.

    Catalyst does not reuse exchanges across the different shuffle
    keys a corpus-sized intermediate fans out into (measured: the gram
    posting list is re-scanned 4x in the jaccard verifier without
    this), so recomputing it dominates at scale. The checkpoint is the
    local stand-in for what a 100 TB pipeline does explicitly: write
    the posting/signature/token table out once and let every consumer
    read the stored form.

    ``SPARK_GRAFT_MATERIALIZE`` selects it:

    - ``local`` (default): ``df.localCheckpoint(eager)``. Blocks live
      on executor local storage — no DFS round-trip, the right local
      default, but NOT fault-tolerant: an executor loss at 100 TB
      kills the job instead of recomputing the truncated lineage.
    - ``reliable``: ``df.checkpoint(eager)`` to the SparkContext
      checkpoint dir (taken from ``SPARK_GRAFT_CHECKPOINT_DIR`` if the
      context has none set — on a real cluster point it at DFS).
      Survives executor loss at the cost of writing the intermediate
      out; the production setting when a multi-hour job must not
      restart from zero.
    """
    mode = os.environ.get("SPARK_GRAFT_MATERIALIZE", "local")
    if mode == "reliable":
        sc = df.sparkSession.sparkContext
        if sc.getCheckpointDir() is None:
            import tempfile

            sc.setCheckpointDir(os.environ.get(
                "SPARK_GRAFT_CHECKPOINT_DIR",
                tempfile.mkdtemp(prefix="sgraft_ckpt_")))
        return df.checkpoint(eager=eager)
    if mode != "local":
        raise ValueError(
            f"SPARK_GRAFT_MATERIALIZE={mode!r}: expected 'local' or "
            "'reliable'")
    return df.localCheckpoint(eager=eager)


def _in_list_sql(var: str, words: tuple[str, ...]) -> str:
    quoted = ", ".join(f"'{w}'" for w in words)
    return f"CASE WHEN {var} IN ({quoted}) THEN 1 ELSE 0 END"


def token_stats(docs: DataFrame) -> DataFrame:
    """Per-document token statistics: whitespace tokens, BPE-ish
    regex tokens, average token length.

    Total token length is ``length(array_join(toks, ''))`` — one
    codegen'd string op — rather than an ``aggregate()`` lambda, which
    Spark evaluates interpreted (CodegenFallback)."""
    return docs.select(
        "doc_id",
        F.expr(SPARK_TOKS).alias("toks"),
        F.expr(f"regexp_count(text, {_BPE_SPARK})").alias("n_bpe_tokens"),
    ).select(
        "doc_id",
        F.expr("size(toks)").alias("n_tokens"),
        "n_bpe_tokens",
        F.expr(
            "round(length(array_join(toks, '')) / cast(size(toks) as double), 6)"
        ).alias("avg_token_len"),
    )


def token_stats_oracle() -> str:
    return f"""
        SELECT doc_id,
               len({DUCK_TOKS}) AS n_tokens,
               len(regexp_extract_all(text, {_BPE_DUCK})) AS n_bpe_tokens,
               round(list_sum(list_transform({DUCK_TOKS}, x -> length(x)))
                     / CAST(len({DUCK_TOKS}) AS DOUBLE), 6) AS avg_token_len
        FROM documents
    """


def quality_score(docs: DataFrame) -> DataFrame:
    """Heuristic quality score in [0,1] from stopword ratio, punct
    ratio, and short-token ratio — the standard cheap pre-filters for
    LLM corpus curation.

    Per-token sums run as explode → one codegen hash-agg pass keyed by
    doc (per-doc scalars ride along as grouping keys), avoiding
    interpreted ``aggregate()`` lambdas re-walking the token array per
    output column."""
    # Per-doc scalars must be staged in their own select BELOW the
    # explode: a select mixing a generator with computed expressions
    # resolves to Project(exprs) ABOVE Generate, re-evaluating the
    # regexp once per token row instead of once per document.
    staged = docs.select(
        "doc_id",
        "text",
        F.expr("cast(length(text) as double)").alias("n_chars_d"),
        F.expr(r"regexp_count(text, '[^A-Za-z0-9\\s]')").alias("punct_n"),
    )
    tok = staged.select(
        "doc_id", "n_chars_d", "punct_n", F.explode(F.expr(SPARK_TOKS)).alias("x")
    )
    agg = tok.groupBy("doc_id", "n_chars_d", "punct_n").agg(
        F.count("*").alias("n_toks"),
        F.sum(F.expr(_in_list_sql("x", STOPWORDS["en"]))).alias("stop_n"),
        F.sum(F.expr("CASE WHEN length(x) <= 2 THEN 1 ELSE 0 END")).alias("short_n"),
    )
    return agg.select(
        "doc_id",
        F.expr("round(stop_n / cast(n_toks as double), 6)").alias("stopword_ratio"),
        F.expr("round(punct_n / n_chars_d, 6)").alias("punct_ratio"),
        F.expr("round(short_n / cast(n_toks as double), 6)").alias("short_token_ratio"),
        F.expr(
            "round(0.5 * least(stop_n / cast(n_toks as double) * 5.0, 1.0)"
            " + 0.3 * (1.0 - punct_n / n_chars_d)"
            " + 0.2 * (1.0 - short_n / cast(n_toks as double)), 6)"
        ).alias("quality"),
    )


def quality_score_oracle() -> str:
    toks = DUCK_TOKS
    stop_sum = f"list_sum(list_transform({toks}, x -> ({_in_list_sql('x', STOPWORDS['en'])})))"
    short_sum = f"list_sum(list_transform({toks}, x -> (CASE WHEN length(x) <= 2 THEN 1 ELSE 0 END)))"
    punct = r"len(regexp_extract_all(text, '[^A-Za-z0-9\s]'))"
    return f"""
        SELECT doc_id,
               round({stop_sum} / CAST(len({toks}) AS DOUBLE), 6) AS stopword_ratio,
               round({punct} / CAST(length(text) AS DOUBLE), 6) AS punct_ratio,
               round({short_sum} / CAST(len({toks}) AS DOUBLE), 6) AS short_token_ratio,
               round(0.5 * least({stop_sum} / CAST(len({toks}) AS DOUBLE) * 5.0, 1.0)
                     + 0.3 * (1.0 - {punct} / CAST(length(text) AS DOUBLE))
                     + 0.2 * (1.0 - {short_sum} / CAST(len({toks}) AS DOUBLE)), 6) AS quality
        FROM documents
    """


def lang_id(docs: DataFrame) -> DataFrame:
    """Stopword-overlap language ID over {en, es, de, fr}; deterministic
    argmax with fixed preference order on ties. One explode +
    codegen hash-agg pass computes all four scores."""
    tok = docs.select(
        "doc_id", F.col("lang"), F.explode(F.expr(SPARK_TOKS)).alias("x")
    )
    agg = tok.groupBy("doc_id", "lang").agg(
        *[
            F.sum(F.expr(_in_list_sql("x", words))).alias(f"score_{lang}")
            for lang, words in STOPWORDS.items()
        ]
    )
    case = (
        "CASE WHEN score_en >= score_es AND score_en >= score_de AND score_en >= score_fr THEN 'en' "
        "WHEN score_es >= score_de AND score_es >= score_fr THEN 'es' "
        "WHEN score_de >= score_fr THEN 'de' ELSE 'fr' END"
    )
    return agg.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        *[F.col(f"score_{lang}") for lang in _LANG_ORDER],
        F.expr(case).alias("pred_lang"),
    )


def lang_id_oracle() -> str:
    toks = DUCK_TOKS
    s = {
        lang: f"list_sum(list_transform({toks}, x -> ({_in_list_sql('x', words)})))"
        for lang, words in STOPWORDS.items()
    }
    # DuckDB list_sum yields DOUBLE; Spark's sum over ints is BIGINT.
    # CAST so the driver's value-hash compares 3 vs 3, not 3 vs 3.0.
    score_cols = ",\n               ".join(
        f"CAST({s[lang]} AS BIGINT) AS score_{lang}" for lang in _LANG_ORDER
    )
    case = (
        f"CASE WHEN {s['en']} >= {s['es']} AND {s['en']} >= {s['de']} AND {s['en']} >= {s['fr']} THEN 'en' "
        f"WHEN {s['es']} >= {s['de']} AND {s['es']} >= {s['fr']} THEN 'es' "
        f"WHEN {s['de']} >= {s['fr']} THEN 'de' ELSE 'fr' END"
    )
    return f"""
        SELECT doc_id, lang AS labeled_lang,
               {score_cols},
               {case} AS pred_lang
        FROM documents
    """


NORM_SPARK = r"regexp_replace(trim(lower(text)), '\\s+', ' ')"
NORM_DUCK = r"regexp_replace(trim(lower(text)), '\s+', ' ', 'g')"


def fingerprint(docs: DataFrame) -> DataFrame:
    """Document fingerprint: md5 of whitespace-normalized lowercase
    text — the exact-dedup key."""
    return docs.select(
        "doc_id",
        F.expr(f"md5({NORM_SPARK})").alias("fingerprint"),
    )


def fingerprint_oracle() -> str:
    return f"SELECT doc_id, md5({NORM_DUCK}) AS fingerprint FROM documents"


WINNOW_K = 8   # k-gram length (chars of normalized text)
WINNOW_W = 10  # winnowing window: one fingerprint per w consecutive grams

_P = 1_000_000_007
_GRAM_HASH_SPARK = (
    f"cast(conv(substring(md5(substring(norm, i, {WINNOW_K})), 1, 15), 16, 10)"
    f" as bigint) % {_P}"
)
_GRAM_HASH_DUCK = (
    f"CAST(('0x' || substring(md5(substring(norm, i, {WINNOW_K})), 1, 15)) AS BIGINT)"
    f" % {_P}"
)


def winnow_fingerprints(docs: DataFrame) -> DataFrame:
    """Winnowing document fingerprints (the MOSS scheme): hash every
    character ``k``-gram of the normalized text, then keep the minimum
    hash of each window of ``w`` consecutive grams — a position-robust
    fingerprint set whose density is ~2/(w+1), the standard local
    substring-dedup signature. Output: one row per distinct
    (doc_id, fp) fingerprint.

    Classic implementations roll the gram hash in O(1) per position;
    here each gram hashes independently (md5 → int64, identical in the
    DuckDB oracle) because the per-position work is already a single
    codegen'd expression over explode(sequence()) rows — Spark's
    scan-parallelism replaces the rolling recurrence. The window min
    is one ``min() OVER (PARTITION BY doc ORDER BY pos ROWS w-1
    PRECEDING)`` — no shuffle beyond the per-document partition."""
    from pyspark.sql.window import Window

    d = docs.select(
        "doc_id", F.expr(NORM_SPARK).alias("norm")
    ).filter(F.expr(f"length(norm) >= {WINNOW_K + WINNOW_W - 1}"))
    grams = d.select(
        "doc_id",
        F.explode(
            F.expr(f"sequence(1, length(norm) - {WINNOW_K - 1})")
        ).alias("i"),
        "norm",
    ).select("doc_id", "i", F.expr(_GRAM_HASH_SPARK).alias("h"))
    w = (
        Window.partitionBy("doc_id")
        .orderBy("i")
        .rowsBetween(-(WINNOW_W - 1), Window.currentRow)
    )
    return (
        grams.withColumn("fp", F.min("h").over(w))
        .filter(F.col("i") >= WINNOW_W)  # full windows only
        .select("doc_id", "fp")
        .distinct()
    )


def winnow_fingerprints_oracle() -> str:
    return f"""
        WITH d AS (
          SELECT doc_id, {NORM_DUCK} AS norm FROM documents
          WHERE length({NORM_DUCK}) >= {WINNOW_K + WINNOW_W - 1}
        ),
        hs AS (
          SELECT doc_id,
                 list_transform(generate_series(1, length(norm) - {WINNOW_K - 1}),
                                i -> {_GRAM_HASH_DUCK}) AS hl
          FROM d
        )
        SELECT DISTINCT doc_id,
               unnest(list_transform(generate_series({WINNOW_W}, len(hl)),
                                     j -> list_min(hl[j - {WINNOW_W - 1}:j]))) AS fp
        FROM hs
    """


def unigram_logprob(docs: DataFrame) -> DataFrame:
    """Unigram-surprisal quality signal: per document, the mean and max
    token surprisal ``-ln(count(token)/total_tokens)`` under the
    corpus's OWN unigram distribution — the cheap stand-in for a
    perplexity filter (degenerate text scores low surprisal, rare-token
    noise scores high).

    Two aggregation passes over token rows: global unigram counts
    (hash agg on the token), then a shuffle equi-join of token
    occurrences against those counts and a per-doc agg. The corpus
    total rides in as a one-ROW frame via a broadcast cross join —
    O(1) payload, legitimately broadcast at any corpus size (unlike
    per-document frames, which are never hinted)."""
    rows = checkpointed(
        docs.select("doc_id", F.explode(F.expr(SPARK_TOKS)).alias("x"))
    )
    counts = rows.groupBy("x").agg(F.count("*").alias("n_x"))
    total = counts.agg(F.sum("n_x").alias("n_total"))
    probs = counts.crossJoin(F.broadcast(total)).select(
        "x", F.expr("-ln(n_x / cast(n_total as double))").alias("surprisal")
    )
    return (
        rows.join(probs, "x")
        .groupBy("doc_id")
        .agg(
            F.expr("round(avg(surprisal), 6)").alias("avg_surprisal"),
            F.expr("round(max(surprisal), 6)").alias("max_surprisal"),
            F.count("*").alias("n_tokens"),
        )
    )


def bigram_logprob(docs: DataFrame) -> DataFrame:
    """Bigram conditional-surprisal quality signal (the CCNet-style
    LM-filter shape one rung up from :func:`unigram_logprob`): per
    document, mean and max of ``-ln(count(x1,x2)/count(x1 as prefix))``
    under the corpus's OWN bigram distribution. Degenerate repeated
    text scores near-zero surprisal; incoherent token soup scores
    high — the separating statistic a real perplexity filter uses,
    with the corpus itself as the LM.

    Scale shape: token rows explode once and materialize; bigrams are
    a positional self-join on (doc_id, pos+1) — an equi-join that
    shuffles on doc_id, never a window over the whole corpus; the two
    count tables are hash aggs keyed on the (high-cardinality) token
    and token-pair; scoring re-joins occurrences against the pair
    counts. Conditional probabilities divide two counts from the SAME
    aggregation tree, so both engines compute identical doubles before
    the round(6)."""
    toks = checkpointed(
        docs.select(
            "doc_id", F.posexplode(F.expr(SPARK_TOKS)).alias("pos", "x")
        )
    )
    nxt = toks.select(
        "doc_id", (F.col("pos") - 1).alias("pos"), F.col("x").alias("x2")
    )
    pairs = checkpointed(
        toks.join(nxt, ["doc_id", "pos"]).select("doc_id", "x", "x2")
    )
    pair_n = pairs.groupBy("x", "x2").agg(F.count("*").alias("n_xy"))
    ctx_n = pairs.groupBy("x").agg(F.count("*").alias("n_x"))
    scored = pair_n.join(ctx_n, "x").select(
        "x", "x2",
        F.expr("-ln(n_xy / cast(n_x as double))").alias("surprisal"),
    )
    return (
        pairs.join(scored, ["x", "x2"])
        .groupBy("doc_id")
        .agg(
            F.expr("round(avg(surprisal), 6)").alias("avg_surprisal"),
            F.expr("round(max(surprisal), 6)").alias("max_surprisal"),
            F.count("*").alias("n_bigrams"),
        )
    )


def bigram_logprob_oracle() -> str:
    return f"""
        WITH toks AS (
          SELECT doc_id, generate_subscripts(l, 1) AS pos, unnest(l) AS x
          FROM (SELECT doc_id, {DUCK_TOKS} AS l FROM documents)
        ),
        pairs AS (
          SELECT a.doc_id, a.x, b.x AS x2
          FROM toks a JOIN toks b
            ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
        ),
        pair_n AS (
          SELECT x, x2, count(*) AS n_xy FROM pairs GROUP BY x, x2
        ),
        ctx_n AS (
          SELECT x, count(*) AS n_x FROM pairs GROUP BY x
        ),
        scored AS (
          SELECT p.x, p.x2, -ln(p.n_xy / CAST(c.n_x AS DOUBLE)) AS surprisal
          FROM pair_n p JOIN ctx_n c ON p.x = c.x
        )
        SELECT pr.doc_id,
               round(avg(s.surprisal), 6) AS avg_surprisal,
               round(max(s.surprisal), 6) AS max_surprisal,
               count(*) AS n_bigrams
        FROM pairs pr JOIN scored s ON pr.x = s.x AND pr.x2 = s.x2
        GROUP BY pr.doc_id
    """


def unigram_logprob_oracle() -> str:
    return f"""
        WITH rows_t AS (
          SELECT doc_id, unnest({DUCK_TOKS}) AS x FROM documents
        ),
        counts AS (
          SELECT x, count(*) AS n_x FROM rows_t GROUP BY x
        ),
        probs AS (
          SELECT x, -ln(n_x / CAST((SELECT sum(n_x) FROM counts) AS DOUBLE))
                   AS surprisal
          FROM counts
        )
        SELECT r.doc_id,
               round(avg(p.surprisal), 6) AS avg_surprisal,
               round(max(p.surprisal), 6) AS max_surprisal,
               count(*) AS n_tokens
        FROM rows_t r JOIN probs p ON r.x = p.x
        GROUP BY r.doc_id
    """

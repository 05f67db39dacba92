"""Event-sequence analytics: ordered funnels and retention cohorts.
(Beyond-reference scope — SURVEY.md §7 phase 4. The reference's host
engine expresses these as Siddhi pattern/sequence queries over the
event stream — e.g. ``from every e1=views -> e2=clicks[...] within
1 day`` — built on the same per-key state the unique windows keep,
UniqueEverWindowProcessor.java:84-93; here each step is a keyed
aggregation + equi-join, the shape that distributes.)

Scale design: every stage is a hash aggregation or an equi-join on
``user_id`` — no window over a low-cardinality partition, no range
join, no per-user driver loop. A funnel of S steps is S hash-aggs
chained by S-1 user-keyed joins (each join's right side is the
previous step's one-row-per-user frame, which only ever SHRINKS), so
the 1000-executor plan is a fixed pipeline of shuffles on the highest
-cardinality key available. Cohort retention is two aggregations
separated by one user-keyed join. Timestamps ride as ``unix_millis``
bigints (exact in both engines; DuckDB mirror is ``epoch_ms``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from siddhi_execution_unique_spark.functions.text import (
    checkpointed as _checkpointed,
)
from pyspark.sql.window import Window

HOUR_MS = 3_600_000
DAY_MS = 24 * HOUR_MS

FUNNEL_STEPS = ("view", "click", "purchase")


def funnel(
    events: DataFrame,
    steps: tuple[str, ...] = FUNNEL_STEPS,
    step_window_ms: int = DAY_MS,
    _truncate: bool = True,
) -> DataFrame:
    """Ordered funnel: for each user, the earliest completion time of
    each step, where step *i+1* must occur strictly AFTER the user's
    step-*i* completion and within ``step_window_ms`` of it. Emits one
    row per user who completed step 1:
    ``(user_id, step_reached, t1_ms .. tS_ms)`` with ``-1`` for
    unreached steps, plus the greedy-earliest semantics every funnel
    engine documents (each step anchors at the EARLIEST valid time, so
    the chain is deterministic; a later step-1 event is never
    revisited even if it would enable a longer chain).

    Scale shape: step 1 is one hash agg over the filtered event scan;
    each later step filters the corpus to one event type, joins it to
    the previous per-user frame (equi-join on user_id — at most one
    row per user on the build side), and hash-aggs the min qualifying
    timestamp. S steps = S aggregations + S-1 joins, all keyed on
    user_id; nothing materializes more than one row per user per step.
    Each step's accumulated frame is lazily local-checkpointed (r14):
    ``acc`` is referenced twice per iteration (the step join and the
    outer left join), and without truncation Spark re-executes the
    whole earlier chain per reference — 2^(S-1) copies of step 1's
    aggregation in the worst case. The stored frame is at most one
    row per converting user — the same size-bounded trade the SiddhiQL
    join lowerings make with their lazy ``_checkpointed`` artifacts.
    """
    if len(steps) < 2:
        raise ValueError(f"funnel needs >= 2 steps, got {len(steps)}")
    if step_window_ms <= 0:
        raise ValueError(f"funnel needs step_window_ms > 0, got {step_window_ms}")
    ev = events.select(
        "user_id", "event_type", F.unix_millis("ts").alias("ts_ms")
    )
    cur = (
        ev.filter(F.col("event_type") == steps[0])
        .groupBy("user_id")
        .agg(F.min("ts_ms").alias("t1_ms"))
    )
    acc = cur
    for i, step in enumerate(steps[1:], start=2):
        prev_col = f"t{i - 1}_ms"
        nxt = (
            ev.filter(F.col("event_type") == step)
            .join(acc.select("user_id", prev_col), "user_id")
            .filter(
                (F.col("ts_ms") > F.col(prev_col))
                & (F.col("ts_ms") <= F.col(prev_col) + F.lit(step_window_ms))
            )
            .groupBy("user_id")
            .agg(F.min("ts_ms").alias(f"t{i}_ms"))
        )
        acc = acc.join(nxt, "user_id", "left")
        if _truncate:
            # chain truncation; ``_truncate=False`` exists so the plan
            # test can pin the un-truncated chain's shape
            acc = _checkpointed(acc, eager=False)
    reached = sum(
        F.when(F.col(f"t{i}_ms").isNotNull(), 1).otherwise(0)
        for i in range(2, len(steps) + 1)
    ) + F.lit(1)
    out_cols = [F.coalesce(F.col(f"t{i}_ms"), F.lit(-1)).alias(f"t{i}_ms")
                for i in range(1, len(steps) + 1)]
    return acc.select("user_id", reached.alias("step_reached"), *out_cols)


def funnel_oracle(
    steps: tuple[str, ...] = FUNNEL_STEPS, step_window_ms: int = DAY_MS
) -> str:
    ctes = [
        f"""s1 AS (
          SELECT user_id, min(epoch_ms(ts)) AS t1_ms
          FROM events WHERE event_type = '{steps[0]}' GROUP BY user_id
        )"""
    ]
    for i, step in enumerate(steps[1:], start=2):
        ctes.append(
            f"""s{i} AS (
          SELECT e.user_id, min(epoch_ms(e.ts)) AS t{i}_ms
          FROM events e JOIN s{i - 1} p ON e.user_id = p.user_id
          WHERE e.event_type = '{step}'
            AND epoch_ms(e.ts) > p.t{i - 1}_ms
            AND epoch_ms(e.ts) <= p.t{i - 1}_ms + {step_window_ms}
          GROUP BY e.user_id
        )"""
        )
    n = len(steps)
    reach = " + ".join(
        f"CASE WHEN s{i}.t{i}_ms IS NOT NULL THEN 1 ELSE 0 END" for i in range(2, n + 1)
    )
    sel = ", ".join(
        f"coalesce(s{i}.t{i}_ms, -1) AS t{i}_ms" for i in range(1, n + 1)
    )
    joins = " ".join(
        f"LEFT JOIN s{i} ON s1.user_id = s{i}.user_id" for i in range(2, n + 1)
    )
    return f"""
        WITH {", ".join(ctes)}
        SELECT s1.user_id, 1 + {reach} AS step_reached, {sel}
        FROM s1 {joins}
    """


def retention_cohorts(events: DataFrame) -> DataFrame:
    """Classic cohort retention: users grouped by first-seen DAY, then
    for every later activity day the count of that cohort still
    active. Output ``(cohort_day, day_offset, n_users)`` where
    ``cohort_day`` is days since epoch (exact int in both engines) and
    ``day_offset >= 0``.

    Scale shape: first-seen is one hash agg on user_id; activity days
    are one DISTINCT (user_id, day) projection (partial-agg shuffle);
    the join is user-keyed with a one-row-per-user build side; the
    final agg is on (cohort_day, offset) — bounded by days², not by
    users. Four codegen stages, two shuffles on user_id, one on the
    tiny day-pair key."""
    days = (
        events.select(
            "user_id",
            (F.unix_millis("ts") / F.lit(DAY_MS)).cast("bigint").alias("day"),
        )
        .distinct()
    )
    first = days.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    return (
        days.join(first, "user_id")
        .groupBy(
            "cohort_day", (F.col("day") - F.col("cohort_day")).alias("day_offset")
        )
        .agg(F.count("*").alias("n_users"))
    )


def retention_cohorts_oracle() -> str:
    return f"""
        WITH days_t AS (
          SELECT DISTINCT user_id, epoch_ms(ts) // {DAY_MS} AS day FROM events
        ),
        first_t AS (
          SELECT user_id, min(day) AS cohort_day FROM days_t GROUP BY user_id
        )
        SELECT f.cohort_day, d.day - f.cohort_day AS day_offset,
               count(*) AS n_users
        FROM days_t d JOIN first_t f ON d.user_id = f.user_id
        GROUP BY f.cohort_day, d.day - f.cohort_day
    """


def absence(
    events: DataFrame,
    first: str = "error",
    absent: str = "purchase",
    window_ms: int = HOUR_MS,
) -> DataFrame:
    """Absence pattern (Siddhi's ``from e1=errors -> not purchases
    for 1 hour`` negation pattern): every ``first`` event with NO
    ``absent`` event from the same user in the following
    ``window_ms``. The churn-detection shape. Output: the unmatched
    ``first`` events as (event_id, user_id, ts_ms).

    Scale shape — the banded trailing-range anti-join: a time-range
    inequality join would nested-loop, so each ``first`` event
    explodes to its two covering window-size buckets and matches are
    found with an EQUI-join on (user_id, bucket) + a post-filter on
    the exact range; the absence set is then one LEFT ANTI join of
    the first events against the matched ids. Fanout is exactly 2×
    the first-event count, the join keys are high-cardinality
    (user × bucket), and no stage holds more than a bucket's events.
    Same banding as `asof.clicks_before_purchase`; anti-join instead
    of aggregation."""
    if window_ms <= 0:
        raise ValueError(f"absence needs window_ms > 0, got {window_ms}")
    if first == absent:
        raise ValueError("absence needs distinct first/absent event types")
    ev = events.select(
        "event_id", "user_id", "event_type", F.unix_millis("ts").alias("ts_ms")
    )
    firsts = ev.filter(F.col("event_type") == first).select(
        "event_id", "user_id", "ts_ms"
    )
    banded = firsts.select(
        "event_id", "user_id", "ts_ms",
        F.explode(
            F.expr(f"array(ts_ms div {window_ms}, ts_ms div {window_ms} + 1)")
        ).alias("bucket"),
    )
    absents = ev.filter(F.col("event_type") == absent).select(
        "user_id",
        F.col("ts_ms").alias("a_ms"),
        F.expr(f"ts_ms div {window_ms}").alias("bucket"),
    )
    matched = (
        banded.join(absents, ["user_id", "bucket"])
        .filter(
            (F.col("a_ms") > F.col("ts_ms"))
            & (F.col("a_ms") <= F.col("ts_ms") + F.lit(window_ms))
        )
        .select("event_id")
        .distinct()
    )
    return firsts.join(matched, "event_id", "left_anti")


def absence_oracle(
    first: str = "error", absent: str = "purchase", window_ms: int = HOUR_MS
) -> str:
    return f"""
        SELECT event_id, user_id, epoch_ms(ts) AS ts_ms
        FROM events e
        WHERE event_type = '{first}'
          AND NOT EXISTS (
            SELECT 1 FROM events p
            WHERE p.event_type = '{absent}'
              AND p.user_id = e.user_id
              AND epoch_ms(p.ts) > epoch_ms(e.ts)
              AND epoch_ms(p.ts) <= epoch_ms(e.ts) + {window_ms}
          )
    """


def transition_matrix(events: DataFrame) -> DataFrame:
    """First-order Markov transitions between event types: for every
    consecutive same-user event pair (by event time, event_id
    tiebreak), the count and conditional probability of each
    (from_type, to_type) edge. Output: (from_type, to_type,
    n_transitions, prob) — the user-journey fingerprint that feeds
    next-event prediction and anomaly detection.

    Scale shape: the only per-event stage is ``lead()`` over a window
    partitioned by user_id — HIGH-cardinality (users grow with the
    corpus), so partitions stay bounded by per-user activity, the
    acceptable window kind (same argument as `sessions.sessionize`).
    Then two tiny hash aggs (types × types cells). The probability
    divides two counts from the same tree — IEEE-exact both engines.
    """
    w = Window.partitionBy("user_id").orderBy("ts_ms", "event_id")
    pairs = (
        events.select(
            "user_id", "event_id", "event_type",
            F.unix_millis("ts").alias("ts_ms"),
        )
        .withColumn("to_type", F.lead("event_type").over(w))
        .filter(F.col("to_type").isNotNull())
    )
    counts = pairs.groupBy(
        F.col("event_type").alias("from_type"), "to_type"
    ).agg(F.count("*").alias("n_transitions"))
    totals = counts.groupBy("from_type").agg(
        F.sum("n_transitions").alias("n_total")
    )
    return counts.join(totals, "from_type").select(
        "from_type", "to_type", "n_transitions",
        F.expr("round(n_transitions / cast(n_total as double), 6)").alias("prob"),
    )


def transition_matrix_oracle() -> str:
    return """
        WITH pairs AS (
          SELECT event_type AS from_type,
                 lead(event_type) OVER (PARTITION BY user_id
                                        ORDER BY epoch_ms(ts), event_id) AS to_type
          FROM events
        ),
        counts AS (
          SELECT from_type, to_type, count(*) AS n_transitions
          FROM pairs WHERE to_type IS NOT NULL
          GROUP BY from_type, to_type
        ),
        totals AS (
          SELECT from_type, CAST(sum(n_transitions) AS BIGINT) AS n_total
          FROM counts GROUP BY from_type
        )
        SELECT c.from_type, c.to_type, c.n_transitions,
               round(c.n_transitions / CAST(t.n_total AS DOUBLE), 6) AS prob
        FROM counts c JOIN totals t ON c.from_type = t.from_type
    """


def scd2_intervals(orders: DataFrame) -> DataFrame:
    """Changelog → slowly-changing-dimension (SCD2) intervals: collapse
    each customer's order-status history into maximal runs of equal
    status (gaps-and-islands), each with its validity interval — the
    standard warehouse historization every large pipeline materializes
    from an event log. Output: (o_custkey, run_seq, o_orderstatus,
    valid_from_ms, valid_to_ms, n_orders); an open run has
    valid_to_ms = -1.

    Scale shape: both windows partition by ``o_custkey`` — HIGH
    cardinality, partitions bounded by per-customer history — and the
    run aggregation is a hash agg on (custkey, run). One shuffle on
    custkey serves the change-flag window, the running-sum run-id, the
    per-run agg AND the lead() that closes intervals (same
    partitioning throughout, Catalyst reuses the exchange). The
    run-id is the classic ``sum(status != lag(status)) over`` island
    encoding — no self-join, no per-key iteration."""
    w = Window.partitionBy("o_custkey").orderBy("ts_ms", "o_orderkey")
    base = orders.select(
        "o_custkey", "o_orderkey", "o_orderstatus",
        F.unix_millis("o_orderdate").alias("ts_ms"),
    )
    flagged = base.withColumn(
        "chg",
        F.when(
            F.col("o_orderstatus") == F.lag("o_orderstatus").over(w), 0
        ).otherwise(1),
    )
    runs = flagged.withColumn(
        "run_seq",
        F.sum("chg").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    agg = runs.groupBy("o_custkey", "run_seq", "o_orderstatus").agg(
        F.min("ts_ms").alias("valid_from_ms"),
        F.count("*").alias("n_orders"),
    )
    w2 = Window.partitionBy("o_custkey").orderBy("run_seq")
    return agg.select(
        "o_custkey", "run_seq", "o_orderstatus", "valid_from_ms",
        F.coalesce(
            F.lead("valid_from_ms").over(w2), F.lit(-1)
        ).alias("valid_to_ms"),
        "n_orders",
    )


def scd2_intervals_oracle() -> str:
    return """
        WITH base AS (
          SELECT o_custkey, o_orderkey, o_orderstatus,
                 epoch_ms(o_orderdate) AS ts_ms
          FROM orders
        ),
        flagged AS (
          SELECT *, CASE WHEN o_orderstatus = lag(o_orderstatus)
                              OVER (PARTITION BY o_custkey ORDER BY ts_ms, o_orderkey)
                         THEN 0 ELSE 1 END AS chg
          FROM base
        ),
        runs AS (
          SELECT *, CAST(sum(chg) OVER (PARTITION BY o_custkey
                                        ORDER BY ts_ms, o_orderkey
                                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS run_seq
          FROM flagged
        ),
        agg AS (
          SELECT o_custkey, run_seq, o_orderstatus,
                 min(ts_ms) AS valid_from_ms, count(*) AS n_orders
          FROM runs GROUP BY o_custkey, run_seq, o_orderstatus
        )
        SELECT o_custkey, run_seq, o_orderstatus, valid_from_ms,
               coalesce(lead(valid_from_ms)
                          OVER (PARTITION BY o_custkey ORDER BY run_seq),
                        -1) AS valid_to_ms,
               n_orders
        FROM agg
    """


GAP_FILL_COHORT = 50  # users probed by the gap-fill entry


def gap_fill_locf(events: DataFrame, cohort: int = GAP_FILL_COHORT) -> DataFrame:
    """Regularized per-user hourly time series with gap fill +
    last-observation-carried-forward — the TimescaleDB
    ``time_bucket_gapfill + locf`` shape a metrics pipeline runs
    before any rolling statistic (irregular event streams must become
    dense grids first). For each user in the probe cohort
    (``user_id < cohort``), every hour between that user's first and
    last event exists in the output; hours with no events carry the
    previous hour's max value. Output: (user_id, hb, n_events,
    v_filled, is_gap) — ``hb`` = epoch hour, ``v_filled`` the
    carried-forward hourly max (max, not sum: order-independent on
    doubles, so the driver hash is exact).

    Scale shape: the hourly agg is one map-side-combined shuffle on
    (user_id, hb); the dense grid explodes ``sequence(min_hb,
    max_hb)`` PER USER — output volume is the sum of per-user spans,
    which is the op's inherent output size, not overhead — and LOCF
    is one ``last(ignoreNulls)`` running window partitioned by the
    high-cardinality user_id (each partition = one user's grid, never
    the corpus). No self-joins, no low-cardinality windows."""
    if cohort < 1:
        raise ValueError(f"gap_fill_locf needs cohort >= 1, got {cohort}")
    hourly = (
        events.filter(F.col("user_id") < cohort)
        .select(
            "user_id",
            F.expr(f"unix_millis(ts) div {HOUR_MS}").alias("hb"),
            "value",
        )
        .groupBy("user_id", "hb")
        .agg(F.count("*").alias("n_events"), F.max("value").alias("v"))
    )
    spans = hourly.groupBy("user_id").agg(
        F.min("hb").alias("h0"), F.max("hb").alias("h1")
    )
    grid = spans.select(
        "user_id", F.explode(F.expr("sequence(h0, h1)")).alias("hb")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("hb")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        grid.join(hourly, ["user_id", "hb"], "left")
        .select(
            "user_id", "hb",
            F.coalesce(F.col("n_events"), F.lit(0)).alias("n_events"),
            F.last("v", ignorenulls=True).over(w).alias("v_filled"),
            F.col("v").isNull().cast("int").alias("is_gap"),
        )
    )


def gap_fill_locf_oracle(cohort: int = GAP_FILL_COHORT) -> str:
    return f"""
        WITH hourly AS (
          SELECT user_id,
                 CAST(epoch_ms(ts) AS BIGINT) // {HOUR_MS} AS hb,
                 count(*) AS n_events, max(value) AS v
          FROM events WHERE user_id < {cohort}
          GROUP BY user_id, 2
        ),
        spans AS (
          SELECT user_id, min(hb) AS h0, max(hb) AS h1
          FROM hourly GROUP BY user_id
        ),
        grid AS (
          SELECT user_id, unnest(generate_series(h0, h1)) AS hb FROM spans
        )
        SELECT g.user_id, g.hb,
               COALESCE(h.n_events, 0) AS n_events,
               last_value(h.v IGNORE NULLS) OVER (
                 PARTITION BY g.user_id ORDER BY g.hb
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS v_filled,
               CAST(h.v IS NULL AS INT) AS is_gap
        FROM grid g LEFT JOIN hourly h
          ON g.user_id = h.user_id AND g.hb = h.hb
    """


ANOMALY_HIST = 24     # trailing hourly points per user
ANOMALY_MIN_N = 8     # minimum history before flagging
ANOMALY_Q = 1000      # fixed-point quantization of event values


def hourly_anomalies(
    events: DataFrame,
    cohort: int = GAP_FILL_COHORT,
    hist: int = ANOMALY_HIST,
    min_n: int = ANOMALY_MIN_N,
) -> DataFrame:
    """Trailing-window anomaly detection over per-user hourly value
    sums — the 3-sigma rule every metrics monitor runs, made
    cross-engine EXACT: with quantized per-hour sums x and trailing
    sums S = Σxᵢ, SS = Σxᵢ², the flag ``(x-μ)² > 9σ²`` rewrites as

        (n·x − S)² > 9·(n·SS − S²)

    — pure int64 algebra, no division, no sqrt, no doubles anywhere,
    so the driver hash can pin the FLAG itself, not a rounded proxy.
    Output: (user_id, hb, metric_q, n_hist, is_anomaly) for cohort
    users' active hours with at least ``min_n`` trailing points.

    Scale shape: the hourly rollup is one map-side-combined shuffle
    on (user_id, hb); the trailing S/SS/n ride ONE window pass
    partitioned by the high-cardinality user_id (rows between
    -hist and -1). Magnitudes: q ≤ 1e6 per event, hourly sums ≤ ~1e8,
    squares ≤ 1e16, n·SS ≤ 2.4e17 — inside int64 with 38× headroom."""
    if cohort < 1 or hist < 2 or min_n < 2:
        raise ValueError(
            f"hourly_anomalies needs cohort >= 1, hist >= 2, min_n >= 2; "
            f"got cohort={cohort}, hist={hist}, min_n={min_n}"
        )
    hourly = (
        events.filter(F.col("user_id") < cohort)
        .select(
            "user_id",
            F.expr(f"unix_millis(ts) div {HOUR_MS}").alias("hb"),
            F.expr(f"cast(floor(value * {ANOMALY_Q}) as bigint)").alias("q"),
        )
        .groupBy("user_id", "hb")
        .agg(F.sum("q").alias("x"))
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("hb")
        .rowsBetween(-hist, -1)
    )
    return (
        hourly.select(
            "user_id", "hb", F.col("x").alias("metric_q"),
            F.count("x").over(w).alias("n_hist"),
            F.sum("x").over(w).alias("s"),
            F.sum(F.col("x") * F.col("x")).over(w).alias("ss"),
        )
        .filter(F.col("n_hist") >= min_n)
        .select(
            "user_id", "hb", "metric_q", "n_hist",
            F.expr(
                "cast((n_hist * metric_q - s) * (n_hist * metric_q - s)"
                " > 9 * (n_hist * ss - s * s) as int)"
            ).alias("is_anomaly"),
        )
    )


def hourly_anomalies_oracle(
    cohort: int = GAP_FILL_COHORT,
    hist: int = ANOMALY_HIST,
    min_n: int = ANOMALY_MIN_N,
) -> str:
    return f"""
        WITH hourly AS (
          SELECT user_id,
                 CAST(epoch_ms(ts) AS BIGINT) // {HOUR_MS} AS hb,
                 CAST(sum(CAST(floor(value * {ANOMALY_Q}) AS BIGINT)) AS BIGINT) AS x
          FROM events WHERE user_id < {cohort}
          GROUP BY user_id, 2
        ),
        stats AS (
          SELECT user_id, hb, x AS metric_q,
                 count(x) OVER tw AS n_hist,
                 CAST(sum(x) OVER tw AS BIGINT) AS s,
                 CAST(sum(x * x) OVER tw AS BIGINT) AS ss
          FROM hourly
          WINDOW tw AS (PARTITION BY user_id ORDER BY hb
                        ROWS BETWEEN {hist} PRECEDING AND 1 PRECEDING)
        )
        SELECT user_id, hb, metric_q, n_hist,
               CAST((n_hist * metric_q - s) * (n_hist * metric_q - s)
                    > 9 * (n_hist * ss - s * s) AS INT) AS is_anomaly
        FROM stats WHERE n_hist >= {min_n}
    """


def funnel_latency(
    events: DataFrame,
    steps: tuple[str, ...] = FUNNEL_STEPS,
    step_window_ms: int = DAY_MS,
) -> DataFrame:
    """Step-to-step conversion latency distribution over the funnel —
    the "how long do users take to click after viewing" histogram a
    product pipeline reads next to the conversion counts. Buckets are
    powers of two of the latency in ms (``bucket = bit_length(ms)``,
    the same ``length(bin())`` integer-log2 both engines share via
    the HLL rho identity), so no transcendentals. Output:
    (step_pair, bucket, n_users, min_ms, max_ms).

    Scale shape: composes :func:`funnel` (S keyed aggs + joins, one
    row per converting user) and adds one tiny hash agg on
    (step_pair, bucket) — at most S-1 rows per user enter it. The
    step pairs MELT out of the funnel row via one explode (r14, guide
    §2.4): the previous union-of-filtered-projections shape
    re-executed the whole funnel chain once per branch — Spark does
    not reuse exchanges across union branches — which showed as S-1
    copies of every funnel scan and aggregation in the plan (10
    parquet scans for 4 steps; now 4, funnel's own one-per-step)."""
    base = funnel(events, steps, step_window_ms)
    pair_structs = F.array(*[
        F.struct(
            F.lit(f"{steps[i - 1]}->{steps[i]}").alias("step_pair"),
            F.col(f"t{i}_ms").alias("t0"),
            F.col(f"t{i + 1}_ms").alias("t1"),
        )
        for i in range(1, len(steps))
    ])
    lat = (
        base.select(F.explode(pair_structs).alias("p"))
        .filter((F.col("p.t0") >= 0) & (F.col("p.t1") >= 0))
        .select(
            F.col("p.step_pair").alias("step_pair"),
            (F.col("p.t1") - F.col("p.t0")).alias("lat_ms"),
        )
    )
    return (
        lat.select(
            "step_pair", "lat_ms",
            F.expr("length(bin(lat_ms))").alias("bucket"),
        )
        .groupBy("step_pair", "bucket")
        .agg(
            F.count("*").alias("n_users"),
            F.min("lat_ms").alias("min_ms"),
            F.max("lat_ms").alias("max_ms"),
        )
    )


def funnel_latency_oracle(
    steps: tuple[str, ...] = FUNNEL_STEPS, step_window_ms: int = DAY_MS
) -> str:
    branches = " UNION ALL ".join(
        f"""SELECT '{steps[i - 1]}->{steps[i]}' AS step_pair,
                   t{i + 1}_ms - t{i}_ms AS lat_ms
            FROM f WHERE t{i}_ms >= 0 AND t{i + 1}_ms >= 0"""
        for i in range(1, len(steps))
    )
    return f"""
        WITH f AS ({funnel_oracle(steps, step_window_ms)}),
        lat AS ({branches})
        SELECT step_pair, length(bin(lat_ms)) AS bucket,
               count(*) AS n_users,
               min(lat_ms) AS min_ms, max(lat_ms) AS max_ms
        FROM lat
        GROUP BY step_pair, bucket
    """


def json_props_stats(events: DataFrame) -> DataFrame:
    """Schema-on-read over the semi-structured ``props`` JSON column —
    the host-engine surface Siddhi exposes via its json extension and
    every event pipeline needs: parse ``{"k": <int>}`` at scan time,
    then aggregate the extracted field per (event_type, k-decade
    bucket). Output: (event_type, k_bucket, n, sum_k, n_bad) —
    ``n_bad`` counts rows whose props did NOT yield an integer k
    (malformed JSON must be COUNTED, never silently dropped; at
    100 TB a 0.1% parse-failure spike is an upstream incident).

    Scale shape: ``from_json`` with an explicit schema is a row-local
    JVM projection (no Python, no inference pass — inference would
    scan the corpus twice, the same argument as ``load_path``); the
    rollup is one map-side-combined hash agg on the (type, bucket)
    pair. Malformed rows keep their row (null k) so the count stays
    one pass."""
    parsed = events.select(
        "event_type",
        F.from_json("props", "k bigint").getField("k").alias("k"),
    )
    return (
        parsed.select(
            "event_type",
            F.expr("coalesce(k div 10, -1)").alias("k_bucket"),
            F.col("k").isNull().cast("bigint").alias("bad"),
            F.coalesce(F.col("k"), F.lit(0)).alias("kv"),
        )
        .groupBy("event_type", "k_bucket")
        .agg(
            F.count("*").alias("n"),
            F.sum("kv").alias("sum_k"),
            F.sum("bad").alias("n_bad"),
        )
    )


def json_props_stats_oracle() -> str:
    return """
        WITH parsed AS (
          SELECT event_type,
                 TRY_CAST(TRY_CAST(props AS JSON)->>'k' AS BIGINT) AS k
          FROM events
        )
        SELECT event_type,
               COALESCE(k // 10, -1) AS k_bucket,
               count(*) AS n,
               CAST(sum(COALESCE(k, 0)) AS BIGINT) AS sum_k,
               CAST(sum(CASE WHEN k IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_bad
        FROM parsed
        GROUP BY event_type, COALESCE(k // 10, -1)
    """


TREND_Q = 1000  # fixed-point value quantization for the trend sums


def value_trend_by_type(events: DataFrame) -> DataFrame:
    """Per-event-type linear trend (OLS slope/intercept) of event
    value over time — the grouped-regression shape behind drift
    detection and per-segment forecasting, computed from EXACT
    integer sufficient statistics: with t = hours since the corpus
    start and q = floor(value·1000),

        slope = (n·Σtq − Σt·Σq) / (n·Σt² − (Σt)²)

    — numerator and denominator are exact int64 (units chosen so the
    worst case is ~1e14, far inside range), the one division is IEEE
    on identical operands, and the output quantizes to micro-units.
    Output: (event_type, n, slope_micro, intercept_micro).

    Scale shape: ONE map-side-combined aggregation per group computes
    all five sums in a single pass — the textbook "sufficient
    statistics, not data movement" pattern (the same reason
    ``pca_covariance`` ships dim² sums, not vectors). The corpus
    start rides a broadcast 1-row min."""
    t0 = events.agg(F.min(F.expr("unix_millis(ts)")).alias("t0_ms"))
    base = events.crossJoin(F.broadcast(t0)).select(
        "event_type",
        F.expr(f"(unix_millis(ts) - t0_ms) div {HOUR_MS}").alias("t"),
        F.expr(f"cast(floor(value * {TREND_Q}) as bigint)").alias("q"),
    )
    sums = base.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("t").alias("st"),
        F.sum("q").alias("sq"),
        F.sum(F.col("t") * F.col("q")).alias("stq"),
        F.sum(F.col("t") * F.col("t")).alias("stt"),
    )
    num = "(n * stq - st * sq)"
    den = "(n * stt - st * st)"
    return sums.select(
        "event_type", "n",
        F.expr(
            f"case when {den} > 0 then cast(floor(cast({num} as double)"
            f" / cast({den} as double) * 1000000 / {TREND_Q}) as bigint)"
            " else cast(0 as bigint) end"
        ).alias("slope_micro"),
        F.expr(
            f"case when {den} > 0 then cast(floor((cast(sq as double) / n"
            f" - cast({num} as double) / cast({den} as double)"
            f" * cast(st as double) / n) * 1000000 / {TREND_Q}) as bigint)"
            " else cast(0 as bigint) end"
        ).alias("intercept_micro"),
    )


def value_trend_by_type_oracle() -> str:
    num = "(n * stq - st * sq)"
    den = "(n * stt - st * st)"
    return f"""
        WITH t0 AS (
          SELECT min(CAST(epoch_ms(ts) AS BIGINT)) AS t0_ms FROM events
        ),
        base AS (
          SELECT event_type,
                 (CAST(epoch_ms(ts) AS BIGINT) - t0_ms) // {HOUR_MS} AS t,
                 CAST(floor(value * {TREND_Q}) AS BIGINT) AS q
          FROM events CROSS JOIN t0
        ),
        sums AS (
          SELECT event_type, count(*) AS n,
                 CAST(sum(t) AS BIGINT) AS st,
                 CAST(sum(q) AS BIGINT) AS sq,
                 CAST(sum(t * q) AS BIGINT) AS stq,
                 CAST(sum(t * t) AS BIGINT) AS stt
          FROM base GROUP BY event_type
        )
        SELECT event_type, n,
               CASE WHEN {den} > 0 THEN CAST(floor(CAST({num} AS DOUBLE)
                 / CAST({den} AS DOUBLE) * 1000000 / {TREND_Q}) AS BIGINT)
               ELSE CAST(0 AS BIGINT) END AS slope_micro,
               CASE WHEN {den} > 0 THEN CAST(floor((CAST(sq AS DOUBLE) / n
                 - CAST({num} AS DOUBLE) / CAST({den} AS DOUBLE)
                 * CAST(st AS DOUBLE) / n) * 1000000 / {TREND_Q}) AS BIGINT)
               ELSE CAST(0 AS BIGINT) END AS intercept_micro
        FROM sums
    """


CHI2_COHORTS = 8


def chi2_type_vs_cohort(events: DataFrame, cohorts: int = CHI2_COHORTS) -> DataFrame:
    """Chi-square independence scan between event_type and user cohort
    (``user_id % cohorts``) — the segmentation-drift test an A/B or
    data-quality pipeline runs over categorical pairs, chosen over
    the G-test precisely because the statistic is RATIONAL: per cell,

        (n·o − r·c)² / (r·c·n)

    (o observed, r/c row/column totals, n grand total) — exact-int
    numerator, one IEEE division, fixed-point nano-unit floor, exact
    bigint total. No ln/exp anywhere, so the driver hash is stable.
    Output: one row per cohort — (cohort, n_rows, chi2_nano_part) —
    plus exact marginals; the statistic is the sum of the parts.

    Scale shape: the contingency table is ONE map-side-combined agg
    on the (type, cohort) pair (cells bounded by |types|·cohorts);
    marginals and the statistic fold from the cell table, never
    rescanning the corpus."""
    if cohorts < 2:
        raise ValueError(f"chi2 needs >= 2 cohorts, got {cohorts}")
    cells = (
        events.select(
            "event_type", F.expr(f"user_id % {cohorts}").alias("cohort")
        )
        .groupBy("event_type", "cohort")
        .agg(F.count("*").alias("o"))
    )
    rt = cells.groupBy("event_type").agg(F.sum("o").alias("r"))
    ct = cells.groupBy("cohort").agg(F.sum("o").alias("c"))
    n = cells.agg(F.sum("o").alias("n"))
    part = (
        cells.join(rt, "event_type").join(ct, "cohort")
        .crossJoin(F.broadcast(n))
        .select(
            "cohort", "o",
            F.expr(
                "cast(floor(cast((n * o - r * c) as double)"
                " * cast((n * o - r * c) as double)"
                " / (cast(r as double) * cast(c as double) * cast(n as double))"
                " * 1000000000) as bigint)"
            ).alias("p"),
        )
    )
    return part.groupBy("cohort").agg(
        F.sum("o").alias("n_rows"),
        F.sum("p").alias("chi2_nano_part"),
    )


def chi2_type_vs_cohort_oracle(cohorts: int = CHI2_COHORTS) -> str:
    return f"""
        WITH cells AS (
          SELECT event_type, user_id % {cohorts} AS cohort, count(*) AS o
          FROM events GROUP BY event_type, user_id % {cohorts}
        ),
        rt AS (SELECT event_type, CAST(sum(o) AS BIGINT) AS r FROM cells GROUP BY event_type),
        ct AS (SELECT cohort, CAST(sum(o) AS BIGINT) AS c FROM cells GROUP BY cohort),
        nt AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM cells),
        part AS (
          SELECT cells.cohort, o,
                 CAST(floor(CAST((n * o - r * c) AS DOUBLE)
                   * CAST((n * o - r * c) AS DOUBLE)
                   / (CAST(r AS DOUBLE) * CAST(c AS DOUBLE) * CAST(n AS DOUBLE))
                   * 1000000000) AS BIGINT) AS p
          FROM cells JOIN rt USING (event_type) JOIN ct USING (cohort)
          CROSS JOIN nt
        )
        SELECT cohort, CAST(sum(o) AS BIGINT) AS n_rows,
               CAST(sum(p) AS BIGINT) AS chi2_nano_part
        FROM part GROUP BY cohort
    """


def time_weighted_avg(events: DataFrame, cohort: int = GAP_FILL_COHORT) -> DataFrame:
    """Per-user time-weighted average of value — TimescaleDB's
    ``time_weight('LOCF', ...)`` shape: irregular samples must weight
    by how LONG each value held, not how often it was sampled (a
    sensor reporting 1000×/s during a spike would otherwise dominate
    a plain avg). Computed as the exact integer integral

        TWA = Σ qᵢ·(tᵢ₊₁ − tᵢ) / (t_n − t₀)

    with q = floor(value·1000) and millisecond deltas — the numerator
    is an exact int64 sum (the only float op is the final division,
    then a micro-unit floor). Output: (user_id, n_points, span_ms,
    twa_micro) for cohort users with >= 2 events spanning a nonzero
    interval (span_ms = 0 — all samples at one timestamp — would be
    0/0; both engines drop those users rather than diverge on
    NaN-vs-NULL cast behavior).

    Scale shape: one ``lead`` window pass partitioned by the
    high-cardinality user_id, then a per-user hash agg — the same
    single-exchange shape as ``sessionize``."""
    if cohort < 1:
        raise ValueError(f"time_weighted_avg needs cohort >= 1, got {cohort}")
    base = events.filter(F.col("user_id") < cohort).select(
        "user_id",
        F.expr("unix_millis(ts)").alias("t"),
        F.expr(f"cast(floor(value * {ANOMALY_Q}) as bigint)").alias("q"),
        "event_id",
    )
    w = Window.partitionBy("user_id").orderBy("t", "event_id")
    stepped = base.select(
        "user_id", "t", "q",
        F.lead("t").over(w).alias("t_next"),
    )
    return (
        stepped.groupBy("user_id")
        .agg(
            F.count("*").alias("n_points"),
            (F.max("t") - F.min("t")).alias("span_ms"),
            F.sum(
                F.when(
                    F.col("t_next").isNotNull(),
                    F.col("q") * (F.col("t_next") - F.col("t")),
                ).otherwise(F.lit(0))
            ).alias("num"),
        )
        .filter((F.col("n_points") >= 2) & (F.col("span_ms") > 0))
        .select(
            "user_id", "n_points", "span_ms",
            F.expr(
                "cast(floor(cast(num as double) / cast(span_ms as double)"
                f" * 1000000 / {ANOMALY_Q}) as bigint)"
            ).alias("twa_micro"),
        )
    )


def time_weighted_avg_oracle(cohort: int = GAP_FILL_COHORT) -> str:
    return f"""
        WITH base AS (
          SELECT user_id, CAST(epoch_ms(ts) AS BIGINT) AS t,
                 CAST(floor(value * {ANOMALY_Q}) AS BIGINT) AS q, event_id
          FROM events WHERE user_id < {cohort}
        ),
        stepped AS (
          SELECT user_id, t, q,
                 lead(t) OVER (PARTITION BY user_id ORDER BY t, event_id) AS t_next
          FROM base
        ),
        agg AS (
          SELECT user_id, count(*) AS n_points,
                 max(t) - min(t) AS span_ms,
                 CAST(sum(CASE WHEN t_next IS NOT NULL
                               THEN q * (t_next - t) ELSE 0 END) AS BIGINT) AS num
          FROM stepped GROUP BY user_id
        )
        SELECT user_id, n_points, span_ms,
               CAST(floor(CAST(num AS DOUBLE) / CAST(span_ms AS DOUBLE)
                 * 1000000 / {ANOMALY_Q}) AS BIGINT) AS twa_micro
        FROM agg WHERE n_points >= 2 AND span_ms > 0
    """


DISORDER_BUCKETS = 64


def disorder_stats(events: DataFrame, n_buckets: int = DISORDER_BUCKETS) -> DataFrame:
    """Out-of-orderness profile of the stream — THE watermark-sizing
    diagnostic: for every event, its lateness behind the event-time
    front at its arrival point (``max(ts of earlier arrivals) − ts``,
    arrival order = event_id), folded into a power-of-two histogram
    (``bucket = bit_length(lateness_ms)``; bucket 1 = in-order or
    ≤1 ms). Reading this histogram IS how you pick
    ``withWatermark``'s delay — the streaming twins default to "10
    seconds", and this report shows what that drops. Output:
    (late_bucket, n_events, max_late_ms).

    Scale shape: the running event-time front is a GLOBAL prefix max —
    the classic single-sort trap — computed two-phase like
    ``running_distinct_count``: events range-bucket on the arrival
    axis (bounds from one broadcast 1-row agg), the within-bucket
    running max is a window per bucket (parallelism = n_buckets,
    sized to the cluster), and bucket offsets are a prefix max over
    the n_buckets-row totals. No global sort; the final histogram is
    a tiny hash agg."""
    if n_buckets < 1:
        raise ValueError(f"disorder_stats needs n_buckets >= 1, got {n_buckets}")
    base = events.select(
        "event_id", F.expr("unix_millis(ts)").alias("t")
    )
    bounds = base.agg(
        F.min("event_id").alias("e0"), F.max("event_id").alias("e1")
    )
    bucketed = base.join(F.broadcast(bounds)).withColumn(
        "bkt",
        ((F.col("event_id") - F.col("e0")) * n_buckets
         / (F.col("e1") - F.col("e0") + 1)).cast("long"),
    )
    w_in = (
        Window.partitionBy("bkt").orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    within = bucketed.withColumn("in_max", F.max("t").over(w_in))
    totals = bucketed.groupBy("bkt").agg(F.max("t").alias("btot"))
    w_off = Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)
    offsets = totals.withColumn("boff", F.max("btot").over(w_off)).select(
        "bkt", "boff"
    )
    lat = (
        within.join(F.broadcast(offsets), "bkt")
        .withColumn("front", F.greatest(F.col("in_max"), F.col("boff")))
        .filter(F.col("front").isNotNull())
        .withColumn("late_ms", F.expr("greatest(cast(0 as bigint), front - t)"))
    )
    return (
        lat.select(F.expr("length(bin(late_ms))").alias("late_bucket"), "late_ms")
        .groupBy("late_bucket")
        .agg(F.count("*").alias("n_events"), F.max("late_ms").alias("max_late_ms"))
    )


def disorder_stats_oracle() -> str:
    return """
        WITH base AS (
          SELECT event_id, CAST(epoch_ms(ts) AS BIGINT) AS t FROM events
        ),
        fronts AS (
          SELECT t,
                 max(t) OVER (ORDER BY event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS front
          FROM base
        ),
        lat AS (
          -- filter BEFORE greatest: DuckDB's greatest() ignores NULLs,
          -- so the stream's first event (front IS NULL) must drop here
          SELECT greatest(CAST(0 AS BIGINT), front - t) AS late_ms
          FROM fronts WHERE front IS NOT NULL
        )
        SELECT length(bin(late_ms)) AS late_bucket,
               count(*) AS n_events,
               CAST(max(late_ms) AS BIGINT) AS max_late_ms
        FROM lat
        GROUP BY length(bin(late_ms))
    """


KS_BUCKETS = 32


def ks_cohort_drift(events: DataFrame, n_buckets: int = KS_BUCKETS) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov statistic between the value
    distributions of two user cohorts (``user_id % 2``) — the
    distribution-drift test an A/B or data-freshness pipeline runs,
    EXACT: with per-cohort ECDF counts c₁,c₂ at each distinct
    (quantized) value, ``D = max |n₂·c₁ − n₁·c₂| / (n₁·n₂)`` — the
    maximized numerator is exact int64 (safe while n₁·n₂ < 2⁶³, i.e.
    cohorts up to ~3·10⁹ rows; beyond that shard the statistic), and
    only the final division is float. Output: ONE row (n_a, n_b,
    d_num_max, at_q, ks_micro) — ``at_q`` is the smallest quantized
    value achieving the max (deterministic argmax).

    Scale shape: the value histogram is one map-side-combined agg on
    the quantized value; the ECDF cumsum is the two-phase range-bucket
    prefix sum (never a single global ordered window over all
    distinct values); the max folds in one tiny agg."""
    if n_buckets < 1:
        raise ValueError(f"ks_cohort_drift needs n_buckets >= 1, got {n_buckets}")
    hist = (
        events.select(
            F.expr(f"cast(floor(value * {ANOMALY_Q}) as bigint)").alias("q"),
            F.expr("cast(user_id % 2 as int)").alias("g"),
        )
        .groupBy("q")
        .agg(
            F.sum(F.expr("case when g = 0 then 1 else 0 end")).alias("ca"),
            F.sum(F.expr("case when g = 1 then 1 else 0 end")).alias("cb"),
        )
    )
    bounds = hist.agg(
        F.min("q").alias("q0"), F.max("q").alias("q1"),
        F.sum("ca").alias("n_a"), F.sum("cb").alias("n_b"),
    )
    bucketed = hist.join(F.broadcast(bounds)).withColumn(
        "bkt",
        ((F.col("q") - F.col("q0")) * n_buckets
         / (F.col("q1") - F.col("q0") + 1)).cast("long"),
    )
    w_in = (
        Window.partitionBy("bkt").orderBy("q")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    within = bucketed.select(
        "q", "bkt", "n_a", "n_b",
        F.sum("ca").over(w_in).alias("cum_a_in"),
        F.sum("cb").over(w_in).alias("cum_b_in"),
    )
    totals = bucketed.groupBy("bkt").agg(
        F.sum("ca").alias("ta"), F.sum("cb").alias("tb")
    )
    w_off = Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)
    offsets = totals.select(
        "bkt",
        F.coalesce(F.sum("ta").over(w_off), F.lit(0)).alias("oa"),
        F.coalesce(F.sum("tb").over(w_off), F.lit(0)).alias("ob"),
    )
    scored = within.join(F.broadcast(offsets), "bkt").select(
        "q", "n_a", "n_b",
        F.expr(
            "abs(n_b * (cum_a_in + oa) - n_a * (cum_b_in + ob))"
        ).alias("d_num"),
    )
    return (
        scored.groupBy("n_a", "n_b")
        .agg(
            F.max("d_num").alias("d_num_max"),
            F.expr("min_by(q, struct(-d_num, q))").alias("at_q"),
        )
        .select(
            "n_a", "n_b", "d_num_max", "at_q",
            F.expr(
                "cast(floor(cast(d_num_max as double)"
                " / (cast(n_a as double) * cast(n_b as double))"
                " * 1000000) as bigint)"
            ).alias("ks_micro"),
        )
    )


def ks_cohort_drift_oracle() -> str:
    return """
        WITH hist AS (
          SELECT CAST(floor(value * 1000) AS BIGINT) AS q,
                 CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ca,
                 CAST(sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS cb
          FROM events GROUP BY 1
        ),
        tot AS (
          SELECT CAST(sum(ca) AS BIGINT) AS n_a, CAST(sum(cb) AS BIGINT) AS n_b
          FROM hist
        ),
        ecdf AS (
          SELECT q,
                 CAST(sum(ca) OVER (ORDER BY q) AS BIGINT) AS cum_a,
                 CAST(sum(cb) OVER (ORDER BY q) AS BIGINT) AS cum_b
          FROM hist
        ),
        scored AS (
          SELECT q, n_a, n_b,
                 abs(n_b * cum_a - n_a * cum_b) AS d_num
          FROM ecdf CROSS JOIN tot
        )
        SELECT n_a, n_b,
               CAST(max(d_num) AS BIGINT) AS d_num_max,
               CAST(min(q) FILTER (WHERE d_num = (SELECT max(d_num) FROM scored))
                    AS BIGINT) AS at_q,
               CAST(floor(CAST(max(d_num) AS DOUBLE)
                 / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)) * 1000000) AS BIGINT)
                 AS ks_micro
        FROM scored GROUP BY n_a, n_b
    """

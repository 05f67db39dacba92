"""Property-based pins (hypothesis) for the closed-form oracle math.

The driver's oracles are only as good as the algebra behind them; the
risky derivation is the unique:length emission log, where the DuckDB
oracle uses a closed form ("an event expires iff its key recurs later
OR >= n distinct other keys occur after it") instead of replaying the
FIFO. These tests pit that closed form against a brute-force simulation
of the reference's buffer (UniqueLengthWindowProcessor.java:148-166)
over random streams — no Spark session needed, hundreds of cases."""

from hypothesis import given, settings
from hypothesis import strategies as st


def fifo_replay(seq: list[str], n: int) -> list[tuple[int, str]]:
    """Brute-force simulation of the reference FIFO: returns the
    emission log as (event_index, channel) pairs."""
    buffer: dict = {}  # key -> event index, insertion-ordered
    out: list[tuple[int, str]] = []
    for i, k in enumerate(seq):
        if k in buffer:
            out.append((buffer.pop(k), "expired"))
        elif len(buffer) == n:
            out.append((buffer.pop(next(iter(buffer))), "expired"))
        buffer[k] = i
        out.append((i, "current"))
    return out


def closed_form_expired(seq: list[str], n: int) -> set[int]:
    """The oracle's characterization (__spark_entry__._length_emissions_oracle):
    event i expires iff its key occurs again later, or at least n
    distinct OTHER keys occur after position i."""
    expired = set()
    for i, k in enumerate(seq):
        if k in seq[i + 1:]:
            expired.add(i)
        elif len({d for d in seq[i + 1:] if d != k}) >= n:
            expired.add(i)
    return expired


@settings(max_examples=300, deadline=None)
@given(
    seq=st.lists(st.sampled_from("abcdefgh"), min_size=0, max_size=40),
    n=st.integers(min_value=1, max_value=6),
)
def test_length_emissions_closed_form_matches_fifo_replay(seq, n):
    replay = fifo_replay(seq, n)
    # every arrival emits exactly one current row
    assert [i for i, ch in replay if ch == "current"] == list(range(len(seq)))
    # each event expires at most once, and exactly the closed-form set
    expired = [i for i, ch in replay if ch == "expired"]
    assert len(expired) == len(set(expired))
    assert set(expired) == closed_form_expired(seq, n)


def closed_form_emission_order(seq: list[str], n: int) -> list[tuple[int, str]]:
    """Mirror of __spark_entry__._length_emissions_indexed_oracle's
    algebra (1-based positions, as in the SQL): event at pos p with
    key k expires at min(next occurrence of k, pos of the n-th
    distinct OTHER key first-occurring after p); at each arrival the
    expired row (at most one) precedes the arrival's current row."""
    m = len(seq)
    prev_pos = [0] * (m + 1)
    next_pos: list = [None] * (m + 1)
    last: dict = {}
    for p in range(1, m + 1):
        k = seq[p - 1]
        if k in last:
            prev_pos[p] = last[k]
            next_pos[last[k]] = p
        last[k] = p
    INF = 10 ** 9
    exp = [INF] * (m + 1)
    for p in range(1, m + 1):
        k = seq[p - 1]
        cnt, qn = 0, INF
        for q in range(p + 1, m + 1):
            if seq[q - 1] != k and prev_pos[q] <= p:
                cnt += 1
                if cnt == n:
                    qn = q
                    break
        exp[p] = min(next_pos[p] or INF, qn)
    out: list[tuple[int, str]] = []
    for q in range(1, m + 1):
        ex = [p for p in range(1, m + 1) if exp[p] == q]
        assert len(ex) <= 1, "closed form predicts two expiries at one arrival"
        for p in ex:
            out.append((p - 1, "expired"))
        out.append((q - 1, "current"))
    return out


@settings(max_examples=300, deadline=None)
@given(
    seq=st.lists(st.sampled_from("abcdefgh"), min_size=0, max_size=40),
    n=st.integers(min_value=1, max_value=6),
)
def test_length_emission_order_closed_form_matches_fifo(seq, n):
    """The ordered-oracle derivation: the full emission SEQUENCE (not
    just the expired set) from the positional closed form equals the
    reference FIFO replay's, for random streams."""
    assert closed_form_emission_order(seq, n) == fifo_replay(seq, n)


@settings(max_examples=200, deadline=None)
@given(
    seq=st.lists(st.sampled_from("abcde"), min_size=0, max_size=30),
    n=st.integers(min_value=1, max_value=4),
)
def test_final_buffer_is_n_most_recent_distinct_keys(seq, n):
    """The invariant the closed form rests on: the buffer is always
    exactly the n most-recently-occurring distinct keys, each mapped
    to its latest event (because a replace moves the key to the back)."""
    buffer: dict = {}
    for i, k in enumerate(seq):
        if k in buffer:
            buffer.pop(k)
        elif len(buffer) == n:
            buffer.pop(next(iter(buffer)))
        buffer[k] = i
    latest: dict = {}
    for i, k in enumerate(seq):
        latest[k] = i
    top_n = sorted(latest.values())[-n:] if latest else []
    assert sorted(buffer.values()) == sorted(top_n)


def sequential_tlb(seq: list[tuple[int, str]], t: int, n: int,
                   start: int | None = None) -> set[tuple[int, int, str]]:
    """Reference-shaped sequential replay of unique:timeLengthBatch
    (mirrors operators/replay.py:time_length_batch): returns
    {(event_pos, batch_seq, fire_reason)} for retained events."""
    out: set[tuple[int, int, str]] = set()
    if not seq:
        return out
    forming: dict = {}
    seq_no = 0
    event_sent = False
    first_ms = seq[0][0]
    if start is not None:
        next_emit = start + ((first_ms - start) // t + 1) * t
    else:
        next_emit = first_ms + t

    def fire(reason):
        nonlocal seq_no, forming
        if forming:
            for p in forming.values():
                out.add((p, seq_no, reason))
            forming = {}
            seq_no += 1

    for p, (ms, k) in enumerate(seq):
        while ms >= next_emit:
            if event_sent:
                event_sent = False
            else:
                fire("time")
            next_emit += t
        if event_sent:
            continue
        forming[k] = p
        if len(forming) == n:
            fire("length")
            event_sent = True
    return out


def interval_tlb(seq: list[tuple[int, str]], t: int, n: int,
                 start: int | None = None) -> set[tuple[int, int, str]]:
    """The interval-independent closed form the distributed operator
    (replay.py:time_length_batch_distributed) is built on, recomputed
    directly: per interval k, a length fire at the position where the
    running count of distinct-key first occurrences reaches n; else a
    time fire iff a later event crosses the boundary."""
    if not seq:
        return set()
    anchor = start if start is not None else seq[0][0]
    max_ms = max(ms for ms, _ in seq)
    by_k: dict[int, list[int]] = {}
    for p, (ms, k) in enumerate(seq):
        by_k.setdefault((ms - anchor) // t, []).append(p)
    out: set[tuple[int, int, str]] = set()
    fired_ks = []
    results = {}
    for kk, positions in sorted(by_k.items()):
        seen: set = set()
        L = None
        for p in positions:
            key = seq[p][1]
            if key not in seen:
                seen.add(key)
                if len(seen) == n:
                    L = p
                    break
        if L is not None:
            live = [p for p in positions if p <= L]
            reason = "length"
        elif anchor + (kk + 1) * t <= max_ms:
            live = positions
            reason = "time"
        else:
            continue
        retained = {}
        for p in live:
            retained[seq[p][1]] = p  # last occurrence wins
        results[kk] = (set(retained.values()), reason)
        fired_ks.append(kk)
    for seq_no, kk in enumerate(sorted(fired_ks)):
        poss, reason = results[kk]
        for p in poss:
            out.add((p, seq_no, reason))
    return out


@settings(max_examples=300, deadline=None)
@given(
    ts_gaps=st.lists(st.integers(min_value=0, max_value=7), min_size=0, max_size=40),
    keys=st.lists(st.sampled_from("abcde"), min_size=40, max_size=40),
    t=st.integers(min_value=2, max_value=9),
    n=st.integers(min_value=1, max_value=4),
    start=st.one_of(st.none(), st.integers(min_value=0, max_value=5)),
)
def test_time_length_batch_interval_form_matches_sequential(ts_gaps, keys, t, n, start):
    ms = 0
    seq = []
    for i, g in enumerate(ts_gaps):
        ms += g
        seq.append((ms, keys[i]))
    assert sequential_tlb(seq, t, n, start) == interval_tlb(seq, t, n, start)


def stream_fire_walk(seq, n, keep="last", t=None, start=None):
    """Row-by-row transcription of the streaming fire-chain twins'
    dual channel (lengthBatch, or timeLengthBatch when ``t`` is given):
    every fire re-emits the previous batch on ``expired`` with its own
    batch_seq, then its batch on ``current``; a time boundary with
    nothing formed only drains. Rows are (event_index, batch_seq,
    fired_at, reason, channel)."""
    out, forming, prev = [], {}, []
    batch_seq, next_emit, sent = 0, None, False

    def fire(at, reason):
        nonlocal batch_seq, prev, forming
        out.extend((i, batch_seq - 1, at, reason, "expired") for i in prev)
        prev = list(forming.values())
        out.extend((i, batch_seq, at, reason, "current") for i in prev)
        batch_seq += bool(forming)
        forming = {}

    for i, (ms, k) in enumerate(seq):
        if t is not None:
            if next_emit is None:
                next_emit = ms + t if start is None else start + ((ms - start) // t + 1) * t
            while ms >= next_emit:
                if sent:
                    sent = False
                elif forming or prev:
                    fire(next_emit, "time")
                next_emit += t
            if sent:
                continue
        if keep == "last" or k not in forming:
            forming[k] = i
        if len(forming) == n:
            fire(ms, "length")
            sent = True
    return out


def chain_fire_log(seq, n, keep, t, start, chunk):
    """The same log from the replay chains and the streaming driver's
    ``_fire_log``, fed ``chunk`` arrivals at a time."""
    import pandas as pd

    from siddhi_execution_unique_spark.operators.replay import (
        _FormingSet,
        _TimeLengthBatch,
    )
    from siddhi_execution_unique_spark.streaming import _fire_log

    st = _FormingSet(n, keep) if t is None else _TimeLengthBatch(t, n, start)
    out = []
    for lo in range(0, len(seq), chunk):
        part = seq[lo:lo + chunk]
        prev = st.last
        fed = st.feed([k for _, k in part], [ms for ms, _ in part], lo)
        if t is None:
            fired, at, seq0 = fed
            counts = [n] * len(at)
            at_ms, reasons = [part[j][0] for j in at], ["length"] * len(at)
        else:
            fired, counts, at_ms, reasons, seq0 = fed
        log = _fire_log(lambda refs: pd.DataFrame({"i": refs}), prev, fired,
                        counts, seq0, at=at_ms, reason=reasons)
        out += [tuple(r) for r in log.itertuples(index=False, name=None)]
    return out


@settings(max_examples=300, deadline=None)
@given(
    ts_gaps=st.lists(st.integers(min_value=0, max_value=7), min_size=1, max_size=40),
    keys=st.lists(st.sampled_from("abcde"), min_size=40, max_size=40),
    n=st.integers(min_value=1, max_value=4),
    window=st.one_of(st.none(), st.integers(min_value=2, max_value=9)),
    keep=st.sampled_from(["last", "first"]),
    start=st.one_of(st.none(), st.integers(min_value=0, max_value=5)),
    chunk=st.integers(min_value=1, max_value=12),
)
def test_chain_fire_log_matches_stream_walk(ts_gaps, keys, n, window, keep, start, chunk):
    ms, seq = 0, []
    for i, g in enumerate(ts_gaps):
        ms += g
        seq.append((ms, keys[i]))
    if window is not None:
        keep = "last"  # timeLengthBatch always replaces
    assert (chain_fire_log(seq, n, keep, window, start, chunk)
            == stream_fire_walk(seq, n, keep, window, start))


def greedy_sessions(ts_list: list[int], gap: int) -> list[list[int]]:
    """Reference semantics: walk one user's sorted timestamps, break a
    session when the gap is exceeded."""
    sessions: list[list[int]] = []
    for t in sorted(ts_list):
        if sessions and t - sessions[-1][-1] <= gap:
            sessions[-1].append(t)
        else:
            sessions.append([t])
    return sessions


def lag_cumsum_sessions(ts_list: list[int], gap: int) -> list[list[int]]:
    """The distributed formulation both engines implement
    (functions/sessions.py): new-session flag from the lag diff, then
    a running sum as the session id."""
    srt = sorted(ts_list)
    seq = 0
    out: dict[int, list[int]] = {}
    for i, t in enumerate(srt):
        if i == 0 or t - srt[i - 1] > gap:
            seq += 1
        out.setdefault(seq, []).append(t)
    return [out[k] for k in sorted(out)]


@settings(max_examples=300, deadline=None)
@given(
    ts_list=st.lists(st.integers(min_value=0, max_value=10_000), min_size=0, max_size=50),
    gap=st.integers(min_value=1, max_value=2_000),
)
def test_sessionize_lag_cumsum_matches_greedy(ts_list, gap):
    assert lag_cumsum_sessions(ts_list, gap) == greedy_sessions(ts_list, gap)


# ---------------------------------------------------------------------
# as-of join: the sorted-merge window encoding vs brute force


def asof_bruteforce(lefts: list[int], rights: list[tuple[int, int]]):
    """Definitional as-of: per left ts, the greatest (ts, id) right
    tuple with ts <= left ts."""
    out = []
    for lt in lefts:
        cands = [r for r in rights if r[0] <= lt]
        out.append(max(cands) if cands else None)
    return out


def asof_merged_scan(lefts: list[int], rights: list[tuple[int, int]]):
    """The functions/asof.py encoding: one pass over rows sorted by
    (ts, side, payload), carrying the last-seen right payload."""
    rows = [(ts, 0, (ts, rid)) for ts, rid in rights]
    rows += [(lt, 1, None) for lt in lefts]
    rows.sort(key=lambda x: (x[0], x[1], x[2] or (0, 0)))
    last, out = None, []
    for _ts, side, payload in rows:
        if side == 0:
            last = payload
        else:
            out.append(last)
    # emitted in left-ts order; map back to input order
    order = sorted(range(len(lefts)), key=lambda i: lefts[i])
    result = [None] * len(lefts)
    for pos, i in enumerate(order):
        result[i] = out[pos]
    return result


@settings(max_examples=300, deadline=None)
@given(
    lefts=st.lists(st.integers(min_value=0, max_value=15), max_size=12),
    rights=st.lists(
        st.tuples(st.integers(min_value=0, max_value=15),
                  st.integers(min_value=1, max_value=99)),
        max_size=12, unique_by=lambda r: r[1],
    ),
)
def test_asof_merged_scan_matches_bruteforce(lefts, rights):
    # ties in left ts are interchangeable for correctness (each left
    # row's answer depends only on its own ts), so positional mapping
    # is safe even with duplicate left timestamps
    assert asof_merged_scan(lefts, rights) == asof_bruteforce(lefts, rights)


@given(
    vals=st.lists(st.integers(min_value=0, max_value=500), min_size=1, max_size=60),
)
@settings(max_examples=300, deadline=None)
def test_quality_percentiles_cumsum_form_matches_sorted_index(vals):
    """The percentile operator (functions/curation.py:quality_percentiles)
    picks min(value where cum >= ceil(p*n)) over a value histogram; the
    type-1 definition is sorted[ceil(p*n)] (1-indexed). Pit the two
    formulations against each other over random multisets."""
    from collections import Counter

    hist = sorted(Counter(vals).items())
    n = sum(c for _, c in hist)
    s = sorted(vals)

    def cumsum_form(num, den):
        rank = (n * num + den - 1) // den
        cum = 0
        for v, c in hist:
            cum += c
            if cum >= rank:
                return v
        raise AssertionError("rank beyond histogram")

    def index_form(num, den):
        return s[max((n * num + den - 1) // den, 1) - 1]

    for num, den in ((1, 10), (1, 2), (9, 10)):
        assert cumsum_form(num, den) == index_form(num, den)


@given(
    st.lists(st.tuples(st.integers(0, 50), st.sampled_from("vcp")), min_size=0, max_size=30),
)
@settings(max_examples=200, deadline=None)
def test_funnel_join_chain_matches_state_machine(events):
    """The batch funnel's join-chain algebra (min of step-i events
    qualifying against the min step-(i-1) anchor) equals a forward
    state machine over the time-sorted sequence — the same machine
    `streaming.funnel_stream` runs."""
    win = 10
    evs = sorted([(t, c) for t, c in events])
    # join-chain form: anchor each step at the min qualifying time
    t1 = min((t for t, c in evs if c == "v"), default=None)
    t2 = min((t for t, c in evs if c == "c" and t1 is not None
              and t1 < t <= t1 + win), default=None)
    t3 = min((t for t, c in evs if c == "p" and t2 is not None
              and t2 < t <= t2 + win), default=None)
    # forward state machine (strictly increasing time; ties in time
    # process in sorted order, matching the min-anchoring)
    s1 = s2 = s3 = None
    for t, c in evs:
        if s1 is None and c == "v":
            s1 = t
        elif s1 is not None and s2 is None and c == "c" and s1 < t <= s1 + win:
            s2 = t
        elif s2 is not None and s3 is None and c == "p" and s2 < t <= s2 + win:
            s3 = t
    assert (t1, t2, t3) == (s1, s2, s3)


@given(st.lists(st.sampled_from("OFP"), min_size=1, max_size=40))
@settings(max_examples=200, deadline=None)
def test_scd2_island_encoding_matches_groupby(statuses):
    """sum(status != lag(status)) run ids == itertools.groupby runs."""
    import itertools
    run_ids = []
    rid = 0
    prev = None
    for s in statuses:
        if s != prev:
            rid += 1
        run_ids.append(rid)
        prev = s
    runs = [(k, len(list(g))) for k, g in itertools.groupby(statuses)]
    assert run_ids[-1] == len(runs)
    # each run's length matches the id-encoding's census
    from collections import Counter
    census = Counter(run_ids)
    assert [census[i + 1] for i in range(len(runs))] == [n for _, n in runs]


@given(st.integers(0, (1 << 52) - 1))
@settings(max_examples=500, deadline=None)
def test_hll_rho_bin_length_identity(w):
    """rho = 53 - len(bin(w)) (both engines' bin() strips leading
    zeros) equals leading-zeros-of-52-bit-word + 1."""
    expected = (52 - w.bit_length()) + 1
    got = 53 - len(format(w, "b")) if w > 0 else 53
    assert got == expected


@given(
    st.lists(st.tuples(st.integers(0, 9), st.integers(0, 9)), min_size=1, max_size=20)
    .map(lambda es: [(a, b) for a, b in es if a != b])
)
@settings(max_examples=100, deadline=None)
def test_pagerank_quantized_mass_conservation(edges):
    """On a symmetric graph, the picounit-quantized iteration keeps
    total mass within n_nodes quantization ulps of 1."""
    if not edges:
        return
    sym = set()
    for a, b in edges:
        sym.add((a, b)); sym.add((b, a))
    nodes = sorted({a for a, _ in sym})
    deg = {n: sum(1 for s, _ in sym if s == n) for n in nodes}
    N = len(nodes)
    Q = 10**12
    rank = {n: 1.0 / N for n in nodes}
    for _ in range(3):
        contrib = {}
        for s, d in sym:
            contrib[d] = contrib.get(d, 0) + round(rank[s] / deg[s] * Q)
        rank = {n: 0.15 / N + 0.85 * (contrib.get(n, 0) / Q) for n in nodes}
    assert abs(sum(rank.values()) - 1.0) < 1e-9 * max(1, N)


# --- degree-oriented triangle counting (graph.near_dup_triangles) ---


def _oriented_triangles(edges: set[tuple[int, int]]) -> dict[int, int]:
    """Mirror of the operator's algebra: orient by (deg, id), generate
    wedges at the minimum vertex, close via adjacency."""
    und = edges | {(b, a) for a, b in edges}
    deg: dict[int, int] = {}
    for a, _ in und:
        deg[a] = deg.get(a, 0) + 1
    def rank(v):
        return (deg[v], v)
    oriented = {(a, b) for a, b in und if rank(a) < rank(b)}
    out: dict[int, int] = {}
    by_src: dict[int, list[int]] = {}
    for a, b in oriented:
        by_src.setdefault(a, []).append(b)
    for p, nbrs in by_src.items():
        nbrs = sorted(nbrs)
        for i in range(len(nbrs)):
            for j in range(i + 1, len(nbrs)):
                q, r = nbrs[i], nbrs[j]
                if (q, r) in und:
                    for v in (p, q, r):
                        out[v] = out.get(v, 0) + 1
    return out


@given(st.sets(
    st.tuples(st.integers(0, 14), st.integers(0, 14)).filter(lambda e: e[0] != e[1]),
    max_size=40,
))
@settings(max_examples=300, deadline=None)
def test_oriented_wedge_counting_matches_bruteforce_triangles(raw):
    from itertools import combinations
    edges = {(min(a, b), max(a, b)) for a, b in raw}
    und = edges | {(b, a) for a, b in edges}
    nodes = {v for e in edges for v in e}
    brute: dict[int, int] = {}
    for a, b, c in combinations(sorted(nodes), 3):
        if (a, b) in und and (a, c) in und and (b, c) in und:
            for v in (a, b, c):
                brute[v] = brute.get(v, 0) + 1
    assert _oriented_triangles(edges) == brute


@given(st.sets(
    st.tuples(st.integers(0, 14), st.integers(0, 14)).filter(lambda e: e[0] != e[1]),
    max_size=40,
))
@settings(max_examples=200, deadline=None)
def test_orientation_is_acyclic_total_so_each_triangle_counted_once(raw):
    # every triangle has exactly ONE vertex with two out-edges under
    # the (deg, id) orientation — the no-double-count argument
    edges = {(min(a, b), max(a, b)) for a, b in raw}
    und = edges | {(b, a) for a, b in edges}
    deg: dict[int, int] = {}
    for a, _ in und:
        deg[a] = deg.get(a, 0) + 1
    from itertools import combinations
    nodes = {v for e in edges for v in e}
    for a, b, c in combinations(sorted(nodes), 3):
        if (a, b) in und and (a, c) in und and (b, c) in und:
            pivots = 0
            for p, q, r in ((a, b, c), (b, a, c), (c, a, b)):
                if (deg[p], p) < (deg[q], q) and (deg[p], p) < (deg[r], r):
                    pivots += 1
            assert pivots == 1


# --- z-order interleave (curation.zorder_layout) ---


def _interleave(x: int, y: int, bits: int) -> int:
    z = 0
    for b in range(bits):
        z |= ((x >> b) & 1) << (2 * b + 1)
        z |= ((y >> b) & 1) << (2 * b)
    return z


@given(st.integers(0, 1023), st.integers(0, 1023))
@settings(max_examples=500, deadline=None)
def test_zorder_interleave_is_bijective(x, y):
    z = _interleave(x, y, 10)
    dx = sum(((z >> (2 * b + 1)) & 1) << b for b in range(10))
    dy = sum(((z >> (2 * b)) & 1) << b for b in range(10))
    assert (dx, dy) == (x, y)
    assert 0 <= z < 1 << 20


@given(st.lists(st.tuples(st.integers(0, 1023), st.integers(0, 1023)),
                min_size=2, max_size=200))
@settings(max_examples=200, deadline=None)
def test_zorder_file_tiles_bound_both_dims(points):
    # the plan-level pruning claim: same top-6 z-bits => both coords
    # share their top 3 bits => span within a file <= 2^7
    files: dict[int, list[tuple[int, int]]] = {}
    for x, y in points:
        files.setdefault(_interleave(x, y, 10) >> 14, []).append((x, y))
    for pts in files.values():
        xs = [p[0] for p in pts]
        ys = [p[1] for p in pts]
        assert max(xs) - min(xs) <= 127
        assert max(ys) - min(ys) <= 127


# --- count-min and bloom (sketch.countmin_heavy_hitters / bloom_prefilter_join) ---


def _md5_mod(prefix: str, key: int, mod: int) -> int:
    import hashlib
    h = hashlib.md5(f"{prefix}{key}".encode()).hexdigest()[:15]
    return int(h, 16) % mod


@given(st.lists(st.integers(0, 30), min_size=1, max_size=300))
@settings(max_examples=200, deadline=None)
def test_countmin_estimate_never_below_true_count(stream):
    d, w = 4, 32  # narrow width to force collisions
    cells: dict[tuple[int, int], int] = {}
    for k in stream:
        for i in range(d):
            cell = _md5_mod(f"cm{i}:", k, w)
            cells[(i, cell)] = cells.get((i, cell), 0) + 1
    from collections import Counter
    truth = Counter(stream)
    for k, n in truth.items():
        est = min(cells[(i, _md5_mod(f"cm{i}:", k, w))] for i in range(d))
        assert est >= n


@given(st.sets(st.integers(0, 10_000), max_size=100),
       st.sets(st.integers(0, 10_000), max_size=100))
@settings(max_examples=200, deadline=None)
def test_bloom_membership_has_no_false_negatives(build, probe):
    m, k = 1024, 3
    bits = {_md5_mod(f"bf{i}:", key, m) for key in build for i in range(k)}
    for key in probe:
        passes = all(_md5_mod(f"bf{i}:", key, m) in bits for i in range(k))
        if key in build:
            assert passes  # a true member can never be filtered out


# --- parser robustness: corrupt media + malformed query text must
# fail with the DECLARED error types, never crash or mis-shape ---


@given(st.binary(max_size=200))
@settings(max_examples=300, deadline=None)
def test_media_decoders_fail_closed_on_fuzz(payload):
    from siddhi_execution_unique_spark.functions.multimodal import (
        decode_audio,
        decode_image,
        decode_video,
    )
    for fn in (decode_image, decode_audio, decode_video):
        try:
            fn(payload)
        except (ValueError, NotImplementedError):
            # the DECLARED failure modes; anything else (struct.error,
            # TypeError, IndexError, silent wrong shape) fails the test
            pass


@given(st.binary(max_size=96))
@settings(max_examples=200, deadline=None)
def test_wav_decoder_fuzz_with_valid_magic(body):
    # force the parser down the RIFF path: random chunk soup after a
    # valid signature must raise ValueError, never return garbage
    from siddhi_execution_unique_spark.functions.multimodal import decode_audio
    payload = b"RIFF\x00\x00\x00\x00WAVE" + body
    try:
        rate, samples = decode_audio(payload)
        # if it parsed, the invariants must hold
        assert rate > 0 and samples.dtype.str == "<i2"
    except (ValueError, NotImplementedError):
        pass


@given(st.text(alphabet="fromselcinto#window.unique:evr()[]>1 ;\n", max_size=120))
@settings(max_examples=300, deadline=None)
def test_siddhiql_parser_raises_only_typed_errors(text):
    from siddhi_execution_unique_spark.siddhiql import SiddhiQLError, parse_app
    try:
        queries = parse_app(text)
        assert isinstance(queries, list) and queries
    except SiddhiQLError:
        pass


# ------------------------------------------------------------------ round 6:
# codec roundtrips and fuzz for the compressed-format decoders


@given(st.binary(max_size=2000))
@settings(max_examples=200, deadline=None)
def test_jpeg_constant_block_roundtrip_exact(body):
    import numpy as np
    from siddhi_execution_unique_spark.functions import multimodal as fmm

    img = fmm.decode_jpeg(fmm.encode_gray_jpeg(body))
    n = max(1, -(-len(body) // fmm.JPEG_W_BLOCKS)) * fmm.JPEG_W_BLOCKS
    vals = np.frombuffer(body.ljust(n, b"\x00"), dtype=np.uint8)
    blocks = img.reshape(n // fmm.JPEG_W_BLOCKS, 8, fmm.JPEG_W_BLOCKS, 8)
    # every 8x8 block is constant and equals its source byte
    assert (blocks == vals.reshape(-1, 1, fmm.JPEG_W_BLOCKS, 1)).all()


@given(st.binary(max_size=2000))
@settings(max_examples=200, deadline=None)
def test_png_lossless_roundtrip_exact(body):
    import numpy as np
    from siddhi_execution_unique_spark.functions import multimodal as fmm

    img = fmm.decode_png(fmm.encode_gray_png(body))
    n = max(1, -(-len(body) // fmm.PNG_W)) * fmm.PNG_W
    want = np.frombuffer(body.ljust(n, b"\x00"), dtype=np.uint8)
    assert (img.ravel() == want).all()


@given(st.binary(max_size=4000))
@settings(max_examples=200, deadline=None)
def test_gzip_roundtrip_and_stdlib_agreement(body):
    import gzip as refgzip
    from siddhi_execution_unique_spark.functions import multimodal as fmm

    assert fmm.gunzip(fmm.gzip_compress(body)) == body
    assert refgzip.decompress(fmm.gzip_compress(body)) == body
    assert fmm.gunzip(refgzip.compress(body)) == body


@given(st.lists(st.integers(-32768, 32767), max_size=600))
@settings(max_examples=200, deadline=None)
def test_flac_roundtrip_exact(samples):
    import numpy as np
    from siddhi_execution_unique_spark.functions import multimodal as fmm

    s = np.array(samples, dtype=np.int64)
    rate, d = fmm.decode_flac(fmm.encode_flac(s))
    assert rate == fmm.FLAC_RATE
    assert len(d) == len(s) and (d == s).all()


@given(st.lists(st.tuples(st.integers(-32768, 32767),
                          st.integers(-32768, 32767)), max_size=400))
@settings(max_examples=150, deadline=None)
def test_flac_stereo_lpc_roundtrip_exact(pairs):
    # mid/side decorrelation + LPC subframes must be lossless for any
    # 16-bit stereo signal (the side channel exercises the 17-bit
    # depth RFC 9639 assigns it)
    import numpy as np
    from siddhi_execution_unique_spark.functions import multimodal as fmm

    lr = np.array(pairs, dtype=np.int64).reshape(-1, 2)
    rate, d = fmm.decode_flac(fmm.encode_flac_stereo(lr))
    assert rate == fmm.FLAC_RATE
    if len(pairs) == 0:
        assert d.size == 0
    else:
        assert d.shape == lr.shape and (d == lr).all()


@given(st.lists(st.integers(-4000, 4000), max_size=500),
       st.integers(1, 3))
@settings(max_examples=100, deadline=None)
def test_flac_wasted_bits_roundtrip_exact(samples, k):
    # RFC 9639 §9.2.2: samples with k trailing zero bits code at
    # 16-k bits behind the wasted-bits field; decode shifts back
    import numpy as np
    from siddhi_execution_unique_spark.functions import multimodal as fmm

    s = (np.array(samples, dtype=np.int64) << k)
    rate, d = fmm.decode_flac(fmm.encode_flac(s, wasted_bits=k))
    assert len(d) == len(s) and (d == s).all()


@given(st.binary(max_size=600))
@settings(max_examples=100, deadline=None)
def test_png_palette_roundtrip_exact(body):
    import numpy as np
    from siddhi_execution_unique_spark.functions import multimodal as fmm

    pal = fmm._fixture_palette()
    img = fmm.decode_png(fmm.encode_palette_png(body, pal))
    idx = np.frombuffer(
        body.ljust(max(1, -(-len(body) // fmm.PNG_W)) * fmm.PNG_W, b"\x00"),
        dtype=np.uint8,
    ) % len(pal)
    want = pal[idx].reshape(-1, fmm.PNG_W, 3)
    assert img.shape == want.shape and (img == want).all()


@given(st.binary(max_size=500), st.integers(1, 12))
@settings(max_examples=80, deadline=None)
def test_png_adam7_deinterlace_matches_straight(body, width):
    # the seven-pass de-interlacer must land on the row-major image
    # for any dimensions, including widths/heights that leave some
    # passes empty or one pixel wide
    from siddhi_execution_unique_spark.functions import multimodal as fmm

    a = fmm.decode_png(fmm.encode_gray_png_adam7(body, width=width))
    b = fmm.decode_png(fmm.encode_gray_png(body, width=width))
    assert a.shape == b.shape and (a == b).all()


@given(st.binary(max_size=400), st.sampled_from([1, 2, 4]), st.booleans())
@settings(max_examples=80, deadline=None)
def test_png_subbyte_roundtrip_exact(body, depth, interlace):
    # 1/2/4-bit grayscale: MSB-first packed samples with byte-padded
    # rows must decode to the exact 8-bit scaling 255/(2^d-1), both
    # straight and through the Adam7 scatter (sub-byte passes repack
    # at their own row widths)
    import numpy as np
    from siddhi_execution_unique_spark.functions import multimodal as fmm

    img = fmm.decode_png(fmm.encode_graysub_png(body, depth, interlace=interlace))
    n = max(1, -(-len(body) // fmm.PNG_W)) * fmm.PNG_W
    samples = np.zeros(n, dtype=np.uint8)
    samples[: len(body)] = np.frombuffer(body, dtype=np.uint8) % (1 << depth)
    want = (samples * (255 // ((1 << depth) - 1))).reshape(-1, fmm.PNG_W)
    assert img.shape == want.shape and (img == want).all()


@given(st.binary(max_size=400), st.integers(0, 15))
@settings(max_examples=60, deadline=None)
def test_png_gray_trns_color_key(body, key):
    # a grayscale tRNS key adds an alpha plane: 0 exactly where the
    # RAW sample equals the key (compared pre-scaling), 255 elsewhere
    import numpy as np
    from siddhi_execution_unique_spark.functions import multimodal as fmm

    img = fmm.decode_png(
        fmm.encode_graysub_png(body, 4, trns_key=key)
    )
    n = max(1, -(-len(body) // fmm.PNG_W)) * fmm.PNG_W
    samples = np.zeros(n, dtype=np.uint8)
    samples[: len(body)] = np.frombuffer(body, dtype=np.uint8) % 16
    samples = samples.reshape(-1, fmm.PNG_W)
    assert img.shape == samples.shape + (2,)
    assert (img[:, :, 0] == samples * 17).all()
    assert ((img[:, :, 1] == 0) == (samples == key)).all()


@given(st.binary(max_size=400), st.integers(1, 8))
@settings(max_examples=60, deadline=None)
def test_png_palette_trns_alpha_table(body, n_trns):
    # tRNS over PLTE: output becomes RGBA, alpha looked up from the
    # table for covered entries and 255 for the rest
    import numpy as np
    from siddhi_execution_unique_spark.functions import multimodal as fmm

    pal = fmm._fixture_palette()
    n_trns = min(n_trns, len(pal))
    table = (np.arange(n_trns, dtype=np.uint8) * 31) % 256
    img = fmm.decode_png(fmm.encode_palette_png(body, pal, trns=table))
    idx = np.frombuffer(
        body.ljust(max(1, -(-len(body) // fmm.PNG_W)) * fmm.PNG_W, b"\x00"),
        dtype=np.uint8,
    ) % len(pal)
    idx = idx.reshape(-1, fmm.PNG_W)
    alpha = np.full(len(pal), 255, dtype=np.uint8)
    alpha[:n_trns] = table
    assert img.shape == idx.shape + (4,)
    assert (img[:, :, :3] == pal[idx]).all()
    assert (img[:, :, 3] == alpha[idx]).all()


@given(st.lists(st.integers(0, 65535), max_size=400))
@settings(max_examples=80, deadline=None)
def test_png_16bit_roundtrip_exact(samples):
    import numpy as np
    from siddhi_execution_unique_spark.functions import multimodal as fmm

    s = np.array(samples, dtype=np.uint16)
    img = fmm.decode_png(fmm.encode_gray16_png(s))
    n = max(1, -(-max(s.size, 1) // fmm.PNG_W)) * fmm.PNG_W
    want = np.zeros(n, np.uint16)
    want[:s.size] = s
    assert img.dtype == np.uint16 and (img.ravel() == want).all()


@given(st.binary(max_size=400))
@settings(max_examples=60, deadline=None)
def test_jpeg_420_roundtrip_exact(body):
    # the 4:2:0 MCU walk (4 luma + 2 chroma blocks) and nearest
    # chroma upsampling must reproduce RGB=(y,y,y) bit-exactly for
    # constant blocks
    import numpy as np
    from siddhi_execution_unique_spark.functions import multimodal as fmm

    img = fmm.decode_jpeg(fmm.encode_gray_jpeg_420(body))
    per_row = 8 * 4
    n = max(1, -(-len(body) // per_row)) * per_row
    vals = np.frombuffer(body.ljust(n, b"\x00"), dtype=np.uint8)
    y = (vals.reshape(-1, 8, 2, 2).transpose(0, 2, 1, 3)
         .repeat(8, axis=1).repeat(8, axis=3).reshape(-1, 128))
    want = np.stack([y, y, y], axis=-1)
    assert img.shape == want.shape and (img == want).all()


@given(st.binary(max_size=300))
@settings(max_examples=300, deadline=None)
def test_inflate_fuzz_raises_only_typed_errors(junk):
    # arbitrary bytes through the zlib/gzip/png/jpeg/flac parsers must
    # raise the DECLARED error types, never crash or hang
    from siddhi_execution_unique_spark.functions import multimodal as fmm

    # the declared error contract: ValueError for malformed/truncated
    # input, NotImplementedError for declared format boundaries —
    # IndexError was dropped from this whitelist once the bit readers
    # and marker/chunk walkers gained explicit bounds checks
    for fn in (fmm._zlib_decompress, fmm.gunzip, fmm.decode_png,
               fmm.decode_jpeg, fmm.decode_flac):
        try:
            fn(junk)
        except (ValueError, NotImplementedError):
            pass


def _tlb_simulate(events, t_ms, n, start_ms=None):
    """Event-driven simulation of the reference's
    UniqueTimeLengthBatchWindowProcessor semantics (processEventChunk
    :238-298 + sendEvents :304-336, written from the spec, not the
    code): a scheduler timer fires at every boundary; a boundary with
    the post-length-fire skip flag set only clears it (no flush); any
    other flush drains the previous batch's expired events at the
    flush time. Returns (current, expired):
      current: list of (frozenset(event_ids), fired_at, reason)
      expired: dict batch_index -> expired_at_ms
    ``events``: sorted list of (ts, event_id, key)."""
    if not events:
        return [], {}
    max_ts = events[-1][0]
    if start_ms is not None:
        first = events[0][0]
        next_emit = start_ms + ((first - start_ms) // t_ms + 1) * t_ms
    else:
        next_emit = events[0][0] + t_ms
    event_sent = False
    forming: dict = {}          # key -> event_id (replace-within-batch)
    prev_batch: int | None = None
    current: list = []
    expired: dict = {}

    def flush(at, reason):
        nonlocal prev_batch, forming
        if prev_batch is not None:
            expired[prev_batch] = at
            prev_batch = None
        if forming:
            current.append((frozenset(forming.values()), at, reason))
            prev_batch = len(current) - 1
            forming = {}

    i = 0
    while True:
        ev_ts = events[i][0] if i < len(events) else None
        # the scheduler tick at next_emit precedes an event at the
        # same instant (the arrival's own boundary branch would handle
        # it identically)
        if next_emit <= max_ts and (ev_ts is None or next_emit <= ev_ts):
            if event_sent:
                event_sent = False   # clears the skip flag, NO flush
            else:
                flush(next_emit, "time")
            next_emit += t_ms
            continue
        if ev_ts is None:
            break
        ts, eid, key = events[i]
        i += 1
        if event_sent:
            continue                 # discarded until the next boundary
        forming[key] = eid
        if len(forming) == n:
            flush(ts, "length")
            event_sent = True
    return current, expired


def _tlb_closed_form(events, t_ms, n, start_ms=None):
    """Pure-Python mirror of the interval algebra the Spark operator
    and DuckDB oracle implement (operators/replay.py:
    time_length_batch_distributed / time_length_batch_expired):
    floor-interval assignment, Nth-distinct length fire, boundary
    witness, and the corrected drain rule
    expired_at(k) = min(fire k+1, B(k) + T*[length fire])."""
    if not events:
        return [], {}
    max_ts = events[-1][0]
    anchor = start_ms if start_ms is not None else events[0][0]
    by_k: dict = {}
    for ts, eid, key in events:
        by_k.setdefault((ts - anchor) // t_ms, []).append((ts, eid, key))
    current = []
    fires = []
    for k in sorted(by_k):
        rows = by_k[k]
        seen: set = set()
        L = None
        for pos, (ts, eid, key) in enumerate(rows):
            if key not in seen:
                seen.add(key)
                if len(seen) == n:
                    L = pos
                    break
        boundary = anchor + (k + 1) * t_ms
        if L is not None:
            live = rows[: L + 1]
            fired_at, reason = live[-1][0], "length"
        elif boundary <= max_ts:
            live, fired_at, reason = rows, boundary, "time"
        else:
            continue
        kept = {}
        for ts, eid, key in live:
            kept[key] = eid
        current.append((frozenset(kept.values()), fired_at, reason))
        fires.append((fired_at, reason))
    expired = {}
    for j, (fired_at, reason) in enumerate(fires):
        b = anchor + ((fired_at - anchor) // t_ms + 1) * t_ms
        drain = b + (t_ms if reason == "length" else 0)
        if j + 1 < len(fires):
            drain = min(drain, fires[j + 1][0])
        if drain <= max_ts:
            expired[j] = drain
    return current, expired


@given(
    st.integers(2, 4),                        # N
    st.sampled_from([10, 25, 40]),            # T
    st.lists(st.tuples(st.integers(0, 300), st.integers(0, 4)),
             max_size=40),                    # (ts, key)
    st.sampled_from([None, 0]),               # start.time
)
@settings(max_examples=300, deadline=None)
def test_time_length_batch_algebra_matches_reference_simulation(
    n, t_ms, raw, start_ms
):
    """The interval algebra behind time_length_batch_distributed /
    _expired must equal an event-at-a-time simulation of the
    reference processor for arbitrary streams — including the ADVICE
    r07 case (a boundary right after a length fire only clears the
    skip flag, so the drain waits for the NEXT real flush)."""
    events = sorted(
        ((ts, i, f"k{key}") for i, (ts, key) in enumerate(raw)),
        key=lambda e: (e[0], e[1]),
    )
    sim_cur, sim_exp = _tlb_simulate(events, t_ms, n, start_ms)
    alg_cur, alg_exp = _tlb_closed_form(events, t_ms, n, start_ms)
    assert sim_cur == alg_cur
    assert sim_exp == alg_exp


def _etb_simulate(events, t_ms):
    """Event-driven simulation of
    UniqueExternalTimeBatchWindowProcessor without time.out (spec:
    flushes happen ONLY on arrivals — when an event lands past the
    forming batch's end, the forming batch emits as current and the
    previously flushed batch's retained events drain as expired with
    timestamps rewritten to lastCurrentEventTime, which the
    triggering arrival just advanced; :261-332,454-458). First-event
    anchor. Returns (current, expired):
      current: list of (frozenset(event_ids), batch_start_ms) —
               including the final forming batch (the batch op's
               final-state convention)
      expired: dict batch_index -> expired_at_ms."""
    if not events:
        return [], {}
    anchor = events[0][0]
    batch_start = anchor
    forming: dict = {}
    prev_batch: int | None = None
    current: list = []
    expired: dict = {}
    for ts, eid, key in events:
        if ts - batch_start >= t_ms:
            if prev_batch is not None:
                expired[prev_batch] = ts
                prev_batch = None
            if forming:
                current.append((frozenset(forming.values()), batch_start))
                prev_batch = len(current) - 1
                forming = {}
            batch_start = anchor + ((ts - anchor) // t_ms) * t_ms
        forming[key] = eid
    if forming:
        current.append((frozenset(forming.values()), batch_start))
    return current, expired


def _etb_closed_form(events, t_ms):
    """Mirror of the batch algebra (operators/time_batch.py:
    external_time_batch / external_time_batch_expired): present
    batches = occupied floor-intervals off the first-event anchor,
    keep-latest per key; rank r re-emits as expired at the FIRST
    event timestamp of rank r+2."""
    if not events:
        return [], {}
    anchor = events[0][0]
    buckets: dict = {}
    for ts, eid, key in events:
        buckets.setdefault((ts - anchor) // t_ms, []).append((ts, eid, key))
    ranks = sorted(buckets)
    current = []
    for k in ranks:
        kept = {}
        for ts, eid, key in buckets[k]:
            kept[key] = eid
        current.append((frozenset(kept.values()), anchor + k * t_ms))
    expired = {
        r: buckets[ranks[r + 2]][0][0]
        for r in range(len(ranks) - 2)
    }
    return current, expired


@given(
    st.sampled_from([10, 25, 40]),
    st.lists(st.tuples(st.integers(0, 300), st.integers(0, 4)), max_size=40),
)
@settings(max_examples=300, deadline=None)
def test_external_time_batch_algebra_matches_reference_simulation(t_ms, raw):
    """The present-batch/rank+2 expired algebra must equal the
    event-driven simulation for arbitrary streams — pinning both the
    final-state current convention and the lastCurrentEventTime
    expired rewrite."""
    events = sorted(
        ((ts, i, f"k{key}") for i, (ts, key) in enumerate(raw)),
        key=lambda e: (e[0], e[1]),
    )
    sim_cur, sim_exp = _etb_simulate(events, t_ms)
    alg_cur, alg_exp = _etb_closed_form(events, t_ms)
    assert sim_cur == alg_cur
    assert sim_exp == alg_exp


@given(st.integers(3, 8),
       st.lists(st.integers(-32768, 32767), max_size=300))
@settings(max_examples=60, deadline=None)
def test_flac_multichannel_roundtrip_exact(n_ch, flat):
    # >2 independent channels (the r07-VERDICT-listed boundary):
    # the decoder's generic channel path must be lossless for any
    # channel count the format allows
    import numpy as np
    from siddhi_execution_unique_spark.functions import multimodal as fmm

    n = (len(flat) // n_ch) * n_ch
    s = np.array(flat[:n], dtype=np.int64).reshape(-1, n_ch)
    rate, d = fmm.decode_flac(fmm.encode_flac_multi(s))
    assert rate == fmm.FLAC_RATE
    if s.size == 0:
        assert d.size == 0
    else:
        assert d.shape == s.shape and (d == s).all()


@given(st.binary(min_size=1, max_size=256))
@settings(max_examples=60, deadline=None)
def test_jpeg_progressive_420_matches_baseline(body):
    # progressive + chroma subsampling COMBINED (the last substantive
    # r07-VERDICT-listed JPEG boundary): an MCU-interleaved DC-first
    # scan over subsampled grids plus per-component AC scans must
    # decode to exactly the baseline 4:2:0 encoding of the same image
    import numpy as np
    from siddhi_execution_unique_spark.functions import multimodal as fmm

    prog = fmm.decode_jpeg(fmm.encode_color_jpeg_420_progressive(body, w_mcus=4))
    base = fmm.decode_jpeg(fmm.encode_gray_jpeg_420(body, w_mcus=4))
    assert prog.shape == base.shape and (prog == base).all()
    # and the image model itself: RGB = (v, v, v) per constant block
    v0 = body[0]
    assert tuple(prog[0, 0]) == (v0, v0, v0)


@given(st.lists(st.integers(0, 4095), max_size=300))
@settings(max_examples=80, deadline=None)
def test_jpeg_12bit_roundtrip_exact(samples):
    # 12-bit extended-sequential precision (SOF1): constant blocks
    # with the all-ones 16-bit quant table decode bit-exactly as
    # uint16 levels — 2048-centered shift, 0..4095 clip, and DC
    # magnitude categories up to 15
    import numpy as np
    from siddhi_execution_unique_spark.functions import multimodal as fmm

    s = np.array(samples, dtype=np.int64)
    img = fmm.decode_jpeg(fmm.encode_gray12_jpeg(s, w_blocks=8))
    assert img.dtype == np.uint16
    n = max(1, -(-max(s.size, 1) // 8)) * 8
    want = np.zeros(n, dtype=np.int64)
    want[: s.size] = s
    got = img[::8, ::8].ravel()  # one sample per constant block
    assert (got == want).all()
    # every pixel of a block is that constant
    assert (img[:8, :8] == img[0, 0]).all()


@given(st.lists(st.integers(0, 255), max_size=200),
       st.integers(1, 7))
@settings(max_examples=80, deadline=None)
def test_jpeg_lossless_roundtrip_exact(samples, predictor):
    # lossless (SOF3) huffman: annex-H predictive coding round-trips
    # ANY byte array bit-exactly — all seven predictors, first-row Ra
    # chain, first-column Rb chain, modulo-2^16 reconstruction
    import numpy as np
    from siddhi_execution_unique_spark.functions import multimodal as fmm

    s = np.array(samples, dtype=np.int64)
    img = fmm.decode_jpeg(fmm.encode_lossless_jpeg(s, width=16, predictor=predictor))
    assert img.dtype == np.uint8
    n = max(1, -(-max(s.size, 1) // 16)) * 16
    want = np.zeros(n, dtype=np.int64)
    want[: s.size] = s
    assert img.shape == (n // 16, 16)
    assert (img.ravel() == want).all()


@given(st.lists(st.integers(0, 65535), max_size=120),
       st.integers(1, 7))
@settings(max_examples=60, deadline=None)
def test_jpeg_lossless_16bit_roundtrip(samples, predictor):
    # 16-bit lossless: diff categories up to 16 (the +32768 no-extra-
    # bits escape) and uint16 output
    import numpy as np
    from siddhi_execution_unique_spark.functions import multimodal as fmm

    s = np.array(samples, dtype=np.int64)
    img = fmm.decode_jpeg(
        fmm.encode_lossless_jpeg(s, width=10, predictor=predictor, precision=16))
    assert img.dtype == np.uint16
    n = max(1, -(-max(s.size, 1) // 10)) * 10
    want = np.zeros(n, dtype=np.int64)
    want[: s.size] = s
    assert (img.ravel() == want).all()


@given(st.lists(st.integers(0, 63), max_size=100))
@settings(max_examples=40, deadline=None)
def test_jpeg_lossless_point_transform(samples):
    # Pt divides samples by 2^Pt before coding; decode shifts back —
    # multiples of 2^Pt round-trip exactly
    import numpy as np
    from siddhi_execution_unique_spark.functions import multimodal as fmm

    s = np.array(samples, dtype=np.int64) * 4
    img = fmm.decode_jpeg(fmm.encode_lossless_jpeg(s, width=8, predictor=5, pt=2))
    assert (img.ravel()[: s.size] == s).all()


def test_jpeg_lossless_declared_boundaries():
    # the REMAINING lossless boundaries stay typed NotImplementedError:
    # restart markers, subsampled components (SOF11 decodes since r10)
    import struct
    import numpy as np
    import pytest
    from siddhi_execution_unique_spark.functions import multimodal as fmm

    base = fmm.encode_lossless_jpeg(np.arange(16), width=8)

    def seg(marker, payload):
        return bytes([0xFF, marker]) + struct.pack(">H", len(payload) + 2) + payload

    # inject DRI before SOS -> restart boundary
    sos = base.index(b"\xff\xda")
    with_dri = base[:sos] + seg(0xDD, struct.pack(">H", 4)) + base[sos:]
    with pytest.raises(NotImplementedError, match="restart"):
        fmm.decode_jpeg(with_dri)
    # rewrite SOF3 sampling factors to 2x2 -> subsampled lossless
    sof = base.index(b"\xff\xc3")
    subs = bytearray(base)
    subs[sof + 2 + 2 + 6 + 1] = 0x22  # comp 0 h/v nibble
    with pytest.raises(NotImplementedError, match="subsampled lossless"):
        fmm.decode_jpeg(bytes(subs))
    # the restart boundary holds on the SOF11 path too
    a = fmm.encode_lossless_jpeg_arith(np.arange(16), width=8)
    asos = a.index(b"\xff\xda")
    with pytest.raises(NotImplementedError, match="restart"):
        fmm.decode_jpeg(a[:asos] + seg(0xDD, struct.pack(">H", 4)) + a[asos:])


# --- arithmetic-coded LOSSLESS (SOF11) JPEG: the last cell of the
# --- T.81 process matrix (annex H predictor walk x annex D QM coder)

@given(st.lists(st.integers(0, 255), min_size=1, max_size=200),
       st.integers(1, 7))
@settings(max_examples=50, deadline=None)
def test_jpeg_arith_lossless_matches_huffman_lossless(body, predictor):
    # ground truth is the SOF3 huffman twin of the same samples: both
    # entropy coders must reproduce the input bit-exactly, pinning the
    # H.1.1 two-neighbor conditioning model (25 contexts + Db-selected
    # magnitude trees) against the certified predictor walk
    import numpy as np
    from siddhi_execution_unique_spark.functions import multimodal as fmm

    s = np.array(body, dtype=np.int64)
    a = fmm.decode_jpeg(fmm.encode_lossless_jpeg_arith(s, width=8,
                                                       predictor=predictor))
    h = fmm.decode_jpeg(fmm.encode_lossless_jpeg(s, width=8,
                                                 predictor=predictor))
    assert a.shape == h.shape and (a == h).all()
    assert (a.ravel()[: s.size] == s).all()


def test_jpeg_arith_lossless_precision_and_pt():
    # 12/16-bit precisions and the point transform through the SOF11
    # path; adversarial alternating extremes maximize |diff| (exercises
    # the deep X/M magnitude trees and the large-context classes)
    import numpy as np
    from siddhi_execution_unique_spark.functions import multimodal as fmm

    for prec in (8, 12, 16):
        maxv = (1 << prec) - 1
        s = np.tile(np.array([0, maxv, 0, maxv - 1, 1, maxv], dtype=np.int64), 9)
        img = fmm.decode_jpeg(
            fmm.encode_lossless_jpeg_arith(s, width=6, precision=prec))
        assert (img.ravel()[: s.size] == s).all()
        assert img.dtype == (np.uint8 if prec <= 8 else np.uint16)
    s = np.arange(24, dtype=np.int64) * 4
    img = fmm.decode_jpeg(
        fmm.encode_lossless_jpeg_arith(s, width=8, predictor=5, pt=2))
    assert (img.ravel()[: s.size] == s).all()
    # error contract: a truncated stream either raises a TYPED error
    # or decodes to a FULL-SHAPE image (T.81's QM decoder pads 1-bits
    # past the data end, so mid-scan truncation legally yields a
    # garbage-tail image of the declared dimensions) — never a hang,
    # an untyped crash, or a short array
    blob = fmm.encode_lossless_jpeg_arith(np.arange(64), width=8)
    for cut in range(2, len(blob)):
        try:
            img = fmm.decode_jpeg(blob[:cut])
        except (ValueError, NotImplementedError):
            continue
        assert img.shape == (8, 8)


# --- arithmetic-coded (SOF9) JPEG: QM coder roundtrip + libjpeg
# --- cross-conformance (ITU-T T.81 annexes D/E/F)

@given(st.lists(st.integers(0, 255), max_size=150))
@settings(max_examples=60, deadline=None)
def test_jpeg_arith_matches_baseline(body):
    # the arithmetic fixture encodes the SAME constant-block image as
    # the baseline huffman fixture, so decode must be bit-identical —
    # this pins the full DC-decision tree (zero/sign/magnitude
    # category/mantissa), conditioning reclassification, and EOB
    import numpy as np
    from siddhi_execution_unique_spark.functions import multimodal as fmm

    raw = bytes(body)
    a = fmm.decode_jpeg(fmm.encode_gray_jpeg(raw, w_blocks=8))
    b = fmm.decode_jpeg(fmm.encode_gray_jpeg_arith(raw, w_blocks=8))
    assert a.shape == b.shape and (a == b).all()


@given(st.lists(st.tuples(st.integers(0, 7), st.integers(0, 1)),
                max_size=4000),
       st.integers(0, 3))
@settings(max_examples=40, deadline=None)
def test_qm_coder_roundtrip(seq, salt):
    # the QM layer alone: any decision sequence over shared adaptive
    # contexts must survive encode->flush->decode, including stacked-
    # 0xFF carry resolution and the byte-stuffing convention
    from siddhi_execution_unique_spark.functions.multimodal import (
        _QMDecoder,
        _QMEncoder,
    )

    enc = _QMEncoder()
    be = [[0, 0] for _ in range(8)]
    for b, d in seq:
        enc.encode(be[(b + salt) % 8], d)
    data = enc.flush()
    dec = _QMDecoder(data, 0)
    bd = [[0, 0] for _ in range(8)]
    for b, d in seq:
        assert dec.decode(bd[(b + salt) % 8]) == d


def test_qm_fetch_rejects_ff_run_as_data():
    # T.81 F.2.2.3: only the immediate pair FF 00 is a stuffed literal
    # 0xFF; FF FF 00 is fill-then-truncation, never one data byte —
    # a malformed run must end the entropy segment (zero fill), not
    # silently decode as 0xFF (ADVICE r08)
    from siddhi_execution_unique_spark.functions.multimodal import _QMDecoder

    d = _QMDecoder(b"", 0)  # primed empty; reuse only _fetch
    d.data, d.bp, d.done = b"\xff\xff\x00", 0, False
    assert d._fetch() == 0 and d.done
    d.data, d.bp, d.done = b"\xff\x00\x41", 0, False
    assert d._fetch() == 0xFF and not d.done
    assert d._fetch() == 0x41
    d.data, d.bp, d.done = b"\xff\xd9", 0, False  # marker: end of data
    assert d._fetch() == 0 and d.done


def _build_jshim(tmp_path_factory):
    import shutil
    import subprocess

    if shutil.which("gcc") is None:
        return None
    d = tmp_path_factory.mktemp("jshim")
    import os
    src = os.path.join(os.path.dirname(__file__), "jshim.c")
    exe = str(d / "jshim")
    r = subprocess.run(["gcc", "-O2", "-o", exe, src, "-ljpeg", "-lpng"],
                       capture_output=True)
    if r.returncode != 0:
        # no libpng dev files: build jpeg-only (the PNG test probes
        # capabilities and skips itself)
        r = subprocess.run(
            ["gcc", "-O2", "-DNO_PNG", "-o", exe, src, "-ljpeg"],
            capture_output=True)
    return exe if r.returncode == 0 else None


import pytest as _pytest


@_pytest.fixture(scope="session")
def jshim(tmp_path_factory):
    exe = _build_jshim(tmp_path_factory)
    if exe is None:
        _pytest.skip("gcc/libjpeg not available for conformance check")
    return exe


def test_jpeg_arith_decodes_libjpeg_stream(jshim, tmp_path):
    # CONFORMANCE, decode direction: libjpeg transcodes the huffman
    # fixture to arithmetic coding (identical coefficients); our SOF9
    # decoder must reproduce the huffman decode bit-for-bit — gray
    # and 4:2:0-subsampled color
    import subprocess
    from siddhi_execution_unique_spark.functions import multimodal as fmm

    cases = {
        "gray": fmm.encode_gray_jpeg(b"conformance: the quick brown fox 123"),
        "c420": fmm.encode_gray_jpeg_420(b"subsampled arithmetic conformance!", w_mcus=4),
    }
    restarts = {"gray": "3", "c420": "0"}
    for name, payload in cases.items():
        src = tmp_path / f"{name}.jpg"
        dst = tmp_path / f"{name}_a.jpg"
        src.write_bytes(payload)
        cmd = [jshim, "toarith", str(src), str(dst)]
        if restarts[name] != "0":
            cmd.append(restarts[name])  # exercise F.2.4.3 restart re-init
        r = subprocess.run(cmd, capture_output=True)
        assert r.returncode == 0, r.stderr
        blob = dst.read_bytes()
        assert b"\xff\xc9" in blob  # really SOF9
        if restarts[name] != "0":
            assert any(blob[i] == 0xFF and 0xD0 <= blob[i + 1] <= 0xD7
                       for i in range(len(blob) - 1))
        a = fmm.decode_jpeg(payload)
        b = fmm.decode_jpeg(blob)
        assert a.shape == b.shape and (a == b).all(), name


def test_jpeg_arith_encoder_read_by_libjpeg(jshim, tmp_path):
    # CONFORMANCE, encode direction: libjpeg must read our QM
    # encoder's output and see exactly the constant-block DC plan
    import subprocess
    from siddhi_execution_unique_spark.functions import multimodal as fmm

    body = bytes(range(37)) + b"\xff\x00\x80 arithmetic"
    f = tmp_path / "mine.jpg"
    f.write_bytes(fmm.encode_gray_jpeg_arith(body))
    r = subprocess.run([jshim, "dump", str(f)], capture_output=True, text=True)
    assert r.returncode == 0, r.stderr
    lines = r.stdout.splitlines()
    dcs = [int(l.split()[0]) for l in lines[2:2 + len(body)]]
    assert dcs == [8 * (c - 128) for c in body]
    # every AC coefficient must be zero (immediate EOB per block)
    for l in lines[2:]:
        if l.startswith("comp"):
            continue
        assert all(int(x) == 0 for x in l.split()[1:])


def test_jpeg_arith_declared_boundaries():
    # SOF10 (progressive arithmetic) now DECODES; the differential/
    # hierarchical arithmetic processes stay typed boundaries, and a
    # sequential stream merely relabeled SOF10 is malformed (its
    # single scan spans the whole band as a "DC" scan) — fails LOUD
    import pytest
    from siddhi_execution_unique_spark.functions import multimodal as fmm

    base = fmm.encode_gray_jpeg_arith(bytes(range(8)))
    sof = base.index(b"\xff\xc9")
    diff = bytearray(base)
    diff[sof + 1] = 0xCE
    with pytest.raises(NotImplementedError, match="differential"):
        fmm.decode_jpeg(bytes(diff))
    relabeled = bytearray(base)
    relabeled[sof + 1] = 0xCA
    with pytest.raises(ValueError, match="DC scan"):
        fmm.decode_jpeg(bytes(relabeled))


def test_jpeg_progressive_arith_decodes_libjpeg_stream(jshim, tmp_path):
    # CONFORMANCE: libjpeg transcodes the fixture to PROGRESSIVE
    # arithmetic coding (SOF10, jpeg_simple_progression's multi-scan
    # successive-approximation script: DC first+refine, AC band
    # first+refines) — our decoder must reproduce the huffman decode
    # bit-for-bit, including restart-marker streams and 4:2:0 color
    import subprocess
    from siddhi_execution_unique_spark.functions import multimodal as fmm

    cases = {
        "gray": (fmm.encode_gray_jpeg(b"progressive arithmetic fox 314159"), "0"),
        "rst": (fmm.encode_gray_jpeg(b"with restart markers 271828182845"), "2"),
        "c420": (fmm.encode_gray_jpeg_420(b"subsampled progressive arith", w_mcus=4), "0"),
    }
    for name, (payload, rst) in cases.items():
        src = tmp_path / f"{name}.jpg"
        dst = tmp_path / f"{name}_pa.jpg"
        src.write_bytes(payload)
        r = subprocess.run([jshim, "toarith", str(src), str(dst), rst, "1"],
                           capture_output=True)
        assert r.returncode == 0, r.stderr
        blob = dst.read_bytes()
        assert b"\xff\xca" in blob  # really SOF10
        a = fmm.decode_jpeg(payload)
        b = fmm.decode_jpeg(blob)
        assert a.shape == b.shape and (a == b).all(), name


def test_png_decoder_matches_libpng(jshim, tmp_path):
    # CONFORMANCE: every PNG decode path — gray 8/16-bit, palette
    # (with and without a tRNS alpha table), sub-byte depths 1/2/4,
    # Adam7 interlacing, gray color-key transparency — must match the
    # canonical libpng decode bit-for-bit (PNG_TRANSFORM_EXPAND uses
    # the same bit-replication scaling and tRNS->alpha conventions)
    import subprocess
    import numpy as np
    from siddhi_execution_unique_spark.functions import multimodal as fmm

    caps = subprocess.run([jshim, "caps"], capture_output=True, text=True)
    if "png" not in caps.stdout:
        _pytest.skip("shim built without libpng")
    rng = np.random.default_rng(3)
    body = bytes(rng.integers(0, 256, size=400, dtype=np.uint8))
    pal = rng.integers(0, 256, size=(16, 3)).astype(np.uint8)
    trns = rng.integers(0, 256, size=10).astype(np.uint8)
    cases = {
        "gray8": fmm.encode_gray_png(body),
        "palette": fmm.encode_palette_png(body, pal),
        "palette_trns": fmm.encode_palette_png(body, pal, trns=trns),
        "sub1": fmm.encode_graysub_png(body, 1),
        "sub2_adam7": fmm.encode_graysub_png(body, 2, interlace=True),
        "sub4_key": fmm.encode_graysub_png(body, 4, trns_key=5),
        "gray16": fmm.encode_gray16_png(rng.integers(0, 65536, size=300)),
        "adam7": fmm.encode_gray_png_adam7(body),
    }
    for name, payload in cases.items():
        f = tmp_path / f"{name}.png"
        f.write_bytes(payload)
        r = subprocess.run([jshim, "pngdump", str(f)],
                           capture_output=True, text=True)
        assert r.returncode == 0, (name, r.stderr)
        lines = r.stdout.splitlines()
        w, h, ch, _depth = map(int, lines[0].split())
        theirs = np.array([list(map(int, l.split())) for l in lines[1:1 + h]])
        theirs = theirs.reshape(h, w, ch) if ch > 1 else theirs.reshape(h, w)
        ours = fmm.decode_png(payload)
        assert ours.shape == theirs.shape, name
        assert (ours.astype(np.int64) == theirs.astype(np.int64)).all(), name


@given(
    st.lists(st.integers(0, 200), min_size=0, max_size=60, unique=True),
    st.integers(2, 12),
)
@settings(max_examples=200, deadline=None)
def test_dup_span_interval_union_formula(anchors, k):
    # dup_span_coverage collapses the union of equal-length intervals
    # [i, i+k-1] into sum(min(k, i - prev)) over sorted anchors; pin
    # against the brute-force position-set union
    anchors = sorted(anchors)
    brute = len({p for i in anchors for p in range(i, i + k)})
    total = 0
    prev = None
    for i in anchors:
        total += k if prev is None else min(k, i - prev)
        prev = i
    assert total == brute


# --- mixed-pair join channels: lengthBatch ⋈ timeBatch emission log ---
# (VERDICT r11 item 4: derive the per-pair expiry rule from the
# reference's event-at-a-time join semantics, then lower what the
# simulation pins)


def _mixed_join_simulate(a_events, b_events, n, t_ms, anchor=0):
    """Event-at-a-time simulation of a Siddhi window-to-window join
    ``A#window.unique:lengthBatch(key, n) join
    B#window.unique:timeBatch(key, t_ms)`` on key equality, written
    from the reference processors' specs (UniqueLengthBatchWindow-
    Processor.java:171-191 fire/expire protocol + :226-233 find();
    UniqueTimeBatchWindowProcessor.java:235-266 flush + :318-328
    find() over eventsToBeExpired):

    - arrivals from both streams process in global (ts, event_id)
      order; B's scheduler ticks at every multiple of t_ms up to and
      including the end of B's LAST nonempty batch (the window's
      clock is its own event stream — the same per-instance-edge
      convention the partitioned operators certify; ticks at an
      instant precede arrivals at that instant);
    - a B tick flushes: the forming per-key map becomes the new
      findable batch (replacing the old one, possibly with an empty
      map), the flushed chunk probes A's forming unique map and emits
      CURRENT pairs, and the replaced batch probes A's forming map
      and emits EXPIRED pairs — all at the tick time;
    - an A arrival updates A's forming map (keep=last); the Nth
      distinct key fires: the fired chunk probes B's findable batch
      for CURRENT pairs and the previous A batch re-emits against
      B's findable batch as EXPIRED pairs, at the arrival's ts.

    Returns a sorted list of (channel, a_eid, b_eid, t) emissions
    (a multiset — one pair can emit several times through different
    probes, exactly as in the reference)."""
    out = []
    ticks = []
    if b_events:
        # ticks run on the anchored grid (start.time): slot of ts is
        # floor((ts - anchor)/T), so pre-anchor events live in
        # NEGATIVE slots whose ticks fire before the anchor + T line
        b_ts = [ts for ts, _, _ in b_events]
        k0 = (min(b_ts) - anchor) // t_ms
        k1 = (max(b_ts) - anchor) // t_ms
        ticks = [anchor + (k + 1) * t_ms for k in range(k0, k1 + 1)]
    arrivals = sorted(
        [(ts, eid, key, "A") for ts, eid, key in a_events]
        + [(ts, eid, key, "B") for ts, eid, key in b_events],
        key=lambda e: (e[0], e[1]),
    )
    forming_a: dict = {}   # key -> a_eid (keep=last)
    prev_a: dict = {}      # previous fired A batch: key -> a_eid
    a_fired_once = False
    forming_b: dict = {}
    findable_b: dict = {}
    ti = ai = 0
    while ti < len(ticks) or ai < len(arrivals):
        tick = ticks[ti] if ti < len(ticks) else None
        arr = arrivals[ai] if ai < len(arrivals) else None
        if tick is not None and (arr is None or tick <= arr[0]):
            ti += 1
            flushed = dict(forming_b)
            replaced = dict(findable_b)
            for key, b_eid in flushed.items():
                if key in forming_a:
                    out.append(("current", forming_a[key], b_eid, tick))
            for key, b_eid in replaced.items():
                if key in forming_a:
                    out.append(("expired", forming_a[key], b_eid, tick))
            findable_b = flushed
            forming_b = {}
            continue
        ts, eid, key, side = arr
        ai += 1
        if side == "B":
            forming_b[key] = eid
            continue
        forming_a[key] = eid
        if len(forming_a) == n:
            for k2, a_eid in forming_a.items():
                if k2 in findable_b:
                    out.append(("current", a_eid, findable_b[k2], ts))
            if a_fired_once:
                for k2, a_eid in prev_a.items():
                    if k2 in findable_b:
                        out.append(("expired", a_eid, findable_b[k2], ts))
            prev_a = dict(forming_a)
            a_fired_once = True
            forming_a = {}
    return sorted(out)


def _mixed_join_closed_form(a_events, b_events, n, t_ms, anchor=0):
    """Pure-Python mirror of the batch interval algebra the Spark
    lowering and DuckDB oracle implement (siddhiql._join_mixed_
    channels): four emission logs joined against the other side's
    probe-validity intervals.

    B (timeBatch): batch in slot k holds the per-key last event of
    [kT,(k+1)T); it is findable during [(k+1)T,(k+2)T) — clamped so
    the LAST batch stays findable forever — emits CURRENT at (k+1)T
    and EXPIRED at (k+2)T (every batch but the last). A probe at
    time f therefore matches the batch with slot
    min(f//T, k_last+1) - 1.

    A (lengthBatch): fired batch p emits CURRENT at fire p and
    EXPIRED at fire p+1 against B's findable rule; a forming-map row
    arriving at ``ts`` is probe-valid during (ts, to] with
    to = min(next same-key arrival in the same forming period, the
    period's fire) — ∞ when the period never closes — because B's
    tick at an instant precedes arrivals at that instant."""
    out = []
    if b_events:
        by_slot: dict = {}
        for ts, eid, key in sorted(b_events, key=lambda e: (e[0], e[1])):
            by_slot.setdefault((ts - anchor) // t_ms, {})[key] = eid
        k_last = max(by_slot)
    else:
        by_slot, k_last = {}, None

    def b_findable(f):
        # floor bucketing, NOT truncation toward zero: a probe before
        # the anchor sits in a negative slot (the ADVICE r12 edge)
        if k_last is None:
            return {}
        return by_slot.get(min((f - anchor) // t_ms, k_last + 1) - 1, {})

    # A chain walk: fired batches + per-event forming intervals
    a_sorted = sorted(a_events, key=lambda e: (e[0], e[1]))
    batches: list = []   # (fire_ts, {key: eid})
    forming: dict = {}   # key -> (ts, eid)
    intervals: list = []  # (key, a_eid, from_ts, to_ts|None)
    open_rows: dict = {}  # key -> (ts, eid) of currently-valid forming row
    period_rows: list = []  # rows opened in the current period
    for ts, eid, key in a_sorted:
        if key in open_rows:
            o_ts, o_eid = open_rows[key]
            intervals.append((key, o_eid, o_ts, ts))  # displaced
        open_rows[key] = (ts, eid)
        forming[key] = eid
        if len(forming) == n:
            for k2, (o_ts, o_eid) in open_rows.items():
                intervals.append((k2, o_eid, o_ts, ts))  # fired
            batches.append((ts, dict(forming)))
            forming = {}
            open_rows = {}
    for k2, (o_ts, o_eid) in open_rows.items():
        intervals.append((k2, o_eid, o_ts, None))  # never closes
    # e1/e2: A chunks probe B's findable batch
    for p, (fire_ts, rows) in enumerate(batches):
        fb = b_findable(fire_ts)
        for key, a_eid in rows.items():
            if key in fb:
                out.append(("current", a_eid, fb[key], fire_ts))
        if p + 1 < len(batches):
            nxt_fire = batches[p + 1][0]
            fb2 = b_findable(nxt_fire)
            for key, a_eid in rows.items():
                if key in fb2:
                    out.append(("expired", a_eid, fb2[key], nxt_fire))
    # e3/e4: B chunks probe A's forming intervals
    for k, rows in by_slot.items():
        for channel, tau in (("current", anchor + (k + 1) * t_ms),
                             ("expired", anchor + (k + 2) * t_ms)):
            if channel == "expired" and k == k_last:
                continue  # the last batch never expires
            for key, b_eid in rows.items():
                for ikey, a_eid, frm, to in intervals:
                    if ikey == key and frm < tau and (to is None or tau <= to):
                        out.append((channel, a_eid, b_eid, tau))
    return sorted(out)


@given(
    st.integers(2, 4),                       # lengthBatch N
    st.sampled_from([7, 10, 25]),            # timeBatch T
    st.sampled_from([0, 3, 5]),              # start.time anchor
    st.lists(st.tuples(st.integers(0, 120), st.integers(0, 4),
                       st.booleans()), max_size=40),  # (ts, key, side)
)
@settings(max_examples=300, deadline=None)
def test_mixed_join_channels_algebra_matches_simulation(n, t_ms, anchor, raw):
    """The emission-log interval algebra for a MIXED lengthBatch ⋈
    timeBatch join's current/expired channels must equal the
    event-at-a-time reference simulation for arbitrary two-stream
    interleavings — including arrivals at tick instants, same-ms
    arrivals on both streams, displacement chains, empty B slots,
    and a start.time anchor with PRE-ANCHOR events (negative slots,
    the ADVICE r12 floor-vs-truncation edge)."""
    a_events = [(ts, i, f"k{key}") for i, (ts, key, s) in enumerate(raw) if s]
    b_events = [(ts, i, f"k{key}") for i, (ts, key, s) in enumerate(raw)
                if not s]
    sim = _mixed_join_simulate(a_events, b_events, n, t_ms, anchor)
    alg = _mixed_join_closed_form(a_events, b_events, n, t_ms, anchor)
    assert sim == alg


# --- NON-BATCH ⋈ timeBatch: ever/first/time/length join channels ---
# (VERDICT r12 item 2: the last join-channel gap — derive each
# non-batch window's live-interval protocol from the reference
# processor, simulate event-at-a-time, then lower only what the
# simulation pins)


def _x_live_intervals(kind, xparam, x_events):
    """Per-event live interval of a NON-BATCH unique window, from the
    reference processors (value-equality convention pinned since r01):

    - ever  (UniqueEverWindowProcessor.java:157-165): enter at
      arrival, exit at the next same-key arrival (the displaced event
      emits EXPIRED there); find() = map.values(), latest per key.
    - first (UniqueFirstWindowProcessor.java:129-132): only the FIRST
      arrival per key enters (duplicates are dropped from the chunk
      entirely); never exits, never expires.
    - time  (UniqueTimeWindowProcessor.java:177-215): enter at
      arrival; exit at min(next same-key arrival, enter + T); the T
      exit is a TIMER (kind 't' — scheduler instants precede arrivals
      and flush ticks probe around it per the certified convention),
      displacement is an arrival (kind 'a'); find() = the live
      expiredEventChunk, NOT the never-pruned map.
    - length(UniqueLengthWindowProcessor.java:141-166): enter at
      arrival; exit at min(next same-key arrival, the arrival of the
      N-th distinct other key first-occurring after it) — the
      idealized FIFO pinned by fifo_replay above; both exits are
      arrivals (kind 'a').

    Returns [(key, eid, enter_ms, exit_ms|None, kind 'a'/'t'|None)],
    and for 'first' only the entering arrivals appear at all."""
    xs = sorted(x_events, key=lambda e: (e[0], e[1]))
    out = []
    if kind in ("ever", "time"):
        nxt: dict = {}
        for ts, eid, key in reversed(xs):
            n_ts = nxt.get(key)
            if kind == "ever":
                out.append((key, eid, ts, n_ts, "a" if n_ts is not None else None))
            else:
                t_exit = ts + xparam
                if n_ts is None or t_exit <= n_ts:
                    out.append((key, eid, ts, t_exit, "t"))
                else:
                    out.append((key, eid, ts, n_ts, "a"))
            nxt[key] = ts
        out.reverse()
    elif kind == "first":
        seen: set = set()
        for ts, eid, key in xs:
            if key not in seen:
                seen.add(key)
                out.append((key, eid, ts, None, None))
    elif kind == "length":
        fifo: dict = {}  # insertion-ordered key -> (eid, enter_ms)
        exits: dict = {}  # eid -> exit_ms
        for ts, eid, key in xs:
            if key in fifo:
                exits[fifo.pop(key)[0]] = ts
            elif len(fifo) == xparam:
                oldest = next(iter(fifo))
                exits[fifo.pop(oldest)[0]] = ts
            fifo[key] = (eid, ts)
        for ts, eid, key in xs:
            x = exits.get(eid)
            out.append((key, eid, ts, x, "a" if x is not None else None))
    else:
        raise ValueError(kind)
    return out


def _x_tb_join_simulate(kind, xparam, x_events, b_events, t_ms, anchor=0):
    """Event-at-a-time simulation of ``X#window.unique:<kind>(...)
    join B#window.unique:timeBatch(key, t_ms[, anchor])`` on key
    equality, mechanically independent of the closed form (explicit
    per-instant scheduler loop; the X side replays the reference
    processor's map/FIFO/chunk, not the interval arithmetic).

    Pinned instant convention (the certified tt/mixed one): at a
    shared instant, scheduler EXITS probe the other side's
    PRE-transition state (B's replaced batch probes X before timer
    removals; X's timer-expired chunk probes B before the flush),
    then ALL transitions apply, then scheduler ENTERS probe the
    POST-transition state (B's flushed chunk probes X after timer
    removals), then arrivals process in (ms, eid) order against the
    post-tick state."""
    out = []
    ticks = []
    if b_events:
        b_ts = [ts for ts, _, _ in b_events]
        k0 = (min(b_ts) - anchor) // t_ms
        k1 = (max(b_ts) - anchor) // t_ms
        ticks = [anchor + (k + 1) * t_ms for k in range(k0, k1 + 1)]
    arrivals = sorted(
        [(ts, eid, key, "X") for ts, eid, key in x_events]
        + [(ts, eid, key, "B") for ts, eid, key in b_events],
        key=lambda e: (e[0], e[1]),
    )
    # timer candidates (kind == 'time'): enter + T per X arrival;
    # displaced events cancel by leaving the live map first
    timer_cands = sorted(
        {ts + xparam for ts, _, _ in x_events}) if kind == "time" else []
    sched = sorted({(t, "tick") for t in ticks}
                   | {(t, "timer") for t in timer_cands})

    live: dict = {}      # key -> (eid, enter_ms): the live/find() map
    first_seen: set = set()
    fifo_order: list = []  # keys, oldest first (kind == 'length')
    forming_b: dict = {}
    findable_b: dict = {}
    si = ai = 0
    while si < len(sched) or ai < len(arrivals):
        s = sched[si] if si < len(sched) else None
        arr = arrivals[ai] if ai < len(arrivals) else None
        if s is not None and (arr is None or s[0] <= arr[0]):
            tau = s[0]
            group = []
            while si < len(sched) and sched[si][0] == tau:
                group.append(sched[si][1])
                si += 1
            is_tick = "tick" in group and tau in set(ticks)
            ripe = ([(k, v) for k, v in live.items() if v[1] + xparam == tau]
                    if kind == "time" and "timer" in group else [])
            # 1. exits probe PRE-transition state of the other side
            if is_tick:
                for key, b_eid in findable_b.items():
                    if key in live:
                        out.append(("expired", live[key][0], b_eid, tau))
            for key, (x_eid, _) in ripe:
                if key in findable_b:
                    out.append(("expired", x_eid, findable_b[key], tau))
            # 2. transitions
            for key, _ in ripe:
                del live[key]
            if is_tick:
                findable_b = dict(forming_b)
                forming_b = {}
            # 3. enters probe POST-transition state
            if is_tick:
                for key, b_eid in findable_b.items():
                    if key in live:
                        out.append(("current", live[key][0], b_eid, tau))
            continue
        ts, eid, key, side = arr
        ai += 1
        if side == "B":
            forming_b[key] = eid
            continue
        # X arrival against the post-tick findable batch
        if kind == "first":
            if key in first_seen:
                continue
            first_seen.add(key)
            live[key] = (eid, ts)
        elif kind == "length":
            if key in live:
                old = live.pop(key)
                fifo_order.remove(key)
                if key in findable_b:
                    out.append(("expired", old[0], findable_b[key], ts))
            elif len(live) == xparam:
                oldest = fifo_order.pop(0)
                old = live.pop(oldest)
                if oldest in findable_b:
                    out.append(("expired", old[0], findable_b[oldest], ts))
            live[key] = (eid, ts)
            fifo_order.append(key)
        else:  # ever / time: same-key displacement
            if key in live:
                old = live.pop(key)
                if key in findable_b:
                    out.append(("expired", old[0], findable_b[key], ts))
            live[key] = (eid, ts)
        if key in findable_b:
            out.append(("current", eid, findable_b[key], ts))
    return sorted(out)


def _x_tb_join_closed_form(kind, xparam, x_events, b_events, t_ms, anchor=0):
    """Interval algebra (what the Spark lowering and DuckDB oracles
    implement): X's live intervals from :func:`_x_live_intervals`;
    timeBatch batch in slot m holds the per-key kept event of
    [anchor+mT, anchor+(m+1)T), is findable from its flush
    (the LAST batch forever), emits CURRENT at the flush and EXPIRED
    one slot later (every batch but the last).

    - e1/e2 (X chunks probe B's find()): the current chunk at enter a
      and the expired chunk at exit x match the batch in slot
      min(floor((f-anchor)/T), m_last+1) - 1 — with f = the probe
      instant, minus one ms for TIMER exits (scheduler exits probe
      B's PRE-flush state at shared instants).
    - e3/e4 (B chunks probe X's live set): the flushed chunk at
      tau = anchor+(m+1)T sees intervals with a < tau and exit > tau
      (arrival exits AT tau still live — ticks precede arrivals;
      timer exits AT tau already applied); the expiring chunk at
      tau' = anchor+(m+2)T probes PRE-transition: a < tau',
      exit >= tau' for both exit kinds."""
    ivs = _x_live_intervals(kind, xparam, x_events)
    out = []
    if b_events:
        by_slot: dict = {}
        for ts, eid, key in sorted(b_events, key=lambda e: (e[0], e[1])):
            by_slot.setdefault((ts - anchor) // t_ms, {})[key] = eid
        k_last = max(by_slot)
    else:
        return []

    def b_findable(f):
        return by_slot.get(min((f - anchor) // t_ms, k_last + 1) - 1, {})

    # e1/e2: X probes
    for key, eid, a, x, xk in ivs:
        fb = b_findable(a)
        if key in fb:
            out.append(("current", eid, fb[key], a))
        if x is not None:
            fb = b_findable(x - 1 if xk == "t" else x)
            if key in fb:
                out.append(("expired", eid, fb[key], x))
    # e3/e4: B probes
    for m, rows in by_slot.items():
        for channel, tau in (("current", anchor + (m + 1) * t_ms),
                             ("expired", anchor + (m + 2) * t_ms)):
            if channel == "expired" and m == k_last:
                continue
            for key, b_eid in rows.items():
                for ikey, x_eid, a, x, xk in ivs:
                    if ikey != key or a >= tau:
                        continue
                    if channel == "current":
                        ok = x is None or x > tau or (x == tau and xk == "a")
                    else:
                        ok = x is None or x >= tau
                    if ok:
                        out.append((channel, x_eid, b_eid, tau))
    return sorted(out)


@given(
    st.sampled_from(["ever", "first", "time", "length"]),
    st.sampled_from([7, 10, 25]),            # timeBatch T
    st.sampled_from([0, 3, 5]),              # start.time anchor
    st.sampled_from([15, 30, 3]),            # X param (time T / length N)
    st.lists(st.tuples(st.integers(0, 120), st.integers(0, 4),
                       st.booleans()), max_size=40),  # (ts, key, side)
)
@settings(max_examples=400, deadline=None)
def test_x_tb_join_channels_algebra_matches_simulation(
        kind, t_ms, anchor, xparam, raw):
    """The live-interval algebra for every NON-BATCH window ⋈
    timeBatch join (ever/first/time/length — VERDICT r12 item 2) must
    equal the event-at-a-time reference simulation for arbitrary
    interleavings — including timer exits colliding with flush ticks,
    displacement at tick instants, FIFO evictions, duplicate-dropping
    (first), anchored grids, and pre-anchor events."""
    if kind == "length":
        xparam = max(1, xparam % 5)
    x_events = [(ts, i, f"k{key}") for i, (ts, key, s) in enumerate(raw) if s]
    b_events = [(ts, i, f"k{key}") for i, (ts, key, s) in enumerate(raw)
                if not s]
    sim = _x_tb_join_simulate(kind, xparam, x_events, b_events, t_ms, anchor)
    alg = _x_tb_join_closed_form(kind, xparam, x_events, b_events, t_ms,
                                 anchor)
    assert sim == alg


# --- mixed timeBatch ⋈ timeBatch (different grids): co-residency ---


def _tt_join_simulate(a_events, b_events, ta, tb, anchor_a=0, anchor_b=0):
    """Event-at-a-time simulation of two unique:timeBatch windows with
    DIFFERENT tumbling grids joined on key equality, under the
    co-residency convention that generalizes the certified
    aligned-pair protocol (and reduces to it on identical grids):

    - each window's batch becomes findable at its flush tick and is
      replaced at its next tick (the LAST batch stays findable
      forever — per-instance-edge convention, ticks stop at the
      window's own last batch end);
    - a key-matched pair emits CURRENT once, at the instant the
      LATER of the two batches becomes findable while the other is
      (still) findable — at a shared tick both flushes precede the
      probe, exactly the aligned batch-k ⋈ batch-k rule;
    - the pair re-emits EXPIRED at the instant the EARLIER side's
      findable interval ends (its expired chunk probes the other
      side pre-transition at shared instants — again the aligned
      rule); pairs where both sides are final never expire.

    Implemented as a timeline scan over both windows' transition
    instants with explicit per-pair bookkeeping — mechanically
    independent of the closed form's interval arithmetic."""
    out = []

    def batches(events, t, anchor):
        by = {}
        for ts, eid, key in sorted(events, key=lambda e: (e[0], e[1])):
            by.setdefault((ts - anchor) // t, {})[key] = eid
        return by

    ba, bb = batches(a_events, ta, anchor_a), batches(b_events, tb, anchor_b)
    if not ba or not bb:
        return []
    la, lb = max(ba), max(bb)

    def transitions(by, t, anchor, last):
        # (instant, kind, slot): batch enters findable at its end,
        # leaves (emitting its expired chunk) one slot later
        evs = []
        for m in by:
            evs.append((anchor + (m + 1) * t, "enter", m))
            if m != last:
                evs.append((anchor + (m + 2) * t, "exit", m))
        return evs

    timeline = sorted(
        [(at, "A", kind, m) for at, kind, m in transitions(ba, ta, anchor_a, la)]
        + [(at, "B", kind, m) for at, kind, m in transitions(bb, tb, anchor_b, lb)],
        key=lambda e: (e[0], e[1]),
    )
    find_a: dict | None = None
    find_b: dict | None = None
    live_pairs: set = set()
    i = 0
    while i < len(timeline):
        at = timeline[i][0]
        group = []
        while i < len(timeline) and timeline[i][0] == at:
            group.append(timeline[i])
            i += 1
        # exits probe PRE-transition state of the other side
        for _, side, kind, m in group:
            if kind != "exit":
                continue
            chunk, other = (ba[m], find_b) if side == "A" else (bb[m], find_a)
            if other is None:
                continue
            for key, eid in chunk.items():
                if key in other:
                    pair = (eid, other[key]) if side == "A" else (other[key], eid)
                    if pair in live_pairs:
                        out.append(("expired", pair[0], pair[1], at))
                        live_pairs.discard(pair)
        # then ALL enters transition state...
        for _, side, kind, m in group:
            if kind != "exit":
                if side == "A":
                    find_a = ba[m]
                else:
                    find_b = bb[m]
            elif (side == "A" and find_a is ba[m]):
                find_a = None
            elif (side == "B" and find_b is bb[m]):
                find_b = None
        # ...then each entering chunk probes POST-transition state,
        # emitting each co-starting pair once
        entered = [(side, m) for _, side, kind, m in group if kind == "enter"]
        seen_here: set = set()
        for side, m in entered:
            chunk, other = (ba[m], find_b) if side == "A" else (bb[m], find_a)
            if other is None:
                continue
            for key, eid in chunk.items():
                if key in other:
                    pair = (eid, other[key]) if side == "A" else (other[key], eid)
                    if pair not in seen_here and pair not in live_pairs:
                        out.append(("current", pair[0], pair[1], at))
                        live_pairs.add(pair)
                        seen_here.add(pair)
    return sorted(out)


def _tt_join_closed_form(a_events, b_events, ta, tb, anchor_a=0, anchor_b=0):
    """Interval algebra (what the Spark lowering and DuckDB oracle
    implement): batch slot m is findable during [end, end + T) —
    [end, ∞) for the last batch — and a key-matched pair with
    intersecting findable intervals emits CURRENT at
    max(end_a, end_b) and EXPIRED at min(exit_a, exit_b) when that
    is finite."""
    def batches(events, t, anchor):
        by = {}
        for ts, eid, key in sorted(events, key=lambda e: (e[0], e[1])):
            by.setdefault((ts - anchor) // t, {})[key] = eid
        return by

    ba, bb = batches(a_events, ta, anchor_a), batches(b_events, tb, anchor_b)
    out = []
    if not ba or not bb:
        return []
    la, lb = max(ba), max(bb)
    for ma, rows_a in ba.items():
        ea = anchor_a + (ma + 1) * ta
        va = None if ma == la else ea + ta
        for mb, rows_b in bb.items():
            eb = anchor_b + (mb + 1) * tb
            vb = None if mb == lb else eb + tb
            start = max(ea, eb)
            if (va is not None and start >= va) or (vb is not None and start >= vb):
                continue  # intervals do not intersect
            for key, a_eid in rows_a.items():
                if key in rows_b:
                    out.append(("current", a_eid, rows_b[key], start))
                    if va is not None or vb is not None:
                        exit_at = min(x for x in (va, vb) if x is not None)
                        out.append(("expired", a_eid, rows_b[key], exit_at))
    return sorted(out)


@given(
    st.sampled_from([(5, 7), (10, 25), (7, 21), (10, 10)]),  # (T_A, T_B)
    st.sampled_from([(0, 0), (0, 3), (2, 5)]),               # anchors
    st.lists(st.tuples(st.integers(0, 120), st.integers(0, 4),
                       st.booleans()), max_size=40),
)
@settings(max_examples=300, deadline=None)
def test_tt_mixed_join_coresidency_matches_simulation(ts_pair, anchors, raw):
    """The co-residency interval algebra for a MIXED timeBatch ⋈
    timeBatch join must equal the event-at-a-time simulation for
    arbitrary grids (coprime, multiple, identical) and anchors —
    including coinciding lcm ticks, empty slots, and last-batch
    clamps. On identical grids both must reduce to the certified
    aligned batch-k ⋈ batch-k protocol."""
    ta, tb = ts_pair
    aa, ab = anchors
    a_events = [(ts, i, f"k{key}") for i, (ts, key, s) in enumerate(raw) if s]
    b_events = [(ts, i, f"k{key}") for i, (ts, key, s) in enumerate(raw)
                if not s]
    sim = _tt_join_simulate(a_events, b_events, ta, tb, aa, ab)
    alg = _tt_join_closed_form(a_events, b_events, ta, tb, aa, ab)
    assert sim == alg


# --- mixed externalTimeBatch ⋈ timeBatch: emission-log channels ---


def _etb_tb_join_simulate(e_events, b_events, te, tb, anchor_e=0):
    """Event-at-a-time simulation of ``E#window.unique:
    externalTimeBatch(key, ts, te, anchor_e) join
    B#window.unique:timeBatch(key, tb)`` on key equality.

    externalTimeBatch (UniqueExternalTimeBatchWindowProcessor.java:
    283-318,363-366,491-503): flushes ONLY on an arrival crossing the
    forming batch's end — the forming batch emits CURRENT and the
    previously-flushed batch re-emits EXPIRED, both probing the other
    window at the arrival's instant; ``find()`` exposes the last
    FLUSHED batch. timeBatch is tick-driven as in the certified
    conventions (ticks precede same-instant arrivals; the last batch
    stays findable forever). Returns sorted (channel, e_eid, b_eid, t)
    emissions."""
    out = []
    ticks = []
    if b_events:
        last_end = (max(ts for ts, _, _ in b_events) // tb + 1) * tb
        ticks = list(range(tb, last_end + 1, tb))
    arrivals = sorted(
        [(ts, eid, key, "E") for ts, eid, key in e_events]
        + [(ts, eid, key, "B") for ts, eid, key in b_events],
        key=lambda e: (e[0], e[1]),
    )
    forming_e: dict = {}      # key -> eid (keep=last)
    forming_slot: int | None = None
    flushed_e: dict = {}      # expiredEvents: last flushed batch
    has_flushed = False
    forming_b: dict = {}
    findable_b: dict = {}
    ti = ai = 0
    while ti < len(ticks) or ai < len(arrivals):
        tick = ticks[ti] if ti < len(ticks) else None
        arr = arrivals[ai] if ai < len(arrivals) else None
        if tick is not None and (arr is None or tick <= arr[0]):
            ti += 1
            flushed = dict(forming_b)
            replaced = dict(findable_b)
            probe = flushed_e if has_flushed else {}
            for key, b_eid in flushed.items():
                if key in probe:
                    out.append(("current", probe[key], b_eid, tick))
            for key, b_eid in replaced.items():
                if key in probe:
                    out.append(("expired", probe[key], b_eid, tick))
            findable_b = flushed
            forming_b = {}
            continue
        ts, eid, key, side = arr
        ai += 1
        if side == "B":
            forming_b[key] = eid
            continue
        slot = (ts - anchor_e) // te
        if forming_slot is not None and slot != forming_slot:
            # crossing arrival: the forming batch flushes as CURRENT
            # and the batch sitting in expiredEvents re-emits as
            # EXPIRED, both probing the other window at this instant;
            # then the flushed batch replaces expiredEvents
            for k2, e_eid in forming_e.items():
                if k2 in findable_b:
                    out.append(("current", e_eid, findable_b[k2], ts))
            if has_flushed:
                for k2, e_eid in flushed_e.items():
                    if k2 in findable_b:
                        out.append(("expired", e_eid, findable_b[k2], ts))
            flushed_e, has_flushed = dict(forming_e), True
            forming_e = {}
        forming_slot = slot
        forming_e[key] = eid
    return sorted(out)


def _etb_tb_join_closed_form(e_events, b_events, te, tb, anchor_e=0):
    """Batch interval algebra (the Spark lowering / DuckDB oracle):
    E's PRESENT batches in rank order flush at the first event of the
    next rank — batch rank i emits CURRENT at flush(i), re-emits
    EXPIRED at flush(i+1)'s... i.e. the first event of rank i+2, and
    is findable (as ``expiredEvents``) during (flush(i),
    flush(i+1)] for tick-driven probes — open for the last flushed
    batch. Arrival-driven probes match timeBatch's findable slot via
    the clamp rule."""
    out = []
    eb: dict = {}
    first_ms: dict = {}
    for ts, eid, key in sorted(e_events, key=lambda e: (e[0], e[1])):
        slot = (ts - anchor_e) // te
        eb.setdefault(slot, {})[key] = eid
        first_ms.setdefault(slot, ts)
    ranks = sorted(eb)
    if b_events:
        by_slot: dict = {}
        for ts, eid, key in sorted(b_events, key=lambda e: (e[0], e[1])):
            by_slot.setdefault(ts // tb, {})[key] = eid
        k_last = max(by_slot)
    else:
        by_slot, k_last = {}, None

    def b_findable(f):
        if k_last is None:
            return {}
        return by_slot.get(min(f // tb, k_last + 1) - 1, {})

    # e1/e2: E chunks probe B's findable batch
    for i, slot in enumerate(ranks):
        flush = first_ms[ranks[i + 1]] if i + 1 < len(ranks) else None
        if flush is not None:
            fb = b_findable(flush)
            for key, e_eid in eb[slot].items():
                if key in fb:
                    out.append(("current", e_eid, fb[key], flush))
        exp_at = first_ms[ranks[i + 2]] if i + 2 < len(ranks) else None
        if exp_at is not None:
            fb2 = b_findable(exp_at)
            for key, e_eid in eb[slot].items():
                if key in fb2:
                    out.append(("expired", e_eid, fb2[key], exp_at))
    # e3/e4: B chunks probe E's flushed-batch intervals
    intervals = []
    for i, slot in enumerate(ranks):
        if i + 1 >= len(ranks):
            continue  # never flushed
        frm = first_ms[ranks[i + 1]]
        tto = first_ms[ranks[i + 2]] if i + 2 < len(ranks) else None
        intervals.append((slot, frm, tto))
    for k, rows_b in by_slot.items():
        for channel, tau in (("current", (k + 1) * tb),
                             ("expired", (k + 2) * tb)):
            if channel == "expired" and k == k_last:
                continue
            for slot, frm, tto in intervals:
                if frm < tau and (tto is None or tau <= tto):
                    for key, b_eid in rows_b.items():
                        if key in eb[slot]:
                            out.append((channel, eb[slot][key], b_eid, tau))
    return sorted(out)


@given(
    st.sampled_from([(5, 7), (10, 25), (21, 7), (10, 10)]),  # (T_E, T_B)
    st.sampled_from([0, 3]),                                  # E anchor
    st.lists(st.tuples(st.integers(0, 120), st.integers(0, 4),
                       st.booleans()), max_size=40),
)
@settings(max_examples=300, deadline=None)
def test_etb_tb_mixed_join_algebra_matches_simulation(ts_pair, ae, raw):
    """The emission-log algebra for a MIXED externalTimeBatch ⋈
    timeBatch join must equal the event-at-a-time simulation —
    including skipped slots (external flushes only on present
    ranks), flush arrivals landing on B ticks, and the
    last-flushed-batch open interval."""
    te, tb = ts_pair
    e_events = [(ts, i, f"k{key}") for i, (ts, key, s) in enumerate(raw) if s]
    b_events = [(ts, i, f"k{key}") for i, (ts, key, s) in enumerate(raw)
                if not s]
    sim = _etb_tb_join_simulate(e_events, b_events, te, tb, ae)
    alg = _etb_tb_join_closed_form(e_events, b_events, te, tb, ae)
    assert sim == alg


# --- mixed lengthBatch ⋈ lengthBatch: arrival-ordered emission log ---


def _ll_join_simulate(a_events, b_events, na, nb):
    """Event-at-a-time simulation of ``A#window.unique:lengthBatch
    (key, na) join B#window.unique:lengthBatch(key, nb)`` on key
    equality. Both windows are arrival-driven; the engine pins the
    cross-stream arrival order as global (ts, tiebreak) — tiebreak
    ids are unique across both streams — so every interleave is
    deterministic. A fire's current chunk (the fired batch) and
    expired chunk (the previous batch) probe the OTHER window's
    forming unique map at that arrival (reference find() searches
    uniqueEventMap.values(), UniqueLengthBatchWindowProcessor.java:
    226-233). Returns sorted (channel, a_eid, b_eid) emissions (times
    omitted — instants are (ms, tiebreak) pairs)."""
    out = []
    arrivals = sorted(
        [(ts, eid, key, "A") for ts, eid, key in a_events]
        + [(ts, eid, key, "B") for ts, eid, key in b_events],
        key=lambda e: (e[0], e[1]),
    )
    forming = {"A": {}, "B": {}}
    prev_batch = {"A": {}, "B": {}}
    fired_once = {"A": False, "B": False}
    n_of = {"A": na, "B": nb}
    for ts, eid, key, side in arrivals:
        other = "B" if side == "A" else "A"
        forming[side][key] = eid
        if len(forming[side]) == n_of[side]:
            for k2, eid2 in forming[side].items():
                if k2 in forming[other]:
                    pair = ((eid2, forming[other][k2]) if side == "A"
                            else (forming[other][k2], eid2))
                    out.append(("current", pair[0], pair[1]))
            if fired_once[side]:
                for k2, eid2 in prev_batch[side].items():
                    if k2 in forming[other]:
                        pair = ((eid2, forming[other][k2]) if side == "A"
                                else (forming[other][k2], eid2))
                        out.append(("expired", pair[0], pair[1]))
            prev_batch[side] = dict(forming[side])
            fired_once[side] = True
            forming[side] = {}
    return sorted(out)


def _ll_join_closed_form(a_events, b_events, na, nb):
    """Batch algebra (the Spark lowering / DuckDB oracle): per side,
    fired batches with their fire INSTANT (the lexicographic max
    (ms, tiebreak) over the batch's retained rows = the firing
    arrival) and forming-map validity intervals in (ms, tiebreak)
    instants — a row is visible to a probe p iff enter < p < leave
    (instants are unique across the union, so no boundary ties).
    Emissions: each side's current chunk (at its fire instant) and
    expired chunk (at the NEXT fire instant) probe the other side's
    intervals."""
    def chain(events, n):
        ev = sorted(events, key=lambda e: (e[0], e[1]))
        batches = []   # (fire_instant, {key: eid})
        intervals = []  # (key, eid, enter, leave|None)
        open_rows: dict = {}
        forming: dict = {}
        for ts, eid, key in ev:
            inst = (ts, eid)
            if key in open_rows:
                o_inst, o_eid = open_rows[key]
                intervals.append((key, o_eid, o_inst, inst))
            open_rows[key] = (inst, eid)
            forming[key] = eid
            if len(forming) == n:
                for k2, (o_inst, o_eid) in open_rows.items():
                    intervals.append((k2, o_eid, o_inst, inst))
                batches.append((inst, dict(forming)))
                forming = {}
                open_rows = {}
        for k2, (o_inst, o_eid) in open_rows.items():
            intervals.append((k2, o_eid, o_inst, None))
        return batches, intervals

    out = []
    ba, iva = chain(a_events, na)
    bb, ivb = chain(b_events, nb)

    def emit(batches, ivs, a_side):
        for i, (fire, rows) in enumerate(batches):
            # current chunk of batch i probes at fire(i); the
            # expired chunk at fire(i) is batch i-1
            probes = [("current", fire)]
            if i >= 1:
                probes.append(("expired_prev", fire))
            for channel, p in probes:
                chunk = rows if channel == "current" else batches[i - 1][1]
                ch = "current" if channel == "current" else "expired"
                for key, eid in chunk.items():
                    for k2, eid2, enter, leave in ivs:
                        if k2 != key:
                            continue
                        if enter < p and (leave is None or p < leave):
                            pair = (eid, eid2) if a_side else (eid2, eid)
                            out.append((ch, pair[0], pair[1]))

    emit(ba, ivb, True)
    emit(bb, iva, False)
    return sorted(out)


@given(
    st.integers(2, 4),
    st.integers(2, 4),
    st.lists(st.tuples(st.integers(0, 60), st.integers(0, 4),
                       st.booleans()), max_size=40),
)
@settings(max_examples=300, deadline=None)
def test_ll_mixed_join_algebra_matches_simulation(na, nb, raw):
    """The arrival-ordered emission-log algebra for a lengthBatch ⋈
    lengthBatch join's channels must equal the event-at-a-time
    simulation — including same-ms cross-stream arrivals (tiebreak
    decides), displacement chains on both sides, and trailing open
    periods."""
    a_events = [(ts, i, f"k{key}") for i, (ts, key, s) in enumerate(raw) if s]
    b_events = [(ts, i, f"k{key}") for i, (ts, key, s) in enumerate(raw)
                if not s]
    sim = _ll_join_simulate(a_events, b_events, na, nb)
    alg = _ll_join_closed_form(a_events, b_events, na, nb)
    assert sim == alg


# --- remaining arrival-pair mixed joins: lB ⋈ eTB and eTB ⋈ eTB ---


def _lb_probe_model(events, n):
    """lengthBatch side in INSTANT space ((ms, eid) pairs): probe
    chunks [(channel, instant, {key: eid})] and forming-map validity
    intervals [(key, eid, enter, leave|None)]."""
    ev = sorted(events, key=lambda e: (e[0], e[1]))
    batches, intervals = [], []
    open_rows: dict = {}
    forming: dict = {}
    for ts, eid, key in ev:
        inst = (ts, eid)
        if key in open_rows:
            o_inst, o_eid = open_rows[key]
            intervals.append((key, o_eid, o_inst, inst))
        open_rows[key] = (inst, eid)
        forming[key] = eid
        if len(forming) == n:
            for k2, (o_inst, o_eid) in open_rows.items():
                intervals.append((k2, o_eid, o_inst, inst))
            batches.append((inst, dict(forming)))
            forming = {}
            open_rows = {}
    for k2, (o_inst, o_eid) in open_rows.items():
        intervals.append((k2, o_eid, o_inst, None))
    probes = []
    for i, (fire, rows) in enumerate(batches):
        probes.append(("current", fire, rows))
        if i >= 1:
            probes.append(("expired", fire, batches[i - 1][1]))
    return probes, intervals


def _etb_probe_model(events, te, anchor):
    """externalTimeBatch side in INSTANT space: present batches in
    rank order flush at the first event of the next rank (an instant,
    since that event has an id); batch i emits current at flush(i),
    expired at flush(i+1), and is findable (expiredEvents) during
    (flush(i), flush(i+1)) — open for the last flushed batch."""
    by: dict = {}
    first: dict = {}
    for ts, eid, key in sorted(events, key=lambda e: (e[0], e[1])):
        slot = (ts - anchor) // te
        by.setdefault(slot, {})[key] = eid
        if slot not in first:
            first[slot] = (ts, eid)
    ranks = sorted(by)
    probes, intervals = [], []
    for i, slot in enumerate(ranks):
        flush = first[ranks[i + 1]] if i + 1 < len(ranks) else None
        exp_at = first[ranks[i + 2]] if i + 2 < len(ranks) else None
        if flush is not None:
            probes.append(("current", flush, by[slot]))
            for key, eid in by[slot].items():
                intervals.append((key, eid, flush, exp_at))
        if exp_at is not None:
            probes.append(("expired", exp_at, by[slot]))
    return probes, intervals


def _instant_pair_closed_form(model_a, model_b):
    """Generic pair emission: each side's probe chunks against the
    other side's validity intervals with STRICT lexicographic instant
    bounds (instants are unique across the union)."""
    probes_a, iv_a = model_a
    probes_b, iv_b = model_b
    out = []
    for a_side, probes, ivs in ((True, probes_a, iv_b),
                                (False, probes_b, iv_a)):
        for channel, p, chunk in probes:
            for key, eid in chunk.items():
                for k2, eid2, enter, leave in ivs:
                    if k2 != key:
                        continue
                    if enter < p and (leave is None or p < leave):
                        pair = (eid, eid2) if a_side else (eid2, eid)
                        out.append((channel, pair[0], pair[1]))
    return sorted(out)


def _lb_etb_join_simulate(a_events, b_events, n, te, anchor):
    """Event-at-a-time: lengthBatch(key, n) ⋈ externalTimeBatch(key,
    ts, te, anchor) in global (ms, eid) arrival order. lB fires probe
    the eTB side's expiredEvents (last flushed batch); eTB flushes
    probe the lB side's forming map."""
    out = []
    arrivals = sorted(
        [(ts, eid, key, "A") for ts, eid, key in a_events]
        + [(ts, eid, key, "B") for ts, eid, key in b_events],
        key=lambda e: (e[0], e[1]),
    )
    forming_a: dict = {}
    prev_a: dict = {}
    a_fired = False
    forming_b: dict = {}
    b_slot = None
    flushed_b: dict = {}
    b_flushed = False
    for ts, eid, key, side in arrivals:
        if side == "A":
            forming_a[key] = eid
            if len(forming_a) == n:
                probe = flushed_b if b_flushed else {}
                for k2, a_eid in forming_a.items():
                    if k2 in probe:
                        out.append(("current", a_eid, probe[k2]))
                if a_fired:
                    for k2, a_eid in prev_a.items():
                        if k2 in probe:
                            out.append(("expired", a_eid, probe[k2]))
                prev_a, a_fired = dict(forming_a), True
                forming_a = {}
            continue
        slot = (ts - anchor) // te
        if b_slot is not None and slot != b_slot:
            for k2, b_eid in forming_b.items():
                if k2 in forming_a:
                    out.append(("current", forming_a[k2], b_eid))
            if b_flushed:
                for k2, b_eid in flushed_b.items():
                    if k2 in forming_a:
                        out.append(("expired", forming_a[k2], b_eid))
            flushed_b, b_flushed = dict(forming_b), True
            forming_b = {}
        b_slot = slot
        forming_b[key] = eid
    return sorted(out)


def _etb_etb_join_simulate(a_events, b_events, ta, tb_, aa, ab):
    """Event-at-a-time: two externalTimeBatch windows on different
    grids in global (ms, eid) arrival order; each side's flush chunks
    probe the other side's expiredEvents state."""
    out = []
    arrivals = sorted(
        [(ts, eid, key, "A") for ts, eid, key in a_events]
        + [(ts, eid, key, "B") for ts, eid, key in b_events],
        key=lambda e: (e[0], e[1]),
    )
    st = {
        "A": {"t": ta, "anchor": aa, "forming": {}, "slot": None,
              "flushed": {}, "has": False},
        "B": {"t": tb_, "anchor": ab, "forming": {}, "slot": None,
              "flushed": {}, "has": False},
    }
    for ts, eid, key, side in arrivals:
        s = st[side]
        o = st["B" if side == "A" else "A"]
        slot = (ts - s["anchor"]) // s["t"]
        if s["slot"] is not None and slot != s["slot"]:
            probe = o["flushed"] if o["has"] else {}
            for k2, eid2 in s["forming"].items():
                if k2 in probe:
                    pair = ((eid2, probe[k2]) if side == "A"
                            else (probe[k2], eid2))
                    out.append(("current", pair[0], pair[1]))
            if s["has"]:
                for k2, eid2 in s["flushed"].items():
                    if k2 in probe:
                        pair = ((eid2, probe[k2]) if side == "A"
                                else (probe[k2], eid2))
                        out.append(("expired", pair[0], pair[1]))
            s["flushed"], s["has"] = dict(s["forming"]), True
            s["forming"] = {}
        s["slot"] = slot
        s["forming"][key] = eid
    return sorted(out)


@given(
    st.integers(2, 4),
    st.sampled_from([(5, 0), (10, 3), (21, 0)]),
    st.lists(st.tuples(st.integers(0, 120), st.integers(0, 4),
                       st.booleans()), max_size=40),
)
@settings(max_examples=300, deadline=None)
def test_lb_etb_mixed_join_algebra_matches_simulation(n, te_a, raw):
    """lengthBatch ⋈ externalTimeBatch emission-log algebra vs the
    event-at-a-time simulation — both sides arrival-driven, strict
    instant bounds."""
    te, anchor = te_a
    a = [(ts, i, f"k{key}") for i, (ts, key, s) in enumerate(raw) if s]
    b = [(ts, i, f"k{key}") for i, (ts, key, s) in enumerate(raw) if not s]
    sim = _lb_etb_join_simulate(a, b, n, te, anchor)
    alg = _instant_pair_closed_form(
        _lb_probe_model(a, n), _etb_probe_model(b, te, anchor))
    assert sim == alg


@given(
    st.sampled_from([(5, 7), (10, 25), (21, 7), (10, 10)]),
    st.sampled_from([(0, 0), (3, 0), (2, 5)]),
    st.lists(st.tuples(st.integers(0, 120), st.integers(0, 4),
                       st.booleans()), max_size=40),
)
@settings(max_examples=300, deadline=None)
def test_etb_etb_mixed_join_algebra_matches_simulation(tpair, apair, raw):
    """externalTimeBatch ⋈ externalTimeBatch (different grids)
    emission-log algebra vs the event-at-a-time simulation."""
    ta, tb_ = tpair
    aa, ab = apair
    a = [(ts, i, f"k{key}") for i, (ts, key, s) in enumerate(raw) if s]
    b = [(ts, i, f"k{key}") for i, (ts, key, s) in enumerate(raw) if not s]
    sim = _etb_etb_join_simulate(a, b, ta, tb_, aa, ab)
    alg = _instant_pair_closed_form(
        _etb_probe_model(a, ta, aa), _etb_probe_model(b, tb_, ab))
    assert sim == alg


# --- last join-channel family: non-batch X ⋈ lengthBatch / eTB ---


def _x_instant_model(kind, xparam, x_events):
    """NON-BATCH unique window (ever/first/time/length) in INSTANT
    space ((ms, eid) pairs): probe chunks (current at enter, expired
    at exit) and find()-state validity intervals, for pairing against
    any other instant-modeled side via _instant_pair_closed_form.

    TIMER sub-ms encoding (the certified scheduler phases at a shared
    instant, as three strata below every arrival eid >= 0):
    scheduler-EXIT probes ``(t, -3)`` run first and see PRE-transition
    state; timer TRANSITIONS (interval enters/leaves) are ``(t, -2)``;
    scheduler-ENTER probes ``(t, -1)`` see POST-transition state but
    precede same-ms arrivals. Plain tuple comparison then reproduces
    every pre/post rule: an exit probe still sees a timer-closing
    interval at its own ms, an enter probe (e.g. a flush-tick current
    chunk) no longer does, and arrival probes never see timer-closed
    intervals at their ms. Per-kind semantics are those of
    _x_live_intervals (same reference citations)."""
    xs = sorted(x_events, key=lambda e: (e[0], e[1]))
    ivs = []
    if kind in ("ever", "time"):
        nxt: dict = {}
        for ts, eid, key in reversed(xs):
            n_inst = nxt.get(key)
            if kind == "ever":
                ivs.append((key, eid, (ts, eid), n_inst))
            else:
                t_inst = (ts + xparam, -2)
                if n_inst is None or t_inst <= n_inst:
                    ivs.append((key, eid, (ts, eid), t_inst))
                else:
                    ivs.append((key, eid, (ts, eid), n_inst))
            nxt[key] = (ts, eid)
        ivs.reverse()
    elif kind == "first":
        seen: set = set()
        for ts, eid, key in xs:
            if key not in seen:
                seen.add(key)
                ivs.append((key, eid, (ts, eid), None))
    elif kind == "length":
        fifo: dict = {}
        exits: dict = {}
        for ts, eid, key in xs:
            inst = (ts, eid)
            if key in fifo:
                exits[fifo.pop(key)] = inst
            elif len(fifo) == xparam:
                oldest = next(iter(fifo))
                exits[fifo.pop(oldest)] = inst
            fifo[key] = eid
        for ts, eid, key in xs:
            ivs.append((key, eid, (ts, eid), exits.get(eid)))
    else:
        raise ValueError(kind)
    probes = []
    for key, eid, enter, leave in ivs:
        probes.append(("current", enter, {key: eid}))
        if leave is not None:
            # a scheduler-EXIT probe at ms t is (t, -3): strictly
            # before the (t, -2) timer transitions of EITHER side, so
            # at a shared scheduler instant both sides' exits see each
            # other's PRE-transition state (the certified
            # exits-probe-pre convention); against an arrival-only
            # side the sub-ms strata are indistinguishable
            p = (leave[0], -3) if leave[1] == -2 else leave
            probes.append(("expired", p, {key: eid}))
    return probes, ivs


def _x_lb_join_simulate(kind, xparam, x_events, b_events, n):
    """Event-at-a-time: X#window.unique:<kind> ⋈ lengthBatch(key, n)
    in global (ms, eid) arrival order, X timers injected BEFORE
    arrivals at their ms. X chunks probe the lB forming unique map
    (find() = uniqueEventMap.values()); lB fire chunks (current +
    previous batch expired) probe X's live/find() state."""
    out = []
    arrivals = sorted(
        [(ts, eid, key, "X") for ts, eid, key in x_events]
        + [(ts, eid, key, "B") for ts, eid, key in b_events],
        key=lambda e: (e[0], e[1]),
    )
    timer_cands = sorted(
        {ts + xparam for ts, _, _ in x_events}) if kind == "time" else []
    live: dict = {}      # key -> (eid, enter_ms)
    first_seen: set = set()
    fifo_order: list = []
    forming_b: dict = {}
    prev_b: dict = {}
    b_fired = False
    si = ai = 0
    while si < len(timer_cands) or ai < len(arrivals):
        tau = timer_cands[si] if si < len(timer_cands) else None
        arr = arrivals[ai] if ai < len(arrivals) else None
        if tau is not None and (arr is None or tau <= arr[0]):
            si += 1
            ripe = [(k, v) for k, v in live.items() if v[1] + xparam == tau]
            for key, (x_eid, _) in ripe:
                if key in forming_b:
                    out.append(("expired", x_eid, forming_b[key]))
                del live[key]
            continue
        ts, eid, key, side = arr
        ai += 1
        if side == "B":
            forming_b[key] = eid
            if len(forming_b) == n:
                for k2, b_eid in forming_b.items():
                    if k2 in live:
                        out.append(("current", live[k2][0], b_eid))
                if b_fired:
                    for k2, b_eid in prev_b.items():
                        if k2 in live:
                            out.append(("expired", live[k2][0], b_eid))
                prev_b, b_fired = dict(forming_b), True
                forming_b = {}
            continue
        if kind == "first":
            if key in first_seen:
                continue
            first_seen.add(key)
        elif kind == "length":
            if key in live:
                old = live.pop(key)
                fifo_order.remove(key)
                if key in forming_b:
                    out.append(("expired", old[0], forming_b[key]))
            elif len(live) == xparam:
                oldest = fifo_order.pop(0)
                old = live.pop(oldest)
                if oldest in forming_b:
                    out.append(("expired", old[0], forming_b[oldest]))
            fifo_order.append(key)
        else:  # ever / time: same-key displacement
            if key in live:
                old = live.pop(key)
                if key in forming_b:
                    out.append(("expired", old[0], forming_b[key]))
        live[key] = (eid, ts)
        if key in forming_b:
            out.append(("current", eid, forming_b[key]))
    return sorted(out)


def _x_etb_join_simulate(kind, xparam, x_events, b_events, te, anchor):
    """Event-at-a-time: X#window.unique:<kind> ⋈ externalTimeBatch
    (key, ts, te, anchor). X chunks probe the eTB expiredEvents (last
    flushed batch); eTB flush chunks probe X's live state — flushes
    happen AT the first arrival of the next present rank, after any
    X timers at the same ms (scheduler precedes arrivals)."""
    out = []
    arrivals = sorted(
        [(ts, eid, key, "X") for ts, eid, key in x_events]
        + [(ts, eid, key, "B") for ts, eid, key in b_events],
        key=lambda e: (e[0], e[1]),
    )
    timer_cands = sorted(
        {ts + xparam for ts, _, _ in x_events}) if kind == "time" else []
    live: dict = {}
    first_seen: set = set()
    fifo_order: list = []
    forming_b: dict = {}
    b_slot = None
    flushed_b: dict = {}
    b_flushed = False
    si = ai = 0
    while si < len(timer_cands) or ai < len(arrivals):
        tau = timer_cands[si] if si < len(timer_cands) else None
        arr = arrivals[ai] if ai < len(arrivals) else None
        if tau is not None and (arr is None or tau <= arr[0]):
            si += 1
            ripe = [(k, v) for k, v in live.items() if v[1] + xparam == tau]
            for key, (x_eid, _) in ripe:
                if b_flushed and key in flushed_b:
                    out.append(("expired", x_eid, flushed_b[key]))
                del live[key]
            continue
        ts, eid, key, side = arr
        ai += 1
        if side == "B":
            slot = (ts - anchor) // te
            if b_slot is not None and slot != b_slot:
                for k2, b_eid in forming_b.items():
                    if k2 in live:
                        out.append(("current", live[k2][0], b_eid))
                if b_flushed:
                    for k2, b_eid in flushed_b.items():
                        if k2 in live:
                            out.append(("expired", live[k2][0], b_eid))
                flushed_b, b_flushed = dict(forming_b), True
                forming_b = {}
            b_slot = slot
            forming_b[key] = eid
            continue
        probe = flushed_b if b_flushed else {}
        if kind == "first":
            if key in first_seen:
                continue
            first_seen.add(key)
        elif kind == "length":
            if key in live:
                old = live.pop(key)
                fifo_order.remove(key)
                if key in probe:
                    out.append(("expired", old[0], probe[key]))
            elif len(live) == xparam:
                oldest = fifo_order.pop(0)
                old = live.pop(oldest)
                if oldest in probe:
                    out.append(("expired", old[0], probe[oldest]))
            fifo_order.append(key)
        else:
            if key in live:
                old = live.pop(key)
                if key in probe:
                    out.append(("expired", old[0], probe[key]))
        live[key] = (eid, ts)
        if key in probe:
            out.append(("current", eid, probe[key]))
    return sorted(out)


@given(
    st.sampled_from(["ever", "first", "time", "length"]),
    st.integers(2, 4),                       # lengthBatch N
    st.sampled_from([15, 30, 3]),            # X param (time T / length N)
    st.lists(st.tuples(st.integers(0, 120), st.integers(0, 4),
                       st.booleans()), max_size=40),
)
@settings(max_examples=300, deadline=None)
def test_x_lb_join_channels_algebra_matches_simulation(kind, n, xparam, raw):
    """The instant-space algebra for every NON-BATCH window ⋈
    lengthBatch join (the last open channel family after VERDICT r12
    item 2's timeBatch half) must equal the event-at-a-time reference
    simulation — including timer exits colliding with fire arrivals,
    FIFO evictions, duplicate-dropping (first), and same-ms
    cross-stream ties."""
    if kind == "length":
        xparam = max(1, xparam % 5)
    x_events = [(ts, i, f"k{key}") for i, (ts, key, s) in enumerate(raw) if s]
    b_events = [(ts, i, f"k{key}") for i, (ts, key, s) in enumerate(raw)
                if not s]
    sim = _x_lb_join_simulate(kind, xparam, x_events, b_events, n)
    alg = _instant_pair_closed_form(
        _x_instant_model(kind, xparam, x_events),
        _lb_probe_model(b_events, n))
    assert sim == alg


@given(
    st.sampled_from(["ever", "first", "time", "length"]),
    st.sampled_from([(5, 0), (10, 3), (21, 0)]),   # eTB (T, anchor)
    st.sampled_from([15, 30, 3]),
    st.lists(st.tuples(st.integers(0, 120), st.integers(0, 4),
                       st.booleans()), max_size=40),
)
@settings(max_examples=300, deadline=None)
def test_x_etb_join_channels_algebra_matches_simulation(
        kind, te_a, xparam, raw):
    """NON-BATCH window ⋈ externalTimeBatch: the instant-space
    algebra vs the event-at-a-time simulation — flushes at
    next-rank-first-arrival instants interleaved with X timers."""
    te, anchor = te_a
    if kind == "length":
        xparam = max(1, xparam % 5)
    x_events = [(ts, i, f"k{key}") for i, (ts, key, s) in enumerate(raw) if s]
    b_events = [(ts, i, f"k{key}") for i, (ts, key, s) in enumerate(raw)
                if not s]
    sim = _x_etb_join_simulate(kind, xparam, x_events, b_events, te, anchor)
    alg = _instant_pair_closed_form(
        _x_instant_model(kind, xparam, x_events),
        _etb_probe_model(b_events, te, anchor))
    assert sim == alg


def _x_x_join_simulate(ka, xa, a_events, kb, xb, b_events):
    """Event-at-a-time: TWO non-batch unique windows joined on key
    equality in global (ms, eid) arrival order, timers injected
    BEFORE arrivals at their ms. Each side's per-event chunks
    (current at enter, expired at exit) probe the OTHER side's live
    find() state; at a SHARED timer instant both sides' ripe exits
    probe the other side's PRE-transition state and then all removals
    apply (the certified scheduler convention — the reference leaves
    same-instant cross-processor timer order unspecified,
    UniqueTimeWindowProcessor.java:118-125)."""
    out = []
    arrivals = sorted(
        [(ts, eid, key, "A") for ts, eid, key in a_events]
        + [(ts, eid, key, "B") for ts, eid, key in b_events],
        key=lambda e: (e[0], e[1]),
    )
    timer_cands = sorted(
        ({ts + xa for ts, _, _ in a_events} if ka == "time" else set())
        | ({ts + xb for ts, _, _ in b_events} if kb == "time" else set()))

    st = {
        "A": {"kind": ka, "param": xa, "live": {}, "seen": set(),
              "fifo": []},
        "B": {"kind": kb, "param": xb, "live": {}, "seen": set(),
              "fifo": []},
    }

    def pair(side, own_eid, other_eid):
        return (own_eid, other_eid) if side == "A" else (other_eid,
                                                         own_eid)

    si = ai = 0
    while si < len(timer_cands) or ai < len(arrivals):
        tau = timer_cands[si] if si < len(timer_cands) else None
        arr = arrivals[ai] if ai < len(arrivals) else None
        if tau is not None and (arr is None or tau <= arr[0]):
            si += 1
            ripe = {}
            for sn, s in st.items():
                if s["kind"] == "time":
                    ripe[sn] = [(k, v) for k, v in s["live"].items()
                                if v[1] + s["param"] == tau]
                else:
                    ripe[sn] = []
            # exits probe the other side PRE-transition (both ways)
            for sn in ("A", "B"):
                other = st["B" if sn == "A" else "A"]["live"]
                for key, (x_eid, _) in ripe[sn]:
                    if key in other:
                        p = pair(sn, x_eid, other[key][0])
                        out.append(("expired", p[0], p[1]))
            for sn in ("A", "B"):
                for key, _ in ripe[sn]:
                    del st[sn]["live"][key]
            continue
        ts, eid, key, sn = arr
        ai += 1
        s = st[sn]
        other = st["B" if sn == "A" else "A"]["live"]
        kind = s["kind"]
        if kind == "first":
            if key in s["seen"]:
                continue
            s["seen"].add(key)
        elif kind == "length":
            if key in s["live"]:
                old = s["live"].pop(key)
                s["fifo"].remove(key)
                if key in other:
                    p = pair(sn, old[0], other[key][0])
                    out.append(("expired", p[0], p[1]))
            elif len(s["live"]) == s["param"]:
                oldest = s["fifo"].pop(0)
                old = s["live"].pop(oldest)
                if oldest in other:
                    p = pair(sn, old[0], other[oldest][0])
                    out.append(("expired", p[0], p[1]))
            s["fifo"].append(key)
        else:  # ever / time: same-key displacement
            if key in s["live"]:
                old = s["live"].pop(key)
                if key in other:
                    p = pair(sn, old[0], other[key][0])
                    out.append(("expired", p[0], p[1]))
        s["live"][key] = (eid, ts)
        if key in other:
            p = pair(sn, eid, other[key][0])
            out.append(("current", p[0], p[1]))
    return sorted(out)


def _instant_pair_x_closed_form(model_a, model_b):
    """The X ⋈ X tail: like :func:`_instant_pair_closed_form` but a
    timer PROBE (tb -2) at the same ms as a timer LEAVE (tb -1) is
    still visible — both sides' scheduler exits probe PRE-transition
    state. Plain tuple comparison gives exactly that with the
    -2/-1 encoding."""
    return _instant_pair_closed_form(model_a, model_b)


@given(
    st.sampled_from([("ever", "time"), ("time", "time"),
                     ("time", "length"), ("first", "time"),
                     ("ever", "ever"), ("length", "length"),
                     ("ever", "length"), ("first", "length"),
                     ("first", "ever")]),
    st.sampled_from([(15, 30), (30, 30), (15, 3), (3, 2)]),
    st.lists(st.tuples(st.integers(0, 120), st.integers(0, 4),
                       st.booleans()), max_size=40),
)
@settings(max_examples=400, deadline=None)
def test_x_x_join_channels_algebra_matches_simulation(kinds, params, raw):
    """NON-BATCH ⋈ NON-BATCH expired/all channels (the final join
    family): the instant-space algebra with the -2/-1 timer encoding
    must equal the event-at-a-time simulation — including SHARED
    timer instants where both sliding windows expire simultaneously
    and must see each other's pre-transition state, displacement
    chains on both sides, FIFO evictions, and duplicate dropping."""
    ka, kb = kinds
    xa, xb = params
    if ka == "length":
        xa = max(1, xa % 5)
    if kb == "length":
        xb = max(1, xb % 5)
    a = [(ts, i, f"k{key}") for i, (ts, key, s) in enumerate(raw) if s]
    b = [(ts, i, f"k{key}") for i, (ts, key, s) in enumerate(raw)
         if not s]
    sim = _x_x_join_simulate(ka, xa, a, kb, xb, b)
    alg = _instant_pair_x_closed_form(
        _x_instant_model(ka, xa, a), _x_instant_model(kb, xb, b))
    assert sim == alg


# --- the last batch window: X ⋈ timeLengthBatch (hybrid fires) ---


def _tlb_instant_model(b_events, t_ms, n):
    """timeLengthBatch side in the 3-strata instant space, under the
    forever clock (every fired batch eventually flushes and drains;
    grid anchored at the FIRST event's ts — the SiddhiQL form takes
    no start.time). The fixed boundary grid makes intervals
    INDEPENDENT (a length fire's discard flag clears exactly at the
    next boundary, UniqueTimeLengthBatchWindowProcessor.java:261-271):
    per interval k the batch is keep-last over events up to the Nth
    distinct key's first occurrence (a LENGTH fire at that arrival
    instant) or over all interval events (a TIME fire at boundary
    k+1, a (t,-2) timer transition). find() = eventsToBeExpired — the
    last fired batch (:377-384) — findable (fire, drain) with
    drain(k) = min(next fire, boundary k+2): after EITHER fire kind
    the first flushing boundary is k+2 (a time fire's own boundary is
    k+1; a length fire's k+1 boundary only clears the skip flag —
    the eventSent timer branch returns without sendEvents). Probe
    chunks: current at the fire (an ENTER probe (t,-1) when a timer —
    flush ticks see post-transition state), expired at the drain (an
    EXIT probe (t,-3) when a timer — pre-transition state)."""
    bs = sorted(b_events, key=lambda e: (e[0], e[1]))
    if not bs:
        return [], []
    a = bs[0][0]
    by_k: dict = {}
    for ts, eid, key in bs:
        by_k.setdefault((ts - a) // t_ms, []).append((ts, eid, key))
    batches = []  # (k, fire_instant(-2 stratum if timer), {key: eid})
    for k in sorted(by_k):
        seen: dict = {}
        fire = None
        for ts, eid, key in by_k[k]:
            seen[key] = eid
            if len(seen) == n:
                fire = (ts, eid)
                break
        if fire is None:
            fire = (a + (k + 1) * t_ms, -2)
        batches.append((k, fire, dict(seen)))
    probes, ivs = [], []
    for i, (k, F, rows) in enumerate(batches):
        bterm = (a + (k + 2) * t_ms, -2)
        nxt = batches[i + 1][1] if i + 1 < len(batches) else None
        D = bterm if nxt is None or bterm <= nxt else nxt
        pcur = (F[0], -1) if F[1] == -2 else F
        pexp = (D[0], -3) if D[1] == -2 else D
        probes.append(("current", pcur, rows))
        probes.append(("expired", pexp, rows))
        for key, eid in rows.items():
            ivs.append((key, eid, F, D))
    return probes, ivs


def _x_tlb_join_simulate(kind, xparam, x_events, b_events, t_ms, n):
    """Event-at-a-time: X#window.unique:<kind> ⋈ timeLengthBatch
    (key, t_ms, n), explicit scheduler loop with the certified
    instant phases: at a shared instant, EXIT probes (X ripe timers;
    the tlB drain chunk) see PRE-transition state, then all
    transitions apply, then ENTER probes (a tlB time-fire's current
    chunk) see POST-transition state, then arrivals in (ms, eid)
    order. Mechanically independent of the closed form (replays the
    skip flag, forming map and eventsToBeExpired directly)."""
    out = []
    arrivals = sorted(
        [(ts, eid, key, "X") for ts, eid, key in x_events]
        + [(ts, eid, key, "B") for ts, eid, key in b_events],
        key=lambda e: (e[0], e[1]),
    )
    bs = sorted(b_events, key=lambda e: (e[0], e[1]))
    ticks = []
    if bs:
        a = bs[0][0]
        k_max = (bs[-1][0] - a) // t_ms
        ticks = [a + j * t_ms for j in range(1, k_max + 4)]
    timer_cands = sorted(
        {ts + xparam for ts, _, _ in x_events}) if kind == "time" else []
    sched = sorted({(t, "tick") for t in ticks}
                   | {(t, "timer") for t in timer_cands})

    live: dict = {}
    first_seen: set = set()
    fifo_order: list = []
    forming: dict = {}
    expired_b: dict = {}
    event_sent = False
    si = ai = 0
    while si < len(sched) or ai < len(arrivals):
        s = sched[si] if si < len(sched) else None
        arr = arrivals[ai] if ai < len(arrivals) else None
        if s is not None and (arr is None or s[0] <= arr[0]):
            tau = s[0]
            group = []
            while si < len(sched) and sched[si][0] == tau:
                group.append(sched[si][1])
                si += 1
            is_tick = "tick" in group
            ripe = ([(k, v) for k, v in live.items()
                     if v[1] + xparam == tau]
                    if kind == "time" and "timer" in group else [])
            flushing = is_tick and not event_sent
            # phase 1: EXIT probes see PRE-transition state
            for key, (x_eid, _) in ripe:
                if key in expired_b:
                    out.append(("expired", x_eid, expired_b[key]))
            if flushing:
                for key, b_eid in expired_b.items():
                    if key in live:
                        out.append(("expired", live[key][0], b_eid))
            # phase 2: transitions
            for key, _ in ripe:
                del live[key]
            new_batch = None
            if is_tick:
                if event_sent:
                    event_sent = False
                else:
                    new_batch = dict(forming)
                    forming = {}
                    expired_b = new_batch  # drain swaps in the fired
                    # batch (empty flush leaves nothing findable)
            # phase 3: ENTER probes see POST-transition state
            if flushing and new_batch:
                for key, b_eid in new_batch.items():
                    if key in live:
                        out.append(("current", live[key][0], b_eid))
            continue
        ts, eid, key, side = arr
        ai += 1
        if side == "B":
            if event_sent:
                continue  # discarded until the next boundary
            forming[key] = eid
            if len(forming) == n:
                # LENGTH fire: flush at this arrival
                for k2, b_eid in expired_b.items():
                    if k2 in live:
                        out.append(("expired", live[k2][0], b_eid))
                for k2, b_eid in forming.items():
                    if k2 in live:
                        out.append(("current", live[k2][0], b_eid))
                expired_b = dict(forming)
                forming = {}
                event_sent = True
            continue
        # X arrival probes eventsToBeExpired (find(), :377-384)
        if kind == "first":
            if key in first_seen:
                continue
            first_seen.add(key)
        elif kind == "length":
            if key in live:
                old = live.pop(key)
                fifo_order.remove(key)
                if key in expired_b:
                    out.append(("expired", old[0], expired_b[key]))
            elif len(live) == xparam:
                oldest = fifo_order.pop(0)
                old = live.pop(oldest)
                if oldest in expired_b:
                    out.append(("expired", old[0], expired_b[oldest]))
            fifo_order.append(key)
        else:
            if key in live:
                old = live.pop(key)
                if key in expired_b:
                    out.append(("expired", old[0], expired_b[key]))
        live[key] = (eid, ts)
        if key in expired_b:
            out.append(("current", eid, expired_b[key]))
    return sorted(out)


@given(
    st.sampled_from(["ever", "first", "time", "length"]),
    st.sampled_from([(7, 2), (10, 3), (25, 2), (5, 4)]),  # tlB (T, N)
    st.sampled_from([15, 30, 3]),
    st.lists(st.tuples(st.integers(0, 120), st.integers(0, 4),
                       st.booleans()), max_size=40),
)
@settings(max_examples=400, deadline=None)
def test_x_tlb_join_channels_algebra_matches_simulation(
        kind, tn, xparam, raw):
    """NON-BATCH window ⋈ timeLengthBatch (the hybrid time+count
    fire protocol — the last batch window without join channels):
    the per-interval-independent instant algebra must equal the
    event-at-a-time simulation — including skip-flag discards, time
    fires colliding with X timers, drains at empty boundaries, and
    length-fire drains of the previous batch."""
    te, n = tn
    if kind == "length":
        xparam = max(1, xparam % 5)
    x_events = [(ts, i, f"k{key}") for i, (ts, key, s) in enumerate(raw) if s]
    b_events = [(ts, i, f"k{key}") for i, (ts, key, s) in enumerate(raw)
                if not s]
    sim = _x_tlb_join_simulate(kind, xparam, x_events, b_events, te, n)
    alg = _instant_pair_closed_form(
        _x_instant_model(kind, xparam, x_events),
        _tlb_instant_model(b_events, te, n))
    assert sim == alg


# --- the last join-channel square: timeLengthBatch ⋈ batch windows ---
#
# Joint event-at-a-time simulations built from per-window PROCESSOR
# replays (state machines transcribed from the certified pair
# simulations above — skip flags, forming maps, eventsToBeExpired —
# never from the interval algebra), composed by a generic scheduler
# that pins the certified instant phases: at a shared scheduler
# instant, EXIT probes (both sides) see PRE-transition state, then all
# transitions apply, then ENTER probes see POST-transition state, then
# arrivals process in global (ms, eid) order. The closed forms are
# _instant_pair_closed_form over the instant models — exactly what the
# Spark lowering (_run_join_mixed_ll over per-family artifacts)
# computes.


class _SimTLB:
    """timeLengthBatch(key, t, n) processor replay (the B side of
    _x_tlb_join_simulate, verbatim): forever clock (ticks to
    k_max + 3), skip-flag discards, length fires at the Nth distinct
    key, eventsToBeExpired as find() state
    (UniqueTimeLengthBatchWindowProcessor.java:261-271, :304-336,
    :377-384)."""

    def __init__(self, events, t_ms, n):
        ev = sorted(events, key=lambda e: (e[0], e[1]))
        self.t, self.n = t_ms, n
        self.forming: dict = {}
        self.findable: dict = {}
        self.event_sent = False
        self.ticks: set = set()
        if ev:
            a = ev[0][0]
            k_max = (ev[-1][0] - a) // t_ms
            self.ticks = {a + j * t_ms for j in range(1, k_max + 4)}

    def sched(self):
        return self.ticks

    def begin_instant(self, tau):
        self._flushing = tau in self.ticks and not self.event_sent
        self._new = None

    def exit_chunks(self, tau):
        return [("expired", dict(self.findable))] if self._flushing else []

    def transition(self, tau):
        if tau in self.ticks:
            if self.event_sent:
                self.event_sent = False
            else:
                self._new = dict(self.forming)
                self.forming = {}
                self.findable = self._new

    def enter_chunks(self, tau):
        if self._flushing and self._new:
            return [("current", dict(self._new))]
        return []

    def on_arrival(self, ts, eid, key):
        if self.event_sent:
            return []  # discarded until the next boundary
        self.forming[key] = eid
        if len(self.forming) == self.n:
            probes = [("expired", dict(self.findable)),
                      ("current", dict(self.forming))]
            self.findable = dict(self.forming)
            self.forming = {}
            self.event_sent = True
            return probes
        return []

    def find(self):
        return self.findable


class _SimTB:
    """timeBatch(key, t[, anchor]) processor replay (the B side of
    _x_tb_join_simulate, verbatim): event-horizon ticks, flush swaps
    forming into eventsToBeExpired, expired chunk pre-transition /
    current chunk post-transition."""

    def __init__(self, events, t_ms, anchor=0):
        self.t, self.anchor = t_ms, anchor
        self.forming: dict = {}
        self.findable: dict = {}
        self.ticks: set = set()
        if events:
            ts_ = [ts for ts, _, _ in events]
            k0 = (min(ts_) - anchor) // t_ms
            k1 = (max(ts_) - anchor) // t_ms
            self.ticks = {anchor + (k + 1) * t_ms for k in range(k0, k1 + 1)}

    def sched(self):
        return self.ticks

    def begin_instant(self, tau):
        pass

    def exit_chunks(self, tau):
        if tau in self.ticks:
            return [("expired", dict(self.findable))]
        return []

    def transition(self, tau):
        if tau in self.ticks:
            self.findable = dict(self.forming)
            self.forming = {}

    def enter_chunks(self, tau):
        if tau in self.ticks:
            return [("current", dict(self.findable))]
        return []

    def on_arrival(self, ts, eid, key):
        self.forming[key] = eid
        return []

    def find(self):
        return self.findable


class _SimLB:
    """lengthBatch(key, n) processor replay (the per-side body of
    _ll_join_simulate, verbatim): arrival-driven fires; find() is the
    forming unique map (UniqueLengthBatchWindowProcessor.java:
    226-233)."""

    def __init__(self, events, n):
        self.n = n
        self.forming: dict = {}
        self.prev: dict = {}
        self.fired = False

    def sched(self):
        return set()

    def begin_instant(self, tau):
        pass

    def exit_chunks(self, tau):
        return []

    def transition(self, tau):
        pass

    def enter_chunks(self, tau):
        return []

    def on_arrival(self, ts, eid, key):
        self.forming[key] = eid
        if len(self.forming) == self.n:
            probes = [("current", dict(self.forming))]
            if self.fired:
                probes.append(("expired", dict(self.prev)))
            self.prev = dict(self.forming)
            self.fired = True
            self.forming = {}
            return probes
        return []

    def find(self):
        return self.forming


class _SimETB:
    """externalTimeBatch(key, ts, t[, anchor]) processor replay (the
    per-side body of _etb_etb_join_simulate, verbatim): flush at the
    first event of a new slot; find() is expiredEvents (the last
    flushed batch)."""

    def __init__(self, events, te, anchor=0):
        self.te, self.anchor = te, anchor
        self.forming: dict = {}
        self.slot = None
        self.flushed: dict = {}
        self.has = False

    def sched(self):
        return set()

    def begin_instant(self, tau):
        pass

    def exit_chunks(self, tau):
        return []

    def transition(self, tau):
        pass

    def enter_chunks(self, tau):
        return []

    def on_arrival(self, ts, eid, key):
        probes = []
        slot = (ts - self.anchor) // self.te
        if self.slot is not None and slot != self.slot:
            probes.append(("current", dict(self.forming)))
            if self.has:
                probes.append(("expired", dict(self.flushed)))
            self.flushed, self.has = dict(self.forming), True
            self.forming = {}
        self.slot = slot
        self.forming[key] = eid
        return probes

    def find(self):
        return self.flushed if self.has else {}


def _pair_join_simulate(proc_a, a_events, proc_b, b_events):
    """Generic two-processor joint replay under the certified instant
    phases. Returns sorted (channel, a_eid, b_eid)."""
    out = []
    arrivals = sorted(
        [(ts, eid, key, "A") for ts, eid, key in a_events]
        + [(ts, eid, key, "B") for ts, eid, key in b_events],
        key=lambda e: (e[0], e[1]),
    )
    sched = sorted(set(proc_a.sched()) | set(proc_b.sched()))
    procs = {"A": proc_a, "B": proc_b}

    def probe(side, channel, chunk, state):
        for key, eid in chunk.items():
            if key in state:
                pair = ((eid, state[key]) if side == "A"
                        else (state[key], eid))
                out.append((channel, pair[0], pair[1]))

    si = ai = 0
    while si < len(sched) or ai < len(arrivals):
        if si < len(sched) and (ai >= len(arrivals)
                                or sched[si] <= arrivals[ai][0]):
            tau = sched[si]
            si += 1
            proc_a.begin_instant(tau)
            proc_b.begin_instant(tau)
            pre = {"A": dict(proc_a.find()), "B": dict(proc_b.find())}
            # phase 1: EXIT probes see PRE-transition state
            for side, p in procs.items():
                other = "B" if side == "A" else "A"
                for ch, chunk in p.exit_chunks(tau):
                    probe(side, ch, chunk, pre[other])
            # phase 2: transitions
            proc_a.transition(tau)
            proc_b.transition(tau)
            # phase 3: ENTER probes see POST-transition state
            for side, p in procs.items():
                other = procs["B" if side == "A" else "A"]
                for ch, chunk in p.enter_chunks(tau):
                    probe(side, ch, chunk, other.find())
            continue
        ts, eid, key, side = arrivals[ai]
        ai += 1
        p = procs[side]
        other = procs["B" if side == "A" else "A"]
        for ch, chunk in p.on_arrival(ts, eid, key):
            probe(side, ch, chunk, other.find())
    return sorted(out)


def _tb_instant_model(b_events, t_ms, anchor=0):
    """timeBatch side in the 3-strata instant space — the exact
    encoding of the Spark lowering's _tb_instant_artifacts (r12
    certified slot algebra): batch m enters find() at its flush
    (anchor+(m+1)T, -2) and leaves at the next boundary
    (anchor+(m+2)T, -2) — the LAST batch never leaves — with the
    current chunk an ENTER probe at the flush and the expired chunk
    (every batch but the last) an EXIT probe at the next boundary."""
    bs = sorted(b_events, key=lambda e: (e[0], e[1]))
    if not bs:
        return [], []
    by_slot: dict = {}
    for ts, eid, key in bs:
        by_slot.setdefault((ts - anchor) // t_ms, {})[key] = eid
    m_last = max(by_slot)
    probes, ivs = [], []
    for m in sorted(by_slot):
        rows = by_slot[m]
        enter = (anchor + (m + 1) * t_ms, -2)
        leave = (anchor + (m + 2) * t_ms, -2) if m != m_last else None
        probes.append(("current", (enter[0], -1), rows))
        if leave is not None:
            probes.append(("expired", (leave[0], -3), rows))
        for key, eid in rows.items():
            ivs.append((key, eid, enter, leave))
    return probes, ivs


@given(
    st.sampled_from([(7, 2), (10, 3), (25, 2), (5, 4)]),   # tlB (T, N)
    st.sampled_from([(7, 0), (10, 3), (25, 5), (5, 0)]),   # tB (T, anchor)
    st.lists(st.tuples(st.integers(0, 120), st.integers(0, 4),
                       st.booleans()), max_size=40),
)
@settings(max_examples=400, deadline=None)
def test_tlb_tb_join_channels_algebra_matches_simulation(tn, ta, raw):
    """timeLengthBatch ⋈ timeBatch (the last join-channel square,
    VERDICT r13 item 4): the instant-pair algebra must equal the
    two-processor replay — including tick collisions across the two
    grids, skip-flag discards, drains beyond the timeBatch horizon
    probing its forever-findable last batch, and length fires at
    arrival instants."""
    t_a, n = tn
    t_b, anchor = ta
    a = [(ts, i, f"k{key}") for i, (ts, key, s) in enumerate(raw) if s]
    b = [(ts, i, f"k{key}") for i, (ts, key, s) in enumerate(raw) if not s]
    sim = _pair_join_simulate(_SimTLB(a, t_a, n), a, _SimTB(b, t_b, anchor), b)
    alg = _instant_pair_closed_form(
        _tlb_instant_model(a, t_a, n), _tb_instant_model(b, t_b, anchor))
    assert sim == alg


@given(
    st.sampled_from([(7, 2), (10, 3), (25, 2), (5, 4)]),
    st.integers(2, 4),                                     # lB N
    st.lists(st.tuples(st.integers(0, 120), st.integers(0, 4),
                       st.booleans()), max_size=40),
)
@settings(max_examples=400, deadline=None)
def test_tlb_lb_join_channels_algebra_matches_simulation(tn, nb, raw):
    """timeLengthBatch ⋈ lengthBatch: timer-driven fires/drains on one
    side against a purely arrival-driven side (find() = the forming
    unique map)."""
    t_a, n = tn
    a = [(ts, i, f"k{key}") for i, (ts, key, s) in enumerate(raw) if s]
    b = [(ts, i, f"k{key}") for i, (ts, key, s) in enumerate(raw) if not s]
    sim = _pair_join_simulate(_SimTLB(a, t_a, n), a, _SimLB(b, nb), b)
    alg = _instant_pair_closed_form(
        _tlb_instant_model(a, t_a, n), _lb_probe_model(b, nb))
    assert sim == alg


@given(
    st.sampled_from([(7, 2), (10, 3), (25, 2), (5, 4)]),
    st.sampled_from([(5, 0), (10, 3), (21, 0)]),           # eTB (T, anchor)
    st.lists(st.tuples(st.integers(0, 120), st.integers(0, 4),
                       st.booleans()), max_size=40),
)
@settings(max_examples=400, deadline=None)
def test_tlb_etb_join_channels_algebra_matches_simulation(tn, te_a, raw):
    """timeLengthBatch ⋈ externalTimeBatch: timer fires against
    data-clock flushes (find() = expiredEvents)."""
    t_a, n = tn
    te, anchor = te_a
    a = [(ts, i, f"k{key}") for i, (ts, key, s) in enumerate(raw) if s]
    b = [(ts, i, f"k{key}") for i, (ts, key, s) in enumerate(raw) if not s]
    sim = _pair_join_simulate(_SimTLB(a, t_a, n), a, _SimETB(b, te, anchor), b)
    alg = _instant_pair_closed_form(
        _tlb_instant_model(a, t_a, n), _etb_probe_model(b, te, anchor))
    assert sim == alg


@given(
    st.sampled_from([(7, 2), (10, 3), (25, 2)]),
    st.sampled_from([(5, 4), (10, 2), (21, 3)]),
    st.lists(st.tuples(st.integers(0, 120), st.integers(0, 4),
                       st.booleans()), max_size=40),
)
@settings(max_examples=400, deadline=None)
def test_tlb_tlb_join_channels_algebra_matches_simulation(tn_a, tn_b, raw):
    """timeLengthBatch ⋈ timeLengthBatch (different grids/params):
    both sides carry the hybrid fire protocol; shared tick instants
    exercise the full 3-phase convention on both sides at once."""
    ta, na = tn_a
    tb_, nb = tn_b
    a = [(ts, i, f"k{key}") for i, (ts, key, s) in enumerate(raw) if s]
    b = [(ts, i, f"k{key}") for i, (ts, key, s) in enumerate(raw) if not s]
    sim = _pair_join_simulate(_SimTLB(a, ta, na), a, _SimTLB(b, tb_, nb), b)
    alg = _instant_pair_closed_form(
        _tlb_instant_model(a, ta, na), _tlb_instant_model(b, tb_, nb))
    assert sim == alg


# --- r14 numeric/protocol cores: scaled-K arithmetic, blocked BLAS
# scan, pinned-stamp replay closed forms ---


@given(st.integers(0, 3_000_000))
@settings(max_examples=300, deadline=None)
def test_n_centroids_for_matches_duckdb_ceiling(n):
    """The Spark-side corpus-scaled cell count (Python integer
    ceiling) must equal the oracle's DuckDB expression
    greatest(64, ceil(n / 256.0)) for any corpus size — 256 = 2^8
    makes the float division exact in binary, which is what keeps the
    two ceilings bit-agreed."""
    import duckdb

    from siddhi_execution_unique_spark.functions.similarity import (
        N_CENTROIDS,
        TARGET_CELL_SIZE,
        n_centroids_for,
    )

    got = duckdb.sql(
        f"SELECT greatest({N_CENTROIDS}, "
        f"CAST(ceil({n} / {TARGET_CELL_SIZE}.0) AS BIGINT))"
    ).fetchone()[0]
    assert n_centroids_for(n) == got


@given(
    st.lists(
        st.lists(st.floats(-0.5, 0.5, allow_nan=False, width=32),
                 min_size=4, max_size=4),
        min_size=1, max_size=40,
    ),
    st.integers(1, 7),
)
@settings(max_examples=200, deadline=None)
def test_blocked_cell_scan_matches_naive_pairwise(vectors, block_elems):
    """The blocked BLAS duplicate scan inside semantic_dedup (chunked
    score matrix, triangular mask) must mark exactly the vectors that
    a naive O(n²) loop marks under the quantized cosine rule —
    including across block boundaries and at tiny block caps."""
    import numpy as np

    tau = 0.35
    E = np.array(vectors, dtype=np.float32).astype(np.float64)
    Q = np.floor(E * 1.0e6)
    qn = (Q * Q).sum(axis=1)
    n = len(Q)

    def qcos(i, j):
        d = float(np.dot(Q[i], Q[j]))
        denom = np.sqrt(qn[i] * qn[j])
        with np.errstate(invalid="ignore", divide="ignore"):
            return d / denom if denom else float("nan")

    naive = np.zeros(n, dtype=bool)
    for i in range(n):
        naive[i] = any(qcos(i, j) >= tau for j in range(i))

    # the blocked loop, with an artificially tiny element budget so
    # several boundaries occur even on small inputs
    dup = np.zeros(n, dtype=bool)
    lo = 1
    while lo < n:
        hi = min(n, lo + max(1, block_elems))
        with np.errstate(invalid="ignore", divide="ignore"):
            cos = (Q[lo:hi] @ Q[:hi].T) / np.sqrt(
                qn[lo:hi, None] * qn[None, :hi])
        mask = np.arange(hi)[None, :] < np.arange(lo, hi)[:, None]
        with np.errstate(invalid="ignore"):
            dup[lo:hi] = ((cos >= tau) & mask).any(axis=1)
        lo = hi
    assert (dup == naive).all()


@given(
    st.lists(st.tuples(st.integers(0, 500), st.integers(0, 5000)),
             max_size=30),
    st.sampled_from([7, 50, 100]),
)
@settings(max_examples=400, deadline=None)
def test_time_proc_replay_closed_form(raw, interval):
    """The pinned-stamp replay protocol through the ACTUAL
    `_time_proc_transition` (per-arrival invocations; a timeout
    invocation whenever the next stamp strictly exceeds timeout_at; a
    final timer at end of stream) must land on the oracle's closed
    form: per key ordered by (stamp, tiebreak), CURRENT at each stamp
    and EXPIRED at least(next same-key stamp, stamp + T) — including
    same-stamp ties and an arrival landing exactly on timeout_at."""
    from siddhi_execution_unique_spark.streaming import (
        _time_proc_transition,
    )

    # one key; stamps may tie, tiebreak is the event index
    events = sorted(((ts, i) for i, (ts, _) in enumerate(raw)))
    out = []
    stored, timeout_at = None, None
    for ts, i in events:
        if stored is not None and ts > timeout_at:
            emits, stored, timeout_at = _time_proc_transition(
                stored, [], timeout_at, interval, True)
            out += [(r["i"], ch, at) for r, ch, at in emits]
        emits, stored, timeout_at = _time_proc_transition(
            stored, [{"i": i}], ts, interval, False)
        out += [(r["i"], ch, at) for r, ch, at in emits]
    if stored is not None:
        emits, _, _ = _time_proc_transition(
            stored, [], timeout_at, interval, True)
        out += [(r["i"], ch, at) for r, ch, at in emits]

    closed = []
    for pos, (ts, i) in enumerate(events):
        closed.append((i, "current", ts))
        nxt = events[pos + 1][0] if pos + 1 < len(events) else None
        exp = ts + interval if nxt is None or nxt > ts + interval else nxt
        closed.append((i, "expired", exp))
    assert sorted(out) == sorted(closed)


@given(
    st.lists(st.integers(0, 3000), max_size=30),
    st.sampled_from([7, 50, 400]),
)
@settings(max_examples=400, deadline=None)
def test_dedup_proc_replay_anchored_chain(stamps, interval):
    """The pinned-stamp replay through `_dedup_proc_transition` (idle
    purge + now-vs-last-kept admission) must keep exactly the strict
    anchored chain: the first stamp, then repeatedly the first stamp
    STRICTLY more than `interval` after the last kept one."""
    from siddhi_execution_unique_spark.streaming import (
        _dedup_proc_transition,
    )

    ss = sorted(stamps)
    kept_replay = []
    last_kept, timeout_at = None, None
    for s in ss:
        if last_kept is not None and s > timeout_at:
            _, last_kept, timeout_at = _dedup_proc_transition(
                last_kept, 0, timeout_at, interval, True)
        k, last_kept, timeout_at = _dedup_proc_transition(
            last_kept, 1, s, interval, False)
        if k:
            kept_replay.append(s)

    chain = []
    for s in ss:
        if not chain or s > chain[-1] + interval:
            chain.append(s)
    assert kept_replay == chain


@settings(max_examples=150, deadline=None)
@given(
    st.lists(st.integers(0, 255), min_size=2, max_size=40),
    st.binary(min_size=0, max_size=64),
)
def test_huffman_lut_decode_matches_bitwise_walk(vals, stream):
    """r14: the table-driven symbol decode (_HuffTable.lut window
    peek) must be observationally identical to the per-bit canonical
    walk — same symbol sequence, same exception at the same point —
    on arbitrary valid canonical tables and arbitrary byte streams
    (including streams that end mid-code and stuffed/marker bytes)."""
    from siddhi_execution_unique_spark.functions.multimodal import (
        _BitReader, _HuffTable, _decode_symbol, _decode_symbol_bitwise,
    )

    # build a VALID canonical table over the given symbols: assign
    # code lengths greedily kraft-complete (all codes length ceil(log2)
    # plus remainder at the next length — simplest valid shape)
    import math
    n = len(vals)
    L = max(1, math.ceil(math.log2(n))) if n > 1 else 1
    bits = [0] * 16
    # put as many as fit at length L, the rest one longer (kraft-safe
    # because 2^L >= n)
    bits[L - 1] = n
    table = _HuffTable(bits, vals)

    def run(decode, table_arg):
        br = _BitReader(stream, 0)
        out = []
        try:
            for _ in range(40):
                out.append(decode(br, table_arg))
        except (ValueError, OverflowError) as e:
            return out, str(e)
        return out, None

    fast = run(_decode_symbol, table)
    slow = run(_decode_symbol_bitwise, table.codes)
    assert fast == slow

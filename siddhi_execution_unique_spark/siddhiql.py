"""SiddhiQL front-end: run the reference's own query TEXT against
DataFrames — the last mile of "a siddhi-execution-unique user can
switch without relearning": the window clauses their apps already
contain (``#window.unique:ever(ip)``, ``#unique:deduplicate(ip, 1
sec)``) parse directly onto this engine's operators.

Scope (single-stream queries, the shape every reference test uses —
e.g. UniqueEverWindowTestCase.java:86-94)::

    define stream events (user_id long, value double);
    from events[value > 100]#window.unique:time(user_id, 1 min)
    select user_id, value
    insert into out;

Supported per query: an optional stream filter (``[...]``, SQL-subset
expressions; Siddhi's ``==`` is translated), one ``unique:*`` window
or stream-processor clause with the reference's positional parameters
(time constants like ``1 sec`` included), a select list (``*`` or
expressions with ``as`` aliases), and the output channel (``insert
into`` = current events; ``insert expired events into`` for the
operators with a wired expired channel). ``define stream`` lines are
validated EAGERLY against the bound DataFrame's schema — a missing
attribute raises at parse time, mirroring SiddhiAppCreationException
(the reference's init-time validation, DeduplicateTestCase.java:
286-316).

Scale note: the front-end is pure query *construction* — everything
it emits is the same declarative DataFrame plan the function API
builds, so Catalyst sees identical trees and every plan-shape test in
``tests/test_plans.py`` covers the parsed form too.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pyspark.sql.window import Window as SqlWindow

from siddhi_execution_unique_spark import operators as ops
from siddhi_execution_unique_spark.functions.text import (
    checkpointed as _checkpointed,
)
from siddhi_execution_unique_spark.operators.keyed import ever_expired
from siddhi_execution_unique_spark.operators.time_batch import event_ms
from siddhi_execution_unique_spark.operators.time_window import time_window_expired
from siddhi_execution_unique_spark.operators.validation import (
    parse_time_ms,
    require_pos_int,
)

_TIME_RE = re.compile(r"^\d+\s+[a-zA-Z]+$")
_INT_RE = re.compile(r"^-?\d+$")  # time.out accepts -1 = disabled
_BOOL_RE = re.compile(r"^(true|false)$", re.IGNORECASE)

_QUERY_RE = re.compile(
    r"from\s+(?P<stream>\w+)"
    r"(?:\s*\[(?P<filter>[^\]]+)\])?"
    r"\s*#\s*(?:window\.)?unique:(?P<window>\w+)"
    # args allow two levels of nested parens (expression keys like
    # coalesce(a, b))
    r"\s*\((?P<args>(?:[^()]|\((?:[^()]|\([^()]*\))*\))*)\)"
    r"\s*select\s+(?P<select>.+?)"
    r"(?:\s+group\s+by\s+(?P<groupby>.+?))?"
    r"(?:\s+having\s+(?P<having>.+?))?"
    r"\s+insert\s+(?:(?P<channel>expired|all|current)\s+events\s+)?into\s+(?P<out>\w+)",
    re.IGNORECASE | re.DOTALL,
)


def _side_clause(p: str) -> str:
    return (
        rf"(?P<{p}stream>\w+)"
        rf"(?:\s*\[(?P<{p}filter>[^\]]+)\])?"
        rf"\s*#\s*(?:window\.)?unique:(?P<{p}window>\w+)"
        rf"\s*\((?P<{p}args>(?:[^()]|\((?:[^()]|\([^()]*\))*\))*)\)"
    )


# window-to-window join — the reference's own test text shape
# (UniqueEverWindowTestCase.java:228-233,
#  UniqueTimeBatchWindowTestCase.java:192-196):
#   from A#window.unique:X(..) join B#window.unique:Y(..)
#   on A.attr == B.attr select A.attr as x, B.attr insert into out
_JOIN_RE = re.compile(
    r"from\s+" + _side_clause("l")
    + r"\s+join\s+" + _side_clause("r")
    + r"\s+on\s+(?P<on>.+?)"
    + r"\s*select\s+(?P<select>.+?)"
    + r"\s+insert\s+(?:(?P<channel>expired|all|current)\s+events\s+)?into\s+(?P<out>\w+)",
    re.IGNORECASE | re.DOTALL,
)

_DEFINE_RE = re.compile(
    r"define\s+stream\s+(?P<name>\w+)\s*\((?P<cols>[^)]*)\)",
    re.IGNORECASE,
)

# `partition with (attr of Stream) begin ... end` — each partition-key
# value gets an independent window instance (Siddhi's partitioned
# execution). One (attr of Stream) pair per block is supported.
_PARTITION_RE = re.compile(
    r"partition\s+with\s*\(\s*(?P<specs>\w+\s+of\s+\w+"
    r"(?:\s*,\s*\w+\s+of\s+\w+)*)\s*\)"
    r"\s*begin\b(?P<body>.*?)\bend\b",
    re.IGNORECASE | re.DOTALL,
)
_PARTITION_SPEC_RE = re.compile(r"(\w+)\s+of\s+(\w+)", re.IGNORECASE)

# positional parameter spec: how many trailing args are constants,
# consumed from the END (the reference's signatures put unique keys
# first, then window.length / window.time / start.time)
_SPECS: dict = {
    # name -> (batch fn, [trailing param names], expired-channel fn or None)
    "ever": (ops.ever, [], ever_expired),
    "first": (ops.first, [], None),
    "length": (ops.length_window, ["window_length"], None),
    "lengthBatch": (ops.length_batch, ["window_length"], None),
    "firstLengthBatch": (ops.first_length_batch, ["window_length"], None),
    "time": (ops.time_window, ["window_time"], time_window_expired),
    "timeBatch": (ops.time_batch, ["window_time", "start_time_ms"], None),
    "firstTimeBatch": (ops.first_time_batch, ["window_time"], None),
    "timeLengthBatch": (
        ops.time_length_batch_distributed,
        ["window_time", "window_length"],
        None,
    ),
    "deduplicate": (ops.deduplicate, ["time_interval"], None),
    # externalTimeBatch is special-cased: its SECOND positional arg is
    # the timestamp ATTRIBUTE, not a constant
    "externalTimeBatch": (ops.external_time_batch, None, None),
}


class SiddhiQLError(ValueError):
    """App-creation failure: bad syntax, unknown window, or an
    attribute the bound stream does not have (the eager-validation
    twin of SiddhiAppCreationException)."""


def _app_error_boundary(fn, *args, **kwargs):
    """Operator-level parameter validation raises ValueError (the
    function API's contract); through the SiddhiQL front-end every
    app-creation failure must surface as SiddhiQLError — e.g. a
    corpus negative test passing a boolean where window.length goes."""
    try:
        return fn(*args, **kwargs)
    except SiddhiQLError:
        raise
    except ValueError as e:
        raise SiddhiQLError(f"app creation failed: {e}") from e


def _split_args(raw: str) -> list[str]:
    """Split a window's argument list on TOP-LEVEL commas only, so an
    expression key like ``coalesce(a, b)`` survives as one argument
    (the reference accepts arbitrary ExpressionExecutors as unique
    keys, UniqueEverWindowProcessor.java:216-222)."""
    if not raw.strip():
        return []
    out: list[str] = []
    depth, cur = 0, []
    for ch in raw:
        if ch in "([":
            depth += 1
        elif ch in ")]":
            depth -= 1
        if ch == "," and depth == 0:
            out.append("".join(cur).strip())
            cur = []
        else:
            cur.append(ch)
    tail = "".join(cur).strip()
    if tail:
        out.append(tail)
    return [a for a in out if a]


# windows accepting EXPRESSION keys through the text front-end: the
# per-key retains, whose lowering passes keys straight to ops.* (which
# stage arbitrary Column expressions). Other windows keep the eager
# attribute validation.
_EXPR_KEY_WINDOWS = frozenset({"ever", "first"})
_IDENT_RE = re.compile(r"[A-Za-z_][A-Za-z0-9_]*$")


def _is_const(arg: str) -> bool:
    return bool(
        _INT_RE.match(arg) or _TIME_RE.match(arg) or _BOOL_RE.match(arg)
    )


def _const(arg: str):
    return int(arg) if _INT_RE.match(arg) else arg  # ops parse time sugar


def _translate_expr(expr: str) -> str:
    # Siddhi equality is '=='; Spark SQL accepts '==' too, but
    # normalize for clarity. 'and/or/not' are shared.
    return expr.strip()


def parse_app(text: str) -> list[dict]:
    """Parse a SiddhiQL app into query dicts (no DataFrames yet).
    ``partition with (attr of Stream) begin ... end`` blocks mark each
    inner query with the partition attribute; everything else parses
    position-independently."""
    text = re.sub(r"--[^\n]*", "", text)  # line comments
    defines = {
        m.group("name"): [
            c.strip().split()[0]
            for c in m.group("cols").split(",")
            if c.strip()
        ]
        for m in _DEFINE_RE.finditer(text)
    }
    queries: list[dict] = []
    masked = text
    for m in _PARTITION_RE.finditer(text):
        inner = _scan_queries(m.group("body"), defines, m.start("body"))
        if not inner:
            raise SiddhiQLError("empty partition block")
        # Siddhi declares one partition key per stream:
        # `partition with (a of A, b of B)` — a join inside the block
        # runs per-instance, each instance owning both windows
        attr_of: dict[str, str] = {}
        for attr, pstream in _PARTITION_SPEC_RE.findall(m.group("specs")):
            if pstream in attr_of:
                raise SiddhiQLError(
                    f"duplicate partition key for stream {pstream!r}"
                )
            attr_of[pstream] = attr
        for q in inner:
            if q["kind"] == "join":
                for side in ("left", "right"):
                    sname = q[side]["stream"]
                    if sname not in attr_of:
                        raise SiddhiQLError(
                            f"partitioned join reads stream {sname!r} but "
                            f"the partition declares keys only for "
                            f"{sorted(attr_of)}"
                        )
                    q[side]["partition"] = attr_of[sname]
                q["partitioned"] = True
                continue
            if q["stream"] not in attr_of:
                raise SiddhiQLError(
                    f"partition is keyed on stream(s) {sorted(attr_of)} but "
                    f"the inner query reads {q['stream']!r}"
                )
            q["partition"] = attr_of[q["stream"]]
        queries += inner
        # blank the block (same length) so the outer scan skips it
        masked = masked[:m.start()] + " " * (m.end() - m.start()) + masked[m.end():]
    queries += _scan_queries(masked, defines, 0)
    if not queries:
        raise SiddhiQLError("no 'from ... insert into ...' query found")
    queries.sort(key=lambda q: q["pos"])
    return queries


def _scan_queries(text: str, defines: dict, offset: int) -> list[dict]:
    def _side(m, p: str) -> dict:
        window = m.group(f"{p}window")
        if window not in _SPECS:
            raise SiddhiQLError(
                f"unknown window unique:{window}; expected one of "
                f"{sorted(_SPECS)}"
            )
        return {
            "stream": m.group(f"{p}stream"),
            "filter": (
                _translate_expr(m.group(f"{p}filter"))
                if m.group(f"{p}filter") else None
            ),
            "window": window,
            "args": _split_args(m.group(f"{p}args")),
            "declared": defines.get(m.group(f"{p}stream")),
        }

    queries = []
    join_spans: list[tuple[int, int]] = []
    for m in _JOIN_RE.finditer(text):
        join_spans.append(m.span())
        queries.append(
            {
                "kind": "join",
                "left": _side(m, "l"),
                "right": _side(m, "r"),
                "on": _translate_expr(m.group("on")),
                "select": [s.strip() for s in m.group("select").split(",")],
                "channel": (m.group("channel") or "current").lower(),
                "out": m.group("out"),
                "pos": offset + m.start(),
            }
        )
    for m in _QUERY_RE.finditer(text):
        if any(a <= m.start() < b for a, b in join_spans):
            continue
        window = m.group("window")
        if window not in _SPECS:
            raise SiddhiQLError(
                f"unknown window unique:{window}; expected one of "
                f"{sorted(_SPECS)}"
            )
        queries.append(
            {
                "kind": "single",
                "stream": m.group("stream"),
                "filter": _translate_expr(m.group("filter")) if m.group("filter") else None,
                "window": window,
                "args": _split_args(m.group("args")),
                "select": [s.strip() for s in m.group("select").split(",")],
                "group_by": (
                    [g.strip() for g in m.group("groupby").split(",")]
                    if m.group("groupby") else None
                ),
                "having": (
                    _translate_expr(m.group("having")) if m.group("having") else None
                ),
                "channel": (m.group("channel") or "current").lower(),
                "out": m.group("out"),
                "declared": defines.get(m.group("stream")),
                "pos": offset + m.start(),
            }
        )
    return queries


# windows whose reference processor NEVER emits expired events — for
# these `insert all events into` is exactly the current channel
# (UniqueFirstWindowProcessor.java:129-132 drops duplicates silently;
# the first-batch variants and the deduplicate stream processor have
# no expired chunk at all)
_NEVER_EXPIRES = frozenset({"first", "firstLengthBatch", "firstTimeBatch", "deduplicate"})

CHANNEL = "channel"


def _tag(df: DataFrame, channel: str) -> DataFrame:
    return df.withColumn(CHANNEL, F.lit(channel))


# The mixed-channel join lowerings reference each side's window-chain
# artifacts from several places at once (the current∪expired probe
# union, the other direction's interval side, the fire-count scalars),
# and Spark does not reuse exchanges across union branches, so each
# reference re-executes the whole sort chain from the scan (measured:
# 64 parquet scans / 184 Exchange nodes for one tlb⋈tb all-channel
# query). They checkpoint those artifacts lazily, with
# ``_checkpointed(df, eager=False)``: computed once per ``run_app``
# call, never cached across calls.


def _need_tiebreak(window: str, tiebreak: str | None) -> str:
    if tiebreak is None:
        raise SiddhiQLError(
            f"the expired/all-events channel of unique:{window} needs a "
            "tiebreak column to address retained rows uniquely; pass "
            "tiebreak= to run_app"
        )
    return tiebreak


def _complement_channels(df, retained, on: list) -> DataFrame:
    """All-events channel when the expired stream is the EXACT
    complement of the final contents (ever/time): one source scan —
    rows are labeled current/expired by a left-join marker on the
    retained set (the rows partition disjointly, so no explode);
    a current ∪ anti-join union would scan the source twice."""
    marker = retained.select(*on).withColumn("_keep", F.lit(1))
    return (
        df.join(marker, on, "left")
        .withColumn(
            "channel",
            F.when(F.col("_keep").isNotNull(), F.lit("current"))
            .otherwise(F.lit("expired")),
        )
        .drop("_keep")
    )


def _dual_channel(
    window: str,
    df: DataFrame,
    keys,
    kwargs: dict,
    ts: str,
    tiebreak: str | None,
    channel: str,
    partition_attr: str | None = None,
) -> DataFrame:
    """Build the expired channel, or the reference's `insert all events
    into` protocol (current ∪ expired, tagged on a ``channel`` column —
    e.g. UniqueLengthWindowTestCase.java:65,95 consume both chunks of
    one output stream). Raises SiddhiQLError for windows whose expired
    channel has no batch form — never silently returns current-only.
    ``partition_attr`` scopes each channel rule to its instance (the
    composite-key windows already carry it as their leading key)."""
    p = partition_attr
    if window == "ever":
        if channel == "expired":
            return ever_expired(df, keys, ts=ts, tiebreak=tiebreak)
        cur = ops.ever(df, keys, ts=ts, tiebreak=tiebreak)
        if tiebreak is not None:
            key_list = [keys] if isinstance(keys, str) else list(keys)
            return _complement_channels(df, cur, key_list + [ts, tiebreak])
        exp = ever_expired(df, keys, ts=ts, tiebreak=tiebreak)
    elif window == "time":
        tb = _need_tiebreak(window, tiebreak)
        if channel == "expired":
            return time_window_expired(
                df, keys, kwargs["window_time"], ts=ts, tiebreak=tb)
        cur = ops.time_window(df, keys, kwargs["window_time"], ts=ts, tiebreak=tb)
        key_list = [keys] if isinstance(keys, str) else list(keys)
        return _complement_channels(df, cur, key_list + [ts, tb])
    elif window == "length":
        tb = _need_tiebreak(window, tiebreak)
        emissions = ops.length_window_emissions_distributed(
            df, keys, kwargs["window_length"], ts=ts, tiebreak=tb,
            partition_attr=p,
        )
        if channel == "expired":
            return emissions.filter(F.col(CHANNEL) == "expired").drop(CHANNEL)
        return emissions
    elif window == "timeBatch":
        batched = ops.time_batch(df, keys, ts=ts, tiebreak=tiebreak, **kwargs)
        if channel == "expired":
            return ops.expired_channel(batched, kwargs["window_time"], p)
        # single pass: a current∪expired union recomputes the batched
        # aggregation per branch (no exchange reuse across a union)
        return ops.all_channel(batched, kwargs["window_time"], p)
    elif window == "lengthBatch":
        batched = ops.length_batch(
            df, keys, kwargs["window_length"], ts=ts, tiebreak=tiebreak,
            partition_attr=p,
        )
        # each instance's fire chain drains its own previous batch
        gcols = (p,) if p else ()
        if channel == "expired":
            return ops.length_batch_expired(batched, group_cols=gcols)
        return ops.length_batch_all(batched, group_cols=gcols)
    elif window == "timeLengthBatch":
        fn = (ops.time_length_batch_expired if channel == "expired"
              else ops.time_length_batch_all)
        return fn(
            df, keys, kwargs["window_time"], kwargs["window_length"],
            ts=ts, tiebreak=tiebreak, partition_attr=p,
        )
    else:
        raise SiddhiQLError(
            f"the expired/all-events channel of unique:{window} is not "
            "wired through SiddhiQL; use the function API variant"
        )
    if channel == "expired":
        return exp
    return _tag(cur, "current").unionByName(_tag(exp, "expired"))


# windows where "independent instance per partition value" is exactly
# "prepend the partition attribute to the unique keys": per-key state
# (ever/first) or an absolute epoch-aligned tumbling grid (timeBatch's
# start.time modulo alignment is partition-independent)
_PARTITION_COMPOSITE = frozenset({"ever", "first", "timeBatch", "firstTimeBatch"})


def _window_args(q: dict, df: DataFrame) -> tuple[list, dict]:
    """The argument binder of both window builders (batch and
    streaming), so a window clause validates the same either way: the
    partition attribute must be a column of the stream;
    externalTimeBatch takes (key, timestamp, window.time [, start.time
    [, time.out [, replace.time.stamp.with.batch.end.time]]]); any
    other window's ``_SPECS`` constants come last, consumed from the
    END, and all are required but timeBatch's start.time (a short list
    is the reference's invalid-parameter-count
    SiddhiAppCreationException). -> (the key / attribute arguments,
    the constants by operator parameter name)."""
    p = q.get("partition")
    if p is not None and p not in df.columns:
        raise SiddhiQLError(
            f"partition attribute {p!r} is not in stream {q['stream']!r} "
            f"({df.columns})"
        )
    window, args = q["window"], list(q["args"])
    if window == "externalTimeBatch":
        if len(args) < 3 or len(args) > 6:
            raise SiddhiQLError(
                "unique:externalTimeBatch needs (key, timestamp, window.time"
                " [, start.time [, time.out [, replace.time.stamp.with."
                "batch.end.time]]])"
            )
        kwargs: dict = {"window_time": _const(args[2])}
        if len(args) >= 4:
            if not _INT_RE.match(args[3]):
                raise SiddhiQLError(
                    f"externalTimeBatch start.time must be an int constant, "
                    f"got {args[3]!r}"
                )
            kwargs["start_time_ms"] = int(args[3])
        if len(args) >= 5:
            if not (_INT_RE.match(args[4]) or _TIME_RE.match(args[4])):
                raise SiddhiQLError(
                    f"externalTimeBatch time.out must be an int/time constant, "
                    f"got {args[4]!r}"
                )
            kwargs["idle_timeout"] = _const(args[4])
        if len(args) == 6:
            if not _BOOL_RE.match(args[5]):
                raise SiddhiQLError(
                    "externalTimeBatch replace.time.stamp.with.batch.end.time "
                    f"must be true/false, got {args[5]!r}"
                )
            kwargs["replace_timestamp_with_batch_end"] = args[5].lower() == "true"
        return args[:2], kwargs
    trailing = _SPECS[window][1]
    consts: list = []
    while args and _is_const(args[-1]) and len(consts) < len(trailing):
        consts.insert(0, _const(args.pop()))
    if any(_is_const(a) for a in args):
        raise SiddhiQLError(
            f"unique:{window}: constant parameters must come last, got {q['args']}"
        )
    if len(consts) < len([t for t in trailing if t != "start_time_ms"]):
        raise SiddhiQLError(
            f"unique:{window} needs ({', '.join(['key'] + trailing)})"
        )
    if not args:
        raise SiddhiQLError(f"unique:{window} needs at least a unique key attribute")
    return args, dict(zip(trailing, consts))


def _build_window(q: dict, df: DataFrame, ts: str, tiebreak: str | None) -> DataFrame:
    """Lower one window clause onto the operators. Inside `partition
    with (attr of Stream)` (``q["partition"]``) every attribute value
    runs its own window instance (Siddhi partitioned execution). The
    arguments parse and validate the same either way
    (:func:`_window_args`); the instance scoping is the operators'
    ``partition_attr=``, except where the lowering itself depends on
    it: the per-key / absolute-grid windows take the attribute as a
    leading key, deduplicate a staged composite key, and unique:time a
    per-instance event-time edge."""
    p = q.get("partition")
    args, kwargs = _window_args(q, df)
    window = q["window"]
    channel = q["channel"]
    if channel == "all" and window in _NEVER_EXPIRES:
        channel = "current"
    if window == "externalTimeBatch":
        key, ts_attr = args
        wtime = kwargs.pop("window_time")
        # time.out is a wall-clock idle flush: batch replay has no idle
        # clock; the streaming twin honors it. start.time fixes an
        # absolute grid shared by every instance; without it each
        # instance anchors at its own first event
        kwargs.pop("idle_timeout", None)
        kwargs.update(tiebreak=tiebreak, partition_attr=p)
        # the expired derivation has no ts-rewrite knob (the reference
        # rewrites expired timestamps to the flush time regardless —
        # our expired_at_ms column carries that)
        exp_kwargs = {
            k: v for k, v in kwargs.items()
            if k != "replace_timestamp_with_batch_end"
        }
        if channel == "expired":
            return ops.external_time_batch_expired(df, key, ts_attr, wtime, **exp_kwargs)
        if channel == "all":
            if kwargs.get("replace_timestamp_with_batch_end"):
                # ts-rewrite applies to the current channel only, so
                # the two branches genuinely differ — keep the union
                cur = ops.external_time_batch(df, key, ts_attr, wtime, **kwargs)
                return _tag(
                    cur.withColumn("expired_at_ms", F.lit(None).cast("long")),
                    "current",
                ).unionByName(
                    _tag(
                        ops.external_time_batch_expired(df, key, ts_attr, wtime, **exp_kwargs),
                        "expired",
                    )
                )
            return ops.external_time_batch_all(df, key, ts_attr, wtime, **exp_kwargs)
        return ops.external_time_batch(df, key, ts_attr, wtime, **kwargs)
    fn, _, expired_fn = _SPECS[window]
    # expression keys (validated in _bind_stream; ever/first only):
    # lower to Column expressions, which ops.* stage and drop
    has_expr_keys = any(
        not _IDENT_RE.fullmatch(a) for a in args if isinstance(a, str)
    )
    if has_expr_keys:
        if window not in _EXPR_KEY_WINDOWS:
            raise SiddhiQLError(
                f"unique:{window} takes attribute keys, not expressions; "
                f"got {q['args']}"
            )
        if channel == "all":
            raise SiddhiQLError(
                f"the all-events channel of unique:{window} with "
                "expression keys is not wired through SiddhiQL (the "
                "channel complement joins on key columns); use the "
                "expired channel or the function API"
            )
        args = [a if _IDENT_RE.fullmatch(a) else F.expr(a) for a in args]
    part: dict = {}
    if p is not None:
        if window == "deduplicate" and channel == "current":
            if len(args) != 1:
                raise SiddhiQLError("unique:deduplicate takes exactly one key attribute")
            # the distributed replay keys state by one column value:
            # stage a composite string key (partition-attr is non-null
            # in any meaningful partitioned app; the unit separator
            # avoids accidental concat collisions)
            staged = df.withColumn(
                "_pkey",
                F.concat_ws(
                    "\x1f", F.col(p).cast("string"), F.col(args[0]).cast("string")
                ),
            )
            return fn(staged, "_pkey", ts=ts, tiebreak=tiebreak, **kwargs).drop("_pkey")
        if window == "time":
            # each instance's timer is driven by its own stream's front,
            # so the live set is ts > max(ts) OVER (PARTITION BY attr) - T,
            # not the global max
            window_ms = parse_time_ms(kwargs["window_time"], "window.time")
            ms = event_ms(df, ts)
            live = (
                df.withColumn("_edge", F.max(ms).over(SqlWindow.partitionBy(p)))
                .filter(ms > F.col("_edge") - F.lit(window_ms))
                .drop("_edge")
            )
            cur = ops.ever(live, [p] + args, ts=ts, tiebreak=tiebreak)
            if channel == "current":
                return cur
            # per-instance expired: the complement of the instance's
            # final contents — timer-evicted (per-instance edge) or
            # replaced — the partitioned analog of time_window_expired
            on = [p] + args + [ts, _need_tiebreak(window, tiebreak)]
            if channel == "expired":
                return df.join(cur.select(*on), on, "left_anti")
            return _complement_channels(df, cur, on)
        if window in _PARTITION_COMPOSITE:
            args = [p] + args
        else:
            part = {"partition_attr": p}
            if window == "timeLengthBatch":
                # per-instance fire chains replay per value; the
                # distributed form's interval algebra is global
                fn = ops.time_length_batch
    keys = args if len(args) > 1 else args[0]
    if channel == "expired" and expired_fn is not None:
        return expired_fn(df, keys, ts=ts, tiebreak=tiebreak, **kwargs)
    if channel in ("expired", "all"):
        return _dual_channel(window, df, keys, kwargs, ts, tiebreak, channel, p)
    return fn(df, keys, ts=ts, tiebreak=tiebreak, **kwargs, **part)


def _bind_stream(q: dict, streams: dict[str, DataFrame]) -> DataFrame:
    """Eager-validation binding of one windowed stream clause: the
    stream must be bound, declared attributes must exist, identifier
    window args must be columns; the optional ``[...]`` filter is
    applied (SiddhiAppCreationException twin)."""
    if q["stream"] not in streams:
        raise SiddhiQLError(
            f"stream {q['stream']!r} is not bound; have {sorted(streams)}"
        )
    df = streams[q["stream"]]
    if q["declared"]:
        missing = [c for c in q["declared"] if c not in df.columns]
        if missing:
            raise SiddhiQLError(
                f"stream {q['stream']!r} is missing declared attributes "
                f"{missing}; has {df.columns}"
            )
    for a in q["args"]:
        if _is_const(a) or a in df.columns:
            continue
        if q["window"] in _EXPR_KEY_WINDOWS and not _IDENT_RE.fullmatch(a):
            # expression key: validate it ANALYZES against the stream
            # eagerly (SiddhiAppCreationException twin), run it later
            try:
                df.select(F.expr(a))
            except Exception as e:
                raise SiddhiQLError(
                    f"unique:{q['window']}: key expression {a!r} does "
                    f"not resolve against stream {q['stream']!r} "
                    f"({df.columns}): {e}"
                ) from None
            continue
        raise SiddhiQLError(
            f"unique:{q['window']}: attribute {a!r} is not in "
            f"stream {q['stream']!r} ({df.columns})"
        )
    if q["filter"]:
        df = df.filter(F.expr(q["filter"]))
    return df


# join channel wiring exists for aligned tumbling time batches: both
# windows share the tumbling grid, so co-residency (Siddhi joins an
# arriving event against the OTHER window's current contents) is
# exactly batch_end_ms equality
_TIME_BATCH_WINDOWS = frozenset({"timeBatch", "firstTimeBatch"})
# mixed-pair channel lowering support (emission-log interval algebra)
_MIXED_LENGTH = frozenset({"lengthBatch", "firstLengthBatch"})
_MIXED_TIME = frozenset({"timeBatch", "firstTimeBatch"})
# non-batch unique windows with a mixed-channel join lowering
# (per-key non-overlapping live intervals; see _x_instant_artifacts)
_MIXED_X = frozenset({"ever", "first", "time", "length"})


def _floor_slot(v: str, anchor: int, t: int) -> str:
    """SQL for the exact ``floor((v - anchor) / t)`` slot over longs.

    Spark's integer ``div`` truncates toward zero, which disagrees
    with the certified floor bucketing whenever the operand is
    negative and NOT a grid multiple (an arrival-driven probe or
    interval endpoint before a ``start.time`` anchor, or one grid's
    batch end mapped onto a DIFFERENT grid). Subtracting ``pmod``
    (non-negative for positive ``t``) first makes the operand an
    exact multiple of ``t``, where truncation and floor coincide —
    all-integer, no double round-trip. Grid-aligned operands
    (``batch_start_ms``/``batch_end_ms`` against their OWN anchor)
    may keep plain ``div``: exact multiples divide exactly."""
    d = f"(({v}) - {anchor})"
    return f"cast(({d} - pmod({d}, {t})) div {t} as long)"


def _join_plan(q: dict) -> tuple[str, bool, bool, str | None, str | None, bool]:
    """Validate a join query and build its effective condition.
    Returns (cond, aligned_batches, partitioned, lattr, rattr,
    mixed_channels) — shared by the batch join and the staged
    streaming join; ``mixed_channels`` routes expired/all channels of
    a lengthBatch-family ⋈ timeBatch-family pair to the emission-log
    lowering (:func:`_run_join_mixed_channels`)."""
    lname, rname = q["left"]["stream"], q["right"]["stream"]
    if lname == rname:
        raise SiddhiQLError("join sides must name two distinct streams")
    lw, rw = q["left"]["window"], q["right"]["window"]
    channel = q["channel"]
    cond = q["on"]
    same_family = lw in _TIME_BATCH_WINDOWS and rw in _TIME_BATCH_WINDOWS
    same_external = lw == "externalTimeBatch" and rw == "externalTimeBatch"
    aligned_batches = False
    if same_family:
        # compare NORMALIZED values, not literal argument strings —
        # '1 hour' and '3600000' describe the same tumbling grid. The
        # first constant is window.time (duration sugar allowed); an
        # optional second is the start.time anchor, which also shifts
        # the grid and must match.
        def grid(side: dict) -> list[int]:
            consts = [a for a in side["args"] if _is_const(a)]
            if not consts:
                return []
            t = parse_time_ms(_const(consts[0]), "window.time")
            anchor = int(consts[1]) % t if len(consts) > 1 else 0
            return [t, anchor]  # omitted start.time defaults to 0

        lt, rt = grid(q["left"]), grid(q["right"])
        # identical grids: batch k of one window only ever co-resides
        # with batch k of the other, so the join pins the shared
        # interval. DIFFERENT grids fall through to the mixed-pair
        # find()-state lowering in _run_join (each side probes its
        # last fired batch) instead of the old eager error.
        aligned_batches = bool(lt) and lt == rt
    elif same_external:
        # externalTimeBatch pairs align exactly like timeBatch when
        # BOTH sides carry an explicit start.time: the reference's
        # endTime = ts + (T - (ts - start) % T) is an absolute grid,
        # so batch k of one window only ever co-resides with batch k
        # of the other (VERDICT r09 item 3). Without start.time each
        # side anchors at its own first event — grids generally
        # differ, so those pairs take the mixed find()-state lowering.
        def egrid(side: dict) -> list[int] | None:
            consts = [a for a in side["args"] if _is_const(a)]
            if len(consts) < 2:
                # first-event-anchored: no absolute grid to align on —
                # the pair takes the mixed find()-state lowering
                return None
            t = parse_time_ms(_const(consts[0]), "window.time")
            return [t, int(consts[1]) % t]

        lt, rt = egrid(q["left"]), egrid(q["right"])
        aligned_batches = lt is not None and lt == rt
    if aligned_batches:
        cond = f"({cond}) AND {lname}.batch_end_ms = {rname}.batch_end_ms"
    partitioned = bool(q.get("partitioned"))
    if partitioned:
        if channel != "current" and not aligned_batches:
            raise SiddhiQLError(
                "the expired/all-events channel of a partitioned join is "
                "wired for aligned unique:timeBatch pairs and start.time-"
                "anchored unique:externalTimeBatch pairs only; use the "
                "function API"
            )
        # each instance owns both windows: join the per-instance
        # contents and pin the instances to each other
        lattr, rattr = q["left"]["partition"], q["right"]["partition"]
        cond = f"({cond}) AND {lname}.{lattr} = {rname}.{rattr}"
    mixed_channels = False
    if not partitioned and channel != "current" and not aligned_batches:
        wins = {lw, rw}
        _batch_wins = _MIXED_LENGTH | _MIXED_TIME | {"externalTimeBatch"}
        if wins <= _batch_wins:
            # every non-aligned batch-window pair is lowered: tick ⋈
            # tick (co-residency), arrival ⋈ tick (emission-log over
            # the grid), arrival ⋈ arrival (global-instant emission
            # log). Each algebra is simulation-certified in
            # tests/test_properties.py (test_mixed_join_channels_ /
            # test_tt_mixed_join_coresidency_ / test_etb_tb_ /
            # test_ll_ / test_lb_etb_ / test_etb_etb_..._matches_
            # simulation) — lowered in _run_join
            mixed_channels = True
        elif wins <= (_MIXED_X | _batch_wins | {"timeLengthBatch"}):
            # every remaining unique-window pair: NON-BATCH ⋈ any
            # window (VERDICT r12 item 2 + r13 — timer flags on
            # either side, the 3-strata instant encoding for flush
            # ticks and timeLengthBatch's hybrid fire protocol) and
            # timeLengthBatch ⋈ any batch window or itself (r14, the
            # last square — test_tlb_tb_ / test_tlb_lb_ /
            # test_tlb_etb_ / test_tlb_tlb_join_channels_algebra_
            # matches_simulation, each a two-processor replay vs the
            # instant-pair closed form, 400 hypothesis cases + an
            # 8,000-trial randomized sweep) — all lowered in
            # _run_join_mixed_ll over the per-family instant
            # artifacts
            mixed_channels = True
        else:
            raise SiddhiQLError(
                f"the expired/all-events channel of a unique:{lw} join "
                f"unique:{rw} is not a lowered window pair"
            )
    lattr = q["left"].get("partition") if partitioned else None
    rattr = q["right"].get("partition") if partitioned else None
    return cond, aligned_batches, partitioned, lattr, rattr, mixed_channels


def _join_channels(
    q: dict,
    sides: dict[str, DataFrame],
    cond: str,
    partitioned: bool,
    lattr: str | None,
    rattr: str | None,
) -> DataFrame:
    """Join prebuilt window CONTENTS and derive the requested channel
    — the tail shared by the batch join (contents built inline) and
    the staged streaming join (contents staged from the twins)."""
    lname, rname = q["left"]["stream"], q["right"]["stream"]
    channel = q["channel"]
    # The flush witness below re-reads each side's retained contents.
    # Since the (batch, key) distribution propagation, column pruning
    # rewrites the witness branch's aggregate to a bare distinct over
    # the grouping columns (the max_by is dead code there), so the
    # subtrees stop being exchange-reuse-identical and the witness
    # re-scans each raw stream. Measured trade-off (BASELINE.md r09):
    # the witness re-scan reads a 3-column pruned projection and a
    # cheap distinct (~+0.2 s at sf0.1, ~+0.3 s at sf1) while the
    # propagation HALVES the heavy max_by final aggregations and
    # unlocks exchange-free downstream keyed joins engine-wide.
    # Materializing the sides (localCheckpoint) to share them was
    # tried and is ~25% SLOWER still: the retained set is near
    # raw-sized for fine-grained keys, and block storage + codegen
    # breaks cost more than a pruned columnar scan.
    joined = sides["left"].alias(lname).join(
        sides["right"].alias(rname), F.expr(cond), "inner"
    )
    if channel == "current":
        return joined
    # single-pass channel derivation: a union of a "current" branch
    # and a filtered "expired" branch would RECOMPUTE the whole join
    # subtree (Spark does not reuse the exchanges across the union
    # branches — measured 12 parquet scans for 6 sources); instead,
    # join the tiny flush-witness aggregate once and explode each
    # joined row into its channel tags
    _dual = F.array(F.lit("current"), F.lit("expired"))
    _single = F.array(F.lit("current"))
    if partitioned:
        # per-instance flush witness (the partitioned timeBatch
        # expired rule, VERDICT r07 item 7): instance p's joined
        # batch re-emits as expired iff instance p ITSELF fired a
        # later batch on either side — another instance's flush is
        # not p's scheduler. One tiny (instances × batches) aggregate
        # joined back on the instance key; AQE broadcasts it.
        ends_p = (
            sides["left"].select(F.col(lattr).alias("_p"), "batch_end_ms")
            .unionAll(
                sides["right"].select(F.col(rattr).alias("_p"), "batch_end_ms"))
            .groupBy("_p").agg(F.max("batch_end_ms").alias("_last_end"))
        )
        tagged = (
            joined.join(ends_p, F.col(f"{lname}.{lattr}") == F.col("_p"))
            .withColumn(
                "channel",
                F.explode(
                    F.when(
                        F.col(f"{lname}.batch_end_ms") < F.col("_last_end"),
                        _dual,
                    ).otherwise(_single)
                ),
            )
            .drop("_p", "_last_end")
        )
    else:
        ends = (
            sides["left"].select("batch_end_ms")
            .unionAll(sides["right"].select("batch_end_ms"))
            .agg(F.max("batch_end_ms").alias("_last_end"))
        )
        tagged = (
            joined.crossJoin(F.broadcast(ends))
            .withColumn(
                "channel",
                F.explode(
                    F.when(
                        F.col(f"{lname}.batch_end_ms") < F.col("_last_end"),
                        _dual,
                    ).otherwise(_single)
                ),
            )
            .drop("_last_end")
        )
    if channel == "expired":
        return tagged.filter(F.col("channel") == "expired").drop("channel")
    return tagged


def _batch_find_state(window: str, batched: DataFrame,
                      pcol: str | None = None) -> DataFrame:
    """Filter a batched window's contents down to the reference's
    ``find()`` probe state — the join contents for MIXED pairs (no
    shared aligned grid). timeBatch/firstTimeBatch ``find()`` probes
    ``eventsToBeExpired``, the most recently FIRED batch
    (UniqueTimeBatchWindowProcessor.java:318-328); under the certified
    final-state model every present batch has fired, so that is the
    max ``batch_end_ms``. externalTimeBatch ``find()`` probes
    ``expiredEvents``, the last FLUSHED batch
    (UniqueExternalTimeBatchWindowProcessor.java:491-503,383-393) —
    and flushes happen only when a LATER event arrives (:283-318), so
    the final forming batch is never in it: the probe state is the
    batch with the second-highest ``batch_end_ms`` (empty when only
    one batch exists). ``pcol`` scopes either rule per partition
    instance. Plan shape: one distinct over the batched contents'
    (instance,) batch ends, a tiny scalar/grouped max, joined back —
    AQE broadcasts it."""
    col = "batch_end_ms"
    second = window == "externalTimeBatch"
    if pcol is not None:
        ends = batched.select(pcol, col).distinct()
        m = ends.groupBy(pcol).agg(F.max(col).alias("_m1"))
        if second:
            tgt = (
                ends.join(m, pcol)
                .filter(F.col(col) < F.col("_m1"))
                .groupBy(pcol).agg(F.max(col).alias("_tgt"))
            )
        else:
            tgt = m.withColumnRenamed("_m1", "_tgt")
        return (
            batched.join(tgt, pcol)
            .filter(F.col(col) == F.col("_tgt")).drop("_tgt")
        )
    ends = batched.select(col).distinct()
    m = ends.agg(F.max(col).alias("_m1"))
    if second:
        tgt = (
            ends.crossJoin(F.broadcast(m))
            .filter(F.col(col) < F.col("_m1"))
            .agg(F.max(col).alias("_tgt"))
        )
    else:
        tgt = m.select(F.col("_m1").alias("_tgt"))
    return (
        batched.crossJoin(F.broadcast(tgt))
        .filter(F.col(col) == F.col("_tgt")).drop("_tgt")
    )


def _length_side_artifacts(side, df, ts, tiebreak, channel, _tail_consts):
    """lengthBatch-family side of a mixed-channel join: emission log
    (fired batches at their fire, re-emitted at the next fire) and
    forming-unique-map findable intervals — a row is in the map from
    its arrival until it is displaced by a same-key arrival in the
    same forming period (keep=last only) or the period fires; open
    when the trailing period never closes."""
    tb = _need_tiebreak(side["window"], tiebreak)
    la, lc = _tail_consts(side)
    if len(la) != 1 or len(lc) != 1:
        raise SiddhiQLError(
            f"unique:{side['window']} needs (key, window.length)"
        )
    key_a, n_a = la[0], lc[0]
    keep_a = "first" if side["window"] == "firstLengthBatch" else "last"
    batched_a = ops.length_batch(
        df, key_a, n_a, ts=ts, tiebreak=tb, keep=keep_a
    )
    a_cur = batched_a.withColumn("__mx_pt", F.col("fired_at_ms")).withColumn(
        CHANNEL, F.lit("current"))
    a_exp = (
        ops.length_batch_expired(batched_a)
        .withColumn("__mx_pt", F.col("expired_at_ms"))
        .drop("expired_at_ms")
        .withColumn(CHANNEL, F.lit("expired"))
    )
    a_probes = a_cur.unionByName(a_exp) if channel == "all" else a_exp

    periods = ops.length_batch_periods(df, key_a, n_a, ts=ts, tiebreak=tb)
    fire_log = batched_a.select(
        F.col("batch_seq").alias("period_seq"),
        F.col("fired_at_ms").alias("__mx_fire"),
    ).distinct()
    per = (
        periods.withColumn("__mx_from", event_ms(periods, ts))
        .join(fire_log, "period_seq", "left")
    )
    w = SqlWindow.partitionBy("period_seq", key_a).orderBy("__mx_from", tb)
    if keep_a == "last":
        per = per.withColumn("__mx_nxt", F.lead("__mx_from").over(w))
    else:
        # keep=first: repeat keys never enter the map; the first
        # arrival per (period, key) is findable until the fire
        per = (
            per.withColumn("__mx_rn", F.row_number().over(w))
            .filter(F.col("__mx_rn") == 1).drop("__mx_rn")
            .withColumn("__mx_nxt", F.lit(None).cast("long"))
        )
    a_iv = per.withColumn(
        "__mx_to",
        F.when(
            F.col("__mx_nxt").isNotNull() & F.col("__mx_fire").isNotNull(),
            F.least("__mx_nxt", "__mx_fire"),
        ).otherwise(F.coalesce("__mx_nxt", "__mx_fire")),
    ).drop("__mx_nxt", "__mx_fire", "period_seq")
    return a_probes, a_iv


def _external_side_artifacts(side, df, ts, tiebreak, channel):
    """externalTimeBatch side of a mixed-channel join: among the
    PRESENT batches in rank order, rank i flushes (emits CURRENT and
    becomes the ``find()``-able ``expiredEvents``) at the first event
    of rank i+1, re-emits EXPIRED at the first event of rank i+2
    (the certified rank+2 rule), and is findable during
    (flush(i), flush(i+1)] — open for the last flushed batch, since
    tick-driven probes at an instant precede that instant's arrivals.
    Certified against the event-at-a-time simulation in
    tests/test_properties.py::test_etb_tb_mixed_join_algebra_
    matches_simulation. Both anchor modes (start.time and
    first-event) are supported — the flush log derives from the
    batched output's own ``batch_start_ms``."""
    args = list(side["args"])
    if len(args) < 3 or len(args) > 4:
        raise SiddhiQLError(
            "unique:externalTimeBatch in a mixed-channel join needs "
            "(key, timestamp, window.time [, start.time])"
        )
    key_e, ts_attr = args[0], args[1]
    wtime = parse_time_ms(_const(args[2]), "window.time")
    start_ms = None
    if len(args) == 4:
        if not _INT_RE.match(args[3]):
            raise SiddhiQLError(
                f"externalTimeBatch start.time must be an int constant, "
                f"got {args[3]!r}"
            )
        start_ms = int(args[3])
    batched_e = ops.external_time_batch(
        df, key_e, ts_attr, wtime, start_time_ms=start_ms, tiebreak=tiebreak,
    )
    # first event per PRESENT batch -> flush/expiry instants by rank
    ms = event_ms(df, ts_attr)
    if start_ms is None:
        anchor = df.agg(F.min(ms).alias("_anchor_ms"))
        src = df.crossJoin(F.broadcast(anchor))
        start: object = F.col("_anchor_ms")
    else:
        src = df
        start = F.lit(start_ms)
    batch_start = (
        F.floor((ms - start) / wtime).cast("long") * wtime + start
    )
    w = SqlWindow.orderBy("batch_start_ms")
    log = (
        src.select(batch_start.alias("batch_start_ms"), ms.alias("_ms"))
        .groupBy("batch_start_ms")
        .agg(F.min("_ms").alias("_first_ms"))
        .withColumn("__mx_flush", F.lead("_first_ms", 1).over(w))
        .withColumn("__mx_expat", F.lead("_first_ms", 2).over(w))
        .select("batch_start_ms", "__mx_flush", "__mx_expat")
    )
    framed = batched_e.join(log, "batch_start_ms")
    e_cur = (
        framed.filter(F.col("__mx_flush").isNotNull())
        .withColumn("__mx_pt", F.col("__mx_flush"))
        .withColumn(CHANNEL, F.lit("current"))
    )
    e_exp = (
        framed.filter(F.col("__mx_expat").isNotNull())
        .withColumn("__mx_pt", F.col("__mx_expat"))
        .withColumn(CHANNEL, F.lit("expired"))
    )
    a_probes = (e_cur.unionByName(e_exp) if channel == "all" else e_exp)
    a_probes = a_probes.drop("__mx_flush", "__mx_expat")
    a_iv = (
        framed.filter(F.col("__mx_flush").isNotNull())
        .withColumn("__mx_from", F.col("__mx_flush"))
        .withColumn("__mx_to", F.col("__mx_expat"))
        .drop("__mx_flush", "__mx_expat")
    )
    return a_probes, a_iv


def _ll_side_artifacts(side, df, ts, tiebreak, channel, _tail_consts):
    """One lengthBatch side of an arrival-vs-arrival mixed join:
    probe emission log with LEXICOGRAPHIC (ms, tiebreak) instants —
    the fire instant is the max (ms, tiebreak) over the batch's
    retained rows, i.e. the firing arrival itself, for both keeps —
    and forming-map validity intervals in the same instant space
    (enter = the arrival; leave = min(same-key displacement in the
    period, the period's fire); open when the trailing period never
    closes)."""
    tb = _need_tiebreak(side["window"], tiebreak)
    la, lc = _tail_consts(side)
    if len(la) != 1 or len(lc) != 1:
        raise SiddhiQLError(
            f"unique:{side['window']} needs (key, window.length)"
        )
    key, n = la[0], lc[0]
    keep = "first" if side["window"] == "firstLengthBatch" else "last"
    batched = ops.length_batch(df, key, n, ts=ts, tiebreak=tb, keep=keep)
    fire_log = (
        batched.withColumn("__mx_ms", event_ms(batched, ts))
        .groupBy("batch_seq")
        .agg(F.max(F.struct(F.col("__mx_ms").alias("m"),
                            F.col(tb).alias("t"))).alias("__mx_f"))
        .select("batch_seq",
                F.col("__mx_f.m").alias("__mx_pms"),
                F.col("__mx_f.t").alias("__mx_ptb"))
    )
    cur = (
        batched.join(fire_log, "batch_seq")
        .withColumn(CHANNEL, F.lit("current"))
    )
    nxt_log = fire_log.select(
        (F.col("batch_seq") - 1).alias("batch_seq"), "__mx_pms", "__mx_ptb")
    exp = (
        batched.join(nxt_log, "batch_seq")
        .withColumn(CHANNEL, F.lit("expired"))
    )
    probes = (cur.unionByName(exp) if channel == "all" else exp).drop(
        "batch_seq")

    periods = ops.length_batch_periods(df, key, n, ts=ts, tiebreak=tb)
    pf = fire_log.select(
        F.col("batch_seq").alias("period_seq"),
        F.col("__mx_pms").alias("__mx_fms"),
        F.col("__mx_ptb").alias("__mx_ftb"),
    )
    per = (
        periods.withColumn("__mx_ems", event_ms(periods, ts))
        .withColumn("__mx_etb", F.col(tb))
        .join(pf, "period_seq", "left")
    )
    w = SqlWindow.partitionBy("period_seq", key).orderBy("__mx_ems", tb)
    if keep == "last":
        per = (
            per.withColumn("__mx_nms", F.lead("__mx_ems").over(w))
            .withColumn("__mx_ntb", F.lead(tb).over(w))
        )
    else:
        per = (
            per.withColumn("__mx_rn", F.row_number().over(w))
            .filter(F.col("__mx_rn") == 1).drop("__mx_rn")
            .withColumn("__mx_nms", F.lit(None).cast("long"))
            .withColumn("__mx_ntb", F.lit(None).cast(df.schema[tb].dataType))
        )
    # leave = lexicographic min(displacement, fire); NULL = open
    nxt_first = F.expr(
        "__mx_nms IS NOT NULL AND (__mx_fms IS NULL OR __mx_nms < __mx_fms"
        " OR (__mx_nms = __mx_fms AND __mx_ntb < __mx_ftb))"
    )
    a_iv = (
        per.withColumn(
            "__mx_lms",
            F.when(nxt_first, F.col("__mx_nms")).otherwise(F.col("__mx_fms")))
        .withColumn(
            "__mx_ltb",
            F.when(nxt_first, F.col("__mx_ntb")).otherwise(F.col("__mx_ftb")))
        .drop("__mx_nms", "__mx_ntb", "__mx_fms", "__mx_ftb", "period_seq")
    )
    n_fires = fire_log.agg(F.count("*").alias("__mx_nf"))
    return probes, a_iv, n_fires


def _etb_instant_artifacts(side, df, ts, tiebreak, channel):
    """externalTimeBatch side of an arrival-vs-arrival mixed join, in
    LEXICOGRAPHIC (ms, tiebreak) instant space: each present batch's
    flush/expiry instants are the first EVENT of the next / next-next
    rank (those events carry ids, so the instants are exact), and the
    findable ``expiredEvents`` interval is (flush(i), flush(i+1)) —
    strict bounds, since the probing side's arrivals are distinct
    instants. Certified in tests/test_properties.py::
    test_lb_etb_mixed_join_algebra_matches_simulation /
    test_etb_etb_mixed_join_algebra_matches_simulation."""
    tb = _need_tiebreak(side["window"], tiebreak)
    args = list(side["args"])
    if len(args) < 3 or len(args) > 4:
        raise SiddhiQLError(
            "unique:externalTimeBatch in a mixed-channel join needs "
            "(key, timestamp, window.time [, start.time])"
        )
    key_e, ts_attr = args[0], args[1]
    wtime = parse_time_ms(_const(args[2]), "window.time")
    start_ms = None
    if len(args) == 4:
        if not _INT_RE.match(args[3]):
            raise SiddhiQLError(
                f"externalTimeBatch start.time must be an int constant, "
                f"got {args[3]!r}"
            )
        start_ms = int(args[3])
    batched_e = ops.external_time_batch(
        df, key_e, ts_attr, wtime, start_time_ms=start_ms, tiebreak=tiebreak,
    )
    ms = event_ms(df, ts_attr)
    if start_ms is None:
        anchor = df.agg(F.min(ms).alias("_anchor_ms"))
        src = df.crossJoin(F.broadcast(anchor))
        start: object = F.col("_anchor_ms")
    else:
        src = df
        start = F.lit(start_ms)
    batch_start = (
        F.floor((ms - start) / wtime).cast("long") * wtime + start
    )
    w = SqlWindow.orderBy("batch_start_ms")
    log = (
        src.select(batch_start.alias("batch_start_ms"),
                   ms.alias("__mx_m"), F.col(tb).alias("__mx_t"))
        .groupBy("batch_start_ms")
        .agg(F.min(F.struct("__mx_m", "__mx_t")).alias("__mx_f"))
        .select("batch_start_ms",
                F.col("__mx_f.__mx_m").alias("__mx_fm"),
                F.col("__mx_f.__mx_t").alias("__mx_ft"))
        .withColumn("__mx_flms", F.lead("__mx_fm", 1).over(w))
        .withColumn("__mx_fltb", F.lead("__mx_ft", 1).over(w))
        .withColumn("__mx_exms", F.lead("__mx_fm", 2).over(w))
        .withColumn("__mx_extb", F.lead("__mx_ft", 2).over(w))
        .drop("__mx_fm", "__mx_ft")
    )
    framed = batched_e.join(log, "batch_start_ms")
    cur = (
        framed.filter(F.col("__mx_flms").isNotNull())
        .withColumn("__mx_pms", F.col("__mx_flms"))
        .withColumn("__mx_ptb", F.col("__mx_fltb"))
        .withColumn(CHANNEL, F.lit("current"))
    )
    exp = (
        framed.filter(F.col("__mx_exms").isNotNull())
        .withColumn("__mx_pms", F.col("__mx_exms"))
        .withColumn("__mx_ptb", F.col("__mx_extb"))
        .withColumn(CHANNEL, F.lit("expired"))
    )
    drop = ["__mx_flms", "__mx_fltb", "__mx_exms", "__mx_extb"]
    probes = (cur.unionByName(exp) if channel == "all" else exp).drop(*drop)
    a_iv = (
        framed.filter(F.col("__mx_flms").isNotNull())
        .withColumn("__mx_ems", F.col("__mx_flms"))
        .withColumn("__mx_etb", F.col("__mx_fltb"))
        .withColumn("__mx_lms", F.col("__mx_exms"))
        .withColumn("__mx_ltb", F.col("__mx_extb"))
        .drop(*drop)
    )
    n_fires = log.filter(F.col("__mx_flms").isNotNull()).agg(
        F.count("*").alias("__mx_nf"))
    return probes, a_iv, n_fires


def _x_instant_artifacts(side, df, ts, tiebreak, channel):
    """NON-BATCH unique window (ever/first/time/length) side of an
    arrival-vs-arrival mixed join, in LEXICOGRAPHIC (ms, tiebreak)
    instant space — the closing half of VERDICT r12 item 2
    (X ⋈ lengthBatch-family / externalTimeBatch). Per-kind semantics
    are those of :func:`_x_live_intervals` in
    tests/test_properties.py (same reference citations); two
    instant-space additions:

    - exits carry the REMOVING arrival's tiebreak (displacement /
      FIFO eviction), so same-ms cross-stream ties resolve by the
      engine's pinned global (ms, tiebreak) order;
    - a TIMER exit at ms t (``unique:time`` only) is the instant
      (t, -infinity) — strictly before every arrival at t, the
      certified scheduler-precedes-arrivals convention — encoded as
      ``__mx_ltimer``/``__mx_ptimer`` flags with NULL tiebreaks; the
      join predicate guards every tiebreak comparison behind the
      flags, and timer probes beyond the event span clamp into the
      last band (only OPEN intervals can match them).

    Certified against the event-at-a-time simulations in
    tests/test_properties.py::test_x_lb_join_channels_ /
    test_x_etb_join_channels_algebra_matches_simulation (300
    hypothesis cases each + a 6,000-trial randomized sweep).
    Returns ``(probes, a_iv, n_fires)`` in the
    :func:`_run_join_mixed_ll` ``direction()`` contract."""
    tb = _need_tiebreak(side["window"], tiebreak)
    win = side["window"]
    args = list(side["args"])
    tb_type = df.schema[tb].dataType
    base = (df.withColumn("__mx_ems", event_ms(df, ts))
              .withColumn("__mx_etb", F.col(tb)))
    if win in ("ever", "first"):
        if not args:
            raise SiddhiQLError(f"unique:{win} needs a unique key attribute")
        w = SqlWindow.partitionBy(*args).orderBy("__mx_ems", tb)
        if win == "ever":
            a_iv = (
                base.withColumn("__mx_lms", F.lead("__mx_ems").over(w))
                .withColumn("__mx_ltb", F.lead(tb).over(w))
                .withColumn("__mx_ltimer", F.lit(False))
            )
        else:
            a_iv = (
                base.withColumn("__mx_rn", F.row_number().over(w))
                .filter(F.col("__mx_rn") == 1).drop("__mx_rn")
                .withColumn("__mx_lms", F.lit(None).cast("long"))
                .withColumn("__mx_ltb", F.lit(None).cast(tb_type))
                .withColumn("__mx_ltimer", F.lit(False))
            )
    elif win == "time":
        if len(args) != 2 or not _is_const(args[1]):
            raise SiddhiQLError(
                "unique:time needs (key, window.time) with a constant time"
            )
        t_x = parse_time_ms(_const(args[1]), "window.time")
        w = SqlWindow.partitionBy(args[0]).orderBy("__mx_ems", tb)
        timer_first = F.col("__mx_nms").isNull() | (
            F.col("__mx_ems") + F.lit(t_x) <= F.col("__mx_nms"))
        a_iv = (
            base.withColumn("__mx_nms", F.lead("__mx_ems").over(w))
            .withColumn("__mx_ntb", F.lead(tb).over(w))
            .withColumn(
                "__mx_lms",
                F.when(timer_first, F.col("__mx_ems") + F.lit(t_x))
                .otherwise(F.col("__mx_nms")))
            .withColumn(
                "__mx_ltb",
                F.when(timer_first, F.lit(None).cast(tb_type))
                .otherwise(F.col("__mx_ntb")))
            .withColumn("__mx_ltimer", timer_first)
            .drop("__mx_nms", "__mx_ntb")
        )
    elif win == "length":
        if len(args) != 2 or not _is_const(args[1]):
            raise SiddhiQLError(
                "unique:length needs (key, window.length) with a constant "
                "length"
            )
        exits = ops.length_exit_instants(
            df, args[0], int(_const(args[1])), ts=ts, tiebreak=tb)
        a_iv = (
            base.join(exits, tb)
            .withColumnRenamed("__mx_to", "__mx_lms")
            .withColumnRenamed("__mx_totb", "__mx_ltb")
            .withColumn("__mx_ltimer", F.lit(False))
        )
    else:  # pragma: no cover - guarded by the dispatch
        raise SiddhiQLError(f"unique:{win} has no mixed-channel lowering")
    # the interval log feeds the probe union AND the other join
    # direction — materialize the window chain once (guide §3.3)
    a_iv = _checkpointed(a_iv, eager=False)
    cur = (
        a_iv.withColumn("__mx_pms", F.col("__mx_ems"))
        .withColumn("__mx_ptb", F.col("__mx_etb"))
        .withColumn("__mx_ptimer", F.lit(False))
        .withColumn(CHANNEL, F.lit("current"))
    )
    exp = (
        a_iv.filter(F.col("__mx_lms").isNotNull())
        .withColumn("__mx_pms", F.col("__mx_lms"))
        .withColumn("__mx_ptb", F.col("__mx_ltb"))
        .withColumn("__mx_ptimer", F.col("__mx_ltimer"))
        .withColumn(CHANNEL, F.lit("expired"))
    )
    probes = (cur.unionByName(exp) if channel == "all" else exp).drop(
        "__mx_ems", "__mx_etb", "__mx_lms", "__mx_ltb", "__mx_ltimer")
    # probe cadence for banding: every X event probes (<= 2 chunks)
    n_fires = df.agg(F.count("*").alias("__mx_nf"))
    # the unique-key invariant: X find()-state intervals are
    # NON-OVERLAPPING per the window's OWN unique key (one live event
    # per key), and ever/first intervals are long/open — an as-of
    # lookup, not a banded join (the banded explode of a long-lived
    # interval is O(keys x probe-cadence) intermediate rows at
    # scale). The marker records WHICH column carries the invariant:
    # run_direction may only take the as-of path when the join
    # equality is on exactly that plain column — joining on any OTHER
    # attribute (or under a composite/expression key) leaves several
    # simultaneously-live intervals per join value, and last-entered
    # lookup would silently drop matches the banded direction emits.
    key_cols = args if win in ("ever", "first") else args[:1]
    if (len(key_cols) == 1 and isinstance(key_cols[0], str)
            and _IDENT_RE.fullmatch(key_cols[0])):
        a_iv._mx_perkey_intervals = (key_cols[0],)
    return probes, a_iv, n_fires


def _tb_instant_artifacts(side, df, ts, tiebreak, channel, _tail_consts):
    """``unique:timeBatch`` / ``firstTimeBatch`` side of a mixed join
    re-expressed in the 3-strata instant space — EXACTLY the
    r12-certified slot algebra (test_x_tb_join_channels_algebra_
    matches_simulation), rule for rule: batch m (grid slot, kept
    first/last per key) enters find() at its flush
    ``(anchor+(m+1)T, -2)`` and leaves at the next boundary
    ``(anchor+(m+2)T, -2)`` — the LAST batch never leaves (findable
    forever; an empty slot's tick still drains, so gaps need no
    special case) — while its current chunk is an ENTER probe at the
    flush (sees post-transition state: arrival exits at the tick
    still live, timer exits applied) and its expired chunk (every
    batch but the last) an EXIT probe at the next boundary (sees
    pre-transition state). Routing this family through the instant
    machinery replaces the old T-banded interval join whose
    long-lived ever/first intervals exploded across O(slots) bands —
    the as-of direction probes them with zero fan-out."""
    ta, tc = _tail_consts(side)
    if len(ta) != 1 or not 1 <= len(tc) <= 2:
        raise SiddhiQLError(
            f"unique:{side['window']} needs (key, window.time "
            "[, start.time])"
        )
    t_b = parse_time_ms(tc[0], "window.time")
    anchor = (int(tc[1]) % t_b) if len(tc) > 1 else 0
    keep = "first" if side["window"] == "firstTimeBatch" else "last"
    tb = _need_tiebreak(side["window"], tiebreak)
    tb_type = df.schema[tb].dataType
    batched = _checkpointed(ops.time_batch(
        df, ta[0], t_b, ts=ts, tiebreak=tiebreak,
        start_time_ms=anchor, keep=keep,
    ), eager=False)
    last_end = batched.agg(F.max("batch_end_ms").alias("__mx_lastend"))
    a_iv = (
        batched.crossJoin(F.broadcast(last_end))
        .withColumn("__mx_ems", F.col("batch_end_ms"))
        .withColumn("__mx_etb", F.lit(None).cast(tb_type))
        .withColumn("__mx_etimer", F.lit(True))
        .withColumn(
            "__mx_lms",
            F.when(F.col("batch_end_ms") == F.col("__mx_lastend"),
                   F.lit(None).cast("long"))
            .otherwise(F.col("batch_end_ms") + F.lit(t_b)))
        .withColumn("__mx_ltb", F.lit(None).cast(tb_type))
        .withColumn("__mx_ltimer", F.col("__mx_lms").isNotNull())
        .drop("__mx_lastend")
    )
    cur = (
        a_iv.withColumn("__mx_pms", F.col("__mx_ems"))
        .withColumn("__mx_ptb", F.lit(None).cast(tb_type))
        .withColumn("__mx_ptimer", F.lit(False))
        .withColumn("__mx_ptick", F.lit(True))
        .withColumn(CHANNEL, F.lit("current"))
    )
    exp = (
        a_iv.filter(F.col("__mx_lms").isNotNull())
        .withColumn("__mx_pms", F.col("__mx_lms"))
        .withColumn("__mx_ptb", F.lit(None).cast(tb_type))
        .withColumn("__mx_ptimer", F.lit(True))
        .withColumn("__mx_ptick", F.lit(False))
        .withColumn(CHANNEL, F.lit("expired"))
    )
    probes = (cur.unionByName(exp) if channel == "all" else exp).drop(
        "__mx_ems", "__mx_etb", "__mx_etimer",
        "__mx_lms", "__mx_ltb", "__mx_ltimer")
    n_fires = batched.select("batch_end_ms").distinct().agg(
        F.count("*").alias("__mx_nf"))
    return probes, a_iv, n_fires


def _tlb_instant_artifacts(side, df, ts, tiebreak, channel):
    """``unique:timeLengthBatch`` side of a mixed-channel join, in
    the 3-strata instant space (scheduler-EXIT probes sort below
    timer TRANSITIONS sort below scheduler-ENTER probes sort below
    arrivals — flag-encoded, see the ``direction()`` tie rules). The
    FIXED boundary grid (anchored at the first event, the SiddhiQL
    form takes no start.time) makes intervals INDEPENDENT — a length
    fire's discard flag clears exactly at the next boundary
    (UniqueTimeLengthBatchWindowProcessor.java:261-271) — so the
    whole chain lowers to per-interval window functions, NO serial
    scan: per interval ``k`` the batch is keep-last over events up to
    the Nth distinct key's first occurrence (LENGTH fire at that
    arrival) or over all interval events (TIME fire at boundary k+1,
    a timer transition). find() = ``eventsToBeExpired`` — the last
    fired batch (:377-384) — findable (fire, drain) with drain(k) =
    min(next fire, boundary k+2) under the forever clock (after
    either fire kind the first FLUSHING boundary is k+2: a length
    fire's k+1 boundary only clears the skip flag, the eventSent
    timer branch returns without sendEvents). Probe chunks: current
    at the fire (ENTER probe when a timer — flush ticks see
    post-transition state), expired at the drain (EXIT probe when a
    timer — pre-transition state). Certified against the
    event-at-a-time simulation in tests/test_properties.py::
    test_x_tlb_join_channels_algebra_matches_simulation (400
    hypothesis cases + an 8,000-trial randomized sweep)."""
    tb = _need_tiebreak(side["window"], tiebreak)
    args = list(side["args"])
    consts: list = []
    while args and _is_const(args[-1]):
        consts.insert(0, _const(args.pop()))
    if len(args) != 1 or len(consts) != 2:
        raise SiddhiQLError(
            "unique:timeLengthBatch needs (key, window.time, "
            "window.length)"
        )
    key = args[0]
    t_b = parse_time_ms(consts[0], "window.time")
    n = require_pos_int(consts[1], "window.length")
    tb_type = df.schema[tb].dataType
    ms = event_ms(df, ts)
    anchor = df.agg(F.min(ms).alias("__mx_anchor"))
    w_pos = SqlWindow.partitionBy("__mx_k").orderBy("__mx_m", tb)
    w_first = SqlWindow.partitionBy("__mx_k", key).orderBy("__mx_m", tb)
    w_run = (SqlWindow.partitionBy("__mx_k").orderBy("__mx_m", tb)
             .rowsBetween(SqlWindow.unboundedPreceding,
                          SqlWindow.currentRow))
    w_k = SqlWindow.partitionBy("__mx_k")
    ev = (
        df.crossJoin(F.broadcast(anchor))
        .withColumn("__mx_m", ms)
        .withColumn(
            "__mx_k",
            F.floor((F.col("__mx_m") - F.col("__mx_anchor")) / t_b)
            .cast("long"))
        .withColumn("__mx_pos", F.row_number().over(w_pos))
        .withColumn("__mx_isf", F.row_number().over(w_first) == 1)
        .withColumn(
            "__mx_nd",
            F.sum(F.when(F.col("__mx_isf"), 1).otherwise(0)).over(w_run))
        .withColumn(
            "__mx_L",
            F.min(F.when((F.col("__mx_nd") == n) & F.col("__mx_isf"),
                         F.col("__mx_pos"))).over(w_k))
    )
    in_batch = ev.filter(
        F.col("__mx_L").isNull() | (F.col("__mx_pos") <= F.col("__mx_L")))
    kept = (
        in_batch.withColumn(
            "__mx_rnk",
            F.row_number().over(
                SqlWindow.partitionBy("__mx_k", key)
                .orderBy(F.col("__mx_m").desc(), F.col(tb).desc())))
        .filter(F.col("__mx_rnk") == 1).drop("__mx_rnk")
    )
    # one row per fired batch: the fire instant (length fire = the
    # lexicographic max retained arrival = the firing arrival; time
    # fire = boundary k+1 as a timer transition) and the drain
    fire_log = (
        kept.groupBy("__mx_k", "__mx_anchor", "__mx_L")
        .agg(F.max(F.struct(F.col("__mx_m").alias("m"),
                            F.col(tb).alias("t"))).alias("__mx_f"))
        .withColumn(
            "__mx_ems",
            F.when(F.col("__mx_L").isNotNull(), F.col("__mx_f.m"))
            .otherwise(F.col("__mx_anchor") + (F.col("__mx_k") + 1) * t_b))
        .withColumn(
            "__mx_etb",
            F.when(F.col("__mx_L").isNotNull(), F.col("__mx_f.t"))
            .otherwise(F.lit(None).cast(tb_type)))
        .withColumn("__mx_etimer", F.col("__mx_L").isNull())
        .drop("__mx_f")
    )
    w_ord = SqlWindow.orderBy("__mx_k")
    fire_log = (
        fire_log.withColumn("__mx_fnms", F.lead("__mx_ems").over(w_ord))
        .withColumn("__mx_fntb", F.lead("__mx_etb").over(w_ord))
        .withColumn("__mx_fntimer", F.lead("__mx_etimer").over(w_ord))
        .withColumn(
            "__mx_bterm",
            F.col("__mx_anchor") + (F.col("__mx_k") + 2) * t_b)
        # boundary-term wins ties: a timer instant precedes an
        # arrival at the same ms, and two timers coincide
        .withColumn(
            "__mx_bwins",
            F.col("__mx_fnms").isNull()
            | (F.col("__mx_bterm") <= F.col("__mx_fnms")))
        .withColumn(
            "__mx_lms",
            F.when(F.col("__mx_bwins"), F.col("__mx_bterm"))
            .otherwise(F.col("__mx_fnms")))
        .withColumn(
            "__mx_ltb",
            F.when(F.col("__mx_bwins"), F.lit(None).cast(tb_type))
            .otherwise(F.col("__mx_fntb")))
        .withColumn(
            "__mx_ltimer",
            F.when(F.col("__mx_bwins"), F.lit(True))
            .otherwise(F.col("__mx_fntimer")))
        .select("__mx_k", "__mx_ems", "__mx_etb", "__mx_etimer",
                "__mx_lms", "__mx_ltb", "__mx_ltimer")
    )
    payload = [c for c in kept.columns
               if not c.startswith("__mx_")] + ["__mx_k"]
    # the kept⋈fire_log chain (4 window cascades) feeds the probe
    # union, the other direction, AND the fire count — materialize it
    # once with the batch id still attached so n_fires is a cheap
    # distinct over stored rows instead of a chain re-execution
    a_iv_k = _checkpointed(
        kept.select(*payload).join(fire_log, "__mx_k"), eager=False)
    a_iv = a_iv_k.drop("__mx_k")
    cur = (
        a_iv.withColumn("__mx_pms", F.col("__mx_ems"))
        .withColumn("__mx_ptb", F.col("__mx_etb"))
        .withColumn("__mx_ptimer", F.lit(False))
        .withColumn("__mx_ptick", F.col("__mx_etimer"))
        .withColumn(CHANNEL, F.lit("current"))
    )
    exp = (
        a_iv.withColumn("__mx_pms", F.col("__mx_lms"))
        .withColumn("__mx_ptb", F.col("__mx_ltb"))
        .withColumn("__mx_ptimer", F.col("__mx_ltimer"))
        .withColumn("__mx_ptick", F.lit(False))
        .withColumn(CHANNEL, F.lit("expired"))
    )
    probes = (cur.unionByName(exp) if channel == "all" else exp).drop(
        "__mx_ems", "__mx_etb", "__mx_etimer",
        "__mx_lms", "__mx_ltb", "__mx_ltimer")
    n_fires = a_iv_k.select("__mx_k").distinct().agg(
        F.count("*").alias("__mx_nf"))
    return probes, a_iv, n_fires


_EQ_COND_RE = re.compile(
    r"^\s*\(?\s*(\w+)\.(\w+)\s*==?\s*(\w+)\.(\w+)\s*\)?\s*$")


def _direction_asof(probes, ivs, pn, vn, pcol, vcol):
    """Probe-vs-interval direction as a SORTED-MERGE AS-OF lookup
    (used when the intervals are per-key NON-OVERLAPPING — the
    unique-key invariant of the X windows — and the join condition is
    one key equality): per key, the covering interval of a probe is
    the LATEST interval entered strictly before the probe instant, so
    a union of interval-enter events and probe events sorted by
    (ms, sub-ms stratum, tiebreak) + one running ``last(ignorenulls)``
    window finds it with ZERO fan-out — one shuffle + sort, no banded
    explode (a long/open ever interval otherwise explodes across
    O(probe-cadence) bands: measured 24x super-linear at the sf1→sf10
    step before this path). The leave bound then applies the same
    flag tie rules as the banded predicate. Emits ``(pn-struct,
    vn-struct, channel)`` columns, so the user's ``stream.attr``
    select items resolve as struct-field access."""
    p_payload = [c for c in probes.columns
                 if not c.startswith("__mx_") and c != CHANNEL]
    v_payload = [c for c in ivs.columns if not c.startswith("__mx_")]

    p_st = F.lit(0)
    if "__mx_ptick" in probes.columns:
        p_st = F.when(F.col("__mx_ptick"), F.lit(-1)).otherwise(p_st)
    if "__mx_ptimer" in probes.columns:
        p_st = F.when(F.col("__mx_ptimer"), F.lit(-3)).otherwise(p_st)
    e_st = F.lit(0)
    if "__mx_etimer" in ivs.columns:
        e_st = F.when(F.col("__mx_etimer"), F.lit(-2)).otherwise(e_st)

    pp = F.struct(*[F.col(c) for c in p_payload])
    lv = (F.col("__mx_ltimer") if "__mx_ltimer" in ivs.columns
          else F.lit(False))
    vv = F.struct(
        *[F.col(c) for c in v_payload],
        F.col("__mx_lms").alias("__mx_lms"),
        F.col("__mx_ltb").alias("__mx_ltb"),
        lv.alias("__mx_ltimer"),
    )
    pp_type = probes.select(pp.alias("x")).schema["x"].dataType
    vv_type = ivs.select(vv.alias("x")).schema["x"].dataType
    pu = probes.filter(F.col(pcol).isNotNull()).select(
        F.col(pcol).alias("__mx_key"),
        F.col("__mx_pms").alias("__mx_ms"),
        p_st.alias("__mx_st"),
        F.col("__mx_ptb").alias("__mx_tb"),
        F.lit(0).alias("__mx_en"),
        pp.alias("__mx_pp"),
        F.col(CHANNEL).alias("__mx_ch"),
        F.lit(None).cast(vv_type).alias("__mx_iv"),
    )
    vu = ivs.filter(F.col(vcol).isNotNull()).select(
        F.col(vcol).alias("__mx_key"),
        F.col("__mx_ems").alias("__mx_ms"),
        e_st.alias("__mx_st"),
        F.col("__mx_etb").alias("__mx_tb"),
        F.lit(1).alias("__mx_en"),
        F.lit(None).cast(pp_type).alias("__mx_pp"),
        F.lit(None).cast("string").alias("__mx_ch"),
        vv.alias("__mx_iv"),
    )
    # final __mx_en key: on a FULL (ms, stratum, tiebreak) tie across
    # the two streams, enter rows sort AFTER probe rows — the banded
    # predicate's strict enter<probe inequality (no match on a dead
    # tie), made deterministic even when tiebreaks collide cross-stream
    w = (
        SqlWindow.partitionBy("__mx_key")
        .orderBy(F.col("__mx_ms").asc(), F.col("__mx_st").asc(),
                 F.col("__mx_tb").asc_nulls_first(), F.col("__mx_en").asc())
        .rowsBetween(SqlWindow.unboundedPreceding, SqlWindow.currentRow)
    )
    u = pu.unionByName(vu).withColumn(
        "__mx_cov", F.last("__mx_iv", ignorenulls=True).over(w))
    lms = F.col("__mx_cov.__mx_lms")
    ltb = F.col("__mx_cov.__mx_ltb")
    lt = F.col("__mx_cov.__mx_ltimer")
    in_leave = (
        lms.isNull() | (F.col("__mx_ms") < lms)
        | ((F.col("__mx_ms") == lms) & (
            (F.col("__mx_st") == -3)
            | ((F.col("__mx_st") == -1) & ~lt)
            | ((F.col("__mx_st") == 0) & ~lt & (F.col("__mx_tb") < ltb))))
    )
    return (
        u.filter(F.col("__mx_pp").isNotNull()
                 & F.col("__mx_cov").isNotNull())
        .filter(in_leave)
        .select(F.col("__mx_pp").alias(pn),
                F.col("__mx_cov").alias(vn),
                F.col("__mx_ch").alias(CHANNEL))
    )


def _run_join_mixed_ll(
    q: dict, streams: dict[str, DataFrame], ts: str, tiebreak: str | None,
    cond: str, _tail_consts,
) -> DataFrame:
    """Expired/all channels for the MIXED pairs whose BOTH sides
    transition on arrivals (lengthBatch ⋈ lengthBatch, lengthBatch ⋈
    externalTimeBatch, externalTimeBatch ⋈ externalTimeBatch on
    different grids): the emission order is the engine's pinned
    global (ms, tiebreak) arrival order (tiebreak ids unique across
    both streams; the reference leaves same-instant cross-stream
    order to its scheduler, this engine pins it like every other
    tie). Certified against event-at-a-time simulations in
    tests/test_properties.py (test_ll_mixed_join_ /
    test_lb_etb_mixed_join_ / test_etb_etb_mixed_join_
    algebra_matches_simulation).

    Each side's emitted chunks (current at their fire/flush, the
    previous batch expired) probe the OTHER side's find() state —
    the forming unique map for lengthBatch, the last flushed batch
    for externalTimeBatch — at that instant: visible iff
    enter < probe < leave in lexicographic (ms, tiebreak) instants —
    instants are unique across the union, so there are no boundary
    ties. Plan shape per direction: the probe log band-joins the
    interval log, with the band width derived from the PROBING
    side's fire cadence (span / fires), so each interval explodes
    into ~(probes crossing it) bands — the fan-out is output-law
    bound, never O(n²)."""
    channel = q["channel"]
    sideA, sideB = q["left"], q["right"]
    aname, bname = sideA["stream"], sideB["stream"]
    dfA = _bind_stream({**sideA, "channel": "current"}, streams)
    dfB = _bind_stream({**sideB, "channel": "current"}, streams)

    def artifacts(side, df):
        if side["window"] in _MIXED_X:
            return _x_instant_artifacts(side, df, ts, tiebreak, channel)
        if side["window"] == "timeLengthBatch":
            return _tlb_instant_artifacts(side, df, ts, tiebreak, channel)
        if side["window"] in _MIXED_TIME:
            return _tb_instant_artifacts(
                side, df, ts, tiebreak, channel, _tail_consts)
        if side["window"] in _MIXED_LENGTH:
            return _ll_side_artifacts(
                side, df, ts, tiebreak, channel, _tail_consts)
        return _etb_instant_artifacts(side, df, ts, tiebreak, channel)

    a_probes, a_iv, a_nf = artifacts(sideA, dfA)
    b_probes, b_iv, b_nf = artifacts(sideB, dfB)
    span = (
        dfA.select(event_ms(dfA, ts).alias("__mx_m"))
        .unionByName(dfB.select(event_ms(dfB, ts).alias("__mx_m")))
        .agg(F.min("__mx_m").alias("__mx_gmin"),
             F.max("__mx_m").alias("__mx_gmax"))
    )

    def direction(probes, ivs, nf, pn, vn):
        """probes of side `pn` against intervals of side `vn`. When a
        side carries the X-window timer flags (``__mx_ptimer`` /
        ``__mx_ltimer``), the strict lexicographic instant bounds get
        the timer-precedes-arrivals corrections: a timer instant
        (t, -inf) sorts before every arrival at t, its NULL tiebreak
        is never compared (flag-guarded), and timer probes beyond the
        event span clamp into the last band — only OPEN intervals can
        match out there, and those always cover the last band."""
        pt = f"{pn}.__mx_ptimer" if "__mx_ptimer" in probes.columns \
            else "false"
        pk = f"{pn}.__mx_ptick" if "__mx_ptick" in probes.columns \
            else "false"
        et = f"{vn}.__mx_etimer" if "__mx_etimer" in ivs.columns else "false"
        lt = f"{vn}.__mx_ltimer" if "__mx_ltimer" in ivs.columns else "false"
        band_expr = "(__mx_pms - __mx_gmin) div __mx_w"
        if pt != "false":  # timer probes can exceed __mx_gmax
            band_expr = (f"least({band_expr},"
                         f" (__mx_gmax - __mx_gmin) div __mx_w)")
        scal = F.broadcast(span.crossJoin(nf))
        p2 = (
            probes.crossJoin(scal)
            .withColumn(
                "__mx_w",
                F.greatest(
                    F.expr("(__mx_gmax - __mx_gmin + 1) div (__mx_nf + 1)"),
                    F.lit(1).cast("long"),
                ),
            )
            .withColumn("__mx_band", F.expr(band_expr))
            .drop("__mx_gmin", "__mx_gmax", "__mx_nf", "__mx_w")
        )
        v2 = (
            ivs.crossJoin(scal)
            .withColumn(
                "__mx_w",
                F.greatest(
                    F.expr("(__mx_gmax - __mx_gmin + 1) div (__mx_nf + 1)"),
                    F.lit(1).cast("long"),
                ),
            )
            .withColumn("__mx_blo",
                        F.expr("(__mx_ems - __mx_gmin) div __mx_w"))
            .withColumn(
                "__mx_bhi",
                F.expr("(coalesce(__mx_lms, __mx_gmax) - __mx_gmin)"
                       " div __mx_w"))
            .filter(F.col("__mx_bhi") >= F.col("__mx_blo"))
            .withColumn("__mx_iband",
                        F.explode(F.expr("sequence(__mx_blo, __mx_bhi)")))
            .drop("__mx_gmin", "__mx_gmax", "__mx_nf", "__mx_w",
                  "__mx_blo", "__mx_bhi")
        )
        if (pt, pk, et, lt) == ("false",) * 4:
            tie_enter = f"{vn}.__mx_etb < {pn}.__mx_ptb"
            tie_leave = f"{pn}.__mx_ptb < {vn}.__mx_ltb"
        else:
            # the 3-strata sub-ms encoding at a shared ms (certified
            # scheduler phases): EXIT probes (pt, stratum -3) run
            # first and see PRE-transition state; timer TRANSITIONS
            # (et/lt, stratum -2) apply; ENTER probes (pk, stratum
            # -1, e.g. a flush-tick current chunk) see
            # POST-transition state but precede same-ms arrivals;
            # arrival tiebreaks (>= 0) only compare
            # arrival-vs-arrival
            tie_enter = (
                f"(NOT {pt} AND (({pk} AND {et}) OR"
                f" (NOT {pk} AND ({et} OR"
                f" {vn}.__mx_etb < {pn}.__mx_ptb))))")
            tie_leave = (
                f"({pt} OR ({pk} AND NOT {lt}) OR"
                f" (NOT {pt} AND NOT {pk} AND NOT {lt} AND"
                f" {pn}.__mx_ptb < {vn}.__mx_ltb))")
        return p2.alias(pn).join(
            v2.alias(vn),
            F.expr(
                f"({cond}) AND {pn}.__mx_band = {vn}.__mx_iband"
                f" AND ({vn}.__mx_ems < {pn}.__mx_pms OR"
                f" ({vn}.__mx_ems = {pn}.__mx_pms AND {tie_enter}))"
                f" AND ({vn}.__mx_lms IS NULL OR"
                f" {pn}.__mx_pms < {vn}.__mx_lms OR"
                f" ({pn}.__mx_pms = {vn}.__mx_lms AND {tie_leave}))"
            ),
            "inner",
        )

    eqm = _EQ_COND_RE.match(cond)

    def run_direction(probes, ivs, nf, pn_, vn_):
        """AS-OF shape when the interval side carries the per-key
        non-overlap marker (X windows) AND the join equality is on
        exactly the marked unique-key column — only then is there at
        most one live interval per join value, so last-entered lookup
        is complete. Everything else (non-key join attribute,
        composite/expression key, batch-side intervals) takes the
        banded interval join, whose fan-out is output-law bound for
        short-lived intervals and correct for overlapping ones."""
        pkeys = getattr(ivs, "_mx_perkey_intervals", None)
        if eqm and isinstance(pkeys, tuple) and len(pkeys) == 1:
            g = eqm.groups()
            if g[0] == pn_ and g[2] == vn_ and g[3] == pkeys[0]:
                return _direction_asof(probes, ivs, pn_, vn_, g[1], g[3])
            if g[2] == pn_ and g[0] == vn_ and g[1] == pkeys[0]:
                return _direction_asof(probes, ivs, pn_, vn_, g[3], g[1])
        return direction(probes, ivs, nf, pn_, vn_)

    d1 = run_direction(a_probes, b_iv, a_nf, aname, bname)
    d2 = run_direction(b_probes, a_iv, b_nf, bname, aname)
    items = [F.expr(s) for s in q["select"]]
    out = d1.select(*items).unionByName(d2.select(*items))
    out._sq_select_applied = True
    return out


def _tb_side_artifacts(side, df, ts, tiebreak, channel, _tail_consts):
    """timeBatch-family side of a mixed-channel join: the findable
    log (batch at slot m keyed by flush slot m+1; the LAST batch
    findable forever via the probe-side clamp), the slot-extent
    scalar (__mx_mfirst/__mx_mlast — both can be negative for
    pre-anchor events), and the tick-driven probe chunks (CURRENT at
    the flush, EXPIRED one slot later, every batch but the last).
    ``batch_start_ms``/``batch_end_ms`` are grid multiples of the
    side's OWN anchor, so plain ``div`` is exact here."""
    ta, tc = _tail_consts(side)
    if len(ta) != 1 or not 1 <= len(tc) <= 2:
        raise SiddhiQLError(
            f"unique:{side['window']} needs (key, window.time [, start.time])"
        )
    key_b = ta[0]
    t_b = parse_time_ms(tc[0], "window.time")
    anchor = (int(tc[1]) % t_b) if len(tc) > 1 else 0
    keep_b = "first" if side["window"] == "firstTimeBatch" else "last"
    # feeds find-state, the slot extents, and both probe branches
    batched_b = _checkpointed(ops.time_batch(
        df, key_b, t_b, ts=ts, tiebreak=tiebreak,
        start_time_ms=anchor, keep=keep_b,
    ), eager=False)
    slot_of_end = f"cast((batch_end_ms - {anchor}) div {t_b} as long)"
    b_find = batched_b.withColumn("__mx_fslot", F.expr(slot_of_end))
    m_agg = batched_b.agg(
        F.max(F.expr(f"cast((batch_start_ms - {anchor}) div {t_b} as long)"))
        .alias("__mx_mlast"),
        F.min(F.expr(f"cast((batch_start_ms - {anchor}) div {t_b} as long)"))
        .alias("__mx_mfirst"),
    )
    b_cur = batched_b.withColumn("__mx_pt", F.col("batch_end_ms")).withColumn(
        CHANNEL, F.lit("current"))
    b_exp = (
        ops.expired_channel(batched_b, t_b)
        .withColumn("__mx_pt", F.col("expired_at_ms"))
        .drop("expired_at_ms")
        .withColumn(CHANNEL, F.lit("expired"))
    )
    b_probes = b_cur.unionByName(b_exp) if channel == "all" else b_exp
    b_probes = b_probes.withColumn(
        "__mx_bslot", F.expr(f"cast((__mx_pt - {anchor}) div {t_b} as long)")
    )
    return b_find, m_agg, b_probes, t_b, anchor


def _run_join_mixed_channels(
    q: dict, streams: dict[str, DataFrame], ts: str, tiebreak: str | None,
    cond: str,
) -> DataFrame:
    """Expired/all-events channels for a MIXED ``lengthBatch``-family
    ⋈ ``timeBatch``-family join (VERDICT r11 item 4) — the full
    event-at-a-time EMISSION LOG, not a final-state snapshot, lowered
    as an interval algebra that is property-pinned against a
    reference simulation (tests/test_properties.py::
    test_mixed_join_channels_algebra_matches_simulation, 300
    hypothesis cases + a 4,000-trial randomized sweep).

    Semantics (from the reference processors' protocols —
    UniqueLengthBatchWindowProcessor.java:171-191 fire/expire +
    :226-233 find(); UniqueTimeBatchWindowProcessor.java:235-266
    flush + :318-328 find() over ``eventsToBeExpired``; scheduler
    ticks at an instant precede arrivals at that instant, and the
    timeBatch window's clock is its own event stream — the certified
    per-instance-edge convention):

    - timeBatch batch in slot ``m`` (interval [anchor+mT, anchor+
      (m+1)T)) emits CURRENT at its end, is *findable* during the
      following slot — the LAST batch stays findable forever — and
      re-emits EXPIRED one slot after its end (every batch but the
      last). A probe at time ``f`` therefore matches the batch with
      slot ``least(floor((f-anchor)/T), m_last+1) - 1`` — ONE
      clamped-slot equi-join, no inequality join.
    - lengthBatch batch ``p`` emits CURRENT at fire ``p`` and
      re-emits EXPIRED at fire ``p+1``; its forming unique map row
      arriving at ``ts`` is findable during ``(ts, to]`` with
      ``to`` = min(next same-key arrival in the same forming period,
      the period's fire) — open at end of stream when the period
      never closes. Tick-driven probes land only on grid points, so
      the interval join explodes each forming row over its covered
      T-slots (banded equi-join) and applies the exact boundary
      filter — probe volume is O(batches), never O(events²).

    The four emission joins collapse to TWO (each side's
    current∪expired probe log against the other side's findable
    state). The user's select list is applied per branch (the union
    erases the stream aliases), so this path returns a PROJECTED
    frame — run_app skips its outer select via the
    ``_sq_select_applied`` marker. Aggregate select lists over mixed
    channels raise eagerly."""
    channel = q["channel"]
    if q["select"] == ["*"] or any(_AGG_RE.search(s) for s in q["select"]):
        raise SiddhiQLError(
            "the expired/all-events channel of a mixed batch-window join "
            "needs an explicit plain-attribute select list (no * and no "
            "aggregates; aggregate the output stream in a second query)"
        )
    def _tail_consts(side: dict) -> tuple[list, list]:
        args = list(side["args"])
        consts: list = []
        while args and _is_const(args[-1]):
            consts.insert(0, _const(args.pop()))
        return args, consts

    _arrival = _MIXED_LENGTH | {"externalTimeBatch"}
    if (q["left"]["window"] in _MIXED_X
            or q["right"]["window"] in _MIXED_X):
        # every X ⋈ window pair routes through the instant-pair
        # machinery (timer flags on either side; the 3-strata
        # encoding for flush ticks) — certified in test_x_lb_ /
        # test_x_etb_ / test_x_x_ / test_x_tlb_ / test_x_tb_join_
        # channels_algebra_matches_simulation; the X side of every
        # direction uses the zero-fan-out as-of lookup
        return _run_join_mixed_ll(
            q, streams, ts, tiebreak, cond, _tail_consts)
    if (q["left"]["window"] == "timeLengthBatch"
            or q["right"]["window"] == "timeLengthBatch"):
        # timeLengthBatch ⋈ any batch window or itself (the last
        # join-channel square, r14): the same instant-pair machinery
        # — tlb's 3-strata artifacts against the other family's —
        # certified by test_tlb_tb_ / test_tlb_lb_ / test_tlb_etb_ /
        # test_tlb_tlb_join_channels_algebra_matches_simulation
        return _run_join_mixed_ll(
            q, streams, ts, tiebreak, cond, _tail_consts)
    if (q["left"]["window"] in _MIXED_TIME
            and q["right"]["window"] in _MIXED_TIME):
        return _run_join_mixed_tt(q, streams, ts, tiebreak, cond, _tail_consts)
    if (q["left"]["window"] in _arrival
            and q["right"]["window"] in _arrival):
        return _run_join_mixed_ll(q, streams, ts, tiebreak, cond, _tail_consts)

    sideL = (q["left"] if q["left"]["window"] not in _MIXED_TIME
             else q["right"])
    sideT = q["right"] if sideL is q["left"] else q["left"]
    aname, bname = sideL["stream"], sideT["stream"]
    dfA = _bind_stream({**sideL, "channel": "current"}, streams)
    dfB = _bind_stream({**sideT, "channel": "current"}, streams)

    b_find, m_last, b_probes, t_b, anchor = _tb_side_artifacts(
        sideT, dfB, ts, tiebreak, channel, _tail_consts)

    # --- arrival-driven side artifacts: (a_probes = rows + __mx_pt +
    #     channel tag, a_iv = findable rows + __mx_from/__mx_to) ---
    if sideL["window"] in _MIXED_LENGTH:
        a_probes, a_iv = _length_side_artifacts(
            sideL, dfA, ts, tiebreak, channel, _tail_consts)
    else:
        a_probes, a_iv = _external_side_artifacts(
            sideL, dfA, ts, tiebreak, channel)
    # clamp the probe slot so the last batch stays findable forever.
    # Probe times are arbitrary arrival instants (never grid-aligned),
    # so the slot needs true FLOOR bucketing — a probe firing in
    # (anchor - T, anchor) sits in slot -1, and `div`'s toward-zero
    # truncation would alias it onto slot 0's find() state. An empty
    # B side is handled by the join itself: the equi-join's build side
    # (b_find) is empty, so no row survives regardless of the slot
    # value (least() SKIPS nulls in Spark, it does not propagate them).
    a_probes = (
        a_probes.crossJoin(F.broadcast(m_last))
        .withColumn(
            "__mx_pslot",
            F.least(
                F.expr(_floor_slot("__mx_pt", anchor, t_b)),
                F.col("__mx_mlast") + F.lit(1),
            ),
        )
        .drop("__mx_mlast", "__mx_mfirst")
    )
    e12 = a_probes.alias(aname).join(
        b_find.alias(bname),
        F.expr(f"({cond}) AND {aname}.__mx_pslot = {bname}.__mx_fslot"),
        "inner",
    )

    # --- findable intervals, exploded over the B grid ---
    # interval endpoints are arrival instants too — FLOOR slots, and
    # the explode lower bound clamps to the FIRST batch's probe slot
    # (m_first + 1), which is negative when events precede the anchor
    # (a fixed 0 would skip those batches' emissions entirely)
    forming = (
        a_iv.crossJoin(F.broadcast(m_last))
        .withColumn(
            "__mx_lo",
            F.greatest(
                F.expr(_floor_slot("__mx_from", anchor, t_b)),
                F.col("__mx_mfirst") + F.lit(1),
            ),
        )
        .withColumn(
            "__mx_hi",
            F.when(
                F.col("__mx_to").isNotNull(),
                F.least(
                    F.expr(_floor_slot("__mx_to", anchor, t_b)),
                    F.col("__mx_mlast") + F.lit(1),
                ),
            ).otherwise(F.col("__mx_mlast") + F.lit(1)),
        )
        .filter(F.col("__mx_hi") >= F.col("__mx_lo"))
        .withColumn(
            "__mx_aslot",
            F.explode(F.expr("sequence(__mx_lo, __mx_hi)")),
        )
        .drop("__mx_lo", "__mx_hi", "__mx_mlast", "__mx_mfirst")
    )
    e34 = forming.alias(aname).join(
        b_probes.alias(bname),
        F.expr(
            f"({cond}) AND {aname}.__mx_aslot = {bname}.__mx_bslot"
            f" AND {aname}.__mx_from < {bname}.__mx_pt"
            f" AND ({aname}.__mx_to IS NULL OR"
            f" {bname}.__mx_pt <= {aname}.__mx_to)"
        ),
        "inner",
    )
    items = [F.expr(s) for s in q["select"]]
    out = e12.select(*items).unionByName(e34.select(*items))
    out._sq_select_applied = True
    return out


def _run_join_mixed_tt(
    q: dict, streams: dict[str, DataFrame], ts: str, tiebreak: str | None,
    cond: str, _tail_consts,
) -> DataFrame:
    """Expired/all channels for a MIXED ``timeBatch``-family pair on
    DIFFERENT tumbling grids (different window.time and/or start.time
    anchors), under the CO-RESIDENCY convention that generalizes the
    certified aligned-pair protocol and reduces to it on identical
    grids — simulation-certified in tests/test_properties.py::
    test_tt_mixed_join_coresidency_matches_simulation (300 hypothesis
    cases + a 4,000-trial randomized sweep):

    - batch in slot ``m`` is findable during [end, end + T) — the
      LAST batch forever (per-instance-edge convention);
    - a key-matched pair with intersecting findable intervals emits
      CURRENT once, when the later batch flushes, and re-emits
      EXPIRED when the earlier side's interval ends (never, when both
      sides are final).

    Plan shape: ONE banded equi-join — the left side's findable
    interval explodes over the right grid's slots it covers (count ~
    T_left/T_right + 1, the inherent co-residency fan-out), both
    clamps folding the last batches' open intervals onto one slot
    key — then the channels derive from pure column arithmetic on the
    joined row (greatest of the ends, null-safe least of the exits);
    no second join, no inequality join, no union re-scan."""
    lname, rname = q["left"]["stream"], q["right"]["stream"]
    channel = q["channel"]

    def build(side: dict):
        args, consts = _tail_consts(side)
        if len(args) != 1 or not 1 <= len(consts) <= 2:
            raise SiddhiQLError(
                f"unique:{side['window']} needs (key, window.time"
                " [, start.time])"
            )
        t_ms = parse_time_ms(consts[0], "window.time")
        anchor = (int(consts[1]) % t_ms) if len(consts) > 1 else 0
        keep = "first" if side["window"] == "firstTimeBatch" else "last"
        df = _bind_stream({**side, "channel": "current"}, streams)
        batched = _checkpointed(ops.time_batch(
            df, args[0], t_ms, ts=ts, tiebreak=tiebreak,
            start_time_ms=anchor, keep=keep,
        ), eager=False)
        last = batched.agg(F.max("batch_end_ms").alias("__mx_lastend"))
        # exit = end + T for every batch but the last (NULL = forever)
        framed = (
            batched.crossJoin(F.broadcast(last))
            .withColumn(
                "__mx_exit",
                F.when(
                    F.col("batch_end_ms") < F.col("__mx_lastend"),
                    F.col("batch_end_ms") + F.lit(t_ms),
                ),
            )
        )
        return framed, t_ms, anchor

    lframe, lt, lanchor = build(q["left"])
    rframe, rt, ranchor = build(q["right"])
    # right side's findable-slot key: batch at slot m is findable
    # during right-grid slot m+1 = (end - anchor)/T; its last batch
    # keeps that key but its open interval is handled by the clamps
    rframe = rframe.withColumn(
        "__mx_fslot", F.expr(f"cast((batch_end_ms - {ranchor}) div {rt} as long)")
    ).drop("__mx_lastend")
    # left side explodes its findable interval over the right-grid
    # slots it covers, both bounds clamped to the right's last
    # findable slot so the two open intervals meet on one key.
    # The LEFT side's instants are grid-aligned only to the LEFT
    # anchor/period — mapped onto the RIGHT grid they are arbitrary
    # (and can precede the right anchor), so both bounds need true
    # FLOOR bucketing, not `div`'s toward-zero truncation.
    rlast_slot = (
        rframe.agg(F.max("__mx_fslot").alias("__mx_rlast"))
    )
    lframe = (
        lframe.drop("__mx_lastend")
        .crossJoin(F.broadcast(rlast_slot))
        .withColumn(
            "__mx_lo",
            F.least(
                F.expr(_floor_slot("batch_end_ms", ranchor, rt)),
                F.col("__mx_rlast"),
            ),
        )
        .withColumn(
            "__mx_hi",
            F.when(
                F.col("__mx_exit").isNotNull(),
                F.least(
                    F.expr(_floor_slot("__mx_exit - 1", ranchor, rt)),
                    F.col("__mx_rlast"),
                ),
            ).otherwise(F.col("__mx_rlast")),
        )
        .filter(F.col("__mx_hi") >= F.col("__mx_lo"))
        .withColumn("__mx_aslot", F.explode(F.expr("sequence(__mx_lo, __mx_hi)")))
        .drop("__mx_lo", "__mx_hi", "__mx_rlast")
    )
    joined = lframe.alias(lname).join(
        rframe.alias(rname),
        F.expr(
            f"({cond}) AND {lname}.__mx_aslot = {rname}.__mx_fslot"
            # interval-intersection guards: load-bearing for the
            # clamped last-batch slots (both open intervals fold onto
            # __mx_rlast, where the slot key alone cannot order the
            # two ends) and a backstop for any future bucketing edge
            f" AND ({lname}.__mx_exit IS NULL OR"
            f" {lname}.__mx_exit > {rname}.batch_end_ms)"
            f" AND ({rname}.__mx_exit IS NULL OR"
            f" {rname}.__mx_exit > {lname}.batch_end_ms)"
        ),
        "inner",
    )
    exit_expr = F.expr(
        f"CASE WHEN {lname}.__mx_exit IS NULL THEN {rname}.__mx_exit"
        f" WHEN {rname}.__mx_exit IS NULL THEN {lname}.__mx_exit"
        f" ELSE least({lname}.__mx_exit, {rname}.__mx_exit) END"
    )
    if channel == "expired":
        out_rows = joined.filter(exit_expr.isNotNull())
        items = [F.expr(s) for s in q["select"]]
        out = out_rows.select(*items)
    else:
        tagged = joined.withColumn(
            CHANNEL,
            F.explode(
                F.when(
                    exit_expr.isNotNull(),
                    F.array(F.lit("current"), F.lit("expired")),
                ).otherwise(F.array(F.lit("current")))
            ),
        )
        items = [F.expr(s) for s in q["select"]]
        out = tagged.select(*items)
    out._sq_select_applied = True
    return out


def _run_join(
    q: dict, streams: dict[str, DataFrame], ts: str, tiebreak: str | None
) -> DataFrame:
    """Window-to-window join (UniqueEverWindowTestCase.java:228-233):
    build each side's window contents, join on the user condition with
    both sides aliased by their stream names so the Siddhi-style
    qualified references (``cseEventStream.symbol``) resolve.

    For two aligned tumbling time-batch windows the join condition
    additionally pins the shared batch interval (contents of batch k
    only ever co-reside with the other window's batch k,
    UniqueTimeBatchWindowTestCase.java:192-196), and the expired/all
    channels follow the tumbling-flush protocol: every joined batch
    re-emits as expired when a later batch fires anywhere; the final
    batch never expires. Other window pairs support the current
    channel only — expired pair emission depends on replay-order
    interleaving across two streams, which the final-state batch model
    does not represent; SiddhiQLError, never a silent current-only.

    Per-window join CONTENTS follow each processor's ``find()``
    target: lengthBatch/firstLengthBatch probe the forming unique map
    (:226-233), timeLengthBatch probes the last fired batch
    (:377-384) — both lowered below; ever/first/time/length probe
    their retained maps (= the window contents already built). For
    same-window timeBatch / start.time-anchored externalTimeBatch
    pairs the certified batch-co-residency convention applies (their
    grids align across history). MIXED pairs (different batch windows,
    misaligned grids, first-event-anchored externalTimeBatch) lower
    each timeBatch-family side to its find() probe state —
    ``eventsToBeExpired`` = last fired batch for timeBatch,
    ``expiredEvents`` = last flushed batch for externalTimeBatch — via
    :func:`_batch_find_state`, so every side joins exactly the
    contents an arriving probe would match at end of stream."""
    cond, aligned, partitioned, lattr, rattr, mixed = _join_plan(q)
    if mixed:
        return _run_join_mixed_channels(q, streams, ts, tiebreak, cond)
    sides: dict[str, DataFrame] = {}
    for p in ("left", "right"):
        side = {**q[p], "channel": "current"}
        df = _bind_stream(side, streams)
        window = side["window"]
        if window in ("lengthBatch", "firstLengthBatch"):
            # the reference's lengthBatch find() probes the FORMING
            # unique map, never the fired log (UniqueLengthBatch-
            # WindowProcessor.java:226-233 searches uniqueEventMap.
            # values()) — so the join side is the final forming set
            # (<= N-1 per-key retained rows after the last fire),
            # exactly the contents an arriving probe would match
            args = list(side["args"])
            consts: list = []
            while args and _is_const(args[-1]):
                consts.insert(0, _const(args.pop()))
            if len(consts) != 1 or len(args) != 1:
                raise SiddhiQLError(
                    f"unique:{window} needs (key, window.length)"
                )
            # partitioned: each instance its own forming map
            sides[p] = ops.length_batch_forming(
                df, args[0], consts[0], ts=ts,
                tiebreak=_need_tiebreak(window, tiebreak),
                keep="first" if window == "firstLengthBatch" else "last",
                partition_attr=side.get("partition"),
            )
            continue
        if window == "timeLengthBatch":
            # timeLengthBatch find() probes eventsToBeExpired — the
            # LAST FIRED batch only (UniqueTimeLengthBatchWindow-
            # Processor.java:377-384); fires reset the clock, so no
            # cross-batch grid exists to align on. Partitioned: each
            # instance's own last batch (per-instance max batch_seq).
            batched = _build_window(side, df, ts, tiebreak)
            if partitioned:
                pcol = side["partition"]
                w = SqlWindow.partitionBy(pcol)
                sides[p] = (
                    batched.withColumn(
                        "_last_seq", F.max("batch_seq").over(w))
                    .filter(F.col("batch_seq") == F.col("_last_seq"))
                    .drop("_last_seq")
                )
            else:
                last = batched.agg(F.max("batch_seq").alias("_last_seq"))
                sides[p] = (
                    batched.crossJoin(F.broadcast(last))
                    .filter(F.col("batch_seq") == F.col("_last_seq"))
                    .drop("_last_seq")
                )
            continue
        built = _build_window(side, df, ts, tiebreak)
        if not aligned and window in (
            "timeBatch", "firstTimeBatch", "externalTimeBatch"
        ):
            # mixed pair: probe this side's find() state, not its full
            # batch history (which only aligned pairs may pin batchwise)
            built = _batch_find_state(window, built, side.get("partition"))
        sides[p] = built
    return _join_channels(q, sides, cond, partitioned, lattr, rattr)


def run_app(
    text: str,
    streams: dict[str, DataFrame],
    ts: str = "ts",
    tiebreak: str | None = None,
) -> dict[str, DataFrame]:
    """Execute a SiddhiQL app against bound DataFrames. Returns
    {output stream name: DataFrame}. Validation is EAGER: unknown
    streams/windows/attributes raise SiddhiQLError before any job
    runs. Queries chain through INNER streams the Siddhi way: a later
    query may read an earlier query's output stream by name (text
    order), e.g. query1 `insert into Temp` then query2
    `from Temp#window.unique:...` — the intermediate is just another
    declarative subtree, so Catalyst fuses the chain into one plan."""
    out: dict[str, DataFrame] = {}
    avail = dict(streams)
    for q in parse_app(text):
        if q["kind"] == "join":
            res = _app_error_boundary(_run_join, q, avail, ts, tiebreak)
            if getattr(res, "_sq_select_applied", False):
                # mixed-channel joins project per branch (the union
                # erases the stream aliases the select would need)
                out[q["out"]] = res
                avail[q["out"]] = res
                continue
        else:
            df = _bind_stream(q, avail)
            res = _app_error_boundary(_build_window, q, df, ts, tiebreak)
        res = _apply_select(res, q["select"], q.get("group_by"), q.get("having"))
        out[q["out"]] = res
        avail[q["out"]] = res
    return out


# streaming dispatch: the same argument binder, onto the Structured
# Streaming twins (no tiebreak — streams order by arrival/event time)
def _streaming_specs():
    from siddhi_execution_unique_spark import streaming as stw

    def keep_first(fn):
        def wrapped(df, *a, **kw):
            kw.setdefault("keep", "first")
            return fn(df, *a, **kw)
        return wrapped

    return {
        "ever": stw.ever_stream,
        "first": stw.first_stream,
        "length": stw.length_window_stream,
        "lengthBatch": stw.length_batch_stream,
        "firstLengthBatch": keep_first(stw.length_batch_stream),
        "time": stw.time_window_stream,
        "timeBatch": stw.tumbling_batch_stream,
        "firstTimeBatch": keep_first(stw.tumbling_batch_stream),
        "timeLengthBatch": stw.time_length_batch_stream,
        "deduplicate": stw.deduplicate_exact_stream,
        "externalTimeBatch": stw.external_time_batch_stream,
    }


def _build_streaming_res(q: dict, df: DataFrame, ts: str):
    """Build one windowed-stream clause's Structured Streaming twin
    (shared by :func:`run_app_streaming` and the foreachBatch
    aggregate lowering), its arguments bound by :func:`_window_args`
    as in the batch builder. Returns (twin DataFrame, keys,
    drop_staged): keys are the twin's key columns as bound (a
    partitioned per-key window's leading partition attribute, staged
    expression-key columns), drop_staged the staged helper columns
    (composite dedup key, expression keys) to drop from emitted rows.
    Operator ValueErrors surface as SiddhiQLError."""
    args, kwargs = _window_args(q, df)
    window, p = q["window"], q.get("partition")
    drop_staged: list[str] = []
    if p is not None:
        if window in _PARTITION_COMPOSITE:
            # composite key = independent window instance per partition
            # value (same windows as the batch path)
            args = [p] + args
        elif window == "deduplicate":
            df = df.withColumn("_pkey", F.concat_ws(
                "\x1f", F.col(p).cast("string"), F.col(args[0]).cast("string")))
            args = ["_pkey"] + args[1:]
            drop_staged.append("_pkey")
        elif window in ("lengthBatch", "firstLengthBatch", "timeLengthBatch",
                        "externalTimeBatch"):
            # the chain twins shard their state by the partition
            # attribute: one state group per instance — per-instance
            # anchor/chain AND the distributed shape for the otherwise
            # single-group twin
            kwargs["partition_attr"] = p
        else:
            raise SiddhiQLError(
                f"partitioned streaming unique:{window} is not "
                "wired; composite keys cover ever/first/timeBatch/"
                "firstTimeBatch/deduplicate; sharded state covers "
                "lengthBatch/firstLengthBatch/timeLengthBatch/"
                "externalTimeBatch"
            )
    if window in _EXPR_KEY_WINDOWS:
        # expression keys (validated in _bind_stream): stage each as a
        # computed column so the stateful twin keys on a real column,
        # dropped from the emitted rows
        for i, a in enumerate(args):
            if not _IDENT_RE.fullmatch(a):
                args[i] = f"_ekey{i}"
                df = df.withColumn(args[i], F.expr(a))
                drop_staged.append(args[i])
    fn = _streaming_specs()[window]
    if window == "externalTimeBatch":
        # the twin reads the timestamp attribute as its event-time column
        key, ts_attr = args
        if kwargs.pop("replace_timestamp_with_batch_end", False):
            raise SiddhiQLError(
                "replace.time.stamp.with.batch.end.time is not wired for "
                "the STREAMING twin; use the batch run_app"
            )
        idle = kwargs.pop("idle_timeout", None)
        kwargs["idle_timeout"] = None if isinstance(idle, int) and idle < 0 else idle
        return _app_error_boundary(fn, df, key, ts=ts_attr, **kwargs), [key], drop_staged
    if "start_time_ms" in kwargs:
        raise SiddhiQLError(
            "start.time is not wired for the STREAMING unique:timeBatch "
            "twin; use the batch run_app"
        )
    if window != "first":
        kwargs["ts"] = ts
    res = _app_error_boundary(fn, df, args if len(args) > 1 else args[0], **kwargs)
    return res, args, drop_staged


def run_app_streaming(
    text: str,
    streams: dict[str, DataFrame],
    ts: str = "ts",
) -> dict[str, DataFrame]:
    """Execute a SiddhiQL app against STREAMING DataFrames: the same
    query text that drives the batch engine builds the Structured
    Streaming twin plans (``#window.unique:time`` → the dual-channel
    ``time_window_stream`` etc.). ``first_stream`` ignores ``ts`` by
    design (arrival order); the dual-channel twins emit the
    reference's current/expired protocol on their ``channel`` column,
    so the ``insert expired events into`` channel selects
    ``channel = 'expired'`` rows where the twin provides them."""
    out: dict[str, DataFrame] = {}
    for q in parse_app(text):
        if q["kind"] == "join":
            raise SiddhiQLError(
                "window-to-window joins are wired for the batch run_app "
                "only; two stateful twins in one streaming query is a "
                "multi-stage streaming topology — stage through a sink"
            )
        df = _bind_stream(q, streams)
        res, _keys, drop_staged = _build_streaming_res(q, df, ts)
        window = q["window"]
        if q["channel"] == "expired":
            if "channel" not in res.columns:
                raise SiddhiQLError(
                    f"unique:{window}'s streaming twin has no expired channel"
                )
            res = res.filter(F.col("channel") == "expired")
        elif q["channel"] == "all" and window not in _NEVER_EXPIRES:
            # `insert all events into`: pass the dual-channel twin
            # through UNFILTERED (both chunks, tagged on `channel`);
            # a twin without the dual channel must not silently
            # degrade to current-only
            if "channel" not in res.columns:
                raise SiddhiQLError(
                    f"unique:{window}'s streaming twin has no expired "
                    "channel; `insert all events into` is not wired"
                )
        elif q["channel"] == "current" and "channel" in res.columns:
            # `insert into` selects only the current chunk of a
            # dual-channel twin (the tag column is twin plumbing, not
            # a reference attribute)
            res = res.filter(F.col("channel") == "current").drop("channel")
        if (
            any(_AGG_RE.search(s) for s in q["select"])
            or q.get("group_by") is not None
            or q.get("having") is not None
        ):
            # chaining an aggregation after a stateful twin means two
            # stateful operators in one streaming query — raise the
            # app-creation error instead of a mid-stream planner error
            raise SiddhiQLError(
                "aggregate select over a STREAMING window cannot run as "
                "one continuous query (two stateful operators); use "
                "run_app_streaming_aggregates for the foreachBatch "
                "lowering, or the batch run_app"
            )
        if drop_staged:
            res = res.drop(*drop_staged)
        out[q["out"]] = _apply_select(res, q["select"])
    return out


_AGG_RE = re.compile(r"\b(count|sum|avg|min|max)\s*\(", re.IGNORECASE)


# windows whose streaming twin's cumulative output, finalized per key,
# IS the batch window contents — the precondition for the foreachBatch
# aggregate lowering. ever re-emits replacements in update mode (the
# latest epoch's row per key wins); first/deduplicate append exactly
# the kept rows.
_AGG_LOWERABLE = frozenset({"ever", "first", "deduplicate"})


def run_app_streaming_aggregates(
    text: str,
    streams: dict[str, DataFrame],
    ts: str = "ts",
    workdir: str | None = None,
) -> dict[str, DataFrame]:
    """Execute a SiddhiQL app with AGGREGATE select lists (``select
    k, count() as c ...``) against STREAMING sources — the same query
    text Siddhi runs continuously, lowered through ``foreachBatch``:
    the stateful window twin runs as its own streaming query staging
    its (micro-batch-tagged) output to parquet, and once the
    availableNow replay drains, the window contents are finalized
    per key and the aggregate select runs over them — so the returned
    BATCH DataFrame equals the batch ``run_app``'s final state for
    the identical text (pytest-pinned equivalence).

    Wired for the per-key-state windows whose cumulative twin output
    finalizes to the window contents: ``ever`` (update stream, latest
    epoch per key wins), ``first`` and ``deduplicate`` (append
    streams of exactly the kept rows). The tumbling/batch families
    would need watermark-closed windows and are rejected eagerly."""
    import shutil
    import tempfile

    out: dict[str, DataFrame] = {}
    work = workdir or tempfile.mkdtemp(prefix="sgraft_sql_agg_")
    made_work = workdir is None
    try:
        for qi, q in enumerate(parse_app(text)):
            if q["kind"] == "join":
                raise SiddhiQLError(
                    "window-to-window joins are wired for the batch "
                    "run_app only"
                )
            if q["window"] not in _AGG_LOWERABLE:
                raise SiddhiQLError(
                    f"the foreachBatch aggregate lowering covers "
                    f"{sorted(_AGG_LOWERABLE)}; unique:{q['window']} needs "
                    "watermark-closed windows — use the batch run_app"
                )
            df = _bind_stream(q, streams)
            spark = df.sparkSession
            res, keys, drop_staged = _build_streaming_res(q, df, ts)
            staging = os.path.join(work, f"staging_{qi}_{q['out']}")
            ckpt = os.path.join(work, f"ckpt_{qi}_{q['out']}")
            acc = res.withColumn("_bid", F.lit(None).cast("long"))

            def append(bdf: DataFrame, epoch_id: int, _dir=staging) -> None:
                bdf.withColumn("_bid", F.lit(epoch_id)).write.mode(
                    "append"
                ).parquet(_dir)

            writer = (
                res.writeStream.foreachBatch(append)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
            )
            if q["window"] == "ever":
                writer = writer.outputMode("update")
            sq = writer.start()
            sq.awaitTermination()
            if os.path.isdir(staging):
                acc = spark.read.parquet(staging)
            else:  # no data arrived: empty frame with the twin schema
                acc = spark.createDataFrame([], acc.schema)
            if q["window"] == "ever":
                # the update stream re-emits a key on every
                # replacement; the final window contents are the last
                # epoch's row per key (one row per key within an epoch);
                # partitioned, the key is (partition attribute, key)
                w = SqlWindow.partitionBy(*keys).orderBy(F.col("_bid").desc())
                acc = (
                    acc.withColumn("_rn", F.row_number().over(w))
                    .filter(F.col("_rn") == 1)
                    .drop("_rn")
                )
            acc = acc.drop("_bid")
            if drop_staged:
                acc = acc.drop(*drop_staged)
            # materialize before the staging dir is removed
            final = _apply_select(
                acc, q["select"], q.get("group_by"), q.get("having")
            )
            final = _checkpointed(final, eager=True)
            out[q["out"]] = final
        return out
    finally:
        if made_work:
            shutil.rmtree(work, ignore_errors=True)


def _apply_select(
    res: DataFrame,
    select: list[str],
    group_by: list[str] | None = None,
    having: str | None = None,
) -> DataFrame:
    """Apply a SiddhiQL select list: plain projections, or — when any
    item is an aggregate (``count()``, ``sum(x)``, ...) — an
    aggregation OVER THE WINDOW CONTENTS grouped by the explicit
    ``group by`` attributes when given, else by the non-aggregate
    select items, which is exactly the reference's "aggregation over
    window" composition (e.g. UniqueEverWindowTestCase.java:86-94's
    running ``count(ip)``, whose final state is the per-group count of
    the retained events). Siddhi's bare ``count()`` maps to count(*);
    ``having`` filters the aggregated result (select-list aliases are
    in scope, as in Siddhi)."""
    if select == ["*"] and group_by is None and having is None:
        return res
    items = [re.sub(r"\bcount\s*\(\s*\)", "count(*)", s, flags=re.IGNORECASE)
             for s in select]
    from pyspark.errors import AnalysisException

    try:
        aggs = [s for s in items if _AGG_RE.search(s)]
        if not aggs:
            if group_by is not None or having is not None:
                raise SiddhiQLError(
                    "group by / having need at least one aggregate in "
                    "the select list"
                )
            return res.select(*[F.expr(s) for s in items])
        keys = group_by if group_by is not None else [
            s for s in items if not _AGG_RE.search(s)
        ]
        if not keys:
            out = res.agg(*[F.expr(s) for s in aggs])
        else:
            out = res.groupBy(*[F.expr(s) for s in keys]).agg(
                *[F.expr(s) for s in aggs]
            )
        if having is not None:
            out = out.filter(F.expr(having))
        if group_by is not None:
            # explicit group-by: the select list dictates the output
            # columns — resolvable when every item is a plain
            # identifier or carries an `as` alias (otherwise keep
            # Spark's groupKeys-then-aggregates order)
            names = []
            for s in items:
                am = re.search(r"\s+as\s+(\w+)\s*$", s, re.IGNORECASE)
                names.append(am.group(1) if am else s.strip())
            if all(re.fullmatch(r"\w+", n) for n in names):
                out = out.select(*names)
        return out
    except AnalysisException as e:
        # the reference rejects a select list referencing unknown
        # attributes at APP-CREATION time (SiddhiAppCreationException,
        # e.g. its negative tests select sum(val) over streams with no
        # `val`); surface Spark's eager analysis failure as the same
        # error type the rest of the front-end throws
        raise SiddhiQLError(
            f"select list failed to resolve against the window output: {e}"
        ) from e


# streaming joins: Spark cannot join two streaming AGGREGATES inside
# one query (the window twins are stateful aggs), so the topology the
# run_app_streaming error points at is implemented first-class here —
# stage each side's twin, then join the staged contents.
_JOIN_STAGEABLE = frozenset({"ever", "first", "timeBatch", "firstTimeBatch"})


def _stage_stream_contents(side: dict, df: DataFrame, ts: str, work_dir: str | None):
    """Run one join side's Structured Streaming twin to completion
    (availableNow) and return its final window CONTENTS as a batch
    DataFrame. Complete-mode agg twins (ever/timeBatch families)
    stage through a memory sink; the append twin (first) through a
    parquet sink."""
    import os
    import tempfile
    import uuid

    window = side["window"]
    if window not in _JOIN_STAGEABLE:
        raise SiddhiQLError(
            f"streaming join sides support unique:{sorted(_JOIN_STAGEABLE)}; "
            f"unique:{window}'s twin does not expose final contents as a "
            "single staged table"
        )
    res, _keys, _drop = _build_streaming_res({**side, "channel": "current"}, df, ts)
    if _drop:
        res = res.drop(*_drop)
    if "channel" in res.columns:
        res = res.filter(F.col("channel") == "current").drop("channel")
    work = work_dir or tempfile.mkdtemp(prefix="sgraft_sqljoin_")
    name = f"sq_join_{uuid.uuid4().hex[:8]}"
    spark = df.sparkSession
    if window == "first":
        outdir = os.path.join(work, name)
        qs = (
            res.writeStream.format("parquet")
            .option("path", outdir)
            .option("checkpointLocation", os.path.join(work, name + "_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        qs.awaitTermination()
        # explicit schema (ADVICE r09): a zero-row staged side leaves
        # only _spark_metadata in outdir and schema inference raises
        # instead of yielding an empty join side
        return (
            _checkpointed(
                spark.read.schema(res.schema).parquet(outdir), eager=True)
        )
    qs = (
        res.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .option("checkpointLocation", os.path.join(work, name + "_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    qs.awaitTermination()
    return _checkpointed(spark.table(name), eager=True)


def run_app_streaming_join(
    text: str,
    streams: dict[str, DataFrame],
    ts: str = "ts",
    work_dir: str | None = None,
) -> dict[str, DataFrame]:
    """Execute a SiddhiQL app's window-to-window JOIN queries over
    STREAMING inputs — the two-stage topology ``run_app_streaming``'s
    eager error points at, first-class: each side's Structured
    Streaming twin runs to completion and stages its final window
    contents; the join condition and channel derivation then reuse
    the exact batch lowering (``_join_plan``/``_join_channels``), so
    streamed joins land bit-for-bit on the batch join's certified
    oracle. This is the production shape too: window-state jobs
    feeding a downstream join over their sinks — Spark does not
    support joining two streaming aggregates in one query."""
    out: dict[str, DataFrame] = {}
    for q in parse_app(text):
        if q["kind"] != "join":
            raise SiddhiQLError(
                "run_app_streaming_join handles join queries only; "
                "use run_app_streaming for window queries"
            )
        cond, aligned, partitioned, lattr, rattr, mixed = _join_plan(q)
        if mixed:
            raise SiddhiQLError(
                "the expired/all-events channel of a mixed batch-window "
                "pair is lowered in batch mode only; the streaming twin "
                "stages current-channel joins"
            )
        # `partition with` composes: each side's staged twin is the
        # composite-key (partition attr + unique key) streaming
        # window — _build_streaming_res already lowers partitioned
        # ever/first/timeBatch that way — and the partition-pinned
        # equality is folded into the join condition by _join_plan,
        # exactly as in the batch lowering.
        sides = {
            p: _stage_stream_contents(q[p], _bind_stream({**q[p], "channel": "current"}, streams), ts, work_dir)
            for p in ("left", "right")
        }
        for p in ("left", "right"):
            w = q[p]["window"]
            if not aligned and w in ("timeBatch", "firstTimeBatch"):
                # mixed pair: the staged twin holds the full fired-batch
                # history; the join probes only this side's find() state
                # (same rule as the batch lowering)
                sides[p] = _batch_find_state(
                    w, sides[p],
                    q[p].get("partition") if partitioned else None,
                )
        res = _join_channels(q, sides, cond, partitioned, lattr, rattr)
        res = _apply_select(res, q["select"], q.get("group_by"), q.get("having"))
        out[q["out"]] = res
    return out

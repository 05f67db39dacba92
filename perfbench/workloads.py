"""The benchmark's workloads: which package calls each one makes, with
what parameters, and what each call must return.

Every call uses the parameters of a registry entry in
``__spark_entry__.queries()`` and projects its output the same way, so
the entry's oracle applies unchanged (see ``check.py`` for the two
recursive oracles replaced by transcriptions).
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.compute as pc

from perfbench import check, gen

HOUR = 3_600_000
DAY = 86_400_000


@dataclass(frozen=True)
class Workload:
    rows: int            # batch input events
    keys: int            # distinct user ids drawn from
    zipf: float          # 0: uniform
    stream_rows: int     # events replayed through each streaming query
    stream_files: int    # one file per micro-batch
    batch: tuple[str, ...]
    apps: tuple[str, ...]
    streams: tuple[str, ...]


# Why each workload exists is recorded in BENCHMARK.json and README.md.
WORKLOADS = {
    "keyed_wide": Workload(
        rows=50_000, keys=12_500, zipf=0.0,
        stream_rows=0, stream_files=0,
        batch=("ever", "time_batch", "time_window", "length_window"),
        apps=("ever_group_having",),
        streams=(),
    ),
    "replay_hot": Workload(
        rows=50_000, keys=1_000, zipf=1.2,
        stream_rows=1_000, stream_files=2,
        batch=("deduplicate", "length_batch", "ever"),
        apps=(),
        streams=("deduplicate_exact_stream",),
    ),
}


# -- batch operator calls: name -> (operators module, registry entry) --
BATCH_MODULE = {
    "ever": "keyed", "time_batch": "time_batch", "time_window": "time_window",
    "length_window": "length", "deduplicate": "replay", "length_batch": "replay",
}
BATCH_ORACLE = {
    "ever": "unique_ever", "time_batch": "unique_time_batch",
    "time_window": "unique_time", "length_window": "unique_length",
}


def _ev_out(df, *extra):
    from pyspark.sql import functions as F

    return df.select("event_id", F.unix_millis("ts").alias("ts_ms"), "user_id",
                     "event_type", "value", "props", *extra)


def build_batch(name: str, ev):
    """The registry entry's operator call and projection over ``ev``."""
    from siddhi_execution_unique_spark import operators as ops

    kw = {"ts": "ts", "tiebreak": "event_id"}
    if name == "ever":
        return _ev_out(ops.ever(ev, "user_id", **kw))
    if name == "time_batch":
        return _ev_out(ops.time_batch(ev, "user_id", HOUR, **kw),
                       "batch_start_ms", "batch_end_ms")
    if name == "time_window":
        return _ev_out(ops.time_window(ev, "user_id", DAY, **kw))
    if name == "length_window":
        return _ev_out(ops.length_window(ev, "user_id", 100, **kw))
    if name == "deduplicate":
        return _ev_out(ops.deduplicate(ev, "user_id", HOUR, **kw))
    if name == "length_batch":
        return ops.length_batch(ev.select("event_id", "ts", "user_id"), "user_id", 50,
                                **kw).select("event_id", "user_id", "batch_seq", "fired_at_ms")
    raise KeyError(name)


# -- SiddhiQL apps over ``events``: name -> (app text, registry entry, output) --
APPS = {
    # the registry's group_having app behind a filter; its oracle runs
    # unchanged over a filtered ``events`` view
    "ever_group_having": ("""
    from events[value > 100]#window.unique:ever(user_id)
    select event_type, count() as n, max(value) as vmax
    group by event_type
    having n > 20
    insert into agg;
    """, "siddhiql_group_having", "agg"),
}
APP_FILTER = "value > 100"


def stream_schema():
    """The generated events' schema, as ``stream_table`` needs it."""
    from pyspark.sql import types as T

    return T.StructType([
        T.StructField("event_id", T.LongType()), T.StructField("ts", T.TimestampNTZType()),
        T.StructField("user_id", T.LongType()), T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()), T.StructField("props", T.StringType()),
    ])


def build_stream(name: str, sdf):
    from siddhi_execution_unique_spark import streaming as stw

    if name == "deduplicate_exact_stream":
        return _ev_out(stw.deduplicate_exact_stream(sdf, "user_id", HOUR, ts="ts"))
    raise KeyError(name)


@dataclass
class Inputs:
    sf_dir: str
    table: pa.Table
    stream_dir: str | None
    stream_table: pa.Table | None
    traffic: dict


def make_inputs(wl: Workload, seed: int, work: str) -> Inputs:
    """The workload's events from ``seed``: one batch table and, for
    workloads with streams, a second table of the same distribution
    staged as ``stream_files`` time-ordered files."""
    table = gen.events_table(seed, wl.rows, wl.keys, wl.zipf)
    sf_dir = os.path.join(work, "sf")
    traffic = {"batch": gen.traffic(table, gen.write_events(table, sf_dir))}
    if not wl.streams:
        return Inputs(sf_dir, table, None, None, traffic)
    stable = gen.events_table(seed + 1_000_003, wl.stream_rows, wl.keys, wl.zipf)
    sdir = os.path.join(work, "stream_in")
    files = gen.stage_stream_files(stable, sdir, wl.stream_files)
    traffic["stream"] = {**gen.traffic(stable, files[0]), "files": len(files),
                         "bytes_on_disk": sum(os.path.getsize(f) for f in files)}
    return Inputs(sf_dir, table, sdir, stable, traffic)


def _event_rows(table: pa.Table, mask) -> pa.Table:
    t = table.filter(pa.array(mask))
    ts_ms = pc.divide(t.column("ts").cast(pa.int64()), 1000)
    return pa.table({"event_id": t.column("event_id"), "ts_ms": ts_ms,
                     "user_id": t.column("user_id"), "event_type": t.column("event_type"),
                     "value": t.column("value"), "props": t.column("props")})


def _duck(path: str, where: str = "TRUE"):
    import duckdb

    con = duckdb.connect()
    con.sql(f"SET temp_directory = '{os.path.join(os.path.dirname(path), 'duckdb_tmp')}'")
    con.sql(f"CREATE VIEW events AS SELECT * FROM read_parquet('{path}') WHERE {where}")
    return con


def expectations(wl: Workload, inp: Inputs, oracle_sql: dict[str, str]) -> dict[str, pa.Table]:
    """Expected output of every call of ``wl`` on ``inp``."""
    path = os.path.join(inp.sf_dir, "events.parquet")
    con = _duck(path)
    ev = check.event_arrays(inp.table)
    out: dict[str, pa.Table] = {}
    for name in wl.batch:
        if name in BATCH_ORACLE:
            out[name] = con.sql(oracle_sql[BATCH_ORACLE[name]]).arrow()
        elif name == "deduplicate":
            out[name] = _event_rows(inp.table, check.dedup_kept(ev, HOUR))
        else:
            out[name] = check.length_batch_table(check.length_batch_rows(ev, 50))
    if wl.apps:
        filtered = _duck(path, APP_FILTER)
        for name in wl.apps:
            out[name] = filtered.sql(oracle_sql[APPS[name][1]]).arrow()
    for name in wl.streams:  # deduplicate_exact_stream: the batch chain's rule
        sev = check.event_arrays(inp.stream_table)
        out[name] = _event_rows(inp.stream_table, check.dedup_kept(sev, HOUR))
    return out

"""Seeded event generator for the benchmark.

Writes the schema of the corpus ``events`` table (``event_id, ts,
user_id, event_type, value, props``) as one single-row-group
``events.parquet`` in an sf-style directory, so the registry's DuckDB
oracle SQL runs on it unchanged and ``sources.load_table`` reads it the
way the corpus path does (``ts`` is a naive microsecond timestamp,
which ``load_table`` reinterprets as UTC).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = np.array(["click", "view", "purchase", "signup", "error"])
SPAN_US = 30 * 86_400_000_000  # thirty days, like the corpus table
START_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00


def draw_keys(rng: np.random.Generator, n: int, n_keys: int, zipf: float) -> np.ndarray:
    """``n`` user ids over ``n_keys`` keys: uniform when ``zipf`` is 0,
    else P(rank r) proportional to r**-zipf. Ranks map to ids through a
    seeded permutation so the hot keys are not the small ids."""
    if zipf <= 0:
        return rng.integers(0, n_keys, n)
    weights = np.arange(1, n_keys + 1, dtype=np.float64) ** -zipf
    ranks = rng.choice(n_keys, size=n, p=weights / weights.sum())
    return rng.permutation(n_keys)[ranks]


def events_table(seed: int, n: int, n_keys: int, zipf: float) -> pa.Table:
    """``n`` events in strictly increasing time order (``event_id``
    follows ``ts``), so arrival order is the same with or without the
    ``event_id`` tiebreak."""
    rng = np.random.default_rng(seed)
    ts = np.sort(rng.integers(START_US, START_US + SPAN_US - n, n)) + np.arange(n)
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(draw_keys(rng, n, n_keys, zipf).astype(np.int64)),
        "event_type": pa.array(EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n)]),
        "value": pa.array(np.round(rng.uniform(0, 200, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def write_events(table: pa.Table, sf_dir: str) -> str:
    os.makedirs(sf_dir, exist_ok=True)
    path = os.path.join(sf_dir, "events.parquet")
    pq.write_table(table, path, row_group_size=table.num_rows)
    return path


def stage_stream_files(table: pa.Table, directory: str, n_files: int) -> list[str]:
    """Split ``table`` in time order into ``n_files`` parquet files with
    strictly increasing modification times, so a file stream with
    ``maxFilesPerTrigger=1`` replays them in event-time order."""
    os.makedirs(directory, exist_ok=True)
    bounds = np.linspace(0, table.num_rows, n_files + 1).astype(int)
    paths = []
    for i in range(n_files):
        path = os.path.join(directory, f"part-{i:05d}.parquet")
        pq.write_table(table.slice(bounds[i], bounds[i + 1] - bounds[i]), path)
        os.utime(path, ns=(10**18 + i * 10**9, 10**18 + i * 10**9))
        paths.append(path)
    return paths


def traffic(table: pa.Table, path: str) -> dict:
    """What the workload's input looks like: rows, distinct keys, the
    hottest key's share and bytes on disk."""
    keys = table.column("user_id").to_numpy()
    counts = np.unique(keys, return_counts=True)[1]
    return {
        "rows": table.num_rows,
        "distinct_keys": int(len(counts)),
        "top_key_share": round(float(counts.max()) / table.num_rows, 4),
        "bytes_on_disk": os.path.getsize(path),
    }

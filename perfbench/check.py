"""Expected results for every call, and the comparison that gates them.

Most expectations come straight from the registry's DuckDB oracle SQL
(``__spark_entry__.oracle_sql()``), run on the generated
``events.parquet``. The registry's oracles for ``unique:deduplicate``
and the ``lengthBatch`` family are recursive CTEs that step one kept
event or one fire per iteration (about 10 ms each in DuckDB), which is
minutes at benchmark sizes; for those the expectation is a direct
transcription of the same rule in Python (:func:`dedup_kept`,
:func:`length_batch_rows`). ``test_smoke.py`` pins each transcription
to its registry SQL on a small input.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa


def event_arrays(table: pa.Table) -> dict[str, np.ndarray]:
    """Columns of a generated events table (already in (ts, event_id)
    order), with ``ms`` the epoch-millis the operators compare."""
    ts_us = table.column("ts").cast(pa.int64()).to_numpy()
    return {
        "event_id": table.column("event_id").to_numpy(),
        "user_id": table.column("user_id").to_numpy(),
        "ms": ts_us // 1000,
    }


def dedup_kept(ev: dict[str, np.ndarray], interval_ms: int) -> np.ndarray:
    """Row mask of ``unique:deduplicate``'s anchored chain: an event is
    kept iff its key has no kept event, or it is strictly more than
    ``interval_ms`` after the key's last kept event (the rule of the
    registry's ``_DEDUPLICATE_SQL``)."""
    last: dict[int, int] = {}
    keep = np.zeros(len(ev["ms"]), dtype=bool)
    for i, (k, ms) in enumerate(zip(ev["user_id"].tolist(), ev["ms"].tolist())):
        prev = last.get(k)
        if prev is None or ms > prev + interval_ms:
            keep[i] = True
            last[k] = ms
    return keep


def length_batch_rows(ev: dict[str, np.ndarray], n: int) -> list[tuple]:
    """``(event_id, user_id, batch_seq, fired_at_ms)`` of every fired
    ``unique:lengthBatch`` batch: a batch fires on the arrival of its
    ``n``-th distinct key and retains the latest event per key; the
    trailing partial batch never fires (the registry's
    ``_length_batch_oracle(n, "last")``)."""
    ids, keys, ms = ev["event_id"], ev["user_id"], ev["ms"]
    out: list[tuple] = []
    forming: dict[int, int] = {}
    seq = 0
    for i in range(len(ids)):
        forming[int(keys[i])] = i
        if len(forming) == n:
            for key, j in forming.items():
                out.append((int(ids[j]), key, seq, int(ms[i])))
            seq += 1
            forming = {}
    return out


def length_batch_table(rows: list[tuple]) -> pa.Table:
    cols = list(zip(*rows)) if rows else [(), (), (), ()]
    return pa.table({
        "event_id": pa.array(cols[0], pa.int64()),
        "user_id": pa.array(cols[1], pa.int64()),
        "batch_seq": pa.array(cols[2], pa.int64()),
        "fired_at_ms": pa.array(cols[3], pa.int64()),
    })


def same_rows(got: pa.Table, want: pa.Table) -> str | None:
    """None when ``got`` holds exactly the rows of ``want`` (as a
    multiset, on ``want``'s columns and types); else why not."""
    cols = want.column_names
    if sorted(got.column_names) != sorted(cols):
        return f"columns {got.column_names} != {cols}"
    if got.num_rows != want.num_rows:
        return f"{got.num_rows} rows != {want.num_rows}"
    try:
        got = got.select(cols).cast(want.schema)
    except (pa.ArrowInvalid, pa.ArrowNotImplementedError) as exc:
        return f"schema {got.schema} vs {want.schema}: {exc}"
    keys = [(c, "ascending") for c in cols]
    if not got.sort_by(keys).equals(want.sort_by(keys)):
        return "row values differ"
    return None

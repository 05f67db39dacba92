"""Smoke tests of the benchmark: runs of small copies of the workloads
emit every metric of ``BENCHMARK.json`` with its unit, the Python transcriptions of the two
recursive registry oracles agree with the registry SQL, and the command
fails without printing a result where the package is absent.

Run from the repository root: ``python3 -m pytest perfbench/test_smoke.py -q``.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import duckdb
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [ROOT]

from perfbench import check, gen, metrics  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)


# the benchmark's entry point over small copies of its workloads
SMALL = """
import dataclasses, sys
from perfbench import run, workloads
for name, wl in workloads.WORKLOADS.items():
    workloads.WORKLOADS[name] = dataclasses.replace(
        wl, rows=3_000, keys=min(wl.keys, 500), stream_rows=min(wl.stream_rows, 400))
sys.exit(run.main(sys.argv[1:]))
"""


def _run(cwd: str, workload: str, trace: int, small: bool = True) -> subprocess.CompletedProcess:
    entry = ["-c", SMALL] if small else ["perfbench/run.py"]
    return subprocess.run(
        [sys.executable, *entry, "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace)],
        cwd=cwd, capture_output=True, text=True, timeout=600)


def test_spec_matches_the_emitters():
    assert {m["name"]: m["unit"] for m in SPEC["end_to_end"]} == metrics.END_TO_END
    assert {m["name"]: m["unit"] for m in SPEC["per_layer"]} == metrics.per_layer_units()


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_every_metric_is_emitted_with_its_unit(workload, trace):
    proc = _run(ROOT, workload, trace)
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    want = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    got = result["metrics"]
    assert set(got) == {m["name"] for m in want}
    for m in want:
        assert got[m["name"]]["unit"] == m["unit"]
        assert isinstance(got[m["name"]]["value"], (int, float))
    if not trace:
        assert all(v["value"] > 0 for v in got.values())


@pytest.fixture(scope="module")
def small_events(tmp_path_factory):
    table = gen.events_table(seed=5, n=3_000, n_keys=120, zipf=1.2)
    path = gen.write_events(table, str(tmp_path_factory.mktemp("sf")))
    con = duckdb.connect()
    con.sql(f"CREATE VIEW events AS SELECT * FROM read_parquet('{path}')")
    return table, con


def test_dedup_transcription_matches_registry_sql(small_events):
    import __spark_entry__ as entry

    table, con = small_events
    ev = check.event_arrays(table)
    want = sorted(r[0] for r in con.sql(entry._DEDUPLICATE_SQL).fetchall())
    got = sorted(ev["event_id"][check.dedup_kept(ev, entry.HOUR)].tolist())
    assert got == want


def test_length_batch_transcription_matches_registry_sql(small_events):
    import __spark_entry__ as entry

    table, con = small_events
    sql = entry.oracle_sql()["unique_length_batch"]
    want = con.sql(f"SELECT event_id, user_id, batch_seq, fired_at_ms FROM ({sql})").arrow()
    got = check.length_batch_table(check.length_batch_rows(check.event_arrays(table), 50))
    assert want.num_rows > 0
    assert check.same_rows(got, want) is None


def test_fails_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run(str(tmp_path), SPEC["workloads"][0]["name"], 0, small=False)
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout

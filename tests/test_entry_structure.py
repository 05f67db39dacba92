"""Structure checks that start no Spark session: in
``__spark_entry__.py`` (stdlib ``ast``) every streaming certification
drains through the one runner and no query function carries imports
it does not use; ``operators.__all__`` is exactly the public operators,
with `partition with` as a parameter rather than twin functions; the
chain windows are written once, in ``operators/replay.py``, and the
streaming twins run those chains."""

import ast
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ENTRY = os.path.join(ROOT, "__spark_entry__.py")
PKG = os.path.join(ROOT, "siddhi_execution_unique_spark")
STREAMING = os.path.join(PKG, "streaming", "__init__.py")
CHAIN_TWINS = ("length_batch_stream", "length_window_stream",
               "time_length_batch_stream", "external_time_batch_stream")


def _tree(path=ENTRY):
    with open(path) as f:
        return ast.parse(f.read(), path)


def test_one_write_stream_site():
    sites = [n.lineno for n in ast.walk(_tree())
             if isinstance(n, ast.Attribute) and n.attr == "writeStream"]
    assert len(sites) == 1, f"writeStream at lines {sites}; use _drain"


def test_no_unused_function_local_imports():
    unused = []
    for fn in ast.walk(_tree()):
        if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
            continue
        used = {n.id for n in ast.walk(fn) if isinstance(n, ast.Name)}
        for node in ast.walk(fn):
            if isinstance(node, (ast.Import, ast.ImportFrom)):
                for alias in node.names:
                    name = (alias.asname or alias.name).split(".")[0]
                    if name not in used:
                        unused.append(f"{fn.name}:{node.lineno} {name}")
    assert unused == []


def test_operators_all_lists_public_callables():
    # every public operator is exported, and `partition with` is the
    # partition_attr= parameter, never a *_partitioned twin
    from siddhi_execution_unique_spark import operators as ops

    public = {n for n, v in vars(ops).items()
              if callable(v) and not n.startswith("_")}
    assert sorted(ops.__all__) == sorted(public)
    assert [n for n in ops.__all__ if n.endswith("_partitioned")] == []


def test_siddhiql_has_one_window_builder():
    from siddhi_execution_unique_spark import siddhiql

    assert not hasattr(siddhiql, "_build_partitioned")


def test_streaming_chain_twins_have_no_row_walk():
    fns = {n.name: n for n in _tree(STREAMING).body
           if isinstance(n, ast.FunctionDef)}
    assert "_length_batch_walk" not in fns
    for name in CHAIN_TWINS:
        calls = {n.func.id for n in ast.walk(fns[name])
                 if isinstance(n, ast.Call) and isinstance(n.func, ast.Name)}
        assert "_row_dicts" not in calls, name
        assert "_chain_stream" in calls, name


def test_chain_classes_live_in_replay_only():
    # a class deriving from _Chain (directly or not) outside replay.py
    # would be a second copy of a window's state machine
    defined = {}
    for dirpath, _, files in os.walk(PKG):
        for f in files:
            if f.endswith(".py"):
                path = os.path.join(dirpath, f)
                for n in ast.walk(_tree(path)):
                    if isinstance(n, ast.ClassDef):
                        defined[n.name] = (os.path.relpath(path, PKG),
                                           [getattr(b, "id", None) for b in n.bases])
    chains = {"_Chain"}
    while True:
        more = {c for c, (_, bases) in defined.items() if chains & set(bases)}
        if more <= chains:
            break
        chains |= more
    where = {defined[c][0] for c in chains}
    assert where == {os.path.join("operators", "replay.py")}
    assert {"_FormingSet", "_UniqueFifo", "_TimeLengthBatch",
            "_ExternalTimeBatch"} <= chains

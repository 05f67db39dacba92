"""Structure checks that start no Spark session: in
``__spark_entry__.py`` (stdlib ``ast``) every streaming certification
drains through the one runner and no query function carries imports
it does not use; ``operators.__all__`` is exactly the public operators,
with `partition with` as a parameter rather than twin functions."""

import ast
import os

ENTRY = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "__spark_entry__.py")


def _tree():
    with open(ENTRY) as f:
        return ast.parse(f.read(), ENTRY)


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

"""Structure checks on ``__spark_entry__.py`` (stdlib ``ast`` only, no
Spark): every streaming certification drains through the one runner,
and no query function carries imports it does not use."""

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

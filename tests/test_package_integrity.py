"""Dangling-reference guard: retiring a module, query or helper must not
leave an import, a queries()/oracle_sql() entry or a bench query behind."""

from __future__ import annotations

import ast
import importlib
import os
import pkgutil

import osmcoastline_spark

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_every_package_module_imports():
    names = [
        m.name
        for m in pkgutil.walk_packages(
            osmcoastline_spark.__path__, prefix="osmcoastline_spark."
        )
    ]
    assert "osmcoastline_spark.plans.pipeline" in names
    for name in names:
        importlib.import_module(name)


def test_oracles_match_queries():
    import __spark_entry__ as entry

    assert set(entry.oracle_sql()) == set(entry.queries())


def _bench_queries() -> list[str]:
    """The `bench_queries` list literal of bench.py's main()."""
    with open(os.path.join(ROOT, "bench.py")) as f:
        tree = ast.parse(f.read())
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Assign)
            and [getattr(t, "id", None) for t in node.targets] == ["bench_queries"]
        ):
            return ast.literal_eval(node.value)
    raise AssertionError("bench.py has no bench_queries list")


def test_bench_queries_are_entry_queries():
    import __spark_entry__ as entry

    bench = _bench_queries()
    assert len(bench) == 10
    assert set(bench) <= set(entry.queries())

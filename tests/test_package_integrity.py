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


def _literal(path: str, name: str):
    """The literal value assigned to `name` anywhere in the file at `path`."""
    with open(path) as f:
        tree = ast.parse(f.read())
    for node in ast.walk(tree):
        if isinstance(node, ast.Assign) and [
            getattr(t, "id", None) for t in node.targets
        ] == [name]:
            return ast.literal_eval(node.value)
    raise AssertionError(f"{path} assigns no {name}")


def test_bench_queries_are_entry_queries():
    import __spark_entry__ as entry

    bench = _literal(os.path.join(ROOT, "bench.py"), "bench_queries")
    assert len(bench) == 10
    assert set(bench) <= set(entry.queries())


def test_traced_layer_functions_are_pipeline_names():
    """`perfbench/spans.py` patches each LAYER_FUNCTIONS name in the
    module dict of plans.pipeline; a dropped import would break tracing."""
    from osmcoastline_spark.plans import pipeline

    layers = _literal(os.path.join(ROOT, "perfbench", "spans.py"), "LAYER_FUNCTIONS")
    names = [n for fns in layers.values() for n in fns]
    assert names
    missing = [n for n in names if not callable(vars(pipeline).get(n))]
    assert not missing, missing


def test_only_util_calls_local_checkpoint():
    """Every checkpoint goes through util.materialize, the one place a
    checkpoint policy can change."""
    pkg = os.path.dirname(osmcoastline_spark.__file__)
    callers = []
    for dirpath, _dirs, files in os.walk(pkg):
        for fn in files:
            if not fn.endswith(".py"):
                continue
            path = os.path.join(dirpath, fn)
            with open(path) as f:
                tree = ast.parse(f.read())
            if any(
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "localCheckpoint"
                for node in ast.walk(tree)
            ):
                callers.append(os.path.relpath(path, pkg))
    assert sorted(callers) == ["util.py"], callers


def test_operators_and_plans_build_frames_through_local_frame():
    """A driver-built frame in the engine is a LocalRelation made by
    util.local_frame; no operator or plan calls createDataFrame itself."""
    pkg = os.path.dirname(osmcoastline_spark.__file__)
    callers = []
    for sub in ("operators", "plans"):
        for fn in sorted(os.listdir(os.path.join(pkg, sub))):
            if not fn.endswith(".py"):
                continue
            with open(os.path.join(pkg, sub, fn)) as f:
                tree = ast.parse(f.read())
            callers += [
                f"{sub}/{fn}:{node.lineno}"
                for node in ast.walk(tree)
                if isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "createDataFrame"
            ]
    assert callers == [], callers


def test_pipeline_python_stages_cross_one_arrow_boundary():
    """No operator or plan runs a pandas UDF stage: every Python stage of
    the pipeline is a mapInArrow stage through util.arrow_stage, which
    reads and writes list columns with one codec."""
    pkg = os.path.dirname(osmcoastline_spark.__file__)
    callers = []
    for sub in ("operators", "plans"):
        for dirpath, _dirs, files in os.walk(os.path.join(pkg, sub)):
            for fn in files:
                if not fn.endswith(".py"):
                    continue
                path = os.path.join(dirpath, fn)
                with open(path) as f:
                    tree = ast.parse(f.read())
                callers += [
                    f"{os.path.relpath(path, pkg)}:{node.lineno}"
                    for node in ast.walk(tree)
                    if isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr in ("mapInPandas", "applyInPandas")
                ]
    assert callers == [], callers

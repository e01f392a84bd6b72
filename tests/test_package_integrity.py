"""Dangling-reference guard: retiring a module, query or helper must not
leave an import, a queries()/oracle_sql() entry or a bench query behind."""

from __future__ import annotations

import ast
import importlib
import inspect
import os
import pkgutil
import types

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


def _tool_scripts() -> list[str]:
    """The scripts outside the package and the tests that import it."""
    paths = [os.path.join(ROOT, "bench.py"), os.path.join(ROOT, "bench_extra.py")]
    for sub in ("BENCH", "tools"):
        paths += sorted(
            os.path.join(ROOT, sub, fn)
            for fn in os.listdir(os.path.join(ROOT, sub))
            if fn.endswith(".py")
        )
    return paths


def _script_trees(path: str) -> list[ast.Module]:
    """The script's own tree, plus the tree of every string literal in it
    that is a Python program importing the package (the child programs
    the scaling scripts run with `python -c`)."""
    with open(path) as f:
        tree = ast.parse(f.read())
    trees = [tree]
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Constant)
            and isinstance(node.value, str)
            and "import" in node.value
            and "osmcoastline_spark" in node.value
        ):
            try:
                trees.append(ast.parse(node.value))
            except SyntaxError:
                pass
    return trees


def _dangling_imports(tree: ast.Module) -> tuple[list[str], int]:
    """Every `osmcoastline_spark` module the program imports, every name
    it imports from one and every attribute it reads off an imported
    module that does not resolve, and every call of an imported package
    callable whose signature cannot bind the call's positional count and
    keywords (calls passing `*` or `**` arguments are skipped); and the
    number of arguments checked."""
    bad: list[str] = []
    modules: dict[str, types.ModuleType] = {}  # local alias -> module
    names: dict[str, object] = {}  # local name -> imported package object

    def resolve(name: str, lineno: int):
        try:
            return importlib.import_module(name)
        except ImportError:
            bad.append(f"{lineno}: no module {name}")
            return None

    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for alias in node.names:
                if alias.name.split(".")[0] == "osmcoastline_spark":
                    mod = resolve(alias.name, node.lineno)
                    if mod is not None:
                        modules[alias.asname or "osmcoastline_spark"] = (
                            mod if alias.asname else osmcoastline_spark
                        )
        elif isinstance(node, ast.ImportFrom) and (node.module or "").split(".")[0] == "osmcoastline_spark":
            mod = resolve(node.module, node.lineno)
            if mod is None:
                continue
            for alias in node.names:
                if hasattr(mod, alias.name):
                    obj = getattr(mod, alias.name)
                else:
                    try:
                        obj = importlib.import_module(f"{node.module}.{alias.name}")
                    except ImportError:
                        bad.append(f"{node.lineno}: {node.module} has no {alias.name}")
                        continue
                if isinstance(obj, types.ModuleType):
                    modules[alias.asname or alias.name] = obj
                else:
                    names[alias.asname or alias.name] = obj

    def target(func: ast.expr):
        """The package object a call's func expression names, or None."""
        if isinstance(func, ast.Name):
            return names.get(func.id, modules.get(func.id))
        if isinstance(func, ast.Attribute):
            owner = target(func.value)
            if isinstance(owner, types.ModuleType):
                return getattr(owner, func.attr, None)
        return None

    checked = 0
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Attribute)
            and isinstance(node.value, ast.Name)
            and node.value.id in modules
            and not hasattr(modules[node.value.id], node.attr)
        ):
            bad.append(f"{node.lineno}: {modules[node.value.id].__name__} has no {node.attr}")
        elif isinstance(node, ast.Call):
            fn = target(node.func)
            if (
                fn is None
                or isinstance(fn, types.ModuleType)
                or any(isinstance(a, ast.Starred) for a in node.args)
                or any(k.arg is None for k in node.keywords)
            ):
                continue
            try:
                sig = inspect.signature(fn)
            except (TypeError, ValueError):
                continue
            checked += len(node.args) + len(node.keywords)
            try:
                sig.bind_partial(*node.args, **{k.arg: k.value for k in node.keywords})
            except TypeError as e:
                bad.append(f"{node.lineno}: {getattr(fn, '__name__', fn)}(): {e}")
    return bad, checked


def test_tool_scripts_import_only_what_exists():
    """bench.py, bench_extra.py, BENCH/*.py and tools/*.py run outside
    the tests; retiring a module, helper or parameter must not leave one
    of them importing it or passing it."""
    scripts = _tool_scripts()
    assert os.path.join(ROOT, "bench.py") in scripts and len(scripts) > 3
    bad, checked = [], 0
    for path in scripts:
        for tree in _script_trees(path):
            b, n = _dangling_imports(tree)
            bad += [f"{os.path.relpath(path, ROOT)}: {x}" for x in b]
            checked += n
    assert bad == [], bad
    assert checked > 0


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


def test_every_options_field_has_a_cli_flag():
    """Each `Options` field is set by `cli.py`'s one `Options(...)` call: a
    field no CLI flag reaches is a knob no caller turns."""
    import dataclasses

    from osmcoastline_spark.plans.pipeline import Options

    with open(os.path.join(os.path.dirname(osmcoastline_spark.__file__), "cli.py")) as f:
        tree = ast.parse(f.read())
    calls = [
        node
        for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Name)
        and node.func.id == "Options"
    ]
    assert len(calls) == 1, len(calls)
    assert {k.arg for k in calls[0].keywords} == {f.name for f in dataclasses.fields(Options)}

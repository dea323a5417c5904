"""The package names that the scripts, the benchmark and the entry
points use must still exist.

Each file is parsed, not run: no Spark session starts. Two kinds of
use are checked:

- every ``from project_clinical_data_etl_pipeline_spark... import name``
  names an attribute or a submodule of that module;
- every attribute read on a name bound to a package module
  (``from ...operators import ann_index as AI`` then ``AI.probe_index``)
  exists, resolved in the scope that binds the name: a parameter or
  assignment of the same name in a nested scope shadows the module.

A deleted or renamed function that one of these files still calls fails
here instead of at the file's next run.
"""

from __future__ import annotations

import ast
import glob
import importlib
import os
import types

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "project_clinical_data_etl_pipeline_spark"
FILES = sorted(
    glob.glob(os.path.join(ROOT, "scripts", "*.py"))
    + glob.glob(os.path.join(ROOT, "perfbench", "*.py"))
    + [os.path.join(ROOT, "bench.py"), os.path.join(ROOT, "__spark_entry__.py")]
)
_SCOPES = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef, ast.Lambda)


def _resolve(module: str, name: str):
    """The attribute or submodule ``name`` of package ``module``, else None."""
    mod = importlib.import_module(module)
    if hasattr(mod, name):
        return getattr(mod, name)
    try:
        return importlib.import_module(f"{module}.{name}")
    except ModuleNotFoundError:
        return None


def _split(scope: ast.AST) -> tuple[list, list]:
    """(the nodes of ``scope`` outside its nested scopes, those scopes)."""
    local, nested, stack = [], [], list(ast.iter_child_nodes(scope))
    while stack:
        node = stack.pop()
        if isinstance(node, _SCOPES):
            nested.append(node)
            # decorators and defaults evaluate in the enclosing scope
            stack.extend(getattr(node, "decorator_list", []))
            args = getattr(node, "args", None)
            if args is not None:
                stack.extend(args.defaults + [d for d in args.kw_defaults if d])
            continue
        local.append(node)
        stack.extend(ast.iter_child_nodes(node))
    return local, nested


def _check_scope(scope: ast.AST, env: dict, where: str, missing: list) -> None:
    """Record in ``missing`` each unresolved package import and each
    attribute read that a package-module name in ``env`` lacks."""
    local, nested = _split(scope)
    env = dict(env)
    args = getattr(scope, "args", None)
    if args is not None:
        for a in args.posonlyargs + args.args + args.kwonlyargs:
            env[a.arg] = None
        for a in (args.vararg, args.kwarg):
            if a is not None:
                env[a.arg] = None
    for node in local:
        if isinstance(node, ast.Name) and isinstance(node.ctx, (ast.Store, ast.Del)):
            env[node.id] = None
        elif isinstance(node, ast.ExceptHandler) and node.name:
            env[node.name] = None
    for node in nested:
        if not isinstance(node, ast.Lambda):
            env[node.name] = None
    for node in local:
        if isinstance(node, ast.ImportFrom) and node.level == 0 and (
            node.module == PKG or (node.module or "").startswith(PKG + ".")
        ):
            for alias in node.names:
                obj = _resolve(node.module, alias.name)
                if obj is None:
                    missing.append(f"{where}:{node.lineno} {node.module}.{alias.name}")
                bound = obj if isinstance(obj, types.ModuleType) else None
                env[alias.asname or alias.name] = bound
        elif isinstance(node, ast.Import):
            for alias in node.names:
                if alias.name.startswith(PKG + ".") and alias.asname:
                    env[alias.asname] = importlib.import_module(alias.name)
    for node in local:
        if (
            isinstance(node, ast.Attribute)
            and isinstance(node.ctx, ast.Load)
            and isinstance(node.value, ast.Name)
            and env.get(node.value.id) is not None
        ):
            mod = env[node.value.id]
            if _resolve(mod.__name__, node.attr) is None:
                missing.append(f"{where}:{node.lineno} {mod.__name__}.{node.attr}")
    for node in nested:
        _check_scope(node, env, where, missing)


@pytest.mark.parametrize("path", FILES, ids=lambda p: os.path.relpath(p, ROOT))
def test_package_names_used_by_entry_files_exist(path):
    with open(path) as fh:
        tree = ast.parse(fh.read(), filename=path)
    missing: list[str] = []
    _check_scope(tree, {}, os.path.relpath(path, ROOT), missing)
    assert not missing, missing


def test_worker_daemon_module_imports():
    """The module ``get_spark`` names in ``spark.python.daemon.module``
    must import and have a ``main``: Spark starts every Python worker
    through it, so a rename would otherwise fail at the first Python
    task of a session."""
    from project_clinical_data_etl_pipeline_spark import session

    with open(session.__file__) as fh:
        tree = ast.parse(fh.read(), filename=session.__file__)
    (get_spark,) = [
        n for n in tree.body if isinstance(n, ast.FunctionDef) and n.name == "get_spark"
    ]
    names = [
        eval(compile(ast.Expression(node.args[1]), session.__file__, "eval"), vars(session))
        for node in ast.walk(get_spark)
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "config"
        and len(node.args) == 2
        and isinstance(node.args[0], ast.Constant)
        and node.args[0].value == "spark.python.daemon.module"
    ]
    assert len(names) == 1, names
    assert callable(importlib.import_module(names[0]).main)

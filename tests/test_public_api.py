"""Public-API guard: every ``__all__`` name resolves, and every name the
benchmark harness (``perfbench/``) imports from the library exists, so a
refactor cannot silently break either."""

import ast
import importlib
import pathlib
import pkgutil
import zipimport

import pytest

import gostatix_spark

REPO = pathlib.Path(__file__).resolve().parents[1]
MODULES = sorted(m.name for m in pkgutil.walk_packages(
    gostatix_spark.__path__, "gostatix_spark."))


@pytest.mark.parametrize("name", MODULES)
def test_all_names_resolve(name, monkeypatch):
    # importing daemon_preload installs its zipimporter guard: undo that
    # when the test ends
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    mod = importlib.import_module(name)
    missing = [n for n in getattr(mod, "__all__", []) if not hasattr(mod, n)]
    assert not missing, f"{name}.__all__ lists missing names {missing}"


def _perfbench_imports():
    for path in sorted((REPO / "perfbench").glob("*.py")):
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.ImportFrom) and node.module and \
                    node.module.split(".")[0] == "gostatix_spark":
                for alias in node.names:
                    yield path.name, node.module, alias.name


def test_perfbench_imports_resolve():
    found = list(_perfbench_imports())
    assert found, "perfbench imports nothing from gostatix_spark"
    missing = []
    for fname, module, attr in found:
        mod = importlib.import_module(module)
        if not hasattr(mod, attr):
            try:  # a submodule imported by name
                importlib.import_module(f"{module}.{attr}")
            except ImportError:
                missing.append(f"{fname}: from {module} import {attr}")
    assert not missing, missing

"""Public-API guard: every ``__all__`` name resolves, and every name the
benchmark harnesses (``perfbench/``, ``bench.py``, ``bench_extra.py``)
import from the library exists, so a refactor cannot silently break
either."""

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
BENCH_FILES = [*sorted((REPO / "perfbench").glob("*.py")),
               REPO / "bench.py", REPO / "bench_extra.py"]


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
    for path in BENCH_FILES:
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.ImportFrom) and node.module and \
                    node.module.split(".")[0] == "gostatix_spark":
                for alias in node.names:
                    yield path.name, node.module, alias.name


def _imported(module: str, attr: str):
    """``from module import attr``: the attribute, or the submodule."""
    mod = importlib.import_module(module)
    if hasattr(mod, attr):
        return getattr(mod, attr)
    return importlib.import_module(f"{module}.{attr}")


def test_perfbench_imports_resolve():
    found = list(_perfbench_imports())
    assert found, "perfbench imports nothing from gostatix_spark"
    missing = []
    for fname, module, attr in found:
        try:
            _imported(module, attr)
        except ImportError:
            missing.append(f"{fname}: from {module} import {attr}")
    assert not missing, missing


def _chain(node: ast.Attribute) -> list[str] | None:
    """``['a', 'b', 'c']`` for the expression ``a.b.c``; None when the
    chain does not start at a plain name."""
    names = []
    while isinstance(node, ast.Attribute):
        names.append(node.attr)
        node = node.value
    return [node.id, *reversed(names)] if isinstance(node, ast.Name) \
        else None


def test_perfbench_attribute_chains_resolve():
    """Every attribute chain the benchmark harnesses read off a name they
    imported from the library (``tdigest.from_bytes``, ``kll.KLL.from_bytes``,
    ``hll.count`` …) exists, so moving one fails here rather than in a
    benchmark run."""
    bound = {}  # the names each file imports from gostatix_spark
    for fname, module, attr in _perfbench_imports():
        bound.setdefault(fname, {})[attr] = (module, attr)
    missing, checked = [], 0
    for path in BENCH_FILES:
        names = bound.get(path.name, {})
        for node in ast.walk(ast.parse(path.read_text())):
            chain = isinstance(node, ast.Attribute) and _chain(node)
            if not chain or chain[0] not in names:
                continue
            obj = _imported(*names[chain[0]])
            for i, attr in enumerate(chain[1:], 1):
                if not hasattr(obj, attr):
                    missing.append(f"{path.name}: {'.'.join(chain[:i + 1])}")
                    break
                obj = getattr(obj, attr)
            checked += 1
    assert checked, "perfbench reads no attribute of a library name"
    assert not missing, sorted(set(missing))

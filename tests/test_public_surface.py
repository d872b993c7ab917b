"""Public-surface guard: every package module's ``__all__`` is exact and
every exported name has a caller.

For each module under ``real_estate_bigdata_spark/`` that defines
``__all__``:

1. every listed name resolves on the imported module;
2. every public (non-underscore) top-level function or class the module
   defines is listed;
3. every listed name is referenced — as an AST ``Name``, an
   ``Attribute`` or an import alias — somewhere outside its own
   definition, in ``__spark_entry__.py``, the package, ``perfbench/``,
   ``bench*.py`` or ``tests/``.

The reference scan is by bare name, so a caller of a same-named function
elsewhere also counts; it can only miss dead code, never flag live code.
"""

from __future__ import annotations

import ast
import importlib
from functools import lru_cache
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
PACKAGE = REPO / "real_estate_bigdata_spark"


def _package_modules() -> list[Path]:
    return sorted(PACKAGE.rglob("*.py"))


def _scanned_files() -> list[Path]:
    files = [REPO / "__spark_entry__.py", *sorted(REPO.glob("bench*.py"))]
    for d in (PACKAGE, REPO / "perfbench", REPO / "tests"):
        files += sorted(d.rglob("*.py"))
    return [f for f in files if f.is_file()]


@lru_cache(maxsize=None)
def _tree(path: Path) -> ast.Module:
    return ast.parse(path.read_text(), filename=str(path))


def _module_name(path: Path) -> str:
    rel = path.relative_to(REPO).with_suffix("")
    parts = rel.parts[:-1] if rel.name == "__init__" else rel.parts
    return ".".join(parts)


def _declared_all(tree: ast.Module) -> list[str] | None:
    for node in tree.body:
        if isinstance(node, ast.Assign) and any(
            isinstance(t, ast.Name) and t.id == "__all__" for t in node.targets
        ):
            return list(ast.literal_eval(node.value))
    return None


def _modules_with_all() -> list[tuple[str, Path, list[str]]]:
    out = []
    for path in _package_modules():
        names = _declared_all(_tree(path))
        if names is not None:
            out.append((_module_name(path), path, names))
    return out


MODULES = _modules_with_all()
IDS = [m for m, _, _ in MODULES]


def _referenced_names(tree: ast.AST, skip: ast.AST | None = None) -> set[str]:
    """Names used anywhere in ``tree``, excluding the subtree ``skip``."""
    seen: set[str] = set()
    stack = [tree]
    while stack:
        node = stack.pop()
        if node is skip:
            continue
        if isinstance(node, ast.Name):
            seen.add(node.id)
        elif isinstance(node, ast.Attribute):
            seen.add(node.attr)
        elif isinstance(node, ast.alias):
            seen.add(node.name.rsplit(".", 1)[-1])
            if node.asname:
                seen.add(node.asname)
        stack.extend(ast.iter_child_nodes(node))
    return seen


@lru_cache(maxsize=None)
def _references_elsewhere() -> dict[Path, set[str]]:
    return {p: _referenced_names(_tree(p)) for p in _scanned_files()}


def _top_level_defs(tree: ast.Module) -> dict[str, ast.AST]:
    return {
        node.name: node
        for node in tree.body
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
    }


def test_every_package_module_is_scanned():
    assert MODULES, "no module with __all__ found"
    scanned = set(_scanned_files())
    assert all(p in scanned for _, p, _ in MODULES)


@pytest.mark.parametrize("module,path,names", MODULES, ids=IDS)
def test_all_entries_resolve(module, path, names):
    mod = importlib.import_module(module)
    missing = [n for n in names if not hasattr(mod, n)]
    assert not missing, f"{module}.__all__ lists undefined names: {missing}"
    dupes = sorted({n for n in names if names.count(n) > 1})
    assert not dupes, f"{module}.__all__ lists names twice: {dupes}"


@pytest.mark.parametrize("module,path,names", MODULES, ids=IDS)
def test_public_definitions_are_exported(module, path, names):
    public = [n for n in _top_level_defs(_tree(path)) if not n.startswith("_")]
    unlisted = [n for n in public if n not in names]
    assert not unlisted, f"{module} defines public names missing from __all__: {unlisted}"


@pytest.mark.parametrize("module,path,names", MODULES, ids=IDS)
def test_exported_names_have_a_caller(module, path, names):
    defs = _top_level_defs(_tree(path))
    refs = _references_elsewhere()
    own = {n: _referenced_names(_tree(path), skip=defs.get(n)) for n in names}
    unused = [
        n
        for n in names
        if n not in own[n]
        and not any(n in seen for p, seen in refs.items() if p != path)
    ]
    assert not unused, f"{module} exports names nothing references: {unused}"

"""The package holds only code something reaches; no SparkSession.

A top-level function, class or non-dunder assignment of
``ballista_extensions_spark`` must be in the static closure
(``registry.reach``'s walk: module globals, ``module.attr`` chains,
imports) of at least one root:

- a registered query;
- a name in a package ``__init__``'s ``__all__``;
- a module-level call statement (run at import time);
- a package name imported by ``tools/``, ``examples/``, ``bench.py``,
  ``__spark_entry__.py`` or ``perfbench/``.

A definition this test flags is exported, moved into the test that
uses it, or deleted. The second test keeps those entry files from
importing a package name that no longer exists.
"""

from __future__ import annotations

import ast
import glob
import importlib.util
import os

from ballista_extensions_spark.queries import QUERIES, registry

PKG = registry._PKG
ROOT = registry.REPO_ROOT
ENTRY_FILES = sorted(
    glob.glob(os.path.join(ROOT, "tools", "*.py"))
    + glob.glob(os.path.join(ROOT, "examples", "*.py"))
    + glob.glob(os.path.join(ROOT, "perfbench", "**", "*.py"), recursive=True)
    + [os.path.join(ROOT, "bench.py"), os.path.join(ROOT, "__spark_entry__.py")]
)


def _modules() -> list[str]:
    out = []
    for path in glob.glob(os.path.join(ROOT, PKG, "**", "*.py"), recursive=True):
        mod = os.path.relpath(path, ROOT)[: -len(".py")].replace(os.sep, ".")
        out.append(mod.removesuffix(".__init__"))
    return sorted(out)


def _chains(node: ast.AST):
    """(root name, attribute chain) of every name expression under
    ``node``, as ``registry._definition`` walks them."""
    for sub in ast.walk(node):
        chain = []
        while isinstance(sub, ast.Attribute):
            chain.insert(0, sub.attr)
            sub = sub.value
        if isinstance(sub, ast.Name):
            yield sub.id, chain


def _resolve(target, chain: list[str], missing: list) -> object:
    """Follow ``chain`` from a module target; a package module lacking
    the attribute is recorded in ``missing``."""
    for attr in chain:
        if not isinstance(target, str):
            break
        found = registry._target((target, attr))
        if found is None and target.split(".")[0] == PKG and not attr.startswith("__"):
            missing.append(f"{target}.{attr}")
        target = found
    return target


def _entry_refs(path: str) -> tuple[list, list[str]]:
    """Package targets an entry file imports or reaches through an
    imported module, and the package names it imports that do not
    resolve."""
    tree = ast.parse(open(path).read())
    imported: dict[str, tuple[str, str | None]] = {}
    refs: list = []
    missing: list[str] = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                if a.name.split(".")[0] != PKG:
                    continue
                if importlib.util.find_spec(a.name) is None:
                    missing.append(a.name)
                    continue
                refs.append(a.name)
                bound = a.name if a.asname else a.name.split(".")[0]
                imported[a.asname or bound] = (bound, None)
        elif isinstance(node, ast.ImportFrom) and not node.level and node.module:
            if node.module.split(".")[0] != PKG:
                continue
            for a in node.names:
                target = registry._target((node.module, a.name))
                if target is None:
                    missing.append(f"{node.module}.{a.name}")
                refs.append(target)
                imported[a.asname or a.name] = (node.module, a.name)
    for name, chain in _chains(tree):
        if name in imported:
            refs.append(_resolve(registry._target(imported[name]), chain, missing))
    return refs, missing


def _roots() -> list:
    roots: list = []
    for fn in QUERIES.values():
        roots += registry.reach(fn)
    for mod in _modules():
        tree, is_pkg, bindings = registry._module(mod)
        if is_pkg and "__all__" in bindings:
            names = ast.literal_eval(bindings["__all__"][0].value)
            roots += [registry._target((mod, n)) for n in names]
        for stmt in tree.body:
            if isinstance(stmt, ast.Expr) and isinstance(stmt.value, ast.Call):
                roots += [
                    _resolve(registry._target((mod, name)), chain, [])
                    for name, chain in _chains(stmt)
                ]
    for path in ENTRY_FILES:
        roots += _entry_refs(path)[0]
    return roots


def _closure(roots: list) -> set[tuple[str, str]]:
    todo = [r for r in roots if isinstance(r, tuple)]
    seen: set[tuple[str, str]] = set()
    while todo:
        key = todo.pop()
        if isinstance(key, tuple) and key not in seen:
            seen.add(key)
            todo.extend(registry._definition(*key)[1])
    return seen


def _top_level_names(stmt: ast.stmt) -> list[str]:
    """The names a top-level definition or non-dunder assignment binds."""
    if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return [stmt.name]
    if isinstance(stmt, (ast.Assign, ast.AnnAssign)):
        targets = stmt.targets if isinstance(stmt, ast.Assign) else [stmt.target]
        return [
            n.id
            for t in targets
            for n in ast.walk(t)
            if isinstance(n, ast.Name) and not n.id.startswith("__")
        ]
    return []


def test_every_package_definition_is_reached():
    reached = _closure(_roots())
    unreached = [
        f"{mod}.{name}"
        for mod in _modules()
        for stmt in registry._module(mod)[0].body
        for name in _top_level_names(stmt)
        if (mod, name) not in reached
    ]
    assert unreached == [], (
        f"{len(unreached)} definitions no query, export, import-time call, "
        f"tool or example reaches: export, move into a test or delete "
        f"{unreached}"
    )


def test_entry_files_import_existing_definitions():
    missing = {
        os.path.relpath(path, ROOT): names
        for path in ENTRY_FILES
        if (names := _entry_refs(path)[1])
    }
    assert missing == {}, missing

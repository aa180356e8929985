"""Registration mechanism for queries + oracles.

This is our Tier-D "extension mechanism" (SURVEY.md §2): where the
reference registers custom nodes with codecs and an extension planner
(src/codec/extension.rs:39-198, src/planner/extension_planner.rs:31-52),
we register named plan-constructor functions; Spark handles planning,
serialization and execution.

``get_queries()`` lists the registry in grading order, derived from
committed artifacts and code fingerprints (``grading_order``).
"""

from __future__ import annotations

import ast
import functools
import glob
import hashlib
import importlib.util
import json
import os
import re
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}

_PKG = __name__.split(".")[0]
REPO_ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
#: name -> code fingerprint at its last green grade, under a root dir
RECORDED = os.path.join("tools", "graded_fingerprints.json")


def query_tier(name: str) -> str:
    """Bench cost tier of a registered query (VERDICT r12 directive
    #6): ``fixed_evidence`` for the contract audits registered through
    ``audits.register_audit`` and the queries of
    ``queries/streaming_replay.py``, ``per_row`` for the rest. The
    replays re-run micro-batches with a store rebuild each (restart
    survivability IS the cost) and the audits recompute multi-branch
    evidence, so their wall time barely moves with row count; bench.py
    reports per-tier subtotals so per-row regressions stay visible."""
    from ballista_extensions_spark.queries.audits import AUDITS

    replay = QUERIES[name].__module__ == f"{_PKG}.queries.streaming_replay"
    fixed = name in AUDITS or replay
    return "fixed_evidence" if fixed else "per_row"


def register(name: str, oracle: str | None = None):
    """Decorator: register ``fn(spark, sf_dir) -> DataFrame`` under
    ``name`` with an optional DuckDB oracle SQL string. Ops without an
    oracle get the driver's weaker rows-only check (randomized ops like
    sample, or ops whose hash functions aren't ANSI-expressible)."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name {name!r}")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def grade(row: dict) -> str | None:
    """``"hash"`` for a CORRECTNESS row matched against its oracle,
    ``"rows"`` for the rows-only check of a query without one, else None."""
    if row.get("err") is None and all(
        row.get(k) is True for k in ("hash_match", "rows_match", "schema_match")
    ):
        return "hash"
    if row.get("err") == "no_oracle" and row.get("spark_rows") is not None:
        return "rows"
    return None


def latest_greens(root: str) -> dict[str, tuple[int, bool]]:
    """name -> (round, rows_only) of its latest green row in the
    ``CORRECTNESS_r<round>.json`` files under ``root``."""
    paths = glob.glob(os.path.join(root, "CORRECTNESS_r[0-9]*.json"))
    out: dict[str, tuple[int, bool]] = {}
    for rnd, path in sorted((int(re.sub(r"\D", "", os.path.basename(p))), p) for p in paths):
        with open(path) as f:
            for name, row in json.load(f).items():
                if grade(row):
                    out[name] = (rnd, grade(row) == "rows")
    return out


def load_recorded(root: str = REPO_ROOT) -> dict[str, str]:
    try:
        with open(os.path.join(root, RECORDED)) as f:
            return json.load(f)
    except FileNotFoundError:
        return {}


def grading_order(root: str = REPO_ROOT) -> list[str]:
    """Registered names sorted by (attested, latest green round,
    rows-only, registration index). Attested means the recorded
    fingerprint equals the current one, so never-graded, changed and
    unrecorded names come first, and each group rotates oldest evidence
    first. Registration order when ``root`` holds no artifacts."""
    greens = latest_greens(root)
    if not greens:
        return list(QUERIES)
    recorded = load_recorded(root)
    index = {n: i for i, n in enumerate(QUERIES)}

    def key(name: str) -> tuple:
        attested = name in recorded and recorded[name] == code_fingerprint(name)
        return (attested, *greens.get(name, (0, False)), index[name])

    return sorted(QUERIES, key=key)


def get_queries() -> dict[str, QueryFn]:
    return {n: QUERIES[n] for n in grading_order()}


def get_oracles() -> dict[str, str]:
    return {n: ORACLES[n] for n in grading_order() if n in ORACLES}


@functools.cache
def code_fingerprint(name: str) -> str:
    """Hash of the normalized AST (``ast.dump`` without docstrings, so
    comments, docstrings and layout do not count) of every package
    definition the query reaches, of its oracle text and of
    ``session.py``."""
    parts = [f"{key}\n{_definition(*key)[0]}" for key in sorted(reach(QUERIES[name]))]
    parts += [str(ORACLES.get(name)), ast.dump(_module(f"{_PKG}.session")[0])]
    return hashlib.sha256("\n".join(parts).encode()).hexdigest()[:16]


def reach(fn: QueryFn) -> set[tuple[str, str]]:
    """(module, name) of each top-level package function, class or
    constant ``fn`` reaches through module globals, ``module.attr``
    chains and imports, function-local ones included."""
    todo = [_target((fn.__module__, fn.__qualname__.split(".")[0]))]
    seen: set[tuple[str, str]] = set()
    while todo:
        key = todo.pop()
        if isinstance(key, tuple) and key not in seen:
            seen.add(key)
            todo.extend(_definition(*key)[1])
    return seen


@functools.cache
def _module(mod: str) -> tuple[ast.Module, bool, dict[str, list[ast.stmt]]]:
    """A package module's AST with every module, class and function
    docstring dropped, whether it is a package, and its top-level
    statements by the names they bind. Finding the spec imports the
    parent packages, as an import statement would."""
    spec = importlib.util.find_spec(mod)
    with open(spec.origin) as f:
        tree = ast.parse(f.read())
    for node in ast.walk(tree):
        if (isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef))
                and ast.get_docstring(node, clean=False) is not None):
            del node.body[0]
    bindings: dict[str, list[ast.stmt]] = {}
    for stmt in tree.body:
        if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            names = [stmt.name]
        elif isinstance(stmt, (ast.Import, ast.ImportFrom)):
            names = [a.asname or a.name.split(".")[0] for a in stmt.names]
        else:
            names = [n.id for n in ast.walk(stmt) if isinstance(n, ast.Name)
                     and isinstance(n.ctx, ast.Store)]
        for name in names:
            bindings.setdefault(name, []).append(stmt)
    return tree, spec.submodule_search_locations is not None, bindings


def _imports(stmt: ast.Import | ast.ImportFrom, mod: str) -> dict[str, tuple]:
    """Names an import in module ``mod`` binds -> (module, attribute);
    attribute None binds the module itself."""
    if isinstance(stmt, ast.Import):
        return {a.asname or a.name.split(".")[0]:
                (a.name if a.asname else a.name.split(".")[0], None) for a in stmt.names}
    package = mod if _module(mod)[1] else mod.rpartition(".")[0]
    base = importlib.util.resolve_name("." * stmt.level + (stmt.module or ""), package)
    return {a.asname or a.name: (base, a.name) for a in stmt.names}


def _target(ref: tuple):
    """What ``module.attribute`` names: a module (str), a package
    definition (the tuple), or None outside the package."""
    mod, name = ref
    if name is None or mod.split(".")[0] != _PKG:
        return mod if name is None else None
    if _module(mod)[1] and importlib.util.find_spec(f"{mod}.{name}"):
        return f"{mod}.{name}"
    stmts = _module(mod)[2].get(name, [])
    for stmt in stmts:
        if isinstance(stmt, (ast.Import, ast.ImportFrom)):
            return _target(_imports(stmt, mod)[name])
    return ref if stmts else None


@functools.cache
def _definition(mod: str, name: str) -> tuple[str, list]:
    """A definition's normalized AST and the targets it references;
    names bound by imports inside it resolve first."""
    body = ast.Module(body=_module(mod)[2][name], type_ignores=[])
    local: dict[str, tuple] = {}
    for node in ast.walk(body):
        if isinstance(node, (ast.Import, ast.ImportFrom)):
            local.update(_imports(node, mod))
    refs = [_target(ref) for ref in local.values()]
    for node in ast.walk(body):
        chain = []
        while isinstance(node, ast.Attribute):
            chain.insert(0, node.attr)
            node = node.value
        if isinstance(node, ast.Name):
            target = _target(local.get(node.id, (mod, node.id)))
            for attr in chain:
                target = _target((target, attr)) if isinstance(target, str) else target
            refs.append(target)
    return ast.dump(body), refs

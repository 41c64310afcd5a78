"""Every process-level memo under secdb_spark/ is listed here, with what it
is keyed on and what invalidates it.  A memo holds state across calls, so
any harness that warms up and then times a call measures the memo's hit,
not the op's work; the list keeps that state visible.  The AST scan
fails on an unlisted memo — a module-level empty container that a
function stores into, an `lru_cache` / `functools.cache`, or an
attribute that a module-level function stores on an object it receives
(`spark._mark = key`) — and on a listed entry that no longer exists."""

from __future__ import annotations

import ast
from pathlib import Path

PKG = Path(__file__).resolve().parents[1] / "secdb_spark"

#: (path under secdb_spark/, name) -> (key, invalidation rule)
MEMOS = {
    ("session.py", "_MEMO"): (
        "a caller's key: (\"cosupply\", abspath(sf_dir), SECDB_SPARK_NO_PIN), "
        "(\"vocab\", abspath(sf_dir), MASK_MAX_VOCAB), (\"xbrl_facts\",), "
        "(\"views\", the SparkSession's sessionUUID)",
        "hits only under the same applicationId and the same (path, "
        "st_mtime_ns, st_size) of every input file; a miss replaces the "
        "key's entry; at most _MEMO_MAX entries, the oldest evicted and "
        "unpersisted",
    ),
    ("session.py", "_secdb_app_id"): (
        "one per SparkContext, on the context: its applicationId",
        "none needed: the id is fixed for the context's life, and a new "
        "context is a new object, which reads its own id",
    ),
    ("catalog.py", "_FOOTERS"): (
        "the table's path, sf_dir/name.parquet",
        "hits only under the same file listing and the same (path, "
        "st_mtime_ns, st_size) of every file it read; a miss re-reads the "
        "footers and replaces the entry; one entry per table path",
    ),
    ("pydaemon.py", "_secdb_stamp"): (
        "one per zipimporter, on the importer: the (st_mtime_ns, st_size) "
        "of its archive",
        "the archive's index is re-read when its stamp differs from the "
        "stored one or the archive cannot be stat'ed",
    ),
}

#: module-level containers filled at import time by `@register`: the op
#: tables themselves, not memos of computed results
REGISTRIES = {
    ("registry.py", "_QUERIES"),
    ("registry.py", "_ORACLES"),
}

_EMPTY_CALLS = {"dict", "list", "set", "OrderedDict", "defaultdict"}
_MUTATORS = {"append", "add", "update", "setdefault", "extend", "insert"}
_CACHE_DECORATORS = {"lru_cache", "cache"}


def _is_empty_container(node) -> bool:
    if isinstance(node, (ast.Dict, ast.List, ast.Set)):
        return not getattr(node, "keys", None) and not getattr(node, "elts", None)
    if isinstance(node, ast.Call) and not node.keywords:
        f = node.func
        name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
        return name in _EMPTY_CALLS and (
            not node.args or name == "defaultdict"
        )
    return False


def _module_containers(tree) -> set[str]:
    names = set()
    for stmt in tree.body:
        if isinstance(stmt, ast.Assign) and _is_empty_container(stmt.value):
            names |= {t.id for t in stmt.targets if isinstance(t, ast.Name)}
        elif (isinstance(stmt, ast.AnnAssign) and stmt.value is not None
              and isinstance(stmt.target, ast.Name)
              and _is_empty_container(stmt.value)):
            names.add(stmt.target.id)
    return names


def _stored_into(func) -> set[str]:
    """Names a function stores into by subscript or a mutating method."""
    names = set()
    for node in ast.walk(func):
        if (isinstance(node, ast.Subscript) and isinstance(node.ctx, ast.Store)
                and isinstance(node.value, ast.Name)):
            names.add(node.value.id)
        elif (isinstance(node, ast.Call)
              and isinstance(node.func, ast.Attribute)
              and node.func.attr in _MUTATORS
              and isinstance(node.func.value, ast.Name)):
            names.add(node.func.value.id)
    return names


def _attrs_stored_on_params(func) -> set[str]:
    """Attributes a function stores on one of its own parameters."""
    a = func.args
    params = {p.arg for p in a.posonlyargs + a.args + a.kwonlyargs}
    names = set()
    for node in ast.walk(func):
        if (isinstance(node, ast.Attribute) and isinstance(node.ctx, ast.Store)
                and isinstance(node.value, ast.Name)
                and node.value.id in params):
            names.add(node.attr)
        elif (isinstance(node, ast.Call) and isinstance(node.func, ast.Name)
              and node.func.id == "setattr" and len(node.args) > 1
              and isinstance(node.args[0], ast.Name)
              and node.args[0].id in params
              and isinstance(node.args[1], ast.Constant)):
            names.add(node.args[1].value)
    return names


def _is_cache_decorator(dec) -> bool:
    target = dec.func if isinstance(dec, ast.Call) else dec
    name = target.id if isinstance(target, ast.Name) else getattr(target, "attr", None)
    return name in _CACHE_DECORATORS


def _scan() -> set[tuple[str, str]]:
    found = set()
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        tree = ast.parse(path.read_text())
        containers = _module_containers(tree)
        # a method's stores on `self` are the object's own state
        methods = {id(f) for c in ast.walk(tree) if isinstance(c, ast.ClassDef)
                   for f in c.body}
        for node in ast.walk(tree):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                found |= {(rel, n) for n in _stored_into(node) & containers}
                if any(_is_cache_decorator(d) for d in node.decorator_list):
                    found.add((rel, node.name))
                if id(node) not in methods:
                    found |= {(rel, n) for n in _attrs_stored_on_params(node)}
    return found


def test_every_memo_is_listed():
    unlisted = sorted(_scan() - set(MEMOS) - REGISTRIES)
    assert not unlisted, (
        "process-level memos missing from MEMOS (give each its key and "
        f"invalidation rule, or stage per call instead): {unlisted}"
    )


def test_no_listed_memo_is_stale():
    stale = sorted((set(MEMOS) | REGISTRIES) - _scan())
    assert not stale, f"listed memos that no longer exist: {stale}"

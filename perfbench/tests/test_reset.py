"""The benchmark's reset covers every module-level memo in the package.

The scanner counts as process state that outlives a call:

- a module-level name that a function mutates (a subscript store or
  delete, a mutator method, or an attribute store, on the name or on
  anything reached through it), or rebinds under ``global``;
- a function wrapped in ``functools.cache``/``lru_cache``;
- an attribute store, or a ``setattr``, on any object but ``self``: a class
  attribute set through ``cls``, or a flag kept on a session or context.
  The scanner cannot tell an object made by the call from one that
  outlives it, so such a hit is named ``function:target`` and classified
  by hand.

Each hit must be classified in ``perfbench.reset``: in ``MEMOS`` as
*result* (cleared before every op) or *fixture* (may persist), or in
``NOT_MEMOS`` with the reason it holds no op's result.
"""

from __future__ import annotations

import ast
import os

import pytest

from perfbench.reset import FIXTURE, MEMOS, NOT_MEMOS, RESULT, reset_process_state

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
PACKAGE = "iot_data_pipeline_spark"

_MUTATORS = {
    "append",
    "extend",
    "insert",
    "add",
    "update",
    "setdefault",
    "pop",
    "popitem",
    "clear",
    "remove",
    "discard",
    "appendleft",
}
_CACHE_DECORATORS = {"cache", "lru_cache", "cached_property"}
_FUNCTIONS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)


def _call_name(node: ast.AST) -> str | None:
    if isinstance(node, ast.Call):
        node = node.func
    if isinstance(node, ast.Attribute):
        return node.attr
    if isinstance(node, ast.Name):
        return node.id
    return None


def _root(node: ast.AST) -> str | None:
    """The name an attribute/subscript chain starts from: ``a`` in
    ``a.b[k].c``."""
    while isinstance(node, (ast.Attribute, ast.Subscript)):
        node = node.value
    return node.id if isinstance(node, ast.Name) else None


def _module_names(tree: ast.Module) -> set[str]:
    """Names the module binds by assignment or ``class``, not by import."""
    names: set[str] = set()
    for stmt in tree.body:
        if isinstance(stmt, ast.ClassDef):
            names.add(stmt.name)
        elif isinstance(stmt, (ast.Assign, ast.AnnAssign, ast.AugAssign)):
            targets = stmt.targets if isinstance(stmt, ast.Assign) else [stmt.target]
            for t in targets:
                names |= {n.id for n in ast.walk(t) if isinstance(n, ast.Name)}
    return names


class _Scanner(ast.NodeVisitor):
    """Walks every function body, naming each hit by the innermost function
    it sits in. Module-level statements are skipped: registries filled at
    import time (``QUERIES.update(...)``) are not memos."""

    def __init__(self, module_names: set[str]):
        self.module_names = module_names
        self.fn: list[str] = []
        self.hits: set[str] = set()

    def _function(self, node) -> None:
        name = getattr(node, "name", "<lambda>")
        if not isinstance(node, ast.Lambda) and any(
            _call_name(d) in _CACHE_DECORATORS for d in node.decorator_list
        ):
            self.hits.add(name)
        self.fn.append(name)
        self.generic_visit(node)
        self.fn.pop()

    visit_FunctionDef = visit_AsyncFunctionDef = visit_Lambda = _function

    def _object_state(self, holder: ast.AST, label: str) -> None:
        root = _root(holder)
        if root in self.module_names:
            self.hits.add(root)
        elif root != "self":
            self.hits.add(f"{self.fn[-1]}:{label}")

    def visit_Global(self, node: ast.Global) -> None:
        if self.fn:
            self.hits |= set(node.names)

    def visit_Subscript(self, node: ast.Subscript) -> None:
        if self.fn and isinstance(node.ctx, (ast.Store, ast.Del)):
            if _root(node) in self.module_names:
                self.hits.add(_root(node))
        self.generic_visit(node)

    def visit_Attribute(self, node: ast.Attribute) -> None:
        if self.fn and isinstance(node.ctx, (ast.Store, ast.Del)):
            self._object_state(node, ast.unparse(node))
        self.generic_visit(node)

    def visit_Call(self, node: ast.Call) -> None:
        if self.fn:
            f = node.func
            if isinstance(f, ast.Attribute) and f.attr in _MUTATORS:
                if _root(f.value) in self.module_names:
                    self.hits.add(_root(f.value))
            elif isinstance(f, ast.Name) and f.id in ("setattr", "delattr") and node.args:
                target = node.args[0]
                self._object_state(target, f"{f.id}({ast.unparse(target)})")
        self.generic_visit(node)


def memos_in_source(source: str) -> set[str]:
    """Names of the process state one module's source keeps (see the module
    docstring)."""
    tree = ast.parse(source)
    scanner = _Scanner(_module_names(tree))
    for stmt in tree.body:
        if isinstance(stmt, (*_FUNCTIONS, ast.ClassDef)):
            scanner.visit(stmt)
    return scanner.hits


def package_memos() -> set[tuple[str, str]]:
    found = set()
    for dirpath, _dirs, files in os.walk(os.path.join(ROOT, PACKAGE)):
        for fname in files:
            if not fname.endswith(".py"):
                continue
            path = os.path.join(dirpath, fname)
            module = os.path.relpath(path, ROOT)[: -len(".py")].replace(os.sep, ".")
            module = module.removesuffix(".__init__")
            with open(path, encoding="utf-8") as fh:
                found |= {(module, name) for name in memos_in_source(fh.read())}
    return found


def test_scanner_tells_memos_from_constants():
    src = (
        "import functools\n"
        "_MEMO: dict = {}\n"
        "_SEEN = []\n"
        "_TABLE = {'a': 1}\n"
        "_REGISTRY = {}\n"
        "_REGISTRY['q'] = 1\n"
        "def f(k):\n"
        "    _MEMO[k] = 1\n"
        "    _SEEN.append(k)\n"
        "    return _TABLE[k]\n"
        "@functools.lru_cache(maxsize=None)\n"
        "def g(k):\n"
        "    return k\n"
    )
    assert memos_in_source(src) == {"_MEMO", "_SEEN", "g"}


def test_scanner_finds_rebound_globals_and_object_state():
    src = (
        "_LAST = None\n"
        "_HITS = 0\n"
        "_CFG = make_config()\n"
        "class Holder:\n"
        "    last = None\n"
        "    def __init__(self):\n"
        "        self.items = {}\n"
        "    def put(self, k, v):\n"
        "        self.items[k] = v\n"
        "    @classmethod\n"
        "    def keep(cls, v):\n"
        "        cls.last = v\n"
        "def h(df, sc):\n"
        "    global _LAST\n"
        "    _LAST = df\n"
        "    _CFG.seen[df] = 1\n"
        "    setattr(sc, 'done', True)\n"
        "    sc._memo = df\n"
        "    Holder.last = df\n"
        "    return _HITS\n"
    )
    assert memos_in_source(src) == {
        "_LAST",
        "_CFG",
        "Holder",
        "keep:cls.last",
        "h:setattr(sc)",
        "h:sc._memo",
    }


def test_every_package_memo_is_classified():
    unclassified = package_memos() - set(MEMOS) - set(NOT_MEMOS)
    assert not unclassified, (
        f"process state {sorted(unclassified)} is not classified in"
        " perfbench/reset.py: MEMOS (result or fixture) or NOT_MEMOS"
    )


def test_no_stale_classification():
    assert set(MEMOS) <= package_memos()
    assert set(NOT_MEMOS) <= package_memos()
    assert not set(MEMOS) & set(NOT_MEMOS)
    assert set(MEMOS.values()) <= {RESULT, FIXTURE}


def test_reset_clears_result_memos_and_keeps_fixtures():
    pytest.importorskip("pyspark")
    import importlib

    plain = {k: v for k, v in MEMOS.items() if k[1] != "_TRACKED"}
    for module, name in plain:
        getattr(importlib.import_module(module), name)[("probe",)] = "x"
    try:
        reset_process_state()
        for (module, name), kind in plain.items():
            memo = getattr(importlib.import_module(module), name)
            assert (("probe",) in memo) == (kind == FIXTURE), name
    finally:
        for module, name in plain:
            getattr(importlib.import_module(module), name).pop(("probe",), None)

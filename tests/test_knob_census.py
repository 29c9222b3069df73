"""Knob census: every optional parameter in the package is set by some
caller.

An optional parameter that no caller ever sets is a configuration that
no test or oracle has run.  This test parses source only (no Spark), so
it runs in the fast tier.

* Definitions: module-level functions and class methods in
  ``grpc_map_reduce_spark/``, except the ``q_*`` registry entry points.
  Nested closures are left out: their defaults bind loop values.
* Callers: every call in the package, ``tools/``, ``tests/``,
  ``perfbench/``, ``bench.py`` and ``__spark_entry__.py``, matched by
  the called name (``f(...)`` or ``obj.f(...)``; ``Cls(...)`` calls
  ``Cls.__init__``).  A name shared by two definitions counts for both.
* A call sets a parameter when it passes it by position or keyword, or
  when it passes ``*args`` / ``**kwargs``.
* Pass-through: a call that passes the calling function's own parameter
  of the same name sets it only if that parameter is set somewhere, is
  required, or has a different default.  Resolved to a fixed point.
  The calling function is the innermost one, so a closure passing a
  parameter it captured from its enclosing function sets it.
"""

from __future__ import annotations

import ast
from collections import defaultdict
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "grpc_map_reduce_spark"
CALLER_SOURCES = [PACKAGE, ROOT / "tools", ROOT / "tests", ROOT / "perfbench",
                  ROOT / "bench.py", ROOT / "__spark_entry__.py"]
_FUNCS = (ast.FunctionDef, ast.AsyncFunctionDef)


class _Def:
    """One definition: its positional parameter names (after ``self``)
    and its optional parameters with their unparsed defaults."""

    def __init__(self, key: str, node: ast.FunctionDef, method: bool):
        a = node.args
        pos = a.posonlyargs + a.args
        static = any(isinstance(d, ast.Name) and d.id == "staticmethod"
                     for d in node.decorator_list)
        self.key = key
        self.positional = [p.arg for p in pos][1 if method and not static else 0:]
        self.optional = {p.arg: ast.unparse(d)
                         for p, d in zip(pos[len(pos) - len(a.defaults):], a.defaults)}
        self.optional.update((p.arg, ast.unparse(d))
                             for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None)


def _trees():
    for src in CALLER_SOURCES:
        for f in [src] if src.is_file() else sorted(src.rglob("*.py")):
            yield f, ast.parse(f.read_text())


def _definitions(trees) -> tuple[dict[str, list[_Def]], dict[ast.AST, _Def]]:
    """Called name -> definitions it may reach, and node -> definition."""
    by_name: dict[str, list[_Def]] = defaultdict(list)
    by_node: dict[ast.AST, _Def] = {}
    for f, tree in trees:
        if PACKAGE not in f.parents:
            continue
        mod = ".".join(f.relative_to(PACKAGE).with_suffix("").parts)
        for node in tree.body:
            if isinstance(node, _FUNCS) and not node.name.startswith("q_"):
                d = by_node[node] = _Def(f"{mod}:{node.name}", node, False)
                by_name[node.name].append(d)
            elif isinstance(node, ast.ClassDef):
                for m in node.body:
                    if isinstance(m, _FUNCS):
                        d = by_node[m] = _Def(f"{mod}:{node.name}.{m.name}", m, True)
                        by_name[node.name if m.name == "__init__" else m.name].append(d)
    return by_name, by_node


def _name(expr: ast.AST) -> str | None:
    """``f`` for ``f`` and ``obj.f``."""
    return expr.id if isinstance(expr, ast.Name) else getattr(expr, "attr", None)


def _calls(trees):
    """Yield ``(call, caller)`` for every call; ``caller`` is the
    innermost enclosing function node, or None at module level."""

    def walk(node, caller):
        if isinstance(node, (*_FUNCS, ast.Lambda)):
            caller = node
        if isinstance(node, ast.Call):
            yield node, caller
        for child in ast.iter_child_nodes(node):
            yield from walk(child, caller)

    for _, tree in trees:
        yield from walk(tree, None)


def unset_knobs() -> list[str]:
    trees = list(_trees())
    by_name, by_node = _definitions(trees)
    is_set: set[tuple[str, str]] = set()
    # (callee, param) is set once (caller, param) is.
    deferred: list[tuple[tuple[str, str], tuple[str, str]]] = []
    for call, caller in _calls(trees):
        splat = (any(isinstance(a, ast.Starred) for a in call.args)
                 or any(k.arg is None for k in call.keywords))
        a = caller.args if caller is not None else None
        own = {p.arg for p in a.posonlyargs + a.args + a.kwonlyargs} if a else set()
        src = by_node.get(caller)
        for d in by_name.get(_name(call.func), []):
            passed = (d.optional.items() if splat else
                      [*zip(d.positional, call.args), *((k.arg, k.value) for k in call.keywords)])
            for param, value in passed:
                if param not in d.optional:
                    continue
                if (isinstance(value, ast.Name) and value.id == param and param in own
                        and src is not None and src.optional.get(param) == d.optional[param]):
                    deferred.append(((d.key, param), (src.key, param)))
                else:
                    is_set.add((d.key, param))
    changed = True
    while changed:
        changed = False
        for callee, caller_param in deferred:
            if caller_param in is_set and callee not in is_set:
                is_set.add(callee)
                changed = True
    return sorted(f"{d.key}:{p}" for d in by_node.values() for p in d.optional
                  if (d.key, p) not in is_set)


def test_every_optional_parameter_is_set_by_some_caller():
    unset = unset_knobs()
    assert not unset, (
        f"{len(unset)} optional parameters no caller sets "
        "(use the default's value and drop the parameter):\n" + "\n".join(unset)
    )

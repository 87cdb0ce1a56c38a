"""Every def and every branch-selecting parameter in ``tailpipe_spark/``
has a product caller.

A top-level function, class or constant, or a method, whose name no
product file uses outside its own definition is code only tests run:
delete it with its tests, or list it in ``KEPT`` with the reason it
stays. Product files are ``tailpipe_spark/``, ``tools/``,
``perfbench/``, ``bench.py`` and ``__spark_entry__.py`` (test modules
excluded). A use is a name, an attribute, an imported name, or an
identifier inside a string that is not a docstring (``getattr``
targets, registry keys, entry points). A package ``__init__.py``'s
imports and ``__all__`` strings are not uses: a re-export calls
nothing. Dunder names are used by Python itself and are not checked.

A defaulted parameter that its own function tests (in an ``if``, a
``while``, a conditional expression or a comprehension filter) selects
a branch. When no product call outside that function sets it, by
keyword, by position or through ``**kwargs``, only tests run the other
branch: delete the parameter and its branch, or list it in ``KEPT``.
Calls are matched by the callee's name (a class's name for
``__init__``), so a same-named function's call counts for both.
"""

import ast
import os
import re
from collections import Counter, defaultdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(ROOT, "tailpipe_spark")
_IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")
_FUNCS = (ast.FunctionDef, ast.AsyncFunctionDef)

#: defs and parameters (``path:func(param)``) that stay without a
#: product caller, each with its reason
KEPT = {
    "plans/zorder.py:zorder_rewrite":
        "oracle for the row order of z-ordered compaction in its tests",
    "operators/multimodal.py:encode_y4m":
        "fixture encoder the Y4M decoder tests build their payloads with",
    "streaming/rollup.py:vacuum_manifest_rollup":
        "GC entry point: reclaims superseded rollup generations",
    "operators/multimodal.py:ASSET_SCHEMA":
        "input contract of the multimodal kernels; tests build assets with it",
    "catalog.py:Catalog.expire_snapshots":
        "GC entry point: trims the manifest's snapshot log",
    "plugins.py:PluginApi.add_format_preset": "API that plugins call",
    "plugins.py:PluginApi.add_table": "API that plugins call",
    "plugins.py:PluginApi.add_source_type": "API that plugins call",
    "workspace.py:resolve_settings(env)":
        "the environment is read from os.environ; tests pass a fake mapping",
    "session.py:build_session(master)":
        "deployment setting: the cluster a session runs on; None is a "
        "local[SPARK_GRAFT_CPUS] master",
}


def _product_files():
    out = [os.path.join(ROOT, "bench.py"), os.path.join(ROOT, "__spark_entry__.py")]
    for top in ("tailpipe_spark", "tools", "perfbench"):
        for d, dirs, names in os.walk(os.path.join(ROOT, top)):
            dirs.sort()
            out += [
                os.path.join(d, n) for n in sorted(names)
                if n.endswith(".py") and not n.startswith("test_")
            ]
    return out


def _parsed():
    """(path, tree, docstrings, skipped) of every product file; skipped
    holds the ids of a package ``__init__.py``'s re-export nodes."""
    for path in _product_files():
        with open(path) as f:
            tree = ast.parse(f.read(), path)
        skipped = set()
        if os.path.basename(path) == "__init__.py":
            for top in tree.body:
                is_all = isinstance(top, ast.Assign) and any(
                    isinstance(t, ast.Name) and t.id == "__all__" for t in top.targets
                )
                if isinstance(top, (ast.Import, ast.ImportFrom)) or is_all:
                    skipped |= {id(n) for n in ast.walk(top)}
        yield path, tree, _docstrings(tree), skipped


def _uses(node, docstrings, skipped=frozenset()) -> Counter:
    c = Counter()
    for n in ast.walk(node):
        if id(n) in skipped:
            continue
        if isinstance(n, ast.Name):
            c[n.id] += 1
        elif isinstance(n, ast.Attribute):
            c[n.attr] += 1
        elif isinstance(n, ast.alias):
            c[n.name.rsplit(".", 1)[-1]] += 1
        elif isinstance(n, ast.Constant) and isinstance(n.value, str) and id(n) not in docstrings:
            c.update(_IDENT.findall(n.value))
    return c


def _docstrings(tree) -> set:
    kinds = (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)
    return {
        id(n.body[0].value) for n in ast.walk(tree)
        if isinstance(n, kinds) and n.body and isinstance(n.body[0], ast.Expr)
        and isinstance(n.body[0].value, ast.Constant)
        and isinstance(n.body[0].value.value, str)
    }


def _defs(tree):
    """(qualname, name, node) of every top-level def, class and constant,
    and every method; a constant's node is its assignment."""
    for top in tree.body:
        if isinstance(top, (*_FUNCS, ast.ClassDef)):
            yield top.name, top.name, top
        if isinstance(top, (ast.Assign, ast.AnnAssign)):
            targets = top.targets if isinstance(top, ast.Assign) else [top.target]
            for t in targets:
                if isinstance(t, ast.Name) and not t.id.startswith("__"):
                    yield t.id, t.id, top
        if isinstance(top, ast.ClassDef):
            for m in top.body:
                if isinstance(m, _FUNCS) and not (m.name.startswith("__") and m.name.endswith("__")):
                    yield f"{top.name}.{m.name}", m.name, m


def _functions(tree):
    """(qualname, callee name, is_method, node) of every top-level
    function and method; ``__init__`` is called by its class's name."""
    for top in tree.body:
        if isinstance(top, _FUNCS):
            yield top.name, top.name, False, top
        if isinstance(top, ast.ClassDef):
            for m in top.body:
                if not isinstance(m, _FUNCS):
                    continue
                name = top.name if m.name == "__init__" else m.name
                if name.startswith("__"):
                    continue
                static = any(
                    isinstance(d, ast.Name) and d.id == "staticmethod" for d in m.decorator_list
                )
                yield f"{top.name}.{m.name}", name, not static, m


def _defaulted(fn):
    """(name, positional index or None) of each parameter with a default."""
    a = fn.args
    pos = a.posonlyargs + a.args
    for i, p in enumerate(pos[len(pos) - len(a.defaults):], len(pos) - len(a.defaults)):
        yield p.arg, i
    for p, d in zip(a.kwonlyargs, a.kw_defaults):
        if d is not None:
            yield p.arg, None


def _tested(fn) -> set:
    """Names read in the function's branch tests."""
    tests = []
    for n in ast.walk(fn):
        if isinstance(n, (ast.If, ast.While, ast.IfExp)):
            tests.append(n.test)
        elif isinstance(n, ast.comprehension):
            tests += n.ifs
    return {m.id for t in tests for m in ast.walk(t) if isinstance(m, ast.Name)}


def _callee(call):
    f = call.func
    return f.id if isinstance(f, ast.Name) else f.attr if isinstance(f, ast.Attribute) else None


def _sets(call, param, index, is_method) -> bool:
    """Whether ``call`` can set ``param`` (positional ``index`` in the
    def, self included for a method)."""
    if any(k.arg in (None, param) for k in call.keywords):
        return True
    if index is None:
        return False
    if any(isinstance(a, ast.Starred) for a in call.args):
        return True
    # obj.m(a) fills index 1 of m(self, a); Cls.m(obj, a) fills fewer, not more
    return len(call.args) > index - (1 if is_method else 0)


def test_every_def_has_a_product_caller():
    total, defs = Counter(), []
    for path, tree, docstrings, skipped in _parsed():
        total.update(_uses(tree, docstrings, skipped))
        if path.startswith(PKG + os.sep):
            rel = os.path.relpath(path, PKG)
            defs += [(rel, q, name, n, docstrings) for q, name, n in _defs(tree)]
    dead = [
        f"tailpipe_spark/{rel}:{node.lineno} {q}" for rel, q, name, node, docstrings in defs
        if total[name] <= _uses(node, docstrings)[name] and f"{rel}:{q}" not in KEPT
    ]
    assert not dead, "defs that only tests reach (delete them, or list in KEPT):\n" + "\n".join(dead)
    keys = {f"{rel}:{q}" for rel, q, *_ in defs}
    stale = {k for k in KEPT if "(" not in k} - keys
    assert not stale, f"KEPT names defs that no longer exist: {sorted(stale)}"


def test_every_branch_parameter_has_a_product_caller():
    calls = defaultdict(list)  # callee name -> [(call, enclosing function node)]
    funcs = []
    for path, tree, _docs, _skipped in _parsed():
        owners = {}
        for q, name, is_method, fn in _functions(tree):
            for n in ast.walk(fn):
                owners.setdefault(id(n), fn)
        for n in ast.walk(tree):
            if isinstance(n, ast.Call) and _callee(n):
                calls[_callee(n)].append((n, owners.get(id(n))))
        if path.startswith(PKG + os.sep):
            rel = os.path.relpath(path, PKG)
            funcs += [(rel, q, name, is_method, fn) for q, name, is_method, fn in _functions(tree)]
    found, params = [], set()
    for rel, q, name, is_method, fn in funcs:
        tested = _tested(fn)
        for param, index in _defaulted(fn):
            params.add(f"{rel}:{q}({param})")
            if param not in tested or f"{rel}:{q}({param})" in KEPT:
                continue
            if not any(
                owner is not fn and _sets(call, param, index, is_method)
                for call, owner in calls[name]
            ):
                found.append(f"tailpipe_spark/{rel}:{fn.lineno} {q}({param})")
    assert not found, (
        "defaulted parameters that select a branch no product call takes "
        "(delete the parameter and its branch, or list in KEPT):\n" + "\n".join(found)
    )
    stale = {k for k in KEPT if "(" in k} - params
    assert not stale, f"KEPT names parameters that no longer exist: {sorted(stale)}"


def test_every_kept_entry_has_a_reason():
    assert all(isinstance(r, str) and r.strip() for r in KEPT.values())

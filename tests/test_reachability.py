"""Every def in ``tailpipe_spark/`` has a product caller.

A top-level function, class or constant, or a method, whose name no
product file uses outside its own definition is code only tests run:
delete it with its tests, or list it in ``KEPT`` with the reason it
stays. Product files are ``tailpipe_spark/``, ``tools/``,
``perfbench/``, ``bench.py`` and ``__spark_entry__.py`` (test modules
excluded). A use is a name, an attribute, an imported name, or an
identifier inside a string that is not a docstring (``getattr``
targets, registry keys, entry points). Dunder names are used by Python
itself and are not checked.
"""

import ast
import os
import re
from collections import Counter

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")

#: defs that stay without a product caller, each with its reason
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


def _uses(node, docstrings) -> Counter:
    c = Counter()
    for n in ast.walk(node):
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
    funcs = (ast.FunctionDef, ast.AsyncFunctionDef)
    for top in tree.body:
        if isinstance(top, (*funcs, ast.ClassDef)):
            yield top.name, top.name, top
        if isinstance(top, (ast.Assign, ast.AnnAssign)):
            targets = top.targets if isinstance(top, ast.Assign) else [top.target]
            for t in targets:
                if isinstance(t, ast.Name) and not t.id.startswith("__"):
                    yield t.id, t.id, top
        if isinstance(top, ast.ClassDef):
            for m in top.body:
                if isinstance(m, funcs) and not (m.name.startswith("__") and m.name.endswith("__")):
                    yield f"{top.name}.{m.name}", m.name, m


def test_every_def_has_a_product_caller():
    pkg = os.path.join(ROOT, "tailpipe_spark")
    total, defs = Counter(), []
    for path in _product_files():
        with open(path) as f:
            tree = ast.parse(f.read(), path)
        docstrings = _docstrings(tree)
        total.update(_uses(tree, docstrings))
        if path.startswith(pkg + os.sep):
            rel = os.path.relpath(path, pkg)
            defs += [(f"{rel}:{q}", name, n, docstrings) for q, name, n in _defs(tree)]
    dead = [
        key for key, name, node, docstrings in defs
        if total[name] <= _uses(node, docstrings)[name] and key not in KEPT
    ]
    assert not dead, f"defs that only tests reach (delete them, or list in KEPT): {dead}"
    stale = set(KEPT) - {key for key, *_ in defs}
    assert not stale, f"KEPT names defs that no longer exist: {sorted(stale)}"

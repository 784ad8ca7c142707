"""The package keeps only the options and names a caller uses.

Three rules over every function defined in `wde_spark/`, checked against
every call in the package, the tests, the tools, the benchmark, `bench.py`
and `__spark_entry__.py`:

- A defaulted parameter is passed by at least one call. A default no
  caller overrides is a setting no test or oracle covers: its value
  belongs in the code as a constant, not in the signature.
- It is not passed only with its default: if every call that passes it
  passes a literal equal to the default, it is a constant too.
- Every top-level function, class or constant without a decorator is
  referenced somewhere (a name, an attribute, an import, or a string equal
  to it). Decorated functions (the `@query` registry) are reached through
  their decorator.

Calls are matched by function name (a plain or attribute call), which is
conservative: a call of a same-named function elsewhere counts as a use.
A class's `__init__` is called through the class name. A call passes a
parameter by keyword, by position, or through `*args` / `**kwargs` (which
counts as a non-literal value). Only the live fetchers' politeness delay
and HTTP timeout are exempt: they are deployment settings, set per
endpoint, and the tests never reach a live endpoint.

A fourth rule keeps the callers honest: `tools/*.py` and the benchmark are
not run by the test suite, so every keyword argument a tool, test,
benchmark or `bench.py` passes to a `wde_spark` function must name a
parameter of that function (or the function takes `**kwargs`). The
function is found through a `wde_spark` import (a module alias or an
imported name) or, for a plain call, by a name defined once in the package.

A fifth rule covers imports: every name an import in `wde_spark/`,
`tools/` or `tests/` binds is used in the scope of the import (the
module, or the function the import sits in), or listed in `__all__`. An
import kept for its side effect is marked `# noqa: F401`.

AST only, no import of the package.
"""

from __future__ import annotations

import ast
import functools
import gc
import pathlib
import re

import pytest

ROOT = pathlib.Path(__file__).resolve().parent.parent
DEFINED_IN = ["wde_spark"]
CALLED_FROM = ["wde_spark", "tests", "tools", "perfbench", "bench.py",
               "__spark_entry__.py"]
EXTERNAL = ["tests", "tools", "perfbench", "bench.py"]
DEPLOYMENT_SETTINGS = {
    ("wikidata_search_fetcher", "delay_s"),
    ("wikidata_search_fetcher", "timeout"),
    ("sparql_fetcher", "delay_s"),
    ("sparql_fetcher", "timeout"),
}
_NOT_LITERAL = object()


def _files(rel: str):
    p = ROOT / rel
    return [p] if p.is_file() else sorted(p.rglob("*.py"))


@pytest.fixture(autouse=True, scope="module")
def _no_cyclic_gc():
    # The trees of every caller hold about 250k nodes, and each collection
    # of the oldest generation rescans them all. The walks below make no
    # cycles, so the cyclic collector is off while this file runs, and the
    # trees are dropped before it is back on.
    enabled = gc.isenabled()
    gc.disable()
    yield
    _index.cache_clear()
    _tree.cache_clear()
    if enabled:
        gc.enable()


@functools.lru_cache(maxsize=None)
def _tree(path: pathlib.Path) -> ast.Module:
    return ast.parse(path.read_text())


def _trees(rels):
    return [(path, _tree(path)) for rel in rels for path in _files(rel)]


def _defaulted(fn: ast.FunctionDef):
    """(name, position or None for keyword-only, default) of each
    defaulted parameter."""
    a = fn.args
    pos = a.posonlyargs + a.args
    first = len(pos) - len(a.defaults)
    out = [(p.arg, i, a.defaults[i - first]) for i, p in enumerate(pos)
           if i >= first]
    out += [(p.arg, None, d) for p, d in zip(a.kwonlyargs, a.kw_defaults)
            if d is not None]
    return out


def _literal(node):
    try:
        value = ast.literal_eval(node)
    except ValueError:
        return _NOT_LITERAL
    return (type(value), value)


def _passed(call: ast.Call, name: str, pos: int | None):
    """The value nodes `call` passes for the parameter (None for a value
    passed through *args / **kwargs), or [] when it passes none."""
    for k in call.keywords:
        if k.arg == name:
            return [k.value]
    if any(k.arg is None for k in call.keywords):
        return [None]
    if pos is None:
        return []
    for i, a in enumerate(call.args):
        if isinstance(a, ast.Starred):
            return [None]
        if i == pos:
            return [a]
    return []


@functools.lru_cache(maxsize=None)
def _index():
    """One walk over every caller: the calls by function name, every
    name, attribute, import or string a caller uses, and each function
    defined in the package as (path, function, name it is called by,
    position shift)."""
    calls: dict[str, list[ast.Call]] = {}
    used: set[str] = set()
    functions = []
    package = ROOT / DEFINED_IN[0]
    for path, tree in _trees(CALLED_FROM):
        methods = {}
        defined_here = package in path.parents
        for node in ast.walk(tree):
            kind = type(node)
            if kind is ast.Call:
                f = node.func
                name = (f.id if type(f) is ast.Name else
                        f.attr if type(f) is ast.Attribute else None)
                calls.setdefault(name, []).append(node)
            elif kind is ast.Name:
                if type(node.ctx) is ast.Load:
                    used.add(node.id)
            elif kind is ast.Attribute:
                used.add(node.attr)
            elif kind is ast.alias:
                used.add(node.name.rsplit(".", 1)[-1])
            elif kind is ast.Constant:
                if type(node.value) is str:
                    used.add(node.value)
            elif not defined_here:
                continue
            elif kind is ast.ClassDef:
                for fn in node.body:
                    methods[fn] = node.name
            elif kind is ast.FunctionDef or kind is ast.AsyncFunctionDef:
                if node not in methods:
                    functions.append((path, node, node.name, 0))
                else:
                    functions.append((path, node, node.name if node.name
                                      != "__init__" else methods[node], 1))
    return calls, used, functions


def test_every_default_is_set_by_some_caller():
    calls, _, functions = _index()
    unset, default_only = [], []
    for path, fn, callee, shift in functions:
        for name, pos, default in _defaulted(fn):
            if (fn.name, name) in DEPLOYMENT_SETTINGS:
                continue
            where = f"{path.relative_to(ROOT)}:{fn.lineno} {fn.name}({name})"
            values = [v for c in calls.get(callee, [])
                      for v in _passed(c, name,
                                       None if pos is None else pos - shift)]
            if not values:
                unset.append(where)
            elif all(v is not None and _literal(v) == _literal(default)
                     and _literal(v) is not _NOT_LITERAL for v in values):
                default_only.append(where)
    assert not unset and not default_only, (
        f"{len(unset)} defaulted parameters no caller sets:\n"
        + "\n".join(unset)
        + f"\n{len(default_only)} only ever passed their default:\n"
        + "\n".join(default_only))


def test_every_top_level_name_is_referenced():
    _, used, _ = _index()
    unused = []
    for path, tree in _trees(DEFINED_IN):
        for node in tree.body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                                 ast.ClassDef)):
                names = [] if node.decorator_list else [node.name]
            elif isinstance(node, ast.Assign):
                names = [t.id for t in node.targets
                         if isinstance(t, ast.Name)]
            elif (isinstance(node, ast.AnnAssign)
                  and isinstance(node.target, ast.Name)):
                names = [node.target.id]
            else:
                names = []
            unused += [f"{path.relative_to(ROOT)}:{node.lineno} {n}"
                       for n in names
                       if not (n.startswith("__") and n.endswith("__"))
                       and n not in used]
    assert not unused, (f"{len(unused)} top-level names nothing "
                        f"references:\n" + "\n".join(unused))


def _package_functions():
    """Top-level functions of the package, by dotted module and by name."""
    by_module: dict[str, dict[str, ast.FunctionDef]] = {}
    by_name: dict[str, list[ast.FunctionDef]] = {}
    for path, tree in _trees(DEFINED_IN):
        rel = path.relative_to(ROOT).with_suffix("")
        parts = rel.parts[:-1] if rel.name == "__init__" else rel.parts
        defs = {n.name: n for n in tree.body
                if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))}
        by_module[".".join(parts)] = defs
        for name, fn in defs.items():
            by_name.setdefault(name, []).append(fn)
    return by_module, by_name


def test_callers_pass_only_existing_keywords():
    by_module, by_name = _package_functions()
    stale = []
    for path, tree in _trees(EXTERNAL):
        modules: dict[str, str] = {}      # local alias -> dotted module
        imported: dict[str, ast.FunctionDef] = {}
        local = set()
        keyword_calls = []
        for node in ast.walk(tree):
            if isinstance(node, ast.Call):
                if node.keywords:
                    keyword_calls.append(node)
            elif isinstance(node, ast.Import):
                for a in node.names:
                    if a.name in by_module and a.asname:
                        modules[a.asname] = a.name
            elif (isinstance(node, ast.ImportFrom) and node.module
                  and node.module.split(".")[0] == "wde_spark"):
                for a in node.names:
                    sub = f"{node.module}.{a.name}"
                    if sub in by_module:
                        modules[a.asname or a.name] = sub
                    elif a.name in by_module.get(node.module, {}):
                        imported[a.asname or a.name] = \
                            by_module[node.module][a.name]
            elif isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                                   ast.ClassDef)):
                local.add(node.name)
        for call in keyword_calls:
            f, fn = call.func, None
            if isinstance(f, ast.Name):
                fn = imported.get(f.id)
                if fn is None and f.id not in local \
                        and len(by_name.get(f.id, [])) == 1:
                    fn = by_name[f.id][0]
            elif isinstance(f, ast.Attribute):
                if isinstance(f.value, ast.Name) and f.value.id in modules:
                    fn = by_module[modules[f.value.id]].get(f.attr)
            if fn is None or fn.args.kwarg is not None:
                continue
            a = fn.args
            params = {p.arg for p in a.posonlyargs + a.args + a.kwonlyargs}
            stale += [f"{path.relative_to(ROOT)}:{call.lineno} "
                      f"{fn.name}({k.arg}=...)" for k in call.keywords
                      if k.arg is not None and k.arg not in params]
    assert not stale, (f"{len(stale)} keyword arguments name no parameter "
                       f"of the called wde_spark function:\n"
                       + "\n".join(stale))


def _imports(tree: ast.Module):
    """(import node, its scope: the module or the innermost function)."""
    out = []

    def walk(node, scope):
        for ch in ast.iter_child_nodes(node):
            if isinstance(ch, (ast.Import, ast.ImportFrom)):
                out.append((ch, scope))
            walk(ch, ch if isinstance(
                ch, (ast.FunctionDef, ast.AsyncFunctionDef)) else scope)

    walk(tree, tree)
    return out


def test_every_import_is_used():
    unused = []
    for path, tree in _trees(["wde_spark", "tools", "tests"]):
        lines = path.read_text().splitlines()
        exported = {ast.literal_eval(e) for n in tree.body
                    if isinstance(n, ast.Assign)
                    and any(isinstance(t, ast.Name) and t.id == "__all__"
                            for t in n.targets)
                    for e in n.value.elts}
        for imp, scope in _imports(tree):
            if (isinstance(imp, ast.ImportFrom)
                    and imp.module == "__future__") or any(
                    re.search(r"# noqa:.*F401", ln)
                    for ln in lines[imp.lineno - 1:imp.end_lineno]):
                continue
            used = {n.id for n in ast.walk(scope) if isinstance(n, ast.Name)}
            unused += [f"{path.relative_to(ROOT)}:{imp.lineno} {bound}"
                       for bound in (a.asname or a.name.split(".")[0]
                                     for a in imp.names)
                       if bound not in used and bound not in exported]
    assert not unused, (f"{len(unused)} imported names nothing uses:\n"
                        + "\n".join(unused))

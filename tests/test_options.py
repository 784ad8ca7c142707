"""Every defaulted parameter of a function in `wde_spark/streaming/`,
`wde_spark/plans/` and `wde_spark/sources/` is passed by at least one call
in the package, the tests, the tools, the benchmark or `bench.py`.

A default no caller overrides is a setting no test or oracle covers: its
value belongs in the code as a constant, not in the signature. Calls are
matched by function name (a plain or attribute call), which is
conservative: a call of a same-named function elsewhere counts as a use.
A call passes a parameter by keyword, by position, or through `*args` /
`**kwargs`. Only the live fetchers' politeness delay and HTTP timeout are
exempt: they are deployment settings, set per endpoint, and the tests
never reach a live endpoint. AST only, no import of the package.
"""

from __future__ import annotations

import ast
import pathlib

ROOT = pathlib.Path(__file__).resolve().parent.parent
DEFINED_IN = ["wde_spark/streaming", "wde_spark/plans", "wde_spark/sources"]
CALLED_FROM = ["wde_spark", "tests", "tools", "perfbench", "bench.py"]
DEPLOYMENT_SETTINGS = {
    ("wikidata_search_fetcher", "delay_s"),
    ("wikidata_search_fetcher", "timeout"),
    ("sparql_fetcher", "delay_s"),
    ("sparql_fetcher", "timeout"),
}


def _files(rel: str):
    p = ROOT / rel
    return [p] if p.is_file() else sorted(p.rglob("*.py"))


def _defaulted(fn: ast.FunctionDef):
    """(name, position or None for keyword-only) of each defaulted
    parameter."""
    a = fn.args
    pos = a.posonlyargs + a.args
    first = len(pos) - len(a.defaults)
    out = [(p.arg, i) for i, p in enumerate(pos) if i >= first]
    out += [(p.arg, None) for p, d in zip(a.kwonlyargs, a.kw_defaults)
            if d is not None]
    return out


def _passes(call: ast.Call, name: str, pos: int | None) -> bool:
    if any(k.arg in (name, None) for k in call.keywords):
        return True
    if pos is None:
        return False
    return (len(call.args) > pos
            or any(isinstance(a, ast.Starred) for a in call.args))


def test_every_default_is_set_by_some_caller():
    calls: dict[str, list[ast.Call]] = {}
    for rel in CALLED_FROM:
        for path in _files(rel):
            for node in ast.walk(ast.parse(path.read_text())):
                if isinstance(node, ast.Call):
                    f = node.func
                    name = (f.id if isinstance(f, ast.Name) else
                            f.attr if isinstance(f, ast.Attribute) else None)
                    calls.setdefault(name, []).append(node)
    unset = []
    for rel in DEFINED_IN:
        for path in _files(rel):
            for fn in ast.walk(ast.parse(path.read_text())):
                if not isinstance(fn, (ast.FunctionDef,
                                       ast.AsyncFunctionDef)):
                    continue
                for name, pos in _defaulted(fn):
                    if (fn.name, name) in DEPLOYMENT_SETTINGS:
                        continue
                    if not any(_passes(c, name, pos)
                               for c in calls.get(fn.name, [])):
                        unset.append(f"{path.relative_to(ROOT)}:"
                                     f"{fn.lineno} {fn.name}({name})")
    assert not unset, (f"{len(unset)} defaulted parameters no caller "
                       f"sets:\n" + "\n".join(unset))

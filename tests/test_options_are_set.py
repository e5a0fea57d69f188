"""Every optional parameter of a public package function is passed by
some call site; an option nothing sets is an untested configuration.
And every switch takes two values outside the tests; a switch that one
value serves is a constant, and the path it never selects serves no
caller.

A public function is any ``def`` in the package whose name does not start
with ``_``, methods and nested functions included. An optional parameter
(one with a default) counts as set when a call whose callee name — a bare
name or an attribute — matches the function's passes it by keyword, or
by position at its index (``self``/``cls`` skipped). Calls are searched
in the package, ``tools/``, ``tests/``, ``bench.py`` and ``perfbench/``.
A call that passes ``**kwargs`` sets nothing; positional arguments count
up to the first ``*args``.

A switch is an optional parameter whose name appears in its function's
``if``, ``while`` or conditional-expression test, or in an ``and``/``or``.
Its values are read at every matching call outside ``tests/``: the
literal passed, or the default when the call does not pass it. Anything
else (a name, an expression, a ``**kwargs`` or ``*args`` that may carry
it) counts as varying.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "ska_src_maltopuft_etl_spark"

#: Deployment settings stay configurable although no call site sets them.
DEPLOYMENT_SETTINGS = {
    ("get_spark", "master"),
    ("targets_from_jdbc", "schema"),
    ("psrqpy_fetcher", "version"),
}

#: Switches that one value serves outside the tests, kept with why.
ONE_VALUE_SWITCHES = {
    ("get_spark", "master"): "a deployment setting",
    ("simhash_bits", "arrow"): "the Arrow kernel is the reference the tests compare the native form against",
    ("join_event_streams", "bucketed"): "the unbucketed join is the reference the tests compare the bucketed form against",
}


def _py_files(*paths: Path):
    for p in paths:
        if p.is_file():
            yield p
        elif p.is_dir():
            yield from sorted(p.rglob("*.py"))


def _optional_params(fn: ast.FunctionDef | ast.AsyncFunctionDef):
    """(name, positional index or None, default) of each parameter with a
    default."""
    a = fn.args
    pos = a.posonlyargs + a.args
    if pos and pos[0].arg in ("self", "cls"):
        pos = pos[1:]
    first_default = len(pos) - len(a.defaults)
    out = [(arg.arg, i, a.defaults[i - first_default]) for i, arg in enumerate(pos) if i >= first_default]
    out += [(arg.arg, None, d) for arg, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None]
    return out


def _call_sites() -> dict[str, tuple[set[str], int]]:
    """callee name -> (keywords ever passed, most positional args passed)."""
    sites: dict[str, tuple[set[str], int]] = {}
    for f in _py_files(PACKAGE, ROOT / "tools", ROOT / "tests", ROOT / "bench.py", ROOT / "perfbench"):
        for node in ast.walk(ast.parse(f.read_text())):
            if not isinstance(node, ast.Call):
                continue
            fn = node.func
            if isinstance(fn, ast.Name):
                name = fn.id
            elif isinstance(fn, ast.Attribute):
                name = fn.attr
            else:
                continue
            n_pos = 0
            for arg in node.args:
                if isinstance(arg, ast.Starred):
                    break
                n_pos += 1
            kws, most = sites.get(name, (set(), 0))
            kws |= {k.arg for k in node.keywords if k.arg is not None}
            sites[name] = (kws, max(most, n_pos))
    return sites


def unset_options() -> list[str]:
    sites = _call_sites()
    unset = []
    for f in _py_files(PACKAGE):
        for node in ast.walk(ast.parse(f.read_text())):
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            if node.name.startswith("_"):
                continue
            kws, n_pos = sites.get(node.name, (set(), 0))
            for param, index, _ in _optional_params(node):
                if param in kws or (index is not None and index < n_pos):
                    continue
                if (node.name, param) not in DEPLOYMENT_SETTINGS:
                    unset.append(f"{f.relative_to(ROOT)}:{node.lineno} {node.name}({param})")
    return unset


def test_every_option_is_set_by_a_call_site():
    assert unset_options() == []


#: Stands for a value the call site does not fix to one literal.
VARYING = object()


def _branch_names(fn: ast.FunctionDef | ast.AsyncFunctionDef) -> set[str]:
    """Names read in a branch condition of ``fn``: an ``if``, ``while`` or
    conditional-expression test, or an ``and``/``or``."""
    names: set[str] = set()
    for n in ast.walk(fn):
        if isinstance(n, (ast.If, ast.While, ast.IfExp)):
            cond = n.test
        elif isinstance(n, ast.BoolOp):
            cond = n
        else:
            continue
        names |= {m.id for m in ast.walk(cond) if isinstance(m, ast.Name)}
    return names


def _literal(node: ast.expr):
    try:
        return ast.literal_eval(node)
    except ValueError:
        return VARYING


def _value(call: ast.Call, param: str, index: int | None, default: ast.expr):
    """The value ``call`` gives ``param``."""
    for k in call.keywords:
        if k.arg == param:
            return _literal(k.value)
        if k.arg is None:  # **kwargs may carry it
            return VARYING
    if index is not None:
        for i, arg in enumerate(call.args):
            if isinstance(arg, ast.Starred):
                return VARYING
            if i == index:
                return _literal(arg)
    return _literal(default)


def one_value_switches() -> dict[tuple[str, str], str]:
    """(function, switch) -> ``path:line = value`` for every switch whose
    calls outside the tests all give it one literal."""
    calls: dict[str, list[ast.Call]] = {}
    for f in _py_files(PACKAGE, ROOT / "tools", ROOT / "bench.py", ROOT / "perfbench"):
        for node in ast.walk(ast.parse(f.read_text())):
            if isinstance(node, ast.Call):
                fn = node.func
                name = fn.id if isinstance(fn, ast.Name) else getattr(fn, "attr", None)
                calls.setdefault(name, []).append(node)
    flagged = {}
    for f in _py_files(PACKAGE):
        for node in ast.walk(ast.parse(f.read_text())):
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            if node.name.startswith("_") or node.name not in calls:
                continue
            tested = _branch_names(node)
            for param, index, default in _optional_params(node):
                if param not in tested:
                    continue
                values = [_value(c, param, index, default) for c in calls[node.name]]
                if any(v is VARYING for v in values) or len({repr(v) for v in values}) > 1:
                    continue
                flagged[(node.name, param)] = f"{f.relative_to(ROOT)}:{node.lineno} = {values[0]!r}"
    return flagged


def test_every_switch_takes_two_values_outside_tests():
    flagged = one_value_switches()
    assert {k: at for k, at in flagged.items() if k not in ONE_VALUE_SWITCHES} == {}
    # an allowed switch that is gone, or that callers now vary, is stale
    assert sorted(set(ONE_VALUE_SWITCHES) - set(flagged)) == []

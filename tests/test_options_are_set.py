"""Every optional parameter of a public package function is passed by
some call site; an option nothing sets is an untested configuration.

A public function is any ``def`` in the package whose name does not start
with ``_``, methods and nested functions included. An optional parameter
(one with a default) counts as set when a call whose callee name — a bare
name or an attribute — matches the function's passes it by keyword, or
by position at its index (``self``/``cls`` skipped). Calls are searched
in the package, ``tools/``, ``tests/``, ``bench.py`` and ``perfbench/``.
A call that passes ``**kwargs`` sets nothing; positional arguments count
up to the first ``*args``.
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


def _py_files(*paths: Path):
    for p in paths:
        if p.is_file():
            yield p
        elif p.is_dir():
            yield from sorted(p.rglob("*.py"))


def _optional_params(fn: ast.FunctionDef | ast.AsyncFunctionDef):
    """(name, positional index or None) of each parameter with a default."""
    a = fn.args
    pos = a.posonlyargs + a.args
    if pos and pos[0].arg in ("self", "cls"):
        pos = pos[1:]
    first_default = len(pos) - len(a.defaults)
    out = [(arg.arg, i) for i, arg in enumerate(pos) if i >= first_default]
    out += [(arg.arg, None) for arg, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None]
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
            for param, index in _optional_params(node):
                if param in kws or (index is not None and index < n_pos):
                    continue
                if (node.name, param) not in DEPLOYMENT_SETTINGS:
                    unset.append(f"{f.relative_to(ROOT)}:{node.lineno} {node.name}({param})")
    return unset


def test_every_option_is_set_by_a_call_site():
    assert unset_options() == []

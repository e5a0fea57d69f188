"""Every public package name is used by code that is not a test; a
capability that only its own tests reach serves no caller.

A public name is a module-level ``def`` or ``class`` in the package whose
name does not start with ``_``. It is reached when some statement of the
package, ``tools/``, ``bench.py`` or ``perfbench/`` references it as a
``Name``, an ``Attribute`` or an import alias, except:

- the statement that defines it (recursion and a class's own methods do
  not count), and
- ``from … import`` statements in an ``__init__.py`` (re-exports).

Another statement of the name's own module counts. A battery query,
decorated with ``@register``, is itself a root. Names are matched by
spelling only, so a reference to an unrelated name of the same spelling
counts too; the scan errs towards keeping code.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "ska_src_maltopuft_etl_spark"

#: Public names kept although no non-test code references them, with why.
ALLOWED = {
    "load_targets_on_conflict": "the reference's PostgreSQL load (Derby and live-Postgres tests)",
    "targets_from_jdbc": "the reference's target introspection over JDBC",
    "plot_cand_obs_count": "the reference's Dagster candidate/observation count asset",
    "stream_run_summaries": "MeerTRAP run-summary file-arrival stream (ROADMAP)",
    "resolve_beams_stream": "MeerTRAP candidate file-arrival stream (ROADMAP)",
    "is_aborted_batch0": "oracle the batch-0 recovery test compares against",
    "degrees_to_hms": "oracle the coordinate-kernel tests compare against",
    "timestamp_to_mjd": "oracle the MJD-kernel tests compare against",
    "violations": "quarantine view of an expectation; its deletion waits for a later change",
}


def _py_files(*paths: Path):
    for p in paths:
        if p.is_file():
            yield p
        elif p.is_dir():
            yield from sorted(p.rglob("*.py"))


def _references(stmt: ast.stmt, with_imports: bool) -> set[str]:
    out: set[str] = set()
    for n in ast.walk(stmt):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias) and with_imports:
            out.add(n.name.rsplit(".", 1)[-1])
            if n.asname:
                out.add(n.asname)
    return out


def _is_registered(d: ast.FunctionDef | ast.AsyncFunctionDef | ast.ClassDef) -> bool:
    for dec in d.decorator_list:
        f = dec.func if isinstance(dec, ast.Call) else dec
        if isinstance(f, ast.Name) and f.id == "register":
            return True
    return False


def unreached_names() -> dict[str, str]:
    """name -> ``path:line`` of every public name nothing reaches."""
    defs: list[tuple[Path, ast.stmt]] = []
    #: file -> [(name the statement defines or None, names it references)]
    statements: dict[Path, list[tuple[str | None, set[str]]]] = {}
    for f in _py_files(PACKAGE, ROOT / "tools", ROOT / "bench.py", ROOT / "perfbench"):
        in_package = f.is_relative_to(PACKAGE)
        entries = []
        for stmt in ast.parse(f.read_text()).body:
            name = None
            if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                name = stmt.name
                if in_package and not name.startswith("_") and not _is_registered(stmt):
                    defs.append((f, stmt))
            reexport = f.name == "__init__.py" and isinstance(stmt, ast.ImportFrom)
            entries.append((name, _references(stmt, with_imports=not reexport)))
        statements[f] = entries

    unreached = {}
    for f, d in defs:
        reached = any(
            d.name in refs
            for g, entries in statements.items()
            for name, refs in entries
            if not (g == f and name == d.name)
        )
        if not reached:
            unreached[d.name] = f"{f.relative_to(ROOT)}:{d.lineno}"
    return unreached


def test_every_public_name_is_reached_by_non_test_code():
    unreached = unreached_names()
    assert {n: at for n, at in unreached.items() if n not in ALLOWED} == {}
    # an allowed name that is gone, or that code now reaches, is stale
    assert sorted(set(ALLOWED) - set(unreached)) == []

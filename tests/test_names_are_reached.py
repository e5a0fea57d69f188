"""Every public package name is used by code that is not a test; a
capability that only its own tests reach serves no caller.

A public name is a module-level ``def`` or ``class`` in the package whose
name does not start with ``_``. It is reached when some statement of the
package, ``tools/``, ``bench.py`` or ``perfbench/`` references it as a
``Name``, an ``Attribute`` or an import alias, and that statement sits

- in the name's own module, other than the statement that defines it
  (recursion and a class's own methods do not count), or
- in a file whose imports name that module, or a package whose
  ``__init__.py`` re-exports the name from it.

``from … import`` statements in an ``__init__.py`` are re-exports, not
references. A battery query, decorated with ``@register``, is itself a
root. A reference in a file that imports neither the module nor a
re-exporting package (``pyarrow.parquet.write_table`` for a package
``write_table``) does not count.
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


def _module(f: Path) -> str:
    parts = f.relative_to(ROOT).with_suffix("").parts
    return ".".join(parts[:-1] if parts[-1] == "__init__" else parts)


def _imports(f: Path, tree: ast.AST) -> list[tuple[str, list[str]]]:
    """(module, names imported from it) of every import in the file, with
    relative imports resolved; ``import m`` imports no names."""
    here = _module(f)
    package = here if f.name == "__init__.py" else here.rpartition(".")[0]
    out = []
    for n in ast.walk(tree):
        if isinstance(n, ast.Import):
            out += [(a.name, []) for a in n.names]
        elif isinstance(n, ast.ImportFrom):
            base = package if n.level else ""
            for _ in range(n.level - 1):
                base = base.rpartition(".")[0]
            module = ".".join(p for p in (base, n.module) if p)
            out.append((module, [a.name for a in n.names]))
    return out


def unreached_names() -> dict[str, str]:
    """name -> ``path:line`` of every public name nothing reaches."""
    defs: list[tuple[Path, ast.stmt]] = []
    #: file -> (modules its imports name,
    #:          [(name the statement defines or None, names it references)])
    files: dict[Path, tuple[set[str], list[tuple[str | None, set[str]]]]] = {}
    #: (module, name) -> packages whose ``__init__.py`` imports name from module
    reexports: dict[tuple[str, str], set[str]] = {}
    for f in _py_files(PACKAGE, ROOT / "tools", ROOT / "bench.py", ROOT / "perfbench"):
        in_package = f.is_relative_to(PACKAGE)
        tree = ast.parse(f.read_text())
        named: set[str] = set()
        for module, names in _imports(f, tree):
            named.add(module)
            named.update(f"{module}.{n}" for n in names)
            if f.name == "__init__.py":
                for n in names:
                    reexports.setdefault((module, n), set()).add(_module(f))
        entries = []
        for stmt in tree.body:
            name = None
            if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                name = stmt.name
                if in_package and not name.startswith("_") and not _is_registered(stmt):
                    defs.append((f, stmt))
            reexport = f.name == "__init__.py" and isinstance(stmt, ast.ImportFrom)
            entries.append((name, _references(stmt, with_imports=not reexport)))
        files[f] = (named, entries)

    unreached = {}
    for f, d in defs:
        # the module that defines the name and every package re-exporting it
        homes = {_module(f)}
        while True:
            more = set().union(*(reexports.get((m, d.name), set()) for m in homes))
            if more <= homes:
                break
            homes |= more
        reached = any(
            d.name in refs
            for g, (named, entries) in files.items()
            if g == f or named & homes
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

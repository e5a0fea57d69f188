"""Runtime constraint introspection from a live JDBC schema (S-side of K2-K4).

The reference derives each target table's unique constraint, primary key
and foreign keys from the live database at runtime via SQLAlchemy's
inspector (reference: src/ska_src_maltopuft_etl/core/target.py:24-57) —
a user pointing it at MALTOPUFTDB never hand-maintains constraint
metadata. The repo's :class:`~.relational.TargetInformation` was
previously static; :func:`targets_from_jdbc` builds the same tuples from
the standard ``java.sql.DatabaseMetaData`` API instead:

- ``getPrimaryKeys``  → ``primary_key`` (reference ``target.primary_key``);
- ``getImportedKeys`` → ``foreign_keys`` (reference ``target.foreign_keys``)
  *and* the FK dependency DAG, so the returned tuple is already in load
  order (the reference hand-orders its TARGETS list to the same effect);
- ``getIndexInfo(unique=True)`` → unique constraints (reference
  ``target.unique_constraint``). The reference's conflict handling is
  de-facto "conflict on any unique constraint" (SURVEY.md §7.3 risk 6):
  Postgres raises on whichever constraint trips first regardless of
  which one the retry names. Accordingly ALL non-PK unique column sets
  are captured — the first (by index name, deterministic) becomes
  ``unique_key`` and the rest ``extra_unique_keys``, and the merge
  sinks anti-join on every set.

Everything here is driver-side metadata access over the SAME JVM and
JDBC classpath ``spark.read.jdbc`` uses — a handful of catalog rows per
table, never data. Works against any JDBC database (embedded Derby in
tests; set ``MALTOPUFT_JDBC_URL`` for Postgres et al.).
"""

from __future__ import annotations

import re
from collections import defaultdict
from contextlib import contextmanager
from typing import Iterator, Sequence

from pyspark.sql import SparkSession

from ska_src_maltopuft_etl_spark.sinks.relational import TargetInformation

_IDENT_RE = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")


def check_identifier(name: str) -> str:
    """Validate a table/column name before interpolating it into
    driver-side SQL (catalog queries, merge/DROP statements).

    Names come from caller config or the catalog itself, so the threat
    model is misconfiguration rather than hostile input — but a name
    containing a quote or SQL fragment would still silently break the
    statement. Restricting to ``[A-Za-z0-9_]`` fails fast instead.
    """
    if not _IDENT_RE.match(name):
        raise ValueError(f"unsafe SQL identifier: {name!r}")
    return name


@contextmanager
def jdbc_connection(
    spark: SparkSession,
    url: str,
    properties: dict[str, str] | None = None,
):
    """Driver-side ``java.sql.Connection`` through the Spark JVM gateway.

    Uses the session's own JVM, so any driver jar visible to
    ``spark.read.jdbc`` (Derby embedded in Spark's classpath, Postgres
    via ``--jars``) is equally visible here — no extra Python DB deps.
    """
    jvm = spark._jvm  # noqa: SLF001 — py4j gateway is the supported JDBC path
    props = jvm.java.util.Properties()
    for k, v in (properties or {}).items():
        props.setProperty(k, v)
    driver = (properties or {}).get("driver")
    if driver:
        # Register the driver class with DriverManager (Spark's reader
        # does the same before connecting).
        jvm.java.lang.Class.forName(driver)
    conn = jvm.java.sql.DriverManager.getConnection(url, props)
    try:
        yield conn
    finally:
        conn.close()


def execute_jdbc_sql(
    spark: SparkSession,
    url: str,
    sql: str | Sequence[str],
    properties: dict[str, str] | None = None,
) -> int:
    """Execute DDL/DML statement(s) driver-side; returns last update count.

    One round trip per statement — used for set-based merge statements
    (never per-row inserts) and for test-fixture DDL.
    """
    stmts = [sql] if isinstance(sql, str) else list(sql)
    n = 0
    with jdbc_connection(spark, url, properties) as conn:
        st = conn.createStatement()
        try:
            for s in stmts:
                n = st.executeUpdate(s)
        finally:
            st.close()
    return n


def _rs_rows(rs, cols: Sequence[str]) -> Iterator[dict[str, object]]:
    """Materialize a java.sql.ResultSet into dicts of the named columns."""
    try:
        while rs.next():
            yield {c: rs.getString(c) for c in cols}
    finally:
        rs.close()


def _derby_unique_sets(conn, stored_name: str) -> list[tuple[str, ...]]:
    """Unique constraints from Derby's SYS catalogs.

    Derby backs a UNIQUE constraint over nullable columns with an
    internally NON-unique index ("UNIQUE WITH DUPLICATE NULLS"), which
    ``DatabaseMetaData.getIndexInfo(unique=true)`` therefore omits — the
    standard API under-reports exactly the nullable natural keys this
    sink cares about (e.g. sp_candidate plot_path). Read the constraint
    catalog directly, the same way SQLAlchemy dialects do: SYSKEYS links
    each TYPE='U' constraint to its backing conglomerate, whose
    DESCRIPTOR lists 1-based column numbers, resolved via SYSCOLUMNS.
    """
    check_identifier(stored_name)
    sets: list[tuple[str, ...]] = []
    st = conn.createStatement()
    try:
        rs = st.executeQuery(
            "SELECT c.COLUMNNAME, c.COLUMNNUMBER FROM SYS.SYSCOLUMNS c "
            "JOIN SYS.SYSTABLES t ON c.REFERENCEID = t.TABLEID "
            f"WHERE t.TABLENAME = '{stored_name}'"
        )
        colno: dict[int, str] = {}
        while rs.next():
            colno[rs.getInt("COLUMNNUMBER")] = rs.getString("COLUMNNAME").lower()
        rs.close()
        rs = st.executeQuery(
            "SELECT cons.CONSTRAINTNAME AS n, "
            "CAST(cg.DESCRIPTOR AS VARCHAR(256)) AS d "
            "FROM SYS.SYSCONSTRAINTS cons "
            "JOIN SYS.SYSKEYS k ON cons.CONSTRAINTID = k.CONSTRAINTID "
            "JOIN SYS.SYSCONGLOMERATES cg "
            "  ON k.CONGLOMERATEID = cg.CONGLOMERATEID "
            "JOIN SYS.SYSTABLES t ON cons.TABLEID = t.TABLEID "
            f"WHERE t.TABLENAME = '{stored_name}' AND cons.TYPE = 'U' "
            "ORDER BY cons.CONSTRAINTNAME"
        )
        while rs.next():
            desc = rs.getString("d") or ""
            m = re.search(r"\(([\d,\s]+)\)", desc)
            if not m:
                continue
            cols = tuple(
                colno[int(p.strip())] for p in m.group(1).split(",")
            )
            if cols and cols not in sets:
                sets.append(cols)
        rs.close()
    finally:
        st.close()
    return sets


def _resolve_table_case(md, name: str, schema: str | None = None) -> str | None:
    """Find the stored identifier for ``name`` (unquoted DDL is folded
    to upper case by Derby/Oracle, lower by Postgres).

    ``DatabaseMetaData.getTables`` treats its schema/table arguments as
    LIKE patterns where ``_`` matches any single character — unescaped,
    ``i_beam`` would also match an unrelated ``ixbeam``. Escape ``_`` and
    ``%`` with the driver's own escape string so the lookup is exact,
    and scope it to ``schema`` when the caller provides one (otherwise a
    same-named table in another schema could win).
    """
    esc = md.getSearchStringEscape() or ""

    def exact(pattern: str) -> str:
        if not esc:
            return pattern
        return (
            pattern.replace(esc, esc + esc)
            .replace("_", esc + "_")
            .replace("%", esc + "%")
        )

    schema_pat = exact(schema) if schema is not None else None
    for cand in (name, name.upper(), name.lower()):
        rs = md.getTables(None, schema_pat, exact(cand), None)
        found = [r["TABLE_NAME"] for r in _rs_rows(rs, ["TABLE_NAME"])]
        if found:
            return found[0]
    return None


def targets_from_jdbc(
    spark: SparkSession,
    url: str,
    tables: Sequence[str],
    properties: dict[str, str] | None = None,
    schema: str | None = None,
) -> tuple[TargetInformation, ...]:
    """Build :class:`TargetInformation` for ``tables`` from the live schema.

    Parity with reference core/target.py:24-57 (which inspects
    PK/FK/unique constraints per table at runtime), plus the load-order
    topological sort the reference encodes by hand in its TARGETS list
    (reference meertrap/meertrap.py:173-197).

    Parameters
    ----------
    tables : table names to introspect (any case; resolved against the
        catalog). FK edges pointing at tables OUTSIDE this list are kept
        as metadata but do not constrain the ordering.
    schema : optional schema to scope catalog lookups to (otherwise a
        same-named table in another schema could be introspected).

    Returns targets in FK-dependency (load) order; ties broken by the
    caller's ``tables`` order so the result is deterministic.
    """
    with jdbc_connection(spark, url, properties) as conn:
        md = conn.getMetaData()
        resolved: dict[str, str] = {}
        for t in tables:
            stored = _resolve_table_case(md, t, schema=schema)
            if stored is None:
                raise ValueError(f"table not found in JDBC catalog: {t!r}")
            resolved[t] = stored

        infos: dict[str, TargetInformation] = {}
        deps: dict[str, set[str]] = {t: set() for t in tables}
        # map stored-case name -> caller name, for FK parent resolution
        by_stored = {s.lower(): t for t, s in resolved.items()}

        for t in tables:
            stored = resolved[t]
            # -- primary key --------------------------------------------
            pk_rows = list(
                _rs_rows(
                    md.getPrimaryKeys(None, schema, stored),
                    ["COLUMN_NAME", "KEY_SEQ"],
                )
            )
            pk_cols = [
                r["COLUMN_NAME"].lower()
                for r in sorted(pk_rows, key=lambda r: int(r["KEY_SEQ"]))
            ]
            if len(pk_cols) != 1:
                # No composite PKs in MALTOPUFTDB (reference
                # core/target.py:53-55 makes the same assumption).
                raise ValueError(
                    f"{t}: expected single-column primary key, got {pk_cols}"
                )
            pk = pk_cols[0]

            # -- foreign keys (column -> parent table) -------------------
            fk_rows = _rs_rows(
                md.getImportedKeys(None, schema, stored),
                ["FKCOLUMN_NAME", "PKTABLE_NAME"],
            )
            fks: dict[str, str] = {}
            for r in fk_rows:
                parent_stored = r["PKTABLE_NAME"].lower()
                parent = by_stored.get(parent_stored, parent_stored)
                fks[r["FKCOLUMN_NAME"].lower()] = parent
                if parent in deps and parent != t:
                    deps[t].add(parent)

            # -- unique constraints (all non-PK unique column sets) ------
            idx_rows = _rs_rows(
                # approximate=False: exact catalog metadata only
                md.getIndexInfo(None, schema, stored, True, False),
                ["INDEX_NAME", "COLUMN_NAME", "ORDINAL_POSITION"],
            )
            by_index: dict[str, list[tuple[int, str]]] = defaultdict(list)
            for r in idx_rows:
                if r["INDEX_NAME"] is None or r["COLUMN_NAME"] is None:
                    continue  # table-statistics pseudo rows
                by_index[r["INDEX_NAME"]].append(
                    (int(r["ORDINAL_POSITION"]), r["COLUMN_NAME"].lower())
                )
            unique_sets: list[tuple[str, ...]] = []
            for iname in sorted(by_index):
                cols = tuple(c for _, c in sorted(by_index[iname]))
                if list(cols) == pk_cols:
                    continue  # the PK's backing index is not a conflict key
                if cols not in unique_sets:
                    unique_sets.append(cols)
            if url.startswith("jdbc:derby"):
                # see _derby_unique_sets: nullable unique constraints are
                # invisible to getIndexInfo on Derby.
                for cols in _derby_unique_sets(conn, stored):
                    if list(cols) != pk_cols and cols not in unique_sets:
                        unique_sets.append(cols)

            infos[t] = TargetInformation(
                table_name=t,
                primary_key=pk,
                foreign_keys=fks,
                unique_key=unique_sets[0] if unique_sets else (),
                extra_unique_keys=tuple(unique_sets[1:]),
            )

    # -- topological sort (Kahn) over the FK DAG, stable in input order --
    ordered: list[str] = []
    remaining = list(tables)
    placed: set[str] = set()
    while remaining:
        progress = [t for t in remaining if deps[t] <= placed]
        if not progress:
            raise ValueError(
                f"foreign-key cycle among tables: {sorted(remaining)}"
            )
        for t in progress:
            ordered.append(t)
            placed.add(t)
        remaining = [t for t in remaining if t not in placed]
    return tuple(infos[t] for t in ordered)


def stored_column_names(
    spark: SparkSession,
    url: str,
    table: str,
    properties: dict[str, str] | None = None,
) -> dict[str, str]:
    """Map lowercased column name -> stored (exact-case) column name.

    Needed to build portable quoted SQL: unquoted DDL folds identifiers
    up (Derby/Oracle) or down (Postgres), while Spark's JDBC writer
    QUOTES DataFrame column names verbatim — so a target created by DDL
    and a staging table created by Spark store different cases for the
    "same" column. Statements must quote each identifier with its own
    stored case.
    """
    with jdbc_connection(spark, url, properties) as conn:
        md = conn.getMetaData()
        stored = _resolve_table_case(md, table)
        if stored is None:
            raise ValueError(f"table not found in JDBC catalog: {table!r}")
        out: dict[str, str] = {}
        for r in _rs_rows(
            md.getColumns(None, None, stored, None), ["COLUMN_NAME"]
        ):
            out[r["COLUMN_NAME"].lower()] = r["COLUMN_NAME"]
        return out

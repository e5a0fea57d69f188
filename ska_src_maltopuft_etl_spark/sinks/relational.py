"""Idempotent relational sink (SURVEY.md §2.2 K2-K5).

The reference loads each table with ``INSERT ... RETURNING id`` inside a
transaction, falling back to per-row get-or-insert on conflicts, and
remaps local → DB keys through a driver-side dict
(core/insert.py:26-119, core/database_loader.py:25-189).

Spark-first redesign (SURVEY.md §4.3): per-row statements and driver
dicts cannot scale, so

- surrogate keys are computed deterministically *in Spark* — batch-local
  ids before the sink (operators/dedup.py surrogate_key), final ids for
  novel rows inside :func:`incremental_load` by a ``row_number`` above the
  existing max — ids never come back from the database;
- idempotency is a MERGE-shaped upsert: anti-join new rows against the
  existing natural keys, append only the novel ones (exactly the
  semantics of ``INSERT ... ON CONFLICT DO NOTHING``);
- FK remap is a join against the parent table's keymap, not a dict; a
  non-NULL FK with no parent row in the batch raises, as the reference's
  FK constraints would reject it.

Two sinks: :func:`incremental_load` for parquet directories (tests /
lakehouse), which also reconciles ids and remaps FKs across batches, and
:func:`load_targets_on_conflict` for JDBC, which stages the batch and
resolves conflicts inside the database, as the reference does.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Sequence

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructType


@dataclass(frozen=True)
class TargetInformation:
    """Target table metadata (reference: core/target.py:11-57 introspects
    the live DB; declared statically here, or derived from a live schema
    by :func:`~.introspection.targets_from_jdbc`)."""

    table_name: str
    primary_key: str
    #: fk column name → parent table name (load-order DAG edges).
    foreign_keys: dict[str, str] = field(default_factory=dict)
    #: natural-key columns used for conflict detection (the reference's
    #: unique constraints).
    unique_key: tuple[str, ...] = ()
    #: further unique column sets beyond ``unique_key``: the reference's
    #: de-facto semantics are "conflict on ANY unique constraint"
    #: (SURVEY.md §7.3 risk 6 — Postgres raises on whichever trips
    #: first), so merge sinks anti-join on every set listed here too.
    extra_unique_keys: tuple[tuple[str, ...], ...] = ()

    @property
    def all_unique_keys(self) -> tuple[tuple[str, ...], ...]:
        head = (tuple(self.unique_key),) if self.unique_key else ()
        return head + tuple(tuple(k) for k in self.extra_unique_keys)


def _null_safe_key_condition(left_cols: Sequence[str], right_cols: Sequence[str]):
    """AND-fold of null-safe equality over paired key columns.

    Natural keys may legitimately contain NULL (e.g. sp_candidate
    plot_path); a plain equi-join never matches those rows, so every
    re-run would re-append them with fresh ids. ``eqNullSafe`` keys still
    plan as hash joins (EqualNullSafe is a supported equi-join key)."""
    cond = None
    for lc, rc in zip(left_cols, right_cols):
        e = F.col(lc).eqNullSafe(F.col(rc))
        cond = e if cond is None else (cond & e)
    return cond


#: MeerTRAP load order = the FK dependency DAG (meertrap/meertrap.py:173-197).
MEERTRAP_TARGETS: tuple[TargetInformation, ...] = (
    TargetInformation("schedule_block", "id", {}, ("start_at", "est_end_at")),
    TargetInformation(
        "meerkat_schedule_block", "id",
        {"schedule_block_id": "schedule_block"}, ("meerkat_id",),
    ),
    TargetInformation("host", "id", {}, ("ip_address", "hostname", "port")),
    TargetInformation(
        "coherent_beam_config", "id", {}, ("angle", "fraction_overlap", "x", "y")
    ),
    TargetInformation(
        "observation", "id",
        {"schedule_block_id": "schedule_block",
         "coherent_beam_config_id": "coherent_beam_config"},
        ("t_min",),
    ),
    TargetInformation(
        "tiling_config", "id", {"observation_id": "observation"},
        ("observation_id", "epoch", "nbeams", "overlap", "target"),
    ),
    TargetInformation(
        "beam", "id", {"observation_id": "observation", "host_id": "host"},
        ("number", "coherent", "observation_id"),
    ),
    TargetInformation(
        "candidate", "id", {"beam_id": "beam"},
        ("dm", "snr", "ra", "dec", "width", "observed_at", "beam_id"),
    ),
    TargetInformation(
        "sp_candidate", "id", {"candidate_id": "candidate"}, ("plot_path",)
    ),
)

ATNF_TARGETS: tuple[TargetInformation, ...] = (
    TargetInformation("catalogue", "id", {}, ("name",)),
    TargetInformation(
        "catalogue_visit", "id", {"catalogue_id": "catalogue"}, ("visited_at",)
    ),
    TargetInformation(
        "known_pulsar", "id", {"catalogue_visit_id": "catalogue_visit"},
        ("name", "catalogue_visit_id"),
    ),
)


def incremental_load(
    spark: SparkSession,
    tables: dict[str, DataFrame],
    targets: Sequence[TargetInformation],
    output_dir: str,
) -> dict[str, DataFrame]:
    """Idempotent incremental load with id reconciliation (K4 + J9).

    The reference loads each table with INSERT..RETURNING and keeps a
    driver dict of local→DB ids that downstream tables use to remap
    their FKs (core/database_loader.py:25-189). Distributed equivalent,
    in FK order, first numbering every table (steps 1-4) and only then
    appending (step 5), so a call that raises writes nothing:

    1. remap this table's FK columns through the parents' keymaps
       (joins — J9). NULL FKs stay NULL; a non-NULL FK with no row in
       its parent's batch raises, naming the table and column (the
       reference's FK constraints reject it);
    2. match rows against the existing table on the natural key
       (left joins) — matches adopt the existing id;
    3. novel rows get fresh contiguous ids above the existing max, in
       local-id order (a ``row_number`` window); each row's final id —
       existing or fresh — is pinned ONCE per table with
       ``localCheckpoint``, whose job also counts the novel rows and
       the orphan FKs;
    4. the (local id → final id) keymap that feeds children and the
       append below are both plain projections of that one pinned frame;
    5. only novel rows are appended (merge semantics — K3/K4); a table
       that gains none gets no file.

    A table whose path does not exist (on its Hadoop filesystem, with
    the session's Hadoop conf, as the reader sees it) is a first load; a
    table that exists but cannot be read raises rather than being
    renumbered from 1. The per-table checkpoints are held until every
    table is appended and released before the call returns or raises;
    the returned frames are re-reads of the written tables, with the
    schema the call already holds (the existing table's, or the appended
    frame's on a first load), and the caller's caches are left alone.

    Re-running the same batch is a no-op; partially-overlapping batches
    append only the new rows, with FKs pointing at the surviving ids.
    """
    hadoop_conf = spark._jsparkSession.sessionState().newHadoopConf()  # noqa: SLF001
    keymaps: dict[str, DataFrame] = {}
    appends: list[tuple[str, DataFrame]] = []
    # each table's schema after the call, so the re-read runs no
    # schema-inference job
    schemas: dict[str, StructType] = {}
    pinned: list[DataFrame] = []
    try:
        for target in targets:
            name, pk = target.table_name, target.primary_key
            df = tables[name]
            orphan_flags: dict[str, str] = {}
            for fk_col, parent in target.foreign_keys.items():
                if parent not in keymaps:
                    continue
                flag = orphan_flags[fk_col] = f"__orphan_{fk_col}"
                # keymaps scale with the batch's table size (fact tables
                # can be huge) — no forced broadcast; AQE decides.
                df = (
                    df.join(keymaps[parent], F.col(fk_col) == F.col("__old"), "left")
                    .withColumn(flag, F.col(fk_col).isNotNull() & F.col("__new").isNull())
                    .withColumn(fk_col, F.col("__new"))
                    .drop("__old", "__new")
                )
            path = f"{output_dir}/{name}.parquet"
            jpath = spark._jvm.org.apache.hadoop.fs.Path(path)  # noqa: SLF001
            existing = (
                spark.read.parquet(path)
                if jpath.getFileSystem(hadoop_conf).exists(jpath)
                else None
            )

            # Match against EVERY unique constraint, like
            # load_targets_on_conflict — a table with extra_unique_keys
            # must not get weaker dedup on the incremental path. The
            # first set that matches wins (coalesce order = constraint
            # declaration order, deterministic).
            key_sets = [list(ks) for ks in target.all_unique_keys] or [
                [c for c in tables[name].columns if c != pk]
            ]
            if existing is not None:
                eids = []
                for si, nk in enumerate(key_sets):
                    aliased = [f"__nk{si}_{i}" for i in range(len(nk))]
                    eid = f"__eid{si}"
                    match = existing.select(
                        *[F.col(c).alias(a) for c, a in zip(nk, aliased)],
                        F.col(pk).alias(eid),
                    ).dropDuplicates(aliased)
                    # existing tables grow without bound — let AQE pick
                    # the join strategy instead of forcing a broadcast.
                    # Null-safe equality so NULL key columns (e.g.
                    # sp_candidate plot_path) match on re-runs instead of
                    # re-appending with fresh ids.
                    df = df.join(
                        match, _null_safe_key_condition(nk, aliased), "left"
                    ).drop(*aliased)
                    eids.append(eid)
                df = df.withColumn(
                    "__existing_id", F.coalesce(*[F.col(e) for e in eids])
                ).drop(*eids)
                offset_row = existing.agg(F.max(pk).alias("m")).first()
                offset = int(offset_row["m"] or 0)
            else:
                df = df.withColumn("__existing_id", F.lit(None).cast("long"))
                offset = 0

            is_novel = F.col("__existing_id").isNull()
            novel_id = F.row_number().over(Window.partitionBy(is_novel).orderBy(pk)) + offset
            # The keymap's lineage would drag the ENTIRE upstream
            # pipeline DAG into every child table's plan — after a few
            # tables the combined plan string alone can OOM the driver.
            # Eagerly localCheckpoint to truncate lineage at each table
            # boundary; its job also counts novel rows and orphan FKs.
            seen = Observation()
            numbered = (
                df.withColumn("__final_id", F.coalesce("__existing_id", novel_id.cast("long")))
                .observe(
                    seen,
                    F.count_if(is_novel).alias("novel"),
                    *[F.count_if(flag).alias(flag) for flag in orphan_flags.values()],
                )
                .drop(*orphan_flags.values())
                .localCheckpoint()
            )
            pinned.append(numbered)
            metrics = seen.get
            for fk_col, flag in orphan_flags.items():
                if metrics[flag]:
                    raise ValueError(
                        f"{name}.{fk_col}: {metrics[flag]} rows reference no "
                        f"{target.foreign_keys[fk_col]} row in this batch"
                    )
            keymaps[name] = numbered.select(
                F.col(pk).alias("__old"), F.col("__final_id").alias("__new")
            ).dropDuplicates(["__old"])
            novel = (
                numbered.where(is_novel)
                .withColumn(pk, F.col("__final_id"))
                .select(*tables[name].columns)
            )
            # A rerun appends nothing: skip the empty file. A missing
            # table is still written, so an empty first batch creates it.
            if existing is None or metrics["novel"]:
                appends.append((path, novel))
            schemas[name] = (novel if existing is None else existing).schema
        for path, novel in appends:
            novel.write.mode("append").option("compression", "gzip").parquet(path)
        loaded = {
            t.table_name: spark.read.schema(schemas[t.table_name]).parquet(
                f"{output_dir}/{t.table_name}.parquet"
            )
            for t in targets
        }
    finally:
        sc = spark.sparkContext._jsc.sc()  # noqa: SLF001
        for numbered in pinned:
            # The checkpoint's own RDD: a caller's cache, perhaps first
            # materialized inside this call, stays. SparkContext's
            # unpersistRDD is what RDD.unpersist calls, without the
            # warning that a local checkpoint cannot be recomputed.
            rdd = numbered._jdf.logicalPlan().rdd()  # noqa: SLF001
            sc.unpersistRDD(rdd.id(), False)
    return loaded


def load_targets_on_conflict(
    spark: SparkSession,
    tables: dict[str, DataFrame],
    targets: Sequence[TargetInformation],
    jdbc_url: str,
    jdbc_properties: dict[str, str] | None = None,
) -> dict[str, DataFrame]:
    """Executable twin of the reference's ``INSERT .. ON CONFLICT DO
    NOTHING`` round trip (reference core/insert.py:76-119), set-based.

    Conflicts are resolved **inside the database**, so there is no
    read-modify-write race window between a snapshot read of the target
    and the append:

    1. the batch is staged with ``DataFrameWriter.jdbc`` (bulk write,
       Spark-parallel — never per-row statements);
    2. ONE set-based statement per table moves staged rows into the
       target: ``INSERT ... SELECT ... ON CONFLICT DO NOTHING`` on
       PostgreSQL (conflicting on ANY unique constraint, exactly the
       reference's de-facto semantics — SURVEY.md §7.3 risk 6), or the
       vanilla-SQL ``INSERT ... SELECT ... WHERE NOT EXISTS`` per unique
       key set elsewhere (embedded Derby in tests);
    3. the staging table is dropped.

    The scale shape is right for 100 TB loads: Spark does the heavy
    distributed write into staging, the database does one indexed merge
    — no driver-side row loops, no ids shipped back (surrogate keys are
    deterministic Spark-side, as everywhere in this sink).

    Conflict semantics are Postgres's (and therefore the reference's):

    - **NULLS DISTINCT**: a unique constraint never fires for rows with
      NULL in a key column, so NULL-keyed rows always insert — on every
      run, on both backends. The vanilla ``NOT EXISTS`` guard uses plain
      equality (NULL comparisons are unknown → the guard passes), and
      the Spark-side intra-batch dedup skips NULL-keyed rows to match.
      Callers who need NULL-keyed idempotency should use
      :func:`incremental_load`, whose null-safe matching is documented
      there.
    - **any unique constraint conflicts, including the primary key**:
      the vanilla branch also guards on the PK so a staged row that
      collides only on its PK is skipped like any other conflict instead
      of aborting the whole set-based INSERT.
    - intra-batch duplicates (non-NULL keys) are collapsed in Spark
      first (``ON CONFLICT`` dedupes within a statement; ``NOT EXISTS``
      does not — normalizing in Spark keeps both backends identical).
    """
    from ska_src_maltopuft_etl_spark.sinks.introspection import (
        check_identifier,
        execute_jdbc_sql,
        stored_column_names,
    )

    props = jdbc_properties or {}
    is_postgres = jdbc_url.startswith("jdbc:postgresql")
    loaded: dict[str, DataFrame] = {}
    for target in targets:
        name = check_identifier(target.table_name)
        stage = check_identifier(f"{name}_stage")
        df = tables[name]
        df = df.dropDuplicates([target.primary_key])
        for ks in target.all_unique_keys:
            # NULLS DISTINCT: only rows with a fully non-NULL key can
            # conflict — dedup those; NULL-keyed rows pass through
            # untouched (they all insert, exactly as ON CONFLICT would).
            # One window pass per key set, referencing df ONCE — a
            # where/union split would reference (and recompute) the
            # whole upstream plan twice per constraint, doubling the
            # subtree for every additional unique key set.
            nonnull = None
            for c in ks:
                e = F.col(c).isNotNull()
                nonnull = e if nonnull is None else (nonnull & e)
            w = Window.partitionBy(*ks).orderBy(F.col(target.primary_key))
            df = (
                df.withColumn("__rn", F.row_number().over(w))
                .where((F.col("__rn") == 1) | ~nonnull)
                .drop("__rn")
            )

        # ensure the target exists (Spark creates it on first append —
        # without unique constraints; pre-create with real DDL to get
        # database-enforced conflicts, as the reference's schema does).
        try:
            spark.read.jdbc(jdbc_url, name, properties=props).schema
        except Exception:
            df.limit(0).write.jdbc(jdbc_url, name, mode="append", properties=props)

        df.write.jdbc(jdbc_url, stage, mode="overwrite", properties=props)

        # Identifier case: unquoted DDL folds names (up on Derby, down
        # on Postgres) while Spark's JDBC writer QUOTES DataFrame column
        # names verbatim — so target and staging may store different
        # cases for the same column. Quote every identifier with its
        # own stored case, resolved from the catalog.
        tcols = stored_column_names(spark, jdbc_url, name, props)
        scols = stored_column_names(spark, jdbc_url, stage, props)

        def tq(c: str) -> str:
            return '"' + tcols[c.lower()] + '"'

        def sq(c: str) -> str:
            return '"' + scols[c.lower()] + '"'

        # Spark's Derby dialect maps StringType to CLOB (both when it
        # creates the staging table and in setNull on append — so the
        # stage CANNOT be pre-typed VARCHAR), and Derby supports no
        # comparison operators on LOBs at all: a string unique key in
        # the NOT EXISTS guard raises ERROR 42818 (found by the
        # batch-order commutativity property test). CAST both sides of
        # every string-key comparison, and the staged value in the
        # insert list, to VARCHAR(32672) — Derby's maximum; longer
        # values raise truncation rather than silently merging wrong.
        # Postgres maps StringType to TEXT and is unaffected (its
        # branch below uses the columns bare).
        str_cols = {
            f.name.lower()
            for f in df.schema.fields
            if isinstance(f.dataType, StringType)
        }

        def scast(c: str) -> str:
            v = f"s.{sq(c)}"
            return f"CAST({v} AS VARCHAR(32672))" if c.lower() in str_cols else v

        def tcast(c: str) -> str:
            v = f"t.{tq(c)}"
            return f"CAST({v} AS VARCHAR(32672))" if c.lower() in str_cols else v

        insert_cols = ", ".join(tq(c) for c in df.columns)
        select_cols = ", ".join(f"s.{sq(c)}" for c in df.columns)
        if is_postgres:
            merge = (
                f'INSERT INTO "{name}" ({insert_cols}) '
                f'SELECT {select_cols} FROM "{stage}" s '
                "ON CONFLICT DO NOTHING"
            )
        else:
            guards = []
            # PK conflicts are skipped like any other unique conflict
            # (Postgres's bare ON CONFLICT DO NOTHING covers the PK's
            # unique index too; without this guard one PK collision
            # would abort the whole set-based INSERT).
            pk_sets = ((target.primary_key,),) + target.all_unique_keys
            for ks in pk_sets:
                # Plain equality = NULLS DISTINCT (a NULL key column
                # makes the comparison unknown, the EXISTS finds no
                # match, and the row inserts — Postgres semantics).
                match = " AND ".join(f"{tcast(c)} = {scast(c)}" for c in ks)
                guards.append(
                    f"NOT EXISTS (SELECT 1 FROM {name} t WHERE {match})"
                )
            where = f" WHERE {' AND '.join(guards)}" if guards else ""
            # CLOB is not assignable to VARCHAR either — cast staged
            # string values in the insert list too (VARCHAR assigns
            # fine to both VARCHAR and CLOB targets).
            cast_cols = ", ".join(scast(c) for c in df.columns)
            merge = (
                f"INSERT INTO {name} ({insert_cols}) "
                f"SELECT {cast_cols} FROM {stage} s{where}"
            )
        execute_jdbc_sql(
            spark, jdbc_url, [merge, f"DROP TABLE {stage}"], properties=props
        )
        loaded[name] = spark.read.jdbc(jdbc_url, name, properties=props)
    return loaded

"""The benchmark's workloads and their output checks.

Each workload builds its inputs once per run from the seed, in its
constructor, then runs closed-loop iterations into a fresh output location. An
untraced iteration makes exactly the engine calls a user makes; a traced
one wraps each layer call in a span. Output checks run in DuckDB over the
written parquet, so they share no code with the engine.
"""

from __future__ import annotations

import datetime as dt
import os
from contextlib import ExitStack, contextmanager

import duckdb
import pyarrow.parquet as pq
from pyspark import StorageLevel
from pyspark.sql import SparkSession

import gen
from spans import Tracer
from ska_src_maltopuft_etl_spark.plans.atnf import atnf_run
from ska_src_maltopuft_etl_spark.plans.meertrap import candidate as candidate_plan
from ska_src_maltopuft_etl_spark.plans.meertrap import observation as observation_plan
from ska_src_maltopuft_etl_spark.plans.meertrap import pipeline as pipeline_plan
from ska_src_maltopuft_etl_spark.plans.meertrap import meertrap_run
from ska_src_maltopuft_etl_spark.sinks import ATNF_TARGETS, MEERTRAP_TARGETS, incremental_load

#: child table, FK column, parent table
MEERTRAP_FKS = (
    ("meerkat_schedule_block", "schedule_block_id", "schedule_block"),
    ("observation", "schedule_block_id", "schedule_block"),
    ("observation", "coherent_beam_config_id", "coherent_beam_config"),
    ("tiling_config", "observation_id", "observation"),
    ("beam", "observation_id", "observation"),
    ("beam", "host_id", "host"),
    ("candidate", "beam_id", "beam"),
    ("sp_candidate", "candidate_id", "candidate"),
)
ATNF_FKS = (
    ("catalogue_visit", "catalogue_id", "catalogue"),
    ("known_pulsar", "catalogue_visit_id", "catalogue_visit"),
)
ATNF_TABLES = ("catalogue", "catalogue_visit", "known_pulsar")

#: steps the MeerTRAP transforms call through their module's globals:
#: (module, function, span). A traced ``tree_ingest`` iteration swaps in
#: wrappers that open these spans inside the enclosing transform's span.
STEP_SPANS = (
    (observation_plan, "get_obs_df", "plans.meertrap.observation.get_obs_df"),
    (candidate_plan, "transform_candidate", "plans.meertrap.candidate.transform_candidate"),
    (candidate_plan, "deduplicate_candidates", "plans.meertrap.candidate.deduplicate_candidates"),
    (candidate_plan, "transform_sp_candidate", "plans.meertrap.candidate.transform_sp_candidate"),
)

#: every span either workload opens, with the counts it records beside
#: the Spark totals of its jobs
SPAN_COUNTS = {
    "sources.run_summary": ("files_seen", "rows_out"),
    "sources.spccl": ("files_seen", "rows_out"),
    "plans.meertrap.observation": ("pinned_mb",),
    "plans.meertrap.candidate": ("pinned_mb",),
    **{name: ("pinned_mb",) for _, _, name in STEP_SPANS},
    "sinks.parquet": ("files_written", "bytes_mb", "rows_written"),
    **{
        f"sinks.incremental_load.{step}": (
            "rows_offered", "rows_appended", "appended_frac", "files_written",
            "pinned_rdds_after",
        )
        for step in ("batch_a", "batch_b", "rerun_b", "atnf")
    },
    "plans.atnf": (),
}


#: Spark totals printed per span; the trace file keeps all of them
PRINTED_TOTALS = ("run_s", "cpu_s", "tasks", "shuffle_mb")


def _unit(metric: str) -> str:
    for suffix, unit in (("_s", "s"), ("_mb", "MB"), ("_frac", "ratio")):
        if metric.endswith(suffix):
            return unit
    return "count"


def layer_metrics() -> dict[str, str]:
    """Name → unit of every per-layer metric a traced run prints. Spans a
    workload does not open read 0."""
    names = [
        f"{span}.{m}"
        for span, counts in SPAN_COUNTS.items()
        for m in ("wall_s", "jobs") + PRINTED_TOTALS + counts
    ]
    names += ["jvm.peak_rss_mb", "traced_first_run_s", "trace_overhead_s"]
    return {n: _unit(n) for n in names}


VISITED_AT = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)


# --------------------------------------------------------------------------
# filesystem and storage counts (no Spark jobs)
# --------------------------------------------------------------------------

def _parquet_files(table_dir: str) -> list[str]:
    if not os.path.isdir(table_dir):
        return []
    return [
        os.path.join(table_dir, f)
        for f in sorted(os.listdir(table_dir))
        if f.endswith(".parquet") and not f.startswith(".")
    ]


def table_rows(root: str, tables) -> dict[str, int]:
    """Row count of each parquet table directory, from file footers."""
    return {
        t: sum(pq.ParquetFile(f).metadata.num_rows for f in _parquet_files(f"{root}/{t}.parquet"))
        for t in tables
    }


def written_files(root: str, tables) -> tuple[int, float]:
    """(number of parquet files, their size in MB) under ``root``."""
    files = [f for t in tables for f in _parquet_files(f"{root}/{t}.parquet")]
    return len(files), sum(os.path.getsize(f) for f in files) / 1e6


def files_seen(tree: str, suffix: str) -> int:
    return sum(1 for _, _, fs in os.walk(tree) for f in fs if suffix in f)


def pinned_mb(spark: SparkSession) -> float:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()  # noqa: SLF001
    return sum(i.memSize() + i.diskSize() for i in infos) / 1e6


def pinned_rdds(spark: SparkSession) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()  # noqa: SLF001


@contextmanager
def swapped(module, wrappers: dict):
    """Replace ``module.<name>`` by ``wrap(original)`` for each name →
    wrap in ``wrappers`` while open; the module's callers look the name
    up at call time, so they call the wrapper."""
    saved = {fn: getattr(module, fn) for fn in wrappers}
    for fn, wrap in wrappers.items():
        setattr(module, fn, wrap(saved[fn]))
    try:
        yield
    finally:
        for fn, call in saved.items():
            setattr(module, fn, call)


def traced_meertrap(spark: SparkSession, tracer: Tracer, out: str) -> ExitStack:
    """Route ``meertrap_run``'s layer calls through spans while open.

    The readers get a span each and their frames are persisted and
    counted inside it, as ``meertrap_run`` persists them, so the scan
    lands in ``sources``. The transforms get a span each, and the steps of
    ``STEP_SPANS`` a child span. ``sinks.parquet`` opens when
    ``transform_spccl`` returns and closes with the stack, after
    ``meertrap_run`` has written its tables: the span holds the write and
    the lazy work it forces.
    """

    def reader(name: str, suffix: str):
        def wrap(call):
            def wrapper(spark_, data_dir, *args, **kwargs):
                with tracer.span(name) as s:
                    df = call(spark_, data_dir, *args, **kwargs)
                    df = df.persist(StorageLevel.MEMORY_AND_DISK)
                    s.counts["rows_out"] = df.count()
                with tracer.bookkeeping():
                    s.counts["files_seen"] = files_seen(data_dir, suffix)
                return df

            return wrapper

        return wrap

    def transform(name: str, then=None):
        def wrap(call):
            def wrapper(*args, **kwargs):
                with tracer.span(name) as s:
                    out_ = call(*args, **kwargs)
                with tracer.bookkeeping():
                    s.counts["pinned_mb"] = pinned_mb(spark)
                if then is not None:
                    then()
                return out_

            return wrapper

        return wrap

    sink = []

    def close_sink() -> None:
        for s in sink:
            tracer.close(s)
            with tracer.bookkeeping():
                s.counts["files_written"], s.counts["bytes_mb"] = written_files(
                    out, gen.TREE_TABLES
                )
                s.counts["rows_written"] = sum(table_rows(out, gen.TREE_TABLES).values())

    stack = ExitStack()
    stack.callback(close_sink)
    stack.enter_context(swapped(pipeline_plan, {
        "read_run_summaries": reader("sources.run_summary", "run_summary.json"),
        "read_spccl": reader("sources.spccl", "spccl"),
        "transform_observation": transform("plans.meertrap.observation"),
        "transform_spccl": transform(
            "plans.meertrap.candidate", then=lambda: sink.append(tracer.open("sinks.parquet"))
        ),
    }))
    for mod, fn, name in STEP_SPANS:
        stack.enter_context(swapped(mod, {fn: transform(name)}))
    return stack


# --------------------------------------------------------------------------
# checks
# --------------------------------------------------------------------------

def _view(con, root: str, t: str) -> None:
    con.execute(
        f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{root}/{t}.parquet/*.parquet')"
    )


def check_tables(
    root: str,
    truth: dict[str, int],
    fks,
    id_max: dict[str, int] | None = None,
) -> list[str]:
    """Row counts equal ``truth``; ids run 1..n (or, for tables in
    ``id_max``, are distinct and within 1..max); every FK resolves; every
    candidate lies inside the observation its beam belongs to."""
    problems = []
    con = duckdb.connect()
    try:
        for t in truth:
            _view(con, root, t)
        for t, want in truth.items():
            n, n_ids, lo, hi = con.execute(
                f"SELECT count(*), count(DISTINCT id), min(id), max(id) FROM {t}"
            ).fetchone()
            if n != want:
                problems.append(f"{t}: {n} rows, expected {want}")
            top = (id_max or {}).get(t, n)
            if n and (n_ids != n or lo != 1 or hi > top or (t not in (id_max or {}) and hi != n)):
                problems.append(f"{t}: ids not 1..{n} (distinct {n_ids}, min {lo}, max {hi})")
        for child, col, parent in fks:
            (orphans,) = con.execute(
                f"SELECT count(*) FROM {child} c ANTI JOIN {parent} p ON c.{col} = p.id"
            ).fetchone()
            if orphans:
                problems.append(f"{child}.{col}: {orphans} rows without a {parent}")
        if "candidate" in truth:
            (outside,) = con.execute(
                f"""SELECT count(*) FROM candidate c
                    JOIN beam b ON c.beam_id = b.id
                    JOIN observation o ON b.observation_id = o.id
                    WHERE CAST(c.observed_at AS TIMESTAMP) < CAST(o.t_min AS TIMESTAMP)
                       OR CAST(c.observed_at AS TIMESTAMP) > CAST(o.t_min AS TIMESTAMP)
                          + INTERVAL {gen.OBS_LENGTH_S} SECOND"""
            ).fetchone()
            if outside:
                problems.append(f"candidate: {outside} rows outside their beam's observation")
    finally:
        con.close()
    return problems


# --------------------------------------------------------------------------
# workloads
# --------------------------------------------------------------------------

class TreeIngest:
    """``meertrap_run`` over a seeded candidate-directory tree, writing
    the 9 tables as parquet, with ``validate`` at its CLI default."""

    name = "tree_ingest"

    def __init__(self, work: str, seed: int, scale: float = 1.0):
        self.tree = f"{work}/tree/{dt.date(2023, 11, 20) + dt.timedelta(days=seed % 365)}"
        u = gen.make_universe(seed, max(1, round(6 * scale)))
        self.truth = gen.write_tree(u, self.tree, seed)

    def iteration(self, spark: SparkSession, tracer: Tracer, out: str) -> None:
        if not tracer.enabled:
            meertrap_run(spark, self.tree, output_dir=out)
            return
        with traced_meertrap(spark, tracer, out):
            meertrap_run(spark, self.tree, output_dir=out)

    def check(self, out: str) -> list[str]:
        truth = {t: self.truth[t] for t in gen.TREE_TABLES}
        # candidate ids are numbered before the late copies are dropped
        return check_tables(
            out, truth, MEERTRAP_FKS, id_max={"candidate": self.truth["candidate_raw"]}
        )


class WarehouseLoad:
    """Batch A, overlapping batch B, B again, then one ATNF visit, all
    loaded with ``incremental_load`` into a fresh parquet warehouse."""

    name = "warehouse_load"

    def __init__(self, work: str, seed: int, scale: float = 1.0):
        u = gen.make_universe(seed, max(1, round(16 * scale)))
        n_pulsars = max(10, round(3700 * scale))
        n_obs = len(u.obs)
        # B overlaps half of A's observations
        a_obs = list(range(0, n_obs * 3 // 5))
        b_obs = list(range(n_obs * 3 // 10, n_obs))
        self.batches = {"batch_a": f"{work}/batch_a", "batch_b": f"{work}/batch_b"}
        gen.write_batch(u, a_obs, self.batches["batch_a"], "2023-11-20")
        gen.write_batch(u, b_obs, self.batches["batch_b"], "2023-11-20")
        truth_a = gen.batch_truth(u, a_obs)
        truth_b = gen.batch_truth(u, b_obs)
        self.truth = gen.batch_truth(u, sorted(set(a_obs) | set(b_obs)))
        self.offered = {"batch_a": truth_a, "batch_b": truth_b, "rerun_b": truth_b}
        after_b = {t: self.truth[t] - truth_a[t] for t in gen.TREE_TABLES}
        self.expected_appended = {
            "batch_a": truth_a,
            "batch_b": after_b,
            "rerun_b": dict.fromkeys(gen.TREE_TABLES, 0),
        }
        self.atnf = gen.atnf_frame(seed, n_pulsars)
        self.atnf_truth = {"catalogue": 1, "catalogue_visit": 1, "known_pulsar": n_pulsars}
        self.appended: dict[str, dict[str, int]] = {}

    def iteration(self, spark: SparkSession, tracer: Tracer, out: str) -> None:
        self.appended = {}
        for step, batch in (("batch_a", "batch_a"), ("batch_b", "batch_b"), ("rerun_b", "batch_b")):
            before = table_rows(out, gen.TREE_TABLES)
            with tracer.bookkeeping():
                files_before = written_files(out, gen.TREE_TABLES)[0]
            with tracer.span(f"sinks.incremental_load.{step}") as s:
                tables = {
                    t: spark.read.parquet(f"{self.batches[batch]}/{t}.parquet")
                    for t in gen.TREE_TABLES
                }
                incremental_load(spark, tables, MEERTRAP_TARGETS, out)
            after = table_rows(out, gen.TREE_TABLES)
            self.appended[step] = {t: after[t] - before[t] for t in gen.TREE_TABLES}
            if tracer.enabled:
                offered = sum(self.offered[step].values())
                appended = sum(self.appended[step].values())
                with tracer.bookkeeping():
                    s.counts.update(
                        rows_offered=offered,
                        rows_appended=appended,
                        appended_frac=appended / offered,
                        files_written=written_files(out, gen.TREE_TABLES)[0] - files_before,
                        pinned_rdds_after=pinned_rdds(spark),
                    )
        with tracer.span("plans.atnf"):
            tables = atnf_run(spark, self.atnf.copy, visited_at=VISITED_AT)
        with tracer.span("sinks.incremental_load.atnf") as s:
            incremental_load(spark, tables, ATNF_TARGETS, out)
        if tracer.enabled:
            with tracer.bookkeeping():
                appended = sum(table_rows(out, ATNF_TABLES).values())
                offered = sum(self.atnf_truth.values())
                s.counts.update(
                    rows_offered=offered,
                    rows_appended=appended,
                    appended_frac=appended / offered,
                    files_written=written_files(out, ATNF_TABLES)[0],
                    pinned_rdds_after=pinned_rdds(spark),
                )

    def check(self, out: str) -> list[str]:
        problems = [
            f"{step}: appended {got}, expected {want}"
            for step, want in self.expected_appended.items()
            if (got := self.appended.get(step)) != want
        ]
        problems += check_tables(out, self.truth, MEERTRAP_FKS)
        problems += check_tables(out, self.atnf_truth, ATNF_FKS)
        return problems


WORKLOADS = {w.name: w for w in (TreeIngest, WarehouseLoad)}

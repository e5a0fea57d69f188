"""Spans and Spark accounting, recorded from outside the engine.

A span wraps one call into an engine layer. While it is open, every job
the call submits carries the span's name as its Spark job group, so its
stages can be found again in the application status store afterwards.
Spans nest: a child span takes over the job group until it closes, and
a span's totals include those of its children. Spans are kept in memory;
the status store is read once, after the iteration, and the totals are
folded into the span records.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql import SparkSession

#: Sessions keep every job and stage in the status store, so that the
#: accounting of one iteration can be read back in full. At the default of
#: 1000, stages of one traced iteration were evicted before they could be
#: read. Below the default, the setting changes nothing: the store evicts
#: only once the limit is passed.
STATUS_CONF = {
    "spark.ui.retainedJobs": "100000",
    "spark.ui.retainedStages": "100000",
}

_MB = 1e6


@dataclass
class Span:
    name: str
    start: float
    parent: str | None = None
    end: float = 0.0
    counts: dict[str, float] = field(default_factory=dict)


class Tracer:
    """Opens spans as Spark job groups; a disabled tracer only runs the
    wrapped code, so untraced iterations do the same calls."""

    def __init__(self, spark: SparkSession, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self._open: list[str] = []
        #: wall time of the tracer's own work inside the iteration: job
        #: group calls and the counts gathered beside each span
        self.overhead_s = 0.0

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        s = self.open(name)
        try:
            yield s
        finally:
            self.close(s)

    @contextmanager
    def bookkeeping(self):
        """Time a stretch of the tracer's own work into ``overhead_s``."""
        t = time.perf_counter()
        try:
            yield
        finally:
            self.overhead_s += time.perf_counter() - t

    def open(self, name: str) -> Span:
        """Open a span that the caller closes with ``close``; for a span
        whose start and end lie in different calls."""
        with self.bookkeeping():
            parent = self._open[-1] if self._open else None
            self.spark.sparkContext.setJobGroup(name, name)
            self._open.append(name)
        return Span(name, time.perf_counter(), parent)

    def close(self, s: Span) -> None:
        s.end = time.perf_counter()
        with self.bookkeeping():
            sc = self.spark.sparkContext
            self._open.remove(s.name)
            if s.parent is None:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            else:
                sc.setJobGroup(s.parent, s.parent)
            self.spans.append(s)

    def metrics(self) -> dict[str, float]:
        """Per-span ``wall_s``, ``jobs``, Spark totals and the span's own
        counts, flattened to ``<span>.<metric>``. Totals are inclusive:
        a span's jobs are those of its group and of its children's."""
        groups = jobs_by_group(self.spark)
        stages = stage_table(self.spark)
        children: dict[str, list[str]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s.name)

        def subtree(name: str) -> list[str]:
            return [name] + [n for c in children.get(name, []) for n in subtree(c)]

        out: dict[str, float] = {}
        for s in self.spans:
            n_jobs, stage_ids = 0, set()
            for g in subtree(s.name):
                n, ids = groups.get(g, (0, set()))
                n_jobs += n
                stage_ids |= ids
            out[f"{s.name}.wall_s"] = s.end - s.start
            out[f"{s.name}.jobs"] = n_jobs
            for k, v in {**sum_stages(stages, stage_ids), **s.counts}.items():
                out[f"{s.name}.{k}"] = v
        return out

    def records(self) -> list[dict]:
        return [
            {"name": s.name, "parent": s.parent, "start": s.start, "end": s.end,
             "counts": s.counts}
            for s in self.spans
        ]


def _status_store(spark: SparkSession):
    sc = spark.sparkContext._jsc.sc()  # noqa: SLF001
    # listener events are applied asynchronously; drain them first so the
    # last stages of the iteration are in the store
    sc.listenerBus().waitUntilEmpty()
    return sc.statusStore()


def _seq(scala_seq):
    it = scala_seq.iterator()
    while it.hasNext():
        yield it.next()


def jobs_by_group(spark: SparkSession) -> dict[str | None, tuple[int, set[int]]]:
    """Job group → (number of jobs, stage ids of those jobs)."""
    out: dict[str | None, tuple[int, set[int]]] = {}
    for job in _seq(_status_store(spark).jobsList(None)):
        g = job.jobGroup()
        key = g.get() if g.isDefined() else None
        n, ids = out.get(key, (0, set()))
        ids.update(int(s) for s in _seq(job.stageIds()))
        out[key] = (n + 1, ids)
    return out


def jobs_from(spark: SparkSession, first_job: int) -> tuple[int, set[int]]:
    """(number of jobs, their stage ids) over every job numbered
    ``first_job`` or later. Fails if the status store has evicted one of
    those jobs, rather than undercount."""
    job_ids: set[int] = set()
    ids: set[int] = set()
    for job in _seq(_status_store(spark).jobsList(None)):
        if job.jobId() >= first_job:
            job_ids.add(job.jobId())
            ids.update(int(s) for s in _seq(job.stageIds()))
    if job_ids and len(job_ids) != max(job_ids) - first_job + 1:
        raise RuntimeError("jobs evicted from the status store")
    return len(job_ids), ids


def next_job_id(spark: SparkSession) -> int:
    ids = [j.jobId() for j in _seq(_status_store(spark).jobsList(None))]
    return max(ids) + 1 if ids else 0


#: totals summed over the stages of a span's jobs
SPARK_TOTALS = ("run_s", "cpu_s", "stages", "tasks", "shuffle_mb", "spill_mb", "input_mb")


def stage_table(spark: SparkSession) -> dict[int, dict[str, float]]:
    """Stage id → accounting summed over its attempts. A stage that ran no
    task (skipped because an earlier job computed it) is kept with zero
    totals, so that only stages evicted from the store are missing."""
    gw = spark.sparkContext._gateway  # noqa: SLF001
    no_quantiles = gw.new_array(gw.jvm.double, 0)
    out: dict[int, dict[str, float]] = {}
    stages = _status_store(spark).stageList(None, False, False, no_quantiles, None)
    for st in _seq(stages):
        n = st.numCompleteTasks()
        t = out.setdefault(st.stageId(), dict.fromkeys(SPARK_TOTALS, 0.0))
        t["stages"] = 1 if n or t["stages"] else 0
        t["tasks"] += n
        t["run_s"] += st.executorRunTime() / 1e3
        t["cpu_s"] += st.executorCpuTime() / 1e9
        t["shuffle_mb"] += st.shuffleWriteBytes() / _MB
        t["spill_mb"] += st.diskBytesSpilled() / _MB
        t["input_mb"] += st.inputBytes() / _MB
    return out


def sum_stages(table: dict[int, dict[str, float]], stage_ids: set[int]) -> dict[str, float]:
    """Totals over a set of stages; a stage shared by several jobs ran
    once and counts once. Fails if the status store has already evicted
    one of them, rather than undercount."""
    missing = stage_ids - table.keys()
    if missing:
        raise RuntimeError(f"{len(missing)} stages evicted from the status store")
    t = dict.fromkeys(SPARK_TOTALS, 0.0)
    for sid in stage_ids:
        for k, v in table[sid].items():
            t[k] += v
    return t

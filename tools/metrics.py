"""Spark's own accounting for the harness tools.

Every number the harness reports comes from here:

- ``measure(spark, label)`` runs a block under its own Spark job group
  and, on exit, sums the stages of the group's jobs from the application
  status store: wall, jobs, stages, tasks, executor run time, CPU time,
  GC time, shuffle read and write, spill, input and peak execution
  memory;
- ``best_of(spark, label, build, rounds)`` times one battery query: the
  fastest of ``rounds`` noop-sink writes, each under ``measure``;
- ``stream_totals(query)`` folds every progress event of a finished
  streaming query: batches, input rows over all batches, and the peak
  state rows and bytes of each stateful operator.

Both fail loudly rather than undercount: a job or stage the status store
has already evicted, or a progress event the query no longer holds,
raises. Sessions that ``measure`` many queries should be built with
``STATUS_CONF`` so the store keeps them.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from typing import Callable, Iterable, Iterator

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession

#: Keep every job and stage in the status store; at the default of 1000,
#: a long harness run evicts stages before they are read. Below the
#: default the setting changes nothing: the store evicts only past it.
STATUS_CONF = {
    "spark.ui.retainedJobs": "100000",
    "spark.ui.retainedStages": "100000",
}

#: totals of one measured block, besides ``wall_s`` and ``jobs``
TOTALS = (
    "stages", "tasks", "run_s", "cpu_s", "gc_s", "shuffle_read_mb",
    "shuffle_mb", "spill_mb", "input_mb", "peak_mem_mb",
)

_MB = 1e6


def _store(spark: SparkSession):
    sc = spark.sparkContext._jsc.sc()  # noqa: SLF001
    # listener events are applied asynchronously; drain them first so the
    # block's last jobs and stages are in the store
    sc.listenerBus().waitUntilEmpty()
    return sc.statusStore()


def _seq(scala_seq) -> Iterator:
    it = scala_seq.iterator()
    while it.hasNext():
        yield it.next()


def _next_job_id(store) -> int:
    # jobsList is ordered newest first
    newest = next(_seq(store.jobsList(None)), None)
    return newest.jobId() + 1 if newest is not None else 0


def _job(store, job_id: int):
    try:
        return store.job(job_id)
    except Py4JJavaError as e:  # the store's NoSuchElementException
        raise LookupError(
            f"job {job_id} is not in the status store (evicted or never run)"
        ) from e


def job_totals(spark: SparkSession, job_ids: Iterable[int]) -> dict[str, float]:
    """Stage totals over the given jobs. A stage shared by several jobs
    ran once and counts once; a stage skipped because an earlier job
    computed it ran no task and adds nothing. Raises ``LookupError`` if
    the status store does not hold one of the jobs or their stages."""
    store = _store(spark)
    stage_ids: set[int] = set()
    for jid in job_ids:
        stage_ids.update(int(s) for s in _seq(_job(store, jid).stageIds()))
    gw = spark.sparkContext._gateway  # noqa: SLF001
    no_quantiles = gw.new_array(gw.jvm.double, 0)
    t = dict.fromkeys(TOTALS, 0)
    for sid in stage_ids:
        try:
            attempts = store.stageData(sid, False, None, False, no_quantiles)
        except Py4JJavaError as e:
            raise LookupError(f"stage {sid} is not in the status store") from e
        ran = False
        for st in _seq(attempts):
            n = st.numCompleteTasks()
            ran = ran or n > 0
            t["tasks"] += n
            t["run_s"] += st.executorRunTime() / 1e3
            t["cpu_s"] += st.executorCpuTime() / 1e9
            t["gc_s"] += st.jvmGcTime() / 1e3
            t["shuffle_read_mb"] += st.shuffleReadBytes() / _MB
            t["shuffle_mb"] += st.shuffleWriteBytes() / _MB
            t["spill_mb"] += st.diskBytesSpilled() / _MB
            t["input_mb"] += st.inputBytes() / _MB
            # a stage's peak execution memory is the sum of its tasks'
            # peaks; report the largest stage
            t["peak_mem_mb"] = max(t["peak_mem_mb"], st.peakExecutionMemory() / _MB)
        t["stages"] += ran
    return {k: round(v, 3) for k, v in t.items()}


@contextmanager
def measure(spark: SparkSession, label: str) -> Iterator[dict[str, float]]:
    """Run the block as one Spark job group and fill the yielded dict,
    on a clean exit, with ``wall_s``, ``jobs`` and the ``TOTALS`` of the
    group's jobs. Raises ``LookupError`` if the status store has evicted
    any job started inside the block."""
    sc = spark.sparkContext
    first = _next_job_id(_store(spark))
    # blocks that run jobs open at distinct next-job ids, so no earlier
    # block's jobs share this group
    group = f"{label}@{first}"
    sc.setJobGroup(group, label)
    rec: dict[str, float] = {}
    t0 = time.perf_counter()
    try:
        yield rec
    finally:
        wall = time.perf_counter() - t0
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    store = _store(spark)
    ids = sorted(sc.statusTracker().getJobIdsForGroup(group))
    # every job started since the block opened must still be held, or
    # the group's own list may be missing the evicted ones
    if ids:
        for jid in range(first, ids[-1] + 1):
            _job(store, jid)
    rec.update(wall_s=round(wall, 3), jobs=len(ids), **job_totals(spark, ids))


def best_of(
    spark: SparkSession, label: str, build: Callable[[], DataFrame], rounds: int
) -> dict[str, float]:
    """The fastest of ``rounds`` executions of ``build()``'s frame. Each
    round builds the frame and writes it to the ``noop`` sink inside one
    ``measure`` block; the sink materializes every output column, where a
    ``count()`` would let Catalyst prune the final projection. After each
    round the RDDs persisted during it are unpersisted, so the pins a
    query makes do not weigh on the next round, while those made before
    the call (a harness's fixtures) survive. Returns the fastest round's
    ``measure`` record plus ``build_s``, the time ``build()`` took,
    including any jobs the query runs while building."""
    jsc = spark.sparkContext._jsc  # noqa: SLF001
    best: dict[str, float] | None = None
    for _ in range(rounds):
        before = set(jsc.getPersistentRDDs().keys())
        with measure(spark, label) as m:
            t0 = time.perf_counter()
            df = build()
            build_s = time.perf_counter() - t0
            df.write.format("noop").mode("overwrite").save()
        for rdd_id, rdd in jsc.getPersistentRDDs().items():
            if rdd_id not in before:
                rdd.unpersist()
        if best is None or m["wall_s"] < best["wall_s"]:
            best = {**m, "build_s": round(build_s, 3)}
    return best


def stream_totals(query) -> dict:
    """Totals over every progress event of a finished streaming query:
    ``batches``, ``rows_in`` summed over all batches, and per stateful
    operator its peak ``state_rows`` and ``state_bytes``. Raises
    ``LookupError`` if the query no longer holds one of its progress
    events (it keeps the last
    ``spark.sql.streaming.numRecentProgressUpdates``)."""
    progress = query.recentProgress
    events: dict[int, dict] = {}
    for p in progress:
        # an idle trigger repeats a batch id with no input; keep the batch
        seen = events.get(p["batchId"])
        if seen is None or p["numInputRows"] >= seen["numInputRows"]:
            events[p["batchId"]] = p
    ids = sorted(events)
    if ids and ids != list(range(ids[0], ids[-1] + 1)):
        raise LookupError(f"progress events missing between batches {ids[0]} and {ids[-1]}")
    limit = int(SparkSession.active().conf.get(
        "spark.sql.streaming.numRecentProgressUpdates", "100"))
    if ids and ids[0] > 0 and len(progress) >= limit:
        raise LookupError(f"progress events before batch {ids[0]} were dropped")
    state: list[dict] = []
    for bid in ids:
        for i, op in enumerate(events[bid]["stateOperators"]):
            if i == len(state):
                state.append({"operator": op["operatorName"], "state_rows": 0, "state_bytes": 0})
            state[i]["state_rows"] = max(state[i]["state_rows"], op["numRowsTotal"])
            state[i]["state_bytes"] = max(state[i]["state_bytes"], op["memoryUsedBytes"])
    return {
        "batches": len(ids),
        "rows_in": sum(events[b]["numInputRows"] for b in ids),
        "state": state,
    }

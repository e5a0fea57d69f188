"""SparkSession factory.

The reference executes eagerly on a single node (SURVEY.md §4.2); here the
session is configured for a distributed, optimizer-driven engine:

- **UTC session timezone** — required for datetime-kernel parity with the
  reference, which pins ``Datetime("us", "UTC")`` everywhere
  (reference: src/ska_src_maltopuft_etl/meertrap/observation/extract.py:115-121).
- **AQE** (coalesce partitions + skew-join handling) re-optimizes plans
  from runtime statistics at any scale factor. It is Spark's own default
  (since 3.2), as is the 128MB ``spark.sql.files.maxPartitionBytes`` split,
  so neither is set here.
- **Arrow on** for the few pandas-UDF paths (vectorized batch transfer).
- ``spark.sql.shuffle.partitions`` is 32, small for local testing; on a
  real cluster AQE's coalescing makes the initial number mostly moot, and
  callers size it per tier through ``get_spark(conf=...)``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Largest default driver heap; SPARK_GRAFT_DRIVER_MEM sets larger ones.
_DRIVER_MEM_CAP_MB = 16 * 1024


def box_driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """Default ``spark.driver.memory``: two thirds of the box's
    ``MemTotal``, capped at 16g, leaving the rest for off-heap buffers,
    the Python workers and the OS. A heap sized past physical memory
    gets the JVM killed by the kernel instead of raising an OOM. Falls
    back to the cap where ``meminfo`` cannot be read."""
    try:
        with open(meminfo) as f:
            total_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    except (OSError, StopIteration):
        return f"{_DRIVER_MEM_CAP_MB}m"
    return f"{min(total_kb * 2 // 3 // 1024, _DRIVER_MEM_CAP_MB)}m"


_DEFAULTS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Keep broadcast autodetection on; dimension tables in both the
    # reference schema (sb/obs/beam/host) and the test star schema
    # (region/nation/supplier) are broadcast-sized.
    "spark.sql.autoBroadcastJoinThreshold": "64MB",
    # Shuffle parallelism must scale with the tier: 32 is right for the
    # test SFs (one wave on local[32], AQE coalesces below it), but at
    # the ×1000 tier a 48-partition sort put ~37M post-explode rows in
    # ONE task's sorter and OOM'd a 48g heap (a join whose build side
    # was replicated 8×, stage 56). On a real cluster this is sized to
    # ~128-200MB per partition, passed through get_spark(conf=...).
    "spark.sql.shuffle.partitions": "32",
    # local mode: the driver JVM IS the executor; the 1g default heap
    # GC-thrashes under 32 task threads. Must be set before JVM launch.
    # 16g/32 slots ≈ 0.3 GB execution memory per task — enough for the
    # test SFs, but the x100 stress tier measurably starves partial hash
    # aggregates at that ratio (AGGREGATE_OUT_OF_MEMORY: a task that
    # cannot acquire its first page cannot even fall back to sort-spill).
    # The default is sized to the box (box_driver_memory): a 16g heap on
    # a 15.7 GB VM was OOM-killed by the kernel at 15.9 GB RSS in a ×10
    # sweep. On a real cluster this is the executor-memory/cores knob;
    # here the env var lets the scale harness provision per tier.
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", box_driver_memory()),
    # Shuffle-file lifetime: ContextCleaner only removes a finished
    # query's shuffle files after a driver GC notices the dereferenced
    # RDDs, and its fallback periodic GC fires every 30 MINUTES by
    # default — a long multi-query session at a scaled tier accumulates
    # orphaned shuffle dirs faster than that (measured: the ×100
    # 151-query battery piled up 41 GB of blockmgr files and filled the
    # disk mid-run). Two minutes keeps cleanup ahead of churn at
    # negligible GC cost for every workload this engine runs.
    "spark.cleaner.periodicGC.interval": "2min",
    # Unfiltered MIN/MAX/COUNT aggregates directly over a parquet scan
    # answer from footer statistics instead of scanning data (guide §6:
    # let statistics do the work). Exact by construction (Spark only
    # pushes types whose stats are trustworthy, and never under a
    # filter); hit sites here: index row counts, round-bound probes.
    "spark.sql.parquet.aggregatePushDown": "true",
    # Parquet TIMESTAMP(NANOS) columns (e.g. pandas-written event logs)
    # are otherwise an illegal type for the Spark reader; read them as
    # long nanos and let sources.testdata normalize to TimestampType.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Streaming state: RocksDB instead of the HDFS-backed default.
    # Measured at the ×10 tier (STREAM_SCALE_ROCKSDB.json): 4.6× less
    # state memory at identical wall, real-bytes accounting instead of
    # JVM-object overhead (~68 KB/row), and disk spill instead of OOM
    # when the watermark horizon outgrows executor memory — the
    # binding constraint for stateful streaming at 100 TB.
    "spark.sql.streaming.stateStore.providerClass": (
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider"
    ),
}


def get_spark(
    app_name: str = "ska_src_maltopuft_etl_spark",
    master: str | None = None,
    conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults applied.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` when unset and no
    cluster manager is configured — on a real deployment the master comes
    from spark-submit and this argument is left None.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None and "SPARK_MASTER" not in os.environ:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if master:
        builder = builder.master(master)
    merged = dict(_DEFAULTS)
    if conf:
        merged.update(conf)
    for k, v in merged.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def release_all_persisted(spark: SparkSession) -> int:
    """Unpersist EVERY pinned RDD in the session — ``localCheckpoint``
    storage AND caller-created ``.cache()``/``.persist()`` caches alike.

    The iterative operators (connected components, pagerank, scalable
    surrogate keys) cut lineage with ``localCheckpoint``, which pins
    blocks in executor storage for the session's lifetime —
    ``spark.catalog.clearCache()`` does NOT release them (it only covers
    catalog-cached plans). In long-lived sessions running many such
    queries the accumulated blocks degrade everything through GC
    pressure (measured +40% battery drift before the harnesses started
    clearing them).

    .. warning:: This is a session-wide reset, not a scoped release:
       caches a live pipeline still depends on are dropped too (they
       recompute lazily on next access — correct, but the cache benefit
       is lost). Call only between logically-independent queries — the
       bench/correctness harnesses' usage — never between stages of one
       pipeline that deliberately caches intermediates. Returns the
       number of RDDs released.
    """
    spark.catalog.clearCache()
    rdds = list(
        spark.sparkContext._jsc.getPersistentRDDs().values()  # noqa: SLF001
    )
    for rdd in rdds:
        rdd.unpersist()
    return len(rdds)


"""Deduplication + surrogate-key operators (SURVEY.md §2.6 W1-W5).

Reference semantics:

- W1 ordered dedup keep-first:
  sort("processed_at").unique(subset=[...], keep="first")
  (meertrap/candidate/transform.py:33-62)
- W2 keep-first by sort order (meertrap/observation/transform.py:30-50)
- W3 unordered dedup: unique(subset=...) (observation/transform.py:190-193)
- W5 surrogate key = 1-based row index
  (with_row_index sites listed in SURVEY.md §2.6)

Scale notes: keep-first dedup is a window row_number over the subset —
one shuffle on the subset keys, map-side partial skipping via AQE.
Surrogate keys over a *global* order are inherently sequential; at
reference scale a single-partition window (``surrogate_key``) is fine,
and ``surrogate_key_with_count`` uses the partition-offset
(zipWithIndex-style) technique: two narrow passes, no single-partition
bottleneck, same contiguous 1-based numbering.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _order_cols(order_by: Sequence[Column | str]) -> list[Column]:
    return [F.col(c).asc_nulls_last() if isinstance(c, str) else c for c in order_by]


def dedup_keep_first(
    df: DataFrame,
    subset: Sequence[str],
    order_by: Sequence[Column | str],
) -> DataFrame:
    """Keep the first row per ``subset`` group under ``order_by``.

    ``order_by`` must be a total order within each group for deterministic
    results (SURVEY.md §7.3 risk 1) — pass a tiebreaker column; the
    operator does not invent one.
    """
    w = Window.partitionBy(*subset).orderBy(*_order_cols(order_by))
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


def _local_pairs_df(spark, rows, c1: str, c2: str) -> DataFrame:
    """Tiny driver-local (long, long) frame as a SQL VALUES LocalRelation.

    A LocalTableScan's broadcast build collects rows driver-side with no
    job, no scan task and no Python-worker round-trip — strictly cheaper
    than parallelizing a Python RDD (even 1-slice, the r14 fix) whose
    broadcast must run a task through the Python runner. Used for the
    per-partition offset tables of the numbering operators below.
    """
    if not rows:
        return spark.sql(
            f"SELECT CAST(NULL AS BIGINT) AS {c1}, CAST(NULL AS BIGINT) AS {c2}"
        ).where("false")
    values = ",".join(f"({int(a)}L,{int(b)}L)" for a, b in rows)
    return spark.sql(f"SELECT col1 AS {c1}, col2 AS {c2} FROM (VALUES {values})")


def surrogate_key(
    df: DataFrame,
    name: str,
    order_by: Sequence[Column | str],
    offset: int = 1,
) -> DataFrame:
    """Add a contiguous ``offset``-based integer key following a
    deterministic global order (reference W5 ``with_row_index``): a
    global ``row_number`` window, fine at dimension-table scale (the
    reference's frames). Fact-sized frames use surrogate_key_with_count.
    """
    w = Window.orderBy(*_order_cols(order_by))
    return df.withColumn(name, (F.row_number().over(w) + offset - 1).cast("long"))


def surrogate_key_with_count(
    df: DataFrame,
    name: str,
    order_by: Sequence[Column | str],
    offset: int = 1,
) -> tuple[DataFrame, int]:
    """:func:`surrogate_key` without its single-partition window, for
    billions of rows: sort, then per-partition row numbers + an exclusive
    prefix sum of partition counts (zipWithIndex via
    ``monotonically_increasing_id``). Also returns the total row count,
    which the prefix sum collects anyway: callers that need it (e.g. for
    :func:`surrogate_key_dense_int`'s bucket width) run no count job.
    """
    ordered = _order_cols(order_by)
    sorted_df = df.repartitionByRange(*ordered).sortWithinPartitions(*ordered)
    # monotonically_increasing_id() encodes (partition id << 33) + a
    # 0-based consecutive row counter within the partition, evaluated in
    # the order rows stream out of the sort — i.e. it IS the
    # (pid, local_rn) pair, computed with ZERO additional exchange. The
    # previous formulation derived local_rn with a row_number window
    # over spark_partition_id, which forced one more full hash-exchange
    # + sort of the fact (Catalyst can't see that range partitions are
    # already disjoint on __pid).
    #
    # repartitionByRange picks boundaries by SAMPLING, and this plan
    # reads the partitioned data from two branches (the size aggregate
    # and the final numbering). If Catalyst does not reuse the exchange,
    # each branch re-samples different boundaries and the ids disagree —
    # the __pid join then silently drops or misnumbers rows (observed at
    # 150k+ rows). localCheckpoint materializes the partitioning ONCE
    # (eagerly, on executor storage, lineage cut) so both branches see
    # identical ids.
    # Lazy: the sizes .collect() below is the first action and
    # materializes the checkpoint — eager=True would run the identical
    # computation in an extra prior job. Consistency is unchanged:
    # both downstream branches read the same pinned RDD blocks.
    local = sorted_df.withColumn(
        "__mid", F.monotonically_increasing_id()
    ).localCheckpoint(eager=False)
    pid = F.shiftright("__mid", 33)
    # Per-partition sizes: one tiny aggregate (a row per partition),
    # collected to the driver for the exclusive prefix sum.
    # repartitionByRange assigns ascending key ranges to ascending
    # partition ids, so accumulating in pid order follows the global
    # sort order. Collecting (vs a window over the aggregate) costs one
    # extra tiny job against the checkpointed fact and buys a RUNTIME
    # INVARIANT CHECK: the numbering relies on the per-partition counter
    # inside monotonically_increasing_id being CONSECUTIVE from 0 — the
    # documented contract only guarantees monotonic+unique. Verify
    # max(local id) + 1 == count per partition and fail loudly if the
    # bit layout ever changes, instead of silently mis-numbering ids
    # that downstream FK keymaps then propagate.
    sizes = (
        local.groupBy(pid.alias("__pid"))
        .agg(F.count(F.lit(1)).alias("__cnt"), F.max("__mid").alias("__maxmid"))
        .collect()
    )
    running = 0
    rows: list[tuple[int, int]] = []
    for r in sorted(sizes, key=lambda r: r["__pid"]):
        local_max = r["__maxmid"] - (r["__pid"] << 33)
        if local_max + 1 != r["__cnt"]:
            raise RuntimeError(
                "surrogate_key_with_count: monotonically_increasing_id "
                f"is no longer a consecutive per-partition counter (pid "
                f"{r['__pid']}: max local id {local_max}, count "
                f"{r['__cnt']}). Refusing to emit non-contiguous ids; use "
                "surrogate_key or restore the row_number fallback."
            )
        rows.append((r["__pid"], running))
        running += r["__cnt"]
    spark = df.sparkSession
    # LocalRelation VALUES frame (not a parallelized Python RDD): the
    # broadcast build collects it driver-side without a task or a
    # Python-worker round-trip.
    offsets = _local_pairs_df(spark, rows, "__pid", "__poffset")
    out = (
        local.withColumn("__pid", pid)
        .join(F.broadcast(offsets), "__pid")
        .withColumn(
            name,
            (
                (F.col("__mid") - F.shiftleft("__pid", 33))  # local 0-based rn
                + F.col("__poffset")
                + offset
            ).cast("long"),
        )
        .drop("__pid", "__mid", "__poffset")
    )
    return out, running


def surrogate_key_dense_int(
    df: DataFrame,
    name: str,
    key_col: str,
    key_max: int,
    offset: int = 1,
) -> DataFrame:
    """Contiguous ``offset``-based numbering of rows by an existing
    UNIQUE integer key column with values in ``[1, key_max]`` (a
    surrogate key assigned upstream — gaps from filtering/dedup are
    fine; the output follows ascending ``key_col`` order).

    The cheap second-pass twin of :func:`surrogate_key_with_count`
    (guide §2.4 — remove shuffles outright): when rows already carry a
    bounded integer order key, the global sort order can be recovered
    from equal-width ordered key-range buckets instead of a sampled
    range partitioning, so this pass needs

    - NO range-sampling job (bucket = ``(key-1) DIV w`` is a pure
      function of the key),
    - NO ``localCheckpoint`` of the fact (the two consumers — the
      per-bucket counts and the final rank — are deterministic in the
      key set, not in partitioning or sampling),
    - NO driver-side action at all: the exclusive prefix sum runs as a
      window over the per-bucket COUNTS (≤ ``defaultParallelism`` rows
      — the only single-partition exchange, bucket-count-sized, never
      fact-sized), so the whole pass stays lazy and plans into the
      caller's next action instead of forcing the upstream pipeline at
      build time, and
    - ONE fact-sized hash exchange + in-partition sort (the rank
      window), per-task state bounded by ``w = ceil(key_max /
      defaultParallelism)`` rows.

    The caller must ensure the key set is stable across recomputation
    (our callers number a checkpointed/persisted frame). Used by the
    MeerTRAP candidate pipeline to fuse its second scalable numbering
    pass onto the first pass's key (VERDICT r14 #1).
    """
    import math

    n_b = df.sparkSession.sparkContext.defaultParallelism
    w = max(1, math.ceil(key_max / n_b))
    key = "`" + key_col.replace("`", "``") + "`"
    with_b = df.withColumn("__skb", F.expr(f"({key} - 1) DIV {w}"))
    counts = with_b.groupBy("__skb").agg(F.count(F.lit(1)).alias("__cnt"))
    offw = (
        Window.orderBy("__skb")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = counts.select(
        "__skb",
        F.coalesce(F.sum("__cnt").over(offw), F.lit(0)).alias("__skoff"),
    )
    win = Window.partitionBy("__skb").orderBy(F.col(key).asc())
    return (
        with_b.join(F.broadcast(offsets), "__skb")
        .withColumn(
            name,
            (F.row_number().over(win) - 1 + F.col("__skoff") + offset).cast(
                "long"
            ),
        )
        .drop("__skb", "__skoff")
    )

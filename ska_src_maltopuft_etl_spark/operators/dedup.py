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
one shuffle on the subset keys, map-side partial skipping via AQE;
``first_in_group`` is that window as a flag, for callers that keep the
other rows too. Surrogate keys over a *global* order are inherently
sequential; at reference scale a single-partition window
(``surrogate_key``) is fine, and ``surrogate_key_with_count`` uses the
partition-offset (zipWithIndex-style) technique: two narrow passes, no
single-partition bottleneck, same contiguous 1-based numbering.
``surrogate_key_with_subset`` numbers a flagged subset as well, from the
same sort, checkpoint and sizes collect — the reference numbers
candidates before their dedup and sp_candidates after it
(candidate/transform.py:166, :215-218).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Observation, Window
from pyspark.sql import functions as F


def _order_cols(order_by: Sequence[Column | str]) -> list[Column]:
    return [F.col(c).asc_nulls_last() if isinstance(c, str) else c for c in order_by]


def first_in_group(subset: Sequence[str], order_by: Sequence[Column | str]) -> Column:
    """True on the first row per ``subset`` group under ``order_by``,
    false on the others.

    ``order_by`` must be a total order within each group for deterministic
    results (SURVEY.md §7.3 risk 1) — pass a tiebreaker column; the
    operator does not invent one.
    """
    w = Window.partitionBy(*subset).orderBy(*_order_cols(order_by))
    return F.row_number().over(w) == 1


def dedup_keep_first(
    df: DataFrame,
    subset: Sequence[str],
    order_by: Sequence[Column | str],
) -> DataFrame:
    """Keep the first row per ``subset`` group under ``order_by``
    (:func:`first_in_group`)."""
    return (
        df.withColumn("__first", first_in_group(subset, order_by))
        .where(F.col("__first"))
        .drop("__first")
    )


def surrogate_key(
    df: DataFrame,
    name: str,
    order_by: Sequence[Column | str],
) -> DataFrame:
    """Add a contiguous 1-based integer key following a deterministic
    global order (reference W5 ``with_row_index``): a global
    ``row_number`` window, fine at dimension-table scale (the
    reference's frames). Fact-sized frames use surrogate_key_with_count.
    """
    w = Window.orderBy(*_order_cols(order_by))
    return df.withColumn(name, F.row_number().over(w).cast("long"))


# monotonically_increasing_id() is (partition id << 33) + a 0-based row
# counter within the partition.
_PID_SHIFT = 33


def _position(counter: str, offset_col: str, offset: int) -> Column:
    """The row's ``offset``-based position: its partition-local counter
    (from the mono id ``counter``) plus the partition's ``offset_col``."""
    local_rn = F.col(counter) - F.shiftleft("__pid", _PID_SHIFT)
    return (local_rn + F.col(offset_col) + offset).cast("long")


def _surrogate_keys(
    df: DataFrame,
    name: str,
    order_by: Sequence[Column | str],
    offset: int,
    flag: str | None,
    flag_name: str | None,
    metrics: dict[str, Column],
) -> tuple[DataFrame, int, dict]:
    """Number the rows of ``df`` in ``order_by`` order as ``name`` from one
    range sort, one checkpoint and one per-partition sizes collect. Given
    ``flag``, keep only the rows whose boolean ``flag`` column is true and
    number them among themselves too, as ``flag_name``. Returns (rows, row
    count of ``df``, ``metrics`` over ``df`` observed by the sizes job)."""
    ordered = _order_cols(order_by)
    # monotonically_increasing_id() evaluated in the order rows stream out
    # of the sort IS the (pid, local_rn) pair, with no exchange beyond the
    # range partitioning itself.
    #
    # repartitionByRange picks boundaries by SAMPLING, and the numbering
    # reads the partitioned data from two branches (the sizes aggregate
    # and the join below). If Catalyst does not reuse the exchange, each
    # branch re-samples different boundaries and the ids disagree — the
    # __pid join then silently drops or misnumbers rows (observed at 150k+
    # rows). localCheckpoint materializes the partitioning ONCE (executor
    # storage, lineage cut) so every branch sees identical ids. It is
    # lazy: the sizes collect below is the first action and materializes
    # it, where eager=True would run the same computation in a prior job.
    local = (
        df.repartitionByRange(*ordered)
        .sortWithinPartitions(*ordered)
        .withColumn("__mid", F.monotonically_increasing_id())
        .localCheckpoint(eager=False)
        .withColumn("__pid", F.shiftright("__mid", _PID_SHIFT))
    )
    flagged = F.col("`" + flag.replace("`", "``") + "`") if flag else F.lit(False)
    # An Observation on the checkpoint itself would read 0: it is filled
    # only by a job whose plan holds it, which the sizes job's does.
    seen = Observation()
    sized = local.observe(seen, *(c.alias(k) for k, c in metrics.items())) if metrics else local
    # Per-partition sizes: one tiny aggregate (a row per partition),
    # collected for the exclusive prefix sums.
    # repartitionByRange assigns ascending key ranges to ascending
    # partition ids, so accumulating in pid order follows the global sort
    # order. The collect also buys a RUNTIME INVARIANT CHECK: the
    # numbering relies on the per-partition counter inside
    # monotonically_increasing_id being CONSECUTIVE from 0 — the
    # documented contract only guarantees monotonic+unique. Verify
    # max(local id) + 1 == count per partition and fail loudly if the bit
    # layout ever changes, instead of silently mis-numbering ids that
    # downstream FK keymaps then propagate.
    sizes = (
        sized.groupBy("__pid")
        .agg(
            F.count(F.lit(1)).alias("__cnt"),
            F.max("__mid").alias("__maxmid"),
            F.count_if(flagged).alias("__fcnt"),
        )
        .collect()
    )
    total = n_flagged = 0
    values = []
    for r in sorted(sizes, key=lambda r: r["__pid"]):
        local_max = r["__maxmid"] - (r["__pid"] << _PID_SHIFT)
        if local_max + 1 != r["__cnt"]:
            raise RuntimeError(
                "surrogate_key_with_count: monotonically_increasing_id "
                f"is no longer a consecutive per-partition counter (pid "
                f"{r['__pid']}: max local id {local_max}, count "
                f"{r['__cnt']}). Refusing to emit non-contiguous ids; use "
                "surrogate_key or restore the row_number fallback."
            )
        values.append(f"({r['__pid']}L,{total}L,{n_flagged}L)")
        total += r["__cnt"]
        n_flagged += r["__fcnt"]
    # A SQL VALUES LocalRelation, not a parallelized Python RDD: the
    # broadcast build needs no job, task or Python-worker round-trip. An empty input joins nothing, so any
    # offsets row serves it.
    offsets = F.broadcast(
        df.sparkSession.sql(
            "SELECT col1 AS __pid, col2 AS __off, col3 AS __foff "
            f"FROM (VALUES {','.join(values) or '(0L,0L,0L)'})"
        )
    )
    keys = {name: _position("__mid", "__off", offset)}
    rows = local
    if flag is not None:
        # A filter keeps each partition and its row order, so a mono id
        # over the filtered checkpoint is the same partition's counter of
        # flagged rows, under the bit layout checked above.
        rows = local.where(flagged).withColumn("__fmid", F.monotonically_increasing_id())
        keys[flag_name] = _position("__fmid", "__foff", offset)
    out = (
        rows.join(offsets, "__pid")
        .withColumns(keys)
        .drop("__pid", "__mid", "__fmid", "__off", "__foff")
    )
    return out, total, seen.get if metrics else {}


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
    which the prefix sum collects anyway.
    """
    out, total, _ = _surrogate_keys(df, name, order_by, offset, None, None, {})
    return out, total


def surrogate_key_with_subset(
    df: DataFrame,
    name: str,
    order_by: Sequence[Column | str],
    flag: str,
    flag_name: str,
    **metrics: Column,
) -> tuple[DataFrame, dict]:
    """The rows of ``df`` whose boolean ``flag`` column is true, each with
    its 1-based position in ``order_by`` order among all rows of ``df``
    (``name``, as :func:`surrogate_key_with_count` numbers them) and among
    the flagged rows (``flag_name``), from one sort, checkpoint and sizes
    collect. Also returns the aggregate ``metrics`` over ``df`` that the
    sizes job observes.
    """
    out, _, seen = _surrogate_keys(df, name, order_by, 1, flag, flag_name, metrics)
    return out, seen

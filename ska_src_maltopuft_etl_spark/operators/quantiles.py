"""Distributed exact percentiles — the scale-safe twin of ``percentile()``.

Spark's built-in exact ``percentile`` aggregate buffers EVERY distinct
value (with its count) of a group in executor memory before sorting it
there — fine at dimension scale, a guaranteed OOM when one group spans
a meaningful fraction of a 100 TB fact. This module computes the same
interpolated percentiles via the classic distributed sort-rank plan:

1. range-partition + sort the (group, value) pairs (one full shuffle —
   the same shuffle any total sort pays);
2. global 0-based positions from per-partition offsets
   (:func:`~ska_src_maltopuft_etl_spark.operators.dedup.surrogate_key_with_count`
   — no single-partition window anywhere);
3. per-group start offsets and counts from ONE keyed aggregate (range
   partitioning is group-major, so a group's rank is just
   ``global_pos - min(global_pos)``);
4. the two bracketing ranks per (group, percentile) are an equi
   broadcast-hash join of the fact against a tiny (2 x groups x probs)-row
   target table — map-side, codegen'd;
5. linear interpolation with EXACTLY the built-in's operation order
   (``(higher - pos) * v_lo + (pos - lower) * v_hi``, with the
   built-in's two shortcuts to ``v_lo`` first: ``higher == lower`` and
   ``v_hi == v_lo``), so results are bit-identical to
   ``F.percentile`` — property-tested in ``tests/test_quantiles.py``.

Peak per-task memory is one sorted partition (spillable), never one
group. The only driver-side state is the per-partition size list that
``surrogate_key_with_count`` collects (a row per partition, not per value).

Reference: the reference's pandas/Polars quantiles are single-node
in-memory sorts (no counterpart file — this operator exists for the
scale the reference never reaches).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ska_src_maltopuft_etl_spark.operators.dedup import surrogate_key_with_count


def exact_percentiles(
    df: DataFrame,
    value_col: str,
    probs: Sequence[float],
    by: Sequence[str] = (),
) -> DataFrame:
    """Exact interpolated percentiles, distributed.

    Returns one row per (``by`` group, probability): columns
    ``(*by, prob double, value double)``. Semantics match
    ``F.percentile(value_col, prob)`` bit-for-bit: nulls ignored,
    position ``p * (n - 1)`` on the ascending sort, linear
    interpolation between the bracketing ranks. Groups whose values
    are all null do not appear (the built-in would emit a null row;
    left-join the group spine if that distinction matters).

    ``by`` may be empty for a global percentile. The per-group start
    offsets come from a keyed aggregate, so group cardinality is
    unbounded; only partition COUNT drives the tiny driver-side state.
    NULL ``by`` keys form their own group (null-safe join below), same
    as ``groupBy`` + ``F.percentile``.
    """
    by = list(by)
    probs = [float(p) for p in probs]
    bad = [p for p in probs if not 0.0 <= p <= 1.0]
    if bad:
        # The built-in percentile raises an AnalysisException here; a
        # silent (group, prob) omission would be far worse.
        raise ValueError(f"percentile probabilities must be in [0, 1]: {bad}")
    vals = df.select(
        *by, F.col(value_col).cast("double").alias("__v")
    ).where(F.col(value_col).isNotNull())

    order = [F.col(c).asc() for c in by] + [F.col("__v").asc()]
    ranked = surrogate_key_with_count(vals, "__gpos", order_by=order, offset=0)[0]

    # Group-major range partitioning => a group's local rank is its
    # global position minus the group's first position. One keyed agg.
    stats = ranked.groupBy(*by).agg(
        F.min("__gpos").alias("__gstart"),
        F.count(F.lit(1)).alias("__n"),
    )

    # Tiny target table: for each (group, prob) the two bracketing
    # GLOBAL positions, exploded to one row per needed rank so the big
    # join stays a pure equi broadcast-hash join.
    parr = F.array(*[F.lit(p) for p in probs])
    pos = F.col("__prob") * (F.col("__n") - 1).cast("double")
    targets = (
        stats.select(*by, "__gstart", "__n", F.posexplode(parr).alias("__pi", "__prob"))
        .withColumn("__pos", pos)
        .select(
            *by,
            "__pi",
            "__prob",
            "__pos",
            F.explode(
                F.array(
                    F.struct(
                        F.lit("lo").alias("__role"),
                        (F.col("__gstart") + F.floor("__pos")).alias("__need"),
                    ),
                    F.struct(
                        F.lit("hi").alias("__role"),
                        (F.col("__gstart") + F.ceil("__pos")).alias("__need"),
                    ),
                )
            ).alias("__t"),
        )
        .select(*by, "__pi", "__prob", "__pos", "__t.__role", "__t.__need")
    )

    # Null-safe equality on the group keys so NULL-keyed groups survive
    # the join (plain column-name equi-join would drop them, diverging
    # from groupBy + F.percentile). EqualNullSafe keys still plan as a
    # BroadcastHashJoin — Catalyst rewrites them into hashable keys.
    fact = ranked.withColumnRenamed("__gpos", "__need")
    tgt = F.broadcast(targets)
    cond = fact["__need"] == tgt["__need"]
    for c in by:
        cond = cond & fact[c].eqNullSafe(tgt[c])
    picked = fact.join(tgt, cond).drop(tgt["__need"])
    for c in by:
        picked = picked.drop(tgt[c])

    lower = F.floor("__pos").cast("double")
    higher = F.ceil("__pos").cast("double")
    # Equal bracketing values return v_lo as the built-in does: the
    # interpolation below can miss it by an ulp (0.8 * 0.75 + 0.2 * 0.75
    # is 0.7500000000000001).
    interp = F.when(
        F.col("__vhi").isNull()
        | (higher == lower)
        | (F.col("__vhi") == F.col("__vlo")),
        F.col("__vlo"),
    ).otherwise(
        # F.percentile's exact operation order (Spark Percentile
        # aggregate): (higher - pos) * lo + (pos - lower) * hi.
        (higher - F.col("__pos")) * F.col("__vlo")
        + (F.col("__pos") - lower) * F.col("__vhi")
    )
    return (
        picked.groupBy(*by, "__pi")
        .agg(
            F.first("__prob").alias("__prob"),
            F.first("__pos").alias("__pos"),
            F.min(F.when(F.col("__role") == "lo", F.col("__v"))).alias("__vlo"),
            F.min(F.when(F.col("__role") == "hi", F.col("__v"))).alias("__vhi"),
        )
        .select(*by, F.col("__prob").alias("prob"), interp.alias("value"))
    )

"""Scalable top-k per group.

A plain ``row_number().over(Window.partitionBy(group))`` ranks each
group inside ONE shuffle partition — correct, but a dominant group
serializes onto a single task (the same cliff
`surrogate_key_with_count` avoids). The two-phase form here:

1. **Local pre-filter** (no shuffle): each input partition keeps at
   most k rows per group, maintained incrementally over Arrow batches
   with bounded memory (≤ k·groups + one batch). Any row in a group's
   global top-k is necessarily in the local top-k of its partition, so
   the pre-filter never drops a winner.
2. **Exact ranking**: the surviving ≤ k·partitions rows per group go
   through the ordinary window — now over a set bounded by parallelism,
   not data size.

Both phases always run; the result equals the plain window's, with the
rank in a ``rank`` column.

The order must be TOTAL (include a tiebreaker column) for the result
to be deterministic — the same contract as every keep-first operator in
this engine (see ADVICE round-1 on beam surrogate keys).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def topk_per_group(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list[tuple[str, bool]],
    k: int,
) -> DataFrame:
    """Top-k rows per group under a total order, ranked in ``rank``.

    Parameters
    ----------
    order_cols : [(column, ascending)] — must define a total order over
        rows within a group for deterministic output.
    """
    names = [c for c, _ in order_cols]
    asc = [a for _, a in order_cols]
    spark_order = [
        (F.col(c).asc() if a else F.col(c).desc()) for c, a in order_cols
    ]
    gcols = list(group_cols)

    def gen(batches):
        import pandas as pd

        kept = None
        for pdf in batches:
            if not len(pdf):
                continue
            cur = pd.concat([kept, pdf]) if kept is not None else pdf
            # mergesort: stable, so earlier-batch rows win exact ties
            # — irrelevant under a total order, harmless otherwise
            cur = cur.sort_values(names, ascending=asc, kind="mergesort")
            kept = cur.groupby(gcols, sort=False).head(k)
        if kept is not None and len(kept):
            yield kept

    w = Window.partitionBy(*group_cols).orderBy(*spark_order)
    return (
        df.mapInPandas(gen, schema=df.schema)
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )

"""Sketch-accelerated EXACT operators.

The scale pattern used throughout this module: a one-pass streaming
sketch produces a small CANDIDATE set with a coverage guarantee (never
a false negative), then a cheap exact pass restricted to the candidates
produces the final answer. The output is therefore bit-exact (plain-SQL
oracle-checkable) while the heavy lifting stays one-pass and bounded-
memory — the property that matters at 100 TB, where a naive exact
GROUP BY over a high-cardinality column shuffles the whole table.

Reference parity: the reference has no sketching at all (its dedup is
a pandas ``duplicated()`` over file hashes, e.g.
`/root/reference/src/ska_src_maltopuft_etl/meertrap/observation/
extract.py:60-77`); these operators are part of the LLM-data-pipeline
extension surface.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "heavy_hitters",
    "weighted_sample_topk",
    "weighted_sample_per_group",
    "HASH60_DENOM",
]

#: 2^60 — denominator turning a 60-bit md5-derived hash into a uniform
#: deviate in [0, 1). Kept as an exact integer-valued double so the
#: division is bit-identical in any IEEE engine.
HASH60_DENOM = float(1 << 60)


def _mg_candidates(col: str, capacity: int):
    """mapInPandas kernel: streaming Misra-Gries summary per partition.

    Maintains at most ``capacity`` counters across the partition's
    Arrow batches (the iterator), merging each batch's exact
    ``value_counts`` and then applying the MG decrement: subtract the
    (capacity+1)-th largest count from every counter and drop the
    non-positives. Undercount error is bounded by n_p / capacity, so
    any value with partition frequency > n_p / capacity survives.
    """

    # Unique sentinel standing in for NULL inside the counter dict —
    # NaN keys would never merge across batches (NaN != NaN), silently
    # splitting the null group's count (ADVICE r2).
    _NULL = object()

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        counters: dict = {}
        for pdf in batches:
            n_null = int(pdf[col].isna().sum())
            if n_null:
                counters[_NULL] = counters.get(_NULL, 0) + n_null
            vc = pdf[col].value_counts()  # dropna — nulls counted above
            for v, c in vc.items():
                counters[v] = counters.get(v, 0) + int(c)
            if len(counters) > capacity:
                # MG merge-decrement: one sort of the (bounded) summary,
                # not of the data.
                dec = sorted(counters.values(), reverse=True)[capacity]
                counters = {
                    v: c - dec for v, c in counters.items() if c - dec > 0
                }
        yield pd.DataFrame(
            {col: [None if v is _NULL else v for v in counters]}
        )

    return gen


def heavy_hitters(df: DataFrame, col: str, threshold: float) -> DataFrame:
    """Exact frequent-items: every value of ``col`` whose frequency is
    ``>= threshold * N`` (N = row count), with its exact count.

    Two phases:

    1. **Candidate sketch** — per-partition streaming Misra-Gries with
       ``capacity = max(4, floor(2 / threshold) + 1)`` counters. Pigeonhole over the
       per-partition error bound (n_p / capacity) guarantees the union
       of partition survivors is a superset of all global heavy
       hitters: f >= threshold*N > N/capacity implies f_p > n_p/capacity
       in at least one partition. One pass, O(capacity) memory per
       task, no shuffle of the raw column.
    2. **Exact verify** — the candidate set (at most
       capacity × partitions values, i.e. tiny) is broadcast; the
       exact GROUP BY runs only on rows matching a candidate. The
       counts — and therefore the output — are exact; the sketch can
       only add candidates that the verify then rejects.

    At 100 TB a direct ``groupBy(col).count()`` over a token-like
    column shuffles billions of distinct keys; this shuffles only
    candidate-matching rows (``threshold``-bounded: at most 1/threshold
    distinct survivors).
    """
    if not 0 < threshold <= 1:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    cap = max(4, int(2.0 / threshold) + 1)
    src = df.select(col)
    cand = (
        src.mapInPandas(_mg_candidates(col, cap), schema=src.schema)
        .distinct()
    )
    total = src.agg(F.count(F.lit(1)).alias("__n"))
    # eqNullSafe so a frequent NULL group survives the verify join —
    # matching SQL GROUP BY, which counts the NULL group (ADVICE r2).
    cand_r = cand.withColumnRenamed(col, "__cand")
    return (
        src.join(
            F.broadcast(cand_r), F.col(col).eqNullSafe(F.col("__cand")), "left_semi"
        )
        .groupBy(col)
        .agg(F.count(F.lit(1)).alias("freq"))
        .crossJoin(F.broadcast(total))
        # identical double arithmetic on both engines: freq >= N * t
        .where(F.col("freq") >= F.col("__n") * F.lit(threshold))
        .drop("__n")
    )


def hash_uniform(c: Column) -> Column:
    """Deterministic uniform deviate in (0, 1) derived from md5 of the
    (string) column — portable: any engine with md5 reproduces it
    bit-for-bit (DuckDB: ``(CAST('0x' || substr(md5(x),1,15) AS BIGINT)
    + 0.5) / 1152921504606846976.0``). +0.5 keeps the deviate strictly
    positive so ``ln`` is finite."""
    h = F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")
    return (h + F.lit(0.5)) / F.lit(HASH60_DENOM)


def weighted_sample_topk(
    df: DataFrame, key: str, weight: str, k: int
) -> DataFrame:
    """Deterministic weighted sample without replacement of size ``k``
    (Efraimidis-Spirakis A-ES): rank rows by ``ln(u) / w`` descending,
    where ``u`` is a hash-derived uniform of the key and ``w`` the
    (positive) weight; take the top k.

    Properties that matter for a training-data pipeline:

    - **No RNG state**: membership is a pure function of (key, weight),
      so the sample is reproducible across runs, partitionings, and
      engines — the same guarantee as the hash-based train/val/test
      split, but weighted.
    - **Distributed top-k**: Spark's TakeOrdered computes per-partition
      heaps then merges k items on the driver — no full sort, no
      shuffle of non-winners.

    Returns the sampled rows with the rank key as ``sample_key_e9``
    (floor-scaled to an exact integer — engine-independent, unlike a
    rounded float).
    """
    u = hash_uniform(F.col(key).cast("string"))
    skey = F.log(u) / F.col(weight)
    return (
        df.withColumn("__skey", skey)
        .orderBy(F.col("__skey").desc(), F.col(key))
        .limit(k)
        .withColumn(
            "sample_key_e9",
            F.floor(F.col("__skey") * F.lit(1_000_000_000.0)).cast("long"),
        )
        .drop("__skey")
    )


def weighted_sample_per_group(
    df: DataFrame, group: str, key: str, weight: str, k: int
) -> DataFrame:
    """A-ES weighted sample of size ``k`` WITHIN each group — one keyed
    window shuffle instead of the global top-k merge, same determinism
    guarantees as :func:`weighted_sample_topk`.

    The per-group variant is the data-mixing primitive: "sample N docs
    per language proportional to quality" is exactly this call."""
    from pyspark.sql import Window

    u = hash_uniform(F.col(key).cast("string"))
    skey = F.log(u) / F.col(weight)
    w = Window.partitionBy(group).orderBy(
        F.col("__skey").desc(), F.col(key)
    )
    return (
        df.withColumn("__skey", skey)
        .withColumn("__rank", F.row_number().over(w))
        .where(F.col("__rank") <= k)
        .withColumn(
            "sample_key_e9",
            F.floor(F.col("__skey") * F.lit(1_000_000_000.0)).cast("long"),
        )
        .drop("__skey", "__rank")
    )

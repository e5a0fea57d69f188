"""Explicit Bloom-filter join pruning (exact results, sketch-pruned I/O).

Spark's AQE injects runtime bloom filters only in specific plan shapes
(`spark.sql.optimizer.runtime.bloomFilter.enabled`, and the aggregate
behind it is not SQL-exposed in PySpark). This module makes the
technique an explicit, deterministic operator, usable anywhere a huge
fact stream meets a selective key set — in particular BEFORE expensive
stages the optimizer can't see through (a Python UDF, an explode, a
multi-stage pipeline boundary) where pruning early pays the most.

The result is EXACT: the bloom pass only discards rows whose key
cannot be in the dim side (no false negatives by construction); the
surviving rows still go through the real semi join, which removes the
false positives. The sketch changes I/O and shuffle volume, never the
answer — same contract as operators/sketches.py.

Scale shape: the bitmap is built with one distributed aggregate over
the dim keys (k exploded (word, mask) pairs per key, ``bit_or`` per
word), collected as O(m/32) ints to the driver, and shipped to
executors as ONE array<long> literal inside the plan — probing is pure
whole-stage-codegen column arithmetic (element_at + bit ops), no
Python, no broadcast-join hash table. (A hex-string + ``conv`` probe
encoding measured ~10x slower — string parsing per row defeats the
point; the array literal stays integer-side.)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = ["build_bloom", "bloom_might_contain", "bloom_semi_join"]


def _positions(key: Column, m_bits: int, k: int) -> list[Column]:
    """k bit positions per key: independent xxhash64 streams via the
    seed column (deterministic, engine-side)."""
    return [
        F.pmod(F.xxhash64(key, F.lit(i)), F.lit(m_bits)) for i in range(k)
    ]


def build_bloom(
    dim: DataFrame, key: str, m_bits: int = 1 << 17, k: int = 4
) -> list[int]:
    """Build the filter over ``dim[key]``; returns the bitmap as
    ``m_bits / 32`` 32-bit words.

    m_bits=2^17 (16 KiB) holds ~10k keys at k=4 under 1% false
    positives; size up for bigger dims — the driver cost is O(m/32).
    """
    if m_bits % 32 != 0:
        raise ValueError("m_bits must be a multiple of 32")
    pairs = []
    for pos in _positions(F.col(key), m_bits, k):
        # shiftleft only takes Python-int shift amounts in PySpark;
        # 2^b via pow is exact in doubles for b < 32
        mask = F.pow(F.lit(2.0), (pos % 32).cast("int")).cast("long")
        pairs.append(
            F.struct(
                (pos / 32).cast("int").alias("word"),
                mask.alias("mask"),
            )
        )
    words = (
        dim.select(F.explode(F.array(*pairs)).alias("p"))
        .groupBy(F.col("p.word").alias("word"))
        .agg(F.bit_or("p.mask").alias("bits"))
        .collect()
    )
    bitmap = [0] * (m_bits // 32)
    for r in words:
        bitmap[r["word"]] = int(r["bits"])
    return bitmap


def bloom_might_contain(
    bitmap: list[int], key: Column, m_bits: int, k: int = 4
) -> Column:
    """Membership test against the bitmap shipped as one array<long>
    plan literal — codegen-friendly integer arithmetic only."""
    import numpy as np

    # One TYPED literal: F.lit(list) expands to array(lit, lit, ...) —
    # one Py4J call and one expression-tree node PER WORD (4096 of each
    # at the default m_bits), which dominated this operator's plan-build
    # and analysis time (measured ~2.3 s/call). A 1-D numpy int64 array
    # crosses Py4J as a single ArrayType Literal.
    arr = F.lit(np.asarray(bitmap, dtype=np.int64))
    cond = None
    for pos in _positions(key, m_bits, k):
        word = F.element_at(arr, (pos / 32).cast("int") + 1)
        hit = F.bit_get(word, (pos % 32).cast("int")) == 1
        cond = hit if cond is None else (cond & hit)
    return cond


def bloom_semi_join(
    fact: DataFrame,
    dim: DataFrame,
    fact_key: str,
    dim_key: str,
    m_bits: int = 1 << 17,
    k: int = 4,
) -> DataFrame:
    """``fact`` rows whose key exists in ``dim`` — exactly
    ``fact.join(dim, key, "left_semi")`` — with a bloom pre-filter that
    discards non-matching fact rows before the join's exchange.

    Use when the dim side is too big to broadcast (else Spark's BHJ
    already avoids the fact shuffle) but its KEY SET still fits a
    bloom: the filter cuts the fact-side shuffle to matches plus the
    false-positive margin."""
    bitmap = build_bloom(dim, dim_key, m_bits=m_bits, k=k)
    pruned = fact.where(
        bloom_might_contain(bitmap, F.col(fact_key), m_bits, k=k)
    )
    return pruned.join(
        dim.select(F.col(dim_key).alias(fact_key)).distinct(),
        fact_key,
        "left_semi",
    )

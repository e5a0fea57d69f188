"""Bloom-pruned semi join (operators/bloom.py): exactness under false
positives, no false negatives, and real pruning power."""

from __future__ import annotations

from pyspark.sql import functions as F

from ska_src_maltopuft_etl_spark.operators import bloom


def _fact_dim(spark):
    fact = spark.range(50_000).select(
        (F.col("id") % 10_000).alias("key"), F.col("id").alias("payload")
    )
    dim = spark.range(500).select((F.col("id") * 20).alias("key"))  # 500 of 10k keys
    return fact, dim


def test_bloom_semi_join_is_exact(spark):
    fact, dim = _fact_dim(spark)
    got = bloom.bloom_semi_join(fact, dim, "key", "key")
    want = fact.join(dim, "key", "left_semi")
    assert got.count() == want.count() == 2_500
    assert got.agg(F.sum("payload")).collect() == want.agg(F.sum("payload")).collect()


def test_bloom_exact_even_with_tiny_bitmap(spark):
    # m=256 bits for 500 keys -> saturated filter, many false positives;
    # the exact join must still deliver the exact answer.
    fact, dim = _fact_dim(spark)
    got = bloom.bloom_semi_join(fact, dim, "key", "key", m_bits=256, k=2)
    assert got.count() == 2_500


def test_bloom_has_no_false_negatives(spark):
    dim = spark.range(1_000).select(F.col("id").alias("key"))
    bitmap = bloom.build_bloom(dim, "key")
    hits = dim.where(
        bloom.bloom_might_contain(bitmap, F.col("key"), 1 << 17)
    ).count()
    assert hits == 1_000  # every inserted key must test positive


def test_bloom_prunes_most_nonmatching_rows(spark):
    fact, dim = _fact_dim(spark)
    bitmap = bloom.build_bloom(dim, "key")
    survivors = fact.where(
        bloom.bloom_might_contain(bitmap, F.col("key"), 1 << 17)
    ).count()
    # 2500 true matches; the false-positive margin should be small
    assert survivors < 2_500 * 1.05

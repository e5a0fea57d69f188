"""Sketch-accelerated exact operators (operators/sketches.py).

The interesting property to test is the CANDIDATE GUARANTEE under
adversarial settings — a capacity small enough that the Misra-Gries
decrement actually fires (the sf0.01 oracle run never triggers it), and
data spread across many partitions so per-partition summaries must
union correctly.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from ska_src_maltopuft_etl_spark.operators import sketches


@pytest.fixture()
def skewed(spark):
    # 3 heavy values (600/300/150 rows) + 1000 singleton values,
    # shuffled across 16 partitions. N = 2050.
    rows = (
        [("hot",)] * 600
        + [("warm",)] * 300
        + [("mild",)] * 150
        + [(f"tail_{i}",) for i in range(1000)]
    )
    return spark.createDataFrame(rows, "k string").repartition(16)


def test_heavy_hitters_exact_counts(spark, skewed):
    out = {
        r["k"]: r["freq"]
        for r in sketches.heavy_hitters(skewed, "k", 0.05).collect()
    }
    # threshold 0.05 * 2050 = 102.5 -> hot, warm, mild qualify
    assert out == {"hot": 600, "warm": 300, "mild": 150}


def test_heavy_hitters_with_forced_decrements(spark, skewed):
    # threshold 0.05 gives capacity 41 (~2/0.05) over 1003 distinct
    # values per the whole frame: every partition's summary overflows
    # repeatedly, so the MG decrement path runs. The guarantee must
    # still hold: no heavy hitter lost, and every surviving count exact.
    cap = max(4, int(2.0 / 0.05) + 1)
    assert cap < 100  # decrements genuinely fire vs ~1003 distincts
    out = {
        r["k"]: r["freq"]
        for r in sketches.heavy_hitters(skewed, "k", 0.05).collect()
    }
    assert out == {"hot": 600, "warm": 300, "mild": 150}


def test_heavy_hitters_threshold_one_and_validation(spark, skewed):
    # threshold 1.0: only a value occupying every row qualifies — none.
    assert sketches.heavy_hitters(skewed, "k", 1.0).count() == 0
    with pytest.raises(ValueError):
        sketches.heavy_hitters(skewed, "k", 0.0)


def test_heavy_hitters_numeric_column(spark):
    df = spark.createDataFrame(
        [(1,)] * 50 + [(i,) for i in range(2, 52)], "v long"
    ).repartition(7)
    out = sketches.heavy_hitters(df, "v", 0.3).collect()
    assert [(r["v"], r["freq"]) for r in out] == [(1, 50)]


def test_heavy_hitters_null_group(spark):
    """A NULL-dominated column reports the NULL group with its exact
    count, matching SQL GROUP BY semantics (ADVICE r2)."""
    df = spark.createDataFrame(
        [(None,)] * 40 + [("a",)] * 30 + [(f"x{i}",) for i in range(30)],
        "k string",
    ).repartition(5)
    got = {r["k"]: r["freq"] for r in sketches.heavy_hitters(df, "k", 0.25).collect()}
    assert got == {None: 40, "a": 30}


def test_weighted_sample_deterministic_and_partition_invariant(spark):
    df = spark.createDataFrame(
        [(i, f"d{i}", 10 + (i * 37) % 500) for i in range(400)],
        "id long, name string, w long",
    )
    a = sketches.weighted_sample_topk(df, "id", "w", 25)
    b = sketches.weighted_sample_topk(df.repartition(13), "id", "w", 25)
    ids_a = sorted(r["id"] for r in a.collect())
    ids_b = sorted(r["id"] for r in b.collect())
    assert ids_a == ids_b and len(ids_a) == 25


def test_weighted_sample_matches_python_reference(spark):
    import hashlib

    df = spark.createDataFrame(
        [(i, 1 + i % 7) for i in range(200)], "id long, w long"
    )
    got = sorted(
        r["id"]
        for r in sketches.weighted_sample_topk(df, "id", "w", 10).collect()
    )

    def key(i, w):
        h = int(hashlib.md5(str(i).encode()).hexdigest()[:15], 16)
        return math.log((h + 0.5) / sketches.HASH60_DENOM) / w

    want = sorted(
        i
        for i, _ in sorted(
            ((i, key(i, 1 + i % 7)) for i in range(200)),
            key=lambda t: (-t[1], t[0]),
        )[:10]
    )
    assert got == want


def test_heavy_hitters_shuffles_only_candidates(spark, skewed):
    # Plan shape: the exact verify's aggregate must sit above a
    # left-semi join against the (broadcast) candidate set — i.e. the
    # full-cardinality groupBy never happens.
    plan = sketches.heavy_hitters(skewed, "k", 0.05)._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan and "BroadcastHashJoin" in plan


# --- property-based: random data vs exact Python models --------------------

from hypothesis import HealthCheck, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    data=st.lists(st.integers(0, 30), min_size=1, max_size=300),
    threshold=st.sampled_from([0.05, 0.1, 0.25]),
    nparts=st.integers(1, 9),
)
def test_heavy_hitters_matches_exact_model(spark, data, threshold, nparts):
    from collections import Counter

    df = spark.createDataFrame([(v,) for v in data], "v long").repartition(nparts)
    got = {
        r["v"]: r["freq"]
        for r in sketches.heavy_hitters(df, "v", threshold).collect()
    }
    counts = Counter(data)
    want = {
        v: c for v, c in counts.items() if c >= len(data) * threshold
    }
    assert got == want


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    weights=st.lists(st.integers(1, 1000), min_size=5, max_size=60),
    k=st.integers(1, 10),
)
def test_weighted_sample_matches_model_on_random_weights(spark, weights, k):
    import hashlib

    rows = [(i, w) for i, w in enumerate(weights)]
    df = spark.createDataFrame(rows, "id long, w long")
    got = sorted(
        r["id"]
        for r in sketches.weighted_sample_topk(df, "id", "w", k).collect()
    )

    def key(i, w):
        h = int(hashlib.md5(str(i).encode()).hexdigest()[:15], 16)
        return math.log((h + 0.5) / sketches.HASH60_DENOM) / w

    ranked = sorted(rows, key=lambda t: (-key(t[0], t[1]), t[0]))
    want = sorted(i for i, _ in ranked[:k])
    assert got == want

"""Distributed exact percentiles must be BIT-identical to the built-in
``F.percentile`` aggregate (same interpolation formula, same operation
order) on arbitrary inputs — plus edge cases the rank arithmetic must
survive (singleton groups, ties, nulls, empty input, global mode)."""

from __future__ import annotations

import math

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from ska_src_maltopuft_etl_spark.operators import exact_percentiles

# Values from a small grid (exact doubles) plus nulls; tiny group
# alphabet to force singleton AND large groups.
val = st.one_of(st.none(), st.integers(-50, 50).map(lambda i: i / 4.0))
row = st.tuples(st.integers(0, 3), val)
rows = st.lists(row, min_size=1, max_size=40)
probs_st = st.lists(
    st.sampled_from([0.0, 0.1, 0.25, 0.5, 0.9, 0.99, 1.0]),
    min_size=1,
    max_size=4,
    unique=True,
)


def _builtin(spark, data, probs, by):
    df = spark.createDataFrame(data, "g int, v double")
    agg = df.groupBy(*by).agg(
        F.expr(
            "percentile(v, array({}))".format(",".join(str(p) for p in probs))
        ).alias("p")
    )
    out = {}
    for r in agg.collect():
        key = r["g"] if by else None
        if r["p"] is None:
            continue
        for p, v in zip(probs, r["p"]):
            if v is not None:
                out[(key, p)] = v
    return out


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(data=rows, probs=probs_st)
# equal bracketing values: interpolating them is an ulp off the built-in
@example(data=[(3, 0.75), (3, 0.75), (3, 0.75)], probs=[0.1])
def test_matches_builtin_percentile_grouped(spark, data, probs):
    probs = sorted(probs)
    df = spark.createDataFrame(data, "g int, v double")
    mine = {
        (r["g"], r["prob"]): r["value"]
        for r in exact_percentiles(df, "v", probs, by=["g"]).collect()
    }
    ref = _builtin(spark, data, probs, ["g"])
    assert mine == ref  # exact equality: same doubles, same formula


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(data=rows, probs=probs_st)
def test_matches_builtin_percentile_global(spark, data, probs):
    probs = sorted(probs)
    df = spark.createDataFrame(data, "g int, v double")
    mine = {
        (None, r["prob"]): r["value"]
        for r in exact_percentiles(df, "v", probs, by=[]).collect()
    }
    ref = _builtin(spark, data, probs, [])
    assert mine == ref


def test_singleton_ties_and_all_null_groups(spark):
    data = [
        (0, 7.5),  # singleton group
        (1, 1.0), (1, 1.0), (1, 1.0),  # all ties
        (2, None), (2, None),  # all-null group: omitted from output
        (3, -2.0), (3, None), (3, 4.0),  # nulls ignored
    ]
    df = spark.createDataFrame(data, "g int, v double")
    out = {
        (r["g"], r["prob"]): r["value"]
        for r in exact_percentiles(df, "v", [0.0, 0.5, 1.0], by=["g"]).collect()
    }
    assert out[(0, 0.5)] == 7.5 and out[(0, 0.0)] == 7.5 and out[(0, 1.0)] == 7.5
    assert out[(1, 0.5)] == 1.0
    assert all(g != 2 for g, _ in out)
    assert out[(3, 0.0)] == -2.0 and out[(3, 1.0)] == 4.0
    assert math.isclose(out[(3, 0.5)], 1.0)  # (higher-pos)*-2 + (pos-lower)*4


def test_empty_input(spark):
    df = spark.createDataFrame([], "g int, v double")
    assert exact_percentiles(df, "v", [0.5], by=["g"]).count() == 0


def test_null_group_key_survives(spark):
    """A NULL `by` key forms its own group (null-safe target join), the
    same as groupBy + F.percentile — ADVICE r7: a plain equi-join
    silently dropped it."""
    df = spark.createDataFrame(
        [(None, 1.0), (None, 3.0), (1, 10.0), (1, 20.0)], "g int, v double"
    )
    mine = {
        (r["g"], r["prob"]): r["value"]
        for r in exact_percentiles(df, "v", [0.5], by=["g"]).collect()
    }
    assert mine == {(None, 0.5): 2.0, (1, 0.5): 15.0}


def test_probs_out_of_range_raise(spark):
    """p outside [0, 1] must raise, not silently omit the (group, prob)
    row — the built-in percentile raises an analysis error there too."""
    import pytest

    df = spark.createDataFrame([(1, 1.0)], "g int, v double")
    for bad in ([1.5], [-0.1], [0.5, 2.0]):
        with pytest.raises(ValueError, match="must be in"):
            exact_percentiles(df, "v", bad, by=["g"])

"""Property-based tests: the custom as-of join must agree with pandas
``merge_asof`` (an independent reference implementation) on arbitrary
inputs, and keep-first dedup / surrogate keys must be deterministic
under repartitioning."""

from __future__ import annotations

import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from ska_src_maltopuft_etl_spark.operators import (
    asof_join,
    dedup_keep_first,
    surrogate_key_with_count,
)

# Times as small ints (the as-of join works on any orderable type);
# keys from a tiny alphabet to force group collisions.
row = st.tuples(st.integers(0, 5), st.integers(0, 100))
rows = st.lists(row, min_size=0, max_size=25)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(left=rows, right=rows)
def test_asof_matches_pandas_merge_asof(spark, left, right):
    lpdf = pd.DataFrame(left, columns=["k", "t"]).reset_index(names="lid")
    rpdf = pd.DataFrame(right, columns=["k", "t"]).reset_index(names="rid")
    # pandas merge_asof picks the LAST right row among equal times; make
    # the winner unique so both implementations agree deterministically:
    # keep only the max-rid row per (k, t).
    rpdf = rpdf.sort_values("rid").groupby(["k", "t"], as_index=False).last()

    ldf = spark.createDataFrame(lpdf[["lid", "k", "t"]]) if len(lpdf) else None
    if ldf is None:
        return
    if len(rpdf):
        rdf = spark.createDataFrame(
            rpdf[["rid", "k", "t"]].rename(columns={"t": "rt"})
        )
    else:
        rdf = spark.createDataFrame([], "rid long, k long, rt long")

    out = asof_join(
        ldf, rdf, left_on="t", right_on="rt", by=["k"], right_tiebreak=["rid"]
    )
    got = {r["lid"]: r["rid"] for r in out.collect()}

    if not len(rpdf):
        assert got == {int(r.lid): None for r in lpdf.itertuples()}
        return
    expected = pd.merge_asof(
        lpdf.sort_values(["t", "lid"]),
        rpdf.rename(columns={"t": "rt"}).sort_values("rt"),
        left_on="t",
        right_on="rt",
        by="k",
        direction="backward",
    )
    exp = {
        int(r.lid): (None if pd.isna(r.rid) else int(r.rid))
        for r in expected.itertuples()
    }
    assert got == exp


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(data=st.lists(st.tuples(st.integers(0, 3), st.integers(0, 50)), max_size=30))
def test_dedup_and_surrogate_deterministic_under_partitioning(spark, data):
    if not data:
        return
    pdf = pd.DataFrame(data, columns=["k", "v"]).reset_index(names="rid")
    df = spark.createDataFrame(pdf)
    for nparts in (1, 7):
        shuffled = df.repartition(nparts)
        first = dedup_keep_first(shuffled, ["k"], ["v", "rid"])
        got = sorted((r["k"], r["v"], r["rid"]) for r in first.collect())
        expected = sorted(
            (k, g.sort_values(["v", "rid"]).iloc[0]["v"], g.sort_values(["v", "rid"]).iloc[0]["rid"])
            for k, g in pdf.groupby("k")
        )
        assert got == [(k, v, r) for k, v, r in expected]

        sk = surrogate_key_with_count(shuffled, "sk", ["v", "rid"])[0]
        ordered = [r["rid"] for r in sk.orderBy("sk").collect()]
        expected_order = list(pdf.sort_values(["v", "rid"])["rid"])
        assert ordered == expected_order


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(left=rows, right=st.lists(st.tuples(st.integers(0, 5), st.integers(0, 100), st.integers(0, 30)), max_size=15))
def test_interval_join_matches_pandas_filter(spark, left, right):
    """One best match (smallest rid) per left row, against a pandas
    filter: unkeyed with a broadcastable right side (broadcast range
    join), unkeyed with broadcast off and keyed (both the sweep)."""
    from ska_src_maltopuft_etl_spark.operators import interval_join
    from tools.fuzz_intervals import no_broadcast

    lpdf = pd.DataFrame(left, columns=["k", "t"]).reset_index(names="lid")
    rpdf = pd.DataFrame(right, columns=["k", "start", "dur"]).reset_index(names="rid")
    if not len(lpdf):
        return
    rpdf["end"] = rpdf["start"] + rpdf["dur"]
    # second offsets → timestamps; pandas frames carry the size
    # statistics interval_join reads to pick its strategy
    base = pd.Timestamp("2024-01-01")
    ldf = spark.createDataFrame(
        lpdf.assign(t=base + pd.to_timedelta(lpdf.t, unit="s"))[["lid", "k", "t"]]
    )
    if len(rpdf):
        rdf = spark.createDataFrame(
            rpdf.assign(
                start=base + pd.to_timedelta(rpdf.start, unit="s"),
                end=base + pd.to_timedelta(rpdf.end, unit="s"),
            )[["rid", "k", "start", "end"]]
        )
    else:
        rdf = spark.createDataFrame(
            [], "rid long, k long, start timestamp, end timestamp"
        )

    def run(by):
        out = interval_join(
            ldf, rdf, left_ts="t", right_start="start", right_end="end",
            by=by, how="left", tie_break="rid", right_prefix="r_",
        )
        return {r["lid"]: r["r_rid"] for r in out.collect()}

    def expected(keyed):
        exp = {}
        for lrow in lpdf.itertuples():
            hit = (rpdf.start <= lrow.t) & (rpdf.end >= lrow.t)
            if keyed:
                hit &= rpdf.k == lrow.k
            matches = rpdf[hit] if len(rpdf) else rpdf
            exp[lrow.lid] = None if len(matches) == 0 else int(matches.rid.min())
        return exp

    assert run([]) == expected(False)
    with no_broadcast(spark):
        assert run([]) == expected(False)
    assert run(["k"]) == expected(True)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(left=rows, right=rows)
def test_asof_forward_matches_pandas_merge_asof(spark, left, right):
    lpdf = pd.DataFrame(left, columns=["k", "t"]).reset_index(names="lid")
    rpdf = pd.DataFrame(right, columns=["k", "t"]).reset_index(names="rid")
    # unique winner per (k, t) so both implementations agree (ours picks
    # the greatest tiebreak among equal times)
    rpdf = rpdf.sort_values("rid").groupby(["k", "t"], as_index=False).last()

    if not len(lpdf):
        return
    ldf = spark.createDataFrame(lpdf[["lid", "k", "t"]])
    if len(rpdf):
        rdf = spark.createDataFrame(
            rpdf[["rid", "k", "t"]].rename(columns={"t": "rt"})
        )
    else:
        rdf = spark.createDataFrame([], "rid long, k long, rt long")

    out = asof_join(
        ldf, rdf, left_on="t", right_on="rt", by=["k"], right_tiebreak=["rid"],
        direction="forward",
    )
    got = {r["lid"]: r["rid"] for r in out.collect()}

    if not len(rpdf):
        assert got == {int(r.lid): None for r in lpdf.itertuples()}
        return
    expected = pd.merge_asof(
        lpdf.sort_values(["t", "lid"]),
        rpdf.rename(columns={"t": "rt"}).sort_values("rt"),
        left_on="t",
        right_on="rt",
        by="k",
        direction="forward",
    )
    want = {
        int(r.lid): (None if pd.isna(r.rid) else int(r.rid))
        for r in expected.itertuples()
    }
    assert got == want


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    points=st.lists(st.tuples(st.integers(0, 3), st.integers(0, 500)),
                    min_size=0, max_size=20),
    intervals=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 500), st.integers(0, 200)),
        min_size=0, max_size=15,
    ),
)
def test_interval_join_all_matches_python_model(spark, points, intervals):
    """All-matches interval join (time-bucketed equi-join) vs a
    brute-force python model on random epoch-second points/intervals,
    with a bucket width much smaller than most interval spans."""
    import datetime as dt

    from ska_src_maltopuft_etl_spark.operators.joins import interval_join

    if not points:
        return
    base = dt.datetime(2024, 1, 1)
    lrows = [
        (i, k, base + dt.timedelta(seconds=t))
        for i, (k, t) in enumerate(points)
    ]
    rrows = [
        (j, k, base + dt.timedelta(seconds=s),
         base + dt.timedelta(seconds=s + d))
        for j, (k, s, d) in enumerate(intervals)
    ]
    ldf = spark.createDataFrame(lrows, "lid long, k long, ts timestamp")
    if rrows:
        rdf = spark.createDataFrame(
            rrows, "rid long, k long, s timestamp, e timestamp"
        )
    else:
        rdf = spark.createDataFrame(
            [], "rid long, k long, s timestamp, e timestamp"
        )

    out = interval_join(
        ldf, rdf, left_ts="ts", right_start="s", right_end="e",
        bucket_width_s=60, by=["k"], how="inner",
    )
    got = sorted((r["lid"], r["rid"]) for r in out.collect())
    want = sorted(
        (i, j)
        for i, (k, t) in enumerate(points)
        for j, (k2, s, d) in enumerate(intervals)
        if k == k2 and s <= t <= s + d
    )
    assert got == want


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    points=st.lists(st.tuples(st.integers(0, 3), st.integers(0, 500)),
                    min_size=1, max_size=20),
    intervals=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 500), st.integers(0, 200)),
        min_size=0, max_size=15,
    ),
    width=st.sampled_from([7, 60, 1000]),
)
def test_interval_join_sweep_matches_python_model(spark, points, intervals, width):
    """Keyed one-match interval join (the sweep) vs a brute-force python
    model on random points/intervals — random durations make NESTED and
    overlapping intervals common. Checks the full tie-break contract: best containing interval by
    (tie_break=start DESC, then greatest start, then greatest end), and
    left-join null emission for unmatched probes — at bucket widths
    smaller than, near, and larger than the interval spans."""
    import datetime as dt

    from ska_src_maltopuft_etl_spark.operators.joins import interval_join

    base = dt.datetime(2024, 1, 1)
    lrows = [
        (i, k, base + dt.timedelta(seconds=t))
        for i, (k, t) in enumerate(points)
    ]
    rrows = [
        (j, k, base + dt.timedelta(seconds=s),
         base + dt.timedelta(seconds=s + d))
        for j, (k, s, d) in enumerate(intervals)
    ]
    ldf = spark.createDataFrame(lrows, "lid long, k long, ts timestamp")
    rdf = spark.createDataFrame(
        rrows or [], "rid long, k long, s timestamp, e timestamp"
    )

    out = interval_join(
        ldf, rdf, left_ts="ts", right_start="s", right_end="e",
        tie_break="s", bucket_width_s=width, by=["k"], how="left",
        tie_break_desc=True, right_prefix="r_",
    )
    got = sorted((r["lid"], r["r_rid"]) for r in out.collect())

    def best(i, k, t):
        cands = [
            (s, s + d, j)
            for j, (k2, s, d) in enumerate(intervals)
            if k == k2 and s <= t <= s + d
        ]
        if not cands:
            return None
        # max start, then max end; rid never decides (starts+ends tie →
        # operator keeps the first encountered, but (s,e)-identical
        # intervals are indistinguishable up to rid, so pin rid only via
        # (s,e) uniqueness in expectations below)
        s, e, j = max(cands, key=lambda c: (c[0], c[1], -c[2]))
        return j

    want = sorted((i, best(i, k, t)) for i, (k, t) in enumerate(points))
    # where (s,e) fully tie, either rid is admissible: compare on (s,e)
    def canon(pairs):
        return [
            (i, None if j is None else (intervals[j][1], intervals[j][1] + intervals[j][2]))
            for i, j in pairs
        ]

    assert canon(got) == canon(want)


def test_interval_join_sweep_nested_boundaries(spark):
    """Deterministic nested-interval fixture where the latest-started
    interval has already ended at d(50), so the sweep must keep the
    wider one alive; plus inclusive-boundary probes at t == start and
    t == end."""
    import datetime as dt

    from ska_src_maltopuft_etl_spark.operators.joins import interval_join

    base = dt.datetime(2024, 1, 1)

    def d(n, h=0):
        return base + dt.timedelta(days=n, hours=h)

    right = spark.createDataFrame(
        [("u", d(1), d(100), "wide"), ("u", d(5), d(10), "nested")],
        "k string, s timestamp, e timestamp, tag string",
    )
    left = spark.createDataFrame(
        [("u", d(50)),   # after `nested` ended: only `wide` contains it
         ("u", d(7)),    # inside both: `nested` wins (latest start)
         ("u", d(1)),    # t == wide.start (inclusive)
         ("u", d(10)),   # t == nested.end (inclusive)
         ("u", d(101))], # after everything: unmatched
        "k string, ts timestamp",
    )
    out = interval_join(
        left, right, "ts", "s", "e", tie_break="s", tie_break_desc=True,
        bucket_width_s=86400 * 7, by=["k"], how="left", right_prefix="r_",
    )
    got = {r["ts"]: r["r_tag"] for r in out.collect()}
    assert got == {d(50): "wide", d(7): "nested", d(1): "wide",
                   d(10): "nested", d(101): None}


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    lints=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 500), st.integers(0, 200)),
        min_size=1, max_size=12,
    ),
    rints=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 500), st.integers(0, 200)),
        min_size=0, max_size=12,
    ),
    width=st.sampled_from([7, 60, 1000]),
)
def test_interval_overlap_join_matches_python_model(spark, lints, rints, width):
    """Interval×interval overlap join vs a brute-force python model:
    every overlapping pair exactly ONCE (the first-common-bucket trick
    must not duplicate pairs that share several buckets, nor drop pairs
    that touch at a single endpoint), at bucket widths smaller than,
    near, and larger than the spans."""
    import datetime as dt

    from ska_src_maltopuft_etl_spark.operators.joins import interval_overlap_join

    base = dt.datetime(2024, 1, 1)

    def mk(rows, tag):
        return [
            (i, k, base + dt.timedelta(seconds=s),
             base + dt.timedelta(seconds=s + d))
            for i, (k, s, d) in enumerate(rows)
        ]

    ldf = spark.createDataFrame(
        mk(lints, "l"), "lid long, k long, s timestamp, e timestamp"
    )
    rdf = spark.createDataFrame(
        mk(rints, "r") or [], "rid long, k long, s timestamp, e timestamp"
    )
    out = interval_overlap_join(
        ldf, rdf, left_start="s", left_end="e",
        right_start="s", right_end="e",
        bucket_width_s=width, by=["k"], right_prefix="r_",
    )
    got = sorted((r["lid"], r["r_rid"]) for r in out.collect())
    want = sorted(
        (i, j)
        for i, (k1, s1, d1) in enumerate(lints)
        for j, (k2, s2, d2) in enumerate(rints)
        if k1 == k2 and s1 <= s2 + d2 and s2 <= s1 + d1
    )
    assert got == want

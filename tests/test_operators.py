"""Operator tests: as-of join, interval join, dedup, surrogate keys,
validated joins, key remap (SURVEY.md §2.4/2.6)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from ska_src_maltopuft_etl_spark.operators import (
    CardinalityError,
    asof_join,
    dedup_keep_first,
    interval_join,
    remap_keys,
    surrogate_key,
    surrogate_key_with_count,
    validated_join,
)


def ts(s):
    return dt.datetime.fromisoformat(s)


@pytest.fixture()
def uncoalesced(spark):
    """One range partition per shuffle partition, so the per-partition
    offsets of the surrogate keys are exercised instead of AQE
    coalescing a test's input into one partition."""
    coalesce = "spark.sql.adaptive.coalescePartitions.enabled"
    prev = spark.conf.get(coalesce)
    spark.conf.set(coalesce, "false")
    yield
    spark.conf.set(coalesce, prev)


@pytest.fixture()
def obs(spark):
    # right side of the as-of join: observation starts per (beam, coherent)
    return spark.createDataFrame(
        [
            (1, True, ts("2023-11-20 21:00:00"), 101),
            (1, True, ts("2023-11-20 22:00:00"), 102),
            (2, True, ts("2023-11-20 21:30:00"), 201),
            (1, False, ts("2023-11-20 21:15:00"), 301),
        ],
        "beam int, coherent boolean, t_min timestamp, beam_id int",
    )


def test_asof_backward_basic(spark, obs):
    cand = spark.createDataFrame(
        [
            (1, True, ts("2023-11-20 21:30:00"), "a"),   # → 21:00 (101)
            (1, True, ts("2023-11-20 22:00:00"), "b"),   # exact → 22:00 (102)
            (1, True, ts("2023-11-20 20:59:59"), "c"),   # before all → null
            (2, True, ts("2023-11-20 23:00:00"), "d"),   # → 201
            (1, False, ts("2023-11-20 21:20:00"), "e"),  # → 301
        ],
        "beam int, coherent boolean, observed_at timestamp, name string",
    )
    out = asof_join(
        cand, obs, "observed_at", "t_min", by=["beam", "coherent"]
    )
    got = {r["name"]: r["beam_id"] for r in out.collect()}
    assert got == {"a": 101, "b": 102, "c": None, "d": 201, "e": 301}
    assert out.count() == cand.count()  # left-join semantics, no explosion


def test_asof_backward_no_exact(spark, obs):
    cand = spark.createDataFrame(
        [(1, True, ts("2023-11-20 22:00:00"), "b")],
        "beam int, coherent boolean, observed_at timestamp, name string",
    )
    out = asof_join(
        cand, obs, "observed_at", "t_min", by=["beam", "coherent"],
        allow_exact_matches=False,
    )
    assert out.first()["beam_id"] == 101


def test_asof_null_semantics(spark):
    """Equi-join NULL rules (round-12 fuzz hardening): NULL right event
    times / by-keys never match anything; NULL left event times and
    by-keys come back with a NULL match in BOTH directions (previously
    forward's desc NULLS LAST handed a NULL-time probe the min-rt
    right row, and NULL keys/times on the right propagated as bogus
    matches to early probes)."""
    import datetime as dt

    from ska_src_maltopuft_etl_spark.operators.joins import asof_join

    T = lambda s: dt.datetime(2024, 1, 1) + dt.timedelta(seconds=s)  # noqa: E731
    left = spark.createDataFrame(
        [(1, 1, T(100)), (2, 1, None), (3, None, T(100))],
        "lid long, k long, t timestamp",
    )
    right = spark.createDataFrame(
        [(10, 1, None), (11, 1, T(500)), (12, None, T(50))],
        "rid long, k long, rt timestamp",
    )
    back = asof_join(left, right, left_on="t", right_on="rt", by=["k"])
    assert sorted((r["lid"], r["rid"]) for r in back.collect()) == [
        (1, None), (2, None), (3, None)
    ]
    fwd = asof_join(
        left, right, left_on="t", right_on="rt", by=["k"], direction="forward"
    )
    assert sorted((r["lid"], r["rid"]) for r in fwd.collect()) == [
        (1, 11), (2, None), (3, None)
    ]


def test_asof_tolerance(spark, obs):
    cand = spark.createDataFrame(
        [(1, True, ts("2023-11-20 21:30:00"), "a")],
        "beam int, coherent boolean, observed_at timestamp, name string",
    )
    out = asof_join(
        cand, obs, "observed_at", "t_min", by=["beam", "coherent"],
        tolerance_seconds=60,
    )
    assert out.first()["beam_id"] is None  # 30 min > 60 s tolerance


def test_interval_join_tiebreak(spark):
    sb = spark.createDataFrame(
        [
            (1, ts("2023-11-20 21:00:00"), ts("2023-11-20 22:00:00")),
            (2, ts("2023-11-20 21:30:00"), ts("2023-11-20 23:00:00")),
        ],
        "sb_id int, start_at timestamp, est_end_at timestamp",
    )
    o = spark.createDataFrame(
        [(ts("2023-11-20 21:45:00"), "x"), (ts("2023-11-20 20:00:00"), "y")],
        "t_min timestamp, tag string",
    )
    out = interval_join(
        o, sb, "t_min", "start_at", "est_end_at",
        tie_break="start_at", tie_break_desc=True,
    )
    got = {r["tag"]: r["sb_id"] for r in out.collect()}
    assert got == {"x": 2, "y": None}  # latest-starting containing block wins


def test_dedup_keep_first(spark):
    df = spark.createDataFrame(
        [("k1", 2, "late"), ("k1", 1, "early"), ("k2", 5, "only")],
        "key string, processed_at int, tag string",
    )
    out = dedup_keep_first(df, ["key"], ["processed_at", "tag"])
    got = {r["key"]: r["tag"] for r in out.collect()}
    assert got == {"k1": "early", "k2": "only"}


def test_surrogate_key_modes(spark):
    df = spark.createDataFrame([(c,) for c in "dacb"], "c string")
    simple = surrogate_key(df, "id", ["c"])
    assert {(r["c"], r["id"]) for r in simple.collect()} == {
        ("a", 1), ("b", 2), ("c", 3), ("d", 4),
    }
    scalable = surrogate_key_with_count(df, "id", ["c"])[0]
    assert {(r["c"], r["id"]) for r in scalable.collect()} == {
        ("a", 1), ("b", 2), ("c", 3), ("d", 4),
    }


@pytest.mark.usefixtures("uncoalesced")
def test_surrogate_key_scalable_large(spark):
    n = 10_000
    df = spark.range(n).select((F.col("id") * 37 % n).alias("k"))
    out = surrogate_key_with_count(df, "sk", ["k"])[0]
    assert out.select(F.spark_partition_id()).distinct().count() > 1
    rows = out.orderBy("sk").collect()
    assert [r["sk"] for r in rows] == list(range(1, n + 1))
    assert [r["k"] for r in rows] == sorted(r["k"] for r in rows)


@pytest.mark.usefixtures("uncoalesced")
def test_surrogate_key_subset_matches_scalable(spark):
    """surrogate_key_with_subset numbers a flagged subset from the sort
    that numbers all rows: on a gappy keep pattern, each kept row's
    subset id equals surrogate_key_with_count over the kept rows and its
    all-row id equals surrogate_key_with_count over all rows — across
    range partitions (a whole one without a kept row) and on fewer rows
    than partitions."""
    from ska_src_maltopuft_etl_spark.operators import surrogate_key_with_subset

    n = 10_000
    base = spark.range(1, n + 1).select(
        F.col("id").alias("cid"),
        # keep ~1/3 of keys, biased gaps: drop whole ranges plus a modulus
        (((F.col("id") % 3) == 1) & ~F.col("id").between(2_000, 4_000)).alias("keep"),
    )
    got, seen = surrogate_key_with_subset(
        base, "sk", ["cid"], "keep", "ksk", n_kept=F.count_if("keep")
    )
    assert got.select(F.spark_partition_id()).distinct().count() > 1
    kept = base.where("keep")
    want_all = surrogate_key_with_count(base, "sk", ["cid"])[0].where("keep")
    want_kept = surrogate_key_with_count(kept, "ksk", ["cid"])[0]
    want = want_all.join(want_kept.select("cid", "ksk"), "cid")
    cols = ["cid", "keep", "sk", "ksk"]
    assert (
        got.select(cols).orderBy("cid").collect()
        == want.select(cols).orderBy("cid").collect()
    )
    assert seen == {"n_kept": kept.count()}
    # degenerate: fewer rows than partitions, the first row not kept
    tiny = spark.createDataFrame(
        [(9_999, True), (7, True), (3, False)], "cid long, keep boolean"
    )
    rows, seen = surrogate_key_with_subset(tiny, "sk", ["cid"], "keep", "ksk")
    assert seen == {}
    assert sorted((r["cid"], r["sk"], r["ksk"]) for r in rows.collect()) == [
        (7, 2, 1), (9_999, 3, 2)]


@pytest.mark.parametrize("odd", ["cand-id", "cand.id", "cand`id"])
def test_surrogate_key_subset_quotes_names(spark, odd):
    """A flag column and key names that are not bare SQL identifiers work
    like any other."""
    from ska_src_maltopuft_etl_spark.operators import surrogate_key_with_subset

    df = spark.createDataFrame(
        [(9, True), (3, False), (5, True), (1, True)], "k long, f boolean"
    ).withColumnRenamed("f", odd)
    out, _ = surrogate_key_with_subset(df, f"{odd}_all", ["k"], odd, f"{odd}_kept")
    rows = sorted((r["k"], r[f"{odd}_all"], r[f"{odd}_kept"]) for r in out.collect())
    assert rows == [(1, 1, 1), (5, 3, 2), (9, 4, 3)]


@pytest.mark.usefixtures("uncoalesced")
def test_surrogate_key_scalable_counter_invariant(spark):
    """The scalable path validates, per partition, that
    monotonically_increasing_id's local counter is consecutive from 0
    (max local id + 1 == count) before emitting any id — the documented
    mono-id contract alone does not guarantee contiguous numbering
    (ADVICE r6 medium). With the real implementation the check passes
    even on skewed/empty partitions."""
    # heavily skewed: one giant key plus singletons → very uneven
    # range partitions, some possibly empty
    df = spark.range(20_000).select(
        F.when(F.col("id") < 15_000, F.lit(0)).otherwise(F.col("id")).alias("k"),
        F.col("id").alias("tie"),
    )
    out = surrogate_key_with_count(df, "sk", ["k", "tie"])[0]
    assert out.select(F.spark_partition_id()).distinct().count() > 1
    assert out.count() == 20_000
    agg = out.agg(
        F.min("sk").alias("lo"), F.max("sk").alias("hi"),
        F.countDistinct("sk").alias("n"),
    ).first()
    assert (agg["lo"], agg["hi"], agg["n"]) == (1, 20_000, 20_000)


def test_surrogate_key_scalable_plan_no_global_window(spark):
    """The fact table must flow through range partitioning, not a
    single-partition global window; the only SinglePartition exchange
    allowed is the tiny per-partition-count prefix sum (VERDICT r2 #2)."""
    import contextlib
    import io

    n = 10_000
    df = spark.range(n).select((F.col("id") * 37 % n).alias("k"))

    def plan(d):
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            d.explain("formatted")
        return buf.getvalue()

    dense_plan = plan(surrogate_key(df, "sk", ["k"]))
    scal_plan = plan(surrogate_key_with_count(df, "sk", ["k"])[0])
    # dense mode is the single-partition shape (what the pipeline must avoid)
    assert "SinglePartition" in dense_plan
    # scalable mode materializes the range-partitioned sort via
    # localCheckpoint (lineage cut), so the downstream plan reads the
    # checkpointed RDD rather than showing the range exchange.
    assert "ExistingRDD" in scal_plan
    # ... and the fact-side numbering is monotonically_increasing_id
    # arithmetic, NOT a row_number window (which would force one more
    # full hash-exchange + sort of the fact on __pid). The only Window
    # in the plan is the prefix sum over the per-partition counts —
    # n_partitions rows, after an aggregation.
    fact_windows = [
        ln
        for ln in scal_plan.splitlines()
        if ") Window" in ln or ln.strip().startswith("Window")
    ]
    assert len(fact_windows) <= 1, scal_plan
    # scalable mode: fact rows are range-partitioned; at most one
    # SinglePartition exchange remains and it sits above the HashAggregate
    # that reduced the data to one row per partition.
    single = [
        ln for ln in scal_plan.splitlines() if "SinglePartition" in ln
    ]
    assert len(single) <= 1
    if single:
        assert "hashagg" in scal_plan.lower()


def test_validated_join(spark):
    left = spark.createDataFrame([(1, "a"), (2, "b")], "id int, v string")
    right = spark.createDataFrame([(1, 10), (1, 20), (2, 30)], "id int, w int")
    out = validated_join(left, right, "id", expect="1:m")
    assert out.count() == 3
    with pytest.raises(CardinalityError):
        validated_join(right, left, "id", expect="1:m")


def test_remap_keys(spark):
    df = spark.createDataFrame([(1,), (2,), (99,)], "fk int")
    keymap = spark.createDataFrame([(1, 11), (2, 22)], "old int, new int")
    out = remap_keys(df, "fk", keymap)
    assert sorted(r["fk"] for r in out.collect()) == [11, 22, 99]


def test_interval_join_duplicate_left_rows(spark):
    # two IDENTICAL left rows must both survive with their own match
    sb = spark.createDataFrame(
        [(1, ts("2023-11-20 21:00:00"), ts("2023-11-20 22:00:00"))],
        "sb_id int, start_at timestamp, est_end_at timestamp",
    )
    o = spark.createDataFrame(
        [(ts("2023-11-20 21:30:00"), "x"), (ts("2023-11-20 21:30:00"), "x")],
        "t_min timestamp, tag string",
    )
    out = interval_join(
        o, sb, "t_min", "start_at", "est_end_at", tie_break="start_at"
    )
    rows = out.collect()
    assert len(rows) == 2
    assert all(r["sb_id"] == 1 for r in rows)


def test_incremental_agg_matches_full_recompute(spark):
    """finalize(merge(state(A), state(B), state(C))) == finalize(state(A∪B∪C))
    for any merge tree (the monoid invariant)."""
    from ska_src_maltopuft_etl_spark.operators import incremental_agg as ia

    rows = [
        ("a", float(v)) for v in [1, 2, 3, 4, 5]
    ] + [("b", 10.5), ("b", -2.25), ("c", 0.0), ("c", None)]
    df = spark.createDataFrame(rows, "g string, v double")
    batches = [
        df.where(F.crc32(F.concat_ws("|", "g", "v")) % 3 == i)
        for i in range(3)
    ]
    states = [ia.aggregate_state(b, ["g"], "v") for b in batches]
    merged = ia.merge_states(
        ia.merge_states(states[0], states[1], ["g"]), states[2], ["g"]
    )
    got = {
        r["g"]: r.asDict()
        for r in ia.finalize(merged, ["g"]).collect()
    }
    want = {
        r["g"]: r.asDict()
        for r in ia.finalize(ia.aggregate_state(df, ["g"], "v"), ["g"]).collect()
    }
    assert set(got) == {"a", "b", "c"}
    for g in got:
        for k in got[g]:
            if isinstance(got[g][k], float) and want[g][k] is not None:
                assert got[g][k] == pytest.approx(want[g][k], abs=1e-9)
            else:
                assert got[g][k] == want[g][k]
    assert got["c"]["n_rows"] == 2 and got["c"]["value_mean"] == 0.0


def test_interval_join_strategies_agree(spark):
    """Both one-match strategies return the same rows on the
    interval_join_sessions fixture without the user key: the broadcast
    range join when the sessions fit the broadcast limit, the sweep
    (no join node at all) when broadcast is off. All matches plan as an
    equi-join on the time bucket, never a nested loop."""
    import contextlib
    import io

    from ska_src_maltopuft_etl_spark.operators.joins import interval_join
    from ska_src_maltopuft_etl_spark.sources import load_table
    from tools.fuzz_intervals import no_broadcast

    def plan(df):
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        return buf.getvalue()

    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    clicks = ev.where(F.col("event_type") == "click").select("event_id", "ts")
    sessions = (
        ev.where(F.col("event_type") == "signup")
        .select(
            F.col("event_id").alias("session_id"),
            F.col("ts").alias("session_start"),
            (F.col("ts") + F.expr("INTERVAL 3 DAY")).alias("session_end"),
        )
    )
    kwargs = dict(
        left_ts="ts",
        right_start="session_start",
        right_end="session_end",
        how="left",
        tie_break="session_id",
        tie_break_desc=True,
    )
    key = lambda r: (r["event_id"], r["session_id"])  # noqa: E731
    broadcast = interval_join(clicks, sessions, **kwargs)
    assert "BroadcastNestedLoopJoin" in plan(broadcast)
    want = sorted(map(key, broadcast.collect()))
    with no_broadcast(spark):
        sweep = interval_join(clicks, sessions, **kwargs)
        got = sorted(map(key, sweep.collect()))
    assert "MapInPandas" in plan(sweep) and "Join" not in plan(sweep).replace(
        "MapInPandas", ""
    )
    assert got == want
    assert any(sid is not None for _, sid in want)

    kwargs.pop("tie_break"), kwargs.pop("tie_break_desc")
    assert "BroadcastNestedLoopJoin" not in plan(
        interval_join(clicks, sessions, **kwargs)
    )


def test_interval_union_sweep_line_matches_python_model(spark):
    """The sweep-line island formulation must compute exactly the
    merged-interval coverage a brute-force python union computes,
    on a randomized fixture with heavy overlaps and duplicates."""
    import datetime as dt
    import random

    from ska_src_maltopuft_etl_spark.plans import QUERIES  # noqa: F401
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    rng = random.Random(7)
    base = dt.datetime(2024, 1, 1)
    rows = []
    for uid in range(3):
        for i in range(rng.randint(1, 12)):
            start = rng.randrange(0, 3600)
            rows.append((uid, i, base + dt.timedelta(seconds=start)))
    df = spark.createDataFrame(rows, "user_id long, event_id long, s timestamp")
    width = 300  # each point opens a 5-minute window
    iv = df.select(
        "user_id",
        "event_id",
        "s",
        (F.col("s") + F.expr(f"INTERVAL {width} SECOND")).alias("e"),
    )
    order = [F.col("s"), F.col("e"), F.col("event_id")]
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = iv.select(
        "user_id",
        "s",
        "e",
        F.when(
            F.max(F.unix_micros("e")).over(w_prev).isNull()
            | (F.unix_micros("s") > F.max(F.unix_micros("e")).over(w_prev)),
            1,
        ).otherwise(0).alias("ni"),
        "event_id",
    )
    w_cum = (
        Window.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    spans = (
        flagged.select(
            "user_id", "s", "e", F.sum("ni").over(w_cum).alias("island")
        )
        .groupBy("user_id", "island")
        .agg(
            ((F.max(F.unix_micros("e")) - F.min(F.unix_micros("s"))) / 1_000_000)
            .cast("long")
            .alias("span_s")
        )
    )
    got = {
        r["user_id"]: r["covered"]
        for r in spans.groupBy("user_id")
        .agg(F.sum("span_s").cast("long").alias("covered"))
        .collect()
    }

    # python model: merge intervals per user
    per_user: dict = {}
    for uid, _, s in rows:
        per_user.setdefault(uid, []).append(
            (s, s + dt.timedelta(seconds=width))
        )
    want = {}
    for uid, ivs in per_user.items():
        ivs.sort()
        covered = 0
        cur_s, cur_e = ivs[0]
        for s, e in ivs[1:]:
            if s > cur_e:
                covered += int((cur_e - cur_s).total_seconds())
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        covered += int((cur_e - cur_s).total_seconds())
        want[uid] = covered
    assert got == want


def test_mmr_rerank_matches_python_greedy(spark):
    """The query's MMR (driver-side greedy over the collected k-bounded
    pool, with Spark-computed cosines) must pick exactly what this
    INDEPENDENT python model picks — it recomputes every cosine from the
    raw vectors in pure Python, sharing no intermediate with the query."""
    from ska_src_maltopuft_etl_spark.plans import QUERIES

    sf = "/root/testdata/sf0.001"
    got = [
        (r["pick"], r["vec_id"])
        for r in QUERIES["mmr_diverse_rerank"].fn(spark, sf).collect()
    ]

    # python model over the same pool
    from ska_src_maltopuft_etl_spark.operators import similarity
    from ska_src_maltopuft_etl_spark.sources import load_table

    e = load_table(spark, sf, "embeddings")
    q = e.where(F.col("vec_id") == 0)
    c = e.where(F.col("vec_id") != 0)
    rel_rows = similarity.cosine_topk_bruteforce(
        q, c, "vec_id", "embedding", k=10
    ).collect()
    rel = {r["neighbor_id"]: r["cosine"] for r in rel_rows}
    vecs = {
        r["vec_id"]: r["embedding"]
        for r in c.where(F.col("vec_id").isin(list(rel))).collect()
    }

    def cos(a, b):
        num = sum(float(x) * float(y) for x, y in zip(a, b))
        na = sum(float(x) * float(x) for x in a) ** 0.5
        nb = sum(float(y) * float(y) for y in b) ** 0.5
        return round(num / (na * nb), 5)

    lam = 0.5
    picked = []
    remaining = dict(rel)
    first = max(remaining, key=lambda v: (remaining[v], -v))
    picked.append(first)
    remaining.pop(first)
    while len(picked) < 5 and remaining:
        def score(v):
            mx = max(cos(vecs[v], vecs[p]) for p in picked)
            return lam * rel[v] - (1 - lam) * mx
        nxt = max(remaining, key=lambda v: (score(v), -v))
        picked.append(nxt)
        remaining.pop(nxt)
    assert [v for _, v in got] == picked

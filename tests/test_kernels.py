"""Kernel parity tests (SURVEY.md §2.9) against hand-computed goldens."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from ska_src_maltopuft_etl_spark import functions as K


def one(df, colname="v"):
    return df.select(F.col(colname)).first()[0]


def test_hms_to_degrees(spark):
    # reference example: "4:40:17.07" (FIXTURES.md §1)
    df = spark.createDataFrame([("4:40:17.07",)], ["ra"])
    got = one(df.select(K.hms_to_degrees("ra").alias("v")))
    # (4 + 40/60 + 17.07/3600) * 15 = 70.071125 → round 5dp
    assert got == pytest.approx(70.07113, abs=1e-9)


def test_dms_to_degrees_negative_zero_degrees(spark):
    # SURVEY.md §7.3 risk 4: "-0:30:00" must be -0.5, not +0.5
    df = spark.createDataFrame([("-0:30:00",), ("-43:33:09.0",), ("+12:00:36",)], ["dec"])
    got = [r[0] for r in df.select(K.dms_to_degrees("dec").alias("v")).collect()]
    assert got[0] == pytest.approx(-0.5)
    assert got[1] == pytest.approx(-43.5525, abs=1e-5)
    assert got[2] == pytest.approx(12.01, abs=1e-5)


def test_hms_roundtrip(spark):
    df = spark.createDataFrame([(70.07113,), (10.0,), (359.99,)], ["deg"])
    back = df.select(K.hms_to_degrees(K.degrees_to_hms("deg")).alias("v"))
    for orig, got in zip([70.07113, 10.0, 359.99], [r[0] for r in back.collect()]):
        assert got == pytest.approx(orig, abs=1e-3)


def test_mjd_to_timestamp_epoch(spark):
    df = spark.createDataFrame([(40587.0,), (60268.91471,)], ["mjd"])
    got = [r[0] for r in df.select(K.mjd_to_timestamp("mjd").alias("v")).collect()]
    assert got[0] == dt.datetime(1970, 1, 1, 0, 0, 0)
    # 60268.91471 = 2023-11-20 21:57:10.944 UTC
    assert got[1].date() == dt.date(2023, 11, 20)
    assert got[1].hour == 21 and got[1].minute == 57
    assert abs(got[1].second + got[1].microsecond / 1e6 - 10.944) < 1e-3


def test_mjd_roundtrip(spark):
    df = spark.createDataFrame([(60268.91471,)], ["mjd"])
    got = one(df.select(K.timestamp_to_mjd(K.mjd_to_timestamp("mjd")).alias("v")))
    assert got == pytest.approx(60268.91471, abs=1e-9)


def test_round_timestamp_seconds(spark):
    rows = [
        (dt.datetime(2023, 1, 1, 0, 0, 0, 499_999), dt.datetime(2023, 1, 1, 0, 0, 0)),
        (dt.datetime(2023, 1, 1, 0, 0, 0, 500_000), dt.datetime(2023, 1, 1, 0, 0, 1)),
        (dt.datetime(2023, 1, 1, 0, 0, 59, 900_000), dt.datetime(2023, 1, 1, 0, 1, 0)),
    ]
    df = spark.createDataFrame([(a,) for a, _ in rows], ["ts"])
    got = [r[0] for r in df.select(K.round_timestamp_seconds("ts").alias("v")).collect()]
    assert got == [b for _, b in rows]


def test_pol_states_and_dataproduct(spark):
    df = spark.createDataFrame([(1,), (4,), (2,), (None,)], "npol int")
    out = df.select(
        K.pol_states("npol").alias("p"), K.dataproduct_type("npol").alias("d")
    ).collect()
    assert [r["p"] for r in out] == ["I", "I,Q,U,V", None, None]
    assert [r["d"] for r in out] == ["dynamic spectrum", "cube", None, None]


def test_em_min_max(spark):
    # cfreq=1284 MHz, bw=856 MHz (FIXTURES.md §1)
    df = spark.createDataFrame([(1284.0, 856.0)], ["cfreq", "bw"])
    lo = one(df.select(K.em_min("cfreq", "bw").alias("v")))
    hi = one(df.select(K.em_max("cfreq", "bw").alias("v")))
    assert lo == pytest.approx(299792458.0 / (1712e6))
    assert hi == pytest.approx(299792458.0 / (856e6))
    assert lo < hi


def test_pos_string(spark):
    df = spark.createDataFrame([(70.07113, -43.5525)], ["ra", "dec"])
    assert one(df.select(K.pos_string("ra", "dec").alias("v"))) == "(70.07113,-43.5525)"


def test_duration_sum_from_config(spark):
    cfg = "x duration=600\n y duration=0\n z duration=12.5\n"
    df = spark.createDataFrame([(cfg,), (None,), ("none here",)], "cfg string")
    got = [r[0] for r in df.select(K.duration_sum_from_config("cfg").alias("v")).collect()]
    assert got[0] == pytest.approx(612.5)
    assert got[1] is None
    assert got[2] == 0.0


def test_simhash_arrow_kernel_matches_expression_fold(spark):
    """The Arrow mapInPandas kernel (default) and the per-row expression
    fold must produce identical signatures — the kernel is only allowed
    to be a faster arrangement of the same math."""
    from ska_src_maltopuft_etl_spark.operators import text
    from ska_src_maltopuft_etl_spark.sources import load_table

    d = load_table(spark, "/root/testdata/sf0.001", "documents")
    a = {
        r["doc_id"]: r["simhash"]
        for r in text.simhash_bits(d, "doc_id", "text").collect()
    }
    e = {
        r["doc_id"]: r["simhash"]
        for r in text.simhash_bits(d, "doc_id", "text", arrow=False).collect()
    }
    assert a == e and len(a) == d.count()


def test_simhash_arrow_edge_cases(spark):
    """NULL text -> empty string; empty/whitespace-only text -> all-zero
    bits; repeated tokens weight votes by count — matching the
    expression fold exactly on each."""
    from ska_src_maltopuft_etl_spark.operators import text

    edge = spark.createDataFrame(
        [(1, None), (2, ""), (3, "  "), (4, "a  b a"), (5, "a b")],
        "doc_id long, text string",
    )
    got = {}
    for arrow in (True, False):
        got[arrow] = {
            r["doc_id"]: r["simhash"]
            for r in text.simhash_bits(
                edge, "doc_id", "text", arrow=arrow
            ).collect()
        }
    assert got[True] == got[False]
    assert got[True][1] == "" and got[True][2] == "0" * 64
    # 'a a b' vs 'a b': the doubled token must be able to flip bits
    assert got[True][4] != got[True][5]


def test_integer_ema_fold_matches_python(spark):
    """The F.aggregate EMA fold must equal a python loop over the same
    ordered series (integer fixed-point: s' = (3s + x) DIV 4)."""
    from pyspark.sql import functions as F

    xs = [17, 3, 250, 8, 8, 999, 1]
    df = spark.createDataFrame([(xs,)], "xs array<long>")
    ema = F.aggregate(
        F.slice(F.col("xs"), 2, F.size("xs") - 1),
        F.element_at(F.col("xs"), 1),
        lambda acc, x: (((acc * 3 + x) - ((acc * 3 + x) % 4)) / 4).cast("long"),
    ).cast("long")
    got = df.select(ema.alias("e")).head()["e"]
    s = xs[0]
    for x in xs[1:]:
        s = (s * 3 + x) // 4
    assert got == s

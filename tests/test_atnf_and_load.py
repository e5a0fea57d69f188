"""ATNF pipeline + idempotent load-layer tests."""

from __future__ import annotations

import datetime as dt

import pandas as pd
import pytest
from pyspark.sql import functions as F

from ska_src_maltopuft_etl_spark.plans.atnf import atnf_run
from ska_src_maltopuft_etl_spark.sinks import TargetInformation


def fake_atnf() -> pd.DataFrame:
    return pd.DataFrame(
        {
            "NAME": ["J0437-4715", "J0534+2200"],
            "RAJ": ["04:37:15.99", "05:34:31.97"],
            "DECJ": ["-47:15:09.7", "+22:00:52.1"],
            "DM": [2.64, 56.77],
            "W50": [0.141, 3.0],
            "P0": [0.005757, 0.033392],
            "DM_ERR": [0.01, 0.1],  # must be dropped
        }
    )


def test_atnf_pipeline(spark):
    ts = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    tables = atnf_run(spark, fake_atnf, visited_at=ts)
    cat = tables["catalogue"].collect()
    assert len(cat) == 1 and cat[0]["name"] == "ATNF pulsar catalogue"
    visit = tables["catalogue_visit"].collect()
    assert len(visit) == 1 and visit[0]["catalogue_id"] == 1
    ps = sorted(tables["known_pulsar"].collect(), key=lambda r: r["id"])
    assert [p["id"] for p in ps] == [1, 2]
    # J0437-4715: ra = (4 + 37/60 + 15.99/3600)*15 = 69.31663 (5dp)
    assert ps[0]["ra"] == pytest.approx(69.31663, abs=1e-5)
    assert ps[0]["dec"] == pytest.approx(-47.25269, abs=1e-5)
    assert ps[0]["pos"] == "(69.31663,-47.25269)"
    assert "dm" in tables["known_pulsar"].columns


def test_atnf_two_visits_incremental(spark, tmp_path):
    """Second ATNF run must get a FRESH catalogue_visit id and keep its
    known_pulsar rows (ADVICE round 1: batch-local visit id=1 collided
    with the first visit's rows under a plain append)."""
    from ska_src_maltopuft_etl_spark.sinks import ATNF_TARGETS, incremental_load

    out = str(tmp_path / "db")
    t1 = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    t2 = dt.datetime(2024, 2, 1, tzinfo=dt.timezone.utc)

    loaded1 = incremental_load(
        spark, atnf_run(spark, fake_atnf, visited_at=t1), ATNF_TARGETS, out
    )
    assert loaded1["catalogue_visit"].count() == 1
    assert loaded1["known_pulsar"].count() == 2

    loaded2 = incremental_load(
        spark, atnf_run(spark, fake_atnf, visited_at=t2), ATNF_TARGETS, out
    )
    # one catalogue row, two visits with distinct ids
    assert loaded2["catalogue"].count() == 1
    visits = sorted(r["id"] for r in loaded2["catalogue_visit"].collect())
    assert visits == [1, 2]
    # both visits' pulsar snapshots survive, FKs pointing at their visit
    ps = loaded2["known_pulsar"].collect()
    assert len(ps) == 4
    by_visit = {}
    for p in ps:
        by_visit.setdefault(p["catalogue_visit_id"], set()).add(p["name"])
    assert set(by_visit) == {1, 2}
    assert by_visit[1] == by_visit[2] == {"J0437-4715", "J0534+2200"}
    # pulsar ids unique across visits
    assert len({p["id"] for p in ps}) == 4


def test_incremental_load_null_safe_keys(spark, tmp_path):
    """incremental_load: re-running a batch whose natural key contains
    NULL is a no-op (the documented contract)."""
    from ska_src_maltopuft_etl_spark.sinks import incremental_load

    out = str(tmp_path / "db")
    df = spark.createDataFrame(
        [(1, None), (2, "b.png")], "id int, plot_path string"
    )
    targets = (TargetInformation("sp", "id", {}, ("plot_path",)),)
    loaded1 = incremental_load(spark, {"sp": df}, targets, out)
    assert loaded1["sp"].count() == 2
    loaded2 = incremental_load(spark, {"sp": df}, targets, out)
    assert loaded2["sp"].count() == 2

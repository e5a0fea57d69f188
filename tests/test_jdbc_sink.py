"""JDBC sink integration test against an embedded Derby database.

The reference's operative sink is a live relational database
(reference core/insert.py:26-119 — INSERT with conflict fallback inside
a transaction). Derby ships inside Spark's own jars and runs embedded in
the same JVM, so this exercises the REAL ``spark.read.jdbc`` /
``DataFrameWriter.jdbc`` code path of :func:`load_targets_on_conflict`
on tables Spark creates itself (no declared constraints): table
creation, staged merge, and the ON CONFLICT DO NOTHING idempotency
contract.

Set ``MALTOPUFT_JDBC_URL`` (+ optional ``MALTOPUFT_JDBC_DRIVER``) to
point the same test at an external database (e.g. Postgres) instead.
"""

from __future__ import annotations

import datetime as dt
import os

import pytest

from ska_src_maltopuft_etl_spark.sinks.relational import (
    TargetInformation,
    load_targets_on_conflict,
)

TARGETS = (
    TargetInformation("jdbc_schedule_block", "id", {}, ("start_at",)),
    TargetInformation(
        "jdbc_observation", "id",
        {"schedule_block_id": "jdbc_schedule_block"}, ("t_min",),
    ),
)


@pytest.fixture()
def jdbc(tmp_path):
    url = os.environ.get("MALTOPUFT_JDBC_URL")
    if url:
        props = {"driver": os.environ["MALTOPUFT_JDBC_DRIVER"]} if os.environ.get(
            "MALTOPUFT_JDBC_DRIVER"
        ) else {}
        return url, props
    try:  # embedded Derby rides along in Spark's jars
        import py4j  # noqa: F401  (always present with pyspark)
    except ImportError:  # pragma: no cover
        pytest.skip("no JDBC database available")
    return (
        f"jdbc:derby:{tmp_path}/maltopuftdb;create=true",
        {"driver": "org.apache.derby.jdbc.EmbeddedDriver"},
    )


def _tables(spark, extra_minute: int = 0, obs_id_offset: int = 0):
    sb = spark.createDataFrame(
        [
            (1, dt.datetime(2023, 11, 20, 21, 0)),
            (2, dt.datetime(2023, 11, 20, 22, 0)),
        ],
        "id long, start_at timestamp",
    )
    obs = spark.createDataFrame(
        [
            (1 + obs_id_offset, 1, dt.datetime(2023, 11, 20, 21, 5 + extra_minute)),
            (2 + obs_id_offset, 2, dt.datetime(2023, 11, 20, 22, 5 + extra_minute)),
        ],
        "id long, schedule_block_id long, t_min timestamp",
    )
    return {"jdbc_schedule_block": sb, "jdbc_observation": obs}


def test_jdbc_load_roundtrip_idempotent(spark, jdbc):
    url, props = jdbc
    tables = _tables(spark)
    load_targets_on_conflict(spark, tables, TARGETS, url, jdbc_properties=props)

    got = spark.read.jdbc(url, "jdbc_schedule_block", properties=props)
    assert got.count() == 2
    obs = spark.read.jdbc(url, "jdbc_observation", properties=props)
    assert {r["schedule_block_id"] for r in obs.collect()} == {1, 2}

    # exact re-run: every row conflicts and is skipped — the reference's
    # ON CONFLICT DO NOTHING semantics (core/insert.py).
    load_targets_on_conflict(spark, tables, TARGETS, url, jdbc_properties=props)
    assert spark.read.jdbc(url, "jdbc_schedule_block", properties=props).count() == 2
    assert spark.read.jdbc(url, "jdbc_observation", properties=props).count() == 2

    # overlapping batch: only the genuinely new natural keys append (the
    # new observations carry fresh ids, as Spark-side surrogate keys do).
    tables2 = _tables(spark, extra_minute=1, obs_id_offset=2)
    load_targets_on_conflict(spark, tables2, TARGETS, url, jdbc_properties=props)
    assert spark.read.jdbc(url, "jdbc_schedule_block", properties=props).count() == 2
    assert spark.read.jdbc(url, "jdbc_observation", properties=props).count() == 4
    obs = spark.read.jdbc(url, "jdbc_observation", properties=props).collect()
    assert sorted(r["id"] for r in obs) == [1, 2, 3, 4]
    assert {r["schedule_block_id"] for r in obs} == {1, 2}

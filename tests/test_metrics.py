"""The harness metrics reader: status-store totals per job group, the
battery timing loop, and totals over every progress event of a
streaming query."""

from __future__ import annotations

import datetime as dt
import time

import pytest

from ska_src_maltopuft_etl_spark.streaming import stream_with_watermark_dedup
from tools.metrics import TOTALS, best_of, job_totals, measure, stream_totals


def test_measure_cpu_bound_job(spark):
    if spark.sparkContext.defaultParallelism < 2:
        pytest.skip("needs at least two task slots")
    parts = 8
    with measure(spark, "cpu") as m:
        (
            spark.range(0, 800_000, 1, parts)
            .selectExpr("sha2(sha2(cast(id AS string), 512), 512) AS h")
            .write.format("noop").mode("overwrite").save()
        )
    assert m["jobs"] == 1
    assert m["stages"] == 1
    assert m["tasks"] == parts
    assert m["cpu_s"] > 0
    # tasks ran side by side, so their run time adds up past the wall
    assert m["run_s"] > m["wall_s"]


def test_measure_driver_only_block(spark):
    with measure(spark, "sleep") as m:
        time.sleep(0.2)
    assert m["jobs"] == 0
    assert m["tasks"] == 0 and m["run_s"] == 0
    assert m["wall_s"] >= 0.2


def test_measure_counts_only_its_own_group(spark):
    df = spark.range(0, 1000, 1, 4)
    with measure(spark, "a") as a:
        df.count()
    df.count()
    with measure(spark, "b") as b:
        df.count()
    df.count()
    assert a["jobs"] == b["jobs"] > 0
    assert a["tasks"] == b["tasks"]


def test_unknown_job_raises(spark):
    with pytest.raises(LookupError):
        job_totals(spark, [10**9])


def test_best_of_keeps_the_fastest_round_and_releases_its_pins(spark):
    jsc = spark.sparkContext._jsc

    def pinned() -> set[int]:
        return set(jsc.getPersistentRDDs().keys())

    entry = pinned()
    fixture = spark.range(0, 1000, 1, 2).localCheckpoint()
    with_fixture = pinned()
    (fixture_id,) = with_fixture - entry
    rounds: list[set[int]] = []

    def build():
        df = fixture.selectExpr("id * 2 AS x").localCheckpoint()
        rounds.append(pinned() - with_fixture)
        if len(rounds) != 2:
            # rounds 1 and 3 are slower and run one more job
            df.count()
            time.sleep(1.0)
        return df

    rec = best_of(spark, "best_of", build, 3)
    assert len(rounds) == 3
    # each round's pin was released before the next round began
    assert all(len(r) == 1 for r in rounds) and len(set().union(*rounds)) == 3
    assert set(rec) == {"wall_s", "jobs", "build_s", *TOTALS}
    # round 2: the eager checkpoint and the noop write, and no sleep
    assert rec["jobs"] == 2
    assert rec["build_s"] < 1.0 and rec["wall_s"] < 1.0
    assert pinned() == with_fixture
    jsc.getPersistentRDDs()[fixture_id].unpersist()


def test_stream_totals_count_every_batch(spark, tmp_path):
    n = 120
    rows = [
        (i % 50, dt.datetime(2024, 1, 1) + dt.timedelta(minutes=i))
        for i in range(n)
    ]
    src = str(tmp_path / "src")
    spark.createDataFrame(rows, "event_id long, ts timestamp").repartition(3) \
        .write.parquet(src)
    stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    q = (
        stream_with_watermark_dedup(stream, "ts", ["event_id"], watermark="10 minutes")
        .writeStream.format("noop")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    t = stream_totals(q)
    # the data batch is followed by a no-data batch that only moves the
    # watermark; the last progress event alone reads 0 input rows
    assert q.lastProgress["numInputRows"] == 0
    assert t["batches"] >= 2
    assert t["rows_in"] == n
    assert [s["operator"] for s in t["state"]] == ["dedupeWithinWatermark"]
    assert t["state"][0]["state_rows"] > 0

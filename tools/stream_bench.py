#!/usr/bin/env python
"""Streaming micro-benchmark: the timed perf surface for `streaming/*`
(round-15, VERDICT r14 item #7 — the streaming operators had
correctness/fuzz certificates but zero repeatable TIMED coverage).

Runs the three streaming paths over a tier's `events` table as real
Structured Streaming queries (availableNow trigger, parquet source,
checkpointed noop sink), BEST-OF-N per path, and records wall seconds,
rows/sec and, from every progress event of the run
(``tools.metrics.stream_totals``), the batch count, the input rows over
all batches and the state store's peak rows and bytes per operator.
Results are merged into STREAM_BENCH.json under a `--label` section so
successive rounds are comparable side by side:

    python tools/stream_bench.py [tier_dir] --label r15_start [--rounds 3]

A single scale datapoint for a tier is ``--rounds 1 --label <tier>``.

Deliberately NOT part of bench.py's battery: the driver's bench
contract is additions-only on the batch queries and a structured
streaming run needs its own checkpoint/session lifecycle.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from ska_src_maltopuft_etl_spark.engine import get_spark  # noqa: E402
from tools.metrics import stream_totals  # noqa: E402


def run_once(spark, df, name: str) -> dict:
    ckpt = tempfile.mkdtemp(prefix=f"stream_bench_{name}_")
    t0 = time.time()
    q = (
        df.writeStream.format("noop")
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rec = {"wall_sec": round(time.time() - t0, 3), **stream_totals(q)}
    shutil.rmtree(ckpt, ignore_errors=True)
    return rec


def main() -> int:
    args = sys.argv[1:]
    label = "run"
    rounds = 3
    if "--label" in args:
        i = args.index("--label")
        label = args[i + 1]
        del args[i : i + 2]
    if "--rounds" in args:
        i = args.index("--rounds")
        rounds = int(args[i + 1])
        del args[i : i + 2]
    tier = args[0] if args else "/root/testdata/sf0.1"
    events_path = os.path.join(tier, "events.parquet")
    if not os.path.exists(events_path):
        sys.exit(f"events table not found: {events_path}")

    spark = get_spark(app_name="stream_bench", conf={"spark.ui.enabled": "false"})

    stage = tempfile.mkdtemp(prefix="stream_bench_src_")
    os.symlink(os.path.abspath(events_path), os.path.join(stage, "events.parquet"))
    batch = spark.read.parquet(stage)
    n_rows = batch.count()
    from pyspark.sql import functions as F

    has_nanos = dict(batch.dtypes).get("ts") == "bigint"

    def load_stream():
        s = spark.readStream.schema(batch.schema).parquet(stage)
        if has_nanos:
            # integer div: float division corrupts µs above 2^53 (NOTES)
            s = s.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif dict(batch.dtypes).get("ts") == "timestamp_ntz":
            # make_sfN tiers write naive µs timestamps; watermarks
            # require TimestampType (session tz is pinned UTC).
            s = s.withColumn("ts", F.col("ts").cast("timestamp"))
        return s

    from ska_src_maltopuft_etl_spark.streaming import (
        join_event_streams,
        sessionize_events,
        stream_with_watermark_dedup,
    )

    def path_dedup():
        return stream_with_watermark_dedup(
            load_stream(), "ts", ["event_id"], watermark="1 hour"
        )

    def path_sessionize():
        return sessionize_events(load_stream(), gap_minutes=30)

    def path_join():
        sl = load_stream().where(F.col("event_type") == "click").select(
            "user_id", "ts",
            F.col("event_id").alias("l_event"),
            F.col("value").alias("l_value"),
        )
        sr = load_stream().where(F.col("event_type") == "purchase").select(
            "user_id",
            F.col("ts").alias("r_ts"),
            F.col("event_id").alias("r_event"),
        )
        return join_event_streams(
            sl, sr, key="user_id", left_ts="ts", right_ts="r_ts",
            band_seconds=300, watermark="1 hour", how="leftOuter",
        )

    paths = {
        "watermark_dedup": path_dedup,
        "sessionize_events": path_sessionize,
        "interval_join_left_outer": path_join,
    }
    results = {}
    for name, build in paths.items():
        best = None
        for _ in range(rounds):
            rec = run_once(spark, build(), name)
            if best is None or rec["wall_sec"] < best["wall_sec"]:
                best = rec
        best["rows_per_sec"] = (
            round(n_rows / best["wall_sec"], 1) if best["wall_sec"] else None
        )
        results[name] = best
        print(json.dumps({"path": name, **best}), flush=True)
    shutil.rmtree(stage, ignore_errors=True)

    out_path = os.path.join(REPO, "STREAM_BENCH.json")
    artifact = {}
    if os.path.exists(out_path):
        try:
            with open(out_path) as f:
                artifact = json.load(f)
        except ValueError:
            artifact = {}
    artifact[label] = {
        "tier_dir": tier,
        "rows": n_rows,
        "rounds": rounds,
        "state_store": spark.conf.get(
            "spark.sql.streaming.stateStore.providerClass"
        ).rsplit(".", 1)[-1],
        "paths": results,
    }
    with open(out_path, "w") as f:
        json.dump(artifact, f, indent=1, sort_keys=True)
    print(f"wrote STREAM_BENCH.json [{label}]", flush=True)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())

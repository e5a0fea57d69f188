#!/usr/bin/env python
"""Headline benchmark: run the engine's query battery at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and print ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Every query is timed under ``write.format("noop")`` — a blackhole sink
that materializes every output column, so the full final-projection cost
is paid (a bare ``count()`` lets Catalyst prune expensive final
projections and under-reports projection-heavy queries; that
count-based series was the r1-r9 legacy metric, retired in round 10
per the r8/r9 verdicts).

Headline pair:

- ``value`` — raw noop-sink battery total (best-of-N per query);
- ``value_canary_normalized`` — the same total divided by
  ``canary_drift_box``, the drift of a synthetic engine-free box probe
  against its quiet-box reference (``cfg/bench_canary.json``).

A 1-minute loadavg above ``SPARK_GRAFT_BENCH_MAX_LOAD`` (default 8.0)
is flagged as ``"env_hot": true`` in the artifact and warned on stderr;
set ``SPARK_GRAFT_BENCH_REFUSE=1`` to make that a hard exit instead
(the default stays soft so the driver's per-round run always yields a
line).

Usage: python bench.py [--config harness.yml]
(YAML keys: sf_dir, bench_rounds, queries — see config.HarnessConfig.)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

from ska_src_maltopuft_etl_spark.config import load_harness_config
from ska_src_maltopuft_etl_spark.engine import get_spark, release_all_persisted
from ska_src_maltopuft_etl_spark.plans import QUERIES


def _executor_task_ms(spark) -> int | None:
    """Cumulative executor task time (ms) across the app so far.

    Round-15 scaling contract (VERDICT r14 #2): the per-query WALL time
    at sf0.1 is driver-dominated, so the driver's low-vs-high-core wall
    ratio reads ~1 everywhere and cannot tell a serial operator from a
    driver-bound tier. Executor aggregate task time is the number that
    scales with cores: per-query deltas of this counter let the scaling
    probe separate "executor compute (parallelizable)" from "driver
    overhead (core-count-invariant)". Read from the app status store's
    executor summaries (sum of ``totalDuration``); the listener bus is
    drained first so late task-end events land on the query that ran
    them. Returns None if the internal API is unavailable (the field is
    additive — wall timings are unaffected).
    """
    try:
        jsc = spark.sparkContext._jsc.sc()  # noqa: SLF001
        try:
            jsc.listenerBus().waitUntilEmpty()
        except Exception:
            pass  # best-effort drain; ~ms-level attribution slack is fine
        total = 0
        it = jsc.statusStore().executorList(False).iterator()
        while it.hasNext():
            total += it.next().totalDuration()
        return int(total)
    except Exception:
        return None


def _box_probe_sec(spark) -> float:
    """Pure box-speed probe: a fixed synthetic workload that never
    touches engine code, so no code change can move it.

    Plain Spark API over ``range()`` data, fixed seed-free integer
    arithmetic, fixed partition counts, no engine imports — byte-frozen
    alongside the reference value in cfg/bench_canary.json
    (``box_probe_reference_sec``). Shape: one CPU-bound hash aggregate +
    one shuffle join, ~1 s on a quiet local[32] box. Timed best-of-2
    (JVM/codegen warm by the time it runs — bench.py's warmup precedes
    it).
    """
    import time as _t

    best = None
    for _ in range(2):
        t0 = _t.time()
        left = (
            spark.range(0, 12_000_000, 1, 32)
            .selectExpr(
                "id % 100000 AS k",
                "(id * 2654435761) % 1000003 AS v",
            )
        )
        agg = left.groupBy("k").agg(
            F.sum("v").alias("s"),
            F.avg("v").alias("a"),
            F.max("v").alias("m"),
        )
        right = spark.range(0, 100_000, 1, 8).selectExpr(
            "id AS k", "id * 7 % 97 AS w"
        )
        agg.join(right, "k").selectExpr(
            "k", "s + w AS sw", "a", "m"
        ).write.format("noop").mode("overwrite").save()
        el = _t.time() - t0
        best = el if best is None else min(best, el)
    return round(best, 3)


def main() -> None:
    cfg_path = None
    if "--config" in sys.argv:
        cfg_path = sys.argv[sys.argv.index("--config") + 1]
    cfg = load_harness_config(cfg_path)
    sf_dir = cfg.sf_dir
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    try:
        sf_val = float(sf)
    except ValueError:
        sf_val = None

    # Quiesce check (round-7 VERDICT #3a): two rounds of
    # battery-to-battery deltas turned out to be co-tenant processes,
    # not code. The numbers go in the final JSON so the JUDGE can see
    # the environment, not just us.
    max_load = float(os.environ.get("SPARK_GRAFT_BENCH_MAX_LOAD", "8.0"))
    load_start = os.getloadavg()[0]
    env_hot = load_start > max_load
    if env_hot:
        print(
            f"[bench] WARNING: 1-min loadavg {load_start:.1f} > {max_load} "
            f"at start — box is not quiet; totals will not be comparable "
            f"(set SPARK_GRAFT_BENCH_REFUSE=1 to abort instead)",
            file=sys.stderr, flush=True,
        )
        if os.environ.get("SPARK_GRAFT_BENCH_REFUSE") == "1":
            print(json.dumps({
                "metric": "total_query_battery_noop_sink_sec",
                "value": None,
                "refused": f"loadavg_start {load_start:.2f} > {max_load}",
            }))
            sys.exit(3)

    spark = get_spark(app_name="bench", conf={"spark.ui.enabled": "false"})

    # Warm the JVM / codegen / parquet footer caches so the first timed
    # query doesn't absorb session startup.
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    next(iter(QUERIES.values())).fn(spark, sf_dir).count()

    specs = {
        k: v
        for k, v in QUERIES.items()
        if not cfg.queries or k in set(cfg.queries)
    }

    # Per-query time = best of N full executions (default 3; round-5
    # judge item #4 — min-of-2 still let ±8-10% battery noise swamp
    # real code deltas). Min-of-N is the standard steady-state
    # estimator; each round still executes the complete plan from the
    # parquet scan up (cache cleared between).
    rounds = cfg.bench_rounds
    timings_noop: dict[str, float] = {}
    # Per-query executor aggregate task time (sec) — additive round-15
    # field (VERDICT r14 #2): recorded for the same round the best wall
    # time came from, so wall and task time describe one execution.
    task_sec: dict[str, float] = {}
    for name, spec in specs.items():
        # progress marker on stderr (stdout stays machine-parseable;
        # the driver keeps only the final stdout line): long scaled-tier
        # batteries die mid-run on resource walls, and without this the
        # failing QUERY is unidentifiable from stage numbers alone.
        print(f"[bench] {name}", file=sys.stderr, flush=True)
        best_noop = None
        for _ in range(rounds):
            tk0 = _executor_task_ms(spark)
            t0 = time.time()
            df = spec.fn(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            elapsed = time.time() - t0
            tk1 = _executor_task_ms(spark)
            if best_noop is None or elapsed < best_noop:
                if tk0 is not None and tk1 is not None:
                    task_sec[name] = round((tk1 - tk0) / 1000.0, 3)
            best_noop = elapsed if best_noop is None else min(best_noop, elapsed)
            # queries are independent; drop any intermediates a query
            # pinned so later timings aren't distorted by cache/GC
            # pressure. clearCache only unpins catalog-cached frames —
            # localCheckpoint RDDs (the iterative/certification queries
            # use ~18 of them) live in RDD storage and otherwise
            # accumulate across the battery, degrading every later
            # query via GC pressure (measured +40% battery drift).
            release_all_persisted(spark)
        timings_noop[name] = round(best_noop, 3)
    total_noop = round(sum(timings_noop.values()), 3)

    # Box probe: a synthetic, engine-free workload timed against a
    # quiet-box reference pinned in cfg/bench_canary.json. Runs AFTER
    # the battery so it never warms the timed queries.
    box_probe_sec = None
    try:
        box_probe_sec = _box_probe_sec(spark)
    except Exception:
        pass
    load_end = os.getloadavg()[0]

    # Box drift: ~1.0 = quiet box; >>1.0 = environmental inflation,
    # which the normalized total divides out.
    canary_drift_box = None
    total_normalized = None
    try:
        with open(
            os.path.join(os.path.dirname(os.path.abspath(__file__)),
                         "cfg", "bench_canary.json")
        ) as f:
            box_ref = json.load(f).get("box_probe_reference_sec")
        if box_probe_sec is not None and box_ref:
            canary_drift_box = round(box_probe_sec / float(box_ref), 3)
            total_normalized = round(total_noop / canary_drift_box, 3)
    except (OSError, ValueError, ZeroDivisionError):
        pass
    # Round 2 postmortem: the single-line JSON with all per-query
    # timings outgrew the driver's tail capture and the headline line was
    # truncated away ("parsed": null in BENCH_r02.json). Emit the full
    # map on its own (non-final) line for humans/archives, then a SHORT
    # final JSON line — same contract keys, but "queries" bounded to the
    # slowest 12 so the line stays well under any tail-capture limit.
    full = {
        "metric": "per_query_wall_sec_full",
        "queries_noop_sink": timings_noop,
        "queries_exec_task_sec": task_sec,
        "canary_drift_box": canary_drift_box,
        "box_probe_sec": box_probe_sec,
        "loadavg_start": round(load_start, 2),
        "loadavg_end": round(load_end, 2),
        "env_hot": env_hot,
        "sf": sf_val,
        "rounds": rounds,
        "config": cfg_path,
    }
    print(json.dumps(full))
    # Also archive in-repo so every round's full battery is diffable
    # (the driver's BENCH_r{N}.json keeps only the final line). Subset
    # runs (--config queries: [...]) must not clobber the archive.
    if not cfg.queries:
        try:
            with open(
                os.path.join(os.path.dirname(os.path.abspath(__file__)),
                             "BENCH_FULL.json"), "w"
            ) as f:
                json.dump(full, f, indent=1, sort_keys=True)
        except OSError:
            pass
    slowest = dict(
        sorted(timings_noop.items(), key=lambda kv: kv[1], reverse=True)[:12]
    )
    print(
        json.dumps(
            {
                # PRIMARY metric since round 8: noop-sink total — every
                # output column materialized, final projections paid.
                # (count_total_sec_legacy retired in round 10.)
                "metric": "total_query_battery_noop_sink_sec",
                "value": total_noop,
                "unit": "sec",
                # raw total divided by the box probe's drift
                "value_canary_normalized": total_normalized,
                "canary_drift_box": canary_drift_box,
                "loadavg_start": round(load_start, 2),
                "loadavg_end": round(load_end, 2),
                "env_hot": env_hot,
                "queries": slowest,
                # executor aggregate task time for the same 12 queries
                # (r15 scaling contract: task time scales with cores,
                # wall at sf0.1 is driver-bound — see VERDICT r14 #2).
                "queries_exec_task_sec": {
                    k: task_sec[k] for k in slowest if k in task_sec
                },
                "n_queries": len(timings_noop),
                "sf": sf_val,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()

#!/usr/bin/env python
"""Headline benchmark: time the engine's query battery on
local[$SPARK_GRAFT_CPUS] and print ONE final JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {name: sec},
"n_queries": ..., "sf": ...}.

Usage: python bench.py [SF_DIR] [--rounds N] [--plans DIR] [QUERY ...]

SF_DIR defaults to /root/testdata/sf0.1, ``--rounds`` to 3, and the
queries to the whole registry; naming queries requires SF_DIR first.
Each query is timed by ``tools.metrics.best_of``: the fastest of N
noop-sink writes, each under ``measure``, so every query carries Spark's
own accounting of that round (``wall_s``, ``jobs``, every
``tools.metrics.TOTALS`` key) plus ``build_s``, the Python-side frame
construction time including any jobs the query runs while building. A
line before the final one holds every query's record; a full-registry
run also archives it to ``BENCH_FULL.json``. ``--plans DIR`` writes each
query's ``explain('formatted')`` to ``DIR/<query>.txt``.

A 1-minute loadavg above the number of usable cores at start is flagged
as ``"env_hot": true`` and warned on stderr.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from ska_src_maltopuft_etl_spark.engine import get_spark
from ska_src_maltopuft_etl_spark.plans import QUERIES
from tools.metrics import STATUS_CONF, best_of


def main() -> None:
    ap = argparse.ArgumentParser(description="Time the query battery.")
    ap.add_argument("sf_dir", nargs="?", default="/root/testdata/sf0.1")
    ap.add_argument("--rounds", type=int, default=3)
    ap.add_argument("--plans", metavar="DIR")
    ap.add_argument("queries", nargs="*", metavar="QUERY")
    args = ap.parse_intermixed_args()
    if not os.path.isdir(args.sf_dir):
        ap.error(f"SF_DIR {args.sf_dir} is not a directory")
    if args.rounds < 1:
        ap.error("--rounds must be at least 1")
    unknown = sorted(set(args.queries) - set(QUERIES))
    if unknown:
        ap.error(f"unknown queries: {unknown}")
    sf_dir = args.sf_dir
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    try:
        sf_val = float(sf)
    except ValueError:
        sf_val = None

    # Battery-to-battery deltas have turned out to be co-tenant
    # processes, not code; the load brackets go in the output so a
    # reader can see the environment too.
    load_start = os.getloadavg()[0]
    env_hot = load_start > len(os.sched_getaffinity(0))
    if env_hot:
        print(
            f"[bench] WARNING: 1-min loadavg {load_start:.1f} exceeds the "
            f"usable cores at start; totals will not be comparable",
            file=sys.stderr, flush=True,
        )

    spark = get_spark(
        app_name="bench", conf={"spark.ui.enabled": "false", **STATUS_CONF}
    )

    # The first query pays the cold scan and codegen start: run it once
    # untimed.
    first = next(iter(QUERIES.values()))
    best_of(spark, "warmup", lambda: first.fn(spark, sf_dir), 1)

    if args.plans:
        os.makedirs(args.plans, exist_ok=True)
    per_query: dict[str, dict[str, float]] = {}
    for name in args.queries or QUERIES:
        # progress marker on stderr (stdout stays machine-parseable):
        # long scaled-tier batteries die mid-run on resource walls, and
        # this names the failing query
        print(f"[bench] {name}", file=sys.stderr, flush=True)
        frames = []

        def build():
            frames.append(QUERIES[name].fn(spark, sf_dir))
            return frames[-1]

        per_query[name] = best_of(spark, name, build, args.rounds)
        if args.plans:
            df = frames[-1]
            plan = df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
                df._jdf.queryExecution(), "formatted"
            )
            with open(os.path.join(args.plans, f"{name}.txt"), "w") as f:
                f.write(plan)
    timings_noop = {k: v["wall_s"] for k, v in per_query.items()}
    total_noop = round(sum(timings_noop.values()), 3)
    load_end = os.getloadavg()[0]

    # The full map goes on its own (non-final) line: a single line with
    # every query outgrew a tail capture once and lost the headline. The
    # final line keeps the contract keys with "queries" bounded to the
    # slowest 12.
    full = {
        "metric": "per_query_wall_sec_full",
        "queries": per_query,
        "loadavg_start": round(load_start, 2),
        "loadavg_end": round(load_end, 2),
        "env_hot": env_hot,
        "sf": sf_val,
        "rounds": args.rounds,
    }
    print(json.dumps(full))
    # archive the full battery in-repo so runs are diffable; a subset
    # run must not clobber it
    if not args.queries:
        with open(
            os.path.join(os.path.dirname(os.path.abspath(__file__)),
                         "BENCH_FULL.json"), "w"
        ) as f:
            json.dump(full, f, indent=1, sort_keys=True)
    slowest = dict(
        sorted(timings_noop.items(), key=lambda kv: kv[1], reverse=True)[:12]
    )
    print(
        json.dumps(
            {
                # noop-sink total: every output column materialized,
                # final projections paid
                "metric": "total_query_battery_noop_sink_sec",
                "value": total_noop,
                "unit": "sec",
                "loadavg_start": round(load_start, 2),
                "loadavg_end": round(load_end, 2),
                "env_hot": env_hot,
                "queries": slowest,
                # executor CPU time of the same 12 queries: wall at
                # sf0.1 is largely driver-bound, CPU time is not
                "queries_cpu_s": {k: per_query[k]["cpu_s"] for k in slowest},
                "n_queries": len(timings_noop),
                "sf": sf_val,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()

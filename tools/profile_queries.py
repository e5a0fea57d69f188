#!/usr/bin/env python
"""Per-query optimization profiler (guide §1: measure first).

For each named query (default: all), under the SAME session settings as
bench.py, runs build + noop-sink execution ``--rounds`` times (full
re-build each round, like bench.py) and keeps the fastest round's:

- ``build_s`` — Python-side DataFrame construction (plan building,
  including any driver-side actions a query performs while building:
  collects, localCheckpoints, toPandas samples);
- Spark's accounting of the whole round from ``tools.metrics.measure``:
  ``wall_s``, ``jobs`` (job-count >> 1 flags hidden actions / eager
  checkpoints), ``run_s``, ``cpu_s``, ``shuffle_mb``, ``spill_mb`` and
  the rest of ``tools.metrics.TOTALS``;
- writes ``.explain('formatted')`` to ``plans/<round>/<query>_<tag>.txt``
  when ``--plans <tag>`` is given (round dir from ``--plans-dir``,
  default r15).

Usage:
  python tools/profile_queries.py [--rounds N] [--plans TAG]
                                  [--plans-dir rNN] [query ...]

Output: one JSON line per query on stdout + a sorted summary on stderr.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from ska_src_maltopuft_etl_spark.engine import get_spark, release_all_persisted
from ska_src_maltopuft_etl_spark.plans import QUERIES
from tools.metrics import STATUS_CONF, measure


def main() -> int:
    args = sys.argv[1:]
    rounds = 3
    plans_tag = None
    plans_round = "r15"
    if "--rounds" in args:
        i = args.index("--rounds")
        rounds = int(args[i + 1])
        del args[i : i + 2]
    if "--plans" in args:
        i = args.index("--plans")
        plans_tag = args[i + 1]
        del args[i : i + 2]
    if "--plans-dir" in args:
        i = args.index("--plans-dir")
        plans_round = args[i + 1]
        del args[i : i + 2]
    names = args or list(QUERIES)

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(
        app_name="profile", conf={"spark.ui.enabled": "false", **STATUS_CONF}
    )
    # warm like bench.py
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    next(iter(QUERIES.values())).fn(spark, sf_dir).count()

    plans_dir = os.path.join(REPO, "plans", plans_round)
    if plans_tag:
        os.makedirs(plans_dir, exist_ok=True)

    results = {}
    for name in names:
        spec = QUERIES[name]
        best = None
        for _ in range(rounds):
            with measure(spark, name) as m:
                t0 = time.perf_counter()
                df = spec.fn(spark, sf_dir)
                build_s = time.perf_counter() - t0
                df.write.format("noop").mode("overwrite").save()
            rec = {"build_s": round(build_s, 3), **m}
            if best is None or rec["wall_s"] < best["wall_s"]:
                best = rec
            release_all_persisted(spark)
        if plans_tag:
            df = spec.fn(spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
                df._jdf.queryExecution(), "formatted"
            )
            with open(os.path.join(plans_dir, f"{name}_{plans_tag}.txt"), "w") as f:
                f.write(plan)
            release_all_persisted(spark)
        results[name] = best
        print(json.dumps({"query": name, **best}), flush=True)

    order = sorted(results.items(), key=lambda kv: -kv[1]["wall_s"])
    print("\n== slowest (wall_s, build_s, run_s, cpu_s, jobs) ==", file=sys.stderr)
    for n, r in order[:40]:
        print(
            f"{n:38s} {r['wall_s']:7.3f} {r['build_s']:7.3f} "
            f"{r['run_s']:7.3f} {r['cpu_s']:7.3f} {r['jobs']:4d}",
            file=sys.stderr,
        )
    tot = sum(r["wall_s"] for r in results.values())
    print(f"TOTAL best-of-{rounds}: {tot:.1f}s over {len(results)} queries",
          file=sys.stderr)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())

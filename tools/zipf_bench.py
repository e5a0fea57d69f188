#!/usr/bin/env python
"""Zipf-skew join-family bench (round-10 VERDICT item #8).

Runs the join-family flagships at a `make_sfN.py --skew zipf` tier —
where the hottest lineitem.l_orderkey holds ~5% of all rows (~30,000×
the mean) and the hottest events.user_id ~7% — and measures AQE's skew
split against the naive baseline:

- `plain_aqe_skew`   : shuffle sort-merge join, AQE skew-split ON (the
                       session default) — broadcast disabled so the
                       plan is the one a 100 TB fact-fact join gets;
- `plain_no_skewfix` : same join, AQE skew handling OFF — the naive
                       baseline whose straggler IS the cliff.

Plus the as-of / interval flagships (their skew exposure is the
window/bucket key, not a sort-merge join, so they run under the session
default only) at BOTH the uniform ×10 tier and the zipf tier — the
uniform-vs-zipf delta is the cliff measurement.

Usage:
    python tools/zipf_bench.py [zipf_tier] [uniform_tier] [--rounds 2]
                               [--ab-only] [--out ZIPF_SKEW.json]

--ab-only runs just the key profiles + the sort-merge-join A/B.

Each timed datapoint is a ``tools.metrics.best_of`` record: the fastest
of ``--rounds`` noop-sink writes with Spark's own accounting of it
(``wall_s``, ``jobs``, ``build_s`` and every ``tools.metrics.TOTALS``
key). Emits one JSON line per datapoint and writes the --out artifact.
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from ska_src_maltopuft_etl_spark.engine import get_spark  # noqa: E402
from ska_src_maltopuft_etl_spark.plans import QUERIES  # noqa: E402
from ska_src_maltopuft_etl_spark.sources import load_table  # noqa: E402
from tools.metrics import STATUS_CONF, best_of  # noqa: E402


def plain_join_revenue(spark, sf_dir):
    """revenue_exact_decimal's join and GROUP BY, with a double sum."""
    li = load_table(spark, sf_dir, "lineitem")
    od = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), F.col("o_orderpriority")
    )
    return li.join(od, "l_orderkey").groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("revenue"),
    )


def main() -> int:
    args = [a for a in sys.argv[1:]]
    rounds = 2
    if "--rounds" in args:
        i = args.index("--rounds")
        rounds = int(args[i + 1])
        del args[i : i + 2]
    ab_only = "--ab-only" in args
    if ab_only:
        args.remove("--ab-only")
    flagships = None  # None = the default battery below
    if "--flagships" in args:
        i = args.index("--flagships")
        flagships = args[i + 1].split(",")
        del args[i : i + 2]
    out_name = "ZIPF_SKEW.json"
    if "--out" in args:
        i = args.index("--out")
        out_name = args[i + 1]
        del args[i : i + 2]
    zipf = args[0] if args else "/tmp/sparkgraft_sf1_zipf"
    uniform = args[1] if len(args) > 1 else "/tmp/sparkgraft_sf1"

    spark = get_spark(
        app_name="zipf_bench", conf={"spark.ui.enabled": "false", **STATUS_CONF}
    )
    results: list[dict] = []

    def record(**kw) -> None:
        print(json.dumps(kw), flush=True)
        results.append(kw)

    warmed = False

    def timed(label: str, build) -> dict:
        """``best_of`` over ``rounds``. The session's first query pays
        the cold scan and codegen start, so the first datapoint runs
        once and is discarded first, as bench.py does."""
        nonlocal warmed
        if not warmed:
            best_of(spark, "warmup", build, 1)
            warmed = True
        return best_of(spark, label, build, rounds)

    # hot-key profile of both tiers (the independent variable)
    for tier, tag in ((uniform, "uniform"), (zipf, "zipf")):
        for t, k in (("lineitem", "l_orderkey"), ("events", "user_id")):
            prof = (
                load_table(spark, tier, t)
                .groupBy(k)
                .count()
                .agg(F.max("count").alias("mx"), F.avg("count").alias("mean"))
                .first()
            )
            record(kind="key_profile", tier=tag, table=t, key=k,
                   hottest=int(prof["mx"]), mean=round(float(prof["mean"]), 1))

    # --- the sort-merge-join A/B: AQE skew-split on vs off -----------
    # broadcast disabled so the shuffle join actually happens (at 100 TB
    # neither side of a fact-fact join broadcasts). Skipped when an
    # explicit --flagships list asks for a targeted flagship-only run.
    for tier, tag in () if flagships is not None else (
        (uniform, "uniform"), (zipf, "zipf")):
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
        record(kind="join_ab", tier=tag, config="plain_no_skewfix",
               **timed("plain_no_skewfix", lambda: plain_join_revenue(spark, tier)))
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
        record(kind="join_ab", tier=tag, config="plain_aqe_skew",
               **timed("plain_aqe_skew", lambda: plain_join_revenue(spark, tier)))
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")

    # --- flagship family under the session default, uniform vs zipf --
    default_battery = (
        "asof_join_forward_next_action",
        "interval_join_sessions",
        "interval_overlap_pairs",
    )
    if flagships is None:
        flagships = () if ab_only else default_battery
    for name in flagships:
        fn = QUERIES[name].fn
        for tier, tag in ((uniform, "uniform"), (zipf, "zipf")):
            record(kind="flagship", tier=tag, query=name,
                   **timed(name, lambda: fn(spark, tier)))

    with open(os.path.join(REPO, out_name), "w") as f:
        json.dump({"zipf_tier": zipf, "uniform_tier": uniform,
                   "rounds": rounds, "ab_only": ab_only,
                   # tier provisioning (the ×1000 lesson: partition
                   # count is part of the measurement, not ambience)
                   "driver_mem": spark.conf.get("spark.driver.memory"),
                   "shuffle_partitions": spark.conf.get(
                       "spark.sql.shuffle.partitions"),
                   "results": results}, f, indent=1)
    print(f"wrote {out_name}", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())

#!/usr/bin/env python
"""Skewed-join fixture bench: plain shuffle join vs AQE skew-split vs salting.

Builds a deliberately hot key at sf0.1 — 60% of lineitem rows remapped to
ONE join key — then joins against a synthetic per-key dimension under
three configurations:

1. shuffle join, AQE skew handling OFF  (the naive baseline);
2. shuffle join, AQE skew handling ON   (the session default — AQE
   splits oversized partitions at runtime for sort-merge joins);
3. ``operators.skew.salted_join`` k=16  (the explicit fix that also
   works where AQE can't: broadcast-ineligible hash joins, streaming,
   aggregations keyed on the hot column).

For each config records the ``tools.metrics.best_of`` record of the
fastest of N noop-sink writes (``wall_s``, ``jobs``, ``build_s`` and
every ``tools.metrics.TOTALS`` key), and prints the post-shuffle
row-count spread per partition (max / mean — the direct proxy for task
-time spread: one 360k-row reducer vs 31 idle ones IS the straggler).

Usage: python tools/skew_bench.py [sf_dir] [rounds]
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from ska_src_maltopuft_etl_spark.engine import get_spark
from ska_src_maltopuft_etl_spark.operators.skew import salted_join
from ska_src_maltopuft_etl_spark.sources import load_table
from tools.metrics import STATUS_CONF, best_of

#: fact replication: 12M rows at sf0.1, so the hot reducer's work
#: dominates scheduling overhead — the straggler effect is what the
#: bench exists to show
MULT = 20


def partition_spread(df, key_cols):
    """(max, mean) rows per shuffle partition if hash-partitioned on
    key_cols with the session's shuffle partition count — computed
    declaratively (one small agg), no glom/collect of data."""
    n_part = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    per = (
        df.groupBy(
            F.pmod(F.hash(*[F.col(c) for c in key_cols]), F.lit(n_part)).alias("p")
        )
        .count()
        .agg(
            F.max("count").alias("mx"),
            (F.sum("count") / F.lit(n_part)).alias("mean"),
        )
        .first()
    )
    return int(per["mx"]), float(per["mean"])


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    rounds = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    spark = get_spark(
        app_name="skew_bench", conf={"spark.ui.enabled": "false", **STATUS_CONF}
    )

    li = load_table(spark, sf_dir, "lineitem")
    # 60% of rows -> ONE hot key (hkey=1); the rest keep distinct keys
    fact = (
        li.select(
            F.when(F.pmod(F.col("l_orderkey"), F.lit(10)) < 6, F.lit(1))
            .otherwise(F.col("l_orderkey"))
            .alias("hkey"),
            "l_quantity",
            "l_extendedprice",
        )
        .crossJoin(spark.range(MULT).select(F.col("id").alias("__rep")))
        .localCheckpoint()  # freeze the fixture; every config reads identical input
    )
    dim = (
        fact.select("hkey")
        .distinct()
        .withColumn("dim_weight", F.pmod(F.col("hkey"), F.lit(97)))
        .localCheckpoint()
    )
    n_fact = fact.count()
    mx, mean = partition_spread(fact, ["hkey"])
    print(f"fixture: {n_fact} fact rows, hot-partition spread max={mx} mean={mean:.0f} (x{mx/mean:.1f})")

    results = {}

    def join_query(salted: bool):
        def build():
            q = (
                salted_join(fact, dim, "hkey", salt_buckets=16)
                if salted
                else fact.join(dim, "hkey")
            )
            return q.groupBy("dim_weight").agg(
                F.sum("l_quantity").alias("qty"), F.count(F.lit(1)).alias("n")
            )

        return build

    def run_join(label: str, salted: bool) -> None:
        results[label] = best_of(spark, label, join_query(salted), rounds)

    # Force the shuffle path: with a broadcast-able dim the demo is moot
    # (broadcast joins don't shuffle the fact at all — that IS the first
    # fix to try; salting is for when neither side broadcasts).
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")

    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
    # The session's first join pays the codegen start: run the first
    # datapoint once and discard it, as bench.py does.
    best_of(spark, "warmup", join_query(salted=False), 1)
    run_join("plain_shuffle_join_skew_off", salted=False)
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    # make the splitter see our hot partition at this small scale
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    spark.conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "1m"
    )
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1m")
    run_join("plain_shuffle_join_aqe_skew_split", salted=False)
    run_join("salted_join_k16", salted=True)

    smx, smean = partition_spread(
        fact.withColumn(
            "__salt", F.pmod(F.xxhash64(*[F.col(c) for c in fact.columns]), F.lit(16)).cast("int")
        ),
        ["hkey", "__salt"],
    )
    print(f"salted spread: max={smx} mean={smean:.0f} (x{smx/smean:.1f})")
    print(json.dumps({"metric": "skew_join_wall_sec", "sf_dir": sf_dir,
                      "rounds": rounds, "results": results,
                      "spread_before": {"max": mx, "mean": round(mean)},
                      "spread_after_salt": {"max": smx, "mean": round(smean)}}))
    spark.stop()


if __name__ == "__main__":
    main()

#!/usr/bin/env python
"""Scale-up sweep: wall-clock + shuffle bytes at two tiers (VERDICT r6 #1).

Runs the shuffle-heavy flagship queries at a base tier (default sf0.1)
and a 10× tier generated by tools/make_sfN.py, recording per query:

- at each tier, the ``tools.metrics.best_of`` record of the fastest of
  N rounds: ``wall_s``, ``jobs``, ``build_s`` and every
  ``tools.metrics.TOTALS`` key — ``shuffle_mb`` is shuffle write summed
  over every stage the query's jobs ran, including the jobs that
  materialize localCheckpoint invariants, which ARE part of the query;
- the wall and shuffle scale factors (flagging anything super-linear).

Usage: python tools/scale_bench.py [sf1_dir] [base_dir] [rounds] [query ...]
                                   [--factor N] [--out FILE]
Writes SCALE_SWEEP.json (or --out; --factor relabels the scaled tier
"xN" and sets the super-linear wall threshold to N — use with a
tier generated by `make_sfN.py --rep N`) and prints one line per
(query, tier).
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ska_src_maltopuft_etl_spark.engine import get_spark
from ska_src_maltopuft_etl_spark.plans import QUERIES
from tools.metrics import STATUS_CONF, best_of

DEFAULT_QUERIES = [
    "dedup_connected_components",
    "corpus_dedup_clusters_lsh",
    "dedup_minhash_lsh",
    "cluster_documents_kmeans",
    "pagerank_supply_graph",
    "meertrap_sp_candidate",
    "surrogate_key_scalable",
    # round 8: the distributed exact-percentile flagship — full range
    # sort + scalable surrogate keys; built FOR scale, so it sweeps.
    "percentile_stats",
]


def main() -> int:
    args = [a for a in sys.argv[1:]]

    def _flag(name: str, default: str) -> str:
        if name not in args:
            return default
        i = args.index(name)
        if i + 1 >= len(args):
            sys.exit(f"{name} requires a value")
        val = args[i + 1]
        del args[i : i + 2]
        return val

    factor = int(_flag("--factor", "10"))
    out_name = _flag("--out", "SCALE_SWEEP.json")
    tier_label = f"x{factor}"
    sf1_dir = args[0] if args else "/tmp/sparkgraft_sf1"
    base_dir = args[1] if len(args) > 1 else "/root/testdata/sf0.1"
    rounds = int(args[2]) if len(args) > 2 else 3
    names = args[3:] or DEFAULT_QUERIES
    for d in (sf1_dir, base_dir):
        if not os.path.isdir(d):
            sys.exit(f"tier {d} is not a directory")

    spark = get_spark(
        app_name="scale_bench", conf={"spark.ui.enabled": "false", **STATUS_CONF}
    )
    # The session's first query pays the cold scan and codegen start:
    # run the first datapoint once and discard it, as bench.py does.
    first = QUERIES[names[0]]
    best_of(spark, "warmup", lambda: first.fn(spark, base_dir), 1)

    # Merge into an existing SCALE_SWEEP.json so partial re-runs
    # refresh only the queries they ran.
    out_path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        out_name,
    )
    results: dict[str, dict] = {}
    if os.path.exists(out_path):
        try:
            with open(out_path) as f:
                prior = json.load(f)
            results = prior.get("queries", {})
            if prior.get("factor") not in (None, factor) or any(
                "wall_s" not in r.get("base", {}) for r in results.values()
            ):
                sys.exit(
                    f"{out_name} was written with factor={prior.get('factor')} "
                    f"or an older row format; refusing to mix x{factor} rows "
                    f"into it — pass a different --out or delete the file."
                )
        except (OSError, ValueError):
            results = {}
    for name in names:
        spec = QUERIES[name]
        row: dict = {}
        for tier, sf_dir in (("base", base_dir), (tier_label, sf1_dir)):
            best = best_of(
                spark, f"{name}@{tier}", lambda: spec.fn(spark, sf_dir), rounds
            )
            row[tier] = best
            print(
                f"{name} [{tier}]: {best['wall_s']}s "
                f"shuffle={best['shuffle_mb']:.1f}MB input={best['input_mb']:.1f}MB "
                f"cpu={best['cpu_s']:.1f}s"
            )
        row["wall_scale"] = round(
            row[tier_label]["wall_s"] / max(row["base"]["wall_s"], 1e-9), 2
        )
        sb = row["base"]["shuffle_mb"]
        row["shuffle_scale"] = (
            round(row[tier_label]["shuffle_mb"] / sb, 2) if sb else None
        )
        # N× data: >N× wall = super-linear (red flag at 100 TB);
        # allow fixed per-job overhead to damp the ratio at small sizes.
        row["superlinear_wall"] = row["wall_scale"] > float(factor)
        results[name] = row
        print(
            f"{name}: wall x{row['wall_scale']} shuffle x{row['shuffle_scale']}"
            + ("  ** SUPER-LINEAR **" if row["superlinear_wall"] else "")
        )

    out = {
        "base_dir": base_dir,
        "scaled_dir": sf1_dir,
        "factor": factor,
        "rounds": rounds,
        "queries": results,
    }
    with open(out_path, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    print(f"wrote {out_name}")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())

#!/usr/bin/env python
"""Sliced DuckDB oracle for queries whose single-node oracle OOMs
(round-11 VERDICT item #5 — close the ORACLE-LIMIT class).

Two scaled-tier certificates previously failed ONLY because DuckDB
could not hold the hot-key intermediate:

- ``interval_join_sessions`` at ×1000-zipf: the decorrelated
  clicks×sessions range join materializes every containing pair of the
  4.87M-event hot user before the MAX;
- ``asof_join_forward_next_action`` at ×100-zipf: the errors×purchases
  pair set of the hot user exceeds what the ROW_NUMBER buffer can
  offload.

Both oracles are PER-PROBE-ROW programs: the outer scan enumerates
probe events (clicks / errors) and every output row is a function of
exactly ONE probe row plus the full inner relation (signups /
purchases of the same user). Restricting the outer probe scan with
``event_id % S = i`` therefore partitions the OUTPUT by construction
— the inner relation is never sliced, so each slice computes its
probes' rows exactly as the unsliced query would, and the union over
i = 0..S-1 is exactly the full result (event_id is unique and
non-null). What slicing buys is PEAK MEMORY: the hot user's pair
blowup is cut S× per slice while total work stays the same.

The Spark side runs ONCE (the real engine plan, unsliced); the oracle
runs S times; both reduce to the driver's order-insensitive value hash
(same line canonicalization as tools/check_correctness.frame_hash —
slice lines are accumulated, then globally sorted, so the digest is
identical to what a single-shot oracle would produce).

Usage:
  python tools/partitioned_oracle.py TIER_DIR [query ...] [--slices S]
Defaults: both queries above, S=64.
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

from ska_src_maltopuft_etl_spark.engine import get_spark, release_all_persisted
from ska_src_maltopuft_etl_spark.plans import QUERIES
from tools.check_correctness import canon

# Slice-rewritten oracle SQL. Each template is the registry oracle
# (plans/relational.py) with the slice predicate injected into the
# OUTER PROBE SCAN ONLY — the inner (correlated / joined) relation
# stays full, which is what makes the rewrite sound (see module
# docstring). {S} = slice count, {i} = slice index.
SLICED_ORACLES = {
    "interval_join_sessions": """
    SELECT e.event_id,
           (SELECT epoch_us(MAX(s.ts)) FROM events s
            WHERE s.event_type = 'signup' AND s.user_id = e.user_id
              AND s.ts <= e.ts AND e.ts <= s.ts + INTERVAL 3 DAY) AS session_start_us
    FROM events e
    WHERE e.event_type = 'click' AND (e.event_id % {S}) = {i}
    """,
    # Formulation B for the interval query: DuckDB's native ASOF join.
    # The pair-enumerating formulation above is O(pairs) — at the
    # ×1000-zipf tier the hot user's clicks×containing-sessions pair
    # set alone is ~1e10 and the sliced oracle would run for hours.
    # Sessions here are FIXED-WIDTH (ts .. ts + 3 days), hence
    # non-nested per user, so an as-of reduction is exact: the
    # latest signup at-or-before the click either contains
    # it or nothing does. DuckDB's ASOF LEFT JOIN computes exactly that
    # latest-before match sort-merge-style (linear, no pair set), and
    # the CASE applies the containment filter. Independence is
    # preserved — it is DuckDB's own operator, not ours — and the two
    # formulations are cross-validated against each other (both must
    # match the SAME Spark hash) at sf0.01/sf0.1 before the asof form
    # is trusted at tiers the pair form cannot reach. Invoke as
    # "interval_join_sessions:asof".
    "interval_join_sessions:asof": """
    WITH e AS (SELECT event_id, user_id, ts FROM events
               WHERE event_type = 'click' AND (event_id % {S}) = {i}),
         s AS (SELECT user_id, ts FROM events WHERE event_type = 'signup')
    SELECT e.event_id,
           CASE WHEN e.ts <= a.ts + INTERVAL 3 DAY
                THEN epoch_us(a.ts) END AS session_start_us
    FROM e ASOF LEFT JOIN s a
      ON a.user_id = e.user_id AND a.ts <= e.ts
    """,
    # Overlap join (round-13 VERDICT item #4): every output pair has
    # exactly ONE session row, so slicing the SESSION scan by
    # s_event % S partitions the output; the window side stays full —
    # the same outer-probe soundness argument as above (the ×1000
    # uniform certificate was previously count-only because the
    # single-shot pair join exceeded DuckDB's memory).
    "interval_overlap_pairs": """
    WITH ses AS (SELECT event_id AS s_event, user_id, ts AS s_start,
                        ts + INTERVAL 3 DAY AS s_end
                 FROM events WHERE event_type = 'signup'
                   AND (event_id % {S}) = {i}),
         win AS (SELECT event_id AS w_event, user_id, ts AS w_start,
                        ts + INTERVAL 1 DAY AS w_end
                 FROM events WHERE event_type = 'purchase')
    SELECT s.s_event, w.w_event
    FROM ses s JOIN win w
      ON w.user_id = s.user_id
     AND s.s_start <= w.w_end AND w.w_start <= s.s_end
    """,
    "asof_join_forward_next_action": """
    WITH err AS (SELECT event_id, user_id, ts FROM events
                 WHERE event_type = 'error' AND (event_id % {S}) = {i}),
         pur AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
         ranked AS (
           SELECT e.event_id, p.event_id AS next_purchase_event_id,
                  epoch_us(p.ts) AS next_purchase_ts_us,
                  ROW_NUMBER() OVER (PARTITION BY e.event_id
                                     ORDER BY p.ts ASC, p.event_id DESC) AS rn
           FROM err e JOIN pur p ON p.user_id = e.user_id AND p.ts >= e.ts)
    SELECT e.event_id, r.next_purchase_event_id, r.next_purchase_ts_us
    FROM err e LEFT JOIN ranked r ON r.event_id = e.event_id AND r.rn = 1
    """,
}


def lines_of(cols: list[str], rows) -> list[str]:
    """Canonical hash lines, exactly as frame_hash builds them
    (column order sorted by name, cells canon()-ed) — but WITHOUT the
    global sort, so slices can be accumulated first."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return ["\x1f".join(canon(r[i]) for i in order) for r in rows]


def digest(lines: list[str]) -> str:
    h = hashlib.md5()
    for line in sorted(lines):
        h.update(line.encode())
        h.update(b"\x1e")
    return h.hexdigest()


def main() -> int:
    args = sys.argv[1:]
    slices = 64
    if "--slices" in args:
        i = args.index("--slices")
        slices = int(args[i + 1])
        del args[i : i + 2]
    if not args:
        sys.exit("usage: partitioned_oracle.py TIER_DIR [query ...] [--slices S]")
    tier = args[0]
    names = args[1:] or list(SLICED_ORACLES)

    spark = get_spark(app_name="partitioned_oracle",
                      conf={"spark.ui.enabled": "false"})
    con = duckdb.connect()
    con.execute(f"SET threads TO {os.cpu_count() or 8}")
    try:
        con.execute("SET temp_directory='/tmp/duckdb_oracle_spill'")
        con.execute("SET max_temp_directory_size='40GiB'")
        # The whole point of slicing is bounded peak memory — cap the
        # oracle explicitly so a slice that still blows up fails loudly
        # instead of competing with the Spark heap for the box.
        con.execute("SET memory_limit='40GiB'")
    except duckdb.Error:
        pass
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{tier}/events.parquet')"
    )

    failures = []
    for name in names:
        if name not in SLICED_ORACLES:
            sys.exit(f"no sliced oracle registered for {name!r}")
        qname = name.split(":")[0]  # "query:form" → registry name
        release_all_persisted(spark)
        t0 = time.time()
        sdf = QUERIES[qname].fn(spark, tier)
        scols = sdf.columns
        # plain collect(): toLocalIterator runs ONE JOB PER PARTITION
        # (measured ~20s each at 512 partitions — hours for a result a
        # 48g driver holds comfortably as ~20M small tuples).
        rows = sdf.collect()
        n_s = len(rows)
        s_lines = lines_of(scols, [tuple(r) for r in rows])
        del rows
        t_spark = time.time() - t0
        print(f"{name}: spark {n_s} rows ({t_spark:.1f}s)", flush=True)

        t0 = time.time()
        o_lines: list[str] = []
        ocols = None
        n_o = 0
        for i in range(slices):
            res = con.execute(
                SLICED_ORACLES[name].format(S=slices, i=i)
            )
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
            n_o += len(orows)
            o_lines.extend(lines_of(ocols, orows))
            print(f"  slice {i + 1}/{slices}: +{len(orows)} rows "
                  f"({time.time() - t0:.0f}s)", flush=True)
        t_oracle = time.time() - t0

        problems = []
        if sorted(scols) != sorted(ocols):
            problems.append(f"schema spark={sorted(scols)} oracle={sorted(ocols)}")
        if n_s != n_o:
            problems.append(f"rows spark={n_s} oracle={n_o}")
        if not problems and digest(s_lines) != digest(o_lines):
            problems.append("hash mismatch")
        if problems:
            print(f"FAIL  {name}: " + " | ".join(problems), flush=True)
            failures.append(name)
        else:
            print(
                f"OK    {name}: {n_s} rows, sliced-oracle hash matches "
                f"(spark {t_spark:.1f}s, oracle {t_oracle:.1f}s over "
                f"{slices} slices)",
                flush=True,
            )
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())

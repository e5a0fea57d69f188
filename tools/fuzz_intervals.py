#!/usr/bin/env python
"""Seeded differential fuzzer for the custom operator families Spark
lacks as primitives: as-of joins, the interval point join and the
interval-overlap join.

tools/fuzz_differential.py pins the DataFrame-rendering surface
(scan/filter/join/agg/window) — plans Catalyst itself executes. This
tool pins the operators against DuckDB oracles on generated data:

- ``interval_join`` with every strategy it can pick: each point-join
  case runs once as the inputs dictate (broadcast range join for an
  unkeyed one-match call with a small right side, the sweep for a
  keyed one, the bucketed equi-join for all matches) and once with
  ``spark.sql.autoBroadcastJoinThreshold=-1``, which forces the sweep
  for one-match calls and a shuffled equi-join for all matches;
- the one-match tie order (tb, then greatest start, then greatest end,
  NULL tie-breaks lose) against a DuckDB ROW_NUMBER oracle, including
  duplicate-tie-break data;
- ``asof_join`` backward/forward × allow_exact_matches × tolerance ×
  by-keys against a DuckDB ROW_NUMBER oracle;
- ``interval_overlap_join``'s dedup-free first-common-bucket trick
  against a plain overlap pair join.

Every case generates a fresh interval/probe dataset with controlled
nesting (fixed-width per key = non-nested; free spans = nested),
Zipf-ish key skew, NULL keys / NULL event times / NULL tie-breaks /
inverted (end < start) and zero-length intervals, probes sampled ON
interval endpoints (closed-end boundary pinning), and bucket widths
both far below and far above the typical span (explode-factor sweep).

Hash-stability rules (same conventions as fuzz_differential):

- outputs are ID columns only (probe_id/ival_id/lid/rid) — no raw
  timestamps cross collect(), so the comparison is OS-timezone-proof;
- every oracle predicate compares COLUMNS to COLUMNS, never timestamp
  literals, so even a hypothetical ingest-side timezone shift applies
  to both operands and cancels;
- all generated event times are whole seconds and tolerances whole
  integers, so tolerance boundaries are exact in both engines;
- tie-break orderings are total by construction: unique tie-break
  values, unique (key, start) when ties fall to the start column, or
  unique (key, start, end) where the deeper tie order is under test.

Usage: python tools/fuzz_intervals.py [--n N] [--seed S | --seeds A,B,..]
                                      [--out FUZZ_INTERVALS.json]
Writes FUZZ_INTERVALS.json at the repo root, with the number of
one-match runs each strategy served; exit 1 on any mismatch.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import json
import os
import random
import sys
import time
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import pyarrow as pa

from tools.check_correctness import frame_hash

BASE = dt.datetime(2024, 1, 1)


def _t(seconds):
    return None if seconds is None else BASE + dt.timedelta(seconds=int(seconds))


# -------------------------------------------------------------- generation --


def _key(rng: random.Random, n_k: int, zipf: bool, p_null: float = 0.02):
    if rng.random() < p_null:
        return None
    if zipf and n_k > 1:
        # crude power-law: rank drawn log-uniformly, key 0 hottest
        return rng.randrange(rng.randrange(n_k) + 1)
    return rng.randrange(n_k)


def gen_intervals(rng, n, n_k, zipf, window, mode, tie, by_key=True):
    """Rows (ival_id, k, s, e, tb). mode 'nonnested' = fixed width per
    key (ends non-decreasing in starts); 'nested' = free spans incl.
    zero-length, inverted,
    and NULL endpoints. tie 'unique' = globally unique tb;
    'dup' = small-domain tb with NULLs and unique (k, s, e);
    's' = unique (k, s) so tie-breaking on the start column is total.

    ``by_key=False`` (the join groups globally, by=[]): the non-nested
    guarantee and the dedup keys must then hold ACROSS keys — one
    global width, key column excluded from dedup keys.
    """
    if by_key:
        width = {k: rng.randint(1, max(1, window // 3)) for k in range(n_k)}
    else:
        w0 = rng.randint(1, max(1, window // 3))
        width = {k: w0 for k in range(n_k)}
    rows, seen = [], set()
    tbs = list(range(n))
    rng.shuffle(tbs)
    for i in range(n):
        k = _key(rng, n_k, zipf)
        if mode == "nonnested":
            if k is None:
                s = rng.randrange(window + 1)
                e = s + width[0]
            else:
                s = rng.randrange(window + 1)
                e = s + width[k]
        else:
            s = rng.randrange(window + 1)
            r = rng.random()
            if r < 0.03:
                s = None
                e = rng.randrange(window + 1)
            elif r < 0.06:
                e = None
            elif r < 0.09:
                e = s  # zero-length
            elif r < 0.11:
                e = s - rng.randint(1, window)  # inverted: matches nothing
            else:
                e = s + rng.randrange(max(1, window // rng.choice([1, 3, 10])))
        if tie == "unique":
            tb = tbs[i]
        elif tie in ("dup", "dup_str"):
            tb = None if rng.random() < 0.1 else rng.randint(0, 3)
        else:  # 's' — tb unused, keep constant so ties fall to start
            tb = 0
        gk = k if by_key else None
        dedup_key = {"dup": (gk, s, e), "s": (gk, s)}.get(tie)
        if dedup_key is not None:
            if dedup_key in seen:
                continue
            seen.add(dedup_key)
        rows.append((i, k, _t(s), _t(e), tb))
    return rows


def gen_probes(rng, n, n_k, zipf, window, ivals):
    """Rows (probe_id, k, ts): 20% sampled ON an interval endpoint of
    the same key (closed-end boundary cases), ~3% NULL ts."""
    rows = []
    endpoint_pool = [
        (r[1], c) for r in ivals for c in (r[2], r[3]) if c is not None
    ]
    for i in range(n):
        if rng.random() < 0.03:
            rows.append((i, _key(rng, n_k, zipf), None))
        elif endpoint_pool and rng.random() < 0.2:
            k, ts = rng.choice(endpoint_pool)
            rows.append((i, k, ts))
        else:
            rows.append((i, _key(rng, n_k, zipf), _t(rng.randrange(window + 1))))
    return rows


def gen_case(rng: random.Random, oracle_form: str = "rownum") -> dict:
    if oracle_form == "asof":
        family = "asof"
    else:
        family = rng.choice(
            ["pairs", "best", "best", "sweep_ties", "asof", "asof", "overlap"]
        )
    n_k = rng.randint(1, 8)
    window = rng.choice([3600, 86400, 864000])
    zipf = rng.random() < 0.4
    by = ["k"] if rng.random() < 0.8 else []
    cap = 60 if not by else 250
    bucket = rng.choice([3600, 21600, 86400, 604800])
    case = {
        "family": family, "n_k": n_k, "window": window, "zipf": zipf,
        "by": by, "bucket": bucket,
    }
    if family == "asof":
        n_r = rng.randint(0, min(cap, 120))
        if oracle_form == "asof":
            # DuckDB's native ASOF JOIN picks an ARBITRARY winner among
            # equal right times, so the asof-oracle-form cases carry
            # globally UNIQUE right event times — the match is then a
            # function of (time ordering) alone and all three
            # formulations (operator, ROW_NUMBER, native ASOF) must
            # agree exactly.
            rts = rng.sample(range(window + 1), n_r)
            right_ts = [
                None if rng.random() < 0.03 else _t(rts[i]) for i in range(n_r)
            ]
        else:
            right_ts = [
                None if rng.random() < 0.03 else _t(rng.randrange(window + 1))
                for _ in range(n_r)
            ]
        case["left"] = [
            (i, _key(rng, n_k, zipf),
             None if rng.random() < 0.03 else _t(rng.randrange(window + 1)))
            for i in range(rng.randint(0, min(cap, 200)))
        ]
        case["right"] = [
            (i, _key(rng, n_k, zipf), right_ts[i]) for i in range(n_r)
        ]
        case["direction"] = rng.choice(["backward", "forward"])
        case["allow_exact"] = rng.random() < 0.7
        case["tolerance"] = (
            None if rng.random() < 0.5 else rng.randint(1, window)
        )
        case["oracle_form"] = oracle_form
        return case
    if family == "overlap":
        case["left"] = gen_intervals(
            rng, rng.randint(0, min(cap, 100)), n_k, zipf, window, "nested", "unique"
        )
        case["right"] = gen_intervals(
            rng, rng.randint(0, min(cap, 100)), n_k, zipf, window, "nested", "unique"
        )
        return case
    # point-join families
    if family == "pairs":
        mode, tie = rng.choice(["nested", "nonnested"]), "unique"
    elif family == "best":
        tie = rng.choice(["unique", "s"])
        mode = "nonnested" if tie == "s" else rng.choice(["nested", "nonnested"])
    else:  # sweep_ties
        mode, tie = "nested", "dup"
    case["mode"], case["tie"] = mode, tie
    case["ivals"] = gen_intervals(
        rng, rng.randint(0, min(cap, 120)), n_k, zipf, window, mode, tie,
        by_key=bool(by),
    )
    # string tie-breaks (sweep_ties only): pins the sweep heap's
    # type-generality — _Rev/None-handling must work for any orderable
    # type, and ASCII strings order identically under Python codepoint
    # compare (the heap), Spark and DuckDB binary collation.
    if family == "sweep_ties" and rng.random() < 0.4:
        case["tb_str"] = True
        case["ivals"] = [
            (i_, k_, s_, e_, None if t_ is None else f"t{t_}")
            for (i_, k_, s_, e_, t_) in case["ivals"]
        ]
    case["probes"] = gen_probes(
        rng, rng.randint(0, cap), n_k, zipf, window, case["ivals"]
    )
    case["how"] = rng.choice(["inner", "left"])
    case["desc"] = rng.random() < 0.6
    return case


# --------------------------------------------------------------- rendering --

IVAL_SCHEMA = pa.schema(
    [("ival_id", pa.int64()), ("k", pa.int64()),
     ("s", pa.timestamp("us")), ("e", pa.timestamp("us")),
     ("tb", pa.int64())]
)
PROBE_SCHEMA = pa.schema(
    [("probe_id", pa.int64()), ("k", pa.int64()), ("ts", pa.timestamp("us"))]
)
EVENT_SCHEMA_L = pa.schema(
    [("lid", pa.int64()), ("k", pa.int64()), ("t", pa.timestamp("us"))]
)
EVENT_SCHEMA_R = pa.schema(
    [("rid", pa.int64()), ("k", pa.int64()), ("rt", pa.timestamp("us"))]
)
OV_SCHEMA_L = pa.schema(
    [("lid", pa.int64()), ("k", pa.int64()),
     ("ls", pa.timestamp("us")), ("le", pa.timestamp("us"))]
)
OV_SCHEMA_R = pa.schema(
    [("rid", pa.int64()), ("k", pa.int64()),
     ("rs", pa.timestamp("us")), ("re", pa.timestamp("us"))]
)


def _arrow(rows, schema):
    cols = list(zip(*rows)) if rows else [[] for _ in schema]
    return pa.table(
        {f.name: pa.array(list(c), type=f.type) for f, c in zip(schema, cols)},
        schema=schema,
    )


def _sdf(spark, rows, schema):
    # Arrow-built frames carry size statistics, which interval_join
    # reads to choose its strategy (Python-list frames have none).
    return spark.createDataFrame(_arrow(rows, schema))


def _collect(df):
    return df.columns, [tuple(r) for r in df.collect()]


@contextlib.contextmanager
def no_broadcast(spark):
    """Size-based broadcast off: one-match interval joins take the sweep."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        yield
    finally:
        spark.conf.set(key, old)


def _strategy(df) -> str:
    plan = df._jdf.queryExecution().optimizedPlan().toString()  # noqa: SLF001
    return "sweep" if "MapInPandas" in plan else "broadcast"


def _key_cond(by, lt, rt):
    return f" AND {rt}.k = {lt}.k" if by else ""


def run_case(spec: dict, spark, con, strategies: Counter | None = None) -> dict | None:
    """Render through the operators AND DuckDB; any divergence between
    ANY Spark variant and the oracle is a failure record. One-match
    interval joins add the strategy that served them to ``strategies``."""
    from ska_src_maltopuft_etl_spark.operators.joins import (
        asof_join,
        interval_join,
        interval_overlap_join,
    )

    family, by = spec["family"], spec["by"]
    variants: dict = {}
    sql_asof: str | None = None

    if family == "asof":
        ldf = _sdf(spark, spec["left"], EVENT_SCHEMA_L)
        rdf = _sdf(spark, spec["right"], EVENT_SCHEMA_R)
        con.register("fz_l", _arrow(spec["left"], EVENT_SCHEMA_L))
        con.register("fz_r", _arrow(spec["right"], EVENT_SCHEMA_R))
        rsel = rdf.select("rid", "rt", *(["k"] if by else []))
        out = asof_join(
            ldf, rsel, left_on="t", right_on="rt", by=by,
            tolerance_seconds=spec["tolerance"],
            allow_exact_matches=spec["allow_exact"],
            right_tiebreak=["rid"], direction=spec["direction"],
        ).select("lid", "rid")
        variants["asof"] = _collect(out)
        back = spec["direction"] == "backward"
        cmp_op = ("<=" if spec["allow_exact"] else "<") if back else (
            ">=" if spec["allow_exact"] else ">")
        order = "r.rt DESC, r.rid DESC" if back else "r.rt ASC, r.rid DESC"
        gap = (
            "epoch_us(l.t) - epoch_us(r.rt)" if back
            else "epoch_us(r.rt) - epoch_us(l.t)"
        )
        pick = "m.rid"
        if spec["tolerance"] is not None:
            pick = (
                f"CASE WHEN m.gap <= {int(spec['tolerance']) * 1_000_000} "
                f"THEN m.rid END"
            )
        sql = f"""
        WITH m AS (
          SELECT l.lid, r.rid, {gap} AS gap,
                 ROW_NUMBER() OVER (PARTITION BY l.lid ORDER BY {order}) AS rn
          FROM fz_l l JOIN fz_r r
            ON r.rt {cmp_op} l.t{_key_cond(by, 'l', 'r')})
        SELECT l.lid, {pick} AS rid
        FROM fz_l l LEFT JOIN m ON m.lid = l.lid AND m.rn = 1
        """
        if spec.get("oracle_form") == "asof":
            # Second, INDEPENDENT oracle formulation: DuckDB's native
            # ASOF JOIN (a sort-merge operator, not a window rank) —
            # cross-validates the ROW_NUMBER oracle itself. DuckDB 1.0's
            # ASOF treats NULL times as matchable (a NULL-t left row
            # pairs with a NULL-rt right row under <=), so both sides
            # pre-filter NULL times in CTEs and the NULL-t left rows are
            # restored unmatched by the final left join — exactly the
            # operator's (and SQL's) NULL semantics. Generated right
            # times are globally unique, so the arbitrary equal-rt pick
            # cannot differ between formulations.
            key_filter = " AND k IS NOT NULL" if by else ""
            keycond = "lc.k = rc.k AND " if by else ""
            pick2 = "m.rid"
            if spec["tolerance"] is not None:
                gap2 = (
                    "epoch_us(m.t) - epoch_us(m.rt)" if back
                    else "epoch_us(m.rt) - epoch_us(m.t)"
                )
                pick2 = (
                    f"CASE WHEN {gap2} <= "
                    f"{int(spec['tolerance']) * 1_000_000} THEN m.rid END"
                )
            sql_asof = f"""
            WITH lc AS (SELECT lid, k, t FROM fz_l WHERE t IS NOT NULL),
                 rc AS (SELECT rid, k, rt FROM fz_r
                        WHERE rt IS NOT NULL{key_filter}),
                 m AS (
                   SELECT lc.lid, rc.rid, rc.rt, lc.t
                   FROM lc ASOF LEFT JOIN rc
                     ON {keycond}rc.rt {cmp_op} lc.t)
            SELECT l.lid, {pick2} AS rid
            FROM fz_l l LEFT JOIN m ON m.lid = l.lid
            """
    elif family == "overlap":
        lrows = [(r[0], r[1], r[2], r[3]) for r in spec["left"]]
        rrows = [(r[0], r[1], r[2], r[3]) for r in spec["right"]]
        ldf = _sdf(spark, lrows, OV_SCHEMA_L)
        rdf = _sdf(spark, rrows, OV_SCHEMA_R)
        con.register("fz_l", _arrow(lrows, OV_SCHEMA_L))
        con.register("fz_r", _arrow(rrows, OV_SCHEMA_R))
        rsel = rdf.select("rid", "rs", "re", *(["k"] if by else []))
        out = interval_overlap_join(
            ldf, rsel, left_start="ls", left_end="le",
            right_start="rs", right_end="re",
            bucket_width_s=spec["bucket"], by=by,
        ).select("lid", "rid")
        variants["overlap"] = _collect(out)
        sql = f"""
        SELECT l.lid, r.rid FROM fz_l l JOIN fz_r r
          ON l.ls <= r.re AND r.rs <= l.le{_key_cond(by, 'l', 'r')}
        """
    else:
        ischema = (
            pa.schema(
                [(f.name, pa.string() if f.name == "tb" else f.type)
                 for f in IVAL_SCHEMA]
            )
            if spec.get("tb_str")
            else IVAL_SCHEMA
        )
        pdf = _sdf(spark, spec["probes"], PROBE_SCHEMA)
        idf = _sdf(spark, spec["ivals"], ischema)
        con.register("fz_p", _arrow(spec["probes"], PROBE_SCHEMA))
        con.register("fz_i", _arrow(spec["ivals"], ischema))
        isel = idf.select("ival_id", "s", "e", "tb", *(["k"] if by else []))
        kw = dict(left_ts="ts", right_start="s", right_end="e", by=by,
                  bucket_width_s=spec["bucket"])
        if family == "pairs":
            kw["how"] = "inner"
            sql = f"""
            SELECT p.probe_id, i.ival_id FROM fz_p p JOIN fz_i i
              ON i.s <= p.ts AND p.ts <= i.e{_key_cond(by, 'p', 'i')}
            """
        else:
            how, desc = spec["how"], spec["desc"]
            tie_col = "tb" if family == "sweep_ties" or spec["tie"] != "s" else "s"
            kw.update(tie_break=tie_col, tie_break_desc=desc, how=how)
            # the one-match tie order; the extra keys are inert when the
            # tie column is unique by construction
            direc = "DESC" if desc else "ASC"
            order = f"i.{tie_col} {direc} NULLS LAST, i.s DESC, i.e DESC"
            m = f"""
            SELECT p.probe_id, i.ival_id,
                   ROW_NUMBER() OVER (PARTITION BY p.probe_id
                                      ORDER BY {order}) AS rn
            FROM fz_p p JOIN fz_i i
              ON i.s <= p.ts AND p.ts <= i.e{_key_cond(by, 'p', 'i')}
            """
            if how == "inner":
                sql = f"WITH m AS ({m}) SELECT probe_id, ival_id FROM m WHERE rn = 1"
            else:
                sql = (
                    f"WITH m AS ({m}) SELECT p.probe_id, m.ival_id "
                    f"FROM fz_p p LEFT JOIN m ON m.probe_id = p.probe_id "
                    f"AND m.rn = 1"
                )
        for name, ctx in (("default", contextlib.nullcontext()),
                          ("no_broadcast", no_broadcast(spark))):
            with ctx:
                out = interval_join(pdf, isel, **kw)
                if family != "pairs" and strategies is not None:
                    strategies[_strategy(out)] += 1
                variants[name] = _collect(out.select("probe_id", "ival_id"))

    res = con.execute(sql)
    ocols = [d[0] for d in res.description]
    orows = res.fetchall()
    h_o = frame_hash(ocols, orows)
    fails = {}
    if sql_asof is not None:
        res2 = con.execute(sql_asof)
        orows2 = res2.fetchall()
        h_o2 = frame_hash([d[0] for d in res2.description], orows2)
        if (len(orows2), h_o2) != (len(orows), h_o):
            fails["oracle_crosscheck"] = {
                "rows": (len(orows2), len(orows)),
                "hash": (h_o2, h_o),
            }
    for name, (scols, srows) in variants.items():
        sub = {}
        if len(srows) != len(orows):
            sub["rows"] = (len(srows), len(orows))
        if sorted(c.lower() for c in scols) != sorted(c.lower() for c in ocols):
            sub["schema"] = (sorted(scols), sorted(ocols))
        if not sub and frame_hash(scols, srows) != h_o:
            sub["hash"] = (frame_hash(scols, srows), h_o)
        if sub:
            fails[name] = sub
    if fails:
        slim = {k: v for k, v in spec.items()
                if k not in ("probes", "ivals", "left", "right")}
        slim["sizes"] = {
            k: len(spec[k]) for k in ("probes", "ivals", "left", "right")
            if k in spec
        }
        return {"variants": fails, "spec": slim, "sql": " ".join(sql.split())}
    return None


def main() -> int:
    from ska_src_maltopuft_etl_spark.engine import get_spark

    args = sys.argv[1:]
    n = int(args[args.index("--n") + 1]) if "--n" in args else 300
    if "--seeds" in args:
        seeds = [int(s) for s in args[args.index("--seeds") + 1].split(",")]
    else:
        seeds = [int(args[args.index("--seed") + 1]) if "--seed" in args else 12]
    out_name = (
        args[args.index("--out") + 1] if "--out" in args else "FUZZ_INTERVALS.json"
    )
    oracle_form = (
        args[args.index("--oracle-form") + 1] if "--oracle-form" in args
        else "rownum"
    )
    if oracle_form not in ("rownum", "asof"):
        sys.exit(f"--oracle-form must be rownum or asof: {oracle_form!r}")

    spark = get_spark(
        app_name="fuzz_intervals",
        conf={"spark.ui.enabled": "false",
              "spark.sql.shuffle.partitions": "8"},
    )
    con = duckdb.connect()
    failures = []
    t0 = time.time()
    total = 0
    fam_counts: dict = {}
    strategies: Counter = Counter()
    for seed in seeds:
        for i in range(n):
            total += 1
            rng = random.Random(seed * 1_000_003 + i)
            spec = gen_case(rng, oracle_form=oracle_form)
            fam_counts[spec["family"]] = fam_counts.get(spec["family"], 0) + 1
            try:
                fail = run_case(spec, spark, con, strategies)
            except Exception as exc:  # an engine error is a finding too
                fail = {"error": repr(exc)[:500],
                        "spec": {k: v for k, v in spec.items()
                                 if k not in ("probes", "ivals", "left", "right")}}
            if fail:
                failures.append({"seed": seed, "case": i, **fail})
                print(f"FAIL seed {seed} case {i}: {json.dumps(fail)[:400]}")
            if (i + 1) % 25 == 0:
                print(f"  seed {seed}: {i + 1}/{n} cases,"
                      f" {len(failures)} failures, {time.time() - t0:.0f}s",
                      flush=True)
    out = {
        "seeds": seeds, "cases": total, "families": fam_counts,
        "one_match_strategies": dict(strategies),
        "failures": failures, "elapsed_sec": round(time.time() - t0, 1),
    }
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    path = os.path.join(root, out_name)
    existing = {}
    if os.path.exists(path):
        with open(path) as f:
            try:
                existing = json.load(f)
            except ValueError:
                existing = {}
    if oracle_form == "asof":
        # the asof-oracle-form run records itself as a SECTION of the
        # main artifact (VERDICT r12 item #6): load-and-merge so the
        # standard-family run's record survives
        existing["asof_oracle_form"] = out
        out = existing
    elif "asof_oracle_form" in existing:
        # symmetric merge (round-14 advice): a standard-form run must
        # preserve the asof-form section too, or the cross-check
        # certificate silently goes stale on every standard re-pin
        out["asof_oracle_form"] = existing["asof_oracle_form"]
    with open(path, "w") as f:
        json.dump(out, f, indent=1)
    print(f"\n{total} cases, {len(failures)} failures ({out['elapsed_sec']}s)")
    print(json.dumps(fam_counts), json.dumps(dict(strategies)))
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())

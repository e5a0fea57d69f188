#!/usr/bin/env python
"""Local stand-in for the driver's correctness gate.

Runs every ``queries()`` entry in Spark and (when present) the matching
``oracle_sql()`` in DuckDB over the same parquet tables, comparing:

- row count
- schema (sorted column names)
- order-insensitive value hash (columns sorted by name, every cell
  canonicalized to a string, rows sorted, md5 over the whole thing)

Usage: python tools/check_correctness.py [sf_dir] [query ...]

Query names not in the registry are refused before Spark starts (exit 2).
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

import __spark_entry__ as entrymod
from ska_src_maltopuft_etl_spark.engine import get_spark, release_all_persisted

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def canon(v) -> str:
    if v is None:
        return "\\N"
    if isinstance(v, float):
        if v != v:
            return "NaN"
        # trim float noise: driver-independent stable repr
        return repr(round(v, 9))
    if isinstance(v, bool):
        return "true" if v else "false"
    return str(v)


def frame_hash(cols: list[str], rows: list[tuple]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x1f".join(canon(r[i]) for i in order) for r in rows)
    h = hashlib.md5()
    for line in lines:
        h.update(line.encode())
        h.update(b"\x1e")
    return h.hexdigest()


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    queries = entrymod.queries()
    unknown = sorted(only - queries.keys())
    if unknown:
        print(f"unknown queries: {unknown}")
        return 2
    spark = get_spark(app_name="correctness", conf={"spark.ui.enabled": "false"})
    con = duckdb.connect()
    # Bound the oracle's spill so an infeasible single-node oracle at a
    # scaled tier FAILS LOUDLY instead of exhausting the disk (the ×10
    # LSH and ×100 kmeans/minhash oracles each spilled >60 GB of temp
    # before this cap existed; the Spark side runs those tiers fine).
    # Each SET in its own try/except: a failure of one must not
    # silently drop the other (the 40GiB cap exists to stop unbounded
    # /tmp spill; losing it because temp_directory errored would
    # restore exactly that failure mode).
    try:
        # an in-memory duckdb has NO default temp directory — without
        # one it cannot offload at all and dies at the memory limit
        # ("failed to offload data block", seen at the ×100-zipf asof
        # oracle) long before the size cap below is relevant.
        con.execute("SET temp_directory='/tmp/duckdb_oracle_spill'")
    except duckdb.Error:
        pass  # older duckdb without the setting
    try:
        con.execute("SET max_temp_directory_size='40GiB'")
    except duckdb.Error:
        pass  # older duckdb without the setting
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in queries.items():
        if only and name not in only:
            continue
        # release any localCheckpoint storage the previous query pinned
        # (clearCache doesn't cover RDD storage; it otherwise
        # accumulates across the 136-query sweep — see bench.py)
        release_all_persisted(spark)
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL  {name}: spark error: {e}")
            failures.append(name)
            continue
        elapsed = time.time() - t0
        sql = oracles.get(name)
        if sql is None:
            print(f"ROWS  {name}: {len(srows)} rows ({elapsed:.1f}s) [no oracle]")
            continue
        try:
            res = con.execute(sql)
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception as e:
            print(f"FAIL  {name}: duckdb error: {e}")
            failures.append(name)
            continue
        problems = []
        # Guard: HUGEINT/DECIMAL surface columns canonicalize differently in
        # the driver's comparator (local Python ints mask the difference) —
        # CAST integer SUMs to BIGINT in the oracle SQL.
        try:
            desc = con.execute(f"DESCRIBE SELECT * FROM ({sql})").fetchall()
            bad_types = [
                (r[0], r[1])
                for r in desc
                if "HUGEINT" in r[1] or "DECIMAL" in r[1] or "UINTEGER" in r[1]
                or "UBIGINT" in r[1]
            ]
            if bad_types:
                problems.append(f"oracle surfaces non-portable types {bad_types}")
        except Exception:
            pass
        if sorted(scols) != sorted(ocols):
            problems.append(f"schema spark={sorted(scols)} oracle={sorted(ocols)}")
        if len(srows) != len(orows):
            problems.append(f"rows spark={len(srows)} oracle={len(orows)}")
        if not problems:
            sh = frame_hash(scols, srows)
            oh = frame_hash(ocols, orows)
            if sh != oh:
                # find a sample mismatching row for debugging
                order_s = sorted(range(len(scols)), key=lambda i: scols[i])
                order_o = sorted(range(len(ocols)), key=lambda i: ocols[i])
                sset = {tuple(canon(r[i]) for i in order_s) for r in srows}
                oset = {tuple(canon(r[i]) for i in order_o) for r in orows}
                s_only = list(sset - oset)[:2]
                o_only = list(oset - sset)[:2]
                problems.append(f"hash mismatch; spark-only={s_only} oracle-only={o_only}")
        if problems:
            print(f"FAIL  {name}: " + " | ".join(problems))
            failures.append(name)
        else:
            print(f"OK    {name}: {len(srows)} rows ({elapsed:.1f}s)")
    spark.stop()
    if failures:
        print(f"\n{len(failures)} FAILURES: {failures}")
        return 1
    print("\nall queries match")
    return 0


if __name__ == "__main__":
    sys.exit(main())

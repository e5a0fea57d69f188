"""Smoke test of the benchmark at a tiny size.

    python3 -m pytest perfbench/test_smoke.py -q

The first tests need no Spark: the generator is deterministic and the
output checks reject a broken warehouse. The last runs ``run.py`` on both
workloads, traced and untraced, at a tiny scale and checks the result
line against BENCHMARK.json (several minutes: most of it is Spark
start-up and the engine's per-job cost, which does not shrink with the
input).
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import gen  # noqa: E402


def _digest(root: str) -> str:
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(root)):
        for f in sorted(files):
            h.update(os.path.relpath(os.path.join(d, f), root).encode())
            with open(os.path.join(d, f), "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def _check_tree(root: str, truth: dict[str, int]) -> None:
    """The tree on disk holds the directories and late copies its ground
    truth claims: one SPCCL line per directory, each copy repeating an
    earlier line."""
    dirs = sorted(os.listdir(root))
    lines = []
    for d in dirs:
        with open(os.path.join(root, d, "cand_beam.spccl.log")) as f:
            lines.append(f.read())
    copies = len(lines) - len(set(lines))
    assert len(dirs) == truth["dirs"] == truth["candidate_raw"]
    assert len(set(lines)) == truth["candidate"]
    assert copies == max(1, round(gen.DUP_FRAC * truth["candidate"]))


def test_generator_is_deterministic(tmp_path):
    trees = []
    for name in ("a", "b"):
        truth = gen.write_tree(gen.make_universe(7, 2), str(tmp_path / name), 7)
        _check_tree(str(tmp_path / name), truth)
        trees.append(_digest(str(tmp_path / name)))
    assert trees[0] == trees[1]
    other = gen.write_tree(gen.make_universe(8, 2), str(tmp_path / "c"), 8)
    _check_tree(str(tmp_path / "c"), other)
    assert _digest(str(tmp_path / "c")) != trees[0] and other["host"] == gen.N_HOSTS


def test_checks_reject_a_broken_warehouse(tmp_path):
    from workloads import MEERTRAP_FKS, check_tables

    u = gen.make_universe(3, 2)
    obs = list(range(6))
    flat = tmp_path / "flat"
    gen.write_batch(u, obs, str(flat), "p")
    # the checks read table directories, as Spark writes them
    wh = tmp_path / "wh"
    for t in gen.TREE_TABLES:
        (wh / f"{t}.parquet").mkdir(parents=True)
        os.replace(flat / f"{t}.parquet", wh / f"{t}.parquet" / "part-0.parquet")
    truth = gen.batch_truth(u, obs)
    assert check_tables(str(wh), truth, MEERTRAP_FKS) == []

    beam = wh / "beam.parquet" / "part-0.parquet"
    t = pq.read_table(beam)
    pq.write_table(t.set_column(t.schema.get_field_index("host_id"), "host_id",
                                pa.array([99] * t.num_rows, pa.int64())), beam)
    problems = check_tables(str(wh), truth, MEERTRAP_FKS)
    assert any("beam.host_id" in p for p in problems)

    cand = wh / "candidate.parquet" / "part-0.parquet"
    pq.write_table(pq.read_table(cand).slice(1), cand)
    problems = check_tables(str(wh), truth, MEERTRAP_FKS)
    assert any(p.startswith("candidate:") for p in problems)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", ["tree_ingest", "warehouse_load"])
def test_run_prints_the_declared_metrics(workload, trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "5", "--seconds", "1", "--trace", str(trace), "--scale", "0.1"],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, timeout=600,
    )
    assert p.returncode == 0
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    declared = bench["per_layer" if trace else "end_to_end"]
    got = result["metrics"]
    for m in declared:
        if trace and not m["name"].startswith(_layers(workload)):
            continue
        assert m["name"] in got, m["name"]
        assert got[m["name"]]["unit"] == m["unit"]
    assert set(got) == {m["name"] for m in declared}
    if not trace:
        assert all(v["value"] > 0 for v in got.values())
    elif workload == "tree_ingest":
        # a step span's jobs are also its enclosing transform's
        step = got["plans.meertrap.candidate.transform_candidate.jobs"]["value"]
        assert 0 < step <= got["plans.meertrap.candidate.jobs"]["value"]


def _layers(workload: str) -> tuple[str, ...]:
    if workload == "tree_ingest":
        return ("sources.", "plans.meertrap.", "sinks.parquet.", "jvm.", "trace")
    return ("sinks.incremental_load.", "plans.atnf.", "jvm.", "trace")

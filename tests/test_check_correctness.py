"""tools/check_correctness.py end to end: the battery queries built on
the similarity, graph and sketch operators match their DuckDB oracles
on the test tier, and a query name the registry does not hold fails the
run."""

from __future__ import annotations

import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
QUERIES = [
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "knn_cosine_lsh",
    "corpus_clean_pipeline",
    "dedup_connected_components",
    "corpus_dedup_clusters_lsh",
    "heavy_hitter_customers",
]


def _check(sf_dir, *names):
    return subprocess.run(
        [sys.executable, str(ROOT / "tools" / "check_correctness.py"), sf_dir, *names],
        capture_output=True, text=True, cwd=ROOT, timeout=900,
    )


def test_operator_queries_match_duckdb(sf_dir):
    p = _check(sf_dir, *QUERIES)
    assert p.returncode == 0, p.stdout[-3000:] + p.stderr[-3000:]
    ok = {line.split()[1].rstrip(":") for line in p.stdout.splitlines() if line.startswith("OK ")}
    assert ok == set(QUERIES)


def test_unknown_query_name_fails(sf_dir):
    p = _check(sf_dir, "heavy_hitter_customers", "no_such_query")
    assert p.returncode != 0
    assert "no_such_query" in p.stdout
    assert not any(line.startswith("OK ") for line in p.stdout.splitlines())

"""bench.py end to end: a named subset of the battery runs, prints a
final line that parses, and leaves the full-battery archive alone."""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

from tools.metrics import TOTALS

ROOT = Path(__file__).resolve().parent.parent
QUERIES = ["q01_pricing_summary", "meertrap_observation"]


def test_bench_subset_run():
    archive = ROOT / "BENCH_FULL.json"
    before = archive.read_bytes(), archive.stat().st_mtime_ns
    p = subprocess.run(
        [sys.executable, str(ROOT / "bench.py"), "/root/testdata/sf0.001",
         "--rounds", "1", *QUERIES],
        capture_output=True, text=True, cwd=ROOT, timeout=900,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    *_, full_line, final_line = p.stdout.strip().splitlines()
    final = json.loads(final_line)
    assert final["n_queries"] == 2
    assert set(final["queries"]) == set(QUERIES)
    full = json.loads(full_line)
    for rec in full["queries"].values():
        assert {"wall_s", "jobs", "build_s", *TOTALS} <= set(rec)
    assert (archive.read_bytes(), archive.stat().st_mtime_ns) == before

#!/usr/bin/env python
"""Round-end gate: never snapshot with a red test (round-5 VERDICT #2).

Runs, in order:

1. ``pytest tests/ -q`` — the full suite;
2. the in-window oracle check (``tools/check_correctness.py`` at
   sf0.01, all queries — a superset of the driver's 50-query window);
3. the engine-side invariant harness (``tools/invariants_x100.py`` at
   sf0.01 — fixed points, twin bit-identity, Python micro-oracles;
   round 8).

Prints a one-line machine-readable record (commit, dirty flag, pass and
fail counts) to stdout and appends it to GATE.log so the snapshot commit
demonstrably follows a green run.

Usage: python tools/round_gate.py [--skip-oracle] [testdata_root]
(the oracle and the invariant harness run on testdata_root's sf0.01
directory, and the GATE.log line records the root.)
"""

from __future__ import annotations

import datetime as dt
import os
import re
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run(cmd: list[str]) -> tuple[int, str]:
    p = subprocess.run(cmd, capture_output=True, text=True, cwd=REPO)
    return p.returncode, p.stdout + p.stderr


def main() -> int:
    skip_oracle = "--skip-oracle" in sys.argv
    args = [a for a in sys.argv[1:] if a != "--skip-oracle"]
    testdata_root = args[0] if args else "/root/testdata"
    commit = subprocess.run(
        ["git", "-C", REPO, "rev-parse", "--short", "HEAD"],
        capture_output=True, text=True, check=True,
    ).stdout.strip()
    dirty = bool(subprocess.run(
        ["git", "-C", REPO, "status", "--porcelain"],
        capture_output=True, text=True, check=True,
    ).stdout.strip())

    rc_t, out_t = run([sys.executable, "-m", "pytest", "tests/", "-q"])
    m = re.search(r"(\d+) passed", out_t)
    passed = int(m.group(1)) if m else 0
    m = re.search(r"(\d+) failed", out_t)
    failed = int(m.group(1)) if m else 0

    oracle = "skipped"
    if not skip_oracle:
        rc_o, out_o = run(
            [sys.executable, "tools/check_correctness.py",
             os.path.join(testdata_root, "sf0.01")]
        )
        oracle = "green" if rc_o == 0 and "all queries match" in out_o else "RED"
    else:
        rc_o = 0

    # Round 8: the engine-side invariant harness (fixed points, twin
    # bit-identity, Python micro-oracles) also runs at sf0.01 — ~30 s,
    # and it checks properties the value-hash oracle can't (e.g. LSH
    # completeness on recomputed bands, CC over-merge).
    invariants = "skipped"
    if not skip_oracle:
        rc_i, out_i = run(
            [sys.executable, "tools/invariants_x100.py",
             os.path.join(testdata_root, "sf0.01"), "--sample", "200"]
        )
        invariants = "green" if rc_i == 0 and "ALL GREEN" in out_i else "RED"
    else:
        rc_i = 0

    status = "GREEN" if rc_t == 0 and rc_o == 0 and rc_i == 0 else "RED"
    line = (
        f"{dt.datetime.now(dt.timezone.utc).isoformat(timespec='seconds')} "
        f"gate={status} commit={commit}{'+dirty' if dirty else ''} "
        f"pytest={passed}p/{failed}f oracle={oracle} invariants={invariants}"
        f" testdata={testdata_root}"
    )
    print(line)
    with open(os.path.join(REPO, "GATE.log"), "a") as f:
        f.write(line + "\n")
    return 0 if status == "GREEN" else 1


if __name__ == "__main__":
    sys.exit(main())

#!/usr/bin/env python
"""Three-SF full oracle sweep -> CORRECTNESS_FULL.txt.

Runs tools/check_correctness.py at sf0.001 / sf0.01 / sf0.1 and writes
the combined log to CORRECTNESS_FULL.txt with a header recording the
exact commit the sweep certifies (round-5 VERDICT item #3: the artifact
must be reproducible against a hash).

Usage: python tools/full_sweep.py [out_path] [testdata_root]
(testdata_root holds one directory per SF.)
"""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SFS = ("sf0.001", "sf0.01", "sf0.1")


def main() -> int:
    args = sys.argv[1:]
    out_path = args[0] if args else os.path.join(REPO, "CORRECTNESS_FULL.txt")
    testdata_root = args[1] if len(args) > 1 else "/root/testdata"
    commit = subprocess.run(
        ["git", "-C", REPO, "rev-parse", "--short", "HEAD"],
        capture_output=True, text=True, check=True,
    ).stdout.strip()
    # Verification artifacts (the gate's own log, this sweep's output,
    # the driver-managed progress file) don't count as code dirt — they
    # are BYPRODUCTS of running the round-end checks at this commit.
    _artifacts = {"GATE.log", "CORRECTNESS_FULL.txt", "PROGRESS.jsonl"}
    dirty = "\n".join(
        ln
        for ln in subprocess.run(
            ["git", "-C", REPO, "status", "--porcelain"],
            capture_output=True, text=True, check=True,
        ).stdout.splitlines()
        if ln[3:].strip() not in _artifacts
    ).strip()
    lines = [
        f"# Full local oracle sweep ({commit}{'+dirty' if dirty else ''}), "
        f"all queries, SFs {','.join(SFS)}"
    ]
    rc = 0
    for sf in SFS:
        lines.append(f"== {sf}")
        p = subprocess.run(
            [sys.executable, os.path.join(REPO, "tools", "check_correctness.py"),
             os.path.join(testdata_root, sf)],
            capture_output=True, text=True, cwd=REPO,
        )
        for ln in p.stdout.splitlines():
            if ln.startswith(("OK", "FAIL", "ROWS")) or "FAILURES" in ln or "all queries match" in ln:
                lines.append(ln)
        if p.returncode != 0:
            rc = 1
            lines.append(f"!! check_correctness rc={p.returncode} at {sf}")
    with open(out_path, "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote {out_path} ({commit}{'+dirty' if dirty else ''}), rc={rc}")
    return rc


if __name__ == "__main__":
    sys.exit(main())

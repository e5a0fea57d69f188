"""Gate-sized slice of the interval/as-of operator-family fuzzer.

The full run (tools/fuzz_intervals.py, 300 cases) writes
FUZZ_INTERVALS.json; this keeps a fixed 25-case prefix of the same
seed in the pytest gate so a regression in any operator (as-of
direction/tolerance/exact-match, every interval_join strategy and its
tie order, the overlap join's first-common-bucket trick) fails fast.
"""

from __future__ import annotations

import random

import duckdb
import pytest

from tools.fuzz_intervals import gen_case, run_case

SEED = 12
N = 25


@pytest.fixture(scope="module")
def fuzz_con():
    return duckdb.connect()


@pytest.mark.parametrize("case", range(N))
def test_interval_fuzz_case(spark, fuzz_con, case):
    rng = random.Random(SEED * 1_000_003 + case)
    spec = gen_case(rng)
    fail = run_case(spec, spark, fuzz_con)
    assert fail is None, fail

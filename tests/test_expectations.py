"""Declarative data-quality expectations (operators/expectations.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ska_src_maltopuft_etl_spark.operators import expectations as X


@pytest.fixture()
def dirty(spark):
    return spark.createDataFrame(
        [
            (1, 10.0, "A", 100),
            (2, -5.0, "B", 100),     # range violation
            (3, None, "A", 200),     # null violation
            (3, 7.0, "bad", None),   # dup id + regex violation + null fk
            (4, 3.0, "A", 999),      # dangling fk
        ],
        "id long, v double, flag string, ref long",
    )


@pytest.fixture()
def dim(spark):
    return spark.createDataFrame([(100,), (200,)], "key long")


def test_quality_report_counts(spark, dirty, dim):
    rep = {
        r["expectation"]: r["n_violations"]
        for r in X.quality_report(
            dirty,
            [
                X.expect_non_null("v"),
                X.expect_between("v", 0, 100),
                X.expect_regex("flag", "^[AB]$"),
                X.expect_unique("id"),
                X.expect_fk("ref", dim, "key"),
            ],
        ).collect()
    }
    assert rep == {
        "non_null:v": 1,
        "between:v[0,100]": 2,  # null counts as not-in-range too
        "regex:flag": 1,
        "unique:id": 2,         # both rows of the duplicated key
        "fk:ref": 1,            # null ref is NOT an FK violation
    }


def test_row_level_rules_share_one_scan(spark, dirty):
    rep = X.quality_report(
        dirty,
        [
            X.expect_non_null("v", "flag"),
            X.expect_between("v", 0, 100),
            X.expect_regex("flag", "^[AB]$"),
        ],
    )
    # one aggregate over one scan: exactly one Relation in the plan
    plan = rep._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("LogicalRDD") + plan.count("Relation") <= 1

def test_empty_expectation_list(spark, dirty):
    report = X.quality_report(dirty, [])
    assert report.columns == ["expectation", "n_violations"]
    assert report.count() == 0

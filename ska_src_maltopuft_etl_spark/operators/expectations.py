"""Declarative data-quality expectations, evaluated distributed.

The reference validates every row through Pydantic models at extract
time (`/root/reference/src/ska_src_maltopuft_etl/meertrap/observation/
models.py:13-356` — per-row Python object construction). That design
caps throughput at Python-object speed and reports only the first
failure per row. This module is the Spark-native equivalent: each
expectation compiles to a Column predicate, ALL row-level expectations
evaluate in ONE pass over the data (a single aggregate of
``sum(violates)`` columns — no Python, no second scan per rule), and
set-level expectations (uniqueness, referential integrity) run as
keyed aggregates / anti joins.

:func:`quality_report` returns the (expectation, n_violations) frame,
the audit artifact.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "Expectation",
    "expect_non_null",
    "expect_between",
    "expect_regex",
    "expect_unique",
    "expect_fk",
    "quality_report",
]


@dataclass(frozen=True)
class Expectation:
    name: str
    #: row-level predicate (True = row OK) — None for set-level rules
    predicate: Column | None = None
    #: set-level violation counter: df -> violating-rows DataFrame
    set_rule: Callable[[DataFrame], DataFrame] | None = None


def expect_non_null(*cols: str) -> list[Expectation]:
    return [
        Expectation(f"non_null:{c}", predicate=F.col(c).isNotNull())
        for c in cols
    ]


def expect_between(col: str, lo, hi) -> Expectation:
    return Expectation(
        f"between:{col}[{lo},{hi}]",
        predicate=F.col(col).isNotNull() & F.col(col).between(lo, hi),
    )


def expect_regex(col: str, pattern: str) -> Expectation:
    return Expectation(
        f"regex:{col}",
        predicate=F.col(col).isNotNull() & F.col(col).rlike(pattern),
    )


def expect_unique(*cols: str) -> Expectation:
    """Set-level: no duplicate (cols) tuples. Violations = every row of
    every duplicated key (one keyed aggregate + semi join)."""

    def rule(df: DataFrame) -> DataFrame:
        dupes = (
            df.groupBy(*cols)
            .agg(F.count(F.lit(1)).alias("__n"))
            .where(F.col("__n") > 1)
            .select(*cols)
        )
        return df.join(dupes, list(cols), "left_semi")

    return Expectation(f"unique:{','.join(cols)}", set_rule=rule)


def expect_fk(col: str, dim: DataFrame, dim_col: str) -> Expectation:
    """Set-level referential integrity: every non-null ``col`` value
    exists in ``dim[dim_col]`` (anti join; AQE picks the strategy)."""

    def rule(df: DataFrame) -> DataFrame:
        keys = dim.select(F.col(dim_col).alias(col)).distinct()
        return df.where(F.col(col).isNotNull()).join(
            keys, col, "left_anti"
        )

    return Expectation(f"fk:{col}", set_rule=rule)


def _flatten(expectations) -> list[Expectation]:
    out: list[Expectation] = []
    for e in expectations:
        out.extend(e) if isinstance(e, list) else out.append(e)
    return out


def quality_report(df: DataFrame, expectations) -> DataFrame:
    """(expectation, n_violations) — every ROW-level expectation counts
    in one aggregate over one scan; each set-level rule adds one keyed
    job. Column order of the report follows the expectation order."""
    exps = _flatten(expectations)
    spark = df.sparkSession

    row_exps = [e for e in exps if e.predicate is not None]
    parts: list[DataFrame] = []
    if row_exps:
        # positional internal aliases: expectation names may contain
        # dots/brackets that column resolution would misparse
        agg = df.agg(
            *[
                F.sum(
                    F.when(~F.coalesce(e.predicate, F.lit(False)), 1).otherwise(0)
                ).alias(f"__e{i}")
                for i, e in enumerate(row_exps)
            ]
        )
        stacked = agg.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(e.name).alias("expectation"),
                            F.col(f"__e{i}").cast("long").alias("n_violations"),
                        )
                        for i, e in enumerate(row_exps)
                    ]
                )
            ).alias("__r")
        ).select("__r.expectation", "__r.n_violations")
        parts.append(stacked)

    for e in exps:
        if e.set_rule is not None:
            n = e.set_rule(df).agg(
                F.count(F.lit(1)).cast("long").alias("n_violations")
            )
            parts.append(
                n.select(
                    F.lit(e.name).alias("expectation"), "n_violations"
                )
            )

    if not parts:
        # no expectations supplied — an empty report, not a crash
        return df.sparkSession.createDataFrame(
            [], "expectation string, n_violations long"
        )
    report = parts[0]
    for p in parts[1:]:
        report = report.unionByName(p)
    return report

"""Z-order (Morton-curve) clustered layout for multi-column data skipping.

A sorted layout skips well on ONE column: parquet footer min/max let a
selective scan drop every file outside the predicate range, but a
filter on any other column touches all files. Interleaving the bits of
several columns' rank codes produces a space-filling-curve key; files
written in that order have SMALL min/max spans on EVERY participating
column, so selective predicates on any of them (or any combination)
prune files. This is the layout technique behind Delta's OPTIMIZE
ZORDER; here it is plain Spark — no table format required.

Execution shape (all distributed, nothing on the driver but the
quantile boundaries, which are O(buckets)):

1. per column: approximate quantile boundaries (one pass, GK sketch)
   -> equal-population rank codes in [0, 2^bits) — quantile coding
   makes the curve robust to skewed value distributions;
2. bucket index per row via a broadcast boundaries literal (binary
   search in a JVM-side expression, no Python);
3. Morton interleave of the rank codes into one long;
4. ``repartitionByRange`` on the z-value (range exchange = the same
   sort Spark uses for a global orderBy, but only to file granularity)
   and write.

Reference parity: the reference writes unsorted gzip parquet
checkpoints (`/root/reference/src/ska_src_maltopuft_etl/meertrap/
meertrap.py:64`); layout optimization is an extension.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = ["zorder_key", "zorder_write", "file_skipping_stats"]


def _bucket(col: Column, boundaries: list[float], bits: int) -> Column:
    """Rank code in [0, 2^bits): number of quantile boundaries <= value.

    Two-level search, all JVM-side (no Python, no join): a coarse fold
    over the ~sqrt(n) chunk-maxima counts the fully-covered chunks, then
    one `slice` at the computed offset folds over the single partial
    chunk — ~2*sqrt(n) comparisons per row (128 for the default 4095
    boundaries) instead of a linear n-fold (ADVICE r2). A true log-n
    branchy search is not expressible without exponential expression
    duplication (Catalyst expressions are trees, not DAGs), and at 128
    branch-free vectorized ops per row this is not the bottleneck of a
    write path. NULLs sort first (code 0).
    """
    v = col.cast("double")
    n = len(boundaries)
    chunk = max(1, 1 << ((bits + 1) // 2))
    b = F.array(*[F.lit(float(x)) for x in boundaries])
    maxima = F.array(
        *[F.lit(float(x)) for x in boundaries[chunk - 1 :: chunk]]
    )

    def count_le(arr: Column) -> Column:
        return F.aggregate(
            arr,
            F.lit(0),
            lambda acc, bound: acc + F.when(v >= bound, 1).otherwise(0),
        )

    coarse = count_le(maxima)
    # slice past the array end yields an empty array -> fine = 0.
    fine = count_le(F.slice(b, coarse * chunk + 1, chunk))
    return F.least(coarse * chunk + fine, F.lit((1 << bits) - 1)).cast("long")


def _interleave(codes: list[Column], bits: int) -> Column:
    """Morton-interleave ``len(codes)`` rank codes of ``bits`` bits each
    into one long: bit i of code j lands at position i*n + j."""
    n = len(codes)
    parts = []
    for j, code in enumerate(codes):
        for i in range(bits):
            parts.append(
                F.shiftleft(
                    F.shiftright(code, i).bitwiseAND(F.lit(1)), i * n + j
                )
            )
    out = parts[0]
    for p in parts[1:]:
        out = out.bitwiseOR(p)
    return out


def zorder_key(
    df: DataFrame, cols: list[str], bits: int = 12
) -> Column:
    """Z-value column for ``cols`` (numeric/timestamp-castable).

    ``bits`` rank bits per column — 12 bits = 4096 quantile cells per
    dimension, ample for file-level skipping (files >> cells is the
    failure mode to avoid, not the reverse). Total key width
    ``bits * len(cols)`` must stay <= 63.
    """
    if bits * len(cols) > 63:
        raise ValueError("z-value exceeds 63 bits; lower bits or columns")
    n_bounds = (1 << bits) - 1
    probs = [i / (n_bounds + 1) for i in range(1, n_bounds + 1)]
    codes = []
    for c in cols:
        dc = f"__zq_{c}"
        qdf = df.select(F.col(c).cast("double").alias(dc))
        boundaries = qdf.approxQuantile(dc, probs, 0.01)
        # dedupe (constant/low-cardinality columns repeat boundaries)
        uniq = sorted(set(boundaries))
        codes.append(_bucket(F.col(c), uniq, bits))
    return _interleave(codes, bits)


def zorder_write(
    df: DataFrame,
    path: str,
    cols: list[str],
    n_files: int = 64,
    bits: int = 12,
) -> None:
    """Write ``df`` as parquet clustered on the Z-curve of ``cols``.

    ``repartitionByRange`` samples the z-values and assigns contiguous
    curve segments to files — each file covers a compact hyper-rectangle
    neighborhood, so its per-column min/max footer spans are tight."""
    z = zorder_key(df, cols, bits=bits)
    (
        df.withColumn("__z", z)
        .repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .parquet(path)
    )


def file_skipping_stats(
    spark, path: str, col: str
) -> DataFrame:
    """Per-file [min, max] of ``col`` — the exact statistics a scan's
    file-pruning step uses. Lets tests (and operators) measure how many
    files a range predicate would touch under a given layout."""
    df = spark.read.parquet(path).select(
        F.col(col).alias("v"), F.input_file_name().alias("file")
    )
    return df.groupBy("file").agg(
        F.min("v").alias("v_min"), F.max("v").alias("v_max")
    )

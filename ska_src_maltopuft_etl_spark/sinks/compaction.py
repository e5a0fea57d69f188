"""Small-file compaction and sort-clustering for parquet datasets.

The reference's layout is one SPCCL/JSON file per candidate
(candidate/extract.py asserts exactly one row per file), so a day of
MeerTRAP output is tens of thousands of tiny files. Tiny files are the
classic large-cluster scan killer: per-file open cost dominates, task
counts explode, and footer/metadata reads swamp the driver. These
helpers rewrite a dataset into scan-friendly shape:

- ``compact_parquet``: coalesce to ~``target_file_mb`` output files,
  sized from the dataset's actual on-disk bytes (not row counts — row
  width varies wildly between tables).
- ``cluster_parquet``: additionally range-partition + sort by the given
  columns so each output file covers a narrow key range — parquet
  min/max stats then let predicate pushdown skip whole files/row
  groups, the poor man's Z-order for the 1-D case that covers most
  time-series pruning (events by ts, candidates by observed_at).

Both write gzip-compressed parquet to a sibling staging directory and
atomically swap, so a reader never sees a half-written dataset and a
failed compaction leaves the original untouched.
"""

from __future__ import annotations

import math
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _dataset_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if not f.startswith(("_", ".")):
                total += os.path.getsize(os.path.join(root, f))
    return total


def _swap_in(staging: str, path: str) -> None:
    backup = path.rstrip("/") + "._pre_compact"
    os.rename(path, backup)
    try:
        os.rename(staging, path)
    except Exception:
        os.rename(backup, path)  # roll back
        raise
    shutil.rmtree(backup)


def compact_parquet(
    spark: SparkSession,
    path: str,
    target_file_mb: float = 256,
) -> int:
    """Rewrite the parquet dataset at ``path`` into
    ``ceil(bytes / target_file_mb)`` files; returns the file count.

    Uses on-disk size as the sizing signal. Compressed parquet
    typically re-compresses to a similar footprint, so the output files
    land near ``target_file_mb`` without sampling row widths.
    """
    n_files = max(1, math.ceil(_dataset_bytes(path) / int(target_file_mb * (1 << 20))))
    df = spark.read.parquet(path)
    staging = path.rstrip("/") + "._compacting"
    (
        df.repartition(n_files)
        .write.mode("overwrite")
        .option("compression", "gzip")
        .parquet(staging)
    )
    _swap_in(staging, path)
    return n_files


def cluster_parquet(
    spark: SparkSession,
    path: str,
    cluster_cols: list[str],
    target_file_mb: float = 256,
) -> int:
    """Compact AND sort-cluster: range-partition on ``cluster_cols``
    then sort within each partition, so every output file holds a
    narrow, non-overlapping key range and parquet min/max statistics
    prune files for range predicates. Returns the file count."""
    n_files = max(1, math.ceil(_dataset_bytes(path) / int(target_file_mb * (1 << 20))))
    df = spark.read.parquet(path)
    cols = [F.col(c) for c in cluster_cols]
    staging = path.rstrip("/") + "._compacting"
    (
        df.repartitionByRange(n_files, *cols)
        .sortWithinPartitions(*cols)
        .write.mode("overwrite")
        .option("compression", "gzip")
        .parquet(staging)
    )
    _swap_in(staging, path)
    return n_files

"""Versioned snapshot tables: atomic publish + time travel on plain parquet.

The reference re-runs daily partitions and overwrites checkpoints in
place (`/root/reference/src/ska_src_maltopuft_etl/meertrap/meertrap.py:
60-70`) — a crash mid-write leaves a half-table, and yesterday's result
is gone. This sink gives parquet directories the two transactional
properties a production pipeline needs, without requiring a table
format dependency:

- **atomic publish**: data files land in an immutable
  ``snap-<version>/`` directory first; the version only becomes
  visible when the manifest JSON is moved into place with an atomic
  rename. Readers either see the previous complete version or the new
  complete one, never a partial write.
- **time travel**: every version's manifest (file list + row count +
  committed-at) is retained; ``read_snapshot(..., version=N)`` scans
  exactly version N's files. A bad batch is rolled back by publishing
  a new version pointing at the old files — no data movement.

Scale posture: the manifest holds file PATHS, not data — O(files) JSON
on the driver, while all data I/O stays distributed parquet. This is
deliberately the same layering as Iceberg/Delta metadata, reduced to
what the engine's pipelines need (single-writer per table, as with the
reference's orchestrator lock).
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession

__all__ = [
    "write_snapshot",
    "read_snapshot",
    "snapshot_versions",
    "rollback_snapshot",
]

_MANIFEST_DIR = "_manifests"


def _manifest_path(table_path: str, version: int) -> str:
    return os.path.join(table_path, _MANIFEST_DIR, f"v{version:08d}.json")


def snapshot_versions(table_path: str) -> list[int]:
    """Committed versions, ascending (committed = manifest present)."""
    mdir = os.path.join(table_path, _MANIFEST_DIR)
    if not os.path.isdir(mdir):
        return []
    return sorted(
        int(f[1:-5])
        for f in os.listdir(mdir)
        if f.startswith("v") and f.endswith(".json")
    )


def _load_manifest(table_path: str, version: int) -> dict:
    with open(_manifest_path(table_path, version)) as fh:
        return json.load(fh)


def write_snapshot(df: DataFrame, table_path: str) -> int:
    """Publish ``df`` as the next version of the table; returns the
    version number. The write is atomic: the version exists only once
    its manifest file has been renamed into the manifest directory."""
    versions = snapshot_versions(table_path)
    version = (versions[-1] + 1) if versions else 0
    data_dir = os.path.join(table_path, f"snap-{version:08d}")
    df.write.mode("error").parquet(data_dir)

    files = sorted(
        os.path.join(data_dir, f)
        for f in os.listdir(data_dir)
        if f.endswith(".parquet")
    )
    spark = df.sparkSession
    n_rows = spark.read.parquet(*files).count() if files else 0
    manifest = {
        "version": version,
        "files": files,
        "n_rows": n_rows,
        "committed_at": time.time(),
    }
    mdir = os.path.join(table_path, _MANIFEST_DIR)
    os.makedirs(mdir, exist_ok=True)
    tmp = os.path.join(mdir, f".v{version:08d}.json.tmp")
    with open(tmp, "w") as fh:
        json.dump(manifest, fh)
    os.replace(tmp, _manifest_path(table_path, version))  # the commit point
    return version


def read_snapshot(
    spark: SparkSession, table_path: str, version: int | None = None
) -> DataFrame:
    """Scan one committed version (default: latest). Uncommitted data
    directories (crashed writers) are invisible — only manifest-listed
    files are read."""
    versions = snapshot_versions(table_path)
    if not versions:
        raise FileNotFoundError(f"no committed snapshots at {table_path}")
    v = versions[-1] if version is None else version
    if v not in versions:
        raise ValueError(f"version {v} not in {versions}")
    manifest = _load_manifest(table_path, v)
    if not manifest["files"]:
        return spark.createDataFrame([], schema="")  # pragma: no cover
    return spark.read.parquet(*manifest["files"])


def rollback_snapshot(table_path: str, to_version: int) -> int:
    """Publish a NEW version whose manifest points at ``to_version``'s
    files — history stays intact, no data is moved or deleted."""
    versions = snapshot_versions(table_path)
    if to_version not in versions:
        raise ValueError(f"version {to_version} not in {versions}")
    old = _load_manifest(table_path, to_version)
    version = versions[-1] + 1
    manifest = {
        "version": version,
        "files": old["files"],
        "n_rows": old["n_rows"],
        "committed_at": time.time(),
        "rolled_back_from": to_version,
    }
    tmp = os.path.join(table_path, _MANIFEST_DIR, f".v{version:08d}.json.tmp")
    with open(tmp, "w") as fh:
        json.dump(manifest, fh)
    os.replace(tmp, _manifest_path(table_path, version))
    return version

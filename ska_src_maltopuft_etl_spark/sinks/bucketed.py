"""Bucketed table layout for shuffle-free co-located joins.

At 100 TB the dominant cost of fact-fact joins is the shuffle. Writing
both sides bucketed by the join key (same bucket count) lets Spark plan
a sort-merge join with NO Exchange on either side — the bucketing
pre-shuffles data once at write time and every subsequent join reuses
it. This is the standing-layout optimization the reference (single-node)
has no concept of.

Bucketed tables must go through the session catalog (``saveAsTable``);
the warehouse directory is plain parquet underneath. ``write_bucketed``
always overwrites and does not sort within buckets.
"""

from __future__ import annotations

import shutil
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession


def _clear_orphaned_location(spark: SparkSession, table: str) -> None:
    """Remove a managed-table directory left behind by an interrupted run.

    A process killed between writing the table files and committing the
    catalog entry leaves the warehouse directory on disk with no table to
    go with it; the next ``saveAsTable`` then fails with
    LOCATION_ALREADY_EXISTS even in overwrite mode. Only the unqualified
    default-database case is handled — that is the only layout this
    module writes.
    """
    if spark.catalog.tableExists(table):
        return
    warehouse = urlparse(spark.conf.get("spark.sql.warehouse.dir", ""))
    if warehouse.scheme not in ("", "file"):
        return
    path = f"{warehouse.path}/{table.lower()}"
    shutil.rmtree(path, ignore_errors=True)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    num_buckets: int = 32,
) -> None:
    """Persist ``df`` as a bucketed catalog table, replacing any table
    (or orphaned table directory) of that name."""
    _clear_orphaned_location(df.sparkSession, table)
    (
        df.write.mode("overwrite")
        .bucketBy(num_buckets, *bucket_cols)
        .format("parquet")
        .saveAsTable(table)
    )

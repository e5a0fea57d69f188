from ska_src_maltopuft_etl_spark.sinks.inverted_index import (
    build_inverted_index,
    run_index_maintenance_stream,
    search_index,
    term_bucket_py,
    update_inverted_index,
)
from ska_src_maltopuft_etl_spark.sinks.scd2 import scd2_apply
from ska_src_maltopuft_etl_spark.sinks.snapshots import (
    read_snapshot,
    rollback_snapshot,
    snapshot_versions,
    write_snapshot,
)
from ska_src_maltopuft_etl_spark.sinks.zorder import (
    file_skipping_stats,
    zorder_key,
    zorder_write,
)
from ska_src_maltopuft_etl_spark.sinks.relational import (
    ATNF_TARGETS,
    MEERTRAP_TARGETS,
    incremental_load,
    TargetInformation,
    load_targets_on_conflict,
)
from ska_src_maltopuft_etl_spark.sinks.introspection import (
    execute_jdbc_sql,
    jdbc_connection,
    targets_from_jdbc,
)

__all__ = [
    "ATNF_TARGETS",
    "build_inverted_index",
    "run_index_maintenance_stream",
    "search_index",
    "term_bucket_py",
    "update_inverted_index",
    "file_skipping_stats",
    "read_snapshot",
    "rollback_snapshot",
    "scd2_apply",
    "snapshot_versions",
    "write_snapshot",
    "zorder_key",
    "zorder_write",
    "MEERTRAP_TARGETS",
    "TargetInformation",
    "incremental_load",
    "load_targets_on_conflict",
    "execute_jdbc_sql",
    "jdbc_connection",
    "targets_from_jdbc",
]

from ska_src_maltopuft_etl_spark.sinks.scd2 import scd2_apply
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
    "scd2_apply",
    "MEERTRAP_TARGETS",
    "TargetInformation",
    "incremental_load",
    "load_targets_on_conflict",
    "execute_jdbc_sql",
    "jdbc_connection",
    "targets_from_jdbc",
]

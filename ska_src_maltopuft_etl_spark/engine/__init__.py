from ska_src_maltopuft_etl_spark.engine.session import (
    get_spark,
    release_all_persisted,
)

__all__ = ["get_spark", "release_all_persisted"]

"""Session catalog helper: temp-view registration so users can drive
the engine through plain ``spark.sql`` (ANSI SQL frontend) as well as
the DataFrame API.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from ska_src_maltopuft_etl_spark.sources import TABLES, load_table


#: (applicationId → sf_dir) most recently registered: re-registering the
#: same directory is a no-op (the views are identical lazy plans), while
#: a different sf_dir still replaces every view.
_REGISTERED: dict[str, str] = {}


def register_star_schema(spark: SparkSession, sf_dir: str) -> list[str]:
    """Register every testdata table as a temp view (region, nation, …,
    embeddings); returns the view names."""
    app = spark.sparkContext.applicationId
    if _REGISTERED.get(app) != sf_dir:
        for name in TABLES:
            load_table(spark, sf_dir, name).createOrReplaceTempView(name)
        _REGISTERED[app] = sf_dir
    return list(TABLES)


"""ATNF pulsar-catalogue pipeline (reference: atnf/atnf.py:17-94,
atnf/params.py:3-10).

The reference fetches the catalogue with psrqpy (network) into pandas.
Here extraction is pluggable: a fetcher callable returns a pandas frame
(production would wrap psrqpy exactly as the reference does); everything
downstream is Spark-native — coordinate kernels instead of per-row
astropy, literal catalogue columns, deterministic surrogate keys.
"""

from __future__ import annotations

import datetime as dt
from typing import Callable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ska_src_maltopuft_etl_spark import functions as K
from ska_src_maltopuft_etl_spark.operators import surrogate_key

ATNF_BASE_URL = "https://www.atnf.csiro.au/research/pulsar/psrcat/"


def psrqpy_fetcher(version: str = "2.3.0") -> pd.DataFrame:
    """Production fetcher wrapping psrqpy exactly as the reference does
    (atnf/atnf.py:25): QueryATNF over the mapped params. Gated behind an
    import-try — psrqpy isn't installed in this environment."""
    try:
        from psrqpy import QueryATNF
    except ImportError as exc:  # pragma: no cover - psrqpy not in container
        raise ImportError(
            "psrqpy is required for live ATNF extraction; install it or "
            "pass a custom fetcher to atnf_run()"
        ) from exc
    query = QueryATNF(params=list(QUERY_PARAM_MAPPING.keys()), version=version)
    return query.pandas

QUERY_PARAM_MAPPING = {
    "NAME": "known_ps_name",
    "RAJ": "known_ps_ra",
    "DECJ": "known_ps_dec",
    "DM": "known_ps_dm",
    "W50": "known_ps_width",
    "P0": "known_ps_period",
}


def extract(
    spark: SparkSession,
    fetcher: Callable[[], pd.DataFrame],
    visited_at: dt.datetime | None = None,
) -> DataFrame:
    """S6: catalogue fetch → Spark frame; ``*_ERR`` columns dropped,
    visit timestamp stamped (atnf/atnf.py:17-35)."""
    pdf = fetcher()
    keep = [c for c in pdf.columns if not c.endswith("_ERR")]
    df = spark.createDataFrame(pdf[keep]).withColumnsRenamed(QUERY_PARAM_MAPPING)
    df = surrogate_key(df, "known_pulsar_id", ["known_ps_name"])
    ts = visited_at or dt.datetime.now(tz=dt.timezone.utc)
    return df.withColumn("cat_visit_visited_at", F.lit(ts))


def transform(df: DataFrame) -> DataFrame:
    """Coordinates to degrees, pos literal, catalogue constants
    (atnf/atnf.py:38-77).

    ``catalogue_id`` / ``catalogue_visit_id`` are *batch-local* ids (the
    reference gets fresh DB ids per visit via INSERT..RETURNING,
    atnf/atnf.py:80-94). Persisting multiple visits therefore MUST go
    through :func:`~ska_src_maltopuft_etl_spark.sinks.incremental_load`
    (as the CLI does), which assigns each new visit an id above the
    existing table's max and remaps ``known_pulsar.catalogue_visit_id``
    accordingly — appending the batch-local ids as they are would
    collide every visit onto id 1.
    """
    return (
        df.withColumns(
            {
                "known_ps_ra": K.hms_to_degrees("known_ps_ra"),
                "known_ps_dec": K.dms_to_degrees("known_ps_dec"),
            }
        )
        .withColumns(
            {
                "known_ps_pos": K.pos_string("known_ps_ra", "known_ps_dec"),
                "cat_name": F.lit("ATNF pulsar catalogue"),
                "cat_url": F.lit(ATNF_BASE_URL),
                "catalogue_id": F.lit(1),
                "catalogue_visit_id": F.lit(1),
            }
        )
    )


def to_tables(df: DataFrame) -> dict[str, DataFrame]:
    """Normalize into the three ATNF target tables (FIXTURES.md §4)."""
    catalogue = df.select(
        F.col("catalogue_id").alias("id"),
        F.col("cat_name").alias("name"),
        F.col("cat_url").alias("url"),
    ).dropDuplicates(["id"])
    catalogue_visit = df.select(
        F.col("catalogue_visit_id").alias("id"),
        F.col("cat_visit_visited_at").alias("visited_at"),
        "catalogue_id",
    ).dropDuplicates(["id"])
    known_pulsar = df.select(
        F.col("known_pulsar_id").alias("id"),
        F.col("known_ps_name").alias("name"),
        F.col("known_ps_ra").alias("ra"),
        F.col("known_ps_dec").alias("dec"),
        F.col("known_ps_dm").alias("dm"),
        F.col("known_ps_width").alias("width"),
        F.col("known_ps_period").alias("period"),
        F.col("known_ps_pos").alias("pos"),
        "catalogue_visit_id",
    )
    return {
        "catalogue": catalogue,
        "catalogue_visit": catalogue_visit,
        "known_pulsar": known_pulsar,
    }


def atnf_run(
    spark: SparkSession,
    fetcher: Callable[[], pd.DataFrame],
    visited_at: dt.datetime | None = None,
) -> dict[str, DataFrame]:
    """ATNF pipeline entrypoint (atnf/main.py:6-10)."""
    return to_tables(transform(extract(spark, fetcher, visited_at)))

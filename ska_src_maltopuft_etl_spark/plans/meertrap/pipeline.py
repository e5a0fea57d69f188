"""MeerTRAP end-to-end pipeline (reference: meertrap/meertrap.py:70-205,
meertrap/main.py:6-10).

parse → transform → load. Unlike the reference's read_or_parse_parquet
(meertrap.py:33-67), stages are not memoized on disk: every run parses
the partition afresh and only the final tables are written. The
relational load goes through the idempotent sink in sinks/relational.py;
parquet mode needs no database.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from ska_src_maltopuft_etl_spark.plans.meertrap.candidate import transform_spccl
from ska_src_maltopuft_etl_spark.plans.meertrap.observation import (
    UnexpectedShapeError,
    transform_observation,
)
from ska_src_maltopuft_etl_spark.sources.run_summary import read_run_summaries
from ska_src_maltopuft_etl_spark.sources.spccl import read_spccl


def meertrap_run(
    spark: SparkSession,
    data_dir: str,
    output_dir: str | None = None,
    remote_file_root_path: str = "data",
    partition_key: str = "",
) -> dict[str, DataFrame]:
    """Run the MeerTRAP pipeline over one partition directory.

    Returns the 9 normalized tables; writes them as parquet under
    ``output_dir`` when given (K1 checkpoint role, gzip like the
    reference's stage outputs, meertrap.py:64).
    """
    # Every observation table, check and the candidate as-of input derive
    # from the parsed summaries: checkpoint them so none re-plans the
    # JSON scan. The candidate scan is read once, by the as-of exchange
    # below the candidate numbering's checkpoint.
    obs_raw = read_run_summaries(spark, data_dir).localCheckpoint()

    obs_tables = transform_observation(obs_raw)
    cand_tables = transform_spccl(
        read_spccl(spark, data_dir),
        obs_tables.beam_obs,
        remote_file_root_path=remote_file_root_path,
        partition_key=partition_key or os.path.basename(data_dir.rstrip("/")),
    )
    if cand_tables.unmatched_beams:  # null beam_id (candidate/transform.py:138-143)
        raise UnexpectedShapeError("Unexpected number of candidates after beam-id as-of join.")

    tables = {**obs_tables.as_dict(), **cand_tables.as_dict()}
    if output_dir:
        for name, df in tables.items():
            df.write.mode("overwrite").option("compression", "gzip").parquet(
                f"{output_dir}/{name}.parquet"
            )
    return tables

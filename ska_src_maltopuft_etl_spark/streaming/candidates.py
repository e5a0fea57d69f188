"""Streaming candidate ingestion: SPCCL arrival stream → beam-resolved
candidate rows.

The batch pipeline resolves each candidate's beam with the backward
as-of join (plans/meertrap/candidate.py ``resolve_beams``). Streams
can't run window functions, so the idiomatic composition is
``foreachBatch``: each micro-batch is a bounded DataFrame that runs that
same function against the (slowly-changing, broadcastable)
beam/observation dimension. Exactly-once lands on the idempotent merge sink — the same
recipe the reference achieves with re-runs + ON CONFLICT.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ska_src_maltopuft_etl_spark import functions as K
from ska_src_maltopuft_etl_spark.plans.meertrap.candidate import resolve_beams
from ska_src_maltopuft_etl_spark.sources.spccl import parse_spccl, scan_spccl


def stream_spccl(spark: SparkSession, directory: str) -> DataFrame:
    """File-arrival stream of SPCCL candidate lines (streaming S5): the
    :func:`read_spccl` columns plus the ``cand_coherent`` and
    ``cand_observed_at`` that ``resolve_beams`` groups and orders by."""
    raw = scan_spccl(spark.readStream.option("maxFilesPerTrigger", "1000"), directory)
    return parse_spccl(raw).withColumns(
        {
            "cand_coherent": F.col("cand_beam_mode") == "C",
            "cand_observed_at": K.mjd_to_timestamp("cand_mjd"),
        }
    )


def resolve_beams_stream(
    spark: SparkSession,
    directory: str,
    beam_obs: DataFrame,
    sink: Callable[[DataFrame, int], None],
    checkpoint_dir: str | None = None,
    available_now: bool = False,
) -> StreamingQuery:
    """Start the stream: per micro-batch, run the batch as-of join
    against ``beam_obs`` and hand the resolved frame to ``sink``.

    ``beam_obs`` is the (beam_number, beam_coherent, obs_t_min, beam_id)
    dimension from the observation transform — dimension-sized, so the
    per-batch join broadcasts it.
    """

    def process(batch_df: DataFrame, batch_id: int) -> None:
        sink(resolve_beams(batch_df, beam_obs), batch_id)

    stream = stream_spccl(spark, directory)
    writer = stream.writeStream.foreachBatch(process).outputMode("append")
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()

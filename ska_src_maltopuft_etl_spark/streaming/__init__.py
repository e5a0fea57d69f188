from ska_src_maltopuft_etl_spark.streaming.aggregates import (
    maintain_aggregate_state,
    read_finalized,
)
from ska_src_maltopuft_etl_spark.streaming.candidates import (
    resolve_beams_stream,
    stream_spccl,
)
from ska_src_maltopuft_etl_spark.streaming.curation import (
    curate_batch,
    eval_gram_table,
    flag_contaminated_stream,
    run_curation_stream,
)
from ska_src_maltopuft_etl_spark.streaming.ingest import (
    join_event_streams,
    sessionize_events,
    stream_run_summaries,
    stream_with_watermark_dedup,
)
from ska_src_maltopuft_etl_spark.streaming.recovery import (
    clear_aborted_batch0,
    is_aborted_batch0,
)

__all__ = [
    "clear_aborted_batch0",
    "curate_batch",
    "is_aborted_batch0",
    "eval_gram_table",
    "flag_contaminated_stream",
    "join_event_streams",
    "maintain_aggregate_state",
    "read_finalized",
    "resolve_beams_stream",
    "run_curation_stream",
    "sessionize_events",
    "stream_run_summaries",
    "stream_spccl",
    "stream_with_watermark_dedup",
]

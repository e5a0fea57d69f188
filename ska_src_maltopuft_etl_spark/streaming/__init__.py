from ska_src_maltopuft_etl_spark.streaming.candidates import (
    resolve_beams_stream,
    stream_spccl,
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
    "is_aborted_batch0",
    "join_event_streams",
    "resolve_beams_stream",
    "sessionize_events",
    "stream_run_summaries",
    "stream_spccl",
    "stream_with_watermark_dedup",
]

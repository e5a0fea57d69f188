"""Structured Streaming extensions.

The reference is pure batch (SURVEY.md §2.11): late/duplicate data is
handled by re-runs + content dedup + idempotent upserts. On a cluster the
natural evolution is a file-arrival stream with the same semantics:

- ``stream_run_summaries``: streaming version of the run-summary scan —
  same schema, quarantine, flattening and content hash;
  ``dropDuplicatesWithinWatermark`` on the content hash replaces the
  batch keep-first dedup (S4/W1) for files that arrive within the
  watermark horizon;
- ``stream_with_watermark_dedup``: the generic operator;
- ``sessionize_events``: an example custom stateful operator
  (``applyInPandasWithState``) — session windows closed by an event-time
  timeout, the shape any bespoke streaming state machine takes in this
  engine.

All sinks are left to the caller (``writeStream`` with checkpointing);
tests drive these with ``Trigger.AvailableNow`` over static directories.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
    TimestampType,
)

from ska_src_maltopuft_etl_spark.sources.run_summary import parse_run_summaries, scan_run_summaries


def stream_with_watermark_dedup(
    df: DataFrame,
    event_time_col: str,
    dedup_cols: list[str],
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming analogue of the batch content dedup (S4):
    duplicates arriving within ``watermark`` of each other collapse to
    the first-seen row; state is bounded by the watermark horizon."""
    return df.withWatermark(event_time_col, watermark).dropDuplicatesWithinWatermark(
        dedup_cols
    )


def stream_run_summaries(spark: SparkSession, directory: str) -> DataFrame:
    """File-arrival stream of run summaries with content dedup.

    Reads, quarantines and hashes the files as the batch source does
    (``parse_run_summaries``); event time is the observation start, and
    duplicates collapse within a 1 hour watermark.
    """
    raw = scan_run_summaries(spark.readStream.option("maxFilesPerTrigger", "1000"), directory)
    # minimal projection for streaming consumers; the full frame is the
    # batch path's job once files land in bronze.
    flat = parse_run_summaries(raw).select(
        F.input_file_name().alias("path"),
        F.col("obs_t_min").alias("utc_start"),
        "content_hash",
        F.col("mk_sb_meerkat_id").alias("meerkat_id"),
    )
    return stream_with_watermark_dedup(flat, "utc_start", ["content_hash"])


SESSION_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("session_start", TimestampType()),
        StructField("session_end", TimestampType()),
        StructField("n_events", IntegerType()),
        StructField("total_value", DoubleType()),
    ]
)

# State = ALL unsealed spans for the key (parallel arrays), not just the
# most recent one. Holding every open span is what makes the cross-batch
# merge exact: late-but-valid rows (and whole late sessions) arriving in a
# later micro-batch are merged positionally into the span sequence and the
# gap split is re-applied, instead of being blindly folded into one span.
_STATE_SCHEMA = StructType(
    [
        StructField("starts", ArrayType(LongType())),
        StructField("ends", ArrayType(LongType())),
        StructField("ns", ArrayType(IntegerType())),
        StructField("totals", ArrayType(DoubleType())),
    ]
)


def _merge_spans(
    spans: list[tuple[int, int, int, float]], gap_us: int
) -> list[tuple[int, int, int, float]]:
    """Fold a start-sorted span list: two spans whose time distance is
    within ``gap_us`` (or that overlap) belong to one session.

    Span-level merging is exactly equivalent to row-level sessionization
    of the union of rows: within a span every consecutive-row gap is
    already <= gap_us, so interleaving another such span can only shrink
    gaps, never create one.
    """
    out = [spans[0]]
    for s in spans[1:]:
        p = out[-1]
        if s[0] - p[1] <= gap_us:
            out[-1] = (
                min(p[0], s[0]),
                max(p[1], s[1]),
                p[2] + s[2],
                p[3] + s[3],
            )
        else:
            out.append(s)
    return out


def sessionize_events(
    events: DataFrame,
    gap_minutes: int = 30,
    watermark: str = "1 hour",
) -> DataFrame:
    """Custom stateful operator: gap-based session windows per
    ``user_id`` over ``(user_id, ts, value)`` events via
    ``applyInPandasWithState``.

    Demonstrates the engine's pattern for operators Structured Streaming
    lacks natively: per-key state in Arrow batches, emitted on timeout.
    Batch demo/verification uses session_window aggregation instead
    (see plans/relational streaming-adjacent queries).

    Tie convention: two events EXACTLY ``gap_minutes`` apart share a
    session (gap test is strict ``>``), unlike the native
    ``session_window`` whose half-open [start, last+gap) window splits
    there. Both conventions are defensible; this one matches the
    gaps-and-islands SQL idiom, and the ×10 stream-vs-batch certificate
    (tools/stream_equiv.py) pins it against a batch twin with the same
    convention.

    NULL conventions (round-13, pinned by tools/fuzz_stream.py):
    NULL-``ts`` rows are dropped (no place on the time axis — same
    rule as asof_join); a NULL ``user_id`` is a regular group (Spark
    groupBy semantics); NULL ``value`` contributes nothing to
    ``total_value`` (SQL SUM), with an all-NULL span totalling 0.0.

    Sessions close on an EventTimeTimeout: a session is emitted only
    once the WATERMARK (``watermark`` on ``ts``) passes its end + gap
    (matching the built-in ``session_window`` semantics): no row the
    watermark still admits can change an emitted session, so the
    appended output content is deterministic — a replay, any batch
    split, and any within-watermark arrival order produce the same
    sessions. Terminates under ``Trigger.AvailableNow``.
    """
    gap_us = gap_minutes * 60 * 1_000_000
    events = events.withWatermark("ts", watermark)

    def set_timeout(state: GroupState, end_us: int) -> None:
        # fire when the watermark passes session end + gap (ms); clamp
        # above the current watermark — a timeout timestamp at/behind it
        # is an error (late rows within the allowed lateness can end a
        # session before the watermark).
        ts_ms = end_us // 1000 + gap_minutes * 60 * 1000
        state.setTimeoutTimestamp(max(ts_ms, state.getCurrentWatermarkMs() + 1))

    def load_spans(state: GroupState) -> list[tuple[int, int, int, float]]:
        starts, ends, ns, totals = state.get
        return [
            (int(s), int(e), int(n), float(t))
            for s, e, n, t in zip(starts, ends, ns, totals)
        ]

    def store_spans(
        state: GroupState, spans: list[tuple[int, int, int, float]]
    ) -> None:
        state.update(
            (
                [s for s, _, _, _ in spans],
                [e for _, e, _, _ in spans],
                [n for _, _, n, _ in spans],
                [t for _, _, _, t in spans],
            )
        )
        set_timeout(state, min(e for _, e, _, _ in spans))

    def split_sealed(
        state: GroupState, spans: list[tuple[int, int, int, float]]
    ) -> tuple[list, list]:
        """Partition spans into (sealed, open). A span is sealed once the
        watermark passes end + gap: no admissible row can extend, precede,
        or bridge it (any non-late row has ts >= watermark > end + gap)."""
        wm_us = state.getCurrentWatermarkMs() * 1000
        sealed = [s for s in spans if s[1] + gap_us < wm_us]
        kept = [s for s in spans if s[1] + gap_us >= wm_us]
        return sealed, kept

    def emit(key, spans: list[tuple[int, int, int, float]]) -> pd.DataFrame:
        return pd.DataFrame(
            {
                "user_id": [key[0]] * len(spans),
                "session_start": [pd.Timestamp(s, unit="us") for s, _, _, _ in spans],
                "session_end": [pd.Timestamp(e, unit="us") for _, e, _, _ in spans],
                "n_events": [n for _, _, n, _ in spans],
                "total_value": [t for _, _, _, t in spans],
            }
        )

    def update(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        if state.hasTimedOut:
            spans = load_spans(state)
            sealed, kept = split_sealed(state, spans)
            if kept:
                store_spans(state, kept)
            else:
                state.remove()
            if sealed:
                yield emit(key, sealed)
            return
        rows = pd.concat(list(pdfs))
        # NULL event times cannot be placed on the time axis — drop them
        # (same convention as asof_join's round-12 NULL rule). Without
        # this, NaT.astype(int64) is int64-min and the garbage span
        # merges into a real session (round-13 streaming-fuzzer probe:
        # a session_end in year 1677).
        rows = rows[rows["ts"].notna()]
        if rows.empty:
            # Defensive re-arm (round-14 advice): on PySpark 4.1.2 a
            # stored timeoutTimestamp survives an invocation that does
            # not re-set it, but the Scala GroupState contract documents
            # timeouts as reset on every function call — re-arm from the
            # stored spans so correctness never depends on the
            # pass-through behavior.
            if state.exists:
                set_timeout(
                    state, min(e for _, e, _, _ in load_spans(state))
                )
            return
        rows = rows.sort_values("ts")
        ts_us = (rows["ts"].astype("int64") // 1000).to_numpy()
        vals = rows["value"].to_numpy()
        # Sessionize WITHIN the batch: split the key's (sorted) rows at
        # every gap > gap_us. Merging the whole batch into one span —
        # the round-8 shape — silently fused separate sessions whenever
        # one micro-batch carried a key's rows across a gap (with
        # availableNow over one file, i.e. one batch, EVERY gap was
        # fused; found by the round-9 stream-vs-batch certificate).
        cuts = np.flatnonzero(np.diff(ts_us) > gap_us) + 1
        bounds = np.concatenate(([0], cuts, [len(ts_us)]))
        # nansum: NULL values contribute nothing (SQL SUM semantics,
        # with the empty/all-NULL span totalling 0.0 rather than NULL —
        # batch twins should compare against coalesce(sum(value), 0)).
        spans = [
            (
                int(ts_us[a]),
                int(ts_us[b - 1]),
                int(b - a),
                float(np.nansum(vals[a:b])),
            )
            for a, b in zip(bounds[:-1], bounds[1:])
        ]
        if state.exists:
            # Merge carried state POSITIONALLY: a late session arriving a
            # batch after a newer one (legal within the watermark) sorts
            # before the stored spans; the round-9 shape folded state into
            # the batch's earliest span whenever they weren't gap-separated
            # AFTER it, fusing across genuine gaps (round-10 fix).
            spans = _merge_spans(sorted(spans + load_spans(state)), gap_us)
        sealed, kept = split_sealed(state, spans)
        if kept:
            store_spans(state, kept)
        else:  # defensive: new data always holds at least one open span
            state.remove()
        if sealed:
            yield emit(key, sealed)
        return

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=SESSION_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def join_event_streams(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    band_seconds: int = 300,
    watermark: str = "10 minutes",
    bucketed: bool = True,
    how: str = "inner",
) -> DataFrame:
    """Watermarked stream-stream interval join: pair each left event
    with right events for the same key occurring within
    ``band_seconds`` AFTER it (the streaming form of the batch
    interval_join operator).

    Both sides carry watermarks and the join condition bounds the time
    distance, so Spark can expire buffered state once the watermark
    passes an event's band — state is O(events inside the horizon),
    not O(stream).

    ``how="leftOuter"`` (round-11, VERDICT r10 item #4) emits each
    unmatched left event exactly once, with nulls on the right columns,
    WHEN the watermark closes its band — the shape late-data pipelines
    need ("which clicks never got a confirmation within 5 minutes").
    The null-emission timing is watermark-driven: a left row is held in
    state until the event-time watermark passes ``left_ts + band`` (no
    right row could still arrive inside the band), then released as
    unmatched. The bucketed rework composes with this unchanged: a left
    row has exactly ONE band bucket, so the outer join null-extends it
    at most once — no duplicate unmatched rows from the right-side
    bucket explosion (the exploded side is the INNER side, whose
    duplicates are join candidates, never output rows).

    ``bucketed`` (default): the equi-key is composed with a
    band-sized time bucket, which bounds the PROBE cost, not just the
    state size. With the key alone, every new row is checked against
    ALL buffered rows of its key inside the horizon — O(n_key²) per
    hot key, single-threaded (streaming joins have no AQE skew-split;
    measured: a 72k-event Zipf hot key did not finish its ×10
    certificate within 30 minutes). A right event at t can only match
    left events in buckets {floor(t/band)-1, floor(t/band)}, so the
    right side is exploded into those two candidate buckets and the
    join becomes a plain multi-column equi-join plus the exact band
    filter — probe cost O(n_key × band-density), the same reduction
    the batch ``interval_join`` applies. Output is identical
    to the unbucketed join (the exact band condition is still
    applied); ``bucketed=False`` keeps the naive formulation as the
    parity baseline.
    """
    if how not in ("inner", "leftOuter"):
        raise ValueError(f"how={how!r}: supported joins are inner / leftOuter")
    lw = left.withWatermark(left_ts, watermark)
    rw = right.withWatermark(right_ts, watermark)
    band = int(band_seconds)
    exact = (rw[right_ts] >= lw[left_ts]) & (
        rw[right_ts] <= lw[left_ts] + F.expr(f"INTERVAL {band} SECONDS")
    )
    if not bucketed:
        return lw.join(rw, (lw[key] == rw[key]) & exact, how)
    lb = lw.withColumn(
        "__band_bucket", F.floor(F.unix_timestamp(F.col(left_ts)) / band)
    )
    rb = rw.withColumn(
        "__band_bucket",
        F.explode(
            F.array(
                F.floor(F.unix_timestamp(F.col(right_ts)) / band) - 1,
                F.floor(F.unix_timestamp(F.col(right_ts)) / band),
            )
        ),
    )
    cond = (
        (lb[key] == rb[key])
        & (lb["__band_bucket"] == rb["__band_bucket"])
        & (rb[right_ts] >= lb[left_ts])
        & (rb[right_ts] <= lb[left_ts] + F.expr(f"INTERVAL {band} SECONDS"))
    )
    return lb.join(rb, cond, how).drop("__band_bucket")

"""Streaming maintenance of mergeable aggregate state.

Connects ``operators/incremental_agg`` (the commutative-monoid state:
count / sum / sum-of-squares / min / max per group) to Structured
Streaming: each micro-batch's state is merged into a parquet-backed
state table via ``foreachBatch``, so per-group statistics over an
unbounded stream stay queryable at any time with one small scan —
no re-aggregation of history, ever. Each run is an ``availableNow``
trigger: it drains the input present at start and stops, and the next
run resumes from the checkpoint.

Why ``foreachBatch`` + explicit state parquet instead of the built-in
streaming aggregation state store:

- the state is REUSABLE outside the stream (the batch engine's
  ``finalize`` reads the same parquet — one code path for batch
  backfill and streaming tail, the lambda-architecture unification);
- the merge is a pure DataFrame job per batch — the same plan at any
  scale, with the shuffle keyed on the (small) group domain rather
  than the raw event volume;
- no state-store retention tuning: the parquet IS the checkpointed
  aggregate, atomically replaced per batch.

Crash consistency: the merge is NOT idempotent per replayed batch
(counts would double), and Structured Streaming's checkpoint replays an
unacknowledged batch on restart — so the last-merged ``epoch_id`` is
written INSIDE the state directory before it is promoted, making state
and epoch commit in the same rename. The promote itself is
rename-aside: the current state moves to ``_old`` (never deleted while
it is the only copy), the fresh state renames into place, then
``_old`` is dropped; a crash at any point leaves either the old state
(epoch unchanged → the replay re-merges) or the new state (epoch
advanced → the replay is skipped), never a missing or doubled one.
The interrupted window (no current state, ``_old`` present) is healed
at the top of the next merge.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession

from ska_src_maltopuft_etl_spark.operators import incremental_agg as ia

__all__ = ["maintain_aggregate_state", "read_finalized"]

# Lives inside the promoted state directory; the leading underscore makes
# parquet readers skip it.
_EPOCH_FILE = "_epoch"


def _state_dirs(state_path: str) -> tuple[str, str, str]:
    return (
        os.path.join(state_path, "state"),
        os.path.join(state_path, "_tmp"),
        os.path.join(state_path, "_old"),
    )


def _last_epoch(state_dir: str) -> int:
    f = os.path.join(state_dir, _EPOCH_FILE)
    if os.path.exists(f):
        with open(f) as fh:
            return int(fh.read().strip() or -1)
    return -1


def maintain_aggregate_state(
    stream_df: DataFrame,
    group_cols: list[str],
    value_col: str,
    state_path: str,
    checkpoint_path: str,
):
    """Start an ``availableNow`` stream that folds each micro-batch into
    the persistent aggregate state at ``state_path``: it processes the
    input present at start, then stops.

    Returns the started :class:`StreamingQuery`. Query the live
    statistics at any moment with :func:`read_finalized`.
    """
    cur_dir, tmp_dir, old_dir = _state_dirs(state_path)
    os.makedirs(state_path, exist_ok=True)

    def merge_batch(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        # Heal an interrupted promote: the only window with no cur_dir is
        # between the two renames below, where _old holds the pre-merge
        # state — roll back to it (its epoch is the pre-merge one, so the
        # replayed batch re-merges).
        if not os.path.exists(cur_dir) and os.path.exists(old_dir):
            os.rename(old_dir, cur_dir)
        shutil.rmtree(tmp_dir, ignore_errors=True)
        shutil.rmtree(old_dir, ignore_errors=True)
        if _last_epoch(cur_dir) >= epoch_id:
            return  # replayed batch after restart — already merged
        batch_state = ia.aggregate_state(batch_df, group_cols, value_col)
        if os.path.exists(cur_dir):
            existing = spark.read.parquet(cur_dir)
            merged = ia.merge_states(existing, batch_state, group_cols)
        else:
            merged = batch_state
        # materialize BEFORE touching cur_dir (merged reads from it), and
        # stamp the epoch INSIDE the directory so state + epoch promote
        # in one atomic rename.
        merged.write.mode("overwrite").parquet(tmp_dir)
        with open(os.path.join(tmp_dir, _EPOCH_FILE), "w") as fh:
            fh.write(str(epoch_id))
        if os.path.exists(cur_dir):
            os.rename(cur_dir, old_dir)
        os.rename(tmp_dir, cur_dir)
        shutil.rmtree(old_dir, ignore_errors=True)

    return (
        stream_df.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )


def read_finalized(
    spark: SparkSession, state_path: str, group_cols: list[str]
) -> DataFrame:
    """Finalized per-group statistics from the current persisted state —
    a scan of |group domain| rows regardless of how much data the
    stream has absorbed."""
    cur_dir, _, _ = _state_dirs(state_path)
    return ia.finalize(spark.read.parquet(cur_dir), group_cols)

"""Type-2 slowly-changing-dimension maintenance.

The reference's relational sink upserts dimensions in place (MERGE
semantics on a natural key — `/root/reference/src/ska_src_maltopuft_etl/
core/insert.py:40-78` keeps only the latest row per key). A type-2
dimension instead KEEPS history: every attribute change closes the
current version (sets ``valid_to``) and appends a new one, so facts can
join the dimension AS OF their event time. This is the standard
warehouse pattern the reference's schema would need the moment a
catalogue attribute (e.g. a pulsar's position refinement) changes
between visits.

Execution shape (one shuffle, scales with |dimension| + |batch|):

- history rows (already closed) stream through untouched;
- current rows full-outer-join the batch on the natural key (null-safe),
  classifying each key into unchanged / changed / new / absent;
- changed keys emit two rows (closed old + open new) via an exploded
  struct array — no second join, no window.

Everything is deterministic given (existing, batch, batch_ts) — no
clocks, no RNG — so the result is oracle-checkable.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = ["scd2_apply"]


def _same(a: str, b: str) -> Column:
    return F.col(a).eqNullSafe(F.col(b))


def scd2_apply(
    existing: DataFrame,
    batch: DataFrame,
    key_cols: list[str],
    tracked_cols: list[str],
    batch_ts,
) -> DataFrame:
    """Fold one batch of key->attributes observations into a type-2
    dimension table.

    ``existing`` must carry ``key_cols + tracked_cols + ["valid_from",
    "valid_to"]`` with ``valid_to IS NULL`` marking current versions.
    ``batch`` carries ``key_cols + tracked_cols``. ``batch_ts`` is the
    effective timestamp of the batch (Column or literal value).

    Rules per natural key:

    - key only in batch            -> insert (batch_ts, NULL)
    - key only in existing-current -> unchanged
    - attributes equal (null-safe) -> unchanged
    - attributes differ            -> close current at batch_ts and
                                      insert (batch_ts, NULL)

    Closed history rows are never touched. Re-applying the same batch
    is a no-op (the changed-set is empty the second time), matching the
    relational sink's idempotency contract.
    """
    ts = batch_ts if isinstance(batch_ts, Column) else F.lit(batch_ts)
    # struct branches of a CASE must agree exactly on field types
    ts_from = ts.cast(existing.schema["valid_from"].dataType)
    ts_to = ts.cast(existing.schema["valid_to"].dataType)
    out_cols = key_cols + tracked_cols + ["valid_from", "valid_to"]

    history = existing.where(F.col("valid_to").isNotNull()).select(*out_cols)
    current = existing.where(F.col("valid_to").isNull()).select(*out_cols)

    b = batch.select(
        *[F.col(k).alias(f"__bk_{k}") for k in key_cols],
        *[F.col(c).alias(f"__b_{c}") for c in tracked_cols],
    )
    on = reduce(
        lambda x, y: x & y, [_same(k, f"__bk_{k}") for k in key_cols]
    )
    j = current.join(b, on, "full_outer")

    in_cur = reduce(
        lambda x, y: x | y, [F.col(k).isNotNull() for k in key_cols]
    )
    in_batch = reduce(
        lambda x, y: x | y, [F.col(f"__bk_{k}").isNotNull() for k in key_cols]
    )
    attrs_equal = reduce(
        lambda x, y: x & y, [_same(c, f"__b_{c}") for c in tracked_cols]
    )

    cur_struct = F.struct(
        *[F.col(c).alias(c) for c in key_cols + tracked_cols],
        F.col("valid_from").alias("valid_from"),
        F.col("valid_to").alias("valid_to"),
    )
    closed_struct = F.struct(
        *[F.col(c).alias(c) for c in key_cols + tracked_cols],
        F.col("valid_from").alias("valid_from"),
        ts_to.alias("valid_to"),
    )
    new_struct = F.struct(
        *[F.coalesce(F.col(f"__bk_{k}"), F.col(k)).alias(k) for k in key_cols],
        *[F.col(f"__b_{c}").alias(c) for c in tracked_cols],
        ts_from.alias("valid_from"),
        F.lit(None).cast(existing.schema["valid_to"].dataType).alias("valid_to"),
    )

    versions = F.when(
        in_cur & in_batch & attrs_equal, F.array(cur_struct)
    ).when(
        in_cur & in_batch, F.array(closed_struct, new_struct)  # changed
    ).when(
        in_cur, F.array(cur_struct)  # absent from batch
    ).otherwise(
        F.array(new_struct)  # brand-new key
    )

    updated = (
        j.select(F.explode(versions).alias("__v"))
        .select(*[F.col(f"__v.{c}").alias(c) for c in out_cols])
    )
    return history.unionByName(updated)

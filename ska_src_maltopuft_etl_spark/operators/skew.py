"""Skew-mitigation operators.

AQE's skew-join handling (on by default in Spark) splits
oversized partitions at runtime, but only for sort-merge joins after
statistics exist. ``salted_join`` is the explicit technique for the
cases AQE can't fix: a shuffled equi-join where a handful of hot keys
dominate (the classic power-law key problem at 100 TB).

Mechanics: explode the *small* side k ways (one copy per salt), salt the
*large* side randomly-but-deterministically (hash of a stable column),
join on (key, salt). Hot keys now spread across k reducers.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_join(
    large: DataFrame,
    small: DataFrame,
    on: Sequence[str] | str,
    salt_buckets: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Equi-join with k-way key salting.

    The salt is the xxhash64 of every large-side column, so it is
    deterministic for identical rows. The small side is replicated
    ``salt_buckets`` times; keep it the genuinely smaller input.
    """
    on = [on] if isinstance(on, str) else list(on)
    salted_large = large.withColumn(
        "__salt",
        F.pmod(F.xxhash64(*[F.col(c) for c in large.columns]), F.lit(salt_buckets)).cast("int"),
    )
    replicated_small = small.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(salt_buckets - 1)))
    )
    # Pin a SHUFFLED join (merge hint): if Catalyst instead broadcasts
    # the replicated side (it fits the estimate at mid tiers), there is
    # no shuffle left to de-skew and the k-way replication is pure
    # overhead — measured 3.1x at the ×10 tier (10.4 s broadcast-built
    # vs 3.4 s shuffled; SCALING.md round 10). A caller who can
    # broadcast the dim shouldn't be salting at all.
    #
    # MERGE, not shuffle_hash: a hash build side cannot spill — at the
    # ×100 tier the 8×-replicated dim's per-partition hash relation
    # exceeded task memory and every retry died with
    # cannotAcquireMemoryToBuildUnsafeHashedRelation (SCALING.md round
    # 10, ×100-zipf A/B). Sort-merge blocks the broadcast just as well
    # and spills both sides, so the operator survives any dim size —
    # the property that matters at 100 TB.
    out = salted_large.join(replicated_small.hint("merge"), [*on, "__salt"], how)
    return out.drop("__salt")

"""Deterministic fixed-point k-means (cluster-then-curate primitive).

Large-scale training-data pipelines cluster document embeddings to
balance topic mixtures, sample per-cluster, and spot near-duplicate
regions (the curation step between dedup and mixture weighting). Spark
has no bit-reproducible clustering; floating-point Lloyd iterations are
engine-dependent because the centroid mean's addition order is not.

This operator makes the whole recurrence integer-exact, the same trick
as :func:`~.graph.pagerank_fixed_point`:

- embeddings are quantized once to ``floor(x * 1024 + 0.5)`` BIGINTs
  (both IEEE multiplication and floor are deterministic across
  engines);
- distances are exact integer sums of squared differences;
- centroid updates are per-dimension ``floor(sum / count)`` — the sum
  is an exact integer (order-insensitive), the quotient is one IEEE
  double division (correctly rounded everywhere), so two engines agree
  bit-for-bit;
- seeds are the ``k`` smallest ids (no RNG state), the cluster label IS
  the seed id, ties in assignment break to the smallest label, and an
  emptied cluster keeps its previous centroid.

Scale shape (the canonical distributed Lloyd): centroids are a k-row
broadcast; assignment is one broadcast product + a per-vector argmin
(one shuffle keyed on the vector id); the update is an explode to
(cluster, dim) with map-side partial sums into k x dim groups. No
driver-side state; the tiny centroid frame is localCheckpoint-ed per
iteration so the unrolled plan stays O(iters), not O(2^iters)
(see the pagerank invariant-materialization note).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _sq_dist(e: Column, c: Column) -> Column:
    """Exact integer squared distance between two BIGINT arrays."""
    return F.aggregate(
        F.zip_with(e, c, lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def kmeans_fixed_point(
    vectors: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 4,
    iters: int = 2,
) -> DataFrame:
    """Deterministic Lloyd k-means: (id, cluster, dist_sq).

    ``cluster`` is the seed vector's id (the ``k`` smallest ids seed the
    centroids); ``dist_sq`` is the exact quantized squared distance to
    the final centroid. Runs exactly ``iters`` assign+update rounds plus
    one final assignment — a fixed, reproducible computation rather than
    a convergence loop, so results are comparable across engines and
    runs (the oracle unrolls the same rounds in SQL).
    """
    q = vectors.select(
        F.col(id_col).alias("__id"),
        F.expr(
            f"transform({vec_col}, x -> "
            "CAST(FLOOR(CAST(x AS DOUBLE) * 1024 + 0.5) AS BIGINT))"
        ).alias("__e"),
    )
    # Referenced in every round (assignment + update + final) — same
    # invariant-materialization rule as pagerank's edge frame.
    q = q.localCheckpoint(eager=False)
    cent = (
        q.orderBy("__id")
        .limit(k)
        .select(F.col("__id").alias("__cid"), F.col("__e").alias("__c"))
        .localCheckpoint(eager=False)
    )

    def assign(frame: DataFrame) -> DataFrame:
        # k-row broadcast product: every vector scores every centroid —
        # the algorithm itself, not an accidental cartesian.
        scored = q.crossJoin(F.broadcast(frame)).select(
            "__id",
            "__e",
            "__cid",
            _sq_dist(F.col("__e"), F.col("__c")).alias("__dist"),
        )
        w = Window.partitionBy("__id").orderBy("__dist", "__cid")
        return (
            scored.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1)
            .drop("__rn")
        )

    for _ in range(iters):
        assigned = assign(cent)
        sums = (
            assigned.select("__cid", F.posexplode("__e").alias("__d", "__v"))
            .groupBy("__cid", "__d")
            .agg(
                F.expr(
                    "CAST(FLOOR(CAST(SUM(__v) AS DOUBLE) / COUNT(*)) AS BIGINT)"
                ).alias("__cv")
            )
        )
        newc = sums.groupBy("__cid").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("__d", "__cv"))),
                lambda x: x["__cv"],
            ).alias("__c")
        )
        # an emptied cluster keeps its previous centroid
        cent = (
            cent.select("__cid", F.col("__c").alias("__prev"))
            .join(newc, "__cid", "left")
            .select("__cid", F.coalesce("__c", "__prev").alias("__c"))
            .localCheckpoint(eager=False)
        )

    final = assign(cent)
    w_size = Window.partitionBy("__cid")
    return final.select(
        F.col("__id").alias(id_col),
        F.col("__cid").alias("cluster"),
        F.col("__dist").alias("dist_sq"),
        F.count(F.lit(1)).over(w_size).alias("cluster_size"),
    )

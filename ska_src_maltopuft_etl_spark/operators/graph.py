"""Distributed connected components over an edge DataFrame.

The canonical last step of every near-duplicate pipeline: candidate
pairs (MinHash-LSH bands, exact Jaccard, embedding cosine, fuzzy match)
form an undirected graph; each connected component is one duplicate
cluster, and the minimum id in the component is the canonical document
to keep. The reference has no graph operator (its dedup is
single-column keep-first, observation/extract.py:60-77 family); this is
part of the LLM-data-pipeline extension surface.

Design for 100 TB:

- Min-label propagation expressed as DataFrame joins: each round is one
  equi-join (labels onto edge endpoints, both directions via the
  symmetrized edge table) plus one hash aggregate (MIN per node) — both
  keyed shuffles that AQE can coalesce/skew-split. No driver-side graph
  state; the driver holds only the loop counter and a changed-row count.
- Rounds = graph diameter. Near-dup clusters are shallow (duplicates of
  a common source collapse in 1-2 rounds), so this converges in a
  handful of rounds; the known pathological case is a long chain, which
  exceeds ``max_iter`` and raises rather than returning partial labels.
- ``localCheckpoint`` per round cuts lineage so the plan stays O(1) in
  the number of iterations instead of re-planning an ever-deeper join
  tree (the same trick incremental_load uses per table).
- The convergence check (`changed == 0`) costs one extra action per
  round; at scale you would fold it into the same job with an
  accumulator, but a count on the already-checkpointed labels frame is
  a cheap metadata-sized scan and keeps the operator declarative.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: PageRank damping factor, in percent: the integer form of the usual 0.85.
DAMPING_PCT = 85


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    nodes: DataFrame | None = None,
    max_iter: int = 25,
) -> DataFrame:
    """Label every node with the MIN node id of its connected component.

    Parameters
    ----------
    edges : (src, dst) pairs, undirected (orientation ignored).
    nodes : optional single-column frame of node ids; isolated nodes
        (no incident edge) appear in the output only if supplied here.
    max_iter : hard round bound; raises if not converged (a dedup graph
        needing >25 rounds of min propagation means the edge set is
        pathological).

    Returns (node, component).
    """
    node_col = edges.schema[src].name  # validate columns exist early
    _ = edges.schema[dst].name

    e = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .where(F.col("a") != F.col("b"))
        .distinct()
    )
    # symmetrize once; every round joins against this static frame
    # (single-pass explode — the union form re-executes e's distinct
    # subtree once per branch, see symmetrize())
    und = symmetrize(e).localCheckpoint(eager=False)

    # Propagate over V(edges) ONLY: isolated nodes are trivially their
    # own component and must not ride through every round — at corpus
    # scale the node set is the whole dataset while the near-dup edge
    # graph is orders of magnitude smaller. Singletons union in at the
    # end (see below).
    # NOT checkpointed: only round 1 references this twice (own + the
    # join side), and both branches sit on und's pinned blocks — the
    # duplicated distinct there is cheaper than an extra .rdd
    # conversion (planning pass + eager AQE stage execution, r14).
    labels = (
        und.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
    )

    def with_isolates(converged: DataFrame) -> DataFrame:
        if nodes is None:
            return converged
        n_col = nodes.columns[0]
        isolates = (
            nodes.select(F.col(n_col).alias("node"))
            .distinct()
            .join(converged.select("node"), "node", "left_anti")
            .withColumn("component", F.col("node"))
        )
        return converged.union(isolates)

    for _round in range(max_iter):
        # each node also keeps its own current label (the union below),
        # so labels are monotonically non-increasing → convergence.
        # The node's previous label rides through the aggregate as
        # ``__old`` (exactly one non-null per node), so the convergence
        # check is a scan of the checkpointed result — no join, one
        # shuffle per round total.
        comp_type = labels.schema["component"].dataType
        nbr = und.join(
            labels.withColumnRenamed("node", "a"), "a"
        ).select(
            F.col("b").alias("node"),
            "component",
            F.lit(None).cast(comp_type).alias("__old"),
        )
        own = labels.select("node", "component", F.col("component").alias("__old"))
        merged = (
            own.union(nbr)
            .groupBy("node")
            .agg(
                F.min("component").alias("component"),
                F.max("__old").alias("__old"),
            )
            .localCheckpoint(eager=False)
        )
        changed = merged.where(F.col("component") != F.col("__old")).count()
        labels = merged.select("node", "component")
        if changed == 0:
            return with_isolates(labels)
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} rounds; "
        "graph diameter too large for label propagation"
    )


def dedup_clusters(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    nodes: DataFrame | None = None,
) -> DataFrame:
    """Near-dup clustering summary: (node, component, is_canonical).

    ``is_canonical`` marks the member to KEEP (minimum id per cluster);
    everything else in the component is the drop set.
    """
    cc = connected_components(edges, src=src, dst=dst, nodes=nodes)
    return cc.withColumn(
        "is_canonical", (F.col("node") == F.col("component"))
    )


def symmetrize(pairs: DataFrame) -> DataFrame:
    """Edge-set symmetrization ``pairs ∪ reversed(pairs)`` in one pass,
    over the endpoint columns ``a`` and ``b``.

    Expressed as an inline explode of ``[(a,b), (b,a)]`` instead of
    ``pairs.union(pairs.select(b, a))``: the union's two branches are
    separate plan subtrees, so every exchange below ``pairs`` executes
    once PER BRANCH (exchange reuse does not collapse them under AQE —
    measured at the ×100 tier as a duplicated edge-sized shuffle),
    while the explode doubles rows inside the same task with a single
    upstream reference. If ``pairs`` is distinct and loop-free, the
    output is distinct too (the two exploded rows of an (x, y) pair
    differ whenever x != y).
    """
    return pairs.select(
        F.explode(
            F.array(
                F.struct(F.col("a").alias("a"), F.col("b").alias("b")),
                F.struct(F.col("b").alias("a"), F.col("a").alias("b")),
            )
        ).alias("__e")
    ).select("__e.a", "__e.b")


def pagerank_fixed_point(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = 5,
    scale: int = 10**9,
    symmetric: bool = False,
) -> DataFrame:
    """Deterministic integer fixed-point PageRank: (node, rank_scaled).

    Ranks are maintained as scaled BIGINTs (initial rank = ``scale``)
    and every operation is integer arithmetic: a node's contribution
    per round is ``(rank * DAMPING_PCT) DIV (100 * outdeg)`` and the
    teleport term is ``(scale * (100 - DAMPING_PCT)) DIV 100``. Float
    PageRank is NOT reproducible across engines (the inflow sum's
    addition order is engine-dependent); integer sums are exact and
    order-insensitive, so two engines running this recurrence agree
    bit-for-bit — the same trick the domain-mixture normalizer uses.
    The DIV floor loses at most ``outdeg`` scale-units of mass per
    node per round (bounded, deterministic).

    Each iteration is one equi-join of ranks onto edge sources plus
    one hash aggregate over destinations — the same per-round shuffle
    shape as :func:`connected_components`, and like it the loop keeps
    no driver-side graph state. The loop-invariant edge/out-degree and
    node frames are ``localCheckpoint``-ed once before the loop (they
    are referenced in every round; leaving them lazy duplicates their
    subtrees geometrically in the plan — see the in-body comment for
    the measured four-variant shape comparison), and the rank frame's
    linear lineage is cut every 10 rounds so plan size stays O(1) in
    ``iters``.

    Dangling nodes (no out-edges) keep receiving inflow but
    redistribute nothing — their mass drains (standard simplification;
    symmetrize the edge set if you need mass conservation).

    ``symmetric=True`` asserts the edge set is symmetrized (every node
    has both an out-edge and an in-edge, e.g. after ``pairs UNION ALL
    reversed(pairs)``). Then the inflow aggregate already covers the
    full node set, so the per-round ``nodes LEFT JOIN inflow`` is an
    identity and is elided — each round becomes exactly one join + one
    keyed aggregate (2 shuffles instead of 3), with the teleport term
    folded into the aggregate projection. Results are bit-identical to
    the general path on symmetric inputs.
    """
    teleport = (scale * (100 - DAMPING_PCT)) // 100
    # The edge table, out-degrees and node set are loop-invariant and
    # referenced in EVERY iteration. Materialize them ONCE before
    # entering the loop: without it the plan tree duplicates the
    # invariant subtrees geometrically per round (the rank recurrence
    # references both `e_deg` and `nodes`, each of which references
    # the scan — 5 rounds yields a 64-scan tree), optimizer/AQE time
    # grows with iteration count, and head-to-head A/B at sf0.1
    # (min-of-3, both orders) measured the materialized shape at 3.3 s
    # vs 4.3-4.6 s lazy. At 100 TB the lazy shape is strictly worse:
    # every AQE re-plan walks the whole deep tree and the invariant
    # edge shuffle is re-derived per reference.
    e = edges.select(F.col(src).alias("__src"), F.col(dst).alias("__dst"))
    # (src, dst, outdeg) — the outdeg join is loop-invariant too, so
    # fold it into the edge table instead of re-joining it every round.
    # Shape note (×100-tier A/B, four variants measured head-to-head —
    # SCALING.md "×100 sweep"): this groupBy+join build double-executes
    # the edge subtree (the aggregate's partial-agg exchange and the
    # join's full-row exchange are different exchanges, so nothing is
    # reusable), which looks wasteful — but every alternative measured
    # WORSE end-to-end, because what dominates at scale is the LOOP,
    # and the loop is fastest over localCheckpoint blocks where AQE
    # broadcast-converts the node-sized rank side each round:
    # - single repartition reused by both consumers, checkpoint after
    #   the join: build shuffle −40%, but the loop re-exchanged the
    #   checkpointed edges (partitioning is hidden at the boundary)
    #   — 8.1 GB / 117 s vs 6.1 GB / 79 s total;
    # - persist() instead of checkpoint (InMemoryRelation keeps the
    #   partitioning visible, loop joins exchange-free): least shuffle
    #   (4.5 GB) but per-round InMemoryTableScan rounds run ~35%
    #   slower (cache column-to-row conversion; no AQE runtime join
    #   conversion without shuffle stages) — 106-117 s wall;
    # - forcing SHJ via hint on the rank side: 191 s — worst.
    out_deg = e.groupBy("__src").agg(F.count(F.lit(1)).alias("__outdeg"))
    e_deg = e.join(out_deg, "__src").localCheckpoint(eager=False)
    if symmetric:
        # Symmetrized graph: every __src IS a node and every node
        # appears as a __dst, so the source side of the edge table is
        # the node set and the per-round inflow aggregate is total.
        # The distinct's partial aggregate collapses within the
        # checkpoint's partitioned blocks, so this exchanges only the
        # node-sized distinct set, not the edge table.
        nodes = e_deg.select(F.col("__src").alias("node")).distinct().localCheckpoint(eager=False)
    else:
        nodes = (
            e.select(F.col("__src").alias("node"))
            .union(e.select(F.col("__dst").alias("node")))
            .distinct()
            .localCheckpoint(eager=False)
        )
    ranks = nodes.select("node", F.lit(scale).cast("long").alias("rank_scaled"))
    for i in range(iters):
        contribs = e_deg.join(ranks, e_deg["__src"] == ranks["node"]).select(
            F.col("__dst").alias("node"),
            F.expr(
                f"(rank_scaled * {DAMPING_PCT}) DIV (100 * __outdeg)"
            ).alias("__contrib"),
        )
        if symmetric:
            # Inflow covers every node — fold the teleport term into
            # the aggregate and skip the nodes join entirely.
            ranks = contribs.groupBy("node").agg(
                (F.lit(teleport) + F.sum("__contrib"))
                .cast("long")
                .alias("rank_scaled")
            )
        else:
            inflow = contribs.groupBy("node").agg(
                F.sum("__contrib").alias("__inflow")
            )
            ranks = nodes.join(inflow, "node", "left").select(
                "node",
                (F.lit(teleport) + F.coalesce(F.col("__inflow"), F.lit(0)))
                .cast("long")
                .alias("rank_scaled"),
            )
        # With the invariants materialized, ranks lineage grows only
        # linearly per round — still cut it on deep runs so the plan
        # stays O(1) regardless of ``iters``.
        if (i + 1) % 10 == 0 and (i + 1) < iters:
            ranks = ranks.localCheckpoint(eager=False)
    return ranks

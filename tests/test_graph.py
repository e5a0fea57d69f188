"""Connected-components operator: hand cases + property vs union-find."""

from __future__ import annotations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from ska_src_maltopuft_etl_spark.operators.graph import (
    connected_components,
    dedup_clusters,
)


def _uf_components(n_nodes: int, edges: list[tuple[int, int]]) -> dict[int, int]:
    """Reference union-find: node -> min id of its component."""
    parent = list(range(n_nodes))

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in range(n_nodes)}


def test_two_triangles_and_isolate(spark):
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (10, 11), (11, 12)], ["src", "dst"]
    )
    nodes = spark.createDataFrame([(i,) for i in (1, 2, 3, 10, 11, 12, 99)], ["id"])
    got = {
        r["node"]: r["component"]
        for r in connected_components(edges, nodes=nodes).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 12: 10, 99: 99}


def test_chain_converges(spark):
    # worst case for label propagation: a path graph (diameter = n-1);
    # doubling via the self-label union still converges within max_iter
    n = 12
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], ["src", "dst"]
    )
    got = {r["node"]: r["component"] for r in connected_components(edges).collect()}
    assert got == {i: 0 for i in range(n)}


def test_dedup_clusters_canonical_flag(spark):
    edges = spark.createDataFrame([(5, 3), (3, 9)], ["src", "dst"])
    rows = {r["node"]: r for r in dedup_clusters(edges).collect()}
    assert rows[3]["is_canonical"] is True
    assert rows[5]["is_canonical"] is False
    assert rows[9]["is_canonical"] is False


def test_self_loops_and_duplicate_edges_ignored(spark):
    edges = spark.createDataFrame(
        [(1, 1), (1, 2), (2, 1), (1, 2)], ["src", "dst"]
    )
    got = {r["node"]: r["component"] for r in connected_components(edges).collect()}
    assert got == {1: 1, 2: 1}


def test_empty_edges_with_nodes(spark):
    edges = spark.createDataFrame([], "src int, dst int")
    nodes = spark.createDataFrame([(7,), (8,)], ["id"])
    got = {
        r["node"]: r["component"]
        for r in connected_components(edges, nodes=nodes).collect()
    }
    assert got == {7: 7, 8: 8}


def test_non_convergence_raises(spark):
    edges = spark.createDataFrame([(i, i + 1) for i in range(6)], ["src", "dst"])
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edges, max_iter=1)


@settings(max_examples=8, deadline=None)
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 19), st.integers(0, 19)), max_size=40
    )
)
def test_matches_union_find(spark, edges):
    n = 20
    nodes = spark.createDataFrame([(i,) for i in range(n)], ["id"])
    if edges:
        edf = spark.createDataFrame(edges, ["src", "dst"])
    else:
        edf = spark.createDataFrame([], "src int, dst int")
    got = {
        r["node"]: r["component"]
        for r in connected_components(edf, nodes=nodes, max_iter=30).collect()
    }
    want = _uf_components(n, edges)
    assert got == want


def test_pagerank_fixed_point_known_graph(spark):
    """3-node graph with a hand-checkable python model: ranks must match
    the exact integer recurrence, sum close to total mass (floor loss
    bounded), and the hub must outrank the leaves."""
    from ska_src_maltopuft_etl_spark.operators.graph import pagerank_fixed_point

    # star: leaves 1,2 -> hub 0; hub -> leaf 1 (so everyone has outdeg)
    edges = spark.createDataFrame(
        [(1, 0), (2, 0), (0, 1)], ["src", "dst"]
    )
    scale, iters = 10**9, 5
    got = {
        r["node"]: r["rank_scaled"]
        for r in pagerank_fixed_point(edges, iters=iters, scale=scale).collect()
    }

    # exact python model of the same integer recurrence
    teleport = (scale * 15) // 100
    outdeg = {1: 1, 2: 1, 0: 1}
    ranks = {0: scale, 1: scale, 2: scale}
    for _ in range(iters):
        inflow = {0: 0, 1: 0, 2: 0}
        for s, d in [(1, 0), (2, 0), (0, 1)]:
            inflow[d] += (ranks[s] * 85) // (100 * outdeg[s])
        ranks = {n: teleport + inflow[n] for n in ranks}
    assert got == ranks
    assert got[0] > got[1] > got[2]  # hub > fed leaf > teleport-only leaf
    assert got[2] == teleport


def test_pagerank_property_random_graphs(spark):
    """Random digraphs vs the exact python model of the same integer
    recurrence — including dangling nodes, self-loops, and multi-edges
    (which weight contributions, matching the COUNT-based outdeg)."""
    import random

    from ska_src_maltopuft_etl_spark.operators.graph import pagerank_fixed_point

    rng = random.Random(42)
    for trial in range(3):
        n_nodes = rng.randint(3, 8)
        edges = [
            (rng.randrange(n_nodes), rng.randrange(n_nodes))
            for _ in range(rng.randint(2, 14))
        ]
        scale, iters = 10**9, 4
        got = {
            r["node"]: r["rank_scaled"]
            for r in pagerank_fixed_point(
                spark.createDataFrame(edges, ["src", "dst"]),
                iters=iters,
                scale=scale,
            ).collect()
        }

        teleport = (scale * 15) // 100
        outdeg: dict = {}
        for s, _ in edges:
            outdeg[s] = outdeg.get(s, 0) + 1
        nodes = {s for s, _ in edges} | {d for _, d in edges}
        ranks = {v: scale for v in nodes}
        for _ in range(iters):
            inflow = {v: 0 for v in nodes}
            for s, d in edges:
                inflow[d] += (ranks[s] * 85) // (100 * outdeg[s])
            ranks = {v: teleport + inflow[v] for v in nodes}
        assert got == ranks, (trial, edges)


def test_pagerank_symmetric_path_matches_general(spark):
    """symmetric=True must be bit-identical to the general path on
    symmetrized edge sets (the per-round nodes LEFT JOIN it elides is an
    identity there), across random graphs incl. multi-edges."""
    import random

    from ska_src_maltopuft_etl_spark.operators.graph import pagerank_fixed_point

    rng = random.Random(7)
    for trial in range(3):
        n_nodes = rng.randint(3, 9)
        pairs = [
            (rng.randrange(n_nodes), rng.randrange(n_nodes))
            for _ in range(rng.randint(2, 12))
        ]
        sym = pairs + [(b, a) for a, b in pairs]
        edges = spark.createDataFrame(sym, ["src", "dst"])
        general = {
            r["node"]: r["rank_scaled"]
            for r in pagerank_fixed_point(edges, iters=4).collect()
        }
        fast = {
            r["node"]: r["rank_scaled"]
            for r in pagerank_fixed_point(edges, iters=4, symmetric=True).collect()
        }
        assert fast == general, (trial, sym)

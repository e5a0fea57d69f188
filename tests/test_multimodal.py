"""Multimodal plumbing tests: Arrow-batched decode over binary columns
(stub codec, real schema) and the cosine search operators."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ska_src_maltopuft_etl_spark.operators import multimodal, similarity


@pytest.fixture(scope="module")
def docs_with_payload(spark):
    df = spark.createDataFrame(
        [(i, ("word%d " % i) * (10 + i)) for i in range(8)], "doc_id long, text string"
    )
    return multimodal.with_binary_payload(df, "text")


def test_decode_features(docs_with_payload):
    out = multimodal.decode_binary_features(docs_with_payload, "doc_id", "payload")
    rows = {r["doc_id"]: r for r in out.collect()}
    assert len(rows) == 8
    assert rows[0]["first_byte"] == ord("w")
    assert rows[0]["n_bytes"] == len("word0 ") * 10
    assert rows[0]["tag"] == rows[0]["n_bytes"] % 251


def test_ivf_recall_vs_bruteforce(spark):
    from ska_src_maltopuft_etl_spark.sources import load_table

    e = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    q = e.where(F.col("vec_id") < 10)
    c = e.where(F.col("vec_id") >= 10)
    exact = similarity.cosine_topk_bruteforce(q, c, "vec_id", "embedding", k=5)
    approx = similarity.cosine_topk_ivf(q, c, "vec_id", "embedding", k=5,
                                        n_centroids=4, n_probe=2)
    ex = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    ap = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    recall = len(ex & ap) / len(ex)
    # probing half the centroids should recover most true neighbors
    assert recall >= 0.5, recall
    # per-query result count is still exactly k
    from collections import Counter
    per_q = Counter(qid for qid, _ in ap)
    assert all(v == 5 for v in per_q.values())


def test_cosine_pairs_exact_survives_column_pruning(spark):
    """Regression: self-cogroup + a column-less action (count) made the
    optimizer prune the RIGHT cogroup child down to its unique column,
    so the kernel's Arrow batch arrived without the id/vector columns
    (KeyError in bench.py, invisible under collect-based oracle runs).
    The operator now re-aliases the right side; count() and collect()
    must agree."""
    from ska_src_maltopuft_etl_spark.sources import load_table

    e = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    pairs = similarity.cosine_pairs_exact(
        e, "vec_id", "embedding", threshold=0.3
    )
    n_count = pairs.count()  # the action that used to crash
    n_collect = len(pairs.collect())
    assert n_count == n_collect and n_count > 0

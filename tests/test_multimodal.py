"""Multimodal plumbing tests: Arrow-batched decode/resize/frame-sample/
feature-extract over binary columns (stub codecs, real schemas)."""

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


def test_resize_stub(docs_with_payload):
    out = multimodal.resize_images(docs_with_payload, "doc_id", "payload", 32, 24)
    rows = out.collect()
    assert len(rows) == 8
    assert all(r["width"] == 32 and r["height"] == 24 and r["n_bytes"] == 32 * 24 * 3
               for r in rows)


def test_sample_frames_one_to_many(docs_with_payload):
    out = multimodal.sample_frames(
        docs_with_payload, "doc_id", "payload", frame_size=16, max_frames=3
    )
    rows = out.collect()
    per_doc = {}
    for r in rows:
        per_doc.setdefault(r["doc_id"], []).append(r)
    assert set(per_doc) == set(range(8))
    assert all(1 <= len(v) <= 3 for v in per_doc.values())
    assert all(r["frame_bytes"] > 0 for r in rows)


def test_extract_features_feeds_similarity(spark, docs_with_payload):
    feats = multimodal.extract_features(docs_with_payload, "doc_id", "payload", dim=8)
    rows = feats.collect()
    assert all(len(r["features"]) == 8 for r in rows)
    assert all(abs(sum(r["features"]) - 1.0) < 1e-5 for r in rows)
    # compose with the ANN operator
    q = feats.where(F.col("doc_id") < 2)
    c = feats.where(F.col("doc_id") >= 2)
    topk = similarity.cosine_topk_bruteforce(q, c, "doc_id", "features", k=3)
    got = topk.collect()
    assert {r["query_id"] for r in got} == {0, 1}
    assert all(0.0 <= r["cosine"] <= 1.0001 for r in got)
    assert max(r["rank"] for r in got) == 3


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

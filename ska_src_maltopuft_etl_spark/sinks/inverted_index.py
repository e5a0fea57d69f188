"""Materialized inverted index: term-bucketed postings with
partition-pruned BM25 querying.

The ad-hoc BM25 query (`plans/textsearch.py:bm25_keyword_search`)
re-derives postings from raw text on every run — right for one-off
analytics, wrong for a serving/repeated-query workload. This sink
materializes the index once:

- ``postings/`` parquet partitioned by ``term_bucket`` (md5-derived,
  so the SAME bucket function is computable driver-side without a
  Spark job) holding (term, doc_id, tf);
- ``doclens/`` parquet of per-document token counts;
- ``stats/`` single-row parquet of corpus size + average length.

A query then touches only its terms' partitions: the bucket ids are
computed on the driver from the query string (hashlib md5 — portable
with Spark's ``md5`` by construction), the partition filter prunes
every other directory at file-listing time, and the surviving scan is
|terms|/|buckets| of the index regardless of corpus size. Scoring is
the same rational-idf BM25 variant as the ad-hoc query, with the same
``BM25_K1``/``BM25_B``, so results are bit-identical to it — the test
asserts exactly that equivalence.

Documents are ``(doc_id, text)`` frames.

At 100 TB: the build is one explode + one keyed aggregate (map-side
partial tf counts) + a partitioned write; queries are a few-partition
scan + broadcast of the (tiny) df/stats tables. Index maintenance
composes with sinks/snapshots.py (atomic publish) and
sinks/compaction.py (small-file compaction of hot buckets).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ska_src_maltopuft_etl_spark.operators import text

__all__ = ["build_inverted_index", "search_index", "term_bucket_py"]

#: BM25 term-frequency saturation and document-length normalization.
BM25_K1 = 1.2
BM25_B = 0.75


def term_bucket_py(term: str, n_buckets: int) -> int:
    """Driver-side twin of the Spark-side bucket expression.

    Both take the first 8 hex chars of md5(term) as an integer mod
    ``n_buckets`` — md5 is the only hash both hashlib and Spark
    compute identically (xxhash64 has no portable stdlib twin).
    """
    return int(hashlib.md5(term.encode()).hexdigest()[:8], 16) % n_buckets


def _term_bucket_col(term: Column | str, n_buckets: int) -> Column:
    c = F.col(term) if isinstance(term, str) else term
    return (
        F.conv(F.substring(F.md5(c), 1, 8), 16, 10).cast("long") % n_buckets
    ).cast("int")


def build_inverted_index(
    docs: DataFrame,
    path: str,
    n_buckets: int = 64,
) -> None:
    """Materialize postings/doclens/stats under ``path``."""
    toks = docs.select("doc_id", text.tokens(F.col("text")).alias("__t"))
    doclens = toks.select("doc_id", F.size("__t").alias("dl"))
    postings = (
        toks.select("doc_id", F.explode("__t").alias("term"))
        .groupBy("term", "doc_id")
        .agg(F.count(F.lit(1)).alias("tf"))
        .withColumn("term_bucket", _term_bucket_col("term", n_buckets))
    )
    postings.write.mode("overwrite").partitionBy("term_bucket").parquet(
        f"{path}/postings"
    )
    doclens.write.mode("overwrite").parquet(f"{path}/doclens")
    _write_stats(doclens, path, n_buckets)


def _write_stats(doclens: DataFrame, path: str, n_buckets: int) -> None:
    # stats are stored in MERGEABLE integer form (n, sum_dl); avgdl is
    # derived at query time with the same double expression the ad-hoc
    # BM25 uses, so materialized-vs-ad-hoc stays bit-identical AND
    # incremental updates can recompute stats from doclens alone.
    doclens.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("sum_dl"),
    ).withColumn("n_buckets", F.lit(n_buckets)).write.mode("overwrite").parquet(
        f"{path}/stats"
    )


def update_inverted_index(docs: DataFrame, path: str) -> int:
    """Idempotently append a document batch to an existing index.

    Already-indexed doc ids are dropped with an anti join (the same
    idempotence contract as ``sinks/relational.incremental_load`` and
    the near-dup band index), new postings/doclens append to the
    partitioned layout, and the tiny stats table is recomputed from
    doclens. Returns the number of newly indexed documents. Safe to
    re-run on the same batch — the second run is a no-op.

    At scale the append touches only the new docs' term buckets (the
    partitioned write creates/extends just those directories); pair
    with sinks/compaction for hot-bucket small-file cleanup and
    sinks/snapshots for atomic publish.
    """
    spark = docs.sparkSession
    stats = spark.read.parquet(f"{path}/stats")
    n_buckets = stats.select("n_buckets").head()[0]
    existing = spark.read.parquet(f"{path}/doclens").select("doc_id")
    fresh = (
        docs.select("doc_id", "text")
        .join(existing, "doc_id", "left_anti")
        .localCheckpoint()  # pin the novelty decision before the appends
    )
    n_new = fresh.count()
    if n_new == 0:
        return 0
    toks = fresh.select("doc_id", text.tokens(F.col("text")).alias("__t"))
    doclens = toks.select("doc_id", F.size("__t").alias("dl"))
    postings = (
        toks.select("doc_id", F.explode("__t").alias("term"))
        .groupBy("term", "doc_id")
        .agg(F.count(F.lit(1)).alias("tf"))
        .withColumn("term_bucket", _term_bucket_col("term", n_buckets))
    )
    postings.write.mode("append").partitionBy("term_bucket").parquet(
        f"{path}/postings"
    )
    doclens.write.mode("append").parquet(f"{path}/doclens")
    _write_stats(spark.read.parquet(f"{path}/doclens"), path, n_buckets)
    return n_new


def run_index_maintenance_stream(
    doc_stream: DataFrame,
    path: str,
    checkpoint_dir: str,
):
    """foreachBatch wiring of :func:`update_inverted_index`: each
    micro-batch appends idempotently, so replayed batches after a
    restart dedupe on doc id. Caller starts/awaits the query."""

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        update_inverted_index(batch_df, path)

    return (
        doc_stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
    )


def search_index(
    spark: SparkSession,
    path: str,
    terms: list[str],
    k: int = 20,
) -> DataFrame:
    """BM25 top-k over the materialized index, pruned to the query terms'
    buckets. Scoring matches `bm25_keyword_search` bit-for-bit (same
    rational idf, same fixed-order per-term sum)."""
    raw_stats = spark.read.parquet(f"{path}/stats")
    n_buckets = raw_stats.select("n_buckets").head()[0]
    # same double expression as the ad-hoc BM25's stats aggregate →
    # identical bits (sum_dl and n_docs are exact integers)
    stats = raw_stats.select(
        F.col("n_docs").cast("double").alias("n"),
        (F.col("sum_dl").cast("double") / F.col("n_docs").cast("double")).alias(
            "avgdl"
        ),
    )
    buckets = sorted({term_bucket_py(t, n_buckets) for t in terms})
    postings = (
        spark.read.parquet(f"{path}/postings")
        # partition filter first: prunes non-matching bucket dirs at
        # file listing; the term filter then drops same-bucket noise.
        .where(F.col("term_bucket").isin(buckets))
        .where(F.col("term").isin(terms))
        .select("term", "doc_id", F.col("tf").cast("double").alias("tf"))
    )
    doclens = spark.read.parquet(f"{path}/doclens")
    dfreq = postings.groupBy("term").agg(
        F.count(F.lit(1)).cast("double").alias("df")
    )
    k1c, bc = F.lit(BM25_K1), F.lit(BM25_B)
    scored = (
        postings.join(doclens, "doc_id")
        .crossJoin(F.broadcast(stats.select("n", "avgdl")))
        .join(F.broadcast(dfreq), "term")
        .select(
            "doc_id",
            "term",
            (
                ((F.col("n") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5)))
                * (F.col("tf") * (k1c + F.lit(1.0)))
                / (
                    F.col("tf")
                    + k1c
                    * (
                        F.lit(1.0)
                        - bc
                        + bc * (F.col("dl").cast("double") / F.col("avgdl"))
                    )
                )
            ).alias("s"),
        )
    )
    pivoted = scored.groupBy("doc_id").agg(
        *[
            F.coalesce(
                F.max(F.when(F.col("term") == t, F.col("s"))), F.lit(0.0)
            ).alias(f"__s{i}")
            for i, t in enumerate(terms)
        ]
    )
    total = None
    for i in range(len(terms)):
        c = F.col(f"__s{i}")
        total = c if total is None else (total + c)
    return (
        pivoted.select("doc_id", total.alias("score"))
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(k)
    )

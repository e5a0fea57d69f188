"""Streaming document curation: the batch curation stages of
plans/textsearch.py applied to a document stream.

Two composition patterns, each used where it is legal and fast:

- **stream-static join** (`flag_contaminated_stream`): the static side
  (the eval-set gram table, built once in batch) joins against every
  micro-batch; Spark broadcasts it per batch when small — exactly the
  decontamination shape, since an eval set is KBs-MBs even when the
  stream is unbounded. The result is the *exploded match* stream
  (doc, shared gram) — usable directly for alerting/metrics sinks.
- **foreachBatch** (`run_curation_stream`): the full filter (quality +
  anti-join of contaminated docs) needs a join *back* onto the stream,
  which as a continuous plan would be an unwatermarkable stream-stream
  self-join. Inside ``foreachBatch`` every micro-batch is a plain
  batch DataFrame, so the exact batch semantics (including the
  broadcast anti join) apply per batch — the same pattern
  ``streaming/candidates.py`` uses for beam resolution.

Streamed documents are ``(doc_id, text)`` rows, and contamination means
sharing a word 3-gram with the eval set.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ska_src_maltopuft_etl_spark.operators import text


def eval_gram_table(
    eval_docs: DataFrame, id_col: str, text_col: str, n: int = 3
) -> DataFrame:
    """Batch-build the static side: distinct word n-grams of the eval set.

    Run once (or per eval-set release) and keep as a small static
    DataFrame/parquet; the stream joins against it every micro-batch.
    """
    from ska_src_maltopuft_etl_spark.operators.similarity import ngram_shingles

    return (
        ngram_shingles(eval_docs, id_col, text_col, n=n)
        .select("shingle")
        .distinct()
    )


def flag_contaminated_stream(doc_stream: DataFrame, eval_grams: DataFrame) -> DataFrame:
    """Stream-static join: (doc, shared eval gram) match events.

    Stateless — no watermark needed; the static side broadcasts per
    micro-batch, so the stream side never shuffles. This is the
    continuous-plan half of decontamination (detection); the filtering
    half lives in :func:`curate_batch` under ``foreachBatch``.
    """
    from ska_src_maltopuft_etl_spark.operators.similarity import ngram_shingles

    grams = ngram_shingles(doc_stream, "doc_id", "text", distinct=False)
    return grams.join(F.broadcast(eval_grams), "shingle").select("doc_id", "shingle")


def curate_batch(batch_df: DataFrame, eval_grams: DataFrame) -> DataFrame:
    """One micro-batch (or plain batch) of curation: quality + decontam.

    - map-only quality columns: token count and the most-frequent-word
      count via explode + groupBy (the scale-correct shape for long
      documents — a per-row nested array scan is quadratic in doc
      length), thresholded in integer space like the batch
      `text_repetition_filter`: the top word may be at most 20 % of the
      tokens;
    - broadcast anti join drops docs sharing any n-gram with the eval
      set.
    """
    from ska_src_maltopuft_etl_spark.operators.similarity import ngram_shingles

    toks = batch_df.withColumn("n_tokens", F.size(text.tokens(F.col("text"))))
    wc = (
        batch_df.select("doc_id", F.explode(text.tokens(F.col("text"))).alias("__w"))
        .groupBy("doc_id", "__w")
        .agg(F.count(F.lit(1)).alias("__cnt"))
        .groupBy("doc_id")
        .agg(F.max("__cnt").alias("top_word_count"))
    )
    with_quality = toks.join(wc, "doc_id")
    keep_quality = with_quality.where(
        (F.col("n_tokens") > 0)
        & (F.col("top_word_count") * 100 <= F.col("n_tokens") * 20)
    )
    grams = ngram_shingles(keep_quality, "doc_id", "text", distinct=False)
    contaminated = grams.join(F.broadcast(eval_grams), "shingle").select("doc_id")
    return keep_quality.join(contaminated, "doc_id", "left_anti")


def run_curation_stream(
    doc_stream: DataFrame,
    eval_grams: DataFrame,
    sink: Callable[[DataFrame, int], None],
    checkpoint_dir: str,
):
    """Wire :func:`curate_batch` into a foreachBatch streaming query.

    ``sink(curated_batch_df, epoch_id)`` receives each curated batch;
    pair with an idempotent writer (e.g. sinks/relational
    merge-append or streaming/aggregates state maintenance) for
    exactly-once output. Caller starts/awaits the returned query.
    """

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        sink(curate_batch(batch_df, eval_grams), epoch_id)

    return (
        doc_stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
    )

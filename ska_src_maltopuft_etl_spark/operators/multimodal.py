"""Multimodal column plumbing: opaque binary payloads + typed metadata.

The engine treats image/audio/video as ``BinaryType`` columns moved in
Arrow batches through ``mapInPandas``; decode/feature-extraction runs
vectorized per batch. The actual media codecs are NOT available in this
environment (SURVEY/task contract), so ``decode_binary_features`` runs a
deterministic fake: real Spark-side plumbing (schema, batching, partition
preservation), stubbed byte-level features. Swapping in PIL/librosa later
only changes ``_fake_decode_batch``; the cross-encoder stand-in of
``score_pairs_batched`` is ``_md5_score_batch``.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StructField,
    StructType,
)

DECODED_FEATURE_FIELDS = [
    StructField("n_bytes", LongType()),
    StructField("first_byte", IntegerType()),
    StructField("tag", IntegerType()),
]


def _fake_decode_batch(payloads: pd.Series) -> pd.DataFrame:
    """Deterministic stub decode: byte length, first byte, small modular
    tag. Stands in for (width, height, channels)-style metadata."""
    n_bytes = payloads.map(len)
    first = payloads.map(lambda b: b[0] if len(b) else -1)
    tag = n_bytes % 251
    return pd.DataFrame(
        {"n_bytes": n_bytes.astype("int64"), "first_byte": first.astype("int32"),
         "tag": tag.astype("int32")}
    )


def decode_binary_features(
    df: DataFrame,
    id_col: str,
    binary_col: str,
) -> DataFrame:
    """Arrow-batched decode of a binary media column → typed features.

    ``mapInPandas`` keeps the operator embarrassingly parallel (no
    shuffle): each input partition streams through pandas batches. Output
    schema is (id, n_bytes, first_byte, tag).
    """
    id_field = df.schema[id_col]
    out_schema = StructType([id_field] + DECODED_FEATURE_FIELDS)
    narrow = df.select(id_col, binary_col)

    def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = _fake_decode_batch(pdf[binary_col])
            feats.insert(0, id_col, pdf[id_col].values)
            yield feats

    return narrow.mapInPandas(process, schema=out_schema)


def with_binary_payload(df: DataFrame, text_col: str) -> DataFrame:
    """Synthesize a binary ``payload`` column from text (test fixture for
    the decode path; real pipelines read binaryFile / parquet binary)."""
    return df.withColumn("payload", F.encode(F.col(text_col), "UTF-8"))


def _md5_score_batch(q: pd.Series, t: pd.Series) -> pd.Series:
    """Deterministic cross-encoder stand-in:
    ``int(md5(q + '|' + text)[:8], 16) / 4294967295``."""
    import hashlib

    return pd.Series(
        [
            int(hashlib.md5(f"{a}|{b}".encode()).hexdigest()[:8], 16) / 4294967295.0
            for a, b in zip(q, t)
        ],
        index=q.index,
        dtype="float64",
    )


def score_pairs_batched(
    pairs: DataFrame,
    query_col: str,
    text_col: str,
    id_cols: list[str],
) -> DataFrame:
    """Model-inference plumbing for a cross-encoder rerank stage.

    Ships (query, document) candidate pairs through Arrow
    ``mapInPandas`` batches to a vectorized scorer — the exact batch
    shape a real cross-encoder ONNX/torch session consumes. The scorer
    is a deterministic md5-derived stand-in (:func:`_md5_score_batch`),
    which makes the WHOLE plumbing oracle-checkable: an independent SQL
    engine reproduces the scores bit-for-bit, certifying the Arrow path
    neither drops, duplicates, nor reorders pairs. A real model replaces
    that one function; the plan shape (map-only over candidate pairs,
    embarrassingly parallel) is unchanged.
    """
    from pyspark.sql.types import DoubleType

    narrow = pairs.select(*id_cols, query_col, text_col)
    out_schema = StructType(
        [narrow.schema[c] for c in id_cols] + [StructField("ce_score", DoubleType())]
    )

    def process(batches):
        for pdf in batches:
            out = pdf[id_cols].copy()
            out["ce_score"] = _md5_score_batch(pdf[query_col], pdf[text_col])
            yield out

    return narrow.mapInPandas(process, schema=out_schema)

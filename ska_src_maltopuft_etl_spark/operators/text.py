"""Text-analysis operators for large-scale training-data pipelines.

All hot-path logic is native Column expressions (codegen'd, JVM-side):
tokenization via split, hashing via md5, per-row folds via higher-order
functions — no Python UDFs. Each operator is demonstrated against a
DuckDB oracle in plans/llmops.py.

Scale notes: everything here is embarrassingly parallel per-row; both
``simhash_bits`` forms keep a document's signature inside one map-only
pass, with no shuffle.
"""

from __future__ import annotations

from typing import Mapping, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def tokens(text: Column | str) -> Column:
    """Single-space-separated tokens with empties removed."""
    c = F.col(text) if isinstance(text, str) else text
    return F.filter(F.split(c, " "), lambda w: w != "")


def token_count_ws(text: Column | str) -> Column:
    return F.size(tokens(text))


def token_count_bpe_ish(text: Column | str) -> Column:
    """BPE-ish token estimate: runs of letters, runs of digits, or single
    non-space symbols (the pre-tokenizer split most BPE vocabularies use)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.regexp_count(c, F.lit(r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]"))


def stopword_ratio(text: Column | str, stopwords: Sequence[str]) -> Column:
    toks = tokens(text)
    stops = F.array(*[F.lit(w) for w in stopwords])
    n_stop = F.size(F.filter(toks, lambda w: F.array_contains(stops, w)))
    return n_stop.cast("double") / F.size(toks).cast("double")


def quality_score(text: Column | str) -> Column:
    """Heuristic quality score in [0,1]: mix of stopword density over
    ("the", "a") (fluent text has some) and length saturation at 100
    tokens. Deterministic arithmetic — mirrors the SQL oracle op-for-op."""
    n = token_count_ws(text).cast("double")
    stop = stopword_ratio(text, ("the", "a"))
    length_sat = F.least(n / F.lit(100.0), F.lit(1.0))
    return F.round(0.5 * stop + 0.5 * length_sat, 4)


def language_scores(
    df: DataFrame,
    id_col: str,
    text_col: str,
    markers: Mapping[str, Sequence[str]],
) -> DataFrame:
    """Marker-token language ID (n-gram-free heuristic).

    Counts marker-word hits per candidate language and picks the argmax
    with (count desc, lang asc) tie-break; docs hitting no markers get
    'unknown'.

    Implementation is a map-only pipeline of three STAGED projections:
    tokenize once, count hits per language once (``filter`` HOFs over
    the staged token column), then the cheap argmax over plain int
    columns via ``least`` on (-count, lang) structs (struct ordering
    gives the tie-break for free). Zero shuffles, zero driver state —
    embarrassingly parallel at any corpus size.

    Why staged (round 8): the previous single-projection form
    referenced the ``best`` struct twice, and Spark re-evaluates a
    non-codegen expression per reference — the whole 5-filter-chain
    (split included) ran TWICE per row, ~2× the real cost. Staging
    through selects keeps each heavy expression evaluated once:
    CollapseProject deliberately refuses to inline non-cheap
    expressions referenced more than once downstream.
    """
    langs = sorted(markers)
    toksed = df.select(
        F.col(id_col), tokens(F.col(text_col)).alias("__toks")
    )

    def _contains(stops: Column):
        return lambda w: F.array_contains(stops, w)

    counts = []
    for i, lang in enumerate(langs):
        stops = F.array(*[F.lit(w) for w in markers[lang]])
        counts.append(
            F.size(F.filter(F.col("__toks"), _contains(stops))).alias(
                f"__c{i}"
            )
        )
    counted = toksed.select(F.col(id_col), *counts)

    entries = [
        F.struct(
            (-F.col(f"__c{i}")).alias("neg"), F.lit(lang).alias("lang")
        )
        for i, lang in enumerate(langs)
    ]
    # least/greatest need >= 2 args; a single-language marker map
    # degenerates to that language's count.
    best = F.least(*entries) if len(entries) > 1 else entries[0]
    hits = (
        F.greatest(*[F.col(f"__c{i}") for i in range(len(langs))])
        if len(langs) > 1
        else F.col("__c0")
    )
    return counted.select(
        F.col(id_col),
        F.when(best["neg"] < 0, best["lang"]).otherwise(F.lit("unknown")).alias(
            "pred_lang"
        ),
        hits.cast("long").alias("marker_hits"),
    )


def fingerprint(text: Column | str) -> Column:
    """Order-insensitive document fingerprint: md5 over the sorted
    distinct token set. Robust to token shuffling — the classic
    "fingerprint method" for near-identical record clustering."""
    toks = F.array_sort(F.array_distinct(tokens(text)))
    return F.md5(F.concat_ws(" ", toks))


def simhash_bits(
    df: DataFrame,
    id_col: str,
    text_col: str,
    arrow: bool = True,
) -> DataFrame:
    """64-bit SimHash per document, emitted as a '0'/'1' bit-string.

    Token hash = md5 — chosen over xxhash64 so the DuckDB oracle can
    reproduce it bit-for-bit. For each bit j, the j-th bit of the
    token hash votes ±(token count); the sign of the vote sum is the
    simhash bit. Summing over token OCCURRENCES equals summing over
    distinct tokens weighted by count, so no per-doc counting stage is
    needed in either formulation; both produce identical bits.

    ``arrow=True`` (default): Arrow ``mapInPandas``
    kernel — md5 each DISTINCT token once per task (memoized ±1
    numpy vote vectors via ``unpackbits`` over the digest), one
    vectorized accumulate per (doc, distinct token). No shuffle, no
    row explosion, embarrassingly parallel. This is the hot path:
    higher-order-function expressions (``aggregate``/``zip_with``
    lambdas) are NOT whole-stage-codegen'd — Catalyst evaluates them
    interpreted, and the 64-lane substr+conv fold below measured 8.0 s
    at sf0.1 under a full-materialization sink vs 0.5 s for this
    kernel (noop-sink battery, round 7).

    ``arrow=False``: the pure-expression fold (hash each token once,
    fold a 64-lane vote vector via ``aggregate`` + ``zip_with``, take
    signs). Kept as the no-Python-worker twin and as the semantics
    reference the Arrow kernel is property-tested against.
    """
    if arrow:
        import pandas as pd  # noqa: F401 — worker-side import below
        from pyspark.sql.types import StringType, StructField, StructType

        src = df.select(id_col, text_col)
        out_schema = StructType(
            [src.schema[id_col], StructField("simhash", StringType(), True)]
        )
        txt = text_col

        def gen(batches):
            import hashlib
            from collections import Counter

            import numpy as np
            import pandas as pd

            memo: dict = {}
            for pdf in batches:
                out = []
                for text in pdf[txt].tolist():
                    if text is None:
                        # expr path: aggregate(NULL array) -> NULL votes,
                        # concat_ws over NULL -> empty string
                        out.append("")
                        continue
                    votes = np.zeros(64, dtype=np.int64)
                    for w, c in Counter(
                        w for w in text.split(" ") if w
                    ).items():
                        v = memo.get(w)
                        if v is None:
                            dig = hashlib.md5(w.encode("utf-8")).digest()
                            bits = np.unpackbits(
                                np.frombuffer(dig, dtype=np.uint8)[:8]
                            )
                            v = 2 * bits.astype(np.int16) - 1
                            # bound the memo so a huge vocabulary can't
                            # pin task memory (1M x 64 x 2B = 128 MB cap)
                            if len(memo) < (1 << 20):
                                memo[w] = v
                        votes += c * v
                    out.append(
                        np.where(votes > 0, 49, 48)
                        .astype(np.uint8)
                        .tobytes()
                        .decode("ascii")
                    )
                yield pd.DataFrame({id_col: pdf[id_col], "simhash": out})

        return src.mapInPandas(gen, out_schema)

    hashes = F.transform(tokens(F.col(text_col)), lambda w: F.md5(w))
    divisors = F.array(F.lit(8), F.lit(4), F.lit(2), F.lit(1))

    def vote_vec(h):
        # per-hash ±1 vote for each of the 64 bits; substr with a
        # COLUMN start via Column.substr (hex digit j//4, bit j%4)
        return F.transform(
            F.sequence(F.lit(0), F.lit(63)),
            lambda j: (
                F.floor(
                    F.conv(h.substr(F.floor(j / 4).cast("int") + 1, F.lit(1)), 16, 10).cast("int")
                    / F.element_at(divisors, (j % 4).cast("int") + 1)
                ).cast("int")
                .bitwiseAND(F.lit(1))
                * 2
                - 1
            ),
        )

    zeros = F.transform(
        F.sequence(F.lit(0), F.lit(63)), lambda _: F.lit(0).cast("long")
    )
    votes = F.aggregate(
        hashes,
        zeros,
        lambda acc, h: F.zip_with(acc, vote_vec(h), lambda a, v: a + v),
    )
    sig = F.concat_ws(
        "",
        F.transform(
            votes, lambda s: F.when(s > 0, F.lit("1")).otherwise(F.lit("0"))
        ),
    )
    return df.select(F.col(id_col), sig.alias("simhash"))

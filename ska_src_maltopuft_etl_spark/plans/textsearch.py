"""Text-retrieval, curation, and analytics-extension queries: BM25
keyword search, eval-set decontamination, PII masking, repetition
(Gopher-style) filtering, boilerplate n-gram pruning, embedding scalar
quantization, temperature-scaled domain mixture, RAG chunking, SimHash
banded Hamming pair search, fixed-point PageRank, market-basket pair
mining, and histogram profiling — the curation stages a training-data
pipeline runs after dedup (plans/llmops.py) plus the graph/mining
analytics a complete engine offers beside them.

Every query here has a full DuckDB value-hash oracle. Float
determinism follows the repo rule (NOTES.md round-3 gotchas): both
engines compute the same IEEE double with the same operation order —
+,-,*,/ are correctly rounded per IEEE 754, so identical expressions
produce identical bits and raw doubles hash-match without rounding.
Transcendental functions (ln/exp) are NOT guaranteed correctly rounded
across engines, so the BM25 below is a *defined scoring variant* with
the rational idf ``(N - df + 0.5) / (df + 0.5)`` instead of the
classic log form — chosen to be bit-reproducible.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ska_src_maltopuft_etl_spark.operators import similarity, text
from ska_src_maltopuft_etl_spark.plans.registry import register
from ska_src_maltopuft_etl_spark.sources import load_table

#: BM25 term-frequency saturation and document-length normalization.
BM25_K1 = 1.2
BM25_B = 0.75


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


# ---------------------------------------------------------------------------
# BM25 keyword search
# ---------------------------------------------------------------------------

_BM25_TERMS = ("spark", "hash", "window")


@register(
    "bm25_keyword_search",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS t
      FROM documents),
    dl AS (SELECT doc_id, len(t) AS dl FROM toks),
    stats AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n,
                     CAST(SUM(dl) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avgdl
              FROM dl),
    tf AS (
      SELECT doc_id, term, CAST(COUNT(*) AS DOUBLE) AS tf
      FROM (SELECT doc_id, UNNEST(t) AS term FROM toks)
      WHERE term IN ('spark', 'hash', 'window')
      GROUP BY doc_id, term),
    dfreq AS (SELECT term, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY term),
    scored AS (
      SELECT tf.doc_id, tf.term,
             ((stats.n - dfreq.df + 0.5) / (dfreq.df + 0.5))
               * (tf.tf * ({BM25_K1} + 1.0))
               / (tf.tf + {BM25_K1} * (1.0 - {BM25_B}
                    + {BM25_B} * (CAST(dl.dl AS DOUBLE) / stats.avgdl))) AS s
      FROM tf JOIN dl USING (doc_id) CROSS JOIN stats JOIN dfreq USING (term)),
    pivoted AS (
      SELECT doc_id,
             COALESCE(MAX(CASE WHEN term = 'spark' THEN s END), 0.0) AS s_spark,
             COALESCE(MAX(CASE WHEN term = 'hash' THEN s END), 0.0) AS s_hash,
             COALESCE(MAX(CASE WHEN term = 'window' THEN s END), 0.0) AS s_window
      FROM scored GROUP BY doc_id)
    SELECT doc_id, (s_spark + s_hash) + s_window AS score
    FROM pivoted
    ORDER BY score DESC, doc_id ASC
    LIMIT 20
    """,
    covers=("R1", "A2", "J1", "P4"),
    description=(
        "BM25 top-20 keyword search (rational-idf variant for "
        "bit-reproducibility); per-term pivot fixes the float summation order"
    ),
)
def bm25_keyword_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranking of `documents` for a 3-term keyword query.

    Architecture (the inverted-index shape, expressed relationally):

    - postings build: explode tokens, **filter to the query terms
      first** (the filter sits under the shuffle, so the exchange
      carries only matching postings — on 100 TB, the shuffle volume
      is O(matches), not O(tokens));
    - corpus stats (N, avgdl): one tiny aggregate, broadcast;
    - document frequencies: aggregate of the postings, broadcast
      (|query| rows);
    - per-term partial scores pivoted to fixed columns so the final
      sum adds in a deterministic order (float addition is not
      associative; a `SUM()` over an arbitrary-ordered group is not
      bit-reproducible across engines).

    The idf is the rational variant (N - df + .5)/(df + .5) — the
    classic `ln`-form is not bit-reproducible across engines (ln is
    not required to be correctly rounded); only +,-,*,/ are.
    """
    d = _docs(spark, sf_dir)
    toks = d.select("doc_id", text.tokens("text").alias("t"))
    dl = toks.select("doc_id", F.size("t").alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        (
            F.sum("dl").cast("double") / F.count(F.lit(1)).cast("double")
        ).alias("avgdl"),
    )
    tf = (
        toks.select("doc_id", F.explode("t").alias("term"))
        .where(F.col("term").isin(*_BM25_TERMS))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).cast("double").alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).cast("double").alias("df"))
    k1, b = F.lit(BM25_K1), F.lit(BM25_B)
    scored = (
        tf.join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .join(F.broadcast(dfreq), "term")
        .select(
            "doc_id",
            "term",
            (
                ((F.col("n") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5)))
                * (F.col("tf") * (k1 + F.lit(1.0)))
                / (
                    F.col("tf")
                    + k1
                    * (
                        F.lit(1.0)
                        - b
                        + b * (F.col("dl").cast("double") / F.col("avgdl"))
                    )
                )
            ).alias("s"),
        )
    )
    pivoted = scored.groupBy("doc_id").agg(
        *[
            F.coalesce(
                F.max(F.when(F.col("term") == t, F.col("s"))), F.lit(0.0)
            ).alias(f"s_{t}")
            for t in _BM25_TERMS
        ]
    )
    return (
        pivoted.select(
            "doc_id",
            (
                (F.col("s_spark") + F.col("s_hash")) + F.col("s_window")
            ).alias("score"),
        )
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Eval-set decontamination
# ---------------------------------------------------------------------------

@register(
    "decontaminate_eval_overlap",
    oracle="""
    WITH toks AS (
      SELECT doc_id, source,
             list_filter(string_split(text, ' '), w -> w <> '') AS t
      FROM documents),
    sh AS (
      SELECT DISTINCT doc_id, source,
             array_to_string(t[u.g:u.g+2], ' ') AS shingle
      FROM toks, UNNEST(generate_series(1, GREATEST(len(t) - 2, 0))) AS u(g)),
    eval_grams AS (
      SELECT DISTINCT shingle FROM sh WHERE source = 'src0'),
    shared AS (
      SELECT s.doc_id, COUNT(*) AS shared_ngrams
      FROM sh s JOIN eval_grams e USING (shingle)
      WHERE s.source <> 'src0'
      GROUP BY s.doc_id)
    SELECT d.doc_id,
           COALESCE(sh2.shared_ngrams, 0) AS shared_ngrams,
           COALESCE(sh2.shared_ngrams, 0) > 0 AS contaminated
    FROM documents d LEFT JOIN shared sh2 ON d.doc_id = sh2.doc_id
    WHERE d.source <> 'src0'
    """,
    covers=("R1", "J1", "J3", "A2"),
    description=(
        "training-corpus decontamination: flag docs sharing any 3-gram with "
        "the held-out eval slice (source='src0'); broadcast eval-gram join"
    ),
)
def decontaminate_eval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flag training docs that overlap the eval set by >= 1 word 3-gram.

    The eval slice is small by definition (benchmarks are KBs-MBs even
    when the corpus is 100 TB), so its distinct-gram set broadcasts and
    the contamination check is a **map-side** semi-join over the corpus
    shingles — no shuffle of the corpus at all; the only wide exchange
    is the per-doc DISTINCT shared-gram count, whose input is already
    restricted to matching shingles (round 8: the corpus-wide per-doc
    shingle dedup used to run BEFORE the restriction — a full shuffle
    of every corpus gram string; deduplicating after the broadcast
    join shrinks that exchange to the contaminated slice, the same
    restriction trick dedup_minhash_lsh uses).
    """
    d = _docs(spark, sf_dir)
    corpus = d.where(F.col("source") != "src0")
    eval_docs = d.where(F.col("source") == "src0")
    eval_grams = (
        similarity.ngram_shingles(eval_docs, "doc_id", "text", n=3)
        .select("shingle")
        .distinct()
    )
    corpus_sh = similarity.ngram_shingles(
        corpus, "doc_id", "text", n=3, distinct=False
    )
    shared = (
        corpus_sh.join(F.broadcast(eval_grams), "shingle")
        .dropDuplicates(["doc_id", "shingle"])
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("shared_ngrams"))
    )
    return corpus.select("doc_id").join(shared, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("shared_ngrams"), F.lit(0)).alias("shared_ngrams"),
        (F.coalesce(F.col("shared_ngrams"), F.lit(0)) > 0).alias("contaminated"),
    )


# ---------------------------------------------------------------------------
# PII masking / pseudonymization
# ---------------------------------------------------------------------------

@register(
    "pii_mask_customers",
    oracle="""
    WITH base AS (
      SELECT c_custkey, c_name, c_nationkey, c_mktsegment,
             regexp_extract(c_name, '([0-9]+)$', 1) AS digits
      FROM customer)
    SELECT c_custkey,
           CONCAT(regexp_replace(c_name, '[0-9]+$', ''),
                  repeat('*', GREATEST(length(digits) - 2, 0)),
                  CASE WHEN length(digits) >= 2
                       THEN substr(digits, length(digits) - 1, 2)
                       ELSE digits END) AS masked_name,
           md5(CONCAT('pepper-2026::', c_name)) AS pseudonym,
           COUNT(*) OVER (PARTITION BY c_nationkey, c_mktsegment)
             AS quasi_id_group_size
    FROM base
    """,
    covers=("F1", "F4", "P4", "W6"),
    description=(
        "PII redaction: mask identifier digits (keep last 2), salted-hash "
        "pseudonym, k-anonymity group size over quasi-identifiers"
    ),
)
def pii_mask_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mask + pseudonymize customer identifiers, report k-anonymity.

    All map-only string expressions (codegen'd) plus one keyed window
    for the quasi-identifier group size — the window partitions on
    (nation, segment), a low-cardinality key whose groups are large
    but whose aggregate (COUNT) is streaming; at 100 TB this is one
    keyed shuffle with map-side partial counts via the two-pass
    groupBy+join alternative if group skew ever bites. The pseudonym
    is a salted (peppered) md5 — deterministic across engines, stable
    across runs, irreversible without the pepper.
    """
    c = load_table(spark, sf_dir, "customer")
    digits = F.regexp_extract("c_name", r"([0-9]+)$", 1)
    base = c.select(
        "c_custkey",
        "c_name",
        "c_nationkey",
        "c_mktsegment",
        digits.alias("digits"),
    )
    masked = F.concat(
        F.regexp_replace("c_name", r"[0-9]+$", ""),
        F.repeat(F.lit("*"), F.greatest(F.length("digits") - 2, F.lit(0))),
        F.when(
            F.length("digits") >= 2,
            F.substring(F.col("digits"), -2, 2),
        ).otherwise(F.col("digits")),
    )
    # substring(col, -2, 2) and substr(digits, len-1, 2) agree for
    # len >= 2; the CASE guards shorter ids identically on both sides.
    w = Window.partitionBy("c_nationkey", "c_mktsegment")
    return base.select(
        "c_custkey",
        masked.alias("masked_name"),
        F.md5(F.concat(F.lit("pepper-2026::"), F.col("c_name"))).alias("pseudonym"),
        F.count(F.lit(1)).over(w).alias("quasi_id_group_size"),
    )


# ---------------------------------------------------------------------------
# Repetition (Gopher-style) filtering
# ---------------------------------------------------------------------------

@register(
    "text_repetition_filter",
    oracle="""
    WITH toks AS (
      SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS t
      FROM documents),
    words AS (
      SELECT doc_id, UNNEST(t) AS w FROM toks),
    wc AS (
      SELECT doc_id, w, COUNT(*) AS cnt FROM words GROUP BY doc_id, w),
    topw AS (
      SELECT doc_id, w AS top_word, cnt AS top_word_count
      FROM (SELECT doc_id, w, cnt,
                   ROW_NUMBER() OVER (PARTITION BY doc_id
                                      ORDER BY cnt DESC, w ASC) AS rn
            FROM wc) WHERE rn = 1),
    bigrams AS (
      SELECT doc_id, array_to_string(t[u.g:u.g+1], ' ') AS bg
      FROM toks, UNNEST(generate_series(1, GREATEST(len(t) - 1, 0))) AS u(g)),
    bc AS (
      SELECT doc_id, bg, COUNT(*) AS cnt FROM bigrams GROUP BY doc_id, bg),
    topb AS (
      SELECT doc_id, cnt AS top_bigram_count
      FROM (SELECT doc_id, cnt,
                   ROW_NUMBER() OVER (PARTITION BY doc_id
                                      ORDER BY cnt DESC, bg ASC) AS rn
            FROM bc) WHERE rn = 1),
    sizes AS (SELECT doc_id, len(t) AS n_tokens FROM toks WHERE len(t) > 0)
    SELECT s.doc_id, s.n_tokens, topw.top_word, topw.top_word_count,
           CAST(topw.top_word_count AS DOUBLE) / CAST(s.n_tokens AS DOUBLE)
             AS top_word_frac,
           topb.top_bigram_count,
           CAST(topb.top_bigram_count AS DOUBLE) / CAST(s.n_tokens AS DOUBLE)
             AS top_bigram_frac,
           (topw.top_word_count * 5 <= s.n_tokens)
             AND (topb.top_bigram_count * 5 <= s.n_tokens) AS keep
    FROM sizes s JOIN topw ON s.doc_id = topw.doc_id
                 JOIN topb ON s.doc_id = topb.doc_id
    """,
    covers=("R1", "W1", "A2", "P7"),
    description=(
        "Gopher-style repetition filter: most-frequent word/bigram fraction "
        "per doc; keep-flag via integer cross-multiplication (no float "
        "boundary compare)"
    ),
)
def text_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document repetition signals + keep flag (Gopher-rule shape).

    Two explode→count→argmax pipelines (words, bigrams), each ONE
    keyed shuffle with map-side partial counts, then a row_number
    keep-first for the argmax with a total-order tie-break. The keep
    threshold (frac <= 0.2) is evaluated as `count * 5 <= n_tokens`
    in integer space — a float `cnt/n <= 0.2` can flip across engines
    when the division lands on a representability boundary; integers
    cannot. The reported fractions are single divisions (correctly
    rounded, same expression both engines → identical bits).
    """
    d = _docs(spark, sf_dir)
    toks = d.select("doc_id", text.tokens("text").alias("t"))
    sizes = toks.where(F.size("t") > 0).select(
        "doc_id", F.size("t").alias("n_tokens")
    )
    wc = (
        toks.select("doc_id", F.explode("t").alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w_win = Window.partitionBy("doc_id").orderBy(
        F.col("cnt").desc(), F.col("w").asc()
    )
    topw = (
        wc.withColumn("rn", F.row_number().over(w_win))
        .where(F.col("rn") == 1)
        .select(
            "doc_id",
            F.col("w").alias("top_word"),
            F.col("cnt").alias("top_word_count"),
        )
    )
    bg = similarity.ngram_shingles(d, "doc_id", "text", n=2, distinct=False)
    bc = bg.groupBy("doc_id", "shingle").agg(F.count(F.lit(1)).alias("cnt"))
    b_win = Window.partitionBy("doc_id").orderBy(
        F.col("cnt").desc(), F.col("shingle").asc()
    )
    topb = (
        bc.withColumn("rn", F.row_number().over(b_win))
        .where(F.col("rn") == 1)
        .select("doc_id", F.col("cnt").alias("top_bigram_count"))
    )
    return (
        sizes.join(topw, "doc_id")
        .join(topb, "doc_id")
        .select(
            "doc_id",
            "n_tokens",
            "top_word",
            "top_word_count",
            (
                F.col("top_word_count").cast("double")
                / F.col("n_tokens").cast("double")
            ).alias("top_word_frac"),
            "top_bigram_count",
            (
                F.col("top_bigram_count").cast("double")
                / F.col("n_tokens").cast("double")
            ).alias("top_bigram_frac"),
            (
                (F.col("top_word_count") * 5 <= F.col("n_tokens"))
                & (F.col("top_bigram_count") * 5 <= F.col("n_tokens"))
            ).alias("keep"),
        )
    )


# ---------------------------------------------------------------------------
# Boilerplate n-gram pruning
# ---------------------------------------------------------------------------

_BOILER_MIN_DOCS = 20


@register(
    "boilerplate_ngram_prune",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS t
      FROM documents),
    sh AS (
      SELECT DISTINCT doc_id, array_to_string(t[u.g:u.g+2], ' ') AS shingle
      FROM toks, UNNEST(generate_series(1, GREATEST(len(t) - 2, 0))) AS u(g)),
    dfreq AS (
      SELECT shingle, COUNT(*) AS n_docs FROM sh GROUP BY shingle),
    boiler AS (SELECT shingle FROM dfreq WHERE n_docs >= {_BOILER_MIN_DOCS}),
    per_doc AS (
      SELECT sh.doc_id,
             COUNT(*) AS n_shingles,
             COUNT(b.shingle) AS n_boilerplate
      FROM sh LEFT JOIN boiler b ON sh.shingle = b.shingle
      GROUP BY sh.doc_id)
    SELECT doc_id, n_shingles, n_boilerplate,
           CAST(n_boilerplate AS DOUBLE) / CAST(n_shingles AS DOUBLE)
             AS boilerplate_frac,
           n_boilerplate * 2 < n_shingles AS keep
    FROM per_doc
    """,
    covers=("R1", "A2", "J3"),
    description=(
        "boilerplate pruning: 3-grams appearing in >= 20 docs are "
        "boilerplate; per-doc boilerplate fraction + integer-space keep flag"
    ),
)
def boilerplate_ngram_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc fraction of 3-grams that are corpus-wide boilerplate.

    Shape: one distinct-shingle build (shared exchange feeds both the
    document-frequency aggregate and the per-doc count), a
    document-frequency aggregate, and a join back. The df table is
    filtered to `n_docs >= K` **before** the join back — the
    boilerplate set is the heavy tail's head, tiny relative to the
    shingle universe, so the join back broadcasts at any corpus size
    where K grows with the corpus. The keep flag is integer-space
    (`2 * n_boilerplate < n_shingles`), immune to float boundaries.

    ``hashed=True`` (round 8): both wide exchanges (the per-doc
    distinct and the document-frequency aggregate) and the join back
    move 8-byte xxhash64 longs instead of multi-word gram strings —
    counts are unchanged up to the standard ~2^-64 collision trade
    (ngram_shingles docstring) and the oracle agrees at every SF.
    """
    d = _docs(spark, sf_dir)
    sh = similarity.ngram_shingles(d, "doc_id", "text", n=3, hashed=True)
    dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("n_docs"))
    boiler = dfreq.where(F.col("n_docs") >= _BOILER_MIN_DOCS).select("shingle")
    per_doc = (
        sh.join(
            F.broadcast(boiler.withColumn("__b", F.lit(1))), "shingle", "left"
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.count("__b").alias("n_boilerplate"),
        )
    )
    return per_doc.select(
        "doc_id",
        "n_shingles",
        "n_boilerplate",
        (
            F.col("n_boilerplate").cast("double")
            / F.col("n_shingles").cast("double")
        ).alias("boilerplate_frac"),
        (F.col("n_boilerplate") * 2 < F.col("n_shingles")).alias("keep"),
    )


# ---------------------------------------------------------------------------
# Embedding scalar quantization (int8)
# ---------------------------------------------------------------------------

@register(
    "embedding_quantize_int8",
    oracle="""
    WITH dims AS (
      SELECT vec_id,
             u.i AS dim,
             CAST(embedding[u.i] AS DOUBLE) AS v
      FROM embeddings,
           UNNEST(generate_series(1, len(embedding))) AS u(i)
      WHERE embedding[u.i] IS NOT NULL),
    stats AS (
      SELECT dim, MIN(v) AS lo, MAX(v) AS hi FROM dims GROUP BY dim),
    q AS (
      SELECT d.vec_id, d.dim, d.v, s.lo,
             (s.hi - s.lo) / 255.0 AS scale
      FROM dims d JOIN stats s USING (dim))
    SELECT vec_id, dim,
           CASE WHEN scale > 0.0
                THEN CAST(FLOOR((v - lo) / scale + 0.5) AS BIGINT)
                ELSE 0 END AS code,
           CASE WHEN scale > 0.0
                THEN (lo + CAST(FLOOR((v - lo) / scale + 0.5) AS BIGINT)
                        * scale) - v
                ELSE 0.0 END AS err
    FROM q
    """,
    covers=("R1", "A2", "J1"),
    description=(
        "scalar int8 quantization of embeddings: per-dim min/max codebook "
        "(broadcast), per-(vec,dim) code + reconstruction error"
    ),
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar quantization — the codebook build for compressed ANN.

    Two passes over the (vec, dim) explode: a per-dimension min/max
    aggregate (dim count = embedding width, tiny → broadcast back) and
    a map-only code/error projection. `floor(x + 0.5)` is the
    rounding used on BOTH sides — Spark's `round()` is HALF_UP via
    BigDecimal and DuckDB's `round()` is banker's-adjacent on some
    builds; an explicit floor sidesteps the divergence. All arithmetic
    is +,-,*,/ in identical order → bit-identical doubles.

    At 100 TB: the explode is map-only, the stats aggregate shuffles
    width-many rows after map-side partials, and the code projection
    re-reads the scan with the broadcast codebook — no wide exchange
    of the corpus at all.
    """
    e = load_table(spark, sf_dir, "embeddings")
    dims = (
        e.select("vec_id", F.posexplode("embedding").alias("pos", "f"))
        .where(F.col("f").isNotNull())
        .select(
            "vec_id",
            (F.col("pos") + 1).alias("dim"),
            F.col("f").cast("double").alias("v"),
        )
    )
    stats = dims.groupBy("dim").agg(
        F.min("v").alias("lo"), F.max("v").alias("hi")
    )
    q = dims.join(F.broadcast(stats), "dim").select(
        "vec_id",
        "dim",
        "v",
        "lo",
        ((F.col("hi") - F.col("lo")) / F.lit(255.0)).alias("scale"),
    )
    code = F.floor((F.col("v") - F.col("lo")) / F.col("scale") + F.lit(0.5)).cast(
        "long"
    )
    return q.select(
        "vec_id",
        "dim",
        F.when(F.col("scale") > 0.0, code).otherwise(F.lit(0)).alias("code"),
        F.when(
            F.col("scale") > 0.0,
            (F.col("lo") + code * F.col("scale")) - F.col("v"),
        )
        .otherwise(F.lit(0.0))
        .alias("err"),
    )


# ---------------------------------------------------------------------------
# Temperature-scaled domain mixture
# ---------------------------------------------------------------------------

@register(
    "domain_mixture_weights",
    oracle="""
    WITH per_src AS (
      SELECT source,
             COUNT(*) AS n_docs,
             CAST(SUM(len(list_filter(string_split(text, ' '), w -> w <> '')))
                  AS BIGINT) AS n_tokens
      FROM documents GROUP BY source),
    w AS (
      SELECT source, n_docs, n_tokens,
             CAST(FLOOR(sqrt(CAST(n_tokens AS DOUBLE)) * 1000000.0) AS BIGINT)
               AS w_int
      FROM per_src),
    tot AS (SELECT SUM(w_int) AS total FROM w)
    SELECT source, n_docs, n_tokens,
           CAST(w_int AS DOUBLE) / CAST(tot.total AS DOUBLE) AS mixture_weight,
           CAST((w_int * 100000) // tot.total AS BIGINT) AS docs_per_100k
    FROM w CROSS JOIN tot
    """,
    covers=("A2", "A3", "P4"),
    description=(
        "temperature-scaled (alpha=0.5) domain mixture: per-source sampling "
        "weights via sqrt-damping; integer-scaled normalizer keeps the "
        "group sum exact/order-insensitive"
    ),
)
def domain_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source sampling weights w_s proportional to n_tokens^0.5.

    The standard temperature trick for balancing head domains against
    the tail when composing a training mixture. Determinism: sqrt is
    IEEE-correctly-rounded (unlike ln/pow), and the normalizer is the
    sum of *integer-scaled* weights — floats summed across a group
    have engine-dependent addition order, but a BIGINT sum is exact,
    so `w / total` is one deterministic division. The per-epoch doc
    quota is pure integer arithmetic.

    Scale shape: one hash aggregate over the corpus (map-side
    partials), then a broadcast of the |sources|-row weight table for
    the normalization — nothing else touches the corpus.
    """
    d = _docs(spark, sf_dir)
    per_src = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(text.tokens("text"))).alias("n_tokens"),
    )
    w = per_src.withColumn(
        "w_int",
        F.floor(
            F.sqrt(F.col("n_tokens").cast("double")) * F.lit(1000000.0)
        ).cast("long"),
    )
    tot = w.agg(F.sum("w_int").alias("total"))
    return w.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "n_tokens",
        (
            F.col("w_int").cast("double") / F.col("total").cast("double")
        ).alias("mixture_weight"),
        ((F.col("w_int") * 100000) / F.col("total"))
        .cast("long")
        .alias("docs_per_100k"),
    )


# ---------------------------------------------------------------------------
# RAG / pretraining chunking
# ---------------------------------------------------------------------------

_CHUNK_LEN = 32
_CHUNK_STRIDE = 24


@register(
    "rag_chunk_documents",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS t
      FROM documents),
    starts AS (
      SELECT doc_id, t, u.s AS s
      FROM toks, UNNEST(generate_series(1, len(t), {_CHUNK_STRIDE})) AS u(s)
      WHERE len(t) >= 1)
    SELECT doc_id,
           (s - 1) // {_CHUNK_STRIDE} AS chunk_idx,
           LEAST({_CHUNK_LEN}, len(t) - s + 1) AS n_chunk_tokens,
           array_to_string(t[s:s+{_CHUNK_LEN - 1}], ' ') AS chunk_text
    FROM starts
    """,
    covers=("R1", "P4"),
    description=(
        f"overlapping token-window chunking (len {_CHUNK_LEN}, stride "
        f"{_CHUNK_STRIDE}) for RAG/pretraining ingestion; map-only explode"
    ),
)
def rag_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split each document into overlapping token-window chunks.

    Map-only: tokenize, generate stride-spaced start offsets with an
    array `sequence`, explode, slice. No shuffle at any scale — the
    chunker is the canonical embarrassingly-parallel ingestion stage
    in a RAG indexing or pretraining-window pipeline. The start
    sequence is guarded for empty docs (Spark's `sequence(1, 0)`
    counts DOWN rather than returning empty — NOTES.md round-2
    gotcha).
    """
    d = _docs(spark, sf_dir)
    toks = d.select("doc_id", text.tokens("text").alias("t"))
    n = F.size("t")
    starts = F.when(
        n >= 1, F.sequence(F.lit(1), n, F.lit(_CHUNK_STRIDE))
    ).otherwise(F.array().cast("array<int>"))
    return (
        toks.select("doc_id", "t", F.explode(starts).alias("s"))
        .select(
            "doc_id",
            ((F.col("s") - 1) / _CHUNK_STRIDE).cast("long").alias("chunk_idx"),
            F.least(F.lit(_CHUNK_LEN), F.size("t") - F.col("s") + 1).alias(
                "n_chunk_tokens"
            ),
            F.array_join(
                F.slice(F.col("t"), F.col("s"), F.lit(_CHUNK_LEN)), " "
            ).alias("chunk_text"),
        )
    )


# ---------------------------------------------------------------------------
# Graph analytics: fixed-point PageRank
# ---------------------------------------------------------------------------

def _pagerank_oracle(iters: int = 5, scale: int = 10**9) -> str:
    teleport = (scale * 15) // 100
    ctes = [
        """pairs AS (
      SELECT DISTINCT l_partkey * 2 AS a, l_suppkey * 2 + 1 AS b
      FROM lineitem)""",
        "edges AS (SELECT a, b FROM pairs UNION ALL SELECT b, a FROM pairs)",
        "outdeg AS (SELECT a, CAST(COUNT(*) AS BIGINT) AS outdeg FROM edges GROUP BY a)",
        "nodes AS (SELECT DISTINCT a AS node FROM edges)",
        f"pr0 AS (SELECT node, CAST({scale} AS BIGINT) AS rank_scaled FROM nodes)",
    ]
    for k in range(1, iters + 1):
        ctes.append(
            f"""inf{k} AS (
      SELECT e.b AS node,
             CAST(SUM((p.rank_scaled * 85) // (100 * o.outdeg)) AS BIGINT)
               AS inflow
      FROM edges e
      JOIN pr{k - 1} p ON e.a = p.node
      JOIN outdeg o ON o.a = e.a
      GROUP BY e.b)"""
        )
        ctes.append(
            f"""pr{k} AS (
      SELECT n.node,
             CAST({teleport} + COALESCE(i.inflow, 0) AS BIGINT) AS rank_scaled
      FROM nodes n LEFT JOIN inf{k} i ON i.node = n.node)"""
        )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT node, rank_scaled FROM pr{iters}
    ORDER BY rank_scaled DESC, node ASC LIMIT 20"""
    )


@register(
    "pagerank_supply_graph",
    oracle=_pagerank_oracle(),
    covers=("J1", "A2", "W6"),
    description=(
        "fixed-point integer PageRank (5 iterations, damping 0.85) over the "
        "part-supplier bipartite graph; integer arithmetic makes the "
        "iterative float-free recurrence bit-reproducible across engines"
    ),
)
def pagerank_supply_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 PageRank nodes of the symmetrized part-supplier graph.

    Node encoding: part p -> 2p, supplier s -> 2s+1 (disjoint integer
    namespaces, no string concat in the join keys). Edges are the
    distinct (part, supplier) supply pairs from lineitem, symmetrized
    — every node then has out-edges, so no dangling-mass drain. See
    :func:`ska_src_maltopuft_etl_spark.operators.graph.pagerank_fixed_point`
    for the determinism and per-round shuffle analysis.
    """
    from ska_src_maltopuft_etl_spark.operators import graph

    li = load_table(spark, sf_dir, "lineitem")
    pairs = li.select(
        (F.col("l_partkey") * 2).alias("a"),
        (F.col("l_suppkey") * 2 + 1).alias("b"),
    ).distinct()
    edges = graph.symmetrize(pairs)
    ranks = graph.pagerank_fixed_point(edges, "a", "b", iters=5, symmetric=True)
    return ranks.orderBy(
        F.col("rank_scaled").desc(), F.col("node").asc()
    ).limit(20)


# ---------------------------------------------------------------------------
# SimHash near-duplicate pair search (banded Hamming)
# ---------------------------------------------------------------------------

_SIMHASH_CTES = """
    toks AS (
      SELECT doc_id, w, COUNT(*) AS cnt
      FROM (SELECT doc_id, UNNEST(string_split(text, ' ')) AS w FROM documents)
      WHERE w <> '' GROUP BY doc_id, w),
    votes AS (
      SELECT doc_id, u.j AS j,
             SUM(cnt * (2 * ((strpos('0123456789abcdef',
                                     substr(md5(w), CAST(u.j // 4 AS INT) + 1, 1)) - 1
                              >> CAST(3 - (u.j % 4) AS INT)) & 1) - 1)) AS s
      FROM toks, UNNEST(generate_series(0, 63)) AS u(j)
      GROUP BY doc_id, u.j),
    sigs AS (
      SELECT doc_id,
             string_agg(CASE WHEN s > 0 THEN '1' ELSE '0' END, '' ORDER BY j)
               AS sig
      FROM votes GROUP BY doc_id)
"""


@register(
    "simhash_near_pairs",
    oracle=f"""
    WITH {_SIMHASH_CTES},
    bands0 AS (
      SELECT doc_id, u.b AS b, substr(sig, u.b * 16 + 1, 16) AS band
      FROM sigs, UNNEST(generate_series(0, 3)) AS u(b)),
    bands AS (
      SELECT doc_id, b, band FROM (
        SELECT doc_id, b, band, COUNT(*) OVER (PARTITION BY b, band) AS f
        FROM bands0)
      WHERE f <= 64),
    cands AS (
      SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
      FROM bands x JOIN bands y ON x.b = y.b AND x.band = y.band
      WHERE x.doc_id < y.doc_id),
    verified AS (
      SELECT c.doc_a, c.doc_b,
             CAST((SELECT SUM(CASE WHEN substr(sa.sig, u.j, 1)
                                        <> substr(sb.sig, u.j, 1)
                              THEN 1 ELSE 0 END)
                   FROM UNNEST(generate_series(1, 64)) AS u(j)) AS BIGINT)
               AS hamming
      FROM cands c
      JOIN sigs sa ON sa.doc_id = c.doc_a
      JOIN sigs sb ON sb.doc_id = c.doc_b)
    SELECT doc_a, doc_b, hamming FROM verified WHERE hamming <= 3
    """,
    covers=("S4", "J1", "R1"),
    description=(
        "SimHash near-dup pair search: 4x16-bit band bucket join "
        "(pigeonhole-complete for hamming <= 3) + exact Hamming verify on "
        "candidates only"
    ),
)
def simhash_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate pairs by SimHash Hamming distance <= 3.

    The pair-search half of the SimHash pipeline (`dedup_simhash`
    emits the signatures): split each 64-bit signature into 4 bands of
    16 bits; any pair within Hamming distance 3 differs in at most 3
    bands, so by pigeonhole it collides on at least one — the
    candidate set from the band equi-join is COMPLETE, not
    probabilistic (unlike MinHash-LSH). The verify computes the exact
    distance on candidates only, as `bit_count(xor)` over the four
    16-bit chunks (integers — deterministic; the oracle counts
    differing characters, an arithmetically identical formulation).

    Scale shape: signatures are map-only; the band join shuffles 4
    rows/doc; verification cost tracks the near-dup count, not the
    corpus. Identical in structure to `dedup_minhash_lsh`'s
    candidate-restricted verify.
    """
    d = _docs(spark, sf_dir)
    # Two local-scale fixes that are both no-ops at cluster scale:
    # (1) the single-file test scan is ONE partition, and the signature
    # projection (64 weighted-bit votes per doc) is the most expensive
    # map in the battery — repartition first so it uses every core (at
    # 100 TB the scan already arrives in thousands of splits);
    # (2) the signature table feeds FIVE plan branches (chunk table
    # twice, band table twice, verify) — localCheckpoint caps the
    # computation at once.
    target = spark.sparkContext.defaultParallelism
    if d.rdd.getNumPartitions() < target:
        d = d.repartition(target)
    sigs = (
        text.simhash_bits(d, "doc_id", "text")
        .withColumnRenamed("simhash", "sig")
        .localCheckpoint(eager=False)
    )
    chunks = sigs.select(
        "doc_id",
        "sig",
        *[
            F.conv(F.substring("sig", b * 16 + 1, 16), 2, 10)
            .cast("long")
            .alias(f"c{b}")
            for b in range(4)
        ],
    )
    bands0 = sigs.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("b"),
                        F.substring("sig", b * 16 + 1, 16).alias("band"),
                    )
                    for b in range(4)
                ]
            )
        ).alias("p"),
    ).select("doc_id", F.col("p.b").alias("b"), F.col("p.band").alias("band"))
    # Skew guard (the scale hazard of ANY banded scheme): a band value
    # shared by f docs contributes f² candidate pairs, and a hot bucket
    # (near-constant signature region — boilerplate-dominated corpora)
    # can carry the whole corpus. Cap bucket size, as stopword removal
    # caps document frequency: pairs whose ONLY collision is a hot bucket are
    # dropped — the standard trade, applied identically in the oracle
    # (the cap reads an exact COUNT, so both engines drop the same
    # buckets). 188k → bounded candidates on the sf0.1 word-salad corpus.
    bf = Window.partitionBy("b", "band")
    bands = (
        bands0.withColumn("__f", F.count(F.lit(1)).over(bf))
        .where(F.col("__f") <= 64)
        .drop("__f")
    )
    cands = (
        bands.alias("x")
        .join(
            bands.alias("y"),
            (F.col("x.b") == F.col("y.b")) & (F.col("x.band") == F.col("y.band")),
        )
        .where(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(
            F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b")
        )
        .distinct()
    )
    ca = chunks.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"c{b}").alias(f"a{b}") for b in range(4)],
    )
    cb = chunks.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"c{b}").alias(f"b{b}") for b in range(4)],
    )
    hamming = None
    for b in range(4):
        term = F.expr(f"bit_count(a{b} ^ b{b})")
        hamming = term if hamming is None else (hamming + term)
    return (
        cands.join(ca, "doc_a")
        .join(cb, "doc_b")
        .select(
            "doc_a", "doc_b", hamming.cast("long").alias("hamming")
        )
        .where(F.col("hamming") <= 3)
    )


# ---------------------------------------------------------------------------
# Market-basket co-occurrence (frequent itemset pairs)
# ---------------------------------------------------------------------------

@register(
    "frequent_itemset_pairs",
    oracle="""
    WITH items AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    pairs AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
             CAST(COUNT(*) AS BIGINT) AS n_orders
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY a.l_partkey, b.l_partkey)
    SELECT part_a, part_b, n_orders
    FROM pairs WHERE n_orders >= 2
    ORDER BY n_orders DESC, part_a ASC, part_b ASC
    LIMIT 50
    """,
    covers=("J1", "A2", "W6"),
    description=(
        "market-basket pair mining: parts co-occurring in >= 2 orders via "
        "basket self-join (the candidate-generation step of a distributed "
        "FP-growth/apriori); top-50 with total-order tie-break"
    ),
)
def frequent_itemset_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top co-occurring part pairs across order baskets.

    The self-join explodes each basket to its C(k,2) pairs — bounded
    by the basket size (TPC-H ~4-7 items), so the shuffle is O(orders
    x k²), not corpus-quadratic. At 100 TB the standard guard is a
    per-basket size cap before the join (huge baskets are spam); the
    min-support filter sits directly on the pair aggregate so only
    frequent pairs survive to the top-k sort.
    """
    li = load_table(spark, sf_dir, "lineitem")
    items = li.select("l_orderkey", "l_partkey").distinct()
    a = items.select(
        F.col("l_orderkey"), F.col("l_partkey").alias("part_a")
    )
    b = items.select(
        F.col("l_orderkey"), F.col("l_partkey").alias("part_b")
    )
    pairs = (
        a.join(b, "l_orderkey")
        .where(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .where(F.col("n_orders") >= 2)
    )
    return pairs.orderBy(
        F.col("n_orders").desc(), F.col("part_a").asc(), F.col("part_b").asc()
    ).limit(50)


# ---------------------------------------------------------------------------
# Fixed-width histogram
# ---------------------------------------------------------------------------

@register(
    "histogram_order_totals",
    oracle="""
    WITH b AS (
      SELECT CAST(FLOOR(o_totalprice / 25000.0) AS BIGINT) AS bin,
             o_totalprice
      FROM orders)
    SELECT bin,
           CAST(bin AS DOUBLE) * 25000.0 AS bin_lo,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(MIN(o_totalprice), 2) AS bin_min,
           ROUND(MAX(o_totalprice), 2) AS bin_max
    FROM b GROUP BY bin
    """,
    covers=("A2", "P4"),
    description=(
        "fixed-width histogram of order totals: floor-division binning "
        "(one map + one keyed aggregate), per-bin count/min/max"
    ),
)
def histogram_order_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution profile of o_totalprice in 25k-wide bins — the
    one-pass histogram every dataset-profiling stage needs. Binning is
    a floor division (deterministic), per-bin stats are order-
    insensitive aggregates (count/min/max; no float sums)."""
    o = load_table(spark, sf_dir, "orders")
    bin_ = F.floor(F.col("o_totalprice") / 25000.0).cast("long")
    return (
        o.select(bin_.alias("bin"), "o_totalprice")
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("o_totalprice"), 2).alias("bin_min"),
            F.round(F.max("o_totalprice"), 2).alias("bin_max"),
        )
        .select(
            "bin",
            (F.col("bin").cast("double") * 25000.0).alias("bin_lo"),
            "n",
            "bin_min",
            "bin_max",
        )
    )


# ---------------------------------------------------------------------------
# Token-rarity quality score (LM-lite proxy)
# ---------------------------------------------------------------------------

@register(
    "text_rarity_score",
    oracle="""
    WITH occ AS (
      SELECT doc_id, UNNEST(list_filter(string_split(text, ' '),
                                        w -> w <> '')) AS w
      FROM documents),
    vocab AS (
      SELECT w, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
      FROM occ GROUP BY w),
    scored AS (
      SELECT o.doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_tokens,
             CAST(SUM(v.df) AS BIGINT) AS df_sum,
             CAST(SUM(CASE WHEN v.df <= 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_rare
      FROM occ o JOIN vocab v ON o.w = v.w
      GROUP BY o.doc_id)
    SELECT doc_id, n_tokens,
           CAST(df_sum AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS mean_token_df,
           n_rare,
           CAST(n_rare AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS rare_frac,
           n_rare * 10 <= n_tokens AS keep
    FROM scored
    """,
    covers=("R1", "A3", "J1"),
    description=(
        "token-rarity quality score (LM-perplexity-lite proxy): mean "
        "document frequency of a doc's tokens + rare-token fraction; "
        "integer-space keep threshold"
    ),
)
def text_rarity_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-statistics quality signal: how 'ordinary' is each doc's
    vocabulary?

    The cheap stand-in for LM-perplexity filtering (true log-prob
    scoring needs ln — not bit-reproducible across engines; mean
    document frequency ranks documents the same way for filtering
    purposes). Shape: one explode → token-df aggregate (the vocabulary
    table, heavy-tailed but bounded), joined back to occurrences via
    the df table — a shuffle join on the token, with AQE skew handling
    for stop-words; then one per-doc aggregate. All emitted floats are
    single divisions of exact integers.
    """
    d = _docs(spark, sf_dir)
    occ = d.select("doc_id", F.explode(text.tokens("text")).alias("w"))
    vocab = occ.groupBy("w").agg(F.count_distinct("doc_id").alias("df"))
    scored = (
        occ.join(vocab, "w")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("df").alias("df_sum"),
            F.sum(F.when(F.col("df") <= 2, 1).otherwise(0)).alias("n_rare"),
        )
    )
    return scored.select(
        "doc_id",
        "n_tokens",
        (
            F.col("df_sum").cast("double") / F.col("n_tokens").cast("double")
        ).alias("mean_token_df"),
        "n_rare",
        (
            F.col("n_rare").cast("double") / F.col("n_tokens").cast("double")
        ).alias("rare_frac"),
        (F.col("n_rare") * 10 <= F.col("n_tokens")).alias("keep"),
    )


# ---------------------------------------------------------------------------
# Hybrid search: BM25 + embedding cosine, reciprocal-rank fusion
# ---------------------------------------------------------------------------

@register(
    "hybrid_search_rrf",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS t
      FROM documents),
    dl AS (SELECT doc_id, len(t) AS dl FROM toks),
    stats AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n,
                     CAST(SUM(dl) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avgdl
              FROM dl),
    tf AS (
      SELECT doc_id, term, CAST(COUNT(*) AS DOUBLE) AS tf
      FROM (SELECT doc_id, UNNEST(t) AS term FROM toks)
      WHERE term IN ('spark', 'hash', 'window')
      GROUP BY doc_id, term),
    dfreq AS (SELECT term, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY term),
    scored AS (
      SELECT tf.doc_id, tf.term,
             ((stats.n - dfreq.df + 0.5) / (dfreq.df + 0.5))
               * (tf.tf * ({BM25_K1} + 1.0))
               / (tf.tf + {BM25_K1} * (1.0 - {BM25_B}
                    + {BM25_B} * (CAST(dl.dl AS DOUBLE) / stats.avgdl))) AS s
      FROM tf JOIN dl USING (doc_id) CROSS JOIN stats JOIN dfreq USING (term)),
    pivoted AS (
      SELECT doc_id,
             COALESCE(MAX(CASE WHEN term = 'spark' THEN s END), 0.0) AS s_spark,
             COALESCE(MAX(CASE WHEN term = 'hash' THEN s END), 0.0) AS s_hash,
             COALESCE(MAX(CASE WHEN term = 'window' THEN s END), 0.0) AS s_window
      FROM scored GROUP BY doc_id),
    br AS (
      SELECT doc_id,
             ROW_NUMBER() OVER (ORDER BY (s_spark + s_hash) + s_window DESC,
                                doc_id ASC) AS rank_b
      FROM pivoted QUALIFY rank_b <= 20),
    qv AS (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings
           WHERE vec_id = 0),
    cos AS (
      SELECT e.vec_id AS doc_id,
             ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), qv.v), 5)
               AS cosine
      FROM embeddings e, qv WHERE e.vec_id <> 0),
    cr AS (
      SELECT doc_id,
             ROW_NUMBER() OVER (ORDER BY cosine DESC, doc_id ASC) AS rank_c
      FROM cos QUALIFY rank_c <= 20),
    fused AS (
      SELECT COALESCE(b.doc_id, c.doc_id) AS doc_id, b.rank_b, c.rank_c
      FROM br b FULL JOIN cr c ON b.doc_id = c.doc_id)
    SELECT doc_id,
           rank_b IS NOT NULL AS in_bm25,
           rank_c IS NOT NULL AS in_cosine,
           COALESCE(1.0 / (60.0 + CAST(rank_b AS DOUBLE)), 0.0)
             + COALESCE(1.0 / (60.0 + CAST(rank_c AS DOUBLE)), 0.0) AS rrf_score
    FROM fused
    ORDER BY rrf_score DESC, doc_id ASC
    LIMIT 10
    """,
    covers=("J1", "W1", "R1", "J4"),
    description=(
        "hybrid retrieval: BM25 top-20 and embedding-cosine top-20 fused by "
        "reciprocal-rank fusion (k=60); integer ranks make the fusion score "
        "bit-reproducible"
    ),
)
def hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The modern retrieval stack's endpoint: lexical and dense
    candidate lists fused by RRF.

    Both lists are top-20 with total-order tie-breaks; fusion operates
    on RANKS (integers), so the fused score is two exact divisions
    added in a fixed order — reproducible where score-level fusion of
    floats would not be. Scale: each list is a corpus-parallel scan +
    top-k; the fusion is a full-outer join of two 20-row frames
    (driver-trivial, broadcast).
    """
    bm = bm25_keyword_search(spark, sf_dir).select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.col("score").desc(), F.col("doc_id").asc()))
        .alias("rank_b"),
    )
    e = load_table(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") == 0)
    c = e.where(F.col("vec_id") != 0)
    from ska_src_maltopuft_etl_spark.plans.llmops import _emb_dim
    cr = similarity.cosine_topk_bruteforce(
        q, c, "vec_id", "embedding", k=20, dim=_emb_dim(spark, sf_dir)
    ).select(F.col("neighbor_id").alias("doc_id"), F.col("rank").alias("rank_c"))
    fused = bm.join(cr, "doc_id", "full")
    rrf = F.coalesce(
        F.lit(1.0) / (F.lit(60.0) + F.col("rank_b").cast("double")), F.lit(0.0)
    ) + F.coalesce(
        F.lit(1.0) / (F.lit(60.0) + F.col("rank_c").cast("double")), F.lit(0.0)
    )
    return (
        fused.select(
            "doc_id",
            F.col("rank_b").isNotNull().alias("in_bm25"),
            F.col("rank_c").isNotNull().alias("in_cosine"),
            rrf.alias("rrf_score"),
        )
        .orderBy(F.col("rrf_score").desc(), F.col("doc_id").asc())
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Cross-encoder rerank stage (Arrow inference plumbing, oracle-checkable)
# ---------------------------------------------------------------------------

_RERANK_QUERY = "spark hash window"


@register(
    "rerank_cross_encoder",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS t
      FROM documents),
    hits AS (
      SELECT doc_id,
             CAST(len(list_filter(t, w -> w IN ('spark', 'hash', 'window')))
                  AS BIGINT) AS n_hits
      FROM toks),
    cands AS (
      SELECT h.doc_id, d.text
      FROM hits h JOIN documents d ON d.doc_id = h.doc_id
      WHERE h.n_hits >= 1
      ORDER BY h.n_hits DESC, h.doc_id ASC LIMIT 50)
    SELECT doc_id,
           CAST(CONCAT('0x', substr(md5('{_RERANK_QUERY}' || '|' || text), 1, 8))
                AS BIGINT) / 4294967295.0 AS ce_score
    FROM cands
    ORDER BY ce_score DESC, doc_id ASC
    LIMIT 10
    """,
    covers=("R1", "J1", "W1"),
    description=(
        "cross-encoder rerank stage: candidate top-50 by term hits, scored "
        "pairwise through Arrow mapInPandas batches (deterministic md5 "
        "stand-in model → the UDF plumbing itself is value-hash certified)"
    ),
)
def rerank_cross_encoder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate retrieval → batched model scoring → final top-k.

    The inference stage every production search/RAG pipeline ends
    with. Candidates (term-hit top-50, integer-ranked) pair with the
    query string and stream through `multimodal.score_pairs_batched` —
    REAL Arrow batch plumbing with a deterministic stand-in model, so
    the driver's value-hash oracle certifies that the Python batch
    path preserves every pair exactly. Map-only over candidates at any
    scale; the candidate generator bounds the model-call volume.
    """
    from ska_src_maltopuft_etl_spark.operators import multimodal

    d = _docs(spark, sf_dir)
    hits = d.select(
        "doc_id",
        "text",
        F.size(
            F.filter(
                text.tokens("text"),
                lambda w: w.isin("spark", "hash", "window"),
            )
        ).cast("long").alias("n_hits"),
    )
    cands = (
        hits.where(F.col("n_hits") >= 1)
        .orderBy(F.col("n_hits").desc(), F.col("doc_id").asc())
        .limit(50)
        .withColumn("query", F.lit(_RERANK_QUERY))
    )
    scored = multimodal.score_pairs_batched(
        cands, "query", "text", id_cols=["doc_id"]
    )
    return scored.orderBy(
        F.col("ce_score").desc(), F.col("doc_id").asc()
    ).limit(10)


# ---------------------------------------------------------------------------
# Hierarchy traversal: iterative ancestor resolution (recursive-CTE parity)
# ---------------------------------------------------------------------------

@register(
    "hierarchy_rollup_paths",
    oracle="""
    WITH RECURSIVE nodes AS (
      SELECT DISTINCT o_orderkey AS node FROM orders),
    edges AS (
      SELECT node, node // 10 AS parent FROM nodes WHERE node > 0),
    walk(node, anc, depth) AS (
      SELECT node, node, 0 FROM nodes
      UNION ALL
      SELECT w.node, e.parent, w.depth + 1
      FROM walk w JOIN edges e ON e.node = w.anc),
    roots AS (
      SELECT node, anc AS root, depth
      FROM walk
      QUALIFY ROW_NUMBER() OVER (PARTITION BY node ORDER BY depth DESC) = 1)
    SELECT CAST(depth AS BIGINT) AS depth,
           CAST(COUNT(*) AS BIGINT) AS n_nodes,
           CAST(COUNT(DISTINCT root) AS BIGINT) AS n_roots,
           CAST(MIN(node) AS BIGINT) AS min_node,
           CAST(MAX(node) AS BIGINT) AS max_node
    FROM roots GROUP BY depth
    """,
    covers=("J1", "A2", "A3"),
    description=(
        "hierarchy traversal without recursive CTEs: pointer-doubling "
        "ancestor resolution (O(log depth) rounds of self-joins on "
        "materialized links) vs the oracle's WITH RECURSIVE walk"
    ),
)
def hierarchy_rollup_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resolve every node's ROOT ancestor + depth in a decimal-digit
    tree derived from order keys (parent = node DIV 10).

    Spark has no recursive CTE; the scalable formulation is
    **pointer doubling**: keep (node, ancestor, steps) links and
    repeatedly self-join links onto themselves, doubling the hop
    distance per round — O(log depth) rounds instead of O(depth), the
    same technique parallel BFS/transitive-closure uses. Each round is
    one equi-join + coalesce on a localCheckpoint'ed frame.

    Output aggregates per depth (count, distinct roots, min/max node)
    — all integer/order-insensitive, hash-safe.
    """
    o = load_table(spark, sf_dir, "orders")
    nodes = o.select(F.col("o_orderkey").alias("node")).distinct()
    # link: node -> current known ancestor + hop count; root links to
    # itself with done=True
    links = nodes.select(
        "node",
        F.when(F.col("node") > 0, (F.col("node") / 10).cast("long"))
        .otherwise(F.col("node"))
        .alias("anc"),
        F.when(F.col("node") > 0, F.lit(1)).otherwise(F.lit(0)).alias("depth"),
    ).localCheckpoint(eager=False)
    # max depth of node k is ~log10(k); double pointers ceil(log2) times.
    # The max comes from the RAW orders scan, not the distinct node set:
    # max is duplicate-insensitive, and the plain column aggregate leaves
    # the distinct's exchange out of this probe job (and is eligible for
    # parquet stats aggregate pushdown where enabled).
    import math

    max_key = o.agg(F.max("o_orderkey")).head()[0] or 1
    rounds = max(1, math.ceil(math.log2(max(2, len(str(max_key))))))
    for _round in range(rounds):
        hop = links.select(
            F.col("node").alias("j_node"),
            F.col("anc").alias("j_anc"),
            F.col("depth").alias("j_depth"),
        )
        links = links.join(hop, links["anc"] == hop["j_node"], "left").select(
            "node",
            F.coalesce("j_anc", "anc").alias("anc"),
            (F.col("depth") + F.coalesce("j_depth", F.lit(0))).alias("depth"),
        )
        # Checkpoint BETWEEN rounds only: both of round r+1's references
        # must read round r's result once, but the LAST round has a
        # single consumer (the final aggregate), so a checkpoint there
        # paid a planning pass + eager stage execution + a pin for
        # nothing — the join folds into the query's own action instead.
        if _round + 1 < rounds:
            links = links.localCheckpoint(eager=False)
    return links.groupBy(F.col("depth").cast("long").alias("depth")).agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.count_distinct("anc").alias("n_roots"),
        F.min("node").alias("min_node"),
        F.max("node").alias("max_node"),
    )


# ---------------------------------------------------------------------------
# Event-sequence transition matrix (user-journey Markov model)
# ---------------------------------------------------------------------------

@register(
    "event_transition_matrix",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type, ts, event_id,
             LEAD(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS next_type
      FROM events),
    trans AS (
      SELECT event_type AS from_type, next_type AS to_type,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM seq WHERE next_type IS NOT NULL
      GROUP BY event_type, next_type),
    outs AS (
      SELECT from_type, CAST(SUM(n) AS BIGINT) AS n_out
      FROM trans GROUP BY from_type)
    SELECT t.from_type, t.to_type, t.n,
           CAST(t.n AS DOUBLE) / CAST(o.n_out AS DOUBLE) AS p
    FROM trans t JOIN outs o ON o.from_type = t.from_type
    """,
    covers=("W4", "A2", "J1"),
    description=(
        "first-order user-journey transition matrix: lead window per user "
        "(total-order tie-break), transition counts, row-normalized "
        "probabilities via one exact-integer division"
    ),
)
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P(next event type | current) across user journeys.

    One keyed window per user (lead with a (ts, event_id) total order
    so concurrent events order deterministically), a transition-count
    aggregate, and a row normalization from exact integer counts —
    the analytics core of funnel discovery / journey modeling. Shape:
    one shuffle on user_id, one on the transition key, both with
    map-side partials.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    ).where(F.col("to_type").isNotNull())
    trans = seq.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    outs = trans.groupBy("from_type").agg(F.sum("n").alias("n_out"))
    return trans.join(outs, "from_type").select(
        "from_type",
        "to_type",
        "n",
        (F.col("n").cast("double") / F.col("n_out").cast("double")).alias("p"),
    )


# ---------------------------------------------------------------------------
# Per-class centroid outlier detection (dataset QA for labeled embeddings)
# ---------------------------------------------------------------------------

@register(
    "embedding_outliers_per_label",
    oracle="""
    WITH dims AS (
      SELECT vec_id, label, u.i AS dim,
             CAST(FLOOR(CAST(embedding[u.i] AS DOUBLE) * 1000.0) AS BIGINT)
               AS vi
      FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS u(i)
      WHERE embedding[u.i] IS NOT NULL AND label IS NOT NULL),
    stats AS (
      SELECT label, dim,
             CAST(SUM(vi) AS BIGINT) AS s,
             CAST(COUNT(DISTINCT vec_id) AS BIGINT) AS n
      FROM dims GROUP BY label, dim),
    diffs AS (
      SELECT d.vec_id, d.label,
             (d.vi * st.n - st.s) * (d.vi * st.n - st.s) AS d2_term
      FROM dims d JOIN stats st ON st.label = d.label AND st.dim = d.dim),
    dist AS (
      SELECT vec_id, label, CAST(SUM(d2_term) AS BIGINT) AS d2
      FROM diffs GROUP BY vec_id, label),
    ranked AS (
      SELECT vec_id, label, d2,
             ROW_NUMBER() OVER (PARTITION BY label
                                ORDER BY d2 DESC, vec_id ASC) AS rnk
      FROM dist)
    SELECT label, rnk, vec_id, d2 FROM ranked WHERE rnk <= 5
    """,
    covers=("R1", "A2", "J1", "W1"),
    description=(
        "per-class centroid outlier detection: scaled-integer distance to "
        "the class centroid (no floats anywhere — exact, order-insensitive) "
        "-> top-5 farthest per label"
    ),
)
def embedding_outliers_per_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-quality audit: the 5 vectors farthest from their class
    centroid, per class — the standard mislabeled-sample screen.

    Determinism trick: the whole metric is INTEGER. Quantize each
    component to 1e-3 (floor — identical both engines), and compare
    against the centroid without dividing: for member count n and
    per-dim component sum s, the scaled deviation is (vi*n - s) —
    exact BIGINTs whose squared sum is order-insensitive, unlike any
    float distance. Ranking on exact integers can't tie-break
    differently across engines.

    Shape: one explode → per-(label, dim) aggregate (tiny, broadcast
    back) → map-only squared terms → per-vector aggregate → per-label
    top-k window. No wide exchange of the corpus beyond the keyed
    aggregates.
    """
    e = load_table(spark, sf_dir, "embeddings").where(F.col("label").isNotNull())
    dims = (
        e.select("vec_id", "label", F.posexplode("embedding").alias("pos", "f"))
        .where(F.col("f").isNotNull())
        .select(
            "vec_id",
            "label",
            (F.col("pos") + 1).alias("dim"),
            F.floor(F.col("f").cast("double") * 1000.0).cast("long").alias("vi"),
        )
    )
    stats = dims.groupBy("label", "dim").agg(
        F.sum("vi").alias("s"), F.count_distinct("vec_id").alias("n")
    )
    diffs = dims.join(F.broadcast(stats), ["label", "dim"]).select(
        "vec_id",
        "label",
        (
            (F.col("vi") * F.col("n") - F.col("s"))
            * (F.col("vi") * F.col("n") - F.col("s"))
        ).alias("d2_term"),
    )
    dist = diffs.groupBy("vec_id", "label").agg(F.sum("d2_term").alias("d2"))
    w = Window.partitionBy("label").orderBy(
        F.col("d2").desc(), F.col("vec_id").asc()
    )
    return (
        dist.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 5)
        .select("label", "rnk", "vec_id", F.col("d2").cast("long").alias("d2"))
    )


@register(
    "histogram_equi_depth",
    oracle="""
    WITH b AS (
      SELECT o_totalprice,
             NTILE(8) OVER (ORDER BY o_totalprice ASC, o_orderkey ASC) AS bin
      FROM orders)
    SELECT bin,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(MIN(o_totalprice), 2) AS bin_min,
           ROUND(MAX(o_totalprice), 2) AS bin_max
    FROM b GROUP BY bin
    """,
    covers=("A2", "W6"),
    description=(
        "equi-depth histogram: NTILE(8) over a total order (value + key "
        "tie-break, so bucket assignment is deterministic), per-bin stats"
    ),
)
def histogram_equi_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-population distribution profile — the complement of the
    fixed-width `histogram_order_totals` (equi-depth bins adapt to
    skewed value distributions; fixed-width bins show the shape).

    NTILE needs a global total order — a single-partition window, the
    documented local-scale formulation. At 100 TB swap the exact NTILE
    for GK-sketch quantile boundaries + a broadcast bucket lookup — same
    output shape, approximate boundaries, no global sort.
    """
    o = load_table(spark, sf_dir, "orders")
    w = Window.orderBy(F.col("o_totalprice").asc(), F.col("o_orderkey").asc())
    return (
        o.select("o_totalprice", F.ntile(8).over(w).alias("bin"))
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("o_totalprice"), 2).alias("bin_min"),
            F.round(F.max("o_totalprice"), 2).alias("bin_max"),
        )
    )


@register(
    "decile_revenue_share",
    oracle="""
    WITH rev AS (
      SELECT o_custkey,
             CAST(SUM(CAST(FLOOR(o_totalprice * 100.0) AS BIGINT)) AS BIGINT)
               AS rev_cents
      FROM orders GROUP BY o_custkey),
    dec AS (
      SELECT o_custkey, rev_cents,
             NTILE(10) OVER (ORDER BY rev_cents DESC, o_custkey ASC) AS decile
      FROM rev),
    per AS (
      SELECT decile,
             CAST(COUNT(*) AS BIGINT) AS n_customers,
             CAST(SUM(rev_cents) AS BIGINT) AS decile_cents
      FROM dec GROUP BY decile),
    tot AS (SELECT CAST(SUM(decile_cents) AS BIGINT) AS total FROM per)
    SELECT decile, n_customers, decile_cents,
           CAST(decile_cents AS DOUBLE) / CAST(tot.total AS DOUBLE) AS rev_share
    FROM per CROSS JOIN tot
    """,
    covers=("A2", "W6", "J1"),
    description=(
        "Pareto/Lorenz analysis: customer revenue deciles and each decile's "
        "share of total revenue; cents-integer sums keep every aggregate "
        "exact"
    ),
)
def decile_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 80/20 concentration profile of customer revenue.

    Revenue is aggregated in integer cents (floor once per order row,
    then exact BIGINT sums all the way up), deciles come from NTILE
    over a total order, and the only float is the final share
    division. NTILE's global sort is the local formulation — the
    scale path is quantile boundaries, as `histogram_equi_depth`
    documents.
    """
    o = load_table(spark, sf_dir, "orders")
    rev = o.groupBy("o_custkey").agg(
        F.sum(F.floor(F.col("o_totalprice") * 100.0).cast("long")).alias(
            "rev_cents"
        )
    )
    w = Window.orderBy(F.col("rev_cents").desc(), F.col("o_custkey").asc())
    dec = rev.select("rev_cents", F.ntile(10).over(w).alias("decile"))
    per = dec.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum("rev_cents").alias("decile_cents"),
    )
    tot = per.agg(F.sum("decile_cents").alias("total"))
    return per.crossJoin(F.broadcast(tot)).select(
        "decile",
        "n_customers",
        "decile_cents",
        (
            F.col("decile_cents").cast("double") / F.col("total").cast("double")
        ).alias("rev_share"),
    )


@register(
    "text_ngram_novelty",
    oracle="""
    WITH toks AS (
      SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS t
      FROM documents),
    sh AS (
      SELECT DISTINCT doc_id, array_to_string(t[u.g:u.g+2], ' ') AS shingle
      FROM toks, UNNEST(generate_series(1, GREATEST(len(t) - 2, 0))) AS u(g)),
    firsts AS (
      SELECT shingle, CAST(MIN(doc_id) AS BIGINT) AS first_doc
      FROM sh GROUP BY shingle),
    per_doc AS (
      SELECT sh.doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_shingles,
             CAST(SUM(CASE WHEN f.first_doc = sh.doc_id THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_novel
      FROM sh JOIN firsts f ON f.shingle = sh.shingle
      GROUP BY sh.doc_id)
    SELECT doc_id, n_shingles, n_novel,
           CAST(n_novel AS DOUBLE) / CAST(n_shingles AS DOUBLE) AS novelty
    FROM per_doc
    """,
    covers=("R1", "A2", "J1"),
    description=(
        "corpus-order n-gram novelty: fraction of a doc's 3-grams whose "
        "FIRST corpus occurrence (min doc id) is this doc — the diversity/"
        "staleness signal curation uses to cap near-template content"
    ),
)
def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc novelty: how much of this document's phrasing is first
    seen HERE (in doc-id order)?

    One distinct-shingle build (shared exchange), a min-doc-id
    aggregate per shingle (first-occurrence attribution — the same
    keep-first semantics as exact dedup, lifted to n-gram granularity),
    and a join back for the per-doc ratio. Everything is integers
    except one final division.
    """
    d = _docs(spark, sf_dir)
    sh = similarity.ngram_shingles(d, "doc_id", "text", n=3)
    firsts = sh.groupBy("shingle").agg(F.min("doc_id").alias("first_doc"))
    per_doc = (
        sh.join(firsts, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(
                F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
            ).alias("n_novel"),
        )
    )
    return per_doc.select(
        "doc_id",
        "n_shingles",
        "n_novel",
        (
            F.col("n_novel").cast("double") / F.col("n_shingles").cast("double")
        ).alias("novelty"),
    )


@register(
    "supply_graph_degree_profile",
    oracle="""
    WITH pairs AS (
      SELECT DISTINCT l_partkey * 2 AS a, l_suppkey * 2 + 1 AS b
      FROM lineitem),
    edges AS (SELECT a, b FROM pairs UNION ALL SELECT b, a FROM pairs),
    deg AS (
      SELECT a AS node, CAST(COUNT(*) AS BIGINT) AS degree
      FROM edges GROUP BY a)
    SELECT CASE WHEN node % 2 = 0 THEN 'part' ELSE 'supplier' END AS node_type,
           degree,
           CAST(COUNT(*) AS BIGINT) AS n_nodes
    FROM deg GROUP BY 1, 2
    """,
    covers=("A2", "J1"),
    description=(
        "degree distribution of the part-supplier graph per node type — the "
        "structural profile read before choosing graph-algorithm parameters "
        "(completes the degree/PageRank/CC graph-analytics set)"
    ),
)
def supply_graph_degree_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(node_type, degree) -> node count over the symmetrized supply
    graph. Two keyed aggregates with map-side partials; the histogram
    one reads what the first one wrote — no corpus rescan."""
    from ska_src_maltopuft_etl_spark.operators import graph

    li = load_table(spark, sf_dir, "lineitem")
    pairs = li.select(
        (F.col("l_partkey") * 2).alias("a"),
        (F.col("l_suppkey") * 2 + 1).alias("b"),
    ).distinct()
    edges = graph.symmetrize(pairs)
    deg = edges.groupBy(F.col("a").alias("node")).agg(
        F.count(F.lit(1)).alias("degree")
    )
    return deg.groupBy(
        F.when(F.col("node") % 2 == 0, "part").otherwise("supplier").alias(
            "node_type"
        ),
        "degree",
    ).agg(F.count(F.lit(1)).alias("n_nodes"))


@register(
    "dup_rate_by_source",
    oracle="""
    WITH fp AS (
      SELECT source, md5(text) AS fingerprint
      FROM documents),
    per AS (
      SELECT source,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(COUNT(DISTINCT fingerprint) AS BIGINT) AS n_unique
      FROM fp GROUP BY source)
    SELECT source, n_docs, n_unique,
           CAST(n_docs - n_unique AS BIGINT) AS n_dup,
           CAST(n_docs - n_unique AS DOUBLE) / CAST(n_docs AS DOUBLE)
             AS dup_rate
    FROM per
    """,
    covers=("S4", "A3", "A2"),
    description=(
        "per-source exact-duplicate rate — the curation dashboard metric "
        "deciding which ingestion sources need dedup attention; one "
        "distinct-agg pass"
    ),
)
def dup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-dup pressure per ingestion source: docs, uniques, dup
    count, dup rate (one division of exact integers)."""
    d = _docs(spark, sf_dir)
    per = d.select("source", F.md5("text").alias("fp")).groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_distinct("fp").alias("n_unique"),
    )
    return per.select(
        "source",
        "n_docs",
        "n_unique",
        (F.col("n_docs") - F.col("n_unique")).alias("n_dup"),
        (
            (F.col("n_docs") - F.col("n_unique")).cast("double")
            / F.col("n_docs").cast("double")
        ).alias("dup_rate"),
    )


# ---------------------------------------------------------------------------
# Interval union (sweep-line coverage) per user
# ---------------------------------------------------------------------------

@register(
    "interval_union_coverage",
    oracle="""
    WITH iv AS (
      SELECT user_id, event_id, ts AS s,
             ts + INTERVAL 30 MINUTE AS e
      FROM events),
    ordered AS (
      SELECT user_id, s, e,
             MAX(epoch_us(e)) OVER (
               PARTITION BY user_id ORDER BY s, e, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
      FROM iv),
    flagged AS (
      SELECT user_id, s, e,
             CASE WHEN prev_max IS NULL OR epoch_us(s) > prev_max
                  THEN 1 ELSE 0 END AS new_island
      FROM ordered),
    islands AS (
      SELECT user_id, s, e,
             SUM(new_island) OVER (
               PARTITION BY user_id ORDER BY s, e
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
      FROM flagged),
    spans AS (
      SELECT user_id, island,
             CAST((MAX(epoch_us(e)) - MIN(epoch_us(s))) // 1000000 AS BIGINT)
               AS span_s
      FROM islands GROUP BY user_id, island)
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_islands,
           CAST(SUM(span_s) AS BIGINT) AS covered_s,
           CAST(MAX(span_s) AS BIGINT) AS longest_s
    FROM spans GROUP BY user_id
    """,
    covers=("W4", "A2", "P7"),
    description=(
        "interval union via sweep line: running-max window finds island "
        "boundaries, cumulative-sum assigns island ids, per-island span "
        "aggregates — merge-overlapping-intervals without a self-join"
    ),
)
def interval_union_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Total covered time per user when each event opens a 30-minute
    activity window — the merge-overlapping-intervals operator
    (billing coverage, uptime stitching, session unioning).

    Sweep line, not a self-join: within each user order intervals by
    (start, end, id), compute the running max of prior ends — a start
    beyond it opens a new island; a cumulative sum of those flags IS
    the island id. Two windows over ONE sort + two keyed aggregates;
    the O(n²) overlap self-join never happens. All arithmetic is
    epoch-integer.
    """
    ev = load_table(spark, sf_dir, "events")
    iv = ev.select(
        "user_id",
        "event_id",
        F.col("ts").alias("s"),
        (F.col("ts") + F.expr("INTERVAL 30 MINUTE")).alias("e"),
    )
    order = [F.col("s"), F.col("e"), F.col("event_id")]
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = iv.select(
        "user_id",
        "s",
        "e",
        F.when(
            F.max(F.unix_micros("e")).over(w_prev).isNull()
            | (F.unix_micros("s") > F.max(F.unix_micros("e")).over(w_prev)),
            1,
        )
        .otherwise(0)
        .alias("new_island"),
        "event_id",
    )
    w_cum = (
        Window.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    islands = flagged.select(
        "user_id",
        "s",
        "e",
        F.sum("new_island").over(w_cum).alias("island"),
    )
    spans = islands.groupBy("user_id", "island").agg(
        (
            (F.max(F.unix_micros("e")) - F.min(F.unix_micros("s"))) / 1_000_000
        )
        .cast("long")
        .alias("span_s")
    )
    return spans.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_islands"),
        F.sum("span_s").cast("long").alias("covered_s"),
        F.max("span_s").alias("longest_s"),
    )


# ---------------------------------------------------------------------------
# Nearest as-of join (completes backward / forward / nearest)
# ---------------------------------------------------------------------------

@register(
    "asof_join_nearest_action",
    oracle="""
    WITH err AS (SELECT event_id, user_id, ts FROM events
                 WHERE event_type = 'error'),
         pur AS (SELECT event_id, user_id, ts FROM events
                 WHERE event_type = 'purchase'),
         back AS (
           SELECT e.event_id, p.event_id AS p_id, epoch_us(p.ts) AS p_us,
                  epoch_us(e.ts) - epoch_us(p.ts) AS gap,
                  ROW_NUMBER() OVER (PARTITION BY e.event_id
                                     ORDER BY p.ts DESC, p.event_id DESC) AS rn
           FROM err e JOIN pur p ON p.user_id = e.user_id AND p.ts <= e.ts),
         fwd AS (
           SELECT e.event_id, p.event_id AS p_id, epoch_us(p.ts) AS p_us,
                  epoch_us(p.ts) - epoch_us(e.ts) AS gap,
                  ROW_NUMBER() OVER (PARTITION BY e.event_id
                                     ORDER BY p.ts ASC, p.event_id DESC) AS rn
           FROM err e JOIN pur p ON p.user_id = e.user_id AND p.ts >= e.ts)
    SELECT e.event_id,
           CASE WHEN b.p_id IS NOT NULL
                     AND (f.p_id IS NULL OR b.gap <= f.gap)
                THEN b.p_id ELSE f.p_id END AS nearest_purchase_id,
           CASE WHEN b.p_id IS NOT NULL
                     AND (f.p_id IS NULL OR b.gap <= f.gap)
                THEN b.gap ELSE f.gap END AS gap_us
    FROM err e
    LEFT JOIN back b ON b.event_id = e.event_id AND b.rn = 1
    LEFT JOIN fwd f ON f.event_id = e.event_id AND f.rn = 1
    """,
    covers=("J6", "W6", "P7"),
    description=(
        "NEAREST as-of join (backward-preferred on gap ties): composition "
        "of the backward and forward one-shuffle passes + per-row pick — "
        "completing the backward/forward/nearest family"
    ),
)
def asof_join_nearest_action(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest purchase (either direction) for each error event.

    pandas-`merge_asof(direction='nearest')` semantics with a defined
    tie rule (backward wins equal gaps). Two one-shuffle as-of passes
    over the same by-keys plus a map-only pick — still no range-join
    row explosion at any scale.
    """
    from ska_src_maltopuft_etl_spark.operators import asof_join

    ev = load_table(spark, sf_dir, "events")
    err = ev.where(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts"
    )
    pur = ev.where(F.col("event_type") == "purchase").select(
        F.col("user_id"),
        F.col("event_id").alias("p_id"),
        F.col("ts").alias("p_ts"),
    )
    kwargs = dict(
        left_on="ts", right_on="p_ts", by=["user_id"], right_tiebreak=["p_id"]
    )
    b = asof_join(err, pur, right_prefix="b_", **kwargs)
    f = asof_join(err, pur, right_prefix="f_", direction="forward", **kwargs)
    both = b.join(
        f.select("event_id", "f_p_id", "f_p_ts"), "event_id", "left"
    )
    b_gap = F.unix_micros("ts") - F.unix_micros("b_p_ts")
    f_gap = F.unix_micros("f_p_ts") - F.unix_micros("ts")
    pick_back = F.col("b_p_id").isNotNull() & (
        F.col("f_p_id").isNull() | (b_gap <= f_gap)
    )
    return both.select(
        "event_id",
        F.when(pick_back, F.col("b_p_id"))
        .otherwise(F.col("f_p_id"))
        .alias("nearest_purchase_id"),
        F.when(pick_back, b_gap).otherwise(f_gap).alias("gap_us"),
    )


# ---------------------------------------------------------------------------
# Bitmap-index user segmentation (activity bitmask analytics)
# ---------------------------------------------------------------------------

_BITMAP_LAST7 = ((1 << 30) - 1) - ((1 << 23) - 1)  # bits 23..29 (last 7 days)


@register(
    "activity_bitmap_segments",
    oracle=f"""
    WITH days AS (
      SELECT user_id,
             date_diff('day', DATE '2024-01-01', ts) AS day
      FROM events),
    masks AS (
      SELECT user_id,
             CAST(bit_or(CAST(power(2.0, day) AS BIGINT)) AS BIGINT) AS mask
      FROM days GROUP BY user_id)
    SELECT user_id, mask,
           CAST(bit_count(mask) AS BIGINT) AS n_active_days,
           CAST(bit_count(mask & {_BITMAP_LAST7}) AS BIGINT)
             AS active_last7_days,
           bit_count(mask) >= 10 AS engaged
    FROM masks
    """,
    covers=("A2", "P4"),
    description=(
        "bitmap-index segmentation: per-user 30-day activity bitmask via "
        "bit_or aggregate, membership questions (active-days, last-7 "
        "activity, engagement flag) answered with bit_count — the "
        "ClickHouse-retention-style formulation, one aggregate, no joins"
    ),
)
def activity_bitmap_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user day-activity bitmask over the 30-day event window.

    Each (user, day) sets bit `day`; the per-user OR-fold compresses a
    month of activity into ONE BIGINT, after which every segmentation
    question (how many active days? active in the last 7? engaged?)
    is a bit_count — no re-scan, no joins, no arrays. The day shift is
    `pow(2.0, day)` cast to long (exact for day < 53 — NOTES round-2
    gotcha: Spark's shiftleft takes only literal shift amounts).
    """
    ev = load_table(spark, sf_dir, "events")
    day = F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01").cast("date"))
    masks = (
        ev.select("user_id", F.pow(F.lit(2.0), day).cast("long").alias("bit"))
        .groupBy("user_id")
        .agg(F.bit_or("bit").alias("mask"))
    )
    return masks.select(
        "user_id",
        "mask",
        F.bit_count("mask").cast("long").alias("n_active_days"),
        F.bit_count(F.expr(f"mask & {_BITMAP_LAST7}"))
        .cast("long")
        .alias("active_last7_days"),
        (F.bit_count("mask") >= 10).alias("engaged"),
    )


@register(
    "association_rules_lift",
    oracle="""
    WITH items AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    n_baskets AS (
      SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS nb FROM items),
    item_n AS (
      SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS n
      FROM items GROUP BY l_partkey),
    pair_n AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
             CAST(COUNT(*) AS BIGINT) AS n_ab
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY a.l_partkey, b.l_partkey)
    SELECT p.part_a, p.part_b, p.n_ab,
           CAST(p.n_ab AS DOUBLE) / CAST(nb.nb AS DOUBLE) AS support,
           CAST(p.n_ab AS DOUBLE) / CAST(na.n AS DOUBLE) AS confidence,
           CAST(p.n_ab * nb.nb AS DOUBLE) / CAST(na.n * nb2.n AS DOUBLE)
             AS lift
    FROM pair_n p
    JOIN item_n na ON na.l_partkey = p.part_a
    JOIN item_n nb2 ON nb2.l_partkey = p.part_b
    CROSS JOIN n_baskets nb
    WHERE p.n_ab >= 2
    ORDER BY lift DESC, p.part_a ASC, p.part_b ASC
    LIMIT 50
    """,
    covers=("J1", "A2", "W6"),
    description=(
        "association rules over order baskets: support / confidence / lift "
        "(lift = n_ab*N / (n_a*n_b) — pure integer products, one division, "
        "no log) for the top-50 pairs by lift"
    ),
)
def association_rules_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Support/confidence/lift for co-purchased part pairs — the metric
    layer on top of `frequent_itemset_pairs`' candidate generation.

    Lift is computed as the integer-product ratio (n_ab * N) /
    (n_a * n_b) rather than through logs — exact inputs, one correctly
    rounded division, bit-reproducible. Item counts broadcast back to
    the pair aggregate (item table << pair table).
    """
    li = load_table(spark, sf_dir, "lineitem")
    items = li.select("l_orderkey", "l_partkey").distinct()
    nb = items.agg(F.count_distinct("l_orderkey").alias("nb"))
    item_n = items.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("n"))
    a = items.select("l_orderkey", F.col("l_partkey").alias("part_a"))
    b = items.select("l_orderkey", F.col("l_partkey").alias("part_b"))
    pair_n = (
        a.join(b, "l_orderkey")
        .where(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .where(F.col("n_ab") >= 2)
    )
    na = item_n.select(F.col("l_partkey").alias("part_a"), F.col("n").alias("n_a"))
    nb2 = item_n.select(F.col("l_partkey").alias("part_b"), F.col("n").alias("n_b"))
    return (
        pair_n.join(F.broadcast(na), "part_a")
        .join(F.broadcast(nb2), "part_b")
        .crossJoin(F.broadcast(nb))
        .select(
            "part_a",
            "part_b",
            "n_ab",
            (F.col("n_ab").cast("double") / F.col("nb").cast("double")).alias(
                "support"
            ),
            (F.col("n_ab").cast("double") / F.col("n_a").cast("double")).alias(
                "confidence"
            ),
            (
                (F.col("n_ab") * F.col("nb")).cast("double")
                / (F.col("n_a") * F.col("n_b")).cast("double")
            ).alias("lift"),
        )
        .orderBy(F.col("lift").desc(), F.col("part_a").asc(), F.col("part_b").asc())
        .limit(50)
    )


@register(
    "time_weighted_average_value",
    oracle="""
    WITH pts AS (
      SELECT user_id, ts, event_id,
             CAST(FLOOR(value * 1000.0) AS BIGINT) AS v_milli,
             LEAD(ts) OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS next_ts
      FROM events),
    seg AS (
      SELECT user_id, v_milli,
             (epoch_us(next_ts) - epoch_us(ts)) // 1000000 AS dur_s
      FROM pts WHERE next_ts IS NOT NULL)
    SELECT user_id,
           CAST(SUM(dur_s) AS BIGINT) AS total_s,
           CAST(SUM(v_milli * dur_s) AS BIGINT) AS weighted_milli_s,
           CAST(SUM(v_milli * dur_s) AS DOUBLE) / CAST(SUM(dur_s) AS DOUBLE)
             AS twap_milli
    FROM seg GROUP BY user_id
    """,
    covers=("W4", "A2"),
    description=(
        "time-weighted average (TWAP/step-function integral): lead window "
        "gives each observation's holding duration; integer value*seconds "
        "sums keep the integral exact"
    ),
)
def time_weighted_average_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Step-function time integral per user: each event's value holds
    until the next event; TWAP = integral / duration.

    The metric behind TWAP pricing, utilization/OEE, and
    state-duration analytics. One lead window (total-order tie-break),
    then exact BIGINT sums of value x seconds — the float-weighted
    alternative is not reproducible; the final division is.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pts = ev.select(
        "user_id",
        "ts",
        F.floor(F.col("value") * 1000.0).cast("long").alias("v_milli"),
        F.lead("ts").over(w).alias("next_ts"),
    ).where(F.col("next_ts").isNotNull())
    seg = pts.select(
        "user_id",
        "v_milli",
        (
            (F.unix_micros("next_ts") - F.unix_micros("ts")) / 1_000_000
        )
        .cast("long")
        .alias("dur_s"),
    )
    return seg.groupBy("user_id").agg(
        F.sum("dur_s").cast("long").alias("total_s"),
        F.sum(F.col("v_milli") * F.col("dur_s")).cast("long").alias(
            "weighted_milli_s"
        ),
        (
            F.sum(F.col("v_milli") * F.col("dur_s")).cast("double")
            / F.sum("dur_s").cast("double")
        ).alias("twap_milli"),
    )


@register(
    "gini_revenue_concentration",
    oracle="""
    WITH rev AS (
      SELECT o_custkey,
             CAST(SUM(CAST(FLOOR(o_totalprice * 100.0) AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders GROUP BY o_custkey),
    ranked AS (
      SELECT cents,
             ROW_NUMBER() OVER (ORDER BY cents ASC, o_custkey ASC) AS i
      FROM rev),
    agg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(cents) AS BIGINT) AS total,
             SUM(i * cents) AS weighted  -- HUGEINT: internal, not surface
      FROM ranked)
    SELECT n, total,
           CAST(2 * weighted - (n + 1) * total AS DOUBLE)
             / CAST(n * total AS DOUBLE) AS gini
    FROM agg
    """,
    covers=("A2", "W6"),
    description=(
        "exact Gini coefficient of customer revenue: rank-weighted integer "
        "sums (2*sum(i*x) - (n+1)*sum(x)) / (n*sum(x)) — one float division "
        "at the very end"
    ),
)
def gini_revenue_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-number concentration index completing the Lorenz/decile
    analysis. Every term is an exact BIGINT (cents, ranks over a total
    order); the closed-form Gini needs one division. The global
    row_number is the local formulation — at scale use the
    partition-offset ranking `surrogate_key_with_count` provides.
    """
    o = load_table(spark, sf_dir, "orders")
    rev = o.groupBy("o_custkey").agg(
        F.sum(F.floor(F.col("o_totalprice") * 100.0).cast("long")).alias("cents")
    )
    w = Window.orderBy(F.col("cents").asc(), F.col("o_custkey").asc())
    ranked = rev.select("cents", F.row_number().over(w).alias("i"))
    # The rank-weighted sum and the n*total denominator exceed BIGINT
    # two decades up (first hit at the ×100 tier: Σ i·cents ≈ 3e20 over
    # 1.5 M customers — ARITHMETIC_OVERFLOW under ANSI mode). Widen the
    # accumulators to DECIMAL(38,0) — exact like the oracle's HUGEINT,
    # and both sides round to DOUBLE identically at the final division.
    dec = "decimal(38,0)"
    agg = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").alias("total"),
        F.sum(F.col("i").cast(dec) * F.col("cents")).alias("weighted"),
    )
    return agg.select(
        "n",
        "total",
        (
            (
                F.lit(2).cast(dec) * F.col("weighted")
                - (F.col("n") + 1).cast(dec) * F.col("total")
            ).cast("double")
            / (F.col("n").cast(dec) * F.col("total")).cast("double")
        ).alias("gini"),
    )


@register(
    "weekly_growth_rates",
    oracle="""
    WITH weekly AS (
      SELECT event_type,
             date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) // 7 AS week,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2),
    with_prev AS (
      SELECT event_type, week, n,
             LAG(n) OVER (PARTITION BY event_type ORDER BY week) AS prev_n
      FROM weekly)
    SELECT event_type, CAST(week AS BIGINT) AS week, n, prev_n,
           CASE WHEN prev_n IS NULL THEN NULL
                ELSE CAST(n - prev_n AS DOUBLE) / CAST(prev_n AS DOUBLE) END
             AS wow_growth
    FROM with_prev
    """,
    covers=("W4", "A2", "P7"),
    description=(
        "week-over-week growth per event type: fixed-anchor week bucketing, "
        "lag window, growth as one exact-integer division"
    ),
)
def weekly_growth_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WoW growth — the reporting metric layered on any time-bucketed
    aggregate. Fixed-anchor week ids (no ISO-week engine differences),
    one keyed aggregate + one lag window, growth from exact counts."""
    ev = load_table(spark, sf_dir, "events")
    week = (
        F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01").cast("date"))
        / 7
    ).cast("long")
    weekly = ev.groupBy(
        "event_type", week.alias("week")
    ).agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("event_type").orderBy("week")
    wp = weekly.withColumn("prev_n", F.lag("n").over(w))
    return wp.select(
        "event_type",
        "week",
        "n",
        "prev_n",
        F.when(
            F.col("prev_n").isNotNull(),
            (F.col("n") - F.col("prev_n")).cast("double")
            / F.col("prev_n").cast("double"),
        ).alias("wow_growth"),
    )


@register(
    "join_key_skew_report",
    oracle="""
    WITH o AS (
      SELECT 'orders.o_custkey' AS key_name,
             CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_keys,
             CAST(MAX(cnt) AS BIGINT) AS max_key_rows
      FROM (SELECT o_custkey, COUNT(*) AS cnt FROM orders GROUP BY o_custkey)
      CROSS JOIN (SELECT COUNT(*) FROM orders)),
    l AS (
      SELECT 'lineitem.l_orderkey' AS key_name,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem) AS n_rows,
             CAST(COUNT(*) AS BIGINT) AS n_keys,
             CAST(MAX(cnt) AS BIGINT) AS max_key_rows
      FROM (SELECT l_orderkey, COUNT(*) AS cnt FROM lineitem
            GROUP BY l_orderkey)),
    e AS (
      SELECT 'events.user_id' AS key_name,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM events) AS n_rows,
             CAST(COUNT(*) AS BIGINT) AS n_keys,
             CAST(MAX(cnt) AS BIGINT) AS max_key_rows
      FROM (SELECT user_id, COUNT(*) AS cnt FROM events GROUP BY user_id)),
    u AS (
      SELECT key_name,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM orders) AS n_rows,
             n_keys, max_key_rows
      FROM o
      UNION ALL SELECT * FROM l
      UNION ALL SELECT * FROM e)
    SELECT key_name, n_rows, n_keys, max_key_rows,
           CAST(max_key_rows * n_keys AS DOUBLE) / CAST(n_rows AS DOUBLE)
             AS skew_factor
    FROM u
    """,
    covers=("A2", "A3", "U1"),
    description=(
        "join-key skew report across the three fact keys: rows, distinct "
        "keys, hottest-key rows, and skew factor (hottest/average) — the "
        "diagnostic read before choosing AQE skew-join settings"
    ),
)
def join_key_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-join-key skew profile: how much hotter is the hottest key
    than the average? (skew_factor = max_key_rows / (n_rows/n_keys),
    computed as the integer product ratio). The number that says
    whether a shuffle join on the key will lean on AQE's skew split."""
    parts = []
    for key_name, tbl, key in [
        ("orders.o_custkey", "orders", "o_custkey"),
        ("lineitem.l_orderkey", "lineitem", "l_orderkey"),
        ("events.user_id", "events", "user_id"),
    ]:
        t = load_table(spark, sf_dir, tbl)
        per = t.groupBy(key).agg(F.count(F.lit(1)).alias("cnt"))
        parts.append(
            per.agg(
                F.lit(key_name).alias("key_name"),
                F.sum("cnt").alias("n_rows"),
                F.count(F.lit(1)).alias("n_keys"),
                F.max("cnt").alias("max_key_rows"),
            )
        )
    u = parts[0].unionByName(parts[1]).unionByName(parts[2])
    return u.select(
        "key_name",
        F.col("n_rows").cast("long").alias("n_rows"),
        "n_keys",
        "max_key_rows",
        (
            (F.col("max_key_rows") * F.col("n_keys")).cast("double")
            / F.col("n_rows").cast("double")
        ).alias("skew_factor"),
    )


@register(
    "quantified_all_subquery",
    oracle="""
    SELECT o.o_orderkey, o.o_custkey,
           ROUND(o.o_totalprice, 2) AS totalprice
    FROM orders o
    WHERE o.o_totalprice > ALL (
            SELECT o2.o_totalprice FROM orders o2
            WHERE o2.o_custkey = o.o_custkey
              AND o2.o_orderkey <> o.o_orderkey)
      AND EXISTS (
            SELECT 1 FROM orders o3
            WHERE o3.o_custkey = o.o_custkey
              AND o3.o_orderkey <> o.o_orderkey)
    """,
    covers=("W1", "A2", "P6"),
    description=(
        "quantified subquery (> ALL siblings) decorrelated to one window "
        "pass: strictly-greatest order per multi-order customer; the oracle "
        "keeps the correlated ALL/EXISTS form, certifying the rewrite"
    ),
)
def quantified_all_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders strictly greater than ALL the customer's other orders.

    The correlated `> ALL` + EXISTS pair is the classic quantified-
    subquery shape optimizers must decorrelate; here it is written
    directly as the decorrelated plan — one window over (custkey)
    computing group count and the top-2 prices, keeping rows where
    n > 1 and price > second-highest (strictness: ties on the max
    disqualify). One shuffle; no per-row subquery execution.
    """
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey")
    rnk = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    annotated = o.select(
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        F.count(F.lit(1)).over(w).alias("n"),
        F.row_number().over(rnk).alias("rk"),
        F.max("o_totalprice").over(w).alias("mx"),
        F.sum(
            F.when(F.col("o_totalprice") == F.max("o_totalprice").over(w), 1)
        )
        .over(w)
        .alias("n_at_max"),
    )
    return annotated.where(
        (F.col("n") > 1)
        & (F.col("rk") == 1)
        & (F.col("n_at_max") == 1)
    ).select(
        "o_orderkey",
        "o_custkey",
        F.round("o_totalprice", 2).alias("totalprice"),
    )


@register(
    "cumulative_unique_users",
    oracle="""
    WITH firsts AS (
      SELECT user_id, MIN(CAST(ts AS DATE)) AS first_day
      FROM events GROUP BY user_id),
    per_day AS (
      SELECT first_day AS day, CAST(COUNT(*) AS BIGINT) AS new_users
      FROM firsts GROUP BY first_day)
    SELECT CAST(day AS VARCHAR) AS day, new_users,
           CAST(SUM(new_users) OVER (ORDER BY day
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS cumulative_users
    FROM per_day
    """,
    covers=("A2", "W4", "A3"),
    description=(
        "cumulative-unique-users growth curve: first-seen attribution (MIN "
        "date per user), daily new-user counts, exact-integer running sum"
    ),
)
def cumulative_unique_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The activation growth curve: users attributed to their first-seen
    day, cumulated. Distinct-counting over time done the scalable way —
    attribute each user ONCE (min-date aggregate), then a daily count
    and a running integer sum over the (tiny) per-day series, instead
    of a per-day COUNT(DISTINCT) re-scan which is O(days x corpus)."""
    ev = load_table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.min(F.col("ts").cast("date")).alias("first_day")
    )
    per_day = firsts.groupBy(F.col("first_day").alias("day")).agg(
        F.count(F.lit(1)).alias("new_users")
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return per_day.select(
        F.col("day").cast("string").alias("day"),
        "new_users",
        F.sum("new_users").over(w).cast("long").alias("cumulative_users"),
    )


@register(
    "robust_stats_mad",
    oracle="""
    WITH med AS (
      SELECT o_orderpriority,
             quantile_cont(o_totalprice, 0.5) AS p50
      FROM orders GROUP BY o_orderpriority),
    dev AS (
      SELECT o.o_orderpriority, ABS(o.o_totalprice - m.p50) AS adev
      FROM orders o JOIN med m ON m.o_orderpriority = o.o_orderpriority)
    SELECT d.o_orderpriority,
           ROUND(m.p50, 4) AS p50,
           ROUND(quantile_cont(d.adev, 0.5), 4) AS mad,
           CAST(SUM(CASE WHEN d.adev > 3.0 * 50000.0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_far_outliers
    FROM dev d JOIN med m ON m.o_orderpriority = d.o_orderpriority
    GROUP BY d.o_orderpriority, m.p50
    """,
    covers=("A2", "J1"),
    description=(
        "robust statistics: median absolute deviation per group (two exact "
        "interpolated-percentile passes; absolute deviation is one "
        "fixed-order float expression) + fixed-threshold outlier counts"
    ),
)
def robust_stats_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median + MAD per order priority — the robust spread statistic
    that mean/stddev-based monitors lack (one wild value moves stddev,
    not MAD). Two-phase: group medians (tiny, broadcast back), then
    the median of absolute deviations. Both medians use the exact
    interpolated percentile (ordered aggregate — deterministic, unlike
    a sampled approx quantile), and the deviation is a single
    subtraction/abs both engines compute identically. The outlier
    count uses a FIXED literal threshold — a data-derived float
    threshold would put rows on representability boundaries."""
    o = load_table(spark, sf_dir, "orders")
    med = o.groupBy("o_orderpriority").agg(
        F.percentile("o_totalprice", F.lit(0.5)).alias("p50")
    )
    dev = o.join(F.broadcast(med), "o_orderpriority").select(
        "o_orderpriority",
        "p50",
        F.abs(F.col("o_totalprice") - F.col("p50")).alias("adev"),
    )
    return dev.groupBy("o_orderpriority", "p50").agg(
        F.round(F.percentile("adev", F.lit(0.5)), 4).alias("mad"),
        F.sum(F.when(F.col("adev") > 3.0 * 50000.0, 1).otherwise(0))
        .cast("long")
        .alias("n_far_outliers"),
    ).select(
        "o_orderpriority",
        F.round("p50", 4).alias("p50"),
        "mad",
        "n_far_outliers",
    )


@register(
    "dataset_drift_report",
    oracle="""
    WITH tagged AS (
      SELECT lang,
             CASE WHEN CAST(substr(source, 4) AS BIGINT) < 10
                  THEN 'old' ELSE 'new' END AS cohort
      FROM documents),
    counts AS (
      SELECT lang,
             CAST(SUM(CASE WHEN cohort = 'old' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_old,
             CAST(SUM(CASE WHEN cohort = 'new' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_new
      FROM tagged GROUP BY lang),
    tot AS (
      SELECT CAST(SUM(n_old) AS BIGINT) AS t_old,
             CAST(SUM(n_new) AS BIGINT) AS t_new
      FROM counts)
    SELECT c.lang, c.n_old, c.n_new,
           CAST(c.n_old AS DOUBLE) / CAST(t.t_old AS DOUBLE) AS share_old,
           CAST(c.n_new AS DOUBLE) / CAST(t.t_new AS DOUBLE) AS share_new,
           CAST(ABS(c.n_new * t.t_old - c.n_old * t.t_new) AS BIGINT)
             AS drift_cross,
           c.n_new * t.t_old > 2 * c.n_old * t.t_new
             OR c.n_old * t.t_new > 2 * c.n_new * t.t_old AS drifted
    FROM counts c CROSS JOIN tot t
    """,
    covers=("A2", "P7", "J1"),
    description=(
        "dataset drift report: language-mix comparison between corpus "
        "cohorts; divergence and the 2x-drift flag evaluated on integer "
        "cross-products (n_new*t_old vs n_old*t_new) — no float boundary "
        "can flip the verdict"
    ),
)
def dataset_drift_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingestion-monitoring drift check: did the language mix shift
    between the old sources (src0-9) and the new ones (src10+)?

    The drift verdict compares proportions WITHOUT dividing: share_new
    > 2 x share_old iff n_new*t_old > 2*n_old*t_new — exact BIGINT
    cross-products, so the flag can never flip on a float boundary
    (the reported shares are display-only single divisions). One
    aggregate over the corpus; the totals row broadcasts.
    """
    d = _docs(spark, sf_dir)
    cohort = F.when(
        F.substring("source", 4, 10).cast("long") < 10, "old"
    ).otherwise("new")
    counts = d.select("lang", cohort.alias("cohort")).groupBy("lang").agg(
        F.sum(F.when(F.col("cohort") == "old", 1).otherwise(0)).alias("n_old"),
        F.sum(F.when(F.col("cohort") == "new", 1).otherwise(0)).alias("n_new"),
    )
    tot = counts.agg(
        F.sum("n_old").alias("t_old"), F.sum("n_new").alias("t_new")
    )
    j = counts.crossJoin(F.broadcast(tot))
    return j.select(
        "lang",
        F.col("n_old").cast("long").alias("n_old"),
        F.col("n_new").cast("long").alias("n_new"),
        (F.col("n_old").cast("double") / F.col("t_old").cast("double")).alias(
            "share_old"
        ),
        (F.col("n_new").cast("double") / F.col("t_new").cast("double")).alias(
            "share_new"
        ),
        F.abs(
            F.col("n_new") * F.col("t_old") - F.col("n_old") * F.col("t_new")
        )
        .cast("long")
        .alias("drift_cross"),
        (
            (F.col("n_new") * F.col("t_old") > 2 * F.col("n_old") * F.col("t_new"))
            | (F.col("n_old") * F.col("t_new") > 2 * F.col("n_new") * F.col("t_old"))
        ).alias("drifted"),
    )


@register(
    "revenue_share_within_region",
    oracle="""
    WITH nat AS (
      SELECT r.r_name AS region, n.n_name AS nation,
             CAST(SUM(CAST(FLOOR(o.o_totalprice * 100.0) AS BIGINT))
                  AS BIGINT) AS cents
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey
      GROUP BY r.r_name, n.n_name)
    SELECT region, nation, cents,
           CAST(cents AS DOUBLE)
             / CAST(SUM(cents) OVER (PARTITION BY region) AS DOUBLE)
             AS share_in_region,
           RANK() OVER (PARTITION BY region ORDER BY cents DESC, nation ASC)
             AS rank_in_region
    FROM nat
    """,
    covers=("W6", "A2", "J1"),
    description=(
        "percent-of-total window (ratio_to_report): nation revenue share "
        "within region — the group-total window over exact integer cents, "
        "so the share division is the only float"
    ),
)
def revenue_share_within_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Share-of-total within a hierarchy level — the ratio_to_report
    pattern (Oracle's name for it) every BI layer needs. The window
    SUM runs over exact integer cents (order-insensitive), so the
    share is one deterministic division; rank has a total-order
    tie-break. Joins: nation/region broadcast (fixed dims), customer
    left to AQE per the repo broadcast policy."""
    o = load_table(spark, sf_dir, "orders")
    cst = load_table(spark, sf_dir, "customer")
    nat = load_table(spark, sf_dir, "nation")
    reg = load_table(spark, sf_dir, "region")
    base = (
        o.join(cst, o["o_custkey"] == cst["c_custkey"])
        .join(F.broadcast(nat), cst["c_nationkey"] == nat["n_nationkey"])
        .join(F.broadcast(reg), nat["n_regionkey"] == reg["r_regionkey"])
        .groupBy(
            F.col("r_name").alias("region"), F.col("n_name").alias("nation")
        )
        .agg(
            F.sum(F.floor(F.col("o_totalprice") * 100.0).cast("long")).alias(
                "cents"
            )
        )
    )
    w = Window.partitionBy("region")
    wr = Window.partitionBy("region").orderBy(
        F.col("cents").desc(), F.col("nation").asc()
    )
    return base.select(
        "region",
        "nation",
        "cents",
        (
            F.col("cents").cast("double")
            / F.sum("cents").over(w).cast("double")
        ).alias("share_in_region"),
        F.rank().over(wr).alias("rank_in_region"),
    )


@register(
    "null_profile_report",
    oracle="""
    SELECT 'orders' AS tbl, 'o_comment_missing' AS metric,
           CAST(0 AS BIGINT) AS n_null,
           CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM orders
    UNION ALL
    SELECT 'events', 'props_null',
           CAST(SUM(CASE WHEN props IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(COUNT(*) AS BIGINT)
    FROM events
    UNION ALL
    SELECT 'events', 'value_null',
           CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(COUNT(*) AS BIGINT)
    FROM events
    UNION ALL
    SELECT 'documents', 'text_empty',
           CAST(SUM(CASE WHEN text IS NULL OR text = '' THEN 1 ELSE 0 END)
                AS BIGINT),
           CAST(COUNT(*) AS BIGINT)
    FROM documents
    """,
    covers=("A4", "A2", "U1"),
    description=(
        "null/empty-value profile across tables in single-scan aggregates "
        "(conditional-sum null counting, the profiling pass run before "
        "every ingestion) — unioned into one report frame"
    ),
)
def null_profile_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table completeness profile: one scan per table computes
    ALL its null/empty metrics as conditional sums (never one job per
    column), unioned into a single report. The same one-scan shape
    `operators/expectations.py` generalizes; this is the fixed-metric
    profiling twin with a full value-hash oracle.
    """
    o = load_table(spark, sf_dir, "orders")
    ev = load_table(spark, sf_dir, "events")
    d = _docs(spark, sf_dir)
    rows_o = o.agg(
        F.lit("orders").alias("tbl"),
        F.lit("o_comment_missing").alias("metric"),
        F.lit(0).cast("long").alias("n_null"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    ev_counts = ev.agg(
        F.sum(F.when(F.col("props").isNull(), 1).otherwise(0)).alias("p_null"),
        F.sum(F.when(F.col("value").isNull(), 1).otherwise(0)).alias("v_null"),
        F.count(F.lit(1)).alias("n"),
    )
    rows_ev1 = ev_counts.select(
        F.lit("events").alias("tbl"),
        F.lit("props_null").alias("metric"),
        F.col("p_null").cast("long").alias("n_null"),
        F.col("n").alias("n_rows"),
    )
    rows_ev2 = ev_counts.select(
        F.lit("events").alias("tbl"),
        F.lit("value_null").alias("metric"),
        F.col("v_null").cast("long").alias("n_null"),
        F.col("n").alias("n_rows"),
    )
    rows_d = d.agg(
        F.lit("documents").alias("tbl"),
        F.lit("text_empty").alias("metric"),
        F.sum(
            F.when(F.col("text").isNull() | (F.col("text") == ""), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_null"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    return rows_o.unionByName(rows_ev1).unionByName(rows_ev2).unionByName(rows_d)


# ---------------------------------------------------------------------------
# MMR diversity re-ranking (unrolled greedy, declarative)
# ---------------------------------------------------------------------------

def _mmr_oracle(k: int = 5, lam: str = "0.5") -> str:
    head = """
    WITH qv AS (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings
                WHERE vec_id = 0),
    rel AS (
      SELECT e.vec_id,
             ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), qv.v), 5)
               AS rel
      FROM embeddings e, qv WHERE e.vec_id <> 0
      ORDER BY rel DESC, e.vec_id ASC LIMIT 10),
    pair AS (
      SELECT a.vec_id AS ia, b.vec_id AS ib,
             ROUND(list_cosine_similarity(
               (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings
                WHERE vec_id = a.vec_id),
               (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings
                WHERE vec_id = b.vec_id)), 5) AS sim
      FROM rel a JOIN rel b ON a.vec_id <> b.vec_id),
    sel1 AS (
      SELECT vec_id, rel, 1 AS pick
      FROM rel ORDER BY rel DESC, vec_id ASC LIMIT 1)"""
    steps = []
    for i in range(2, k + 1):
        prev_sels = " UNION ALL ".join(
            f"SELECT vec_id FROM sel{j}" for j in range(1, i)
        )
        steps.append(f"""
    cand{i} AS (
      SELECT r.vec_id, r.rel,
             (SELECT MAX(p.sim) FROM pair p
              WHERE p.ia = r.vec_id
                AND p.ib IN ({prev_sels})) AS maxsim
      FROM rel r WHERE r.vec_id NOT IN ({prev_sels})),
    sel{i} AS (
      SELECT vec_id, rel, {i} AS pick
      FROM (SELECT vec_id, rel,
                   {lam} * rel - (1.0 - {lam}) * maxsim AS score
            FROM cand{i})
      ORDER BY score DESC, vec_id ASC LIMIT 1)""")
    union = " UNION ALL ".join(f"SELECT * FROM sel{j}" for j in range(1, k + 1))
    return (
        head
        + ","
        + ",".join(steps)
        + f"""
    SELECT CAST(pick AS BIGINT) AS pick, vec_id, rel
    FROM ({union}) ORDER BY pick"""
    )


@register(
    "mmr_diverse_rerank",
    oracle=_mmr_oracle(),
    covers=("J1", "W1", "W6"),
    description=(
        "MMR diversity re-ranking (lambda=0.5, k=5 from a top-10 pool): "
        "distributed exact top-k builds the pool, then the inherently "
        "sequential greedy runs driver-side over the k-bounded pool "
        "(k rows + k^2 pairwise sims collected — corpus-size-independent)"
    ),
)
def mmr_diverse_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance: pick 5 results balancing relevance
    against redundancy (score = l*rel - (1-l)*max sim to already-picked).

    The corpus-sized work — exact top-10 relevance and the pool's
    pairwise cosines — is distributed; the greedy selection itself is
    inherently sequential over a K-BOUNDED pool (10 rows + <=90 pairwise
    sims, independent of corpus size), so it runs driver-side on the
    collected pool. This is the same bounded-collect class as the IVF
    centroid refine: at 100 TB the collect is still 10 rows. The
    previous formulation unrolled the greedy as five declarative argmax
    steps with a per-step localCheckpoint pin; that kept selection
    lazy but paid four planning passes + four eager checkpoint
    conversions for 10-row frames (measured r14: 26 Spark jobs,
    ~1.3 s driver time vs ~5 jobs here). Scores derive from 5dp-rounded
    cosines with exact IEEE-double linear combinations and total-order
    tie-breaks (score desc, vec_id asc) — Python and JVM doubles agree
    bit-for-bit, and the DuckDB oracle pins the result either way.
    """
    e = load_table(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") == 0)
    c = e.where(F.col("vec_id") != 0)
    from ska_src_maltopuft_etl_spark.plans.llmops import _emb_dim

    dim = _emb_dim(spark, sf_dir)
    rel_rows = (
        similarity.cosine_topk_bruteforce(
            q, c, "vec_id", "embedding", k=10, dim=dim
        )
        .select(F.col("neighbor_id").alias("vec_id"), F.col("cosine").alias("rel"))
        .collect()  # k-bounded: 10 rows at any corpus size
    )
    from ska_src_maltopuft_etl_spark.operators.similarity import (
        _as_double_vec,
        dot_expr,
        l2_norm,
    )

    pool_ids = [r["vec_id"] for r in rel_rows]
    # pairwise candidate-candidate cosines (10x10, JVM-side fold, one job)
    pv = (
        c.where(F.col("vec_id").isin(pool_ids))
        .select(
            F.col("vec_id").alias("ia"),
            _as_double_vec(F.col("embedding")).alias("da"),
        )
        .withColumn("na", l2_norm(F.col("da")))
    )
    pvb = pv.select(
        F.col("ia").alias("ib"), F.col("da").alias("db"), F.col("na").alias("nb")
    )
    sim_rows = (
        pv.crossJoin(pvb)
        .where(F.col("ia") != F.col("ib"))
        .select(
            "ia",
            "ib",
            F.round(
                dot_expr("da", "db", dim) / (F.col("na") * F.col("nb")), 5
            ).alias("sim"),
        )
        .collect()  # k^2-bounded: <=90 rows
    )
    sim = {(r["ia"], r["ib"]): r["sim"] for r in sim_rows}

    # Greedy over the collected pool. Same arithmetic as the JVM form:
    # 0.5 * rel - (1.0 - 0.5) * maxsim on IEEE doubles, ties broken
    # (score desc, vec_id asc); first pick is plain (rel desc, vec_id asc).
    rest = sorted(rel_rows, key=lambda r: (-r["rel"], r["vec_id"]))
    selected: list[tuple[int, int, float]] = []
    picked: list[int] = []
    for i in range(1, 6):
        if not rest:
            break
        if i == 1:
            best = rest[0]
        else:
            best, best_key = None, None
            for r in rest:
                maxsim = max(sim[(r["vec_id"], p)] for p in picked)
                score = 0.5 * r["rel"] - (1.0 - 0.5) * maxsim
                key = (-score, r["vec_id"])
                if best is None or key < best_key:
                    best, best_key = r, key
        selected.append((i, best["vec_id"], best["rel"]))
        picked.append(best["vec_id"])
        rest = [r for r in rest if r["vec_id"] != best["vec_id"]]

    id_type = e.schema["vec_id"].dataType.simpleString()
    if not selected:
        return spark.createDataFrame(
            [], f"pick long, vec_id {id_type}, rel double"
        )
    # Emit the k result rows as JVM literals (explode of a struct
    # array): a Python-RDD-backed local frame would pay one Python
    # worker round-trip per downstream action for 5 rows.
    rows = F.array(
        *[
            F.struct(
                F.lit(p).cast("long").alias("pick"),
                F.lit(v).cast(id_type).alias("vec_id"),
                F.lit(rv).cast("double").alias("rel"),
            )
            for p, v, rv in selected
        ]
    )
    out = (
        spark.range(1)
        .select(F.explode(rows).alias("r"))
        .select("r.pick", "r.vec_id", "r.rel")
    )
    return out.orderBy("pick")


@register(
    "conversion_wilson_ci",
    oracle="""
    WITH per_user AS (
      SELECT user_id,
             MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS saw,
             MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS converted
      FROM events GROUP BY user_id),
    agg AS (
      SELECT CAST(SUM(saw) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN saw = 1 THEN converted ELSE 0 END) AS BIGINT)
               AS k
      FROM per_user)
    SELECT n, k,
           CAST(k AS DOUBLE) / CAST(n AS DOUBLE) AS p_hat,
           ((CAST(k AS DOUBLE) / CAST(n AS DOUBLE))
              + (1.96 * 1.96) / (2.0 * CAST(n AS DOUBLE))
              - 1.96 * sqrt(((CAST(k AS DOUBLE) / CAST(n AS DOUBLE))
                               * (1.0 - CAST(k AS DOUBLE) / CAST(n AS DOUBLE))
                             + (1.96 * 1.96) / (4.0 * CAST(n AS DOUBLE)))
                            / CAST(n AS DOUBLE)))
             / (1.0 + (1.96 * 1.96) / CAST(n AS DOUBLE)) AS wilson_lo,
           ((CAST(k AS DOUBLE) / CAST(n AS DOUBLE))
              + (1.96 * 1.96) / (2.0 * CAST(n AS DOUBLE))
              + 1.96 * sqrt(((CAST(k AS DOUBLE) / CAST(n AS DOUBLE))
                               * (1.0 - CAST(k AS DOUBLE) / CAST(n AS DOUBLE))
                             + (1.96 * 1.96) / (4.0 * CAST(n AS DOUBLE)))
                            / CAST(n AS DOUBLE)))
             / (1.0 + (1.96 * 1.96) / CAST(n AS DOUBLE)) AS wilson_hi
    FROM agg
    """,
    covers=("A2", "P7"),
    description=(
        "conversion rate with Wilson 95% confidence bounds — the A/B-test "
        "statistic computed bit-reproducibly (sqrt IS correctly rounded per "
        "IEEE 754, unlike ln/erf; every other op is +,-,*,/ in one fixed "
        "order)"
    ),
)
def conversion_wilson_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """View→purchase conversion with a Wilson score interval.

    The interval estimators analysts actually need (Wilson beats the
    normal approximation at small k) built from exact integer (n, k)
    and a formula containing only +,-,*,/ and sqrt — all of which
    IEEE 754 requires to be correctly rounded, so writing the SAME
    expression tree in both engines yields identical bits. (A z-test
    p-value would need erf — not reproducible; the CI carries the
    same decision information.)
    """
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.max(F.when(F.col("event_type") == "view", 1).otherwise(0)).alias("saw"),
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
            "conv"
        ),
    )
    agg = per_user.agg(
        F.sum("saw").alias("n"),
        F.sum(F.when(F.col("saw") == 1, F.col("conv")).otherwise(0)).alias("k"),
    )
    n = F.col("n").cast("double")
    p = F.col("k").cast("double") / n
    z2 = F.lit(1.96) * F.lit(1.96)
    center = p + z2 / (F.lit(2.0) * n)
    margin = F.lit(1.96) * F.sqrt(
        (p * (F.lit(1.0) - p) + z2 / (F.lit(4.0) * n)) / n
    )
    denom = F.lit(1.0) + z2 / n
    return agg.select(
        "n",
        "k",
        p.alias("p_hat"),
        ((center - margin) / denom).alias("wilson_lo"),
        ((center + margin) / denom).alias("wilson_hi"),
    )


@register(
    "cusum_changepoint",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS x
      FROM events GROUP BY 1, 2),
    tot AS (
      SELECT event_type,
             CAST(SUM(x) AS BIGINT) AS t,
             CAST(COUNT(*) AS BIGINT) AS nd
      FROM daily GROUP BY event_type),
    cusum AS (
      SELECT d.event_type, d.day,
             CAST(SUM(d.x * tt.nd - tt.t) OVER (
               PARTITION BY d.event_type ORDER BY d.day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS c
      FROM daily d JOIN tot tt ON tt.event_type = d.event_type),
    peak AS (
      SELECT event_type, day, c,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY ABS(c) DESC, day ASC) AS rn
      FROM cusum)
    SELECT event_type, CAST(day AS VARCHAR) AS changepoint_day,
           c AS cusum_at_peak
    FROM peak WHERE rn = 1
    """,
    covers=("W4", "A2", "J1"),
    description=(
        "CUSUM changepoint detection per series: cumulative deviation from "
        "the series mean computed as exact cross-multiplied integers "
        "(x*n_days - total), peak |CUSUM| locates the level shift"
    ),
)
def cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Where did each event type's daily volume shift level?

    Classic CUSUM: the running sum of deviations from the series mean
    peaks (in absolute value) at the changepoint. Determinism trick
    once more: deviations are (x * n_days - total) — the mean never
    gets divided out, so every cumulative value is an exact BIGINT and
    the argmax cannot tie-break differently across engines. One
    aggregate, one broadcast of per-series totals, one window.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).alias("x"))
    tot = daily.groupBy("event_type").agg(
        F.sum("x").alias("t"), F.count(F.lit(1)).alias("nd")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cusum = daily.join(F.broadcast(tot), "event_type").select(
        "event_type",
        "day",
        F.sum(F.col("x") * F.col("nd") - F.col("t"))
        .over(w)
        .cast("long")
        .alias("c"),
    )
    rk = Window.partitionBy("event_type").orderBy(
        F.abs(F.col("c")).desc(), F.col("day").asc()
    )
    return (
        cusum.withColumn("rn", F.row_number().over(rk))
        .where(F.col("rn") == 1)
        .select(
            "event_type",
            F.col("day").cast("string").alias("changepoint_day"),
            F.col("c").alias("cusum_at_peak"),
        )
    )


@register(
    "exp_smoothing_daily",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS x
      FROM events GROUP BY 1, 2),
    series AS (
      SELECT event_type,
             list(x ORDER BY day) AS xs,
             CAST(COUNT(*) AS BIGINT) AS n_days
      FROM daily GROUP BY event_type)
    SELECT event_type, n_days,
           CAST(xs[len(xs)] AS BIGINT) AS last_raw,
           CAST(list_reduce(xs, (acc, x) -> (acc * 3 + x) // 4) AS BIGINT)
             AS ema_final
    FROM series
    """,
    covers=("A2", "R1", "W6"),
    description=(
        "integer exponential smoothing (alpha=1/4 EMA as (acc*3+x) DIV 4): "
        "the sequential recurrence no window aggregate can express, run as "
        "an ordered per-series array fold — exact at every step"
    ),
)
def exp_smoothing_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Final EMA of each event type's daily volume.

    Exponential smoothing is a true recurrence (each state depends on
    the previous output), which no window frame expresses — the
    Spark-first shape is collect the (small) per-series array in time
    order and FOLD it (`F.aggregate`, sequential by definition).
    Integer fixed-point (s' = (3s + x) DIV 4) keeps every intermediate
    exact, so the fold is bit-reproducible across engines — float EMA
    would drift. Arrays here are days-per-series (bounded); for
    unbounded series, segment + carry the state through
    `incremental_agg`-style checkpoints.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).alias("x"))
    series = daily.groupBy("event_type").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("day", "x"))),
            lambda s: s["x"],
        ).alias("xs"),
        F.count(F.lit(1)).alias("n_days"),
    )
    xs = F.col("xs")
    # (3s + x) DIV 4 — floor division on positive longs; expressed as
    # (v - v % 4) / 4 to stay in Column algebra (DIV needs expr text)
    ema = F.aggregate(
        F.slice(xs, 2, F.size(xs) - 1),
        F.element_at(xs, 1),
        lambda acc, x: (
            ((acc * 3 + x) - ((acc * 3 + x) % 4)) / 4
        ).cast("long"),
    ).cast("long")
    return series.select(
        "event_type",
        "n_days",
        F.element_at(xs, -1).cast("long").alias("last_raw"),
        ema.alias("ema_final"),
    )


@register(
    "rfm_segmentation",
    oracle="""
    WITH per_cust AS (
      SELECT o_custkey,
             CAST(date_diff('day', MAX(o_orderdate), DATE '1998-12-31')
                  AS BIGINT) AS recency_days,
             CAST(COUNT(*) AS BIGINT) AS frequency,
             CAST(SUM(CAST(FLOOR(o_totalprice * 100.0) AS BIGINT)) AS BIGINT)
               AS monetary_cents
      FROM orders GROUP BY o_custkey),
    scored AS (
      SELECT o_custkey, recency_days, frequency, monetary_cents,
             NTILE(5) OVER (ORDER BY recency_days ASC, o_custkey ASC) AS r,
             NTILE(5) OVER (ORDER BY frequency DESC, o_custkey ASC) AS f,
             NTILE(5) OVER (ORDER BY monetary_cents DESC, o_custkey ASC) AS m
      FROM per_cust)
    SELECT CAST(r AS BIGINT) AS r, CAST(f AS BIGINT) AS f,
           CAST(m AS BIGINT) AS m,
           r || '-' || f || '-' || m AS segment,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(monetary_cents) AS BIGINT) AS segment_cents
    FROM scored GROUP BY r, f, m
    """,
    covers=("A2", "W6", "F4"),
    description=(
        "RFM customer segmentation: recency/frequency/monetary quintiles "
        "(total-order NTILEs over exact integers, fixed anchor date), "
        "segment rollup with exact cents"
    ),
)
def rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CRM staple: score every customer 1-5 on recency, frequency,
    and monetary value, then roll up the 125 segments. All three
    inputs are exact integers (days to a FIXED anchor, counts, cents)
    and every NTILE has a total-order tie-break, so quintile
    boundaries cannot move between engines. NTILE's global sort is the
    local formulation — quantile boundaries are the scale path, as
    documented on `histogram_equi_depth`."""
    o = load_table(spark, sf_dir, "orders")
    per = o.groupBy("o_custkey").agg(
        F.datediff(
            F.lit("1998-12-31").cast("date"), F.max(F.col("o_orderdate"))
        )
        .cast("long")
        .alias("recency_days"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(F.floor(F.col("o_totalprice") * 100.0).cast("long")).alias(
            "monetary_cents"
        ),
    )
    wr = Window.orderBy(F.col("recency_days").asc(), F.col("o_custkey").asc())
    wf = Window.orderBy(F.col("frequency").desc(), F.col("o_custkey").asc())
    wm = Window.orderBy(
        F.col("monetary_cents").desc(), F.col("o_custkey").asc()
    )
    scored = per.select(
        "monetary_cents",
        F.ntile(5).over(wr).alias("r"),
        F.ntile(5).over(wf).alias("f"),
        F.ntile(5).over(wm).alias("m"),
    )
    return scored.groupBy("r", "f", "m").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum("monetary_cents").cast("long").alias("segment_cents"),
    ).select(
        F.col("r").cast("long").alias("r"),
        F.col("f").cast("long").alias("f"),
        F.col("m").cast("long").alias("m"),
        F.concat_ws("-", "r", "f", "m").alias("segment"),
        "n_customers",
        "segment_cents",
    )


@register(
    "triangle_count_copurchase",
    oracle="""
    WITH items AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e AS (
      SELECT a.l_partkey AS u, b.l_partkey AS v
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY a.l_partkey, b.l_partkey
      HAVING COUNT(*) >= 2),
    tri AS (
      SELECT e1.u AS a, e1.v AS b, e2.v AS c
      FROM e e1
      JOIN e e2 ON e2.u = e1.v
      JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles,
           CAST(COUNT(DISTINCT a) + COUNT(DISTINCT b) + COUNT(DISTINCT c)
                AS BIGINT) AS corner_distincts,
           CAST(MIN(a) AS BIGINT) AS min_a,
           CAST(MAX(c) AS BIGINT) AS max_c
    FROM tri
    """,
    covers=("J1", "A2"),
    description=(
        "triangle counting on the strong co-purchase graph (edges = part "
        "pairs sharing >= 2 orders, oriented a<b<c so each triangle counts "
        "once): the canonical two-join formulation"
    ),
)
def triangle_count_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count triangles among strongly co-purchased parts.

    The canonical distributed formulation: orient every edge low→high,
    then E ⋈ E (wedge enumeration) ⋈ E (closure check) counts each
    triangle exactly once — degree-ordering orientation is also what
    bounds wedge counts on power-law graphs (each wedge pivots on the
    lower-id node). Edges come pre-thresholded (support >= 2) so the
    wedge join is over the strong subgraph, not all co-occurrence.
    """
    li = load_table(spark, sf_dir, "lineitem")
    items = li.select("l_orderkey", "l_partkey").distinct()
    a = items.select("l_orderkey", F.col("l_partkey").alias("u"))
    b = items.select("l_orderkey", F.col("l_partkey").alias("v"))
    e = (
        a.join(b, "l_orderkey")
        .where(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") >= 2)
        .select("u", "v")
        .localCheckpoint(eager=False)  # three self-join references, one materialization
    )
    e1 = e.select(F.col("u").alias("a"), F.col("v").alias("b"))
    e2 = e.select(F.col("u").alias("b"), F.col("v").alias("c"))
    e3 = e.select(F.col("u").alias("a2"), F.col("v").alias("c2"))
    tri = (
        e1.join(e2, "b")
        .join(
            e3,
            (F.col("a") == F.col("a2")) & (F.col("c") == F.col("c2")),
        )
    )
    return tri.agg(
        F.count(F.lit(1)).alias("n_triangles"),
        (
            F.count_distinct("a")
            + F.count_distinct("b")
            + F.count_distinct("c")
        )
        .cast("long")
        .alias("corner_distincts"),
        F.min("a").alias("min_a"),
        F.max("c").alias("max_c"),
    )


@register(
    "source_vocab_overlap",
    oracle="""
    WITH vocab AS (
      SELECT DISTINCT source, w
      FROM (SELECT source,
                   UNNEST(list_filter(string_split(text, ' '), x -> x <> ''))
                     AS w
            FROM documents)),
    sizes AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS sz
      FROM vocab GROUP BY source),
    inter AS (
      SELECT a.source AS src_a, b.source AS src_b,
             CAST(COUNT(*) AS BIGINT) AS isect
      FROM vocab a JOIN vocab b ON a.w = b.w AND a.source < b.source
      GROUP BY a.source, b.source)
    SELECT i.src_a, i.src_b, i.isect,
           sa.sz AS size_a, sb.sz AS size_b,
           CAST(i.isect AS DOUBLE)
             / CAST(sa.sz + sb.sz - i.isect AS DOUBLE) AS vocab_jaccard
    FROM inter i
    JOIN sizes sa ON sa.source = i.src_a
    JOIN sizes sb ON sb.source = i.src_b
    ORDER BY vocab_jaccard DESC, i.src_a ASC, i.src_b ASC
    LIMIT 40
    """,
    covers=("R1", "A3", "J1"),
    description=(
        "source-level vocabulary overlap matrix (distinct-token Jaccard per "
        "source pair): the corpus-composition diagnostic deciding whether "
        "two ingestion feeds are redundant; top-40 with total-order "
        "tie-break"
    ),
)
def source_vocab_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Which ingestion sources speak the same vocabulary?

    The per-DOCUMENT Jaccard machinery (`dedup_ngram_jaccard`) lifted
    to source granularity: distinct (source, token) pairs, a token
    self-join for pairwise intersections (the |sources|² factor is
    tiny — it's the source COUNT, not the corpus, that's squared),
    sizes broadcast back, one division per pair.
    """
    d = _docs(spark, sf_dir)
    vocab = d.select(
        "source", F.explode(text.tokens("text")).alias("w")
    ).distinct()
    sizes = vocab.groupBy("source").agg(F.count(F.lit(1)).alias("sz"))
    a = vocab.select(F.col("source").alias("src_a"), "w")
    b = vocab.select(F.col("source").alias("src_b"), "w")
    inter = (
        a.join(b, "w")
        .where(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).alias("isect"))
    )
    sa = sizes.select(F.col("source").alias("src_a"), F.col("sz").alias("size_a"))
    sb = sizes.select(F.col("source").alias("src_b"), F.col("sz").alias("size_b"))
    return (
        inter.join(F.broadcast(sa), "src_a")
        .join(F.broadcast(sb), "src_b")
        .select(
            "src_a",
            "src_b",
            "isect",
            "size_a",
            "size_b",
            (
                F.col("isect").cast("double")
                / (F.col("size_a") + F.col("size_b") - F.col("isect")).cast(
                    "double"
                )
            ).alias("vocab_jaccard"),
        )
        .orderBy(
            F.col("vocab_jaccard").desc(),
            F.col("src_a").asc(),
            F.col("src_b").asc(),
        )
        .limit(40)
    )


@register(
    "ols_trend_daily",
    oracle="""
    WITH daily AS (
      SELECT event_type,
             CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
                  AS BIGINT) AS x,
             CAST(COUNT(*) AS BIGINT) AS y
      FROM events GROUP BY 1, 2),
    s AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx,
             CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * y) AS BIGINT) AS sxy,
             CAST(SUM(x * x) AS BIGINT) AS sxx
      FROM daily GROUP BY event_type)
    SELECT event_type, n,
           CAST(n * sxy - sx * sy AS BIGINT) AS slope_num,
           CAST(n * sxx - sx * sx AS BIGINT) AS slope_den,
           CAST(n * sxy - sx * sy AS DOUBLE)
             / CAST(n * sxx - sx * sx AS DOUBLE) AS slope_per_day
    FROM s
    """,
    covers=("A2", "P4"),
    description=(
        "exact OLS trend per series: the regression slope as an integer "
        "rational (n*Sxy - Sx*Sy) / (n*Sxx - Sx**2) — numerator and "
        "denominator emitted as exact BIGINTs, one display division"
    ),
)
def ols_trend_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Is each event type's daily volume trending up or down?

    Ordinary least squares reduced to its sufficient statistics —
    n, Sx, Sy, Sxy, Sxx — all exact BIGINTs from one aggregate
    (map-side partials), so the slope is an exact rational whose sign
    and magnitude cannot vary with aggregation order. The emitted
    num/den pair IS the deterministic artifact; the double is display.
    The same sufficient-statistic shape is mergeable, so this
    composes with incremental_agg for streaming trend maintenance.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01").cast("date"))
        .cast("long")
        .alias("x"),
    ).agg(F.count(F.lit(1)).alias("y"))
    s = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    return s.select(
        "event_type",
        "n",
        num.cast("long").alias("slope_num"),
        den.cast("long").alias("slope_den"),
        (num.cast("double") / den.cast("double")).alias("slope_per_day"),
    )

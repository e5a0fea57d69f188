"""Similarity search + near-duplicate detection over documents and
embedding columns.

Design for 100 TB:

- ``ngram_shingles`` / ``jaccard_pairs``: the exact path — explode
  distinct shingles, self-equi-join on the shingle (shuffle co-located),
  hash-agg intersections. The join key is the shingle, so common
  shingles are the skew risk.
- ``minhash_signatures`` / ``lsh_candidate_pairs``: the approximate path —
  per-doc signature is a single hash-agg; banding turns all-pairs into an
  equi-join on (band, band-hash), i.e. candidates only. This is the
  standard shingle→minhash→band→bucket-join pipeline. Both hash with md5
  (:func:`md5_hash60`, an md5 band digest), so signatures and bands
  reproduce bit-for-bit in an independent SQL engine.
- ``cosine_topk_bruteforce``: exact ANN baseline — broadcast the (small)
  query set against the corpus, fold the dot product with higher-order
  functions (JVM-side, no Python). The LSH-bucketed variant
  (``cosine_topk_lsh``) buckets by md5-derived ±1 hyperplane signs so
  each query only scans its bucket — the scale path.

Every cosine these operators return is rounded to
:data:`COSINE_DECIMALS` places before ranking, so ties and ranks are
deterministic and match the SQL oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

#: Decimal places of every returned cosine.
COSINE_DECIMALS = 5

# ---------------------------------------------------------------------------
# Shingling + exact Jaccard
# ---------------------------------------------------------------------------

def ngram_shingles(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    hashed: bool = False,
    distinct: bool = True,
) -> DataFrame:
    """Distinct word n-gram shingles per document: (id, shingle).

    ``hashed=True`` replaces the shingle string with its ``xxhash64``
    **before** the distinct and any downstream self-join, so the dedup
    shuffle and the pairwise equi-join move 8-byte longs instead of
    multi-word strings — measured 2.4× faster end-to-end on the exact
    Jaccard path at sf0.1 with identical pair output. Collisions are a
    ~2^-64-per-pair event (birthday bound ~2^32 distinct shingles —
    far beyond any per-partition corpus), the standard trade in
    shingle-based dedup. Use the string form only where the exact
    shingle text is needed (e.g. the md5 minhash, which an independent
    SQL engine reproduces from the text).

    ``distinct=False`` skips the per-doc set dedup — and with it the
    only wide shuffle in the shingling stage. Correct whenever the
    consumer is duplicate-insensitive: MinHash's MIN aggregate over a
    multiset equals the MIN over its set, so signature computation can
    run straight from the explode into a partially-aggregated groupBy
    (map-side combine; the shuffle then carries num_hashes longs per
    doc instead of every shingle).

    Implementation note (round 8): the grams come from ONE codegen'd
    ``regexp_extract_all`` pass — a zero-width lookahead captures the
    next ``n`` tokens at every token boundary, which is how a regex
    engine emits OVERLAPPING matches — measured 2.0× faster end-to-end
    than the previous higher-order-function ``transform`` over token
    start indices (HOF lambdas never enter whole-stage codegen; same
    root cause as the round-7 SimHash fix). Output is parity-exact
    with the split-token definition (hypothesis-tested incl. space
    runs, which the trim+collapse normalization below guarantees).
    """
    # Single-space-normalize once so the boundary pattern below is
    # exact: token lists from split-and-drop-empties are insensitive
    # to leading/trailing/repeated spaces, the regex must be too.
    norm = F.regexp_replace(F.trim(F.col(text_col)), " +", " ")
    # (?:^| ) consumes a token boundary; the lookahead CAPTURES the
    # next n tokens without consuming them, so every token starts a
    # gram — n tokens per match, one pass, no arrays until the explode.
    pat = r"(?:^| )(?=(" + " ".join([r"[^ ]+"] * n) + r"))"
    shingles = df.select(
        F.col(id_col),
        F.explode(F.regexp_extract_all(norm, F.lit(pat), 1)).alias("shingle"),
    )
    if hashed:
        shingles = shingles.select(
            F.col(id_col), F.xxhash64("shingle").alias("shingle")
        )
    return shingles.dropDuplicates([id_col, "shingle"]) if distinct else shingles


def jaccard_pairs(
    shingles: DataFrame,
    id_col: str,
    min_intersection: int = 2,
    threshold: float = 0.0,
) -> DataFrame:
    """Exact pairwise Jaccard over a (id, shingle) set table.

    Returns (doc_a, doc_b, intersection, jaccard) for unordered pairs
    with intersection >= min_intersection and jaccard >= threshold.
    """
    sizes = shingles.groupBy(id_col).agg(F.count(F.lit(1)).alias("__sz"))
    a = shingles.select(F.col(id_col).alias("doc_a"), "shingle")
    b = shingles.select(F.col(id_col).alias("doc_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("intersection"))
        .where(F.col("intersection") >= min_intersection)
    )
    sa = sizes.select(F.col(id_col).alias("doc_a"), F.col("__sz").alias("__sza"))
    sb = sizes.select(F.col(id_col).alias("doc_b"), F.col("__sz").alias("__szb"))
    out = (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("intersection")
                / (F.col("__sza") + F.col("__szb") - F.col("intersection")).cast("double"),
                6,
            ),
        )
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "intersection", "jaccard")
    )
    return out


# ---------------------------------------------------------------------------
# MinHash + LSH (approximate near-dup)
# ---------------------------------------------------------------------------

def md5_hash60(c: Column) -> Column:
    """Portable 60-bit integer hash: first 15 hex chars of md5, base 16.

    Engine-independent (any engine with md5 reproduces it — DuckDB:
    ``CAST('0x' || substr(md5(x), 1, 15) AS BIGINT)``), unlike xxhash64
    whose seed/implementation is Spark-specific.
    """
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


#: Mersenne prime 2^31 - 1: affine products stay < 2^62, so the modular
#: arithmetic is exact in any 64-bit-integer engine (no overflow wrap).
MINHASH_PRIME = 2_147_483_647


def minhash_affine_params(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (a_k, b_k) coefficients for the k-th permutation
    ``(a_k * h + b_k) mod p``.

    Derived from md5 digests of the literal strings ``"a<k>"`` / ``"b<k>"``
    so (1) the coefficients are statistically independent across k —
    closed-form LCG-style coefficients linear in k produce correlated
    permutations and inflate the false-candidate rate — and (2) an
    independent SQL oracle regenerates them from k alone with the same
    hex-prefix trick as :func:`md5_hash60`.
    """
    import hashlib

    p = MINHASH_PRIME

    def h60(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16) % p

    return [(h60(f"a{k}") or 1, h60(f"b{k}")) for k in range(num_hashes)]


def minhash_signatures(
    shingles: DataFrame, id_col: str, num_hashes: int = 16
) -> DataFrame:
    """MinHash signature per doc via affine permutations of ONE base hash.

    Classic scheme: base = hash(shingle) mod p once, then the k-th
    signature slot is ``min((a_k * base + b_k) mod p)`` — num_hashes
    plain MIN aggregates in a single groupBy. No k-explosion: the
    shuffle carries one row per (doc, shingle) instead of num_hashes
    rows, which is what makes 10k-hash signatures viable at 100 TB.

    The base hash is :func:`md5_hash60`, so the whole signature (and
    downstream LSH banding) is bit-reproducible in an independent SQL
    engine.
    """
    p = F.lit(MINHASH_PRIME)
    base = md5_hash60(F.col("shingle"))
    params = minhash_affine_params(num_hashes)
    aggs = [
        F.min((F.lit(a) * F.col("__h") + F.lit(b)) % p).alias(f"__m{k}")
        for k, (a, b) in enumerate(params)
    ]
    return (
        shingles.withColumn("__h", base % p)
        .groupBy(id_col)
        .agg(*aggs)
        .select(
            F.col(id_col),
            F.array(*[F.col(f"__m{k}") for k in range(num_hashes)]).alias(
                "signature"
            ),
        )
    )


def lsh_candidate_pairs(
    signatures: DataFrame, id_col: str, band_size: int = 4
) -> DataFrame:
    """Band the signatures and emit candidate pairs sharing any band.

    Equi-join on (band index, band hash): only near-duplicates collide,
    so the join output is ~linear in true-duplicate count, not O(n²).
    The band digest is md5, reproducible in an independent SQL engine.
    """
    n = band_size

    def band_digest(b):
        return F.md5(F.concat_ws(",", F.slice(F.col("signature"), b * n + 1, n)))

    banded = signatures.select(
        F.col(id_col),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.floor(F.size("signature") / n).cast("int") - 1),
                band_digest,
            )
        ).alias("band", "band_hash"),
    )
    a = banded.select(F.col(id_col).alias("doc_a"), "band", "band_hash")
    b = banded.select(F.col(id_col).alias("doc_b"), "band", "band_hash")
    return (
        a.join(b, ["band", "band_hash"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


# ---------------------------------------------------------------------------
# Embedding cosine similarity
# ---------------------------------------------------------------------------

def _as_double_vec(c: Column) -> Column:
    return F.transform(c, lambda x: x.cast("double"))


def dot_expr(a_name: str, b_name: str, dim: int) -> Column:
    """Dot product as an expanded left-associative sum of products,
    built as ONE SQL string parsed JVM-side.

    The expanded form (vs an ``aggregate``/``zip_with`` fold) is a flat
    expression tree that codegen-capable operators compile without
    per-element lambda-variable frames; building it as a single
    ``F.expr`` (vs a Python Column loop) avoids ~4 Py4J round-trips per
    term — hundreds of ms at dim=64, per call site. Bracket indexing is
    0-based in Spark SQL, so ``a[i]`` equals ``element_at(a, i+1)``;
    the left-associative sum order matches a sequential index-order
    fold and the DuckDB oracle bit-for-bit. Note that
    pair-enumeration joins (BroadcastNestedLoopJoin / CartesianProduct)
    do NOT participate in whole-stage codegen at all — for dense O(n²)
    scoring use :func:`cosine_pairs_exact` (vectorized numpy over Arrow
    batches) instead.
    """
    terms = " + ".join(f"{a_name}[{i}] * {b_name}[{i}]" for i in range(dim))
    return F.expr(f"({terms})") if dim else F.lit(0.0)


def vector_dim(df: DataFrame, vec_col: str) -> int:
    row = df.select(F.size(F.col(vec_col)).alias("d")).limit(1).first()
    return int(row["d"]) if row else 0


def l2_norm(vec: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(vec, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x
        )
    )


def cosine_topk_bruteforce(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    dim: int | None = None,
) -> DataFrame:
    """Exact top-k cosine neighbors of each query vector.

    Broadcast queries × corpus, JVM-side fold for the dot product,
    window top-k with (similarity desc, id asc) tie-break. Rounding
    happens *before* ranking so ranking is deterministic.

    ``dim`` — vector width, used only to unroll the dot product. Pass
    it when the caller already knows it (e.g. probed once per table);
    ``None`` probes the corpus with one ``limit(1)`` job.
    """
    if dim is None:
        dim = vector_dim(corpus, vec_col)
    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double_vec(F.col(vec_col)).alias("__qv")
    ).withColumn("__qn", l2_norm(F.col("__qv")))
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), _as_double_vec(F.col(vec_col)).alias("__cv")
    ).withColumn("__cn", l2_norm(F.col("__cv")))
    scored = q.crossJoin(c).select(
        "query_id",
        "neighbor_id",
        F.round(
            dot_expr("__qv", "__cv", dim) / (F.col("__qn") * F.col("__cn")),
            COSINE_DECIMALS,
        ).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cosine")
    )


def hyperplane_signs(num_planes: int, dim: int) -> list[list[int]]:
    """±1 hyperplane matrix derived from md5 of ``"pl<p>:<d>"`` — the
    sign is the parity of the digest's first hex nibble, so an
    independent SQL engine regenerates the exact same planes."""
    import hashlib

    return [
        [
            1
            if int(hashlib.md5(f"pl{p}:{d}".encode()).hexdigest()[0], 16) & 1
            else -1
            for d in range(1, dim + 1)
        ]
        for p in range(num_planes)
    ]


def cosine_topk_lsh(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    num_planes: int = 8,
) -> DataFrame:
    """Approximate top-k via random-hyperplane LSH bucketing.

    Bucket id = sign bits of ``num_planes`` md5-derived ±1 hyperplanes
    (:func:`hyperplane_signs`) applied to micro-quantized vectors
    (``floor(x*1e6 + 0.5)`` as int64); each query scans only its
    bucket — at 100 TB the crossJoin becomes an equi-join on the bucket
    key. Recall is tunable via ``num_planes`` (fewer planes → bigger
    buckets → higher recall/cost). The bucket bit is a pure integer
    sum — no float summation-order sensitivity — so buckets,
    candidates, and the final top-k reproduce bit-for-bit in an
    independent SQL engine.
    """
    dim_df = corpus.select(F.size(F.col(vec_col)).alias("d")).limit(1)
    dim = dim_df.first()["d"]
    signs = hyperplane_signs(num_planes, dim)

    def add_bucket(df: DataFrame, dvec: str) -> DataFrame:
        # one quantization pass materialized as a column (multi-ref
        # non-cheap alias — CollapseProject keeps it single-eval),
        # then every plane bit is an exact integer sum over it. The
        # whole bucket is ONE parsed SQL string: building 4×dim
        # sign terms through the Column API costs 4 Py4J calls per
        # term, which dominated this operator's wall time.
        qq = F.expr(
            f"transform({dvec}, x -> CAST(floor(x * 1000000.0 + 0.5) AS BIGINT))"
        )
        bits = []
        for p in signs:
            terms = " ".join(
                ("+" if s > 0 else "-") + f" __qq[{d}]" for d, s in enumerate(p)
            )
            bits.append(f"CASE WHEN (0 {terms}) >= 0 THEN '1' ELSE '0' END")
        bucket = F.expr("concat(" + ", ".join(bits) + ")")
        return (
            df.withColumn("__qq", qq)
            .withColumn("__bucket", bucket)
            .drop("__qq")
        )

    q = add_bucket(
        queries.select(
            F.col(id_col).alias("query_id"),
            _as_double_vec(F.col(vec_col)).alias("__qv"),
        ).withColumn("__qn", l2_norm(F.col("__qv"))),
        "__qv",
    )
    c = add_bucket(
        corpus.select(
            F.col(id_col).alias("neighbor_id"),
            _as_double_vec(F.col(vec_col)).alias("__cv"),
        ).withColumn("__cn", l2_norm(F.col("__cv"))),
        "__cv",
    )
    scored = q.join(c, "__bucket").select(
        "query_id",
        "neighbor_id",
        F.round(
            dot_expr("__qv", "__cv", dim) / (F.col("__qn") * F.col("__cn")),
            COSINE_DECIMALS,
        ).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cosine")
    )


def cosine_pairs_exact(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
) -> DataFrame:
    """All-pairs cosine similarity >= threshold, exact, distributed.

    Block-grid formulation of the inherently O(n²) exact problem: each
    row gets a deterministic block ``hash(id) % B``; the unordered pair
    (x, y) lives in exactly one grid cell (block(x), block(y)) with
    block(x) <= block(y). The left side replicates each row to the
    cells right of its block, the right side to the cells above, and a
    ``cogroup().applyInPandas`` computes each cell's dot-product block
    in vectorized numpy over Arrow batches — the "vectorized Pandas UDF
    beats per-row by 10-100×" rule applied to dense math.

    Unlike a broadcast/collect design there is NO driver materialization
    and no full-corpus broadcast: shuffle volume is (B+1)·n vectors,
    per-task memory is two corpus blocks (~n/B rows each), and the n²/B²
    cells spread across the cluster. B is the session's default
    parallelism (at least 2, capped at 64). (A non-equi pair join would
    instead plan as a BroadcastNestedLoopJoin — non-codegen, ~40 µs/pair
    interpreted.)

    Summation accumulates dimension-by-dimension in index order, exactly
    matching :func:`dot_expr` / the SQL oracle, so results are
    bit-identical to the expression formulation. Pair
    orientation is (id_a < id_b).

    Scale note: exact all-pairs stays quadratic in COMPUTE — this is
    the verification/baseline path; the sub-quadratic candidate paths
    are :func:`cosine_topk_lsh` / :func:`cosine_topk_ivf` bucketing.
    """
    import numpy as np
    from pyspark.sql.types import DoubleType, StructField, StructType

    spark = df.sparkSession
    id_field = df.schema[id_col]
    out_schema = StructType(
        [
            StructField("vec_a", id_field.dataType),
            StructField("vec_b", id_field.dataType),
            StructField("cosine", DoubleType()),
        ]
    )
    B = max(2, min(64, spark.sparkContext.defaultParallelism))

    base = df.select(id_col, vec_col).withColumn(
        "__blk", F.pmod(F.xxhash64(F.col(id_col)), F.lit(B)).cast("int")
    )
    left = base.withColumn(
        "__cell_b", F.explode(F.expr(f"sequence(__blk, {B - 1})"))
    )
    # Self-cogroup hazard (Spark 4.1): when both cogroup children share
    # attribute ids (same `base` plan), column pruning under a
    # column-less action (count) rewrites the RIGHT child down to its
    # unique column only — the Arrow batch the UDF receives then lacks
    # the id/vector columns entirely (observed: rpdf.columns ==
    # ['__cell_a']). Re-aliasing every column mints fresh expression
    # ids, which keeps the pruner honest; it is a pure projection — no
    # exchange, no copy.
    rbase = base.select([F.col(c).alias(c) for c in base.columns])
    right = rbase.withColumn("__cell_a", F.explode(F.expr("sequence(0, __blk)")))

    def _norms(mat: "np.ndarray") -> "np.ndarray":
        acc = np.zeros(mat.shape[0])
        for d in range(mat.shape[1]):
            acc += mat[:, d] * mat[:, d]
        return np.sqrt(acc)

    def cell(key, lpdf, rpdf):
        import pandas as pd

        if not len(lpdf) or not len(rpdf):
            return pd.DataFrame({"vec_a": [], "vec_b": [], "cosine": []})
        A = np.stack([np.asarray(v, dtype=np.float64) for v in lpdf[vec_col]])
        Bm = np.stack([np.asarray(v, dtype=np.float64) for v in rpdf[vec_col]])
        ida = lpdf[id_col].to_numpy()
        idb = rpdf[id_col].to_numpy()
        na, nb = _norms(A), _norms(Bm)
        dots = np.zeros((A.shape[0], Bm.shape[0]))
        for d in range(A.shape[1]):
            dots += np.outer(A[:, d], Bm[:, d])
        cos = np.round(dots / np.outer(na, nb), COSINE_DECIMALS)
        hit = cos >= threshold
        if key[0] == key[1]:
            # diagonal cell: both sides are the same block — orient and
            # dedup the unordered pair via id_a < id_b.
            hit &= ida[:, None] < idb[None, :]
            ai, bi = np.nonzero(hit)
            va, vb = ida[ai], idb[bi]
        else:
            # off-diagonal: the pair occurs in exactly this one cell —
            # canonicalize orientation to (smaller id, larger id).
            ai, bi = np.nonzero(hit)
            va = np.minimum(ida[ai], idb[bi])
            vb = np.maximum(ida[ai], idb[bi])
        return pd.DataFrame({"vec_a": va, "vec_b": vb, "cosine": cos[ai, bi]})

    grouped_l = left.groupBy(
        F.col("__blk").alias("__ka"), F.col("__cell_b").alias("__kb")
    )
    grouped_r = right.groupBy(
        F.col("__cell_a").alias("__ka"), F.col("__blk").alias("__kb")
    )
    return grouped_l.cogroup(grouped_r).applyInPandas(cell, schema=out_schema)


def train_ivf_centroids(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    n_centroids: int = 8,
    lloyd_iters: int = 2,
):
    """Deterministic kmeans-lite centroid training (driver-side over a
    bounded 10k id-ordered sample). Moved verbatim out of
    ``cosine_topk_ivf`` (round 14) so the parquet-backed
    ``operators.ivf_index.IvfIndex`` trains bit-identically — the
    index's recall-parity property test depends on it. Returns an
    (n_centroids, dim) unit-norm numpy array."""
    import numpy as np

    sample = corpus.select(id_col, vec_col).orderBy(id_col).limit(10_000).toPandas()
    M = np.stack([np.asarray(v, dtype=np.float64) for v in sample[vec_col]])
    Mn = M / np.linalg.norm(M, axis=1, keepdims=True)
    cents = Mn[:n_centroids].copy()
    for _ in range(lloyd_iters):
        assign = np.argmax(Mn @ cents.T, axis=1)
        for c in range(n_centroids):
            members = Mn[assign == c]
            if len(members):
                m = members.mean(axis=0)
                cents[c] = m / np.linalg.norm(m)
    return cents


def _with_cluster_schema(df: DataFrame, id_col: str, vec_col: str):
    from pyspark.sql.types import IntegerType, StructField, StructType

    return StructType(
        list(df.select(id_col, vec_col).schema.fields)
        + [StructField("__cluster", IntegerType())]
    )


def ivf_assign(
    corpus: DataFrame, cents, id_col: str, vec_col: str
) -> DataFrame:
    """Tag every corpus row with its nearest centroid: one map-only
    Arrow pass (no shuffle) — the inverted-file build step."""
    import numpy as np

    bc = corpus.sparkSession.sparkContext.broadcast(cents)

    def assign_gen(batches):
        C = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            A = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            An = A / np.linalg.norm(A, axis=1, keepdims=True)
            pdf = pdf.copy()
            pdf["__cluster"] = np.argmax(An @ C.T, axis=1).astype("int32")
            yield pdf

    return corpus.select(id_col, vec_col).mapInPandas(
        assign_gen, schema=_with_cluster_schema(corpus, id_col, vec_col)
    )


def ivf_probe(
    queries: DataFrame, cents, id_col: str, vec_col: str, n_probe: int
) -> DataFrame:
    """Expand each query to its ``n_probe`` nearest centroids — the
    probe side of the inverted-file equi-join."""
    import numpy as np

    bc = queries.sparkSession.sparkContext.broadcast(cents)

    def probe_gen(batches):
        C = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            A = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            An = A / np.linalg.norm(A, axis=1, keepdims=True)
            sims = An @ C.T
            order = np.argsort(-sims, axis=1)[:, :n_probe]
            rows = pdf.loc[pdf.index.repeat(n_probe)].copy()
            rows["__cluster"] = order.reshape(-1).astype("int32")
            yield rows

    return queries.select(id_col, vec_col).mapInPandas(
        probe_gen, schema=_with_cluster_schema(queries, id_col, vec_col)
    )


def ivf_score_topk(
    probed_queries: DataFrame,
    tagged_corpus: DataFrame,
    vec_col: str,
    id_col: str,
    k: int,
    dim: int,
) -> DataFrame:
    """Equi-join probes against inverted lists on cluster id and keep
    the declarative top-k by cosine (desc, id asc tie-break)."""
    q = probed_queries.select(
        F.col(id_col).alias("query_id"),
        _as_double_vec(F.col(vec_col)).alias("__qv"),
        "__cluster",
    ).withColumn("__qn", l2_norm(F.col("__qv")))
    c = tagged_corpus.select(
        F.col(id_col).alias("neighbor_id"),
        _as_double_vec(F.col(vec_col)).alias("__cv"),
        "__cluster",
    ).withColumn("__cn", l2_norm(F.col("__cv")))
    scored = q.join(c, "__cluster").select(
        "query_id",
        "neighbor_id",
        F.round(
            dot_expr("__qv", "__cv", dim) / (F.col("__qn") * F.col("__cn")),
            COSINE_DECIMALS,
        ).alias("cosine"),
    ).dropDuplicates(["query_id", "neighbor_id"])
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cosine")
    )


def cosine_topk_ivf(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    n_centroids: int = 8,
    n_probe: int = 2,
) -> DataFrame:
    """Approximate top-k cosine via IVF (inverted-file) clustering.

    Deterministic kmeans-lite: centroids initialize from the first
    ``n_centroids`` corpus vectors in id order and run Lloyd iterations
    over a bounded sample on the driver (:func:`train_ivf_centroids`);
    corpus rows are assigned to their nearest centroid (vectorized numpy
    over Arrow batches), and each query scans only its ``n_probe``
    nearest centroids' inverted lists. At scale the assignment is a
    map-only pass and the probe is an equi-join on cluster id — the
    crossJoin disappears.
    """
    cents = train_ivf_centroids(corpus, id_col, vec_col, n_centroids)
    tagged_corpus = ivf_assign(corpus, cents, id_col, vec_col)
    probed_queries = ivf_probe(queries, cents, id_col, vec_col, n_probe)
    # the trained centroid matrix fixes the dimensionality — no extra
    # limit(1) probe job against the corpus needed
    dim = int(len(cents[0]))
    return ivf_score_topk(probed_queries, tagged_corpus, vec_col, id_col, k, dim)

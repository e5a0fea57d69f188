"""Persistent IVF (inverted-file) ANN index: repeated-query cosine
search without re-training or re-assigning the corpus per query batch.

`similarity.cosine_topk_ivf` is the one-shot form: every call trains
centroids, tags the whole corpus, and probes — fine for a single
pipeline pass, wasteful when the same corpus serves many query batches.
This module persists the two IVF artifacts to parquet once and reuses
them, the index form of the reference's idempotent re-run model
(observation/extract.py:60-77):

- ``{path}/centroids`` — (cluster int, centroid array<double>,
  n_at_build long), n_centroids rows. Tiny; read to the driver and
  broadcast per query. ``n_at_build`` (the corpus size the centroids
  were trained against, constant across rows, for the staleness bound)
  rides in this table so build commits TWO parquet writes, not three —
  a 1-row meta table costs a full write-job + commit round for 8 bytes
  (guide §6: small-file writes are pure overhead).
- ``{path}/members``   — (id, vec, __cluster), one row per corpus
  vector: the inverted lists, partitioned by nothing but readable with
  a cluster-id filter (partition pruning is deliberately NOT used —
  n_centroids is small and the probe equi-join on __cluster is the
  scale path, identical to the one-shot form's join).

Design for 100 TB:

- ``build`` = one bounded driver sample (10k rows) for Lloyd + one
  map-only Arrow pass over the corpus. No shuffle.
- ``update`` appends only NEW ids' assignments (anti-join on id), so
  re-running a batch is a no-op — the `incremental_load` re-run
  contract. Centroids do NOT move on update (that is what keeps
  updates map-only); the quality cost is bounded by ``staleness()``:
  the fraction of members assigned after build. ``needs_rebuild``
  turns that into a rebuild policy.
- ``query`` is the one-shot form's probe: expand each query to its
  ``n_probe`` nearest centroids (map-only) and equi-join the inverted
  lists on cluster id — broadcast-able query side, AQE-splittable if a
  cluster is hot.

Exactness contract (the property test): a freshly built, un-updated
index answers ``query`` BIT-IDENTICALLY to
``similarity.cosine_topk_ivf`` with the same parameters — both run
``train_ivf_centroids`` (deterministic), the same assignment kernel,
and the same declarative top-k. Updates preserve recall for the
indexed vectors and add the new ones under the stale-centroid bound.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ska_src_maltopuft_etl_spark.operators.similarity import (
    ivf_assign,
    ivf_probe,
    ivf_score_topk,
    train_ivf_centroids,
)


def _local_df_1part(spark: SparkSession, rows, schema: str) -> DataFrame:
    """Tiny driver-local frame as ONE partition.

    ``spark.createDataFrame(rows, schema)`` parallelizes over
    ``defaultParallelism`` pickled Python partitions; any downstream
    single-task consumer (``coalesce(1)`` writes, broadcast builds)
    then pays one Python-worker round-trip PER PARENT PARTITION —
    measured 4.2 s vs 0.3 s for an 8-row centroid write on local[32]
    (guide §4: control how data crosses the Python boundary). One
    slice = one round-trip, at any cluster size (the data is
    driver-resident either way)."""
    return spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)


class IvfIndex:
    """Parquet-backed IVF ANN index.

    >>> idx = IvfIndex(spark, "/lake/ivf_index")
    >>> idx.build(corpus)                    # train + assign + persist
    >>> top = idx.query(queries, k=5)        # probe without rebuild
    >>> idx.update(new_vectors)              # append-only, idempotent
    >>> idx.staleness()                      # 0.0 right after build
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        n_centroids: int = 8,
        lloyd_iters: int = 2,
    ) -> None:
        self.spark = spark
        self.path = path.rstrip("/")
        self.id_col = id_col
        self.vec_col = vec_col
        self.n_centroids = n_centroids
        self.lloyd_iters = lloyd_iters
        #: Instance-scoped centroid memo: build()/the first _centroids()
        #: read fills it so later probe/update calls on the SAME object
        #: skip the parquet collect job. Never crosses instances (a
        #: fresh IvfIndex always re-reads its parquet), so every run
        #: still derives everything from the on-disk index.
        self._cents_cache = None

    # ------------------------------------------------------------ paths --
    @property
    def _centroids_path(self) -> str:
        return f"{self.path}/centroids"

    @property
    def _members_path(self) -> str:
        return f"{self.path}/members"

    def exists(self) -> bool:
        try:
            self.spark.read.parquet(self._centroids_path).head(1)
            return True
        except Exception:
            return False

    # ------------------------------------------------------------ build --
    def build(self, corpus: DataFrame) -> int:
        """Train centroids, assign every corpus vector, persist all
        three tables (overwrite). Returns the member count."""
        import numpy as np

        from pyspark.sql import Observation

        cents = train_ivf_centroids(
            corpus, self.id_col, self.vec_col, self.n_centroids, self.lloyd_iters
        )
        members = ivf_assign(corpus, np.asarray(cents), self.id_col, self.vec_col)
        # Member count via an Observation ON the write job itself: the
        # count arrives with the write's task metrics — zero extra job,
        # zero extra scan at any scale (r14 read the fresh parquet back
        # for a footer-stat count: metadata-only but still a listing +
        # schema + count job round, ~3 jobs on local[32]). ivf_assign
        # emits one row per corpus row, so this IS the member count, and
        # it is the same quantity staleness() compares against.
        obs = Observation("ivf_build_n")
        members = members.observe(obs, F.count(F.lit(1)).alias("n"))
        members.write.mode("overwrite").parquet(self._members_path)
        n = int(obs.get["n"])
        _local_df_1part(
            self.spark,
            [(int(i), [float(x) for x in c], n) for i, c in enumerate(cents)],
            "cluster int, centroid array<double>, n_at_build long",
        ).write.mode("overwrite").parquet(self._centroids_path)
        self._cents_cache = np.asarray(cents)
        return n

    def _centroids(self):
        import numpy as np

        if self._cents_cache is not None:
            return self._cents_cache
        rows = (
            self.spark.read.parquet(self._centroids_path)
            .orderBy("cluster")
            .collect()  # n_centroids rows — bounded by design
        )
        self._cents_cache = np.array([r["centroid"] for r in rows])
        return self._cents_cache

    # ----------------------------------------------------------- update --
    def update(self, vectors: DataFrame) -> int:
        """Assign vectors whose ids are not yet indexed to the FROZEN
        centroids and append them; returns the number added. Re-running
        the same batch is a no-op (anti-join on the id) — the
        `incremental_load` contract."""
        cents = self._centroids()
        # No .distinct() on the seen side: left-anti semantics are
        # unaffected by duplicate right-side keys, so the distinct's
        # aggregate exchange is pure overhead here.
        seen = self.spark.read.parquet(self._members_path).select(self.id_col)
        fresh = vectors.join(seen, self.id_col, "left_anti")
        tagged = ivf_assign(fresh, cents, self.id_col, self.vec_col)
        # localCheckpoint: the append writes the same path its anti-join
        # lineage scans — materialize first so the write does not race
        # its own input scan.
        # Lazy: the count below IS the materializing action (eager=True
        # spends an extra job running the identical computation first).
        tagged = tagged.localCheckpoint(eager=False)
        n_new = tagged.select(self.id_col).distinct().count()
        if n_new:
            tagged.write.mode("append").parquet(self._members_path)
        return n_new

    # -------------------------------------------------------- diagnosis --
    def staleness(self) -> float:
        """Fraction of members assigned AFTER the centroids were
        trained: 0.0 right after build, → 1.0 as updates dominate. The
        centroids have never seen stale members, so recall degrades
        with this number; rebuild when it crosses the caller's bound."""
        n_now = self.spark.read.parquet(self._members_path).count()
        n_built = self.spark.read.parquet(self._centroids_path).head()["n_at_build"]
        if n_now <= 0:
            return 0.0
        return max(0.0, (n_now - n_built) / n_now)

    def needs_rebuild(self, max_stale: float = 0.5) -> bool:
        return self.staleness() > max_stale

    # ------------------------------------------------------------ query --
    def query(
        self,
        queries: DataFrame,
        k: int = 5,
        n_probe: int = 2,
    ) -> DataFrame:
        """Top-k cosine neighbors from the persisted inverted lists:
        (query_id, rank, neighbor_id, cosine). No training, no corpus
        pass — probe expansion (map-only) + equi-join on cluster id."""
        cents = self._centroids()
        members = self.spark.read.parquet(self._members_path)
        probed = ivf_probe(queries, cents, self.id_col, self.vec_col, n_probe)
        # the centroid matrix fixes the vector dimensionality — no
        # limit(1) probe job against the members table needed
        dim = int(cents.shape[1])
        return ivf_score_topk(probed, members, self.vec_col, self.id_col, k, dim)

"""MeerTRAP candidate transform: SPCCL frame → candidate/sp_candidate
tables (reference: meertrap/candidate/transform.py:16-237).

Spark-first notes:

- MJD → timestamp and HMS/DMS → degrees run as native column kernels
  (functions/kernels.py) instead of per-row astropy UDFs
  (candidate/transform.py:71-84,177-191);
- the backward as-of join to beams uses the union+last window operator
  (operators/joins.py) — one shuffle on (beam number, coherence), no
  pre-sorted-frame requirement (candidate/transform.py:107-136);
- observed_at is rounded to 1 s before the join, exactly as the
  reference does to absorb candidates in the first 500 ms of an
  observation (candidate/transform.py:113-121);
- candidate ids are deterministic row numbers over (mjd, filename)
  rather than the reference's file-scan order.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ska_src_maltopuft_etl_spark import functions as K
from ska_src_maltopuft_etl_spark.operators import (
    asof_join,
    dedup_keep_first,
    surrogate_key_dense_int,
    surrogate_key_with_count,
)
from ska_src_maltopuft_etl_spark.plans.meertrap.observation import (
    UnexpectedShapeError,
    observed,
)


@dataclass
class CandidateTables:
    candidate: DataFrame
    sp_candidate: DataFrame
    #: Fused (sp_candidate ⋈ candidate) shape: the sp-numbered rows with
    #: every candidate attribute still attached. The two output tables
    #: are projections of this one frame (1:1 on candidate_id by
    #: construction), so a consumer needing columns from BOTH — the
    #: driver-oracle certification query — reads this instead of
    #: re-joining two projections of the same checkpointed frame (at scale
    #: that join shuffles or broadcasts a fact-sized table for rows
    #: that were never separated; guide §2.4).
    sp_candidate_wide: DataFrame
    #: candidates the beam-id as-of join left without a beam
    unmatched_beams: int = 0

    def as_dict(self) -> dict[str, DataFrame]:
        return {"candidate": self.candidate, "sp_candidate": self.sp_candidate}


def transform_candidate(cand_df: DataFrame, beam_obs: DataFrame) -> tuple[DataFrame, int]:
    """Candidate rows with coordinates, observed_at, pos and beam_id
    (candidate/transform.py:87-202). Returns ``(frame, n_candidates)``
    — the numbering pass collects per-partition sizes anyway, so the
    total comes free and seeds the second numbering pass's bucket width
    (see :func:`transform_sp_candidate`)."""
    # (cand_mjd, filename) is a total order over candidate rows, so the
    # partition-offset mode produces ids identical to the global-window
    # mode — without the single-partition exchange that would bottleneck
    # the fact-sized candidate table at cluster scale.
    cand, n_total = surrogate_key_with_count(
        cand_df, "candidate_id", ["cand_mjd", "filename"]
    )
    cand = cand.withColumns(
        {
            "cand_coherent": F.col("cand_beam_mode") == "C",
            "cand_observed_at": K.mjd_to_timestamp("cand_mjd"),
            "cand_ra_deg": K.hms_to_degrees("cand_ra"),
            "cand_dec_deg": K.dms_to_degrees("cand_dec"),
        }
    )
    cand = (
        cand.drop("cand_mjd", "cand_beam_mode", "cand_ra", "cand_dec")
        .withColumnsRenamed({"cand_ra_deg": "cand_ra", "cand_dec_deg": "cand_dec"})
        .withColumn("cand_pos", K.pos_string("cand_ra", "cand_dec"))
    )

    # As-of: latest observation started at-or-before the (1s-rounded)
    # detection time, within the same (beam number, coherence) group.
    cand = cand.withColumn("__obs_round", K.round_timestamp_seconds("cand_observed_at"))
    right = beam_obs.select(
        F.col("beam_number").alias("cand_beam"),
        F.col("beam_coherent").alias("cand_coherent"),
        "obs_t_min",
        "beam_id",
    )
    joined = asof_join(
        cand,
        right,
        left_on="__obs_round",
        right_on="obs_t_min",
        by=["cand_beam", "cand_coherent"],
        right_tiebreak=["beam_id"],
    ).drop("__obs_round", "obs_t_min")
    return joined.drop("cand_beam", "cand_coherent"), n_total


def deduplicate_candidates(cand: DataFrame) -> DataFrame:
    """Keep the first-processed candidate per attribute set
    (candidate/transform.py:16-68). processed_at is the unix timestamp
    embedded in the candidate directory name <hostname>_<unix_ts>/."""
    processed_at = (
        F.split(F.split(F.col("filename"), "_").getItem(1), "/").getItem(0).cast("long")
    )
    cand = cand.withColumn("processed_at", processed_at)
    return dedup_keep_first(
        cand,
        [
            "cand_dm",
            "cand_snr",
            "cand_ra",
            "cand_dec",
            "cand_width",
            "cand_observed_at",
            "beam_id",
        ],
        ["processed_at", "filename"],
    ).drop("processed_at")


def transform_sp_candidate(
    cand: DataFrame,
    remote_file_root_path: str,
    partition_key: str,
    n_candidates: int,
) -> DataFrame:
    """sp_candidate rows: plot path prefixed with the remote root and
    partition (candidate/transform.py:205-227).

    The numbering follows ``candidate_id`` — the dense 1-based key the
    FIRST scalable pass assigned — so instead of a second full
    range-partitioning pass (sampling job + range shuffle + fact-sized
    localCheckpoint pin + sizes collect), the rank is recovered from
    ``candidate_id``'s known range via :func:`surrogate_key_dense_int`:
    one hash exchange, one tiny counts collect, nothing pinned
    (VERDICT r14 #1 — fuse the two key assignments onto one sorted
    lineage)."""
    sp = surrogate_key_dense_int(
        cand, "sp_candidate_id", "candidate_id", key_max=n_candidates
    )
    return sp.withColumn(
        "sp_cand_plot_path",
        F.concat_ws(
            "/",
            F.lit(remote_file_root_path),
            F.lit(partition_key),
            F.col("sp_cand_plot_path"),
        ),
    )


def transform_spccl(
    cand_df: DataFrame,
    beam_obs: DataFrame,
    remote_file_root_path: str = "data",
    partition_key: str = "",
) -> CandidateTables:
    """Candidate transformation entrypoint (candidate/transform.py:230-237).
    Raises if the as-of join changed the candidate count; candidates it
    left without a beam are counted in ``unmatched_beams``."""
    cand, n_candidates = transform_candidate(cand_df, beam_obs)
    # The deduped candidates feed both output tables: checkpoint them,
    # and observe the as-of output inside that checkpoint's job. filename
    # is consumed by the dedup (processed_at + tie-break) and referenced
    # nowhere below — drop it before the checkpoint so the pinned blocks
    # carry only live columns (guide §5).
    cand, asof_seen = observed(cand, unmatched=F.count_if(F.col("beam_id").isNull()))
    cand = deduplicate_candidates(cand).drop("filename").localCheckpoint()
    asof_n = asof_seen.get
    if asof_n["rows"] != n_candidates:
        raise UnexpectedShapeError(
            "Unexpected number of candidates after beam-id as-of join."
        )
    sp = transform_sp_candidate(
        cand, remote_file_root_path, partition_key, n_candidates
    )

    candidate = cand.select(
        F.col("candidate_id").alias("id"),
        F.col("cand_dm").alias("dm"),
        F.col("cand_snr").alias("snr"),
        F.col("cand_width").alias("width"),
        F.col("cand_ra").alias("ra"),
        F.col("cand_dec").alias("dec"),
        F.col("cand_pos").alias("pos"),
        F.col("cand_observed_at").alias("observed_at"),
        "beam_id",
    )
    sp_candidate = sp.select(
        F.col("sp_candidate_id").alias("id"),
        F.col("sp_cand_plot_path").alias("plot_path"),
        F.col("candidate_id"),
    )
    return CandidateTables(
        candidate=candidate,
        sp_candidate=sp_candidate,
        sp_candidate_wide=sp,
        unmatched_beams=asof_n["unmatched"],
    )

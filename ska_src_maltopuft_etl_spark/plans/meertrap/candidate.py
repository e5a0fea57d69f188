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
  rather than the reference's file-scan order. The dedup flags the
  first-processed copies instead of dropping the others, so one range
  sort and one checkpoint give every candidate its ``candidate_id`` and
  every kept one its ``sp_candidate_id`` (the reference numbers before
  and after its dedup, candidate/transform.py:166, :215-218);
- the batch and streaming paths resolve beams with the one
  :func:`resolve_beams`.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ska_src_maltopuft_etl_spark import functions as K
from ska_src_maltopuft_etl_spark.operators import (
    asof_join,
    first_in_group,
    surrogate_key_with_subset,
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


def resolve_beams(cand: DataFrame, beam_obs: DataFrame) -> DataFrame:
    """``cand`` with the ``beam_id`` of the latest observation started
    at or before each candidate's 1 s-rounded ``cand_observed_at``, within
    its (``cand_beam``, ``cand_coherent``) group; NULL where none did
    (candidate/transform.py:107-136). ``beam_obs`` is the observation
    transform's (beam_number, beam_coherent, obs_t_min, beam_id) frame."""
    right = beam_obs.select(
        F.col("beam_number").alias("cand_beam"),
        F.col("beam_coherent").alias("cand_coherent"),
        "obs_t_min",
        "beam_id",
    )
    return asof_join(
        cand.withColumn("__obs_round", K.round_timestamp_seconds("cand_observed_at")),
        right,
        left_on="__obs_round",
        right_on="obs_t_min",
        by=["cand_beam", "cand_coherent"],
        right_tiebreak=["beam_id"],
    ).drop("__obs_round", "obs_t_min")


def transform_candidate(cand_df: DataFrame, beam_obs: DataFrame) -> tuple[DataFrame, int]:
    """The first-processed candidate of each attribute set, with
    coordinates, observed_at, pos, beam_id, ``candidate_id`` and
    ``sp_candidate_id`` (candidate/transform.py:16-202, :215-218).

    Both ids come from one range sort on (cand_mjd, filename), a total
    order, so they equal global-window ids: ``candidate_id`` is the
    position among all candidates, before the dedup, and
    ``sp_candidate_id`` the position among the kept ones. Returns (kept
    candidates, candidates left without a beam); the numbering's sizes
    job counts the latter."""
    cand = cand_df.withColumns(
        {
            "cand_coherent": F.col("cand_beam_mode") == "C",
            "cand_observed_at": K.mjd_to_timestamp("cand_mjd"),
            "cand_ra_deg": K.hms_to_degrees("cand_ra"),
            "cand_dec_deg": K.dms_to_degrees("cand_dec"),
        }
    )
    cand = (
        cand.drop("cand_beam_mode", "cand_ra", "cand_dec")
        .withColumnsRenamed({"cand_ra_deg": "cand_ra", "cand_dec_deg": "cand_dec"})
        .withColumn("cand_pos", K.pos_string("cand_ra", "cand_dec"))
    )
    cand = deduplicate_candidates(
        resolve_beams(cand, beam_obs).drop("cand_beam", "cand_coherent")
    )
    kept, seen = surrogate_key_with_subset(
        cand,
        "candidate_id",
        ["cand_mjd", "filename"],
        "cand_first",
        "sp_candidate_id",
        unmatched=F.count_if(F.col("beam_id").isNull()),
    )
    return kept, seen["unmatched"]


def deduplicate_candidates(cand: DataFrame) -> DataFrame:
    """Flag (``cand_first``) the first-processed candidate per attribute
    set (candidate/transform.py:16-68). processed_at is the unix timestamp
    embedded in the candidate directory name <hostname>_<unix_ts>/."""
    processed_at = (
        F.split(F.split(F.col("filename"), "_").getItem(1), "/").getItem(0).cast("long")
    )
    return cand.withColumn(
        "cand_first",
        first_in_group(
            [
                "cand_dm",
                "cand_snr",
                "cand_ra",
                "cand_dec",
                "cand_width",
                "cand_observed_at",
                "beam_id",
            ],
            [processed_at.asc_nulls_last(), "filename"],
        ),
    )


def transform_sp_candidate(
    cand: DataFrame, remote_file_root_path: str, partition_key: str
) -> DataFrame:
    """sp_candidate rows: plot path prefixed with the remote root and
    partition (candidate/transform.py:205-227)."""
    return cand.withColumn(
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
    Candidates the as-of join left without a beam are counted in
    ``unmatched_beams``."""
    cand, unmatched = transform_candidate(cand_df, beam_obs)
    sp = transform_sp_candidate(cand, remote_file_root_path, partition_key)

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
        unmatched_beams=unmatched,
    )

"""MeerTRAP observation transform: run-summary frame → 7 normalized tables.

Faithful re-derivation of the reference's observation dataflow
(meertrap/observation/transform.py:26-527) in declarative Spark, with the
row-order-dependent idioms replaced by explicit keys (SURVEY.md §7.3
risk 1):

- both positional hstacks (transform.py:45, :368-369) become key joins
  on ``sb_start_at`` / ``obs_t_min``: the ``sb_start_at`` ones asserted
  m:1 from row counts that the checkpoint jobs observe (no check runs a
  job of its own), the ``obs_t_min`` ones m:1 by construction;
- every ``with_row_index`` surrogate key becomes a ``row_number`` over a
  deterministic total order (the reference's unordered ``unique()`` makes
  several of its ids thread/hash-order dependent — here they are stable);
- the coherent-beam-config and host ids are a ``dense_rank`` over the
  rows' own key columns, not ``unique()`` + ``with_row_index`` + a join
  back (transform.py:179-200, 519-527);
- the per-row Python interval lookup (transform.py:203-221) becomes a
  broadcast range join with a smallest-id tie-break;
- ``beams_tilings`` / ``beams_host_beams`` are real ArrayType(Struct)
  columns (never Python-repr strings), so explode+struct access replaces
  ast.literal_eval + json_normalize (transform.py:370-391,459-470).

Scale: schedule-block and observation frames are dimension-sized —
broadcast joins; the wide frame and beam explode are the fact path and
stay shuffle-partitioned by their join keys. ``transform_observation``
materializes the schedule-block, unique- and numbered-observation,
tiling and beam frames once each (``localCheckpoint``), so the checks,
the table writes and the candidate as-of join read a few hundred rows
instead of re-running the JSON scan, the dedup and numbering windows and
the interval join behind them. The candidate (fact) path is not
materialized here.
"""

from __future__ import annotations

import operator
from dataclasses import dataclass
from functools import reduce

from pyspark.sql import Column, DataFrame, Observation, Window
from pyspark.sql import functions as F

from ska_src_maltopuft_etl_spark import functions as K
from ska_src_maltopuft_etl_spark.operators import (
    CardinalityError,
    dedup_keep_first,
    interval_join,
    surrogate_key,
)

# Reference constants (observation/constants.py:3-4).
SPEED_OF_LIGHT_M_PER_S = 299_792_458.0
MHZ_TO_HZ = 1e6

CB_KEYS = ["cb_angle", "cb_fraction_overlap", "cb_x", "cb_y"]
HOST_KEYS = ["host_hostname", "host_ip_address", "host_port"]


class UnexpectedShapeError(RuntimeError):
    """Mirror of the reference's invariant-violation error
    (core/exceptions.py:8-9)."""


@dataclass
class ObservationTables:
    schedule_block: DataFrame
    meerkat_schedule_block: DataFrame
    host: DataFrame
    coherent_beam_config: DataFrame
    observation: DataFrame
    tiling_config: DataFrame
    beam: DataFrame
    #: (beam_number, beam_coherent, obs_t_min, beam_id) — the as-of join
    #: right side consumed by the candidate transform.
    beam_obs: DataFrame

    def as_dict(self) -> dict[str, DataFrame]:
        return {
            "schedule_block": self.schedule_block,
            "meerkat_schedule_block": self.meerkat_schedule_block,
            "host": self.host,
            "coherent_beam_config": self.coherent_beam_config,
            "observation": self.observation,
            "tiling_config": self.tiling_config,
            "beam": self.beam,
        }


def _em_min_faithful() -> F.Column:
    # Reference formula verbatim (transform.py:249-254): divide by the
    # MHz value then *multiply* by 1e6 — their unit convention, kept for
    # parity (the physically-dimensioned kernel lives in functions/).
    return (
        SPEED_OF_LIGHT_M_PER_S
        / (F.col("obs_cfreq") + F.col("obs_bw") / 2.0)
        * MHZ_TO_HZ
    )


def _em_max_faithful() -> F.Column:
    return (
        SPEED_OF_LIGHT_M_PER_S
        / (F.col("obs_cfreq") - F.col("obs_bw") / 2.0)
        * MHZ_TO_HZ
    )


def get_sb_df(df: DataFrame) -> DataFrame:
    """Unique schedule-block rows with est_end_at and surrogate keys
    (transform.py:106-176).

    Zero expected durations are replaced by the *global* sum of durations
    mined from every block's script config — reproducing the reference's
    frame-wide scalar quirk (transform.py:111-132, SURVEY.md §7.3 risk 3).
    """
    sb = dedup_keep_first(
        df,
        ["mk_sb_meerkat_id"],
        ["obs_t_min", F.col("obs_t_max").asc_nulls_last(), "filename"],
    ).select(
        "sb_expected_duration_seconds",
        "sb_script_profile_config",
        "sb_start_at",
        "mk_sb_meerkat_id",
        "mk_sb_meerkat_id_code",
        "mk_sb_proposal_id",
        "obs_t_min",
        "obs_t_max",
    )

    # duration= matches are followed by a literal backslash-n in the
    # config text (the reference's r"duration=\d+(\.\d+)?\\n").
    mined = sb.select(
        F.explode_outer(
            F.regexp_extract_all(
                F.col("sb_script_profile_config"), F.lit(r"duration=(\d+(\.\d+)?)\\n"), 1
            )
        ).alias("m")
    ).agg(F.sum(F.col("m").cast("int")).alias("__global_duration"))

    sb = sb.crossJoin(F.broadcast(mined)).withColumn(
        "__duration",
        F.when(
            F.col("sb_expected_duration_seconds") == 0, F.col("__global_duration")
        ).otherwise(F.col("sb_expected_duration_seconds")),
    )
    sb = sb.withColumn("sb_est_end_at", K.add_seconds("sb_start_at", F.col("__duration")))

    sb = surrogate_key(
        sb,
        "schedule_block_id",
        ["obs_t_min", F.col("obs_t_max").asc_nulls_last(), "mk_sb_meerkat_id"],
    ).withColumn("meerkat_schedule_block_id", F.col("schedule_block_id"))
    return sb.select(
        "schedule_block_id",
        "meerkat_schedule_block_id",
        "sb_start_at",
        "sb_est_end_at",
        "mk_sb_meerkat_id",
        "mk_sb_meerkat_id_code",
        "mk_sb_proposal_id",
    )


def get_obs_df(obs_uniq: DataFrame, sb_df: DataFrame) -> DataFrame:
    """Unique observation rows (transform.py:243-344): em band, pol enums,
    parent schedule block via interval join, t_max lead-imputation."""
    base = obs_uniq.join(
        sb_df.select("sb_start_at", "sb_est_end_at"), "sb_start_at", "left"
    )
    obs = base.select(
        "obs_t_min",
        "obs_t_max",
        "obs_em_xel",
        "obs_pol_xel",
        "obs_t_resolution",
        "sb_est_end_at",
        F.lit("MeerTRAP").alias("obs_facility_name"),
        F.lit("Meerkat").alias("obs_instrument_name"),
        _em_min_faithful().alias("obs_em_min"),
        _em_max_faithful().alias("obs_em_max"),
        K.pol_states("obs_pol_xel").alias("obs_pol_states"),
        K.dataproduct_type("obs_pol_xel").alias("obs_dataproduct_type"),
    )

    # J5: parent schedule block where start_at <= t_min <= est_end + 1h;
    # reference scans the sb frame in order and takes the first match →
    # smallest schedule_block_id tie-break.
    sb_iv = sb_df.select(
        "schedule_block_id",
        F.col("sb_start_at").alias("__iv_start"),
        (F.col("sb_est_end_at") + F.expr("INTERVAL 1 HOUR")).alias("__iv_end"),
    )
    obs = interval_join(
        obs,
        sb_iv,
        left_ts="obs_t_min",
        right_start="__iv_start",
        right_end="__iv_end",
        how="left",
        tie_break="schedule_block_id",
    ).drop("__iv_start", "__iv_end")

    obs = surrogate_key(obs, "observation_id", ["obs_t_min"])

    # handle_null_stop (transform.py:224-240): next observation's start,
    # capped by the block's estimated end.
    w = Window.orderBy("obs_t_min")
    obs = obs.withColumn("__next_t_min", F.lead("obs_t_min").over(w)).withColumn(
        "obs_t_max",
        F.when(F.col("obs_t_max").isNotNull(), F.col("obs_t_max")).otherwise(
            F.least("sb_est_end_at", "__next_t_min")
        ),
    )
    return obs.drop("__next_t_min", "sb_est_end_at")


def get_tiling_config_df(obs_uniq: DataFrame, obs_df: DataFrame) -> DataFrame:
    """Tiling configs: explode the typed array, split the target field,
    convert coordinates (transform.py:347-437). Position-stable ids via
    posexplode instead of the reference's row index."""
    tiles = obs_uniq.select(
        "obs_t_min", F.posexplode("beams_tilings").alias("__pos", "__tile")
    )
    tiles = tiles.join(obs_df.select("obs_t_min", "observation_id"), "obs_t_min", "left")
    target_parts = F.split(F.col("__tile.target"), ",")
    tiles = tiles.select(
        "observation_id",
        "__pos",
        F.col("__tile.coordinate_type").alias("tiling_coordinate_type"),
        F.col("__tile.epoch").alias("tiling_epoch"),
        F.col("__tile.epoch_offset").alias("tiling_epoch_offset"),
        F.col("__tile.method").alias("tiling_method"),
        F.col("__tile.nbeams").alias("tiling_nbeams"),
        F.col("__tile.overlap").alias("tiling_overlap"),
        (F.col("__tile.reference_frequency") / MHZ_TO_HZ).alias(
            "tiling_reference_frequency"
        ),
        F.col("__tile.shape").alias("tiling_shape"),
        F.trim(target_parts.getItem(0)).alias("tiling_target"),
        F.trim(target_parts.getItem(2)).alias("__ra_hms"),
        F.trim(target_parts.getItem(3)).alias("__dec_dms"),
    )
    tiles = tiles.withColumns(
        {
            "tiling_ra": K.hms_to_degrees("__ra_hms"),
            "tiling_dec": K.dms_to_degrees("__dec_dms"),
        }
    ).drop("__ra_hms", "__dec_dms")
    return surrogate_key(tiles, "tiling_config_id", ["observation_id", "__pos"])


def get_beam_df(wide: DataFrame) -> DataFrame:
    """Beam rows: hostname from filename, explode host beams, coordinates
    to degrees, dedup (transform.py:440-516). ``obs_t_min``, which
    follows from ``observation_id``, rides along for the as-of join."""
    beams = wide.select(
        "filename", "observation_id", "obs_t_min", F.explode("beams_host_beams").alias("__b")
    ).select(
        "observation_id",
        "obs_t_min",
        F.regexp_extract("filename", r"(tpn-\d+-\d+)", 1).alias("host_hostname"),
        F.col("__b.absnum").alias("beam_number"),
        F.col("__b.coherent").alias("beam_coherent"),
        K.hms_to_degrees(F.col("__b.ra_hms")).alias("beam_ra"),
        K.dms_to_degrees(F.col("__b.dec_dms")).alias("beam_dec"),
        F.col("__b.mc_ip").alias("host_ip_address"),
        F.col("__b.mc_port").alias("host_port"),
    )
    beams = beams.dropDuplicates(
        [
            "beam_number",
            "beam_coherent",
            "beam_dec",
            "host_ip_address",
            "host_port",
            "beam_ra",
            "observation_id",
            "host_hostname",
        ]
    )
    # Order-by must be a TOTAL order over the dedup subset — two beams
    # differing only in ra/dec/hostname would otherwise tie and receive
    # nondeterministic ids across runs (they share the (number, coherent,
    # observation_id) natural key, so incremental_load's existing-row
    # match would pick an arbitrary winner).
    return surrogate_key(
        beams,
        "beam_id",
        [
            "observation_id",
            "beam_number",
            F.col("beam_coherent").desc(),
            "host_ip_address",
            "host_port",
            "beam_ra",
            "beam_dec",
            "host_hostname",
        ],
    )


def observed(df: DataFrame, **metrics: Column) -> tuple[DataFrame, Observation]:
    """``df`` with its row count (``rows``) and ``metrics`` observed by the
    eager ``localCheckpoint`` every caller feeds it into. Read ``.get``
    only after that job: on a frame that never runs it blocks forever."""
    seen = Observation()
    return df.observe(
        seen,
        F.count(F.lit(1)).alias("rows"),
        *(c.alias(name) for name, c in metrics.items()),
    ), seen


def _pinned(df: DataFrame, **metrics: Column) -> tuple[DataFrame, dict]:
    """``df`` checkpointed, with the counts its checkpoint job observed."""
    df, seen = observed(df, **metrics)
    return df.localCheckpoint(), seen.get


def _keys_present(keys: list[str]) -> Column:
    return reduce(operator.and_, (F.col(c).isNotNull() for c in keys))


def _key_id(keys: list[str]) -> Column:
    """Each row's id for its ``keys`` tuple, numbered as
    :func:`surrogate_key` numbers the distinct tuples in ``keys`` order:
    a ``dense_rank`` over an order equals a ``row_number`` over the
    distinct tuples in that order, and both treat NULL keys as equal."""
    w = Window.orderBy(*(F.col(c).asc_nulls_last() for c in keys))
    return F.dense_rank().over(w).cast("long")


# The reference's Polars joins assert validate="m:1"; each sb_start_at
# LEFT join here asserts that its output keeps the left row count. That
# fails on every duplicated right key some left row matches, and no
# duplicate goes unmatched: sb_df is built from rows of ``df``, which the
# wide frame's join holds whole. The two obs_t_min joins need no check:
# ``obs_uniq`` is unique on obs_t_min by its dedup; once the first
# sb_start_at check holds, get_obs_df keeps one row per ``obs_uniq`` row,
# as its interval_join with a tie_break keeps one row per left row. So
# obs_df is unique on obs_t_min too.
def _assert_m1(on: list[str], left_rows: int, joined_rows: int) -> None:
    if joined_rows != left_rows:
        raise CardinalityError(f"join keys {on} not unique on right side (expect=m:1)")


def transform_observation(df: DataFrame) -> ObservationTables:
    """Observation transform entrypoint (transform.py:26-105).

    Each dimension frame is checkpointed as it is built, so every later
    consumer reads the materialized rows rather than the frame's
    lineage. The config and host ids are numbered inside the observation
    and beam checkpoints (:func:`_key_id`). The reference's runtime
    assertions (m:1 joins, null FKs) read row and NULL counts that those
    checkpoint jobs observe, so they cost no job. The returned tables
    read the checkpoints, which cannot be recomputed: consume them
    before ``release_all_persisted``.
    """
    sb_df = get_sb_df(df).localCheckpoint()

    uniq = dedup_keep_first(df, ["obs_t_min"], [F.col("obs_t_max").asc_nulls_last(), "filename"])
    obs_uniq, uniq_n = _pinned(uniq.withColumn("coherent_beam_config_id", _key_id(CB_KEYS)))
    obs_df, obs_n = _pinned(
        get_obs_df(obs_uniq, sb_df), orphans=F.count_if(F.col("schedule_block_id").isNull())
    )
    _assert_m1(["sb_start_at"], uniq_n["rows"], obs_n["rows"])
    tiling_df = get_tiling_config_df(obs_uniq, obs_df).localCheckpoint()

    # Null-FK invariant (transform.py:98-104): every observation must
    # sit inside a schedule block (+1h grace).
    if obs_n["orphans"]:
        raise UnexpectedShapeError(
            f"Merge resulted in {obs_n['orphans']} null schedule_block_id."
        )

    # Wide frame: one row per input file, annotated with every id. The
    # beam checkpoint reads it once and so observes its counts.
    sb_ids = sb_df.select("sb_start_at", "schedule_block_id", "meerkat_schedule_block_id")
    base, base_seen = observed(
        df.select("filename", "sb_start_at", "obs_t_min", "beams_host_beams")
    )
    wide, sb_seen = observed(base.join(sb_ids, "sb_start_at", "left"))
    wide, ids_seen = observed(
        wide.join(obs_df.select("obs_t_min", "observation_id"), "obs_t_min", "left"),
        orphans=F.count_if(F.col("observation_id").isNull()),
    )

    beam_df, beam_n = _pinned(
        get_beam_df(wide).withColumn("host_id", _key_id(HOST_KEYS)),
        hostless=F.count_if(~_keys_present(HOST_KEYS)),
    )
    _assert_m1(["sb_start_at"], base_seen.get["rows"], sb_seen.get["rows"])

    for col, n in (("observation_id", ids_seen.get["orphans"]), ("host_id", beam_n["hostless"])):
        if n:
            raise UnexpectedShapeError(f"Merge resulted in null {col}.")

    # s_ra/s_dec on the observation = first tiling's coordinates
    # (deterministic stand-in for the reference's join-order-dependent
    # pick, transform.py:412-418).
    first_tile = tiling_df.where(F.col("__pos") == 0).select(
        "observation_id",
        F.col("tiling_ra").alias("obs_s_ra"),
        F.col("tiling_dec").alias("obs_s_dec"),
    )
    # A NULL config key gets a NULL id on the observation, as from the
    # reference's equi-join; the config table keeps that row and its id.
    cb_id = F.when(_keys_present(CB_KEYS), F.col("coherent_beam_config_id"))
    cb_ids = obs_uniq.select("obs_t_min", cb_id.alias("coherent_beam_config_id"))
    obs_full = obs_df.join(F.broadcast(cb_ids), "obs_t_min", "left").join(
        first_tile, "observation_id", "left"
    )

    observation = obs_full.select(
        F.col("observation_id").alias("id"),
        F.col("obs_t_min").alias("t_min"),
        F.col("obs_t_max").alias("t_max"),
        F.col("obs_em_min").alias("em_min"),
        F.col("obs_em_max").alias("em_max"),
        F.col("obs_em_xel").alias("em_xel"),
        F.col("obs_pol_xel").alias("pol_xel"),
        F.col("obs_pol_states").alias("pol_states"),
        F.col("obs_dataproduct_type").alias("dataproduct_type"),
        F.col("obs_facility_name").alias("facility_name"),
        F.col("obs_instrument_name").alias("instrument_name"),
        F.col("obs_t_resolution").alias("t_resolution"),
        F.col("obs_s_ra").alias("s_ra"),
        F.col("obs_s_dec").alias("s_dec"),
        "schedule_block_id",
        "coherent_beam_config_id",
    )
    schedule_block = sb_df.select(
        F.col("schedule_block_id").alias("id"),
        F.col("sb_start_at").alias("start_at"),
        F.col("sb_est_end_at").alias("est_end_at"),
    )
    meerkat_schedule_block = sb_df.select(
        F.col("meerkat_schedule_block_id").alias("id"),
        F.col("mk_sb_meerkat_id").alias("meerkat_id"),
        F.col("mk_sb_meerkat_id_code").alias("meerkat_id_code"),
        F.col("mk_sb_proposal_id").alias("proposal_id"),
        "schedule_block_id",
    )
    host = beam_df.select(
        F.col("host_id").alias("id"),
        F.col("host_ip_address").alias("ip_address"),
        F.col("host_hostname").alias("hostname"),
        F.col("host_port").alias("port"),
    ).dropDuplicates()
    coherent_beam_config = obs_uniq.select(
        F.col("coherent_beam_config_id").alias("id"),
        F.col("cb_angle").alias("angle"),
        F.col("cb_fraction_overlap").alias("fraction_overlap"),
        F.col("cb_x").alias("x"),
        F.col("cb_y").alias("y"),
    ).dropDuplicates()
    tiling_config = tiling_df.select(
        F.col("tiling_config_id").alias("id"),
        F.col("tiling_coordinate_type").alias("coordinate_type"),
        F.col("tiling_epoch").alias("epoch"),
        F.col("tiling_epoch_offset").alias("epoch_offset"),
        F.col("tiling_method").alias("method"),
        F.col("tiling_nbeams").alias("nbeams"),
        F.col("tiling_overlap").alias("overlap"),
        F.col("tiling_reference_frequency").alias("reference_frequency"),
        F.col("tiling_shape").alias("shape"),
        F.col("tiling_target").alias("target"),
        F.col("tiling_ra").alias("ra"),
        F.col("tiling_dec").alias("dec"),
        "observation_id",
    )
    beam = beam_df.select(
        F.col("beam_id").alias("id"),
        F.col("beam_number").alias("number"),
        F.col("beam_coherent").alias("coherent"),
        F.col("beam_ra").alias("ra"),
        F.col("beam_dec").alias("dec"),
        "observation_id",
        "host_id",
    )
    beam_obs = beam_df.select("beam_number", "beam_coherent", "obs_t_min", "beam_id")

    return ObservationTables(
        schedule_block=schedule_block,
        meerkat_schedule_block=meerkat_schedule_block,
        host=host,
        coherent_beam_config=coherent_beam_config,
        observation=observation,
        tiling_config=tiling_config,
        beam=beam,
        beam_obs=beam_obs,
    )

"""Driver-oracle certification of the MeerTRAP parity dataflow.

The MeerTRAP pipeline (the reference's operative semantics,
``/root/reference/src/ska_src_maltopuft_etl/meertrap/meertrap.py:70-205``)
was previously verified only by the pytest suite. These two registry
queries put the SAME transform functions the pipeline runs —
:func:`get_sb_df` / :func:`get_obs_df` for the observation side,
:func:`transform_spccl` (as-of join → dedup → surrogate keys → plot
paths) for the candidate side — under the driver's DuckDB value-hash
oracle.

The driver only exposes the TPC-H-ish parquet views, so both engines
derive an identical MeerTRAP-shaped fixture from ``orders`` / ``nation``
with deterministic integer arithmetic (every timestamp is built from
exact integer/dyadic expressions, per the registry determinism rules),
then the Spark side runs the real transforms while the oracle re-states
the reference semantics in ANSI SQL:

- keep-first schedule-block dedup + the reference's *global* mined
  duration quirk (observation/transform.py:106-176);
- est_end arithmetic, interval-join parent resolution with smallest-id
  tie-break, lead-based t_max imputation (transform.py:203-240);
- em band math (faithful formula), npol enums (transform.py:249-297);
- MJD→timestamp, HMS/DMS→degrees, 1 s half-up rounding, backward as-of
  beam resolution, attribute-set dedup, surrogate keys, plot-path
  prefixing (candidate/transform.py:16-237).

Fixture design notes (determinism):

- ``obs_t_min = epoch(2023-11-20) + o_orderkey`` seconds — unique, so
  every surrogate-key / lead window has a total order;
- ``cand_mjd = 60268 + o_orderkey/1024`` — dyadic rational, so the
  (mjd−40587)·86400·1e6 product is an exact integer in IEEE double and
  both engines land on the same microsecond;
- every o_orderkey % 10 == 0 candidate also appears as a later-processed
  duplicate with a different filename, exercising keep-first dedup and
  leaving the reference's pre-dedup candidate-id gaps visible;
- declination degrees are kept >= 1 so no value falls in the
  scientific-notation range where engines' float→string forms diverge.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ska_src_maltopuft_etl_spark.plans.meertrap.candidate import transform_spccl
from ska_src_maltopuft_etl_spark.plans.meertrap.observation import (
    get_obs_df,
    get_sb_df,
)
from ska_src_maltopuft_etl_spark.plans.registry import register
from ska_src_maltopuft_etl_spark.sources import load_table

_BASE = "2023-11-20 00:00:00"


def _wide_fixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MeerTRAP run-summary-shaped wide frame derived from ``orders``."""
    o = load_table(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    mk = (k % 8).cast("int")
    base = F.lit(_BASE).cast("timestamp")
    t_min = F.timestamp_micros(F.unix_micros(base) + k * F.lit(1_000_000))
    return o.select(
        k.alias("o_orderkey"),
        mk.alias("__mk"),
        F.concat(F.lit("run_"), (k % 1000).cast("string")).alias("filename"),
        (F.lit(79000) + mk).cast("long").alias("mk_sb_meerkat_id"),
        F.concat(F.lit("MKT-"), mk.cast("string")).alias("mk_sb_meerkat_id_code"),
        F.concat(F.lit("SCI-"), (mk % 3).cast("string")).alias("mk_sb_proposal_id"),
        F.timestamp_micros(
            F.unix_micros(base) + mk.cast("long") * F.lit(3_600_000_000)
        ).alias("sb_start_at"),
        t_min.alias("obs_t_min"),
        F.when(
            k % 5 == 0, F.lit(None).cast("timestamp")
        ).otherwise(
            F.timestamp_micros(F.unix_micros(base) + (k + 600) * F.lit(1_000_000))
        ).alias("obs_t_max"),
        F.when(mk % 4 == 0, F.lit(0))
        .otherwise((mk + 1) * 600)
        .cast("long")
        .alias("sb_expected_duration_seconds"),
        # two duration= matches per config; "\\n" is a LITERAL backslash-n,
        # exactly as in the reference's script blobs.
        F.concat(
            F.lit("init duration="),
            (F.lit(300) + mk * 60).cast("string"),
            F.lit("\\n observe duration="),
            (F.lit(900) + mk * 30).cast("string"),
            F.lit("\\n end"),
        ).alias("sb_script_profile_config"),
        (k % 4).cast("int").alias("obs_em_xel"),
        F.when(k % 3 == 0, 1).when(k % 3 == 1, 4).otherwise(2).cast("int").alias(
            "obs_pol_xel"
        ),
        ((k % 10).cast("double") / 1000.0).alias("obs_t_resolution"),
        (F.lit(1284.0) + mk.cast("double")).alias("obs_cfreq"),
        F.lit(856.0).alias("obs_bw"),
    )


@register(
    "meertrap_observation",
    oracle=f"""
    WITH wide AS (
      SELECT o_orderkey AS k,
             CAST(o_orderkey % 8 AS INT) AS mk,
             TIMESTAMP '{_BASE}'
               + to_microseconds((o_orderkey % 8) * 3600000000) AS sb_start_at,
             TIMESTAMP '{_BASE}' + to_microseconds(o_orderkey * 1000000) AS obs_t_min,
             CASE WHEN o_orderkey % 5 = 0 THEN NULL
                  ELSE TIMESTAMP '{_BASE}'
                       + to_microseconds((o_orderkey + 600) * 1000000) END AS obs_t_max,
             CASE WHEN (o_orderkey % 8) % 4 = 0 THEN 0
                  ELSE ((o_orderkey % 8) + 1) * 600 END AS sb_expected_duration_seconds,
             'init duration=' || CAST(300 + (o_orderkey % 8) * 60 AS VARCHAR)
               || '\\n observe duration=' || CAST(900 + (o_orderkey % 8) * 30 AS VARCHAR)
               || '\\n end' AS sb_script_profile_config,
             CAST(o_orderkey % 4 AS INT) AS obs_em_xel,
             CASE WHEN o_orderkey % 3 = 0 THEN 1
                  WHEN o_orderkey % 3 = 1 THEN 4 ELSE 2 END AS obs_pol_xel,
             CAST(o_orderkey % 10 AS DOUBLE) / 1000.0 AS obs_t_resolution,
             1284.0 + CAST(o_orderkey % 8 AS DOUBLE) AS obs_cfreq,
             856.0 AS obs_bw
      FROM orders),
    sb_kept AS (
      SELECT * FROM (
        SELECT *, ROW_NUMBER() OVER (
                 PARTITION BY mk
                 ORDER BY obs_t_min ASC NULLS LAST,
                          obs_t_max ASC NULLS LAST, k) AS __rn
        FROM wide) WHERE __rn = 1),
    mined AS (
      SELECT CAST(SUM(CAST(m AS INT)) AS BIGINT) AS global_duration
      FROM (SELECT unnest(regexp_extract_all(
                     sb_script_profile_config,
                     'duration=(\\d+(\\.\\d+)?)\\\\n', 1)) AS m
            FROM sb_kept)),
    sb AS (
      SELECT s.mk, s.sb_start_at,
             s.sb_start_at + to_microseconds(
               CAST(CASE WHEN s.sb_expected_duration_seconds = 0
                         THEN m.global_duration
                         ELSE s.sb_expected_duration_seconds END
                    AS BIGINT) * 1000000) AS sb_est_end_at,
             ROW_NUMBER() OVER (
               ORDER BY s.obs_t_min ASC NULLS LAST,
                        s.obs_t_max ASC NULLS LAST,
                        s.mk + 79000) AS schedule_block_id
      FROM sb_kept s CROSS JOIN mined m),
    obs AS (
      SELECT w.obs_t_min, w.obs_t_max, w.obs_em_xel, w.obs_pol_xel,
             w.obs_t_resolution,
             s.sb_est_end_at,
             299792458.0 / (w.obs_cfreq + w.obs_bw / 2.0) * 1000000.0 AS obs_em_min,
             299792458.0 / (w.obs_cfreq - w.obs_bw / 2.0) * 1000000.0 AS obs_em_max,
             CASE w.obs_pol_xel WHEN 1 THEN 'I' WHEN 4 THEN 'I,Q,U,V' END
               AS obs_pol_states,
             CASE w.obs_pol_xel WHEN 1 THEN 'dynamic spectrum' WHEN 4 THEN 'cube' END
               AS obs_dataproduct_type,
             (SELECT MIN(s2.schedule_block_id) FROM sb s2
              WHERE w.obs_t_min >= s2.sb_start_at
                AND w.obs_t_min <= s2.sb_est_end_at + INTERVAL 1 HOUR)
               AS schedule_block_id
      FROM wide w LEFT JOIN sb s ON s.sb_start_at = w.sb_start_at),
    numbered AS (
      SELECT *, ROW_NUMBER() OVER (ORDER BY obs_t_min) AS observation_id,
             LEAD(obs_t_min) OVER (ORDER BY obs_t_min) AS __next_t_min
      FROM obs)
    SELECT observation_id, schedule_block_id,
           epoch_us(obs_t_min) AS t_min_us,
           epoch_us(COALESCE(obs_t_max,
                    CASE WHEN __next_t_min IS NULL THEN sb_est_end_at
                         ELSE LEAST(sb_est_end_at, __next_t_min) END)) AS t_max_us,
           obs_em_xel, obs_pol_xel,
           -- raw doubles: both engines evaluate c/(cfreq+bw/2)*1e6 with the
           -- same operation order, so the bits (hence canonical strings)
           -- agree; decimal ROUND implementations diverge by 1 ulp at
           -- boundaries on these ~1e11 magnitudes.
           obs_em_min AS em_min,
           obs_em_max AS em_max,
           obs_pol_states AS pol_states,
           obs_dataproduct_type AS dataproduct_type,
           obs_t_resolution AS t_resolution
    FROM numbered
    """,
    covers=("W1", "A1", "F2", "F8", "J5", "W4", "W5", "F12", "F16", "P7"),
    description=(
        "MeerTRAP observation dataflow end-to-end (real get_sb_df/get_obs_df): "
        "sb dedup + global duration quirk + interval-join parent + lead t_max "
        "imputation + em/enum kernels, under the full value-hash oracle"
    ),
)
def meertrap_observation(spark: SparkSession, sf_dir: str) -> DataFrame:
    wide = _wide_fixture(spark, sf_dir)
    sb = get_sb_df(wide)
    obs = get_obs_df(wide, sb)
    return obs.select(
        "observation_id",
        "schedule_block_id",
        F.unix_micros("obs_t_min").alias("t_min_us"),
        F.unix_micros("obs_t_max").alias("t_max_us"),
        "obs_em_xel",
        "obs_pol_xel",
        F.col("obs_em_min").alias("em_min"),
        F.col("obs_em_max").alias("em_max"),
        F.col("obs_pol_states").alias("pol_states"),
        F.col("obs_dataproduct_type").alias("dataproduct_type"),
        F.col("obs_t_resolution").alias("t_resolution"),
    )


def _cand_fixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPCCL-shaped candidate frame from ``orders``, with engineered
    later-processed duplicates for every o_orderkey % 10 == 0 row."""
    o = load_table(spark, sf_dir, "orders")
    k = F.col("o_orderkey")

    def rows(dup: bool) -> DataFrame:
        host = F.concat(F.lit("node"), (k % 4).cast("string"))
        ts = (F.lit(1_700_000_000) + (k % 97)).cast("long") + (
            F.lit(1000) if dup else F.lit(0)
        )
        fname = F.concat(
            F.lit("dup") if dup else F.lit(""),
            host,
            F.lit("_"),
            ts.cast("string"),
            F.lit("/cand"),
            (k % 13).cast("string"),
            F.lit(".spccl.log"),
        )
        s = (k % 600).cast("double") / 10.0
        ra = F.concat_ws(
            ":",
            (k % 24).cast("int").cast("string"),
            ((k * 7) % 60).cast("int").cast("string"),
            s.cast("string"),
        )
        dec = F.concat(
            F.when(k % 2 == 0, F.lit("-")).otherwise(F.lit("+")),
            F.concat_ws(
                ":",
                ((k % 89) + 1).cast("int").cast("string"),
                ((k * 11) % 60).cast("int").cast("string"),
                s.cast("string"),
            ),
        )
        base = o.where(k % 10 == 0) if dup else o
        return base.select(
            (F.lit(60268.0) + k.cast("double") / 1024.0).alias("cand_mjd"),
            fname.alias("filename"),
            ((k % 1000).cast("double") / 10.0).alias("cand_dm"),
            ((k % 500).cast("double") / 5.0).alias("cand_snr"),
            ((k % 64).cast("double") / 8.0).alias("cand_width"),
            (k % 8).cast("int").alias("cand_beam"),
            F.when((k % 8) % 2 == 0, F.lit("C")).otherwise(F.lit("I")).alias(
                "cand_beam_mode"
            ),
            ra.alias("cand_ra"),
            dec.alias("cand_dec"),
            F.concat(F.lit("plot"), (k % 5).cast("string"), F.lit(".jpg")).alias(
                "sp_cand_plot_path"
            ),
        )

    return rows(False).unionByName(rows(True))


def _beam_obs_fixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of right side from ``nation``: beam r = nationkey % 8 observes
    windows starting every 2 days from 2023-11-19 12:00."""
    n = load_table(spark, sf_dir, "nation")
    key = F.col("n_nationkey")
    base = F.lit("2023-11-19 12:00:00").cast("timestamp")
    return n.select(
        (key % 8).cast("int").alias("beam_number"),
        (key % 2 == 0).alias("beam_coherent"),
        F.timestamp_micros(
            F.unix_micros(base) + key.cast("long") * F.lit(172_800_000_000)
        ).alias("obs_t_min"),
        (key + 1).cast("long").alias("beam_id"),
    )


@register(
    "meertrap_sp_candidate",
    oracle="""
    WITH cand0 AS (
      SELECT o_orderkey AS k, FALSE AS is_dup FROM orders
      UNION ALL
      SELECT o_orderkey AS k, TRUE AS is_dup FROM orders WHERE o_orderkey % 10 = 0),
    cand AS (
      SELECT k, is_dup,
             60268.0 + CAST(k AS DOUBLE) / 1024.0 AS cand_mjd,
             (CASE WHEN is_dup THEN 'dup' ELSE '' END)
               || 'node' || CAST(k % 4 AS VARCHAR) || '_'
               || CAST(1700000000 + (k % 97)
                       + CASE WHEN is_dup THEN 1000 ELSE 0 END AS VARCHAR)
               || '/cand' || CAST(k % 13 AS VARCHAR) || '.spccl.log' AS filename,
             1700000000 + (k % 97)
               + CASE WHEN is_dup THEN 1000 ELSE 0 END AS processed_at,
             CAST(k % 1000 AS DOUBLE) / 10.0 AS cand_dm,
             CAST(k % 500 AS DOUBLE) / 5.0 AS cand_snr,
             CAST(k % 64 AS DOUBLE) / 8.0 AS cand_width,
             CAST(k % 8 AS INT) AS cand_beam,
             (k % 8) % 2 = 0 AS cand_coherent,
             ROUND(((k % 24) + ((k * 7) % 60) / 60.0
                    + ((k % 600) / 10.0) / 3600.0) * 15.0, 5) AS cand_ra,
             ROUND((CASE WHEN k % 2 = 0 THEN -1.0 ELSE 1.0 END)
                   * (((k % 89) + 1) + ((k * 11) % 60) / 60.0
                      + ((k % 600) / 10.0) / 3600.0), 5) AS cand_dec,
             'plot' || CAST(k % 5 AS VARCHAR) || '.jpg' AS sp_cand_plot_path,
             make_timestamp(CAST((60268.0 + CAST(k AS DOUBLE) / 1024.0 - 40587.0)
                                 * 86400.0 * 1000000.0 AS BIGINT)) AS observed_at
      FROM cand0),
    beam_obs AS (
      SELECT CAST(n_nationkey % 8 AS INT) AS beam_number,
             n_nationkey % 2 = 0 AS beam_coherent,
             TIMESTAMP '2023-11-19 12:00:00'
               + to_microseconds(n_nationkey * 172800000000) AS obs_t_min,
             CAST(n_nationkey + 1 AS BIGINT) AS beam_id
      FROM nation),
    with_id AS (
      SELECT *, ROW_NUMBER() OVER (ORDER BY cand_mjd, filename) AS candidate_id,
             make_timestamp(
               (epoch_us(observed_at) + 500000) // 1000000 * 1000000) AS __obs_round
      FROM cand),
    with_beam AS (
      SELECT c.*, b.beam_id FROM with_id c LEFT JOIN beam_obs b
        ON b.beam_number = c.cand_beam AND b.beam_coherent = c.cand_coherent
           AND b.obs_t_min <= c.__obs_round
      QUALIFY ROW_NUMBER() OVER (PARTITION BY c.candidate_id
                                 ORDER BY b.obs_t_min DESC, b.beam_id DESC) = 1),
    deduped AS (
      SELECT * FROM with_beam
      QUALIFY ROW_NUMBER() OVER (
        PARTITION BY cand_dm, cand_snr, cand_ra, cand_dec, cand_width,
                     observed_at, beam_id
        ORDER BY processed_at ASC NULLS LAST, filename ASC NULLS LAST) = 1)
    SELECT ROW_NUMBER() OVER (ORDER BY candidate_id) AS id,
           'data/2023-11-20/' || sp_cand_plot_path AS plot_path,
           candidate_id,
           cand_dm AS dm, cand_snr AS snr, cand_width AS width,
           cand_ra AS ra, cand_dec AS dec,
           '(' || CAST(cand_ra AS VARCHAR) || ',' || CAST(cand_dec AS VARCHAR)
               || ')' AS pos,
           epoch_us(observed_at) AS observed_at_us,
           beam_id
    FROM deduped
    """,
    covers=("F14", "F15", "F9", "J6", "W1", "W5", "F4", "F5", "S5"),
    description=(
        "MeerTRAP candidate dataflow end-to-end (real transform_spccl): "
        "MJD/HMS/DMS kernels + 1s rounding + backward as-of beam resolution "
        "+ keep-first dedup + surrogate keys + plot paths, full value-hash oracle"
    ),
)
def meertrap_sp_candidate(spark: SparkSession, sf_dir: str) -> DataFrame:
    cand = _cand_fixture(spark, sf_dir)
    beam_obs = _beam_obs_fixture(spark, sf_dir)
    tables = transform_spccl(
        cand,
        beam_obs,
        remote_file_root_path="data",
        partition_key="2023-11-20",
    )
    # The two tables are projections of ONE checkpointed frame, 1:1 on
    # candidate_id; read the fused shape instead of re-joining them —
    # the join re-attached rows that were never separated, and at scale
    # it broadcast/shuffled a fact-sized side for nothing (guide §2.4).
    # Output is bitwise the old join's (same rows, same columns), which
    # the driver's value-hash oracle certifies.
    wide = tables.sp_candidate_wide
    return wide.select(
        F.col("sp_candidate_id").alias("id"),
        F.col("sp_cand_plot_path").alias("plot_path"),
        F.col("candidate_id"),
        F.col("cand_dm").alias("dm"),
        F.col("cand_snr").alias("snr"),
        F.col("cand_width").alias("width"),
        F.col("cand_ra").alias("ra"),
        F.col("cand_dec").alias("dec"),
        F.col("cand_pos").alias("pos"),
        F.unix_micros("cand_observed_at").alias("observed_at_us"),
        F.col("beam_id").alias("beam_id"),
    )

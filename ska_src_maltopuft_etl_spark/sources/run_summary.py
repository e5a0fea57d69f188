"""MeerTRAP run-summary JSON source (SURVEY.md §2.1 S1-S4).

The reference walks candidate directories with a thread pool, parses each
JSON through Pydantic, flattens to dot-separated columns, stringifies the
variable-length arrays for parquet, and md5-dedups identical files
(reference: meertrap/observation/extract.py:19-128, core/flatten.py:8-42,
meertrap/observation/models.py:292-383).

Spark-first differences (SURVEY.md §1.3/§2.1):

- one declarative json scan with ``recursiveFileLookup``
  (``scan_run_summaries``, shared with the streaming source) — per-file
  parallelism is the task scheduler's job, and malformed files surface
  via PERMISSIVE ``_corrupt_record`` instead of a skipped thread future;
- nested arrays (tilings, host beams, targets) stay
  ``ArrayType(StructType)`` end-to-end — never Python-repr strings;
- content dedup is a deterministic keep-first over a content hash
  (min filename wins) instead of a mutable global md5 map whose winner
  depends on thread timing.

Flat column names use ``<prefix>_`` (sb_, mk_sb_, obs_, cb_, beams_)
instead of the reference's ``<prefix>.`` — same prefix-slicing
convention, no backtick quoting.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, DataFrameReader, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamReader
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ska_src_maltopuft_etl_spark.operators import dedup_keep_first

TILING_SCHEMA = StructType(
    [
        StructField("coordinate_type", StringType()),
        StructField("epoch", DoubleType()),
        StructField("epoch_offset", DoubleType()),
        StructField("method", StringType()),
        StructField("nbeams", IntegerType()),
        StructField("overlap", DoubleType()),
        StructField("reference_frequency", DoubleType()),
        StructField("shape", StringType()),
        StructField("target", StringType()),
    ]
)

HOST_BEAM_SCHEMA = StructType(
    [
        StructField("absnum", IntegerType()),
        StructField("coherent", BooleanType()),
        StructField("dec_dms", StringType()),
        StructField("mc_ip", StringType()),
        StructField("mc_port", IntegerType()),
        StructField("ra_hms", StringType()),
        StructField("relnum", IntegerType()),
        StructField("source", StringType()),
    ]
)

RUN_SUMMARY_SCHEMA = StructType(
    [
        StructField(
            "beams",
            StructType(
                [
                    StructField(
                        "ca_target_request",
                        StructType(
                            [
                                StructField("beams", ArrayType(StringType())),
                                StructField("tilings", ArrayType(TILING_SCHEMA)),
                                StructField("unique_id", StringType()),
                            ]
                        ),
                    ),
                    StructField("cb_antennas", ArrayType(StringType())),
                    StructField(
                        "coherent_beam_shape",
                        StructType(
                            [
                                StructField("angle", DoubleType()),
                                StructField("overlap", DoubleType()),
                                StructField("x", DoubleType()),
                                StructField("y", DoubleType()),
                            ]
                        ),
                    ),
                    StructField("ib_antennas", ArrayType(StringType())),
                    StructField("list", ArrayType(HOST_BEAM_SCHEMA)),
                ]
            ),
        ),
        StructField(
            "data",
            StructType(
                [
                    StructField("bw", DoubleType()),
                    StructField("cfreq", DoubleType()),
                    StructField("nbeam", IntegerType()),
                    StructField("nbit", IntegerType()),
                    StructField("nchan", IntegerType()),
                    StructField("npol", IntegerType()),
                    StructField("sync_time", DoubleType()),
                    StructField("tsamp", DoubleType()),
                ]
            ),
        ),
        # Opaque JSON blobs, captured as raw strings (the reference also
        # keeps them unmodelled: models.py:327-330,348-356).
        StructField("pipeline", StringType()),
        StructField(
            "sb_details",
            StructType(
                [
                    StructField("id", LongType()),
                    StructField("id_code", StringType()),
                    StructField("actual_start_time", StringType()),
                    StructField("expected_duration_seconds", DoubleType()),
                    StructField("proposal_id", StringType()),
                    StructField("script_profile_config", StringType()),
                    StructField("targets", StringType()),
                ]
            ),
        ),
        StructField("utc_start", StringType()),
        StructField("utc_stop", StringType()),
        StructField("version_info", StringType()),
        StructField("_corrupt_record", StringType()),
    ]
)

# "%Y-%m-%d_%H:%M:%S" (models.py:332-346)
_UTC_FMT = "yyyy-MM-dd'_'HH:mm:ss"
# "%Y-%m-%d %H:%M:%S.%f%z" (models.py:270-275)
_SB_START_FMT = "yyyy-MM-dd HH:mm:ss.SSSSSSXXX"


def scan_run_summaries(reader: DataFrameReader | DataStreamReader, directory: str) -> DataFrame:
    """Every ``<directory>/**/*run_summary.json`` file as
    ``RUN_SUMMARY_SCHEMA`` columns, plus ``filename``:
    ``<candidate_dir>/<file stem>`` exactly as the reference builds it
    (observation/extract.py:47-57). Each file is one JSON document,
    compact or pretty-printed, as the reference's ``json.load`` accepts;
    a file that does not parse has NULL fields and its text in
    ``_corrupt_record``. ``reader`` is ``spark.read`` or
    ``spark.readStream``, so the batch and streaming sources read the
    files alike.
    """
    path = F.input_file_name()
    filename = F.concat_ws(
        "/",
        F.regexp_extract(path, r"([^/]+)/[^/]+$", 1),
        F.regexp_replace(F.regexp_extract(path, r"([^/]+)$", 1), r"\.json$", ""),
    )
    return (
        reader.schema(RUN_SUMMARY_SCHEMA)
        .option("multiLine", "true")
        .option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "*run_summary.json")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(directory)
        .withColumn("filename", filename)
    )


def parse_run_summaries(raw: DataFrame) -> DataFrame:
    """``scan_run_summaries`` output, batch or streaming, as the flat
    prefixed columns the observation transform consumes, plus the S4
    dedup key ``content_hash`` over every column but ``filename``.
    Files that did not parse are dropped rather than aborting the scan.
    """
    ok = raw.where(F.col("_corrupt_record").isNull()).drop("_corrupt_record")
    flat = ok.select(
        "filename",
        F.col("beams.ca_target_request.beams").alias("beams_beams"),
        F.col("beams.ca_target_request.tilings").alias("beams_tilings"),
        F.col("beams.coherent_beam_shape.angle").alias("cb_angle"),
        F.col("beams.coherent_beam_shape.overlap").alias("cb_fraction_overlap"),
        F.col("beams.coherent_beam_shape.x").alias("cb_x"),
        F.col("beams.coherent_beam_shape.y").alias("cb_y"),
        F.col("beams.list").alias("beams_host_beams"),
        F.col("data.bw").alias("obs_bw"),
        F.col("data.cfreq").alias("obs_cfreq"),
        F.col("data.nbit").alias("obs_nbit"),
        F.col("data.nchan").alias("obs_em_xel"),
        F.col("data.npol").alias("obs_pol_xel"),
        F.col("data.tsamp").alias("obs_t_resolution"),
        F.col("sb_details.id").alias("mk_sb_meerkat_id"),
        F.col("sb_details.id_code").alias("mk_sb_meerkat_id_code"),
        F.to_timestamp(F.col("sb_details.actual_start_time"), _SB_START_FMT).alias(
            "sb_start_at"
        ),
        F.col("sb_details.expected_duration_seconds")
        .cast("long")
        .alias("sb_expected_duration_seconds"),
        F.col("sb_details.proposal_id").alias("mk_sb_proposal_id"),
        F.col("sb_details.script_profile_config").alias("sb_script_profile_config"),
        F.col("sb_details.targets").alias("sb_targets"),
        F.to_timestamp(F.col("utc_start"), _UTC_FMT).alias("obs_t_min"),
        F.to_timestamp(F.col("utc_stop"), _UTC_FMT).alias("obs_t_max"),
        F.col("pipeline").alias("search_pipeline"),
        F.col("version_info").alias("version_info"),
    )
    content_cols = [c for c in flat.columns if c != "filename"]
    return flat.withColumn("content_hash", F.md5(F.to_json(F.struct(*content_cols))))


def read_run_summaries(spark: SparkSession, directory: str) -> DataFrame:
    """Scan ``<directory>/**/*run_summary.json`` into the flat prefixed
    frame the observation transform consumes (``parse_run_summaries``),
    one row per distinct content.
    """
    hashed = parse_run_summaries(scan_run_summaries(spark.read, directory))
    # S4 content dedup: identical summaries shared by many candidate dirs
    # collapse to one row; deterministic winner = lexicographically first
    # filename (the reference's winner is thread-timing dependent).
    return dedup_keep_first(hashed, ["content_hash"], ["filename"]).drop("content_hash")

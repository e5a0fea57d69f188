"""MeerTRAP SPCCL (single-pulse candidate) TSV source (SURVEY.md §2.1 S5).

One tab-separated line per file; field 0 is a throwaway index; ``.jpg`` /
``.fil`` values get the candidate-directory prefix
(reference: meertrap/candidate/extract.py:25-117).

Spark-first: one csv scan with an explicit schema replaces the per-file
thread pool; ``input_file_name()`` supplies the ``filename`` column,
whose candidate directory prefixes the paths. The scan (``scan_spccl``)
and the projection (``parse_spccl``) are shared with the streaming
source.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, DataFrameReader, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamReader
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

# Column order from the reference's zip of SPCCL_FILE_TO_DF_COLUMN_MAP
# keys (candidate/extract.py:54-63, candidate/models.py:83-96).
SPCCL_SCHEMA = StructType(
    [
        StructField("index", IntegerType()),
        StructField("mjd", DoubleType()),
        StructField("dm", DoubleType()),
        StructField("width", DoubleType()),
        StructField("snr", DoubleType()),
        StructField("beam", IntegerType()),
        StructField("beam_mode", StringType()),
        StructField("ra", StringType()),
        StructField("dec", StringType()),
        StructField("label", IntegerType()),
        StructField("probability", DoubleType()),
        StructField("fil_file", StringType()),
        StructField("plot_file", StringType()),
    ]
)


def scan_spccl(reader: DataFrameReader | DataStreamReader, directory: str) -> DataFrame:
    """Every ``<directory>/**/*spccl*`` line as ``SPCCL_SCHEMA`` columns,
    plus ``filename``: ``<candidate dir>/<file stem>``, as the reference
    names it. ``reader`` is ``spark.read`` or ``spark.readStream``, so the
    batch and streaming sources read the files alike."""
    path = F.input_file_name()
    filename = F.concat_ws(
        "/",
        F.regexp_extract(path, r"([^/]+)/[^/]+$", 1),
        F.regexp_replace(F.regexp_extract(path, r"([^/]+)$", 1), r"\.[^.]*$", ""),
    )
    return (
        reader.schema(SPCCL_SCHEMA)
        .option("sep", "\t")
        .option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "*spccl*")
        .csv(directory)
        .withColumn("filename", filename)
    )


def parse_spccl(raw: DataFrame) -> DataFrame:
    """``scan_spccl`` output, batch or streaming, as the prefixed
    candidate frame. Output columns follow the reference's rename map
    (cand_*, sp_cand_plot_path, label, probability, fil_file, filename).
    """
    cand_dir = F.substring_index("filename", "/", 1)

    def prefixed(col: str):
        return F.concat_ws("/", cand_dir, F.col(col))

    return raw.select(
        "filename",
        F.col("mjd").alias("cand_mjd"),
        F.col("dm").alias("cand_dm"),
        F.col("width").alias("cand_width"),
        F.col("snr").alias("cand_snr"),
        F.col("beam").alias("cand_beam"),
        F.col("beam_mode").alias("cand_beam_mode"),
        F.col("ra").alias("cand_ra"),
        F.col("dec").alias("cand_dec"),
        F.col("label").alias("label"),
        F.col("probability").alias("probability"),
        prefixed("fil_file").alias("fil_file"),
        prefixed("plot_file").alias("sp_cand_plot_path"),
    )


def read_spccl(spark: SparkSession, directory: str) -> DataFrame:
    """Scan ``<directory>/**/*spccl*`` into the prefixed candidate frame."""
    return parse_spccl(scan_spccl(spark.read, directory))

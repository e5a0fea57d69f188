"""ska_src_maltopuft_etl_spark — a PySpark-native analytics/ETL engine.

Brand-new implementation of the query and data-processing capabilities of
ska-telescope/ska-src-maltopuft-etl (reference surveyed in SURVEY.md),
re-expressed Spark-first:

- ``engine``     SparkSession factory + declared schemas
- ``functions``  scalar kernel library (native Column expressions, no UDFs
                 in the hot path)
- ``operators``  reusable DataFrame operators the reference needs but Spark
                 lacks as primitives (as-of join, interval join, ordered
                 dedup, surrogate keys, key remap, cardinality-validated
                 joins) plus large-scale training-data ops (dedup family,
                 similarity search, text analysis, multimodal plumbing)
- ``sources``    run-summary JSON / SPCCL TSV / star-schema test-table
                 readers and candidate-directory layout steps
- ``sinks``      parquet + idempotent relational (merge-style) and JDBC
                 sinks, SCD2
- ``plans``      the MeerTRAP and ATNF pipelines composed from the above,
                 plus the query battery
- ``streaming``  Structured Streaming extensions (file-arrival ingest,
                 stream-stream joins, sessionization)

Everything is built on the public Apache Spark DataFrame API and designed
for a multi-executor cluster at ~100 TB scale; local[*] is only the test
harness.
"""

__version__ = "0.1.0"

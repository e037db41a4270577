"""Partitioned parquet IO with idempotent overwrite semantics (SURVEY.md
§2.1 S3-S9, §2.7 W1-W2).

The reference's layout is Hive-style partitioned blob paths with
"latest wins" resolution (/root/reference/src/storage/blob.py:43-60,
ingestion_hicp_raw.py:76) and idempotency by delete-then-append at series
granularity (load_hicp_to_sql.py:54-62). On Spark those become:

- ``write_partitioned``: ``partitionBy`` + **dynamic partition overwrite** —
  only partitions present in the incoming batch are replaced; everything
  else is untouched. That is exactly the reference's per-series
  delete+insert, executed atomically per partition by the file committer
  instead of a hand-written DELETE.
- ``read_partitioned``: partition-discovering scan; filters on partition
  columns prune directories before any file is opened (the reference's
  path-prefix selection, process_hicp_silver.py:124-127, done by Catalyst).
- ``quality_gated_write``: the reference's PASS-file gate
  (load_hicp_to_sql.py:18-29) as a precondition — run the constraint suite,
  refuse the write on any failure.

Scale notes: dynamic overwrite turns "idempotent re-run" into a metadata
operation per partition — no read-modify-write of the whole table; with
sensible partition keys (low-cardinality dims like geo, or date buckets)
a re-ingest touches only the partitions it produces.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from european_public_data_pipeline_spark.quality.checks import (
    RESULT_SCHEMA,
    CheckSuite,
    gate,
)
from european_public_data_pipeline_spark.session import local_frame


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
    mode: str = "overwrite",
) -> None:
    """Idempotent partition-scoped overwrite (W1): replace exactly the
    partitions present in ``df``, leave all others intact."""
    spark = df.sparkSession
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        df.write.partitionBy(*partition_cols).mode(mode).parquet(path)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)


def read_partitioned(spark: SparkSession, path: str) -> DataFrame:
    """Partition-discovering parquet scan (S9 + S4): filters on partition
    columns become directory pruning, never file reads."""
    return spark.read.parquet(path)


def quality_gated_write(
    df: DataFrame,
    suite: CheckSuite,
    path: str,
    partition_cols: list[str],
) -> DataFrame:
    """W3 + W1: run the constraint suite; write only if every check passed.

    Returns the constraint table (written or not) so callers can persist
    the report alongside the data, mirroring the reference's quality-report
    blob (check_hicp_quality.py:142-152).
    """
    checks_rows = gate(suite.to_dataframe(df.sparkSession))
    write_partitioned(df, path, partition_cols)
    return local_frame(df.sparkSession, checks_rows, RESULT_SCHEMA)

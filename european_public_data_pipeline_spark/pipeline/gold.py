"""Gold layer: quality-gated, idempotent warehouse load (SURVEY.md §2.1
S12-S14, §2.7 W1/W3, §3.4).

The reference loads silver parquet into Azure SQL with hand-written DDL,
a per-series DELETE for idempotency, and chunked multi-row INSERTs
(/root/reference/src/db/load_hicp_to_sql.py). Spark-first, the warehouse is
a catalog table:

- S13 ``ensure_table``: ``CREATE TABLE IF NOT EXISTS`` through ``spark.sql``
  (the reference's IF OBJECT_ID guard, load_hicp_to_sql.py:32-51).
- S14 ``run_sql``: arbitrary SQL against the catalog (db/sql.py:43-48).
- W1 ``load_gold``: the delete-then-append idempotency
  (load_hicp_to_sql.py:54-62,91) becomes dynamic ``INSERT OVERWRITE`` —
  only the partitions present in the batch are replaced, atomically per
  partition, no hand-written DELETE.
- W3: callers gate with quality/checks.gate before calling (README.md:137).

For an actual JDBC warehouse the same DataFrame goes through
``pipeline/jdbc.py`` (S12): driver-side DDL/DELETE over a live
``java.sql`` connection plus ``df.write.jdbc(mode="append")`` with the
``batchsize`` knob (the reference's ``chunksize=200``,
load_hicp_to_sql.py:99-100) — exercised end-to-end against embedded
Apache Derby in tests/test_jdbc.py.

Scale notes: partition the gold table on the series key prefix (here
``geo``) so a re-ingest of one series rewrites one directory; appends from
N executors commit through the file committer without coordination.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F


def run_sql(spark: SparkSession, sql: str) -> DataFrame:
    """S14: execute SQL text against the session catalog."""
    return spark.sql(sql)


def ensure_table(
    spark: SparkSession,
    table: str,
    columns_ddl: str,
    partition_cols: list[str],
    location: str | None = None,
) -> None:
    """S13: create the gold table if absent (idempotent DDL)."""
    loc = f" LOCATION '{location}'" if location else ""
    parts = ", ".join(partition_cols)
    run_sql(
        spark,
        f"CREATE TABLE IF NOT EXISTS {table} ({columns_ddl}) "
        f"USING parquet PARTITIONED BY ({parts}){loc}",
    )


def load_gold(
    spark: SparkSession,
    df: DataFrame,
    table: str,
    partition_cols: list[str],
) -> int:
    """W1: idempotent series-granular load — dynamic partition overwrite
    replaces exactly the partitions present in ``df`` (the reference's
    DELETE+INSERT at load_hicp_to_sql.py:54-62 without the DELETE).

    Returns the number of rows loaded, counted on the insert itself (an
    observed metric): no second scan of ``df``.
    """
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        # insertInto matches columns by POSITION with partition columns
        # last, per Spark semantics — reorder explicitly.
        cols = [c for c in df.columns if c not in partition_cols] + list(partition_cols)
        rows = Observation()
        df.select(*cols).observe(rows, F.count(F.lit(1)).alias("n")).write.insertInto(
            table, overwrite=True
        )
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    return rows.get["n"]

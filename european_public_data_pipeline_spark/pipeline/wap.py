"""Write-audit-publish: the one-scan form of the quality-gated load
(SURVEY.md §2.7 W3 at 100 TB).

``quality_gated_write`` is the reference's semantics (gate BEFORE the table
changes, check_hicp_quality.py gate consumed at load_hicp_to_sql.py:18-29)
but costs two full scans of the source relation: one for the constraint
aggregates, one for the write. At 100 TB the check scan alone is the price
of the whole load. This module restructures it as WAP:

1. **Write**: the source is written ONCE to a staging path, with the
   suite's row-level constraint aggregates attached to the same job via
   ``DataFrame.observe`` — per-task accumulators merged on the driver,
   zero extra scan, zero extra shuffle.
2. **Audit**: observed metrics become the constraint rows. Checks that
   need a keyed aggregation (unique key, continuity) cannot ride an
   observation; they run against the STAGED parquet — column-pruned to
   the key columns, a fraction of re-scanning the wide source.
3. **Publish**: only if every check passed, the staged batch is loaded
   into the final table with dynamic partition overwrite (batch-sized
   work — the batch, not the table, is re-read). On failure the staging
   directory is retained as the quarantine for inspection and
   ``QualityGateError`` is raised with the final table untouched.

Net cost: one scan of the source + one batch-sized publish pass, versus
two source scans — and a failed audit never touches the published table,
which the gate-then-write form can only guarantee by paying the extra
scan up front.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from european_public_data_pipeline_spark.pipeline.fs_util import delete_path
from european_public_data_pipeline_spark.pipeline.silver_io import write_partitioned
from european_public_data_pipeline_spark.quality.checks import (
    RESULT_SCHEMA,
    CheckSuite,
    gate,
)
from european_public_data_pipeline_spark.session import local_frame


def stage_with_audit(df: DataFrame, suite: CheckSuite, staging: str) -> DataFrame:
    """The W+A core, reusable by any publish mechanism: write ``df`` ONCE
    to ``staging`` with the suite's row-level constraints attached to the
    same job as observed metrics, run keyed checks column-pruned on the
    staged batch, and return the constraint table, collected once into a
    ``LocalTableScan`` (gating and reporting it re-run nothing). The caller
    decides what "publish" means (partition overwrite here; a manifest
    commit in ``pipeline/manifest.publish_version_gated``)."""
    spark = df.sparkSession

    if (
        suite._expected_columns is None
        and not suite._scalar_checks
        and not suite._unique_keys
        and not suite._continuity
    ):
        # Fail BEFORE the staging write: an empty suite is a declaration
        # bug, not a passing audit — publishing ungated would defeat WAP.
        raise ValueError("write_audit_publish: suite declares no checks")

    parts: list[DataFrame] = []

    # Schema presence: metadata only, no job.
    if suite._expected_columns is not None:
        missing = [c for c in suite._expected_columns if c not in df.columns]
        parts.append(
            local_frame(spark, [("columns_present", not missing, len(missing))], RESULT_SCHEMA)
        )

    # Row-level checks ride the write job as observed metrics.
    observed = df
    obs: Observation | None = None
    if suite._scalar_checks:
        obs = Observation()
        observed = df.observe(
            obs,
            *[
                F.coalesce(expr, F.lit(0)).cast("long").alias(f"v{i}")
                for i, (_, expr) in enumerate(suite._scalar_checks)
            ],
        )

    # W: the single scan of the source.
    observed.write.mode("overwrite").parquet(staging)

    if obs is not None:
        metrics = obs.get
        parts.append(
            local_frame(
                spark,
                [
                    (name, metrics[f"v{i}"] == 0, metrics[f"v{i}"])
                    for i, (name, _) in enumerate(suite._scalar_checks)
                ],
                RESULT_SCHEMA,
            )
        )

    # A: keyed checks against the staged (column-prunable) batch.
    if suite._unique_keys or suite._continuity:
        staged_suite = CheckSuite(df=spark.read.parquet(staging))
        staged_suite._unique_keys = list(suite._unique_keys)
        staged_suite._continuity = list(suite._continuity)
        parts.append(staged_suite.to_dataframe(spark))

    checks = parts[0]
    for p in parts[1:]:
        checks = checks.unionByName(p)
    return local_frame(spark, checks.collect(), RESULT_SCHEMA)


def write_audit_publish(
    df: DataFrame,
    suite: CheckSuite,
    path: str,
    partition_cols: list[str],
    staging_path: str | None = None,
) -> DataFrame:
    """One-scan gated load. Returns the constraint table (same schema as
    ``CheckSuite.to_dataframe``); raises ``QualityGateError`` on a failed
    audit, leaving ``staging_path`` in place as the quarantine.

    ``suite`` must be declared over ``df`` (its row-level aggregates are
    lifted onto the write job; its keyed checks re-run on the staged
    batch).
    """
    spark = df.sparkSession
    staging = staging_path or f"{path}__staging"
    checks = stage_with_audit(df, suite, staging)

    gate(checks)  # raises on failure; staging retained as quarantine

    # P: publish the batch (batch-sized re-read, dynamic partition overwrite
    # — on object stores this step is the gold manifest/pointer update,
    # pipeline/gold.py).
    write_partitioned(spark.read.parquet(staging), path, partition_cols)
    # Hadoop FS delete (not shutil): identical behavior on HDFS/object
    # stores, where a local rmtree would silently leave staging forever.
    delete_path(spark, staging)
    return checks


def quarantine_report(spark: SparkSession, staging_path: str) -> DataFrame:
    """Read back a failed batch's quarantine for inspection."""
    return spark.read.parquet(staging_path)

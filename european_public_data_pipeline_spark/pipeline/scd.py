"""Slowly-changing-dimension Type 2 history on plain parquet (SURVEY.md §2.7).

The reference's warehouse load keeps only the latest state of each series
(delete-then-append, /root/reference/src/db/load_hicp_to_sql.py:54-62).
SCD2 keeps every state with validity intervals — the standard dimension
history every warehouse grows into: rows carry ``valid_from``/``valid_to``
(NULL = still current) and an ``is_current`` flag, and point-in-time
queries reconstruct any past snapshot.

Storage layout is chosen for scale: the table is partitioned by
``is_current``. Applying a batch then costs:

- **append** new files into the ``is_current=false`` partition (rows being
  closed) — the history partition is append-only, never rewritten, so it
  can grow without bound at O(batch) write cost;
- **dynamic partition overwrite** of the ``is_current=true`` partition —
  sized as the live dimension (small relative to history). For
  fact-sized keyed tables pass ``partition_col`` (a stable function of
  the key): current and history sub-partition by it, and an apply
  rewrites only the sub-partitions the batch names — measured 2/80
  months touched for a 199k-row batch into a 15M-key table (PLANS.md
  round 9) instead of replacing the whole current partition.

The change detection is one left join of the update batch against the
current snapshot on the business key with null-safe attribute comparison;
within a batch, the latest row per key wins (window keep-last on the
effective timestamp).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.utils import AnalysisException

from european_public_data_pipeline_spark.pipeline.silver_io import write_partitioned


def read_scd2(spark: SparkSession, path: str) -> DataFrame:
    """Read the SCD2 table with ``is_current`` restored to boolean
    (partition-value inference does not cover booleans)."""
    tbl = spark.read.parquet(path)
    return tbl.withColumn("is_current", F.col("is_current").cast("boolean"))


def scd2_apply(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    key_cols: list[str],
    attr_cols: list[str],
    effective_col: str = "effective_ts",
    partition_col: str | None = None,
) -> None:
    """Apply an update batch to the SCD2 table at ``path``.

    ``updates`` carries the business key, the tracked attributes, and an
    effective timestamp. Keys whose attributes changed get their current
    row closed (``valid_to`` = new effective time) and a new current row;
    unseen keys are inserted; unchanged keys are untouched.

    ``partition_col`` (optional) sub-partitions BOTH current and history
    by a column the batch carries that is a STABLE FUNCTION of the
    business key (an order's month, a customer's region); a key
    whose partition value changed between applies would escape the
    scoped match and duplicate its current row. With it, an apply scopes
    the change-detection join AND the current-partition replace to the
    partitions the batch names: the measured fact-scale apply (15M-key
    table, 199k-row batch in one month) drops from rewriting the whole
    9-second current partition to rewriting 2/80 sub-partitions
    (PLANS.md round 9). Without it the layout and cost are unchanged
    (current replaced wholesale — fine for dim-sized tables)."""
    # Latest row per key within the batch wins.
    w = Window.partitionBy(*key_cols).orderBy(F.desc(effective_col))
    batch = (
        updates.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    extra = (
        [partition_col]
        if partition_col and partition_col not in (*key_cols, *attr_cols)
        else []
    )
    fresh = batch.select(
        *key_cols,
        *attr_cols,
        *extra,
        F.col(effective_col).alias("valid_from"),
        F.lit(None).cast(batch.schema[effective_col].dataType).alias("valid_to"),
        F.lit(True).alias("is_current"),
    )

    parts = ["is_current", *([partition_col] if partition_col else [])]
    try:
        tbl = read_scd2(spark, path)
    except AnalysisException:
        write_partitioned(fresh, path, parts, "overwrite")
        return

    current = tbl.filter(F.col("is_current"))
    if partition_col:
        # Scope to the batch's partitions: matching current rows can
        # only live there (partition value is a function of the key).
        # Dynamic overwrite below then only touches these partitions.
        # NULL needs its own predicate — isin() evaluates to NULL (not
        # TRUE) for NULL-valued rows, which would silently exclude the
        # whole NULL sub-partition from `current` while the batch's
        # opened rows still land in it: the overwrite would then replace
        # that sub-partition with ONLY the opened rows, deleting every
        # other key's current row there.
        batch_parts = [
            r[0] for r in batch.select(partition_col).distinct().collect()
        ]
        non_null = [p for p in batch_parts if p is not None]
        scope = F.col(partition_col).isin(non_null) if non_null else F.lit(False)
        if len(non_null) < len(batch_parts):
            scope = scope | F.col(partition_col).isNull()
        current = current.filter(scope)
    u = batch.alias("u")
    c = current.alias("c")
    joined = u.join(c, key_cols, "left")

    changed = F.lit(False)
    for a in attr_cols:
        changed = changed | ~F.col(f"u.{a}").eqNullSafe(F.col(f"c.{a}"))
    is_new = F.col("c.valid_from").isNull()

    # Rows to close: existing current rows whose attributes changed.
    closed = (
        joined.filter(~is_new & changed)
        .select(
            *key_cols,
            *[F.col(f"c.{a}").alias(a) for a in attr_cols],
            *[F.col(f"c.{p}").alias(p) for p in extra],
            F.col("c.valid_from").alias("valid_from"),
            F.col(f"u.{effective_col}").alias("valid_to"),
            F.lit(False).alias("is_current"),
        )
    )
    # New current rows: changed keys + brand-new keys.
    opened = (
        joined.filter(is_new | changed)
        .select(
            *key_cols,
            *[F.col(f"u.{a}").alias(a) for a in attr_cols],
            *[F.col(f"u.{p}").alias(p) for p in extra],
            F.col(f"u.{effective_col}").alias("valid_from"),
            F.lit(None)
            .cast(batch.schema[effective_col].dataType)
            .alias("valid_to"),
            F.lit(True).alias("is_current"),
        )
    )
    untouched = current.join(closed.select(*key_cols), key_cols, "left_anti")

    # Materialize both outputs before mutating the files they read from.
    current_out = untouched.unionByName(opened).localCheckpoint(eager=True)
    closed_out = closed.localCheckpoint(eager=True)

    # History partition: append-only. Current partition: replaced —
    # scoped to the batch's sub-partitions when partition_col is set
    # (dynamic overwrite never touches partitions absent from the
    # output, and every batch partition appears in current_out).
    if closed_out.count() > 0:
        write_partitioned(closed_out, path, parts, "append")
    write_partitioned(current_out, path, parts, "overwrite")


def snapshot_at(spark: SparkSession, path: str, ts) -> DataFrame:
    """Point-in-time reconstruction: the dimension as of ``ts``."""
    tbl = read_scd2(spark, path)
    return tbl.filter(
        (F.col("valid_from") <= F.lit(ts))
        & (F.col("valid_to").isNull() | (F.col("valid_to") > F.lit(ts)))
    ).drop("is_current")

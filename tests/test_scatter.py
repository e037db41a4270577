"""Post-scan scatter (tables.load_table(scatter=True)) — r13 optimization.

A single-row-group parquet file is unsplittable, so its scan (and every
operator before the first exchange) runs as one task. ``scatter=True``
redistributes such inputs by the table's natural key right after the read
(guide §2.5). These tests pin the contract: value-identity, key-hash
partitioning at cluster parallelism for small local inputs, no-op above
the size cutoff, and pushdown surviving the added exchange.
"""

from __future__ import annotations

from european_public_data_pipeline_spark import tables
from european_public_data_pipeline_spark.tables import load_table


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_scatter_preserves_rows_and_values(spark, sf_small):
    plain = load_table(spark, sf_small, "documents")
    scattered = load_table(spark, sf_small, "documents", scatter=True)
    assert scattered.schema == plain.schema
    assert (
        sorted(scattered.collect(), key=lambda r: r.doc_id)
        == sorted(plain.collect(), key=lambda r: r.doc_id)
    )


def test_scatter_parallelizes_small_single_file_scan(spark, sf_small, monkeypatch):
    # Build fresh under a session shuffle width that differs from cluster
    # parallelism at any core count, so a fallback to it cannot pass.
    monkeypatch.setattr(tables, "_df_memo", {})
    width = spark.sparkContext.defaultParallelism
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(width + 1))
    try:
        scattered = load_table(spark, sf_small, "lineitem", scatter=True)
        plan = _plan(scattered)
        n_partitions = scattered.rdd.getNumPartitions()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    # Hash-partitioned on the natural key at cluster parallelism: the
    # exchange exists and is keyed (deterministic under task retry — no
    # round-robin sort pass).
    assert "hashpartitioning(l_orderkey" in plan
    assert n_partitions == width


def test_scatter_noop_above_size_cutoff(spark, sf_small, monkeypatch):
    # Pretend the input is warehouse-sized: the scatter must not add an
    # exchange (real multi-file inputs split on their own).
    monkeypatch.setattr(tables, "_SCATTER_MAX_BYTES", 0)
    monkeypatch.setattr(tables, "_input_bytes_memo", {})
    monkeypatch.setattr(tables, "_df_memo", {})
    df = load_table(spark, sf_small, "lineitem", scatter=True)
    assert "Exchange" not in _plan(df)


def test_scatter_pushdown_survives_exchange(spark, sf_small):
    from pyspark.sql import functions as F

    df = load_table(spark, sf_small, "lineitem", scatter=True).filter(
        F.col("l_quantity") < 24
    ).select("l_orderkey", "l_quantity")
    plan = _plan(df)
    # The filter reaches the parquet scan below the scatter exchange, and
    # column pruning holds (the exchange carries only what is selected).
    assert "PushedFilters: [IsNotNull(l_quantity), LessThan(l_quantity,24.0)" in plan
    assert "l_comment" not in plan

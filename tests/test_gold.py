"""Gold-layer tests: idempotent catalog load mirroring the reference's
delete-then-append warehouse semantics (load_hicp_to_sql.py:54-101)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from european_public_data_pipeline_spark.pipeline.gold import (
    ensure_table,
    load_gold,
    run_sql,
)

DDL = "time DATE, coicop STRING, unit STRING, value DOUBLE, geo STRING"


def series(spark, geo, base=100.0):
    rows = [
        (dt.date(2024, m, 1), "CP00", "I15", base + m, geo) for m in range(1, 7)
    ]
    return spark.createDataFrame(rows, DDL)


@pytest.fixture
def gold_table(spark, tmp_path):
    name = "gold_fact_hicp_test"
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    ensure_table(spark, name, DDL, ["geo"], location=str(tmp_path / "gold"))
    yield name
    spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_ensure_table_is_idempotent(spark, gold_table, tmp_path):
    ensure_table(spark, gold_table, DDL, ["geo"], location=str(tmp_path / "gold"))
    assert spark.catalog.tableExists(gold_table)


def test_load_replaces_series_not_table(spark, gold_table):
    assert load_gold(spark, series(spark, "LU"), gold_table, ["geo"]) == 6
    assert load_gold(spark, series(spark, "DE", base=200.0), gold_table, ["geo"]) == 6
    assert run_sql(spark, f"SELECT COUNT(*) n FROM {gold_table}").first()["n"] == 12

    # Re-load LU with revised values: replaced (idempotent), DE untouched.
    load_gold(spark, series(spark, "LU", base=150.0), gold_table, ["geo"])
    out = run_sql(
        spark,
        f"SELECT geo, COUNT(*) n, MIN(value) lo FROM {gold_table} GROUP BY geo ORDER BY geo",
    ).collect()
    assert [(r["geo"], r["n"], r["lo"]) for r in out] == [
        ("DE", 6, 201.0),
        ("LU", 6, 151.0),
    ]


def test_sql_surface_over_gold(spark, gold_table):
    load_gold(spark, series(spark, "LU"), gold_table, ["geo"])
    mom = run_sql(
        spark,
        f"""
        SELECT time, value / LAG(value) OVER (PARTITION BY geo ORDER BY time) - 1 AS mom
        FROM {gold_table} ORDER BY time
        """,
    ).collect()
    assert mom[0]["mom"] is None
    assert mom[1]["mom"] == pytest.approx(1 / 101.0)


def test_empty_load_counts_zero(spark, gold_table):
    assert load_gold(spark, series(spark, "LU").limit(0), gold_table, ["geo"]) == 0

"""Keyed hard delete (right-to-erasure primitive) through the manifest
writer ``delete_rows_mor``: audit statistics and idempotency."""

from __future__ import annotations

import european_public_data_pipeline_spark.pipeline.manifest as M
from european_public_data_pipeline_spark.pipeline.mor_delete import delete_rows_mor


def _rows(spark, path):
    return {
        (r["k"], r["lang"]): r["v"] for r in M.read_version(spark, path).collect()
    }


def _seed(spark, path):
    df = spark.createDataFrame(
        [(1, "en", "a"), (2, "en", "b"), (3, "de", "c"), (4, "de", "d"), (5, "fr", "e")],
        "k long, lang string, v string",
    )
    M.publish_version(df, path, stats_cols=("k",))


def _keys(spark, ks):
    return spark.createDataFrame([(k,) for k in ks], "k long")


def test_delete_removes_rows_and_reports_stats(spark, tmp_path):
    path = str(tmp_path / "t")
    _seed(spark, path)
    out = delete_rows_mor(spark, path, _keys(spark, [2, 4]), ["k"])
    assert out["version"] == 2
    assert out["rows_deleted"] == 2 and out["sidecar_files"] == 1
    assert _rows(spark, path) == {(1, "en"): "a", (3, "de"): "c", (5, "fr"): "e"}


def test_delete_missing_keys_is_noop_and_idempotent(spark, tmp_path):
    path = str(tmp_path / "t")
    _seed(spark, path)
    out = delete_rows_mor(spark, path, _keys(spark, [99]), ["k"])
    assert out["rows_deleted"] == 0 and out["version"] == 1  # nothing committed
    delete_rows_mor(spark, path, _keys(spark, [2]), ["k"])
    again = delete_rows_mor(spark, path, _keys(spark, [2]), ["k"])
    assert again["rows_deleted"] == 0
    assert _rows(spark, path) == {(1, "en"): "a", (3, "de"): "c", (4, "de"): "d", (5, "fr"): "e"}

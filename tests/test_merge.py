"""Keyed MERGE (upsert) contract through the manifest writer
``merge_into_manifest``: updates replace key-matched rows, new keys are
inserted, unmatched rows survive, duplicate update keys are refused
unless resolved latest-wins first."""

from __future__ import annotations

import pytest

import european_public_data_pipeline_spark.pipeline.manifest as M
from european_public_data_pipeline_spark.pipeline.cow_merge import (
    merge_into_manifest,
)
from european_public_data_pipeline_spark.pipeline.mor_delete import (
    resolve_latest_wins,
)


def _rows(spark, path):
    return {
        (r["k"], r["lang"]): r["v"] for r in M.read_version(spark, path).collect()
    }


def _seed(spark, path):
    df = spark.createDataFrame(
        [(1, "en", "a"), (2, "en", "b"), (3, "de", "c"), (4, "de", "d")],
        "k long, lang string, v string",
    )
    M.publish_version(df, path, stats_cols=("k",))


def test_merge_updates_inserts_and_preserves(spark, tmp_path):
    path = str(tmp_path / "t")
    _seed(spark, path)
    updates = spark.createDataFrame(
        [(2, "en", "B2"), (9, "en", "new"), (7, "fr", "x")],
        "k long, lang string, v string",
    )
    merge_into_manifest(spark, path, updates, keys=["k"])
    assert _rows(spark, path) == {
        (1, "en"): "a",
        (2, "en"): "B2",  # updated
        (3, "de"): "c",  # unmatched rows preserved
        (4, "de"): "d",
        (9, "en"): "new",  # inserted
        (7, "fr"): "x",
    }


def test_merge_is_idempotent(spark, tmp_path):
    path = str(tmp_path / "t")
    _seed(spark, path)
    updates = spark.createDataFrame(
        [(2, "en", "B2")], "k long, lang string, v string"
    )
    merge_into_manifest(spark, path, updates, keys=["k"])
    once = _rows(spark, path)
    merge_into_manifest(spark, path, updates, keys=["k"])
    assert _rows(spark, path) == once


def test_merge_multi_column_key(spark, tmp_path):
    path = str(tmp_path / "m")
    base = spark.createDataFrame(
        [(1, "en", "a"), (1, "de", "b")], "k long, lang string, v string"
    )
    M.publish_version(base, path)
    updates = spark.createDataFrame(
        [(1, "en", "A")], "k long, lang string, v string"
    )
    merge_into_manifest(spark, path, updates, keys=["k", "lang"])
    assert _rows(spark, path) == {(1, "en"): "A", (1, "de"): "b"}


def test_merge_returns_change_stats(spark, tmp_path):
    path = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(1, "en", "a"), (2, "en", "b")], "k long, lang string, v string"
    )
    M.publish_version(base, path)
    updates = spark.createDataFrame(
        [(2, "en", "B"), (3, "en", "c"), (4, "fr", "d")],
        "k long, lang string, v string",
    )
    out = merge_into_manifest(spark, path, updates, keys=["k"])
    # k=2 matched, k=3/k=4 inserted, k=1 survives.
    assert out["version"] == 2
    assert out["rows_matched"] == 1 and out["rows_deleted"] == 0
    assert out["files_rewritten"] == 1
    assert M.read_version(spark, path).count() == 4


def test_duplicate_source_keys_raise(spark, tmp_path):
    target = str(tmp_path / "t")
    M.publish_version(spark.createDataFrame([(1, "a")], "id INT, v STRING"), target)
    dup = spark.createDataFrame([(1, "x"), (1, "y")], "id INT, v STRING")
    with pytest.raises(ValueError, match="duplicate merge keys"):
        merge_into_manifest(spark, target, dup, ["id"])


def test_dedupe_updates_by_keeps_greatest_version(spark, tmp_path):
    target = str(tmp_path / "t")
    base = spark.createDataFrame([(1, "a", 0)], "id INT, v STRING, ver INT")
    M.publish_version(base, target)
    dup = spark.createDataFrame(
        [(1, "old", 1), (1, "new", 2), (2, "only", 1)], "id INT, v STRING, ver INT"
    )
    out = merge_into_manifest(
        spark, target, resolve_latest_wins(dup, ["id"], "ver", "test"), ["id"]
    )
    rows = {r.id: (r.v, r.ver) for r in M.read_version(spark, target).collect()}
    assert rows == {1: ("new", 2), 2: ("only", 1)}
    assert out["rows_matched"] == 1


def test_dedupe_updates_by_tie_raises(spark):
    tied = spark.createDataFrame(
        [(1, "x", 5), (1, "y", 5)], "id INT, v STRING, ver INT"
    )
    with pytest.raises(ValueError, match="tied on"):
        resolve_latest_wins(tied, ["id"], "ver", "test")

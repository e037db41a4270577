"""Versioned manifests: time travel, pointer semantics, snapshot
isolation of an in-flight reader, and rollback."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from european_public_data_pipeline_spark.pipeline.manifest import (
    current_version,
    publish_version,
    read_version,
    rollback,
    versions,
)


def _batch(spark, vals):
    return spark.createDataFrame([(i, v) for i, v in enumerate(vals)], "k long, v string")


def _vals(df):
    return sorted(r["v"] for r in df.collect())


def test_publish_read_and_time_travel(spark, tmp_path):
    t = str(tmp_path / "tbl")
    assert publish_version(_batch(spark, ["a", "b"]), t) == 1
    assert publish_version(_batch(spark, ["c"]), t) == 2
    assert publish_version(_batch(spark, ["d", "e", "f"]), t) == 3
    assert versions(spark, t) == [1, 2, 3]
    assert current_version(spark, t) == 3
    assert _vals(read_version(spark, t)) == ["d", "e", "f"]
    assert _vals(read_version(spark, t, 1)) == ["a", "b"]  # time travel
    assert _vals(read_version(spark, t, 2)) == ["c"]


def test_reader_snapshot_survives_later_publishes(spark, tmp_path):
    t = str(tmp_path / "tbl")
    publish_version(_batch(spark, ["old1", "old2"]), t)
    snapshot = read_version(spark, t)  # reader pins version 1's files
    publish_version(_batch(spark, ["new"]), t)
    # The pinned plan still reads version 1's files — unaffected by the
    # publish (new versions write to new immutable prefixes).
    assert _vals(snapshot) == ["old1", "old2"]
    assert _vals(read_version(spark, t)) == ["new"]


def test_rollback_re_points_without_touching_data(spark, tmp_path):
    t = str(tmp_path / "tbl")
    publish_version(_batch(spark, ["good"]), t)
    publish_version(_batch(spark, ["bad"]), t)
    rollback(spark, t, 1)
    assert current_version(spark, t) == 1
    assert _vals(read_version(spark, t)) == ["good"]
    # Roll forward again — nothing was deleted.
    rollback(spark, t, 2)
    assert _vals(read_version(spark, t)) == ["bad"]
    with pytest.raises(ValueError):
        rollback(spark, t, 99)


def test_next_publish_after_rollback_takes_fresh_version(spark, tmp_path):
    t = str(tmp_path / "tbl")
    publish_version(_batch(spark, ["v1"]), t)
    publish_version(_batch(spark, ["v2"]), t)
    rollback(spark, t, 1)
    # History is append-only: a publish after rollback becomes v3, and
    # the superseded v2 remains readable.
    assert publish_version(_batch(spark, ["v3"]), t) == 3
    assert _vals(read_version(spark, t)) == ["v3"]
    assert _vals(read_version(spark, t, 2)) == ["v2"]


def test_gated_publish_commits_only_passing_batches(spark, tmp_path):
    """Manifest-native WAP: a failing audit leaves the candidate data dir
    UNCOMMITTED (invisible to manifest readers) and the pointer unmoved;
    a passing batch commits normally afterwards."""
    from european_public_data_pipeline_spark.pipeline.manifest import (
        publish_version_gated,
    )
    from european_public_data_pipeline_spark.quality.checks import (
        QualityGateError,
        check_suite,
    )

    t = str(tmp_path / "tbl")
    good = spark.createDataFrame([(1, 5.0), (2, 7.0)], "k long, value double")
    bad = spark.createDataFrame([(3, -1.0)], "k long, value double")

    def suite_for(df):
        return check_suite(df).expect_positive("value").expect_unique_key(["k"])

    assert publish_version_gated(good, suite_for(good), t) == 1
    with pytest.raises(QualityGateError):
        publish_version_gated(bad, suite_for(bad), t)
    # The failed batch is invisible: no new committed version, pointer
    # still at 1, reads unaffected.
    assert versions(spark, t) == [1]
    assert current_version(spark, t) == 1
    assert sorted(r["k"] for r in read_version(spark, t).collect()) == [1, 2]
    # A later passing batch takes the NEXT free version number.
    good2 = spark.createDataFrame([(9, 1.0)], "k long, value double")
    assert publish_version_gated(good2, suite_for(good2), t) == 2
    assert sorted(r["k"] for r in read_version(spark, t).collect()) == [9]


def test_concurrent_publish_loser_gets_error_not_clobber(spark, tmp_path):
    """Two publishers racing for the same version: the second commit of
    manifest/<N>.json must raise ConcurrentPublishError, not replace the
    winner's committed manifest (code-review r5)."""
    from european_public_data_pipeline_spark.pipeline.manifest import (
        ConcurrentPublishError,
        _commit,
    )

    t = str(tmp_path / "tbl")
    publish_version(_batch(spark, ["w1"]), t)  # v1 committed
    # A racing publisher staged its own data for "version 1" and tries to
    # commit after the winner.
    loser_dir = str(tmp_path / "loser")
    loser = _batch(spark, ["loser"])
    loser.write.parquet(loser_dir)
    with pytest.raises(ConcurrentPublishError):
        _commit(spark, t, 1, loser_dir, loser.schema)
    # Winner's data intact.
    assert _vals(read_version(spark, t, 1)) == ["w1"]


def test_table_history_lists_commits(spark, tmp_path):
    from european_public_data_pipeline_spark.pipeline.manifest import table_history

    t = str(tmp_path / "tbl")
    publish_version(_batch(spark, ["a", "b"]), t)
    publish_version(_batch(spark, ["c"]), t)
    rollback(spark, t, 1)
    hist = {r["version"]: r for r in table_history(spark, t).collect()}
    assert set(hist) == {1, 2}
    assert hist[1]["row_count"] == 2 and hist[1]["is_current"]
    assert hist[2]["row_count"] == 1 and not hist[2]["is_current"]


def test_racing_staged_overwrite_cannot_delete_committed_data(spark, tmp_path):
    """ADVICE r5 (medium): when two publishers both compute n = max+1,
    the loser's staged mode('overwrite') write must not be able to delete
    the winner's committed data files. Staging dirs are publisher-unique
    (data/v<N>-<uuid>), so the full race — winner stages+commits, THEN the
    loser stages (overwrite) and fails its commit — leaves the winner's
    version 1 readable with its original values, and the loser's own
    staged directory cleaned up."""
    from european_public_data_pipeline_spark.pipeline.manifest import (
        ConcurrentPublishError,
        _commit,
        _stage_dir,
    )

    t = str(tmp_path / "tbl")
    # Both publishers observe an empty table and pick n=1; each stages
    # under its OWN unique prefix.
    winner_dir = _stage_dir(t, 1)
    loser_dir = _stage_dir(t, 1)
    assert winner_dir != loser_dir
    winner = _batch(spark, ["w1", "w2"])
    winner.write.mode("overwrite").parquet(winner_dir)
    assert _commit(spark, t, 1, winner_dir, winner.schema) == 1
    # The loser's staged overwrite runs AFTER the winner committed — the
    # historical data-loss window. It touches only the loser's prefix.
    loser = _batch(spark, ["loser"])
    loser.write.mode("overwrite").parquet(loser_dir)
    with pytest.raises(ConcurrentPublishError):
        _commit(spark, t, 1, loser_dir, loser.schema)
    # Winner's committed batch is fully intact and readable.
    assert _vals(read_version(spark, t, 1)) == ["w1", "w2"]
    # The loser's staged files were removed by its failed commit.
    import os

    assert not os.path.exists(loser_dir.replace("file:", ""))


def test_current_version_falls_back_only_when_pointer_missing(spark, tmp_path):
    """ADVICE r5 (low): the highest-manifest fallback applies only to a
    genuinely absent pointer (crashed swap); a present-but-unreadable
    pointer must raise, not silently serve the rolled-back-from version."""
    import os

    t = str(tmp_path / "tbl")
    publish_version(_batch(spark, ["a"]), t)
    publish_version(_batch(spark, ["b"]), t)
    rollback(spark, t, 1)
    pointer = os.path.join(t, "LATEST.json")
    # Absent pointer -> fallback to the highest committed manifest.
    os.remove(pointer)
    assert current_version(spark, t) == 2
    # Corrupt (present but unreadable) pointer -> error propagates.
    with open(pointer, "w") as f:
        f.write("{not json")
    with pytest.raises(Exception):
        current_version(spark, t)


def test_failed_gated_publish_reclaims_staged_data(spark, tmp_path):
    """A failed audit must not leak its uuid-staged batch copy: staging
    prefixes are publisher-unique since the race fix, so nothing ever
    overwrites or references a failed attempt's dir — the gate-failure
    path has to delete it (code-review r6)."""
    import os

    from european_public_data_pipeline_spark.pipeline.manifest import (
        publish_version_gated,
    )
    from european_public_data_pipeline_spark.quality.checks import check_suite

    t = str(tmp_path / "tbl")
    bad = spark.createDataFrame([(1, -5.0)], "k long, value double")
    suite = check_suite(bad).expect_positive("value")
    with pytest.raises(Exception):
        publish_version_gated(bad, suite, t)
    data_root = os.path.join(t, "data")
    leftovers = os.listdir(data_root) if os.path.isdir(data_root) else []
    assert leftovers == []  # staged copy reclaimed
    assert versions(spark, t) == []  # nothing committed


# --- zone-map stats + read_where pruning ----------------------------------


def _ranged(spark, lo, hi):
    """One-file batch covering [lo, hi] on k."""
    return spark.createDataFrame(
        [(i, f"v{i}") for i in range(lo, hi + 1)], "k long, v string"
    ).coalesce(1)


def test_stats_recorded_and_read_where_prunes(spark, tmp_path):
    from european_public_data_pipeline_spark.pipeline.manifest import (
        _read_json,
        append_version,
        prune_files,
        read_where,
    )

    t = str(tmp_path / "tbl")
    append_version(_ranged(spark, 0, 9), t, stats_cols=("k",))
    append_version(_ranged(spark, 10, 19), t, stats_cols=("k",))
    append_version(_ranged(spark, 20, 29), t, stats_cols=("k",))
    m = _read_json(spark, f"{t}/manifest/00000003.json")
    assert len(m["files"]) == 3
    assert len(m["file_stats"]) == 3  # append carried prior stats forward
    keep, total = prune_files(m, "k", 12, 14)
    assert total == 3 and len(keep) == 1  # only the [10, 19] file survives
    got = sorted(r["k"] for r in read_where(spark, t, "k", 12, 14).collect())
    assert got == [12, 13, 14]
    # A range matching nothing: zero files read, schema preserved.
    empty = read_where(spark, t, "k", 100, 200)
    assert empty.columns == ["k", "v"] and empty.count() == 0


def test_prune_is_conservative_without_stats(spark, tmp_path):
    from european_public_data_pipeline_spark.pipeline.manifest import (
        _read_json,
        prune_files,
        publish_version,
        read_where,
    )

    t = str(tmp_path / "tbl")
    publish_version(_ranged(spark, 0, 9), t)  # no stats_cols
    m = _read_json(spark, f"{t}/manifest/00000001.json")
    assert "file_stats" not in m
    keep, total = prune_files(m, "k", 100, 200)
    assert len(keep) == total == 1  # cannot prune what was never indexed
    assert read_where(spark, t, "k", 3, 5).count() == 3  # still correct


def test_all_null_zone_is_unmatchable(spark, tmp_path):
    from european_public_data_pipeline_spark.pipeline.manifest import (
        _read_json,
        prune_files,
        publish_version,
    )

    t = str(tmp_path / "tbl")
    nulls = spark.createDataFrame(
        [(None, "x"), (None, "y")], "k long, v string"
    ).coalesce(1)
    publish_version(nulls, t, stats_cols=("k",))
    m = _read_json(spark, f"{t}/manifest/00000001.json")
    (rng,) = [s["k"] for s in m["file_stats"].values()]
    assert rng == [None, None]
    keep, total = prune_files(m, "k", -10**9, 10**9)
    assert total == 1 and keep == []  # BETWEEN never matches NULL


def test_compact_recomputes_zone_maps(spark, tmp_path):
    from european_public_data_pipeline_spark.pipeline.manifest import (
        _read_json,
        append_version,
        compact,
        prune_files,
        read_where,
    )

    t = str(tmp_path / "tbl")
    append_version(_ranged(spark, 0, 9), t, stats_cols=("k",))
    append_version(_ranged(spark, 10, 19), t, stats_cols=("k",))
    v = compact(spark, t, target_files=1)
    m = _read_json(spark, f"{t}/manifest/{v:08d}.json")
    assert len(m["files"]) == 1 and len(m["file_stats"]) == 1
    (rng,) = [s["k"] for s in m["file_stats"].values()]
    assert rng == [0, 19]  # recomputed over the rewritten file
    keep, total = prune_files(m, "k", 100, 200)
    assert keep == []  # pruning survives the compaction
    assert read_where(spark, t, "k", 5, 6).count() == 2


def test_decimal_zone_bounds_widen_not_round(spark, tmp_path):
    """Decimal zone bounds must round min DOWN and max UP when narrowing
    to float — nearest-rounding could shrink the zone and prune a file
    that holds matching rows."""
    import decimal

    from european_public_data_pipeline_spark.pipeline.manifest import _json_scalar

    v = decimal.Decimal("0.1000000000000000000001")
    lo = _json_scalar(v, round_toward="down")
    hi = _json_scalar(v, round_toward="up")
    assert decimal.Decimal(lo) <= v <= decimal.Decimal(hi)
    # And a real decimal-column publish stays readable + conservative.
    from european_public_data_pipeline_spark.pipeline.manifest import (
        publish_version,
        read_where,
    )

    df = spark.createDataFrame(
        [(1, decimal.Decimal("0.10")), (2, decimal.Decimal("0.30"))],
        "k long, v decimal(10,2)",
    ).coalesce(1)
    t = str(tmp_path / "tbl")
    publish_version(df, t, stats_cols=("v",))
    got = read_where(spark, t, "v", 0.05, 0.15).count()
    assert got == 1


def test_failed_stats_commit_reclaims_staged_dir(spark, tmp_path):
    """A bad stats column aborts the commit AFTER the batch write; the
    uuid-named staged dir must be reclaimed, not leaked."""
    import os

    import pytest as _pytest

    from european_public_data_pipeline_spark.pipeline.manifest import (
        publish_version,
        versions,
    )

    t = str(tmp_path / "tbl")
    with _pytest.raises(Exception):
        publish_version(_ranged(spark, 0, 9), t, stats_cols=("no_such_col",))
    assert versions(spark, t) == []  # nothing committed
    data_root = os.path.join(t, "data")
    leaked = os.listdir(data_root) if os.path.isdir(data_root) else []
    assert leaked == []


def test_read_appended_diffs_append_commits(spark, tmp_path):
    from european_public_data_pipeline_spark.pipeline.manifest import (
        append_version,
        read_appended,
    )

    t = str(tmp_path / "tbl")
    append_version(_ranged(spark, 0, 4), t)
    append_version(_ranged(spark, 5, 7), t)
    append_version(_ranged(spark, 8, 9), t)
    inc = sorted(r["k"] for r in read_appended(spark, t, 1, 2).collect())
    assert inc == [5, 6, 7]
    # Default to_version = current pointer.
    inc2 = sorted(r["k"] for r in read_appended(spark, t, 1).collect())
    assert inc2 == [5, 6, 7, 8, 9]
    # Empty delta: same version twice -> zero rows, schema preserved.
    empty = read_appended(spark, t, 2, 2)
    assert empty.columns == ["k", "v"] and empty.count() == 0


def test_purge_rows_erases_key_from_all_versions(spark, tmp_path):
    import os

    from european_public_data_pipeline_spark.pipeline.manifest import (
        _read_json,
        append_version,
        current_version,
        purge_rows,
        read_version,
    )

    t = str(tmp_path / "tbl")
    append_version(_ranged(spark, 0, 4), t, stats_cols=("k",))
    append_version(_ranged(spark, 5, 9), t, stats_cols=("k",))
    append_version(_ranged(spark, 10, 14), t, stats_cols=("k",))
    before_files = set(_read_json(spark, f"{t}/manifest/00000003.json")["files"])

    out = purge_rows(spark, t, "k", [7, 12])
    assert out["rows_removed"] == 2 and out["files_rewritten"] == 2
    # Zone maps let the [0, 4] file skip the read entirely; its path is
    # still referenced unchanged.
    assert out["files_dropped"] == 0

    # Every version is purged, other rows intact, version numbers kept.
    assert current_version(spark, t) == 3
    assert sorted(r["k"] for r in read_version(spark, t, 1).collect()) == [0, 1, 2, 3, 4]
    assert sorted(r["k"] for r in read_version(spark, t, 2).collect()) == [0, 1, 2, 3, 4, 5, 6, 8, 9]
    assert sorted(r["k"] for r in read_version(spark, t, 3).collect()) == [
        0, 1, 2, 3, 4, 5, 6, 8, 9, 10, 11, 13, 14]
    # Row counts adjusted in the manifests themselves.
    assert _read_json(spark, f"{t}/manifest/00000003.json")["row_count"] == 13
    assert _read_json(spark, f"{t}/manifest/00000002.json")["row_count"] == 9

    # The purged bytes are physically gone (old shared files deleted).
    after_files = set(_read_json(spark, f"{t}/manifest/00000003.json")["files"])
    replaced = before_files - after_files
    assert len(replaced) == 2
    for f in replaced:
        assert not os.path.exists(f.replace("file:", ""))

    # Idempotent: a second purge finds nothing.
    again = purge_rows(spark, t, "k", [7, 12])
    assert again["rows_removed"] == 0 and again["files_rewritten"] == 0


def test_purge_rows_drops_fully_matched_files(spark, tmp_path):
    from european_public_data_pipeline_spark.pipeline.manifest import (
        append_version,
        purge_rows,
        read_version,
    )

    t = str(tmp_path / "tbl")
    append_version(_ranged(spark, 0, 2), t, stats_cols=("k",))
    append_version(_ranged(spark, 3, 3), t, stats_cols=("k",))  # single-row file
    out = purge_rows(spark, t, "k", [3])
    assert out["files_dropped"] == 1 and out["rows_removed"] == 1
    assert sorted(r["k"] for r in read_version(spark, t, 2).collect()) == [0, 1, 2]


# --- Bloom sidecar index (point-lookup file pruning) -----------------------


def test_bloom_index_prunes_files_with_no_false_negatives(spark, tmp_path):
    from european_public_data_pipeline_spark.pipeline.bloom_index import (
        build_bloom_index,
        read_point,
    )
    from european_public_data_pipeline_spark.pipeline.manifest import (
        append_version,
    )

    t = str(tmp_path / "tbl")
    append_version(_ranged(spark, 0, 99), t)
    append_version(_ranged(spark, 100, 199), t)
    append_version(_ranged(spark, 200, 299), t)
    build_bloom_index(spark, t, "k")

    # Every present key is found (no false negatives — Bloom guarantee),
    # and the planned scan touches at most the candidate files.
    for probe in (0, 150, 299):
        got = read_point(spark, t, "k", probe).collect()
        assert [r["k"] for r in got] == [probe]
    # An absent key returns empty.
    assert read_point(spark, t, "k", 12345).count() == 0


def test_bloom_index_reduces_planned_files(spark, tmp_path):
    from european_public_data_pipeline_spark.pipeline.bloom_index import (
        build_bloom_index,
        read_point,
    )
    from european_public_data_pipeline_spark.pipeline.manifest import (
        append_version,
    )

    t = str(tmp_path / "tbl")
    for lo in range(0, 800, 100):
        append_version(_ranged(spark, lo, lo + 99), t)
    build_bloom_index(spark, t, "k")
    df = read_point(spark, t, "k", 450)
    planned = df.select(F.input_file_name()).distinct().count()
    # 8 committed files; the true file plus Bloom false positives
    # (16384 bits / 100 keys / k=3 -> fp ~ 0) must stay well under all.
    assert planned <= 2
    assert [r["k"] for r in df.collect()] == [450]


def test_read_point_falls_back_without_index(spark, tmp_path):
    from european_public_data_pipeline_spark.pipeline.bloom_index import read_point
    from european_public_data_pipeline_spark.pipeline.manifest import (
        append_version,
    )

    t = str(tmp_path / "tbl")
    append_version(_ranged(spark, 0, 9), t)
    assert [r["k"] for r in read_point(spark, t, "k", 7).collect()] == [7]


def test_zorder_layout_prunes_on_both_columns(spark, sf_small, tmp_path):
    """One z-ordered layout must let zone maps drop files for range
    predicates on EITHER interleaved column."""
    from european_public_data_pipeline_spark.pipeline.layout import zorder_by
    from european_public_data_pipeline_spark.pipeline.manifest import (
        _read_json,
        prune_files,
        publish_version,
    )
    from european_public_data_pipeline_spark.tables import load_table

    ev = load_table(spark, sf_small, "events")
    t = str(tmp_path / "zorder")
    publish_version(
        zorder_by(ev, "user_id", "value", 8), t,
        stats_cols=("user_id", "value"),
    )
    m = _read_json(spark, f"{t}/manifest/00000001.json")
    keep_u, total = prune_files(m, "user_id", 10, 20)
    keep_v, _ = prune_files(m, "value", 100.0, 120.0)
    assert total == 8
    assert len(keep_u) < total, "user_id range pruned nothing"
    assert len(keep_v) < total, "value range pruned nothing"


def test_bloom_index_is_conservative_for_unindexed_files(spark, tmp_path):
    """Files committed AFTER the index build (or rewritten by purge_rows
    under new names) are unknown to the sidecar and must stay candidates
    — pruning them would silently lose rows."""
    from european_public_data_pipeline_spark.pipeline.bloom_index import (
        build_bloom_index,
        read_point,
    )
    from european_public_data_pipeline_spark.pipeline.manifest import (
        append_version,
        purge_rows,
    )

    t = str(tmp_path / "tbl")
    append_version(_ranged(spark, 0, 9), t)
    build_bloom_index(spark, t, "k", version=1)
    # Append after the build: new file absent from the sidecar.
    append_version(_ranged(spark, 10, 19), t)
    # read_point at version 2 reuses version 1's naming convention only
    # if one exists; build for v2 wasn't run, so fall back is full-read.
    got = sorted(r["k"] for r in read_point(spark, t, "k", 15, version=2).collect())
    assert got == [15]
    # Rebuild for v2, then purge a key: the rewritten file's new name is
    # unknown to the v2 sidecar — its surviving rows must stay findable.
    build_bloom_index(spark, t, "k", version=2)
    purge_rows(spark, t, "k", [12])
    assert sorted(
        r["k"] for r in read_point(spark, t, "k", 13, version=2).collect()
    ) == [13]
    assert read_point(spark, t, "k", 12, version=2).count() == 0


def test_clustered_compaction_restores_pruning(spark, tmp_path):
    """After unordered appends every file spans the full key range and
    zone maps prune nothing; compact(cluster_by=...) must restore
    selective read_where pruning with stats recomputed automatically."""
    from european_public_data_pipeline_spark.pipeline.manifest import (
        _read_json,
        append_version,
        compact,
        prune_files,
        read_where,
    )

    t = str(tmp_path / "tbl")
    # Interleaved appends: every file covers nearly the whole k range.
    for off in range(4):
        batch = spark.createDataFrame(
            [(off + 4 * i, f"v{off + 4 * i}") for i in range(25)],
            "k long, v string",
        ).coalesce(1)
        append_version(batch, t, stats_cols=("k",))
    m = _read_json(spark, f"{t}/manifest/00000004.json")
    keep, total = prune_files(m, "k", 10, 15)
    assert len(keep) == total == 4  # zone maps useless on interleaved data

    v = compact(spark, t, target_files=4, cluster_by="k")
    m2 = _read_json(spark, f"{t}/manifest/{v:08d}.json")
    keep2, total2 = prune_files(m2, "k", 10, 15)
    assert total2 >= 2 and len(keep2) < total2  # pruning restored
    got = sorted(r["k"] for r in read_where(spark, t, "k", 10, 15).collect())
    assert got == list(range(10, 16))


def test_purge_preserves_null_rows(spark, tmp_path):
    """NULL purge-column rows are never purge targets — plain ~isin would
    silently drop them and desync the manifest row counts."""
    from european_public_data_pipeline_spark.pipeline.manifest import (
        _read_json,
        publish_version,
        purge_rows,
        read_version,
    )

    df = spark.createDataFrame(
        [(7, "target"), (None, "keep-null"), (3, "keep")], "k long, v string"
    ).coalesce(1)
    t = str(tmp_path / "tbl")
    publish_version(df, t, stats_cols=("k",))
    out = purge_rows(spark, t, "k", [7])
    assert out["rows_removed"] == 1
    got = sorted(
        ((r["k"], r["v"]) for r in read_version(spark, t).collect()),
        key=lambda x: (x[0] is None, x),
    )
    assert got == [(3, "keep"), (None, "keep-null")]
    assert _read_json(spark, f"{t}/manifest/00000001.json")["row_count"] == 2


def test_purge_tombstone_replay_reclaims_orphans(spark, tmp_path):
    """A crash between manifest remap and the delete loop leaves orphaned
    old files that no manifest references; the tombstone written before
    the remap lets the NEXT purge reclaim them."""
    import os

    from european_public_data_pipeline_spark.pipeline.manifest import (
        _write_json,
        publish_version,
        purge_rows,
        read_version,
    )

    t = str(tmp_path / "tbl")
    publish_version(_ranged(spark, 0, 9), t, stats_cols=("k",))
    # Simulate the crash artifact: an orphaned file named by a tombstone.
    orphan = str(tmp_path / "orphan.parquet")
    with open(orphan, "wb") as fh:
        fh.write(b"legally-erased bytes")
    _write_json(
        spark, f"{t}/purge/pending-deadbeef.json",
        {"files": [orphan]}, overwrite=True,
    )
    purge_rows(spark, t, "k", [5])
    assert not os.path.exists(orphan), "tombstoned orphan not reclaimed"
    assert not any(
        n.startswith("pending-") for n in os.listdir(f"{t}/purge")
    ), "tombstones not cleared after successful purge"
    assert sorted(r["k"] for r in read_version(spark, t).collect()) == [
        0, 1, 2, 3, 4, 6, 7, 8, 9]


def test_purge_crash_mid_remap_replays_to_completion(spark, tmp_path):
    """Round-8 ADVICE (high): the tombstone carries the WHOLE remap plan,
    so a crash at ANY point after it exists — including mid-remap, with
    some manifests rewritten and some not — is finished exactly by the
    next purge's replay: remap first (idempotently — the already-remapped
    manifest must not be double-adjusted), delete old bytes only after
    nothing references them. The pre-round-8 files-only tombstone would
    have deleted files the un-remapped manifests still referenced,
    permanently losing their NON-purged rows."""
    import os

    from european_public_data_pipeline_spark.pipeline import manifest as M

    t = str(tmp_path / "tbl")
    M.append_version(_ranged(spark, 0, 4), t, stats_cols=("k",))
    M.append_version(_ranged(spark, 5, 9), t, stats_cols=("k",))
    M.append_version(_ranged(spark, 10, 14), t, stats_cols=("k",))

    # Crash after the SECOND manifest overwrite: v1 untouched (its file
    # holds no purged key), one of v2/v3 remapped, the other still
    # referencing the old files.
    real_write = M._write_json
    state = {"manifest_writes": 0}

    def crashing_write(spark_, path_str, payload, *, overwrite):
        if "/manifest/" in path_str and overwrite:
            state["manifest_writes"] += 1
            if state["manifest_writes"] == 2:
                raise IOError("injected: transient FS error mid-remap")
        return real_write(spark_, path_str, payload, overwrite=overwrite)

    M._write_json = crashing_write
    try:
        with pytest.raises(IOError, match="mid-remap"):
            M.purge_rows(spark, t, "k", [7, 12])
    finally:
        M._write_json = real_write

    # Crash state: tombstone pending, at least one manifest still
    # referencing an old (pre-purge) file, old bytes still on disk.
    pend = [n for n in os.listdir(f"{t}/purge") if n.startswith("pending-")]
    assert len(pend) == 1
    plan = M._read_json(spark, f"{t}/purge/{pend[0]}")
    assert set(plan) == {"remap", "removed"} and len(plan["removed"]) == 2
    for old in plan["removed"]:
        assert os.path.exists(old.replace("file:", "")), "old bytes deleted early"

    # The next purge (matching nothing itself) replays the plan to
    # completion before planning: erasure reaches every version, the
    # non-purged rows all survive, row counts are exact, the old bytes
    # are gone, and the tombstone is cleared.
    out = M.purge_rows(spark, t, "k", [999_999])
    assert out["rows_removed"] == 0
    assert sorted(r["k"] for r in M.read_version(spark, t, 2).collect()) == [
        0, 1, 2, 3, 4, 5, 6, 8, 9]
    assert sorted(r["k"] for r in M.read_version(spark, t, 3).collect()) == [
        0, 1, 2, 3, 4, 5, 6, 8, 9, 10, 11, 13, 14]
    assert M._read_json(spark, f"{t}/manifest/00000002.json")["row_count"] == 9
    assert M._read_json(spark, f"{t}/manifest/00000003.json")["row_count"] == 13
    for old in plan["removed"]:
        assert not os.path.exists(old.replace("file:", "")), "old bytes leaked"
    assert not any(
        n.startswith("pending-") for n in os.listdir(f"{t}/purge")
    )
    # And a fresh purge still works end-to-end on the replayed table.
    out2 = M.purge_rows(spark, t, "k", [3])
    assert out2["rows_removed"] == 1
    assert sorted(r["k"] for r in M.read_version(spark, t, 1).collect()) == [
        0, 1, 2, 4]


def test_legacy_tombstone_never_deletes_referenced_files(spark, tmp_path):
    """A plan-less (pre-round-8) tombstone naming a file a committed
    manifest STILL references must not delete it on replay — that is the
    crash-mid-remap case the legacy format cannot describe soundly, so
    replay keeps anything still referenced (round-8 ADVICE)."""
    import os

    from european_public_data_pipeline_spark.pipeline.manifest import (
        _read_json,
        _write_json,
        publish_version,
        purge_rows,
        read_version,
    )

    t = str(tmp_path / "tbl")
    publish_version(_ranged(spark, 0, 9), t, stats_cols=("k",))
    referenced = _read_json(spark, f"{t}/manifest/00000001.json")["files"][0]
    _write_json(
        spark, f"{t}/purge/pending-cafebabe.json",
        {"files": [referenced]}, overwrite=True,
    )
    with pytest.warns(UserWarning, match="INCOMPLETE"):
        purge_rows(spark, t, "k", [999_999])  # triggers replay only
    assert os.path.exists(referenced.replace("file:", "")), (
        "legacy tombstone replay deleted a file a manifest references"
    )
    assert sorted(r["k"] for r in read_version(spark, t).collect()) == list(
        range(10)
    )
    # The incomplete erasure stays SIGNALLED: the tombstone is retained
    # (legacy format carries no plan to finish the remap), not silently
    # cleared as if the purge had completed.
    assert any(
        n.startswith("pending-") for n in os.listdir(f"{t}/purge")
    ), "legacy tombstone cleared despite incomplete erasure"
    # Remediation path: re-purging the original values rewrites the
    # still-referenced file under a new name; the replay then reclaims
    # the old bytes and clears the tombstone (with a final warning for
    # the pre-remediation replay pass).
    with pytest.warns(UserWarning, match="INCOMPLETE"):
        purge_rows(spark, t, "k", [5])
    purge_rows(spark, t, "k", [999_999])
    assert not any(
        n.startswith("pending-") for n in os.listdir(f"{t}/purge")
    ), "tombstone not cleared after remediation rewrote the file"
    assert not os.path.exists(referenced.replace("file:", ""))


def test_bloom_batched_probe_matches_separate_lookups(spark, tmp_path):
    """read_point with a value LIST: one cell job + one sidecar scan +
    one pruned read over the unioned candidate set, equal row-for-row to
    the union of separate lookups, still pruning most files."""
    from european_public_data_pipeline_spark.pipeline.bloom_index import (
        build_bloom_index,
        read_point,
    )
    from european_public_data_pipeline_spark.pipeline.manifest import (
        append_version,
    )

    t = str(tmp_path / "tbl")
    for lo in range(0, 800, 100):
        append_version(_ranged(spark, lo, lo + 99), t)
    build_bloom_index(spark, t, "k")

    probes = [50, 450, 750]
    batched = read_point(spark, t, "k", probes)
    got = sorted(r["k"] for r in batched.collect())
    sep = sorted(
        r["k"] for p in probes for r in read_point(spark, t, "k", p).collect()
    )
    assert got == sep == probes
    # Union of 3 single-file candidates (+ ~0 fp at this width) must
    # still prune most of the 8 files.
    planned = batched.select(F.input_file_name()).distinct().count()
    assert planned <= 4
    # Absent keys in the batch: present ones still exact, absent ones empty.
    mixed = read_point(spark, t, "k", [50, 123_456])
    assert sorted(r["k"] for r in mixed.collect()) == [50]
    with pytest.raises(ValueError, match="empty probe"):
        read_point(spark, t, "k", [])


def test_append_fences_against_pending_purge_tombstone(spark, tmp_path):
    """Round-9 ADVICE: an append that read its prior manifest BEFORE a
    purge remapped it could commit references to the doomed old files in
    the window after the purge's stable-version-set check — the purge
    cannot re-list a manifest that does not exist yet. ``_commit`` now
    fences carried files against pending tombstones and applies the
    persisted remap plan itself, so the racing append's manifest
    references the rewritten paths with an exact adjusted row count."""
    import os

    from european_public_data_pipeline_spark.pipeline import manifest as M

    t = str(tmp_path / "tbl")
    M.append_version(_ranged(spark, 0, 4), t)
    M.append_version(_ranged(spark, 5, 9), t)

    # Freeze a purge mid-flight: tombstone written (full plan), NO
    # manifest remapped yet — the exact window where a racing append's
    # prior-manifest read saw old paths.
    real_write = M._write_json

    def crashing_write(spark_, path_str, payload, *, overwrite):
        if "/manifest/" in path_str and overwrite:
            raise IOError("injected: crash before any remap")
        return real_write(spark_, path_str, payload, overwrite=overwrite)

    M._write_json = crashing_write
    try:
        with pytest.raises(IOError, match="before any remap"):
            M.purge_rows(spark, t, "k", [7])
    finally:
        M._write_json = real_write

    plan = M._read_json(
        spark,
        f"{t}/purge/"
        + [n for n in os.listdir(f"{t}/purge") if n.startswith("pending-")][0],
    )
    (old_file,) = plan["removed"]

    # The racing append: its prior manifest (v2) still references the
    # old file. The fence must swap in the remapped path and subtract
    # the purged row from the carried count.
    v3 = M.append_version(_ranged(spark, 10, 14), t)
    m3 = M._read_json(spark, f"{t}/manifest/{v3:08d}.json")
    assert old_file not in m3["files"], "append committed a doomed file ref"
    assert plan["remap"][old_file] in m3["files"]
    assert m3["row_count"] == 14  # 15 appended-total rows minus purged k=7

    # Replay completes the purge; the fenced manifest is already exact
    # (idempotent: no double row-count adjustment) and reads see every
    # non-purged row with the old bytes gone.
    M.purge_rows(spark, t, "k", [999_999])
    assert sorted(r["k"] for r in M.read_version(spark, t, v3).collect()) == [
        0, 1, 2, 3, 4, 5, 6, 8, 9, 10, 11, 12, 13, 14]
    assert M._read_json(spark, f"{t}/manifest/{v3:08d}.json")["row_count"] == 14
    assert not os.path.exists(old_file.replace("file:", ""))
    assert not any(
        n.startswith("pending-") for n in os.listdir(f"{t}/purge")
    )


def test_rebuild_index_covers_every_indexed_version(spark, tmp_path):
    """rebuild_index is the post-purge remediation: a purge rewrites
    files in place across ALL committed history, staling every sidecar
    at once. The helper must find each version that has a sidecar for
    the column, rebuild it against that version's CURRENT file list, and
    leave point reads exact — including time-traveled ones."""
    import os

    from european_public_data_pipeline_spark.pipeline import manifest as M
    from european_public_data_pipeline_spark.pipeline.bloom_index import (
        build_bloom_index,
        read_point,
        rebuild_index,
    )

    t = str(tmp_path / "tbl")
    M.append_version(_ranged(spark, 0, 9), t)
    M.append_version(_ranged(spark, 10, 19), t)
    build_bloom_index(spark, t, "k", version=1)
    build_bloom_index(spark, t, "k", version=2)

    M.purge_rows(spark, t, "k", [5])  # both sidecars now stale

    # Stale reads stay exact (never-seen rewritten files kept).
    assert sorted(r["k"] for r in read_point(spark, t, "k", 7).collect()) == [7]
    assert read_point(spark, t, "k", 5).count() == 0

    rebuilt = rebuild_index(spark, t, "k")
    assert len(rebuilt) == 2 and all(os.path.isdir(p.replace("file:", "")) for p in rebuilt)

    # Post-rebuild: current and time-traveled point reads exact, and the
    # rebuilt sidecars reference no deleted pre-purge files.
    assert sorted(r["k"] for r in read_point(spark, t, "k", 7).collect()) == [7]
    assert sorted(
        r["k"] for r in read_point(spark, t, "k", 7, version=1).collect()
    ) == [7]
    assert read_point(spark, t, "k", 5).count() == 0
    for p in rebuilt:
        for r in spark.read.parquet(p).select("file").distinct().collect():
            assert os.path.exists(r["file"].replace("file:", ""))


def test_expire_versions_refcounts_shared_files(spark, tmp_path):
    """Retention GC must delete ONLY bytes no retained manifest
    references: append chains share files by reference, so expiring v1
    while the retained head still carries v1's files must keep them;
    after a compaction rewrote the table, the pre-compaction originals
    become exclusively-expired and are reclaimed. Expired sidecars drop;
    time travel inside retention survives."""
    import os

    from european_public_data_pipeline_spark.pipeline import manifest as M
    from european_public_data_pipeline_spark.pipeline.bloom_index import (
        build_bloom_index,
    )

    t = str(tmp_path / "tbl")
    M.append_version(_ranged(spark, 0, 4), t)       # v1
    M.append_version(_ranged(spark, 5, 9), t)       # v2 = v1 files + batch
    v1_files = M._read_json(spark, f"{t}/manifest/00000001.json")["files"]
    build_bloom_index(spark, t, "k", version=1)

    # Expire v1 while v2 still references its files: manifest + sidecar
    # go, every byte stays.
    out = M.expire_versions(spark, t, keep_last=1)
    assert out == {
        "versions_expired": 1,
        "files_deleted": 0,
        "indexes_dropped": 1,
        "changelogs_dropped": 0,
    }
    assert M.versions(spark, t) == [2]
    for f in v1_files:
        assert os.path.exists(f.replace("file:", ""))
    assert sorted(r["k"] for r in M.read_version(spark, t).collect()) == list(range(10))
    with pytest.raises(Exception):
        M.read_version(spark, t, 1)  # expired: time travel fails loudly

    # Compact (v3 rewrites everything), append v4, then expire to the
    # last two: v2's files (the original shared batches) are now
    # exclusively-expired and reclaimed.
    M.compact(spark, t, target_files=2)             # v3
    M.append_version(_ranged(spark, 10, 14), t)     # v4
    v2_files = M._read_json(spark, f"{t}/manifest/00000002.json")["files"]
    retained = {
        M._path_key(f)
        for v in (3, 4)
        for f in M._read_json(spark, f"{t}/manifest/{v:08d}.json")["files"]
    }
    exclusive = {M._path_key(f) for f in v2_files} - retained
    out = M.expire_versions(spark, t, keep_last=2)
    assert out["versions_expired"] == 1
    assert out["files_deleted"] == len(exclusive) > 0
    assert M.versions(spark, t) == [3, 4]
    for f in v1_files:
        assert not os.path.exists(f.replace("file:", "")), "expired bytes leaked"
    assert sorted(r["k"] for r in M.read_version(spark, t).collect()) == list(range(15))
    assert sorted(r["k"] for r in M.read_version(spark, t, 3).collect()) == list(range(10))


def test_expire_versions_retains_rollback_target_and_guards_purge(spark, tmp_path):
    from european_public_data_pipeline_spark.pipeline import manifest as M

    t = str(tmp_path / "tbl")
    M.append_version(_ranged(spark, 0, 4), t)       # v1
    M.publish_version(_ranged(spark, 5, 9), t)      # v2 (rewrite)
    M.publish_version(_ranged(spark, 10, 14), t)    # v3 (rewrite)
    M.rollback(spark, t, 1)
    # keep_last=1 would nominally keep only v3 — but LATEST points at v1.
    out = M.expire_versions(spark, t, keep_last=1)
    assert out["versions_expired"] == 1            # only v2 expired
    assert M.versions(spark, t) == [1, 3]
    assert sorted(r["k"] for r in M.read_version(spark, t).collect()) == [0, 1, 2, 3, 4]
    # Pending purge tombstone blocks expiry.
    M._write_json(
        spark, f"{t}/purge/pending-cafe.json",
        {"remap": {}, "removed": {}}, overwrite=True,
    )
    with pytest.raises(RuntimeError, match="pending purge"):
        M.expire_versions(spark, t, keep_last=1)
    with pytest.raises(ValueError, match="keep_last"):
        M.expire_versions(spark, t, keep_last=0)


def test_vacuum_orphans_reclaims_unreferenced_aged_files(spark, tmp_path):
    import os
    import time as _t

    from european_public_data_pipeline_spark.pipeline import manifest as M

    t = str(tmp_path / "tbl")
    M.append_version(_ranged(spark, 0, 4), t)
    # A crashed publisher's staged batch: written, never committed.
    orphan_dir = f"{t}/data/v00000099-deadbeefcafe"
    _ranged(spark, 90, 94).write.parquet(orphan_dir)
    # Age the orphans past the fence.
    old = _t.time() - 10_000
    for root, _dirs, files in os.walk(orphan_dir):
        for fn in files:
            os.utime(os.path.join(root, fn), (old, old))
    out = M.vacuum_orphans(spark, t, min_age_seconds=3600)
    assert out["files_deleted"] >= 1 and out["dirs_removed"] >= 1
    assert not os.path.exists(orphan_dir)
    # Referenced data untouched; young unreferenced files survive the fence.
    assert sorted(r["k"] for r in M.read_version(spark, t).collect()) == [0, 1, 2, 3, 4]
    young_dir = f"{t}/data/v00000098-00000000beef"
    _ranged(spark, 80, 84).write.parquet(young_dir)
    out2 = M.vacuum_orphans(spark, t, min_age_seconds=3600)
    assert out2["files_deleted"] == 0
    assert os.path.exists(young_dir)


def test_vacuum_index_sweep_rechecks_manifest_existence(spark, tmp_path, monkeypatch):
    """A Bloom sidecar for a version committed AFTER vacuum snapshotted
    the live-version set (a concurrent publish + _rebuild_head_sidecars)
    matches the sweep regex while missing from the stale set — the
    per-sidecar manifest-existence re-check must keep it. Simulated by
    making versions() under-report the newest version."""
    import os

    from european_public_data_pipeline_spark.pipeline import manifest as M
    from european_public_data_pipeline_spark.pipeline.bloom_index import (
        build_bloom_index,
    )

    t = str(tmp_path / "tbl")
    M.append_version(_ranged(spark, 0, 4), t)
    M.append_version(_ranged(spark, 5, 9), t)
    build_bloom_index(spark, t, "k", version=2)
    real_versions = M.versions
    monkeypatch.setattr(
        M, "versions", lambda s, p: real_versions(s, p)[:-1]
    )
    out = M.vacuum_orphans(spark, t, min_age_seconds=3600)
    assert out["indexes_dropped"] == 0
    assert any(
        name.startswith("v00000002-bloom-")
        for name in os.listdir(f"{t}/index")
    ), "vacuum deleted a live version's sidecar on a stale snapshot"


def test_manifest_schema_evolution_additive(spark, tmp_path):
    """The manifest owns the schema: an append may ADD columns; every
    reader (current, time travel, incremental, zone-pruned) serves the
    union schema with pre-evolution rows reading the new columns as
    NULL. A same-name type conflict fails loudly. Compaction preserves
    the evolved schema."""
    from european_public_data_pipeline_spark.pipeline import manifest as M

    t = str(tmp_path / "tbl")
    M.append_version(_ranged(spark, 0, 4), t)  # v1: (k, v)
    evolved = spark.createDataFrame(
        [(10, "v10", "s1"), (11, "v11", "s2")], "k long, v string, src string"
    ).coalesce(1)
    M.append_version(evolved, t, stats_cols=("k",))  # v2 adds src

    cur = M.read_version(spark, t)
    assert cur.columns == ["k", "v", "src"]
    rows = sorted((r["k"], r["src"]) for r in cur.collect())
    assert rows == [(0, None), (1, None), (2, None), (3, None), (4, None),
                    (10, "s1"), (11, "s2")]
    # Time travel to v1 serves v1's OWN (pre-evolution) schema.
    assert M.read_version(spark, t, 1).columns == ["k", "v"]
    # Incremental delta between v1 and v2 carries the evolved schema.
    inc = M.read_appended(spark, t, 1, 2)
    assert inc.columns == ["k", "v", "src"]
    assert sorted(r["k"] for r in inc.collect()) == [10, 11]
    # Zone-pruned read on k over the mixed files serves the union schema.
    w = M.read_where(spark, t, "k", 0, 20)
    assert w.columns == ["k", "v", "src"] and w.count() == 7
    # Compaction preserves the evolved schema and the NULL backfill.
    M.compact(spark, t, target_files=1)
    c = M.read_version(spark, t)
    assert c.columns == ["k", "v", "src"]
    assert sorted((r["k"], r["src"]) for r in c.collect()) == rows
    # Type conflict: k as string must refuse.
    bad = spark.createDataFrame([("x", "y")], "k string, v string")
    with pytest.raises(Exception, match="schema evolution conflict"):
        M.append_version(bad, t)


def test_purge_on_evolved_column_skips_pre_evolution_files(spark, tmp_path):
    """Purging values of a column ADDED by evolution: pre-evolution
    candidate files read the column as NULL through the superset schema
    (zero matches -> untouched), files that match are rewritten with
    their OWN natural schema, and reads stay exact."""
    from european_public_data_pipeline_spark.pipeline import manifest as M

    t = str(tmp_path / "tbl")
    M.append_version(_ranged(spark, 0, 4), t)  # v1: (k, v), no src
    evolved = spark.createDataFrame(
        [(10, "v10", 7), (11, "v11", 8)], "k long, v string, src long"
    ).coalesce(1)
    M.append_version(evolved, t)
    out = M.purge_rows(spark, t, "src", [7])
    assert out["rows_removed"] == 1
    cur = M.read_version(spark, t)
    assert sorted((r["k"], r["src"]) for r in cur.collect()) == [
        (0, None), (1, None), (2, None), (3, None), (4, None), (11, 8)]


def test_vacuum_never_reclaims_pending_purge_remap_targets(spark, tmp_path):
    """Round-9 review (data loss): a purge that crashed AFTER writing its
    rewritten files and tombstone but BEFORE any remap leaves the remap
    TARGETS unreferenced by every manifest — vacuum must treat them as
    live (the replay will commit them), or the replay remaps manifests
    to deleted paths and then deletes the originals."""
    import os
    import time as _t

    from european_public_data_pipeline_spark.pipeline import manifest as M

    t = str(tmp_path / "tbl")
    M.append_version(_ranged(spark, 0, 9), t)
    real_write = M._write_json

    def crashing_write(spark_, path_str, payload, *, overwrite):
        if "/manifest/" in path_str and overwrite:
            raise IOError("injected: crash before any remap")
        return real_write(spark_, path_str, payload, overwrite=overwrite)

    M._write_json = crashing_write
    try:
        with pytest.raises(IOError):
            M.purge_rows(spark, t, "k", [7])
    finally:
        M._write_json = real_write
    pend = [n for n in os.listdir(f"{t}/purge") if n.startswith("pending-")]
    plan = M._read_json(spark, f"{t}/purge/{pend[0]}")
    (target,) = [v for v in plan["remap"].values() if v]

    # Age EVERYTHING under data/ past the fence, then vacuum.
    old = _t.time() - 10_000
    for root, _dirs, files in os.walk(f"{t}/data"):
        for fn in files:
            os.utime(os.path.join(root, fn), (old, old))
    M.vacuum_orphans(spark, t, min_age_seconds=3600)
    assert os.path.exists(target.replace("file:", "")), (
        "vacuum reclaimed a pending tombstone's remap target")
    # Replay completes exactly: purged key gone, all other rows intact.
    M.purge_rows(spark, t, "k", [999_999])
    assert sorted(r["k"] for r in M.read_version(spark, t).collect()) == [
        0, 1, 2, 3, 4, 5, 6, 8, 9]


def test_mv_refresh_full_rebuild_when_applied_version_expired(spark, tmp_path):
    """Round-9 review: retention GC can expire the source version an MV
    last applied; the next refresh must fall back to a FULL recompute
    (the watermark's anchor is gone), not fail forever."""
    from european_public_data_pipeline_spark.pipeline import manifest as M
    from european_public_data_pipeline_spark.pipeline.mv_refresh import (
        refresh_event_summary,
    )
    from pyspark.sql import functions as F

    src, mv = str(tmp_path / "src"), str(tmp_path / "mv")
    ev = spark.createDataFrame(
        [("a", 1.0, "2024-01-01 00:00:00"), ("b", 2.0, "2024-01-02 00:00:00")],
        "event_type string, value double, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    M.publish_version(ev, src)                       # v1
    refresh_event_summary(spark, src, mv)            # applied = 1
    M.publish_version(ev.union(ev), src)             # v2 (rewrite)
    M.publish_version(ev, src)                       # v3 (rewrite)
    M.expire_versions(spark, src, keep_last=2)       # v1 (the anchor) gone
    refresh_event_summary(spark, src, mv)            # must not raise
    out = {r["event_type"]: r["n_events"] for r in M.read_version(spark, mv).collect()}
    assert out == {"a": 1, "b": 1}


def test_purge_on_column_dropped_by_later_rewrite(spark, tmp_path):
    """Round-9 review: purging a column that a later full rewrite DROPPED
    from the current schema must still erase it from the older,
    still-time-travelable versions (single-column probe schema, not the
    newest manifest's projection)."""
    from european_public_data_pipeline_spark.pipeline import manifest as M

    t = str(tmp_path / "tbl")
    with_src = spark.createDataFrame(
        [(0, "a", 7), (1, "b", 8)], "k long, v string, src long"
    ).coalesce(1)
    M.publish_version(with_src, t)                       # v1 has src
    M.publish_version(_ranged(spark, 10, 12), t)         # v2 rewrite drops src
    out = M.purge_rows(spark, t, "src", [7])
    assert out["rows_removed"] == 1
    assert sorted(r["k"] for r in M.read_version(spark, t, 1).collect()) == [1]
    assert sorted(r["k"] for r in M.read_version(spark, t).collect()) == [10, 11, 12]
    with pytest.raises(ValueError, match="exists in no committed"):
        M.purge_rows(spark, t, "nope", [1])


def test_expire_guard_ignores_crashed_tmp_tombstones(spark, tmp_path):
    """Round-9 review: a crashed _write_json leaves pending-*.json.<uuid>.tmp
    — not a tombstone. The expiry guard must ignore it (replay and the
    commit fence already do), or expiry is blocked forever with a
    remediation (purge_rows) that cannot clear it."""
    import os

    from european_public_data_pipeline_spark.pipeline import manifest as M

    t = str(tmp_path / "tbl")
    M.publish_version(_ranged(spark, 0, 4), t)
    M.publish_version(_ranged(spark, 5, 9), t)
    os.makedirs(f"{t}/purge", exist_ok=True)
    open(f"{t}/purge/pending-abc.json.deadbeef.tmp", "w").write("{}")
    out = M.expire_versions(spark, t, keep_last=1)
    assert out["versions_expired"] == 1


# ---------------------------------------------------------------------------
# widen_column — the explicit rewrite the evolution conflict error promises


def _users(spark, rows, id_type="int"):
    return spark.createDataFrame(rows, f"uid {id_type}, v string")


def test_widen_column_int_to_long_end_to_end(spark, tmp_path):
    import european_public_data_pipeline_spark.pipeline.manifest as M

    t = str(tmp_path / "tbl")
    publish_version(
        _users(spark, [(1, "a"), (2, "b"), (7, "c")]), t, stats_cols=("uid",)
    )
    # The exact append _merge_schemas refuses pre-widen:
    with pytest.raises(ValueError, match="widen by explicit rewrite"):
        M.append_version(_users(spark, [(9, "d")], "long"), t)
    assert M.widen_column(spark, t, "uid", "bigint") == 2
    cur = read_version(spark, t)
    assert cur.schema["uid"].dataType.simpleString() == "bigint"
    assert cur.columns == ["uid", "v"]  # column order preserved
    assert sorted((r["uid"], r["v"]) for r in cur.collect()) == [
        (1, "a"), (2, "b"), (7, "c")
    ]
    # Zone maps recomputed for previously-tracked columns (compact's
    # discipline): the new manifest carries file_stats for uid.
    m2 = M._read_json(spark, f"{t}/manifest/00000002.json")
    assert all("uid" in s for s in m2["file_stats"].values())
    # v1 stays time-travelable at its narrow type.
    assert read_version(spark, t, 1).schema["uid"].dataType.simpleString() == "int"
    # The widened chain now accepts the long append.
    M.append_version(_users(spark, [(9, "d")], "long"), t)
    assert sorted(r["uid"] for r in read_version(spark, t).collect()) == [1, 2, 7, 9]


def test_widen_column_refuses_lossy_and_nonsense(spark, tmp_path):
    import european_public_data_pipeline_spark.pipeline.manifest as M

    t = str(tmp_path / "tbl")
    publish_version(
        spark.createDataFrame(
            [(1, 1.5, "x")], "k long, f float, s string"
        ),
        t,
    )
    for col, target in [
        ("k", "int"),       # narrowing
        ("k", "double"),    # bigint->double is lossy past 2^53
        ("s", "bigint"),    # cross-kind
        ("f", "decimal(10,2)"),  # float->decimal not sanctioned
    ]:
        with pytest.raises(ValueError, match="lossless"):
            M.widen_column(spark, t, col, target)
    with pytest.raises(ValueError, match="not in"):
        M.widen_column(spark, t, "missing", "bigint")
    with pytest.raises(ValueError, match="unparseable"):
        M.widen_column(spark, t, "k", "not a type!!")
    # float->double IS sanctioned; already-target is an idempotent no-op.
    assert M.widen_column(spark, t, "f", "double") == 2
    assert M.widen_column(spark, t, "f", "double") == 2


def test_widen_column_decimal_growth_rules(spark, tmp_path):
    import european_public_data_pipeline_spark.pipeline.manifest as M

    t = str(tmp_path / "tbl")
    publish_version(
        spark.sql("SELECT CAST(12.34 AS DECIMAL(10,2)) AS d"), t
    )
    with pytest.raises(ValueError, match="lossless"):
        M.widen_column(spark, t, "d", "decimal(10,4)")  # int digits shrink
    with pytest.raises(ValueError, match="lossless"):
        M.widen_column(spark, t, "d", "decimal(9,2)")   # precision shrinks
    assert M.widen_column(spark, t, "d", "decimal(14,4)") == 2
    r = read_version(spark, t).collect()[0]
    assert str(r["d"]) == "12.3400"


def test_widen_column_rebuilds_bloom_sidecar(spark, tmp_path):
    import european_public_data_pipeline_spark.pipeline.manifest as M
    from european_public_data_pipeline_spark.pipeline.bloom_index import (
        build_bloom_index,
        read_point,
    )

    t = str(tmp_path / "tbl")
    publish_version(
        _users(spark, [(i, f"r{i}") for i in range(40)]).repartition(4), t
    )
    build_bloom_index(spark, t, "uid")
    M.widen_column(spark, t, "uid", "bigint")
    # The new version has its OWN sidecar, built over the widened binary
    # representation — a probe through it is exact.
    import os

    assert os.path.isdir(f"{t}/index/v00000002-bloom-uid")
    got = read_point(spark, t, "uid", 7).collect()
    assert [(r["uid"], r["v"]) for r in got] == [(7, "r7")]
    # And the OLD version still probes exactly through its own sidecar.
    got1 = read_point(spark, t, "uid", 7, version=1).collect()
    assert [(r["uid"], r["v"]) for r in got1] == [(7, "r7")]


# ---------------------------------------------------------------------------
# purge_rows across a full-publish type change (per-file probe types)


def test_purge_resolves_probe_type_per_candidate_file(spark, tmp_path):
    """A full publish_version may legally re-publish a same-named column
    at a different type while older time-travelable versions' files keep
    the old one; the purge must probe each candidate with ITS OWN type
    instead of one global newest-schema type (round-9 ADVICE)."""
    import european_public_data_pipeline_spark.pipeline.manifest as M

    t = str(tmp_path / "tbl")
    publish_version(_users(spark, [(1, "a"), (7, "b"), (7, "c")], "int"), t)
    publish_version(
        _users(spark, [(1, "a"), (7, "b2"), (3, "d")], "long"), t
    )  # full rewrite: uid is now BIGINT; v1's files keep INT
    res = M.purge_rows(spark, t, "uid", [7])
    assert res["rows_removed"] == 3  # two in v1's files, one in v2's
    assert sorted(r["uid"] for r in read_version(spark, t).collect()) == [1, 3]
    assert sorted(r["uid"] for r in read_version(spark, t, 1).collect()) == [1]


# ---------------------------------------------------------------------------
# the purge/append post-commit fence (completed tombstones)


def test_purge_retires_tombstone_to_completed_plan(spark, tmp_path):
    import os

    import european_public_data_pipeline_spark.pipeline.manifest as M

    t = str(tmp_path / "tbl")
    publish_version(_users(spark, [(1, "a"), (7, "b")]), t)
    M.purge_rows(spark, t, "uid", [7])
    names = os.listdir(f"{t}/purge")
    assert not any(n.startswith("pending-") for n in names)
    done = [n for n in names if n.startswith("completed-") and n.endswith(".json")]
    assert len(done) == 1
    plan = M._read_json(spark, f"{t}/purge/{done[0]}")
    assert "remap" in plan and "removed" in plan and "completed_at" in plan
    # Reclaimed after the TTL by the next purge cycle's replay sweep.
    old = plan["completed_at"] - M.COMPLETED_PLAN_TTL_S - 10
    os.utime(f"{t}/purge/{done[0]}", (old, old))
    M._replay_pending_purges(spark, t)
    assert not any(
        n.startswith("completed-") for n in os.listdir(f"{t}/purge")
    )


def test_post_commit_fence_repairs_append_that_raced_a_whole_purge(
    spark, tmp_path, monkeypatch
):
    """The residual window ADVICE r8 named: an appender reads its prior
    manifest, then a purge runs its ENTIRE cycle (tombstone -> remap ->
    stable check -> delete -> retire) before the appender's manifest
    exists — the purge's re-list loop can never see it, and the staged
    fence (simulated here as having run pre-tombstone) saw nothing.
    The post-commit fence must self-remap the just-committed manifest
    from the retired ``completed-`` plan."""
    import european_public_data_pipeline_spark.pipeline.manifest as M

    t = str(tmp_path / "tbl")
    publish_version(
        _users(spark, [(1, "a"), (7, "b"), (7, "c"), (2, "d")]), t
    )
    prior = M._read_json(spark, f"{t}/manifest/00000001.json")  # pre-remap read
    M.purge_rows(spark, t, "uid", [7])  # full cycle completes

    real = M._purge_plans
    calls = {"n": 0}

    def fence_misses_first(spark_, tp, **kw):
        calls["n"] += 1
        if calls["n"] == 1:
            return []  # the staged fence ran before the tombstone existed
        return real(spark_, tp, **kw)

    monkeypatch.setattr(M, "_purge_plans", fence_misses_first)
    data_dir = M._stage_dir(t, 2)
    batch = _users(spark, [(9, "e")])
    batch.write.mode("overwrite").parquet(data_dir)
    M._commit(
        spark, t, 2, data_dir, batch.schema,
        head=M.Head(1, prior, None, prior.get("schema")),
    )
    assert calls["n"] >= 2  # the post-commit fence actually re-checked
    m2 = M._read_json(spark, f"{t}/manifest/00000002.json")
    import os

    # Every referenced file exists (no doomed old paths survived) and
    # the row count reflects the purge.
    for f in m2["files"]:
        assert os.path.exists(M._path_key(f)), f
    assert m2["row_count"] == 3  # 4 - 2 purged + 1 appended
    got = sorted((r["uid"], r["v"]) for r in read_version(spark, t).collect())
    assert got == [(1, "a"), (2, "d"), (9, "e")]


# ---------------------------------------------------------------------------
# rebuild_index walks past sidecars orphaned by a mid-expire crash


def test_rebuild_index_drops_orphaned_sidecar_and_continues(spark, tmp_path):
    import os
    import shutil

    import european_public_data_pipeline_spark.pipeline.manifest as M
    from european_public_data_pipeline_spark.pipeline.bloom_index import (
        build_bloom_index,
        rebuild_index,
        read_point,
    )

    t = str(tmp_path / "tbl")
    publish_version(_users(spark, [(i, f"a{i}") for i in range(20)]), t)
    publish_version(_users(spark, [(i, f"b{i}") for i in range(20)]), t)
    build_bloom_index(spark, t, "uid", version=1)
    build_bloom_index(spark, t, "uid", version=2)
    # Simulate a crash inside expire_versions: v1's manifest deleted
    # (phase 1 done), its sidecar not yet (phase 3 never ran).
    os.remove(f"{t}/manifest/00000001.json")
    rebuilt = rebuild_index(spark, t, "uid")
    assert rebuilt == [f"{t}/index/v00000002-bloom-uid"]
    assert not os.path.isdir(f"{t}/index/v00000001-bloom-uid")  # orphan dropped
    got = read_point(spark, t, "uid", 7).collect()
    assert [(r["uid"], r["v"]) for r in got] == [(7, "b7")]
    shutil.rmtree(t, ignore_errors=True)


def test_post_commit_fence_applies_chained_purge_plans_in_order(
    spark, tmp_path, monkeypatch
):
    """Three purges complete during one append's staging window: each
    rewrites the previous one's rewrite target (A->B->C->D), so the
    fence must apply the retired plans in COMPLETION order — an
    unordered pass could stop mid-chain and commit references to an
    intermediate path a later purge already deleted."""
    import os

    import european_public_data_pipeline_spark.pipeline.manifest as M

    t = str(tmp_path / "tbl")
    publish_version(
        _users(spark, [(1, "a"), (7, "b"), (8, "c"), (9, "d")]).coalesce(1), t
    )
    prior = M._read_json(spark, f"{t}/manifest/00000001.json")
    M.purge_rows(spark, t, "uid", [7])   # A -> B
    M.purge_rows(spark, t, "uid", [8])   # B -> C
    M.purge_rows(spark, t, "uid", [9])   # C -> D
    assert len(
        [n for n in os.listdir(f"{t}/purge") if n.startswith("completed-")]
    ) == 3

    real = M._purge_plans
    calls = {"n": 0}

    def fence_misses_first(spark_, tp):
        calls["n"] += 1
        if calls["n"] == 1:
            return []  # the staged fence ran before any tombstone existed
        return real(spark_, tp)

    monkeypatch.setattr(M, "_purge_plans", fence_misses_first)
    data_dir = M._stage_dir(t, 2)
    batch = _users(spark, [(5, "e")])
    batch.write.mode("overwrite").parquet(data_dir)
    M._commit(
        spark, t, 2, data_dir, batch.schema,
        head=M.Head(1, prior, None, prior.get("schema")),
    )
    m2 = M._read_json(spark, f"{t}/manifest/00000002.json")
    for f in m2["files"]:
        assert os.path.exists(M._path_key(f)), f
    assert m2["row_count"] == 2  # 4 - 3 purged + 1 appended
    got = sorted((r["uid"], r["v"]) for r in read_version(spark, t).collect())
    assert got == [(1, "a"), (5, "e")]


def test_long_stage_existence_sweep_fails_loudly_not_silently(
    spark, tmp_path
):
    """A stage window longer than the completed-plan TTL can outlive a
    purge's retired plan entirely; the pre-write fence must then verify
    carried files exist and refuse the commit loudly (staged data
    reclaimed) instead of committing references to deleted files."""
    import os

    import european_public_data_pipeline_spark.pipeline.manifest as M

    t = str(tmp_path / "tbl")
    publish_version(_users(spark, [(1, "a"), (7, "b")]).coalesce(1), t)
    prior = M._read_json(spark, f"{t}/manifest/00000001.json")
    M.purge_rows(spark, t, "uid", [7])
    # Simulate the TTL reclaim having already happened.
    for n in os.listdir(f"{t}/purge"):
        if n.startswith("completed-"):
            os.remove(f"{t}/purge/{n}")
    data_dir = M._stage_dir(t, 2)
    batch = _users(spark, [(5, "e")])
    batch.write.mode("overwrite").parquet(data_dir)
    with pytest.raises(RuntimeError, match="no longer exist"):
        M._commit(
            spark, t, 2, data_dir, batch.schema,
            head=M.Head(
                1,
                prior,
                __import__("time").time()
                - M.COMPLETED_PLAN_TTL_S,  # stale read, past the sweep gate
                prior.get("schema"),
            ),
        )
    assert versions(spark, t) == [1]  # nothing committed
    assert not os.path.exists(data_dir)  # staged data reclaimed


# ---------------------------------------------------------------------------
# round 11: commit-kind tags, sidecar continuity, completed-plan TTL reclaim


def test_commit_op_kinds_recorded_per_writer(spark, tmp_path):
    """Every commit path stamps its operation kind (Iceberg's snapshot
    `operation`): publish=overwrite, append=append, compact/widen=
    replace — and a pre-op-era manifest reads as the conservative
    overwrite. The kind is a per-commit fact, never inherited the way
    meta watermarks are."""
    import json

    import european_public_data_pipeline_spark.pipeline.manifest as M

    t = str(tmp_path / "tbl")
    M.publish_version(_ranged(spark, 0, 9), t)
    assert M.version_op(spark, t, 1) == "overwrite"
    M.append_version(_ranged(spark, 10, 19), t, meta={"wm": 1})
    assert M.version_op(spark, t, 2) == "append"
    M.compact(spark, t, target_files=1)
    assert M.version_op(spark, t, 3) == "replace"
    assert M.version_meta(spark, t, 3) == {"wm": 1}  # meta still carried
    # Legacy manifest: strip the op field in place — must read overwrite.
    import os

    mp = f"{t}/manifest/00000002.json"
    m = json.load(open(mp))
    del m["op"]
    json.dump(m, open(mp, "w"))
    os.remove(f"{t}/manifest/.00000002.json.crc")  # raw edit broke the crc
    assert M.version_op(spark, t, 2) == "overwrite"


def test_point_lookup_pruning_survives_compact(spark, tmp_path):
    """Sidecar continuity: compact rebuilds every column's Bloom sidecar
    on the new head, so read_point keeps pruning (n files planned <
    n files in the version) instead of silently degrading to a full
    read until someone re-runs build_bloom_index."""
    import european_public_data_pipeline_spark.pipeline.manifest as M
    from european_public_data_pipeline_spark.pipeline.bloom_index import (
        build_bloom_index,
        read_point,
    )

    t = str(tmp_path / "tbl")
    for lo in range(0, 800, 100):
        M.append_version(_ranged(spark, lo, lo + 99), t)
    build_bloom_index(spark, t, "k")
    M.compact(spark, t, target_files=8, cluster_by="k")
    head = M.current_version(spark, t)
    assert M._indexed_columns(spark, t, head) == ["k"]
    m = M._read_json(spark, f"{t}/manifest/{head:08d}.json")
    df = read_point(spark, t, "k", 450)
    planned = df.select(F.input_file_name()).distinct().count()
    assert planned < len(m["files"])  # pruned, not a full-version read
    assert [r["k"] for r in df.collect()] == [450]


def test_widen_rebuilds_sidecars_for_every_indexed_column(spark, tmp_path):
    """widen_column's rebuild is no longer only the widened column: a
    sidecar on ANY column describes files the rewrite renamed, so all
    indexed columns get fresh sidecars on the new head."""
    import os

    import european_public_data_pipeline_spark.pipeline.manifest as M
    from european_public_data_pipeline_spark.pipeline.bloom_index import (
        build_bloom_index,
        read_point,
    )

    t = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [(i, i * 10, f"r{i}") for i in range(60)],
        "uid int, other long, v string",
    ).repartition(4)
    M.publish_version(df, t)
    build_bloom_index(spark, t, "uid")
    build_bloom_index(spark, t, "other")
    M.widen_column(spark, t, "uid", "bigint")
    assert os.path.isdir(f"{t}/index/v00000002-bloom-uid")
    assert os.path.isdir(f"{t}/index/v00000002-bloom-other")
    assert [r["v"] for r in read_point(spark, t, "other", 70).collect()] == ["r7"]
    assert [r["v"] for r in read_point(spark, t, "uid", 7).collect()] == ["r7"]


def test_completed_plans_reclaimed_by_vacuum_and_skipped_by_fences(
    spark, tmp_path, monkeypatch
):
    """ADVICE r10: on a table purged once and never again, expired
    completed- plans must not cost every append a JSON read forever —
    the fences skip them by mtime without reading, and vacuum_orphans
    reclaims them for good."""
    import os
    import time as _t

    import european_public_data_pipeline_spark.pipeline.manifest as M

    t = str(tmp_path / "tbl")
    M.append_version(_ranged(spark, 0, 9), t, stats_cols=("k",))
    M.purge_rows(spark, t, "k", [3])
    plans = [
        fn for fn in os.listdir(f"{t}/purge") if fn.startswith("completed-")
    ]
    assert len(plans) == 1
    # Fresh plan: visible to the fences.
    assert len(M._purge_plans(spark, t)) == 1
    # Age it past the TTL: the fences skip it unread...
    old = _t.time() - M.COMPLETED_PLAN_TTL_S - 60
    os.utime(f"{t}/purge/{plans[0]}", (old, old))
    assert M._purge_plans(spark, t) == []
    # ...and vacuum reclaims the file itself.
    out = M.vacuum_orphans(spark, t, min_age_seconds=3600)
    assert out["plans_reclaimed"] == 1
    assert not any(
        fn.startswith("completed-") for fn in os.listdir(f"{t}/purge")
    )


def test_post_commit_fence_loops_until_stable(spark, tmp_path, monkeypatch):
    """ADVICE r10 (medium): a SECOND sequential purge completing between
    one fence pass's plan listing and its overwrite must not be
    reverted — the fence re-lists after every write and only stops on a
    pass that applies nothing new. Simulated by injecting the second
    purge's completed plan the moment the first fence write lands."""
    import json
    import os
    import time as _t
    import uuid as _u

    import european_public_data_pipeline_spark.pipeline.manifest as M

    t = str(tmp_path / "tbl")
    M.append_version(_ranged(spark, 0, 9), t)
    prior = M._read_json(spark, f"{t}/manifest/00000001.json")
    old_file = prior["files"][0]

    # Purge plan 1: remaps the carried file to replacement A.
    repl_a = f"{t}/data/repl-a.parquet"
    _ranged(spark, 0, 8).write.mode("overwrite").parquet(f"{t}/data/tmp-a")
    src_a = next(
        f"{t}/data/tmp-a/{fn}"
        for fn in os.listdir(f"{t}/data/tmp-a")
        if fn.endswith(".parquet")
    )
    os.rename(src_a, repl_a)
    # Purge plan 2: remaps replacement A to replacement B (a chained
    # second purge over the rewritten file).
    repl_b = f"{t}/data/repl-b.parquet"
    _ranged(spark, 0, 7).write.mode("overwrite").parquet(f"{t}/data/tmp-b")
    src_b = next(
        f"{t}/data/tmp-b/{fn}"
        for fn in os.listdir(f"{t}/data/tmp-b")
        if fn.endswith(".parquet")
    )
    os.rename(src_b, repl_b)

    os.makedirs(f"{t}/purge", exist_ok=True)
    plan1 = {
        "remap": {old_file: repl_a},
        "removed": {old_file: 1},
        "completed_at": _t.time() - 1,
    }
    plan2 = {
        "remap": {repl_a: repl_b},
        "removed": {repl_a: 1},
        "completed_at": _t.time(),
    }
    # Plan 1 lands AFTER the pre-write fence ran (simulated: injected the
    # moment the manifest create lands — the fence->write gap), and plan
    # 2 lands between the loop's first corrective overwrite and its next
    # listing — the exact interleaving a single-pass fence reverts.
    real_write = M._write_json
    state = {"created": False, "fixed": False}

    def tricky_write(spark_, path_str, payload, *, overwrite):
        real_write(spark_, path_str, payload, overwrite=overwrite)
        if not ("/manifest/" in path_str and path_str.endswith("00000002.json")):
            return
        if not overwrite and not state["created"]:
            state["created"] = True
            json.dump(
                plan1,
                open(f"{t}/purge/completed-{_u.uuid4().hex[:12]}.json", "w"),
            )
        elif overwrite and not state["fixed"]:
            state["fixed"] = True
            json.dump(
                plan2,
                open(f"{t}/purge/completed-{_u.uuid4().hex[:12]}.json", "w"),
            )

    monkeypatch.setattr(M, "_write_json", tricky_write)
    M.append_version(_ranged(spark, 10, 19), t)
    monkeypatch.undo()

    m2 = M._read_json(spark, f"{t}/manifest/00000002.json")
    keys = {M._path_key(f) for f in m2["files"]}
    assert M._path_key(old_file) not in keys
    assert M._path_key(repl_a) not in keys  # plan 2 applied, not reverted
    assert M._path_key(repl_b) in keys


def test_read_appended_skips_replace_and_refuses_overwrite(spark, tmp_path):
    """read_appended collects only append commits' rows across a
    compact (which renames every file), conforms pre-widen segments to
    the head type, returns an empty head-schema result for a
    replace-only chain, and refuses an overwrite chain loudly — also a
    merge that persisted its changelog: its rows are not appends."""
    import pytest

    import european_public_data_pipeline_spark.pipeline.manifest as M

    def _ri(lo, hi):  # one-file INT batch (widen-able to bigint)
        return spark.createDataFrame(
            [(i, f"v{i}") for i in range(lo, hi + 1)], "k int, v string"
        ).coalesce(1)

    t = str(tmp_path / "tbl")
    M.publish_version(_ri(0, 9), t)                 # v1
    M.append_version(_ri(10, 19), t)                # v2
    M.compact(spark, t, target_files=1)             # v3 (replace)
    M.append_version(_ri(20, 29), t)                # v4
    got = sorted(r["k"] for r in M.read_appended(spark, t, 1).collect())
    assert got == list(range(10, 30))  # both appends, compact skipped
    # Replace-only chain: empty result at the head schema.
    empty = M.read_appended(spark, t, 2, 3)
    assert empty.count() == 0 and empty.columns == ["k", "v"]
    # Widen inside the chain: the INT32 segment conforms to BIGINT.
    M.widen_column(spark, t, "k", "bigint")         # v5 (replace)
    M.append_version(
        spark.createDataFrame(
            [(99, "v99")], "k bigint, v string"
        ).coalesce(1),
        t,
    )                                                # v6
    got2 = sorted(int(r["k"]) for r in M.read_appended(spark, t, 3).collect())
    assert got2 == list(range(20, 30)) + [99]
    assert M.read_appended(spark, t, 3).schema["k"].dataType.simpleString() == (
        "bigint"
    )
    # Overwrite breaks append-exactness: refuse, never serve the table.
    M.publish_version(_ri(0, 5), t)                  # v7
    with pytest.raises(ValueError, match="append-exact"):
        M.read_appended(spark, t, 1)
    # A persisted-changelog merge is a changelog link, not an append.
    t2 = str(tmp_path / "merged")
    _k_table(spark, t2)                              # v1
    M.append_version(
        spark.createDataFrame([(100, 1000)], "k long, v long"), t2
    )                                                # v2
    _cl_merge(spark, t2, [(3, 33)])                  # v3
    assert M.read_changelog(spark, t2, 3) is not None
    assert [r["k"] for r in M.read_appended(spark, t2, 1, 2).collect()] == [100]
    with pytest.raises(ValueError, match="append-exact"):
        M.read_appended(spark, t2, 1)


def test_read_appended_refuses_expired_intermediate(spark, tmp_path):
    """Retention GC dropping an intermediate manifest breaks the op
    chain: the appended rows are no longer derivable from metadata, so
    read_appended must refuse (not guess), while a chain wholly inside
    the retained window still works."""
    import pytest

    import european_public_data_pipeline_spark.pipeline.manifest as M

    t = str(tmp_path / "tbl")
    M.publish_version(_ranged(spark, 0, 9), t)      # v1
    M.append_version(_ranged(spark, 10, 19), t)     # v2
    M.append_version(_ranged(spark, 20, 29), t)     # v3
    M.append_version(_ranged(spark, 30, 39), t)     # v4
    M.expire_versions(spark, t, keep_last=2)        # v1, v2 gone
    got = sorted(r["k"] for r in M.read_appended(spark, t, 3).collect())
    assert got == list(range(30, 40))               # retained chain works
    with pytest.raises(ValueError, match="append-exact"):
        M.read_appended(spark, t, 1)                # v2's manifest expired


def test_vacuum_reclaims_sidecars_of_expired_versions(spark, tmp_path):
    """A crash between expire_versions' file-delete and index-drop
    phases orphans expired versions' sidecar dirs; vacuum reclaims them
    (manifest-existence rule, same as rebuild_index) while live
    versions' sidecars are untouched."""
    import os

    import european_public_data_pipeline_spark.pipeline.manifest as M
    from european_public_data_pipeline_spark.pipeline.bloom_index import (
        build_bloom_index,
        read_point,
    )

    t = str(tmp_path / "tbl")
    M.publish_version(_ranged(spark, 0, 9), t)      # v1
    build_bloom_index(spark, t, "k", version=1)
    M.append_version(_ranged(spark, 10, 19), t)     # v2
    build_bloom_index(spark, t, "k", version=2)
    # Simulate the crash state: v1's manifest deleted, its sidecar left.
    os.remove(f"{t}/manifest/00000001.json")
    out = M.vacuum_orphans(spark, t, min_age_seconds=3600)
    assert out["indexes_dropped"] == 1
    assert not os.path.isdir(f"{t}/index/v00000001-bloom-k")
    assert os.path.isdir(f"{t}/index/v00000002-bloom-k")  # live: untouched
    assert [r["k"] for r in read_point(spark, t, "k", 15).collect()] == [15]


def _cl_merge(spark, t, rows, schema="k long, v long"):
    from european_public_data_pipeline_spark.pipeline.cow_merge import (
        merge_into_manifest,
    )

    return merge_into_manifest(
        spark,
        t,
        spark.createDataFrame(rows, schema),
        keys=["k"],
        persist_changelog=True,
    )


def _k_table(spark, t, n=60):
    from european_public_data_pipeline_spark.pipeline import manifest as M

    M.publish_version(
        spark.range(n).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("v")
        ),
        t,
        stats_cols=("k",),
    )


def test_expire_versions_drops_expired_changelogs(spark, tmp_path):
    """A persisted changelog is a per-commit fact: when its version
    expires, its files go with it; a retained version's changelog
    survives."""
    import os

    from european_public_data_pipeline_spark.pipeline import manifest as M

    t = str(tmp_path / "tbl")
    _k_table(spark, t)                     # v1
    _cl_merge(spark, t, [(3, 33)])         # v2: changelog to expire
    new = _cl_merge(spark, t, [(4, 44)])   # v3: changelog to retain
    out = M.expire_versions(spark, t, keep_last=1)
    assert out["changelogs_dropped"] >= 1
    assert M.read_changelog(spark, t, new["version"]).count() > 0
    # Exactly the retained version's changelog files remain on disk.
    remaining = []
    for root, _dirs, files in os.walk(f"{t}/changelog"):
        remaining += [os.path.join(root, f) for f in files if f.endswith(".parquet")]
    m3 = M._read_json(spark, f"{t}/manifest/{new['version']:08d}.json")
    live = {M._path_key(f) for f in m3["changelog_files"]}
    assert {M._path_key(p) for p in remaining} == live


def test_vacuum_reclaims_orphan_staged_changelogs(spark, tmp_path):
    """A merge that staged its changelog then lost the commit race (or
    crashed) leaves an unreferenced uuid dir under {table}/changelog —
    vacuum reclaims it past the age fence and never touches the live
    one."""
    import os
    import time as _t

    from european_public_data_pipeline_spark.pipeline import manifest as M

    t = str(tmp_path / "tbl")
    _k_table(spark, t)
    live = _cl_merge(spark, t, [(3, 33)])
    orphan = f"{t}/changelog/v00000099-deadbeefcafe"
    spark.createDataFrame([(1, 1, 1)], "k long, v long, __w int").write.parquet(orphan)
    old = _t.time() - 10_000
    for root, _dirs, files in os.walk(orphan):
        for fn in files:
            os.utime(os.path.join(root, fn), (old, old))
    out = M.vacuum_orphans(spark, t, min_age_seconds=3600)
    assert out["changelogs_deleted"] >= 1
    assert not os.path.exists(orphan)
    assert M.read_changelog(spark, t, live["version"]).count() > 0


def test_purge_rows_erases_persisted_changelogs(spark, tmp_path):
    """Persisted changelogs carry row images BY VALUE — purge_rows must
    erase them all and strip the manifest pointers, so the purged rows
    survive nowhere and MV consumers degrade loudly to full recompute."""
    import os

    from european_public_data_pipeline_spark.pipeline import manifest as M

    t = str(tmp_path / "tbl")
    _k_table(spark, t)
    _cl_merge(spark, t, [(3, 33)])
    res = M.purge_rows(spark, t, "k", [5])
    assert res["rows_removed"] >= 1
    for v in M.versions(spark, t):
        m = M._read_json(spark, f"{t}/manifest/{v:08d}.json")
        assert "changelog_files" not in m and "changelog_weight_col" not in m
        assert M.read_changelog(spark, t, v) is None
    leftovers = []
    for root, _dirs, files in os.walk(f"{t}/changelog"):
        leftovers += [f for f in files if f.endswith(".parquet")]
    assert leftovers == []


# ---------------------------------------------------------------------------
# Commit cost: the staged batch's schema comes from the writer and its row
# count from the zone-map aggregate, never from extra Spark jobs.


def _typed_batch(spark, lo, hi):
    """Decimal, date, timestamp, nested and non-nullable columns, three
    files."""
    import datetime
    import decimal

    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("k", T.LongType(), False),
            T.StructField("price", T.DecimalType(12, 3)),
            T.StructField("day", T.DateType()),
            T.StructField("at", T.TimestampType()),
            T.StructField("at_ntz", T.TimestampNTZType()),
            T.StructField(
                "tag",
                T.StructType(
                    [
                        T.StructField("id", T.IntegerType(), False),
                        T.StructField("name", T.StringType()),
                    ]
                ),
            ),
            T.StructField("xs", T.ArrayType(T.IntegerType())),
            T.StructField("attrs", T.MapType(T.StringType(), T.LongType())),
        ]
    )
    rows = [
        (
            k,
            decimal.Decimal(k) / 8,
            datetime.date(2020, 1, 1) + datetime.timedelta(days=k),
            datetime.datetime(2021, 1, 1) + datetime.timedelta(hours=k),
            datetime.datetime(2022, 2, 2) + datetime.timedelta(minutes=k),
            (k, None if k % 5 == 0 else f"n{k}"),
            [k, k + 1],
            {"a": k},
        )
        for k in range(lo, hi)
    ]
    return spark.createDataFrame(rows, schema).repartition(3)


def _commit_jobs(monkeypatch, spark_jobs):
    """Record the jobs each ``_commit`` call starts (the jobs after the
    batch's write)."""
    import european_public_data_pipeline_spark.pipeline.manifest as M

    real = M._commit
    calls: list = []

    def counted(*args, **kwargs):
        with spark_jobs() as jobs:
            out = real(*args, **kwargs)
        calls.append(jobs)
        return out

    monkeypatch.setattr(M, "_commit", counted)
    return calls


def test_commit_costs_at_most_two_jobs_and_matches_recomputation(
    spark, tmp_path, monkeypatch, spark_jobs
):
    import european_public_data_pipeline_spark.pipeline.manifest as M

    stats = ("k", "price", "day", "at")
    t = str(tmp_path / "tbl")
    M.publish_version(_typed_batch(spark, 0, 90), t, stats_cols=stats)
    calls = _commit_jobs(monkeypatch, spark_jobs)
    M.append_version(_typed_batch(spark, 90, 150), t, stats_cols=stats)
    assert len(calls[-1]) <= 2, calls[-1]
    plain = str(tmp_path / "plain")
    M.publish_version(_typed_batch(spark, 0, 40), plain)
    assert len(calls[-1]) <= 2, calls[-1]

    for table, n_rows, cols in ((t, 150, stats), (plain, 40, ())):
        m = M._read_json(spark, f"{table}/manifest/{M.current_version(spark, table):08d}.json")
        inferred = spark.read.parquet(*m["files"])
        assert m["schema"] == inferred.schema.json()
        assert m["row_count"] == inferred.count() == n_rows
        if not cols:
            assert "file_stats" not in m
            continue
        expected = {}
        for f in m["files"]:
            agg = spark.read.parquet(f).agg(
                *[F.min(c).alias(f"mn_{c}") for c in cols],
                *[F.max(c).alias(f"mx_{c}") for c in cols],
            ).first()
            expected[M._path_key(f)] = {
                c: [
                    M._json_scalar(agg[f"mn_{c}"], round_toward="down"),
                    M._json_scalar(agg[f"mx_{c}"], round_toward="up"),
                ]
                for c in cols
            }
        assert m["file_stats"] == expected


def test_staged_commit_requires_the_writer_schema(spark, tmp_path):
    import european_public_data_pipeline_spark.pipeline.manifest as M

    t = str(tmp_path / "tbl")
    data_dir = M._stage_dir(t, 1)
    _batch(spark, ["a"]).write.parquet(data_dir)
    with pytest.raises(ValueError, match="schema its batch was written with"):
        M._commit(spark, t, 1, data_dir)
    assert M.versions(spark, t) == []


def test_sidecar_reads_start_no_job(spark, tmp_path, spark_jobs):
    """Planning a live read over equality and position delete sidecars
    reads them with a known schema — no footer-inference job — and a
    pre-schema equality entry still reads through inference, to the
    same rows."""
    import european_public_data_pipeline_spark.pipeline.manifest as M
    from european_public_data_pipeline_spark.pipeline.mor_delete import (
        delete_rows_mor,
        delete_where_mor,
    )

    t = str(tmp_path / "tbl")
    M.publish_version(_ranged(spark, 0, 29), t, stats_cols=("k",))
    delete_rows_mor(spark, t, spark.createDataFrame([(3,), (7,)], "k long"), ["k"])
    delete_where_mor(spark, t, "k >= 20")
    m = M._read_json(spark, f"{t}/manifest/{M.current_version(spark, t):08d}.json")
    eq = [e for e in m["delete_files"] if e.get("kind") != "position"]
    assert eq and all("schema" in e for e in eq)
    with spark_jobs() as jobs:
        live = M.read_version(spark, t)
    assert jobs == []
    want = sorted(set(range(20)) - {3, 7})
    assert sorted(r["k"] for r in live.collect()) == want
    legacy = {
        **m,
        "delete_files": [
            {k: v for k, v in e.items() if k != "schema"} for e in m["delete_files"]
        ],
    }
    assert sorted(r["k"] for r in M._read_files_live(spark, legacy).collect()) == want

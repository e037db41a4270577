"""Merge-on-read equality deletes: KB-scale sidecar commits (no data
rewrite), scan-side application everywhere (current read, time travel,
zone-pruned, Bloom point lookup), re-inserts stay alive, compaction
folds, GC accounts for sidecars, and the write-amplification claim
holds — a MOR commit writes O(batch) bytes while COW rewrites files."""

from __future__ import annotations

import os
import re

import pytest
from pyspark.sql import functions as F

import european_public_data_pipeline_spark.pipeline.manifest as M
from european_public_data_pipeline_spark.pipeline.mor_delete import (
    delete_rows_mor,
    upsert_rows_mor,
)


def _seed(spark, t, n=400, files=8):
    df = (
        spark.range(n)
        .select(F.col("id").alias("k"), (F.col("id") * 10).alias("v"))
        .repartitionByRange(files, "k")
        .sortWithinPartitions("k")
    )
    M.publish_version(df, t, stats_cols=("k",))


def _dk(spark, *ks):
    return spark.createDataFrame([(k,) for k in ks], "k long")


def test_mor_delete_end_state_and_time_travel(spark, tmp_path):
    t = str(tmp_path / "tbl")
    _seed(spark, t)
    out = delete_rows_mor(spark, t, _dk(spark, 5, 6, 99999), ["k"])
    assert out["rows_deleted"] == 2          # 99999 absent: no-op
    assert out["files_pruned"] >= 1          # zone maps pruned the scan
    assert out["sidecar_files"] == 1
    got = {r["k"] for r in M.read_version(spark, t).collect()}
    assert 5 not in got and 6 not in got and len(got) == 398
    # Time travel: the pre-delete version still shows the rows.
    assert M.read_version(spark, t, 1).count() == 400
    # row_count is exact (net of deletes), op kind is 'delete'.
    m = M._read_json(spark, f"{t}/manifest/{out['version']:08d}.json")
    assert m["row_count"] == 398 and m["op"] == "delete"
    # A second, overlapping delete never double-subtracts.
    out2 = delete_rows_mor(spark, t, _dk(spark, 5, 7), ["k"])
    assert out2["rows_deleted"] == 1
    m2 = M._read_json(spark, f"{t}/manifest/{out2['version']:08d}.json")
    assert m2["row_count"] == 397
    # A no-match delete commits nothing.
    out3 = delete_rows_mor(spark, t, _dk(spark, 777777), ["k"])
    assert out3["rows_deleted"] == 0
    assert out3["version"] == out2["version"]


def test_mor_delete_commit_writes_o_batch_bytes(spark, tmp_path):
    """The write-amplification claim: the MOR commit stages NO data
    files (the data tree is byte-identical before and after) and the
    sidecar is KB-scale, while the COW path would rewrite every file
    containing a matched key."""
    from european_public_data_pipeline_spark.pipeline.cow_merge import (
        merge_into_manifest,
    )

    t = str(tmp_path / "tbl")
    _seed(spark, t)

    def data_bytes(p):
        total = 0
        for root, _d, files in os.walk(f"{p}/data"):
            total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
        return total

    before = data_bytes(t)
    # Keys spread across every file: COW would rewrite all 8.
    spread = _dk(spark, *range(0, 400, 50))
    out = delete_rows_mor(spark, t, spread, ["k"])
    assert out["rows_deleted"] == 8
    assert data_bytes(t) == before, "MOR delete wrote data files"
    sidecar_bytes = 0
    for root, _d, files in os.walk(f"{t}/deletes"):
        sidecar_bytes += sum(
            os.path.getsize(os.path.join(root, f)) for f in files
        )
    assert 0 < sidecar_bytes < 64 * 1024  # KB-scale sidecar
    # The COW twin on a fresh copy rewrites every file.
    t2 = str(tmp_path / "tbl2")
    _seed(spark, t2)
    cow = merge_into_manifest(
        spark,
        t2,
        spark.createDataFrame([], "k long, v long"),
        keys=["k"],
        deletes=spread,
    )
    assert cow["files_rewritten"] == 8
    assert data_bytes(t2) > before  # staged survivors: real rewrite


def test_mor_reinsert_after_delete_stays_alive(spark, tmp_path):
    """The sequence-number rule (file_added): a sidecar applies only to
    files added BEFORE it — appends and COW merges re-inserting a
    deleted key win."""
    from european_public_data_pipeline_spark.pipeline.cow_merge import (
        merge_into_manifest,
    )

    t = str(tmp_path / "tbl")
    _seed(spark, t, n=100, files=4)
    delete_rows_mor(spark, t, _dk(spark, 5, 6, 7), ["k"])
    M.append_version(spark.createDataFrame([(5, 555)], "k long, v long"), t)
    got = {r["k"]: r["v"] for r in M.read_version(spark, t).collect()}
    assert got[5] == 555 and 6 not in got and 7 not in got
    # A COW merge's update of a DEAD key is an insert (no match), and
    # its staged file is past every sidecar.
    out = merge_into_manifest(
        spark,
        t,
        spark.createDataFrame([(6, 666), (10, 1010)], "k long, v long"),
        keys=["k"],
    )
    assert out["rows_matched"] == 1  # only k=10 was alive
    got = {r["k"]: r["v"] for r in M.read_version(spark, t).collect()}
    assert got[6] == 666 and got[10] == 1010 and 7 not in got


def test_mor_pruned_reads_never_resurrect(spark, tmp_path):
    """read_where and Bloom read_point apply sidecars AFTER pruning —
    a file kept by the zone map / Bloom filter still anti-joins its
    deletes."""
    from european_public_data_pipeline_spark.pipeline.bloom_index import (
        build_bloom_index,
        read_point,
    )

    t = str(tmp_path / "tbl")
    _seed(spark, t)
    build_bloom_index(spark, t, "k")
    delete_rows_mor(spark, t, _dk(spark, 5, 200), ["k"])
    rw = {r["k"] for r in M.read_where(spark, t, "k", 0, 10).collect()}
    assert rw == {0, 1, 2, 3, 4, 6, 7, 8, 9, 10}
    # Bloom sidecar indexes physical rows; the live read filters.
    assert read_point(spark, t, "k", 200).count() == 0
    assert read_point(spark, t, "k", 201).count() == 1
    # read_appended across an append after the delete.
    M.append_version(spark.createDataFrame([(900, 9)], "k long, v long"), t)
    inc = {r["k"] for r in M.read_appended(spark, t, 2).collect()}
    assert inc == {900}


def test_mor_compact_folds_and_clears(spark, tmp_path):
    t = str(tmp_path / "tbl")
    _seed(spark, t, n=100, files=4)
    delete_rows_mor(spark, t, _dk(spark, 5, 6), ["k"])
    M.compact(spark, t, target_files=2, cluster_by="k")
    head = M.current_version(spark, t)
    m = M._read_json(spark, f"{t}/manifest/{head:08d}.json")
    assert "delete_files" not in m and "file_added" not in m
    got = {r["k"] for r in M.read_version(spark, t).collect()}
    assert 5 not in got and 6 not in got and len(got) == 98
    assert m["row_count"] == 98
    # Deleted rows stay dead through the fold AND time travel to the
    # sidecar-carrying version still applies them.
    assert M.read_version(spark, t, 2).count() == 98


def test_mor_refuses_null_keys_and_purge_refuses_mor(spark, tmp_path):
    t = str(tmp_path / "tbl")
    _seed(spark, t, n=40, files=2)
    with pytest.raises(ValueError, match="NULL merge keys"):
        delete_rows_mor(
            spark, t, spark.createDataFrame([(None,)], "k long"), ["k"]
        )
    delete_rows_mor(spark, t, _dk(spark, 3), ["k"])
    with pytest.raises(RuntimeError, match="delete sidecars"):
        M.purge_rows(spark, t, "k", [7])
    # Remediation path: compact folds the head, expire drops the
    # sidecar-carrying history, then purge runs.
    M.compact(spark, t, target_files=1)
    M.expire_versions(spark, t, keep_last=1)
    res = M.purge_rows(spark, t, "k", [7])
    assert res["rows_removed"] == 1


def test_mor_gc_expire_and_vacuum_sidecars(spark, tmp_path):
    import time as _t

    t = str(tmp_path / "tbl")
    _seed(spark, t, n=60, files=2)
    delete_rows_mor(spark, t, _dk(spark, 3), ["k"])      # v2 sidecar
    delete_rows_mor(spark, t, _dk(spark, 4), ["k"])      # v3 sidecar
    # Both sidecars are carried by the head (cumulative): expiring v1/v2
    # must delete NOTHING under deletes/ (v3 still lists both).
    M.expire_versions(spark, t, keep_last=1)
    live = {
        M._path_key(f)
        for e in M._delete_entries(
            M._read_json(
                spark, f"{t}/manifest/{M.current_version(spark, t):08d}.json"
            )
        )
        for f in e["files"]
    }
    on_disk = set()
    for root, _d, files in os.walk(f"{t}/deletes"):
        on_disk |= {
            M._path_key(os.path.join(root, f))
            for f in files
            if f.endswith(".parquet")
        }
    assert live <= on_disk
    # Compact clears the state; expiring the sidecar-carrying history
    # reclaims the sidecar files.
    M.compact(spark, t, target_files=1)
    M.expire_versions(spark, t, keep_last=1)
    on_disk2 = []
    for root, _d, files in os.walk(f"{t}/deletes"):
        on_disk2 += [f for f in files if f.endswith(".parquet")]
    assert on_disk2 == []
    # Vacuum reclaims an orphaned (crashed) staged sidecar, age-fenced.
    orphan = f"{t}/deletes/v00000099-deadbeefcafe"
    _dk(spark, 1).write.parquet(orphan)
    old = _t.time() - 10_000
    for root, _d, files in os.walk(orphan):
        for fn in files:
            os.utime(os.path.join(root, fn), (old, old))
    out = M.vacuum_orphans(spark, t, min_age_seconds=3600)
    assert out["changelogs_deleted"] >= 1
    assert not os.path.exists(orphan)


def test_mor_persisted_changelog_keeps_mv_incremental(spark, tmp_path):
    """delete_rows_mor(persist_changelog=True) writes -1 old images —
    refresh_mv folds the delete like a persisted merge changelog, at
    parity with recompute, and emptied groups leave the view."""
    from european_public_data_pipeline_spark.pipeline.mv_refresh import (
        Measure,
        MVSpec,
        refresh_mv,
    )

    spec = MVSpec(
        group_keys=("g",),
        measures=(Measure("n", "count"), Measure("s", "sum", "v")),
    )
    src = str(tmp_path / "src")
    mv = str(tmp_path / "mv")
    df = spark.range(40).select(
        F.col("id").alias("k"),
        F.pmod(F.col("id"), F.lit(4)).alias("g"),
        (F.col("id") * 10).alias("v"),
    )
    M.publish_version(df, src, stats_cols=("k",))
    refresh_mv(spark, src, mv, spec)
    # Delete ALL of group 3 (k % 4 == 3) -> the group must leave the MV.
    out = delete_rows_mor(
        spark,
        src,
        spark.createDataFrame([(k,) for k in range(3, 40, 4)], "k long"),
        ["k"],
        persist_changelog=True,
    )
    assert out["rows_deleted"] == 10
    refresh_mv(spark, src, mv, spec)
    assert M.version_meta(spark, mv)["refresh_mode"] == "changelog"
    got = {
        r["g"]: (r["n"], r["s"]) for r in M.read_version(spark, mv).collect()
    }
    want = {
        r["g"]: (r["n"], r["s"])
        for r in M.read_version(spark, src)
        .groupBy("g")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("s"))
        .collect()
    }
    assert got == want and 3 not in got


def test_mor_live_read_never_shuffles_the_fact(spark, tmp_path):
    """The 100 TB property, measured not argued: applying delete
    sidecars is broadcast anti joins — a full read of a sidecar-carrying
    table writes ZERO shuffle bytes (a regression flipping the
    broadcast into a shuffle would put the whole fact on the wire)."""
    from european_public_data_pipeline_spark.plans.metrics import (
        shuffle_bytes_written,
    )

    t = str(tmp_path / "tbl")
    _seed(spark, t)
    delete_rows_mor(spark, t, _dk(spark, 5, 200), ["k"])
    delete_rows_mor(spark, t, _dk(spark, 7), ["k"])  # two applicable entries
    df = M.read_version(spark, t)
    assert df.count() == 397
    assert shuffle_bytes_written(df) == 0
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_mor_refuses_past_cap_batches(spark, tmp_path):
    """A committed sidecar is broadcast on EVERY read until the next
    compact — a past-cap batch is refused with the COW/purge
    remediation instead of committing a reader-OOM machine."""
    t = str(tmp_path / "tbl")
    _seed(spark, t, n=10, files=1)
    big = spark.range(262_146).select(F.col("id").alias("k"))
    with pytest.raises(ValueError, match="exceeds"):
        delete_rows_mor(spark, t, big, ["k"])


def test_mor_position_delete_on_duplicate_rows(spark, tmp_path):
    """Position deletes (Iceberg v2's second flavor): a predicate
    delete on a table WITHOUT unique keys kills exactly the matching
    physical rows — duplicates included — writes no data files, and
    rows inserted afterwards never match old position sidecars."""
    t = str(tmp_path / "tbl")
    base = spark.range(100).select(
        F.col("id").alias("k"),
        (F.col("id") % 10 - 5).cast("double").alias("bal"),
    )
    dups = base.filter(F.col("k") % 5 == 0)
    M.publish_version(
        base.unionByName(dups)
        .repartitionByRange(4, "k")
        .sortWithinPartitions("k"),
        t,
        stats_cols=("k",),
    )
    from european_public_data_pipeline_spark.pipeline.mor_delete import (
        delete_where_mor,
    )

    out = delete_where_mor(spark, t, "bal < 0")
    assert out["rows_deleted"] == 60  # 50 base + 10 duplicate rows
    cur = M.read_version(spark, t)
    assert cur.filter(F.col("bal") < 0).count() == 0
    assert cur.count() == 60
    m = M._read_json(spark, f"{t}/manifest/{out['version']:08d}.json")
    assert m["row_count"] == 60 and m["op"] == "delete"
    assert m["delete_files"][-1]["kind"] == "position"
    # Time travel: pre-delete version intact (duplicates and all).
    assert M.read_version(spark, t, 1).count() == 120
    # A later insert matching the predicate stays alive (positions
    # never apply to files added after the sidecar).
    M.append_version(
        spark.createDataFrame([(1000, -9.0)], "k long, bal double"), t
    )
    assert M.read_version(spark, t).filter(F.col("bal") < 0).count() == 1
    # Equality and position sidecars coexist; compact folds both.
    delete_rows_mor(spark, t, _dk(spark, 7), ["k"])
    M.compact(spark, t, target_files=2)
    m2 = M._read_json(
        spark, f"{t}/manifest/{M.current_version(spark, t):08d}.json"
    )
    assert "delete_files" not in m2
    final = M.read_version(spark, t)
    assert final.filter(F.col("k") == 7).count() == 0
    assert final.filter(
        (F.col("bal") < 0) & (F.col("k") != 1000)
    ).count() == 0


def test_mor_position_delete_no_match_and_changelog(spark, tmp_path):
    """A no-match predicate commits nothing; persist_changelog images
    fold into refresh_mv like the equality flavor."""
    from european_public_data_pipeline_spark.pipeline.mor_delete import (
        delete_where_mor,
    )
    from european_public_data_pipeline_spark.pipeline.mv_refresh import (
        Measure,
        MVSpec,
        refresh_mv,
    )

    t = str(tmp_path / "tbl")
    df = spark.range(60).select(
        F.col("id").alias("k"),
        F.pmod(F.col("id"), F.lit(3)).alias("g"),
        (F.col("id") * 10).alias("v"),
    )
    M.publish_version(df, t, stats_cols=("k",))
    out = delete_where_mor(spark, t, "v > 100000")
    assert out["rows_deleted"] == 0
    assert M.versions(spark, t) == [1]  # nothing committed
    mv = str(tmp_path / "mv")
    spec = MVSpec(
        group_keys=("g",),
        measures=(Measure("n", "count"), Measure("s", "sum", "v")),
    )
    refresh_mv(spark, t, mv, spec)
    out2 = delete_where_mor(spark, t, "v % 20 = 0", persist_changelog=True)
    assert out2["rows_deleted"] == 30
    refresh_mv(spark, t, mv, spec)
    assert M.version_meta(spark, mv)["refresh_mode"] == "changelog"
    got = {
        r["g"]: (r["n"], r["s"]) for r in M.read_version(spark, mv).collect()
    }
    want = {
        r["g"]: (r["n"], r["s"])
        for r in M.read_version(spark, t)
        .groupBy("g")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("s"))
        .collect()
    }
    assert got == want


def test_mor_position_delete_scope_hint_is_part_of_predicate(spark, tmp_path):
    """The prune hint SCOPES the delete (condition AND range) — a hint
    that does not bound the condition narrows the delete instead of
    silently skipping matching rows in pruned files."""
    from european_public_data_pipeline_spark.pipeline.mor_delete import (
        delete_where_mor,
    )

    t = str(tmp_path / "tbl")
    _seed(spark, t, n=400, files=8)  # v divisible by 10 everywhere
    out = delete_where_mor(
        spark, t, "v % 20 = 0", prune_col="k", prune_lo=0, prune_hi=99
    )
    # Only in-scope matches died: k in [0,99] with even k.
    assert out["rows_deleted"] == 50
    assert out["files_pruned"] >= 1  # the range pruned the scan too
    got = {r["k"] for r in M.read_version(spark, t).collect()}
    assert 2 not in got and 98 not in got
    assert 100 in got and 200 in got  # out-of-scope matches survive


def test_mor_position_capture_refuses_reserved_names(spark, tmp_path):
    from european_public_data_pipeline_spark.pipeline.mor_delete import (
        delete_where_mor,
    )

    t = str(tmp_path / "tbl")
    M.publish_version(
        spark.range(10).select(
            F.col("id").alias("k"), F.col("id").alias("__pf")
        ),
        t,
    )
    with pytest.raises(ValueError, match="reserve column names"):
        delete_where_mor(spark, t, "k > 5")


def test_live_read_empty_file_list_with_sidecars(spark, tmp_path):
    """ADVICE r12: an empty candidate list while delete sidecars exist
    crashed _read_files_live (min() of zero buckets). Every capture
    shape must come back empty with the caller-visible schema."""
    t = str(tmp_path / "tbl")
    _seed(spark, t)
    delete_rows_mor(spark, t, _dk(spark, 5), ["k"])
    m = M._read_json(spark, f"{t}/manifest/{M.current_version(spark, t):08d}.json")
    plain = M._read_files_live(spark, m, files=[])
    assert plain.count() == 0 and plain.columns == ["k", "v"]
    cap = M._read_files_live(spark, m, files=[], file_col="__f")
    assert cap.count() == 0 and cap.columns == ["__f", "k", "v"]
    pos = M._read_files_live(spark, m, files=[], keep_positions=True)
    assert pos.count() == 0 and pos.columns == ["__pf", "__pr", "k", "v"]


def test_live_read_refuses_file_col_collision(spark, tmp_path):
    """ADVICE r12: a source column named like the per-file capture
    column (the COW merge passes __f) must refuse loudly — the capture
    select would otherwise yield ambiguous duplicate references."""
    from european_public_data_pipeline_spark.pipeline.cow_merge import (
        merge_into_manifest,
    )

    t = str(tmp_path / "tbl")
    df = spark.range(20).select(
        F.col("id").alias("k"), F.col("id").alias("__f")
    )
    M.publish_version(df, t)
    m = M._read_json(spark, f"{t}/manifest/00000001.json")
    with pytest.raises(ValueError, match="collides with a source column"):
        M._read_files_live(spark, m, file_col="__f")
    with pytest.raises(ValueError, match="collides with a source column"):
        merge_into_manifest(
            spark,
            t,
            spark.range(1).select(
                F.col("id").alias("k"), F.col("id").alias("__f")
            ),
            ["k"],
        )


def test_erasure_fence_refuses_mor_commit_during_purge(spark, tmp_path):
    """ADVICE r12 (purge race, writer side): a pending purge tombstone
    must refuse a sidecar commit outright — the sidecar's key tuples
    would retain purged values the plan can never remap. The staged
    sidecar files are reclaimed on refusal."""
    import glob
    import json

    t = str(tmp_path / "tbl")
    _seed(spark, t)
    os.makedirs(f"{t}/purge", exist_ok=True)
    with open(f"{t}/purge/pending-feedfeedfeed.json", "w") as fh:
        json.dump({"remap": {}, "removed": {}}, fh)
    with pytest.raises(M.PurgeInFlightError, match="purge is in flight"):
        delete_rows_mor(spark, t, _dk(spark, 5), ["k"])
    # No sidecar bytes leaked, no sidecar entry committed.
    assert not glob.glob(f"{t}/**/*delete*/*.parquet", recursive=True)
    m = M._read_json(spark, f"{t}/manifest/{M.current_version(spark, t):08d}.json")
    assert not m.get("delete_files")
    # Plan retired -> the fence opens again.
    os.remove(f"{t}/purge/pending-feedfeedfeed.json")
    crc = f"{t}/purge/.pending-feedfeedfeed.json.crc"
    if os.path.exists(crc):
        os.remove(crc)
    assert delete_rows_mor(spark, t, _dk(spark, 5), ["k"])["rows_deleted"] == 1


def test_erasure_fence_flags_purge_that_raced_the_write(spark, tmp_path, monkeypatch):
    """ADVICE r12 (purge race, post-write half): a purge whose whole
    cycle ran inside the fence->write gap surfaces as a completed plan
    the pre-check never saw — the commit LANDS but raises loudly with
    the compact+re-purge remediation."""
    t = str(tmp_path / "tbl")
    _seed(spark, t)
    real = M._purge_plans

    def raced(spark_, table_path):
        # Invisible until the manifest write lands (the fence->write
        # gap), visible as a COMPLETED plan right after — the purge's
        # whole cycle ran inside the gap.
        if not os.path.exists(f"{t}/manifest/00000002.json"):
            return []
        return [{"remap": {}, "removed": {}, "completed_at": 1.0,
                 "__plan_id": "cafe.json"}]

    monkeypatch.setattr(M, "_purge_plans", raced)
    with pytest.raises(RuntimeError, match="LANDED.*purge ran concurrently"):
        delete_rows_mor(spark, t, _dk(spark, 5), ["k"])
    monkeypatch.setattr(M, "_purge_plans", real)
    # The commit itself landed (the error says do-not-retry, not undo).
    assert M.read_version(spark, t).count() == 399


def test_purge_reverifies_for_raced_sidecars(spark, tmp_path, monkeypatch):
    """ADVICE r12 (purge race, purge side): a sidecar that landed after
    purge_rows' upfront checks (simulated by committing one inside the
    plan-application step, with the writer-side fence blinded) must make
    the purge refuse to declare the erasure complete."""
    t = str(tmp_path / "tbl")
    _seed(spark, t)
    real_apply = M._apply_purge_plan
    real_plans = M._purge_plans

    def apply_and_race(spark_, table_path, remap, removed, tombstone):
        real_apply(spark_, table_path, remap, removed, tombstone)
        # The racing writer: lands a MOR sidecar with the erasure fence
        # blinded (the unseen-tombstone window).
        monkeypatch.setattr(M, "_purge_plans", lambda *a: [])
        try:
            delete_rows_mor(spark_, table_path, _dk(spark_, 7), ["k"])
        finally:
            monkeypatch.setattr(M, "_purge_plans", real_plans)

    monkeypatch.setattr(M, "_apply_purge_plan", apply_and_race)
    with pytest.raises(RuntimeError, match="sidecars concurrently"):
        M.purge_rows(spark, t, "k", [3])


def _ups(spark, *pairs):
    return spark.createDataFrame(list(pairs), "k long, v long")


def test_mor_upsert_end_state_and_fold(spark, tmp_path):
    """MOR MERGE in one commit: matched keys die via an equality
    sidecar, new images append, unmatched keys are plain inserts;
    chained upserts stack; time travel sees the pre-upsert rows; a
    clustered compact folds everything into clean files."""
    from european_public_data_pipeline_spark.pipeline.mor_delete import (
        upsert_rows_mor,
    )

    t = str(tmp_path / "tbl")
    _seed(spark, t)  # k: 0..399, v = k*10, 8 files
    out = upsert_rows_mor(
        spark, t, _ups(spark, (5, 555), (105, 1055), (1000, 10000)), ["k"]
    )
    assert out["rows_updated"] == 2 and out["rows_inserted"] == 1
    assert out["sidecar_files"] == 1 and out["files_pruned"] >= 1
    got = {r["k"]: r["v"] for r in M.read_version(spark, t).collect()}
    assert got[5] == 555 and got[105] == 1055 and got[1000] == 10000
    assert len(got) == 401
    m = M._read_json(spark, f"{t}/manifest/{out['version']:08d}.json")
    assert m["row_count"] == 401 and m["op"] == "overwrite"
    # Time travel: pre-upsert version unchanged.
    v1 = {r["k"]: r["v"] for r in M.read_version(spark, t, 1).collect()}
    assert len(v1) == 400 and v1[5] == 50
    # A second upsert of the SAME key replaces this commit's image too
    # (its file was added at v2 < the new sidecar's version).
    out2 = upsert_rows_mor(spark, t, _ups(spark, (5, 556)), ["k"])
    assert out2["rows_updated"] == 1 and out2["rows_inserted"] == 0
    got = {r["k"]: r["v"] for r in M.read_version(spark, t).collect()}
    assert got[5] == 556 and len(got) == 401
    # Compact folds both sidecars; end state survives clean.
    M.compact(spark, t, target_files=4, cluster_by="k")
    m_c = M._read_json(
        spark, f"{t}/manifest/{M.current_version(spark, t):08d}.json"
    )
    assert not m_c.get("delete_files")
    got = {r["k"]: r["v"] for r in M.read_version(spark, t).collect()}
    assert got[5] == 556 and got[1000] == 10000 and len(got) == 401
    # Upserts keep working on the folded table.
    out3 = upsert_rows_mor(spark, t, _ups(spark, (1000, 1)), ["k"])
    assert out3["rows_updated"] == 1
    assert M.read_version(spark, t).filter("k = 1000").collect()[0]["v"] == 1


def test_mor_upsert_dup_keys_and_latest_wins(spark, tmp_path):
    """Intra-batch duplicate keys refuse loudly without an ordering
    column; with dedupe_updates_by the greatest value wins and ties
    still raise (nondeterministic winner)."""
    from european_public_data_pipeline_spark.pipeline.mor_delete import (
        upsert_rows_mor,
    )

    t = str(tmp_path / "tbl")
    _seed(spark, t, n=50, files=2)
    dup = spark.createDataFrame(
        [(5, 100, 1), (5, 200, 2)], "k long, v long, rev long"
    )
    with pytest.raises(ValueError, match="duplicate key"):
        upsert_rows_mor(spark, t, dup, ["k"])
    out = upsert_rows_mor(spark, t, dup, ["k"], dedupe_updates_by="rev")
    assert out["rows_updated"] == 1
    assert M.read_version(spark, t).filter("k = 5").collect()[0]["v"] == 200
    tie = spark.createDataFrame(
        [(6, 100, 1), (6, 200, 1)], "k long, v long, rev long"
    )
    with pytest.raises(ValueError, match="tied"):
        upsert_rows_mor(spark, t, tie, ["k"], dedupe_updates_by="rev")


def test_mor_upsert_reinserts_dead_key_and_null_refusal(spark, tmp_path):
    """A key an earlier sidecar killed is an INSERT to the upsert (the
    live counting scan no longer sees it); NULL keys refuse loudly."""
    from european_public_data_pipeline_spark.pipeline.mor_delete import (
        upsert_rows_mor,
    )

    t = str(tmp_path / "tbl")
    _seed(spark, t, n=50, files=2)
    delete_rows_mor(spark, t, _dk(spark, 5), ["k"])
    out = upsert_rows_mor(spark, t, _ups(spark, (5, 999)), ["k"])
    assert out["rows_updated"] == 0 and out["rows_inserted"] == 1
    assert M.read_version(spark, t).filter("k = 5").collect()[0]["v"] == 999
    with pytest.raises(ValueError, match="NULL merge keys"):
        upsert_rows_mor(
            spark,
            t,
            spark.createDataFrame([(None, 1)], "k long, v long"),
            ["k"],
        )


def test_mor_upsert_commit_writes_o_batch_bytes(spark, tmp_path):
    """The write-amplification claim for UPDATES: a batch of keys
    spread across every file costs one KB-scale sidecar plus a small
    image file, while the COW merge rewrites all 8 files."""
    from european_public_data_pipeline_spark.pipeline.cow_merge import (
        merge_into_manifest,
    )
    from european_public_data_pipeline_spark.pipeline.mor_delete import (
        upsert_rows_mor,
    )

    def data_bytes(p):
        total = 0
        for root, _d, files in os.walk(f"{p}/data"):
            total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
        return total

    t = str(tmp_path / "tbl")
    _seed(spark, t)
    before = data_bytes(t)
    spread = _ups(spark, *[(k, k) for k in range(0, 400, 50)])
    out = upsert_rows_mor(spark, t, spread, ["k"])
    assert out["rows_updated"] == 8
    mor_delta = data_bytes(t) - before
    assert 0 < mor_delta < 64 * 1024  # one small image file, no rewrite
    t2 = str(tmp_path / "tbl2")
    _seed(spark, t2)
    before2 = data_bytes(t2)
    cow = merge_into_manifest(spark, t2, spread, keys=["k"])
    assert cow["files_rewritten"] == 8
    assert data_bytes(t2) - before2 > mor_delta  # real rewrite


def test_mor_upsert_changelog_keeps_mv_incremental(spark, tmp_path):
    """upsert_rows_mor(persist_changelog=True) emits -1 old / +1 new
    images — refresh_mv folds the upsert like a persisted merge
    changelog, at parity with recompute."""
    from european_public_data_pipeline_spark.pipeline.mor_delete import (
        upsert_rows_mor,
    )
    from european_public_data_pipeline_spark.pipeline.mv_refresh import (
        Measure,
        MVSpec,
        refresh_mv,
    )

    spec = MVSpec(
        group_keys=("g",),
        measures=(Measure("n", "count"), Measure("s", "sum", "v")),
    )
    src = str(tmp_path / "src")
    mv = str(tmp_path / "mv")
    df = spark.range(40).select(
        F.col("id").alias("k"),
        F.pmod(F.col("id"), F.lit(4)).alias("g"),
        (F.col("id") * 10).alias("v"),
    )
    M.publish_version(df, src, stats_cols=("k",))
    refresh_mv(spark, src, mv, spec)
    ups = spark.createDataFrame(
        [(1, 1, 10000), (2, 2, 20000), (100, 0, 7)], "k long, g long, v long"
    )
    out = upsert_rows_mor(spark, src, ups, ["k"], persist_changelog=True)
    assert out["rows_updated"] == 2 and out["rows_inserted"] == 1
    refresh_mv(spark, src, mv, spec)
    assert M.version_meta(spark, mv)["refresh_mode"] == "changelog"
    got = {
        r["g"]: (r["n"], r["s"]) for r in M.read_version(spark, mv).collect()
    }
    want = {
        r["g"]: (r["n"], r["s"])
        for r in M.read_version(spark, src)
        .groupBy("g")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("s"))
        .collect()
    }
    assert got == want


def test_maintain_folds_sidecar_pressure_and_small_files(spark, tmp_path):
    """The lakehouse-hygiene hook: trickle deletes accrue one broadcast
    anti join per commit until compact — maintain() watches the meter
    and folds when it trips, returning what it did and why; below the
    thresholds it is a metadata-only no-op. Small-file pressure from
    trickle appends trips the other meter."""
    t = str(tmp_path / "tbl")
    _seed(spark, t, n=200, files=4)
    # Three trickle deletes: below the 4-entry threshold -> no-op.
    for k in (5, 6, 7):
        delete_rows_mor(spark, t, _dk(spark, k), ["k"])
    r = M.maintain(spark, t, max_delete_entries=4, max_small_files=None)
    assert r["action"] == "none" and r["delete_entries"] == 3
    # Two more trip it: one clustered compact folds everything.
    for k in (8, 9):
        delete_rows_mor(spark, t, _dk(spark, k), ["k"])
    r = M.maintain(
        spark, t, max_delete_entries=4, max_small_files=None,
        target_files=4, cluster_by="k",
    )
    assert r["action"] == "compact" and "anti join" in r["reason"]
    m = M._read_json(
        spark, f"{t}/manifest/{M.current_version(spark, t):08d}.json"
    )
    assert not m.get("delete_files")  # scan rent back to baseline
    got = {row["k"] for row in M.read_version(spark, t).collect()}
    assert got == set(range(200)) - {5, 6, 7, 8, 9}
    # Meters reset: the next probe is a no-op again.
    r = M.maintain(spark, t, max_delete_entries=4, max_small_files=None)
    assert r["action"] == "none" and r["delete_entries"] == 0
    # Small-file pressure: trickle appends under the byte threshold.
    for i in range(6):
        M.append_version(
            spark.createDataFrame([(1000 + i, 1)], "k long, v long"), t
        )
    r = M.maintain(
        spark, t, max_delete_entries=None, max_small_files=5,
        small_file_bytes=1024 * 1024, target_files=2,
    )
    assert r["action"] == "compact" and "files under" in r["reason"]
    assert len(
        M._read_json(
            spark, f"{t}/manifest/{M.current_version(spark, t):08d}.json"
        )["files"]
    ) <= 2


def test_mor_refusal_order_past_the_key_cap(spark, tmp_path):
    """Both MOR writers refuse a NULL key before they look at the key
    cap, within it and past it; the upsert checks the cap before
    duplicate keys, so a past-cap batch with one duplicate reads as past
    the cap."""
    from european_public_data_pipeline_spark.pipeline.mor_delete import (
        upsert_rows_mor,
    )

    t = str(tmp_path / "tbl")
    _seed(spark, t, n=10, files=1)
    null_message = re.escape("NULL merge keys (first offenders: (None,))")
    for n in (20, 262_146):
        keys = spark.range(n).select(F.col("id").alias("k"))
        null_key = keys.unionByName(spark.createDataFrame([(None,)], "k long"))
        with pytest.raises(ValueError, match=null_message):
            delete_rows_mor(spark, t, null_key, ["k"])
        ups = keys.select("k", F.col("k").alias("v"))
        dup = ups.unionByName(spark.createDataFrame([(5, 0)], "k long, v long"))
        null_and_dup = dup.unionByName(
            spark.createDataFrame([(None, 0)], "k long, v long")
        )
        with pytest.raises(ValueError, match=null_message):
            upsert_rows_mor(spark, t, null_and_dup, ["k"])
        with pytest.raises(
            ValueError, match="duplicate key tuples" if n == 20 else "exceeds"
        ):
            upsert_rows_mor(spark, t, dup, ["k"])
    assert M.versions(spark, t) == [1]


def test_keyed_writers_validate_their_batch_in_one_action(
    spark, tmp_path, spark_jobs
):
    """One bounded action profiles a keyed batch: the merge collects it,
    its counting scan and its commit's stats aggregate; the MOR delete
    collects the profile alone (its counting scan is a count). Parquet
    keys are nullable, so no NULL check is planned away."""
    from european_public_data_pipeline_spark.pipeline.cow_merge import (
        merge_into_manifest,
    )

    t = str(tmp_path / "tbl")
    _seed(spark, t)
    upd, dels, more = (str(tmp_path / d) for d in ("upd", "dels", "more"))
    spark.createDataFrame(
        [(k, k + 1) for k in range(10, 20)], "k long, v long"
    ).write.parquet(upd)
    _dk(spark, 30, 31).write.parquet(dels)
    _dk(spark, 40, 41).write.parquet(more)

    def collect_sites(jobs):
        return {j.name for j in jobs if j.name.startswith("collect at")}

    with spark_jobs() as jobs:
        merge_into_manifest(
            spark, t, spark.read.parquet(upd), ["k"], deletes=spark.read.parquet(dels)
        )
    assert len(collect_sites(jobs)) == 3, collect_sites(jobs)
    with spark_jobs() as jobs:
        out = delete_rows_mor(spark, t, spark.read.parquet(more), ["k"])
    assert len(collect_sites(jobs)) == 1, collect_sites(jobs)
    assert out["rows_deleted"] == 2
    assert M.read_version(spark, t).count() == 396


def test_keyed_writers_probe_with_the_profile_rows(spark, tmp_path, spark_jobs):
    """Within the key cap the merge's three broadcasts and the upsert's
    probe are the profile's collected rows, so the batch is aggregated
    once; a live read applies a sidecar as written (an anti join needs no
    distinct). Job budgets on a fresh 8-file table with zone maps."""
    from european_public_data_pipeline_spark.pipeline.cow_merge import (
        merge_into_manifest,
    )

    t = str(tmp_path / "tbl")
    _seed(spark, t)
    upd, dels, ups = (str(tmp_path / d) for d in ("upd", "dels", "ups"))
    spark.range(10, 20).selectExpr("id AS k", "id + 1 AS v").write.parquet(upd)
    spark.range(100, 130).selectExpr("id AS k").write.parquet(dels)
    spark.range(200, 210).selectExpr("id AS k", "id + 2 AS v").write.parquet(ups)

    with spark_jobs() as jobs:
        out = merge_into_manifest(spark, t, spark.read.parquet(upd), ["k"])
    assert out["rows_matched"] == 10
    assert len(jobs) == 11, [j.name for j in jobs]
    delete_rows_mor(spark, t, spark.read.parquet(dels), ["k"])
    with spark_jobs() as jobs:
        M.read_version(spark, t).write.format("noop").mode("overwrite").save()
    assert len(jobs) == 2, [j.name for j in jobs]
    with spark_jobs() as jobs:
        out = upsert_rows_mor(spark, t, spark.read.parquet(ups), ["k"])
    assert out["rows_updated"] == 10
    assert len(jobs) == 12, [j.name for j in jobs]
    got = {r["k"]: r["v"] for r in M.read_version(spark, t).collect()}
    assert len(got) == 370
    assert got[15] == 16 and got[205] == 207 and 110 not in got

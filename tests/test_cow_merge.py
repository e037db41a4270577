"""Copy-on-write MERGE into a manifest table: matched rows replaced,
new keys inserted, unmatched rows untouched, ONLY matched-containing
files rewritten (zone-map pruned), prior versions time-travelable, and
the emitted changelog folds into an MV at bit-parity with a direct
recompute."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

import european_public_data_pipeline_spark.pipeline.manifest as M
from european_public_data_pipeline_spark.pipeline.cow_merge import (
    merge_into_manifest,
)


def _seed(spark, t, n=400, files=8):
    """Range-clustered seed: key k in [0, n), one value column, zone
    maps recorded on k — the layout that makes a bounded update batch
    prune most files."""
    df = (
        spark.range(n)
        .select(F.col("id").alias("k"), (F.col("id") * 10).alias("v"))
        .repartitionByRange(files, "k")
        .sortWithinPartitions("k")
    )
    M.publish_version(df, t, stats_cols=("k",))


def test_cow_merge_end_state_and_file_pruning(spark, tmp_path):
    t = str(tmp_path / "tbl")
    _seed(spark, t)
    # Bounded batch: update keys 10..19, insert keys 1000..1004.
    updates = spark.createDataFrame(
        [(k, k * 10 + 1) for k in range(10, 20)]
        + [(k, k) for k in range(1000, 1005)],
        "k long, v long",
    )
    out = merge_into_manifest(spark, t, updates, keys=["k"])
    assert out["rows_matched"] == 10
    assert out["files_rewritten"] >= 1
    # The bounded batch + range clustering must carry most files.
    assert out["files_carried"] > out["files_rewritten"]
    assert out["files_pruned"] >= 1
    got = {r["k"]: r["v"] for r in M.read_version(spark, t).collect()}
    assert len(got) == 405
    assert got[10] == 101 and got[15] == 151  # updated
    assert got[9] == 90 and got[20] == 200    # untouched
    assert got[1000] == 1000                  # inserted
    # Time travel: the pre-merge version is intact.
    v1 = {r["k"]: r["v"] for r in M.read_version(spark, t, 1).collect()}
    assert len(v1) == 400 and v1[10] == 100
    assert M.version_op(spark, t) == "overwrite"


def test_cow_merge_refuses_duplicate_update_keys(spark, tmp_path):
    import pytest

    t = str(tmp_path / "tbl")
    _seed(spark, t, n=20, files=2)
    dup = spark.createDataFrame([(1, 5), (1, 6)], "k long, v long")
    with pytest.raises(ValueError, match="duplicate merge keys"):
        merge_into_manifest(spark, t, dup, keys=["k"])


def test_cow_merge_changelog_folds_into_mv(spark, tmp_path):
    """The writer-emitted changelog path end-to-end: MV built from the
    pre-merge table, merge emits weighted images, apply_changelog_mv
    folds them — bit-parity with recomputing over the merged table,
    including min/max via the targeted recompute."""
    from european_public_data_pipeline_spark.pipeline.mv_refresh import (
        Measure,
        MVSpec,
        apply_changelog_mv,
    )

    t = str(tmp_path / "tbl")
    mv = str(tmp_path / "mv")
    _seed(spark, t)
    spec = MVSpec(
        group_keys=("g",),
        measures=(
            Measure("n", "count"),
            Measure("s", "sum", "v"),
            Measure("mn", "min", "v"),
            Measure("mx", "max", "v"),
        ),
    )
    grouped = lambda df: df.select(F.pmod(F.col("k"), F.lit(7)).alias("g"), "v")  # noqa: E731
    base = grouped(M.read_version(spark, t))
    apply_changelog_mv(
        spark, mv, base.withColumn("__w", F.lit(1)), spec, source=base
    )
    # Updates move values (some were group extrema: k=0 holds v=0, the
    # global and group-0 minimum) and insert new keys.
    updates = spark.createDataFrame(
        [(k, k * 10 + 5) for k in range(0, 30)]
        + [(k, k) for k in range(1000, 1010)],
        "k long, v long",
    )
    out = merge_into_manifest(spark, t, updates, keys=["k"], emit_changelog=True)
    merged_src = grouped(M.read_version(spark, t))
    apply_changelog_mv(
        spark,
        mv,
        out["changelog"].select(
            F.pmod(F.col("k"), F.lit(7)).alias("g"), "v", "__w"
        ),
        spec,
        source=merged_src,
    )
    got = {
        r["g"]: (r["n"], r["s"], r["mn"], r["mx"])
        for r in M.read_version(spark, mv).collect()
    }
    want = {
        r["g"]: (r["n"], r["s"], r["mn"], r["mx"])
        for r in merged_src.groupBy("g")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("v").alias("s"),
            F.min("v").alias("mn"),
            F.max("v").alias("mx"),
        )
        .collect()
    }
    assert got == want


def test_cow_merge_refuses_null_keys(spark, tmp_path):
    """A NULL merge key passes the duplicate check, never matches the
    target (non-null-safe join), and would be re-inserted by EVERY
    merge — refused loudly instead, in both clauses."""
    import pytest

    t = str(tmp_path / "tbl")
    _seed(spark, t, n=20, files=2)
    bad_upd = spark.createDataFrame([(None, 5), (3, 6)], "k long, v long")
    with pytest.raises(ValueError, match="NULL merge keys"):
        merge_into_manifest(spark, t, bad_upd, keys=["k"])
    ok_upd = spark.createDataFrame([(3, 6)], "k long, v long")
    bad_del = spark.createDataFrame([(None,)], "k long")
    with pytest.raises(ValueError, match="NULL merge keys"):
        merge_into_manifest(spark, t, ok_upd, keys=["k"], deletes=bad_del)


def test_cow_merge_multi_key_prune_intersects(spark, tmp_path):
    """Composite-key merge prunes on EVERY key with zone maps, not just
    keys[0]: a batch whose k1 lands inside some file's range but whose
    k2 lies outside every file's k2 range prunes ALL files (zero
    rewritten, zero scanned) and inserts the new tuple."""
    df = (
        spark.range(400)
        .select(
            F.col("id").alias("k1"),
            (F.col("id") * 2).alias("k2"),
            (F.col("id") * 10).alias("v"),
        )
        .repartitionByRange(4, "k1")
        .sortWithinPartitions("k1")
    )
    t = str(tmp_path / "tbl")
    M.publish_version(df, t, stats_cols=("k1", "k2"))
    # k1=10 is inside file 0's k1 range; k2=99999 is outside every
    # file's k2 range [0, 798] — the k2 probe must prune what the k1
    # probe kept.
    batch = spark.createDataFrame([(10, 99999, 7)], "k1 long, k2 long, v long")
    out = merge_into_manifest(spark, t, batch, keys=["k1", "k2"])
    assert out["files_rewritten"] == 0
    assert out["files_pruned"] == out["files_carried"] > 0
    assert out["rows_matched"] == 0
    got = {(r["k1"], r["k2"]): r["v"] for r in M.read_version(spark, t).collect()}
    assert got[(10, 99999)] == 7      # inserted
    assert got[(10, 20)] == 100       # the real (10, 20) row untouched
    assert len(got) == 401
    # And a tuple-true match on both columns still rewrites exactly one
    # file.
    out2 = merge_into_manifest(
        spark,
        t,
        spark.createDataFrame([(10, 20, 111)], "k1 long, k2 long, v long"),
        keys=["k1", "k2"],
    )
    assert out2["rows_matched"] == 1 and out2["files_rewritten"] == 1
    assert M.read_version(spark, t).filter(
        (F.col("k1") == 10) & (F.col("k2") == 20)
    ).collect()[0]["v"] == 111


def test_cow_merge_additive_evolution_in_updates(spark, tmp_path):
    """Update batch carrying a NEW column: survivors and carried files
    NULL-backfill, the committed schema gains the column additively."""
    t = str(tmp_path / "tbl")
    _seed(spark, t, n=40, files=4)
    updates = spark.createDataFrame(
        [(5, 555, "tagged")], "k long, v long, tag string"
    )
    merge_into_manifest(spark, t, updates, keys=["k"])
    cur = M.read_version(spark, t)
    assert "tag" in cur.columns
    rows = {r["k"]: (r["v"], r["tag"]) for r in cur.collect()}
    assert rows[5] == (555, "tagged")
    assert rows[6] == (60, None)  # survivor NULL-backfilled


def test_cow_merge_delete_clause_and_changelog(spark, tmp_path):
    """WHEN MATCHED DELETE: deleted keys vanish, absent delete keys
    no-op, update+delete key overlap refuses, and the emitted changelog
    carries -1-only images for deletes (per-key weight sum -1) that
    fold into an MV at parity with recompute."""
    import pytest

    from european_public_data_pipeline_spark.pipeline.mv_refresh import (
        Measure,
        MVSpec,
        apply_changelog_mv,
    )

    t = str(tmp_path / "tbl")
    _seed(spark, t, n=100, files=4)
    updates = spark.createDataFrame([(5, 555)], "k long, v long")
    deletes = spark.createDataFrame(
        [(7,), (8,), (99999,)], "k long"  # 99999 absent: no-op
    )
    with pytest.raises(ValueError, match="BOTH updates and deletes"):
        merge_into_manifest(
            spark, t, updates,
            keys=["k"],
            deletes=spark.createDataFrame([(5,)], "k long"),
        )
    out = merge_into_manifest(
        spark, t, updates, keys=["k"], deletes=deletes, emit_changelog=True
    )
    assert out["rows_matched"] == 1 and out["rows_deleted"] == 2
    got = {r["k"]: r["v"] for r in M.read_version(spark, t).collect()}
    assert len(got) == 98  # 100 - 2 deleted (insert-less batch)
    assert got[5] == 555 and 7 not in got and 8 not in got
    # Per-key weight sums: update 0, delete -1.
    sums = {
        r["k"]: r["ws"]
        for r in out["changelog"]
        .groupBy("k")
        .agg(F.sum("__w").alias("ws"))
        .collect()
    }
    assert sums[5] == 0 and sums[7] == -1 and sums[8] == -1
    # Fold into an MV: parity with direct recompute over the end state.
    spec = MVSpec(
        group_keys=("g",),
        measures=(Measure("n", "count"), Measure("s", "sum", "v")),
    )
    mv = str(tmp_path / "mv")
    g = lambda df: df.select(F.pmod(F.col("k"), F.lit(3)).alias("g"), "v")  # noqa: E731
    base = g(M.read_version(spark, t, 1))
    apply_changelog_mv(spark, mv, base.withColumn("__w", F.lit(1)), spec)
    apply_changelog_mv(
        spark, mv,
        out["changelog"].select(
            F.pmod(F.col("k"), F.lit(3)).alias("g"), "v", "__w"
        ),
        spec,
    )
    got_mv = {
        r["g"]: (r["n"], r["s"]) for r in M.read_version(spark, mv).collect()
    }
    want = {
        r["g"]: (r["n"], r["s"])
        for r in g(M.read_version(spark, t))
        .groupBy("g")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("s"))
        .collect()
    }
    assert got_mv == want


def test_persist_changelog_survives_prior_version_expiry(spark, tmp_path):
    """persist_changelog materializes the weighted images under
    {table}/changelog/ and records them in the commit's manifest: the
    changelog replays identically AFTER retention GC expired the prior
    version whose files backed the lazy -1 images, and per-key weight
    sums hold (update 0, insert +1, delete -1)."""
    t = str(tmp_path / "tbl")
    _seed(spark, t, n=100, files=4)
    updates = spark.createDataFrame(
        [(5, 555), (1000, 1)], "k long, v long"
    )
    deletes = spark.createDataFrame([(7,)], "k long")
    out = merge_into_manifest(
        spark, t, updates, keys=["k"], deletes=deletes,
        persist_changelog=True,
    )
    m = M._read_json(spark, f"{t}/manifest/{out['version']:08d}.json")
    assert m.get("changelog_files") and m.get("changelog_weight_col") == "__w"
    # A non-persisting commit records no changelog (probe v1 while its
    # manifest still exists).
    assert M.read_changelog(spark, t, 1) is None
    # Expire v1 — the prior version, whose files back the lazy -1
    # images; keep_last=1 drops it and deletes its exclusively-owned
    # files, exactly the hazard the persisted copy removes.
    M.expire_versions(spark, t, keep_last=1)
    cl = M.read_changelog(spark, t, out["version"])
    sums = {
        r["k"]: r["ws"]
        for r in cl.groupBy("k").agg(F.sum("__w").alias("ws")).collect()
    }
    assert sums[5] == 0 and sums[1000] == 1 and sums[7] == -1
    # Old image carries the pre-merge value; new image the update's.
    vals = sorted(
        (r["v"], r["__w"]) for r in cl.filter(F.col("k") == 5).collect()
    )
    assert vals == [(50, -1), (555, 1)]


def test_push_pull_interleave_no_double_apply(spark, tmp_path):
    """The writer hands its persisted changelog straight to the MV
    (push, changelog_id = merge's source version); the next scheduled
    refresh_mv walks the same chain (pull) — the version-watermark skip
    must not re-fold the merge, and the result equals a direct
    recompute."""
    from european_public_data_pipeline_spark.pipeline.mv_refresh import (
        Measure,
        MVSpec,
        apply_changelog_mv,
        refresh_mv,
    )

    spec = MVSpec(
        group_keys=("g",),
        measures=(Measure("n", "count"), Measure("s", "sum", "v")),
    )
    mv = str(tmp_path / "mv")
    # Group key must be a source column — the seed carries g = k % 3.
    df = spark.range(100).select(
        F.col("id").alias("k"),
        F.pmod(F.col("id"), F.lit(3)).alias("g"),
        (F.col("id") * 10).alias("v"),
    )
    t2 = str(tmp_path / "tbl2")
    M.publish_version(
        df.repartitionByRange(4, "k").sortWithinPartitions("k"),
        t2,
        stats_cols=("k",),
    )
    refresh_mv(spark, t2, mv, spec)  # full, applied=1
    out = merge_into_manifest(
        spark,
        t2,
        spark.createDataFrame(
            [(5, 2, 999), (200, 2, 7)], "k long, g long, v long"
        ),
        keys=["k"],
        persist_changelog=True,
    )
    # PUSH: the writer applies its own delta immediately.
    apply_changelog_mv(
        spark,
        mv,
        out["changelog"].select("g", "v", "__w"),
        spec,
        changelog_id=out["version"],
    )
    # PULL: the scheduler fires later; the chain contains the merge's
    # changelog link, already covered by the watermark — skipped.
    M.append_version(
        spark.createDataFrame([(300, 0, 11)], "k long, g long, v long"), t2
    )
    refresh_mv(spark, t2, mv, spec)
    meta = M.version_meta(spark, mv)
    assert meta["refresh_mode"] == "changelog"
    got = {
        r["g"]: (r["n"], r["s"]) for r in M.read_version(spark, mv).collect()
    }
    want = {
        r["g"]: (r["n"], r["s"])
        for r in M.read_version(spark, t2)
        .groupBy("g")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("s"))
        .collect()
    }
    assert got == want, "merge delta double-applied or append dropped"


def test_cow_merge_empty_batch_commits_nothing(spark, tmp_path):
    """A batch with no update rows and no delete keys leaves the head
    as it was: no empty file for every later read to open, and no
    changelog-less ``overwrite`` commit for ``refresh_mv`` to treat as a
    full-recompute hazard."""
    t = str(tmp_path / "tbl")
    _seed(spark, t, n=100, files=2)
    empty = spark.createDataFrame([], "k long, v long")
    out = merge_into_manifest(spark, t, empty, keys=["k"])
    assert out == {
        "version": 1,
        "files_rewritten": 0,
        "files_carried": 0,
        "files_pruned": 0,
        "rows_matched": 0,
        "rows_deleted": 0,
    }
    no_keys = spark.createDataFrame([], "k long")
    for flag in ("emit_changelog", "persist_changelog"):
        out = merge_into_manifest(
            spark, t, empty, keys=["k"], deletes=no_keys, **{flag: True}
        )
        assert out["version"] == 1
        assert out["changelog"].columns == ["k", "v", "__w"]
        assert out["changelog"].count() == 0
    history = M.table_history(spark, t).select("version", "n_files", "row_count")
    assert [tuple(r) for r in history.collect()] == [(1, 2, 100)]


def test_cow_merge_on_schemaless_table_keeps_unbatched_columns(spark, tmp_path):
    """A table whose manifest records no schema (committed before schemas
    were recorded) takes its schema from a footer, as every carrying
    writer does: an insert-only batch lacking ``extra`` must not narrow
    the new version's schema and hide ``extra`` in the carried files."""
    import json
    import os

    t = str(tmp_path / "tbl")
    seed = spark.createDataFrame(
        [(1, 10, "a"), (2, 20, "b")], "k long, v long, extra string"
    )
    M.publish_version(seed, t)
    mp = f"{t}/manifest/00000001.json"
    m = json.load(open(mp))
    del m["schema"]
    json.dump(m, open(mp, "w"))
    os.remove(f"{t}/manifest/.00000001.json.crc")  # raw edit broke the crc
    merge_into_manifest(
        spark, t, spark.createDataFrame([(3, 30)], "k long, v long"), keys=["k"]
    )
    got = M.read_version(spark, t)
    assert got.columns == ["k", "v", "extra"]
    assert sorted(tuple(r) for r in got.collect()) == [
        (1, 10, "a"), (2, 20, "b"), (3, 30, None)
    ]


_FAULT_ROWS = {  # fault: (its extra update rows, its extra delete keys)
    "dup": ([(5, 0)], []),
    "null_upd": ([(None, 0)], []),
    "null_del": ([], [(None,)]),
    "overlap": ([], [(7,)]),
}


def _faulty_batch(spark, n, faults):
    """Update keys 0..n-1 and the absent delete key 10**9, plus the rows
    of every named fault."""
    upd = spark.range(n).select(F.col("id").alias("k"), F.col("id").alias("v"))
    upd = upd.unionByName(
        spark.createDataFrame(
            [r for f in faults for r in _FAULT_ROWS[f][0]], "k long, v long"
        )
    )
    dels = spark.createDataFrame(
        [(10**9,)] + [r for f in faults for r in _FAULT_ROWS[f][1]], "k long"
    )
    return upd, dels


def test_cow_merge_refusal_order_within_and_past_the_key_cap(spark, tmp_path):
    """A batch with several faults is refused for the first one in the
    merge's order — duplicate update keys, NULL update keys, NULL delete
    keys, keys in both clauses — naming its offender, whether the key
    tuples fit under the collect cap or not (past it the merge prunes by
    envelopes, which must not let any fault through)."""
    t = str(tmp_path / "tbl")
    _seed(spark, t, n=10, files=1)
    order = [
        ("dup", "update batch carries duplicate merge keys", 5),
        ("null_upd", "update batch carries NULL merge keys", None),
        ("null_del", "delete batch carries NULL merge keys", None),
        ("overlap", "keys present in BOTH updates and deletes", 7),
    ]
    for n in (20, 262_146):
        for i, (_fault, what, key) in enumerate(order):
            upd, dels = _faulty_batch(spark, n, [f for f, _w, _k in order[i:]])
            message = re.escape(f"{what} (first offenders: {(key,)})")
            with pytest.raises(ValueError, match=message):
                merge_into_manifest(spark, t, upd, keys=["k"], deletes=dels)
    assert M.versions(spark, t) == [1]

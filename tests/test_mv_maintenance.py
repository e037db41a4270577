"""Streaming MV maintenance: after every AvailableNow pass the stored MV
must equal a full recompute over everything committed, absorbing only the
new files per pass; a replayed batch_id must be a no-op (exactly-once)."""

from __future__ import annotations

import datetime as dt
import os
import shutil

from european_public_data_pipeline_spark.operators.sketches import cms_cells
from european_public_data_pipeline_spark.pipeline.manifest import (
    read_version,
    version_meta,
    versions,
)
from european_public_data_pipeline_spark.streaming.cms_maintenance import maintain_cms
from european_public_data_pipeline_spark.streaming.mv_maintenance import (
    maintain_event_summary,
    merge_event_summary,
    recompute_event_summary,
)
from european_public_data_pipeline_spark.streaming.windows import read_events_stream

SCHEMA = "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
T0 = dt.datetime(2024, 1, 1, 0, 0, 0)


def _rows(i0, n, etype, val):
    return [
        (i0 + i, T0 + dt.timedelta(minutes=i0 + i), 1, etype, val, "{}")
        for i in range(n)
    ]


def _mv(spark, path):
    return {
        r["event_type"]: (r["n_events"], r["sum_value_c"], r["first_ts"], r["last_ts"])
        for r in read_version(spark, path).collect()
    }


def _want(spark, src):
    return {
        r["event_type"]: (r["n_events"], r["sum_value_c"], r["first_ts"], r["last_ts"])
        for r in recompute_event_summary(spark.read.parquet(src)).collect()
    }


def test_mv_equals_recompute_across_incremental_runs(spark, tmp_path):
    src = str(tmp_path / "src")
    mv = str(tmp_path / "mv")
    ckpt = str(tmp_path / "ckpt")

    spark.createDataFrame(
        _rows(0, 5, "view", 10.0) + _rows(5, 3, "purchase", 99.5), SCHEMA
    ).write.parquet(src)
    maintain_event_summary(read_events_stream(spark, src), mv, ckpt)
    assert _mv(spark, mv) == _want(spark, src)

    # Second accretion: only the new files are absorbed (same checkpoint).
    spark.createDataFrame(
        _rows(8, 4, "view", 2.25) + _rows(12, 1, "click", 0.5), SCHEMA
    ).write.mode("append").parquet(src)
    maintain_event_summary(read_events_stream(spark, src), mv, ckpt)
    assert _mv(spark, mv) == _want(spark, src)


def test_replayed_batch_is_a_noop(spark, tmp_path):
    src = str(tmp_path / "src")
    mv = str(tmp_path / "mv")
    ckpt = str(tmp_path / "ckpt")
    spark.createDataFrame(_rows(0, 4, "view", 1.0), SCHEMA).write.parquet(src)
    maintain_event_summary(read_events_stream(spark, src), mv, ckpt)
    before = _mv(spark, mv)

    # Simulate a foreachBatch retry: re-merge an already-absorbed batch id.
    replay = spark.read.parquet(src)
    vs = versions(spark, mv)
    last = version_meta(spark, mv)["applied_batch"]
    merge_event_summary(spark, mv, replay, last)
    assert _mv(spark, mv) == before  # double-count prevented
    assert versions(spark, mv) == vs  # and no version committed


def test_empty_first_batch_does_not_poison_the_mv(spark, tmp_path):
    """A zero-row first batch commits nothing — no empty MV version, no
    watermark — and the next batch still merges (code-review r5: an
    empty first batch used to leave an MV whose watermark read None)."""
    mv = str(tmp_path / "mv")
    empty = spark.createDataFrame([], SCHEMA)
    merge_event_summary(spark, mv, empty, 0)
    assert versions(spark, mv) == []
    batch = spark.createDataFrame(_rows(0, 3, "view", 2.0), SCHEMA)
    merge_event_summary(spark, mv, batch, 1)
    got = _mv(spark, mv)
    assert got["view"][0] == 3 and got["view"][1] == 600
    assert version_meta(spark, mv)["applied_batch"] == 1


def test_merge_on_existing_mv_job_budget(spark, tmp_path, spark_jobs):
    """A micro-batch onto an existing MV reads its replay watermark from
    the head manifest's meta, not by a max() scan of the MV: at most 7
    Spark jobs (emptiness probe, staged write, commit row count)."""
    mv = str(tmp_path / "mv")
    merge_event_summary(
        spark, mv, spark.createDataFrame(_rows(0, 20, "view", 1.0), SCHEMA), 0
    )
    batch = spark.createDataFrame(
        _rows(20, 20, "view", 2.0) + _rows(40, 10, "click", 0.5), SCHEMA
    )
    with spark_jobs() as jobs:
        merge_event_summary(spark, mv, batch, 1)
    assert len(jobs) <= 7, jobs
    assert _mv(spark, mv)["view"][0] == 40


def test_mv_history_is_versioned_and_crash_safe(spark, tmp_path):
    """Each merge commits a NEW manifest version: the previous MV state
    stays readable (time travel), so a crash mid-merge can never corrupt
    the committed view — the plain-overwrite failure mode review found."""
    mv = str(tmp_path / "mv")
    merge_event_summary(spark, mv, spark.createDataFrame(_rows(0, 2, "view", 1.0), SCHEMA), 0)
    merge_event_summary(spark, mv, spark.createDataFrame(_rows(2, 3, "view", 1.0), SCHEMA), 1)
    assert versions(spark, mv) == [1, 2]
    v1 = {r["event_type"]: r["n_events"] for r in read_version(spark, mv, 1).collect()}
    v2 = {r["event_type"]: r["n_events"] for r in read_version(spark, mv, 2).collect()}
    assert v1["view"] == 2 and v2["view"] == 5


def _crashed_copy(ckpt: str, dst: str) -> str:
    """A checkpoint image whose batch-0 commit marker is missing: the
    on-disk state a crash between the state commit and the checkpoint
    commit leaves behind. (A cloned directory: editing the live one in
    place trips the same-JVM metadata-log cache's concurrent-use guard,
    which a genuinely restarted process wouldn't hit.)"""
    shutil.copytree(ckpt, dst)
    os.remove(os.path.join(dst, "commits", "0"))
    crc = os.path.join(dst, "commits", ".0.crc")
    if os.path.exists(crc):  # Hadoop local-FS checksum shadow of the marker
        os.remove(crc)
    return dst


def test_crash_between_mv_commit_and_checkpoint_commit_replays_clean(
    spark, tmp_path
):
    """End-to-end kill-and-resume (VERDICT r5 #7): the dangerous crash
    window is AFTER the state's manifest commit but BEFORE Structured
    Streaming records the batch in the checkpoint — on restart the engine
    re-runs the SAME batch_id over the SAME input files, and without the
    applied_batch guard the state would double-count it. Simulated
    exactly, for the MV and the Count-Min cells alike: run a pass, then
    resume from a checkpoint image whose commit marker (the engine's
    source of truth for 'batch done') is missing. Append new data before
    resuming. The resumed query replays batch 0 (no-op) then absorbs the
    new files as batch 1; the MV must equal the batch-side full
    recompute (q96's merge-equals-recompute algebra, here proven across
    a crash boundary) and the cells the one-pass batch sketch, with prior
    states still time-travelable."""
    src = str(tmp_path / "src")
    mv = str(tmp_path / "mv")
    cms = str(tmp_path / "cms")
    ckpt = str(tmp_path / "ckpt")
    cms_ckpt = str(tmp_path / "cms_ckpt")

    def cells(df):
        return {(r["hash_id"], r["bucket"]): r["cell_count"] for r in df.collect()}

    spark.createDataFrame(
        _rows(0, 4, "view", 1.5) + _rows(4, 2, "purchase", 40.0), SCHEMA
    ).write.parquet(src)
    maintain_event_summary(read_events_stream(spark, src), mv, ckpt)
    maintain_cms(read_events_stream(spark, src), cms, cms_ckpt, "user_id")
    assert _mv(spark, mv) == _want(spark, src)
    committed_versions = versions(spark, mv)
    cms_versions = versions(spark, cms)

    # Kill: the state commits landed, the checkpoint commits did not.
    ckpt2 = _crashed_copy(ckpt, str(tmp_path / "ckpt_after_crash"))
    cms_ckpt2 = _crashed_copy(cms_ckpt, str(tmp_path / "cms_ckpt_after_crash"))

    # New data lands while "down"; then the queries resume from the
    # crashed checkpoints — batch 0 is re-delivered with its original
    # file set.
    spark.createDataFrame(
        _rows(6, 3, "view", 2.0) + _rows(9, 1, "click", 0.25), SCHEMA
    ).write.mode("append").parquet(src)
    maintain_event_summary(read_events_stream(spark, src), mv, ckpt2)
    maintain_cms(read_events_stream(spark, src), cms, cms_ckpt2, "user_id")

    # Equals the batch recompute: batch 0 was NOT absorbed twice.
    assert _mv(spark, mv) == _want(spark, src)
    got = _mv(spark, mv)
    assert got["view"][0] == 7 and got["purchase"][0] == 2 and got["click"][0] == 1
    batch_cells = cms_cells(spark.read.parquet(src).select("user_id"), "user_id")
    assert cells(read_version(spark, cms)) == cells(batch_cells)
    # The replayed no-op committed no extra version; exactly one new
    # version for the genuinely-new batch, and pre-crash state is still
    # time-travelable.
    after = versions(spark, mv)
    assert len(after) == len(committed_versions) + 1
    assert len(versions(spark, cms)) == len(cms_versions) + 1
    assert version_meta(spark, cms)["applied_batch"] == 1
    pre_crash = {
        r["event_type"]: r["n_events"]
        for r in read_version(spark, mv, committed_versions[-1]).collect()
    }
    assert pre_crash == {"view": 4, "purchase": 2}


def test_empty_batch_on_existing_mv_publishes_no_version(spark, tmp_path):
    """An empty micro-batch can't advance the max() watermark, so merging
    it would publish an identical MV version on every replay forever —
    it must be a pure no-op (code-review r6)."""
    mv = str(tmp_path / "mv")
    merge_event_summary(
        spark, mv, spark.createDataFrame(_rows(0, 3, "view", 1.0), SCHEMA), 0
    )
    before = versions(spark, mv)
    empty = spark.createDataFrame([], SCHEMA)
    merge_event_summary(spark, mv, empty, 1)
    merge_event_summary(spark, mv, empty, 1)  # replay of the empty batch
    assert versions(spark, mv) == before
    assert _mv(spark, mv)["view"][0] == 3


def test_streaming_maintains_any_spec_shape(spark, tmp_path):
    """Round 10: the stream driver takes the same declarative MVSpec as
    the pull-based scheduler — a per-user shape the module never
    hard-coded, maintained across two AvailableNow passes and equal to a
    full recompute at each step."""
    from european_public_data_pipeline_spark.pipeline.mv_refresh import (
        Measure,
        MVSpec,
    )
    from european_public_data_pipeline_spark.streaming.mv_maintenance import (
        maintain_mv,
        recompute_mv,
    )

    spec = MVSpec(
        group_keys=("user_id", "event_type"),
        measures=(
            Measure("n", "count"),
            Measure("sum_c", "sum", "CAST(ROUND(value * 100) AS BIGINT)"),
            Measure("last_ts", "max", "ts"),
        ),
    )
    src = str(tmp_path / "src")
    mv = str(tmp_path / "mv")
    ckpt = str(tmp_path / "ckpt")

    def got():
        return {
            (r["user_id"], r["event_type"]): (r["n"], r["sum_c"], r["last_ts"])
            for r in read_version(spark, mv).collect()
        }

    def want():
        return {
            (r["user_id"], r["event_type"]): (r["n"], r["sum_c"], r["last_ts"])
            for r in recompute_mv(spark.read.parquet(src), spec).collect()
        }

    spark.createDataFrame(
        _rows(0, 6, "view", 10.0) + _rows(6, 2, "purchase", 33.75), SCHEMA
    ).write.parquet(src)
    maintain_mv(read_events_stream(spark, src), mv, ckpt, spec)
    assert got() == want()

    spark.createDataFrame(
        _rows(8, 3, "view", 2.25), SCHEMA
    ).write.mode("append").parquet(src)
    maintain_mv(read_events_stream(spark, src), mv, ckpt, spec)
    assert got() == want()

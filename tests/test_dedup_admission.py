"""Streaming dedup admission: the streamed admitted index must equal the
sequential batch fold (replay_admission) bit-for-bit, admissions must be
O(batch) manifest appends (prior files carried by reference), and a
replayed foreachBatch id must be a no-op (exactly-once across the crash
window between state commit and checkpoint commit)."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from european_public_data_pipeline_spark.pipeline.manifest import (
    read_version,
    version_meta,
    versions,
)
from european_public_data_pipeline_spark.streaming.dedup_admission import (
    admit_batch,
    ingest_documents,
    replay_admission,
)

SCHEMA = "doc_id long, text string"

# Measured signature-estimated Jaccards for this corpus (4x4 minhash):
# 3~4 = 0.875, 3~6 = 0.938, 4~6 = 0.812 (all >= 0.8); every other pair 0.
BATCH0 = [
    (1, "the quick brown fox jumps over the lazy dog in the warm morning sun"),
    (2, "the  quick brown fox jumps over the lazy dog in the warm morning sun "),  # exact dup of 1 (whitespace only)
    (3, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"),
    (4, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda nu"),  # near-dup of 3, same batch
]
BATCH1 = [
    (5, "the quick brown fox jumps over the lazy dog in the warm morning sun"),  # exact dup of 1, cross-batch
    (6, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu extra"),  # near-dup of 3, cross-batch
    (7, "one two three four five six seven eight nine ten eleven twelve"),  # novel
]
BATCH2 = [
    (8, "red orange yellow green blue indigo violet colors of the rainbow sky"),  # novel
    (9, "one two three four five six seven eight nine ten eleven twelve"),  # exact dup of 7
]

EXPECT_ADMITTED = {1, 3, 7, 8}  # 2/5 exact-rejected, 4/6 near-rejected, 9 exact-rejected


def _batches(spark):
    return [spark.createDataFrame(b, SCHEMA) for b in (BATCH0, BATCH1, BATCH2)]


def _stream_in_order(spark, tmp_path, upto):
    """Write batches one at a time, running an AvailableNow pass after
    each — deterministic batch order without relying on file-pickup
    order inside one trigger."""
    src = str(tmp_path / "src")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    for i, rows in enumerate((BATCH0, BATCH1, BATCH2)[:upto]):
        spark.createDataFrame(rows, SCHEMA).write.mode("append").parquet(src)
        stream = (
            spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", 1000).parquet(src)
        )
        ingest_documents(stream, state, ckpt)
    return state


def test_stream_equals_batch_fold(spark, tmp_path):
    state = _stream_in_order(spark, tmp_path, 3)
    got = read_version(spark, state)
    want = replay_admission(spark, _batches(spark))
    assert sorted(got.columns) == sorted(want.columns)
    cols = sorted(c for c in want.columns)
    g = sorted(tuple(r) for r in got.select(*cols).collect())
    w = sorted(tuple(r) for r in want.select(*cols).collect())
    assert g == w  # identical signatures + fingerprints, not just ids
    assert {r[cols.index("doc_id")] for r in g} == EXPECT_ADMITTED


def test_resume_absorbs_only_new_batches(spark, tmp_path):
    """Kill-and-resume: stop after two batches, re-ingest with the same
    checkpoint — only batch 2 is admitted on resume, and the result
    equals the full fold."""
    state = _stream_in_order(spark, tmp_path, 2)
    v_before = versions(spark, state)[-1]
    # resume: a third batch lands, same checkpoint
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    spark.createDataFrame(BATCH2, SCHEMA).write.mode("append").parquet(src)
    stream = spark.readStream.schema(SCHEMA).parquet(src)
    ingest_documents(stream, state, ckpt)
    assert versions(spark, state)[-1] == v_before + 1  # exactly one more commit
    got = {r["doc_id"] for r in read_version(spark, state).collect()}
    assert got == EXPECT_ADMITTED


def test_replayed_batch_is_a_noop(spark, tmp_path):
    """The crash window between the manifest commit and the checkpoint
    commit re-invokes foreachBatch with the same batch_id — the
    watermark in the manifest meta must make it a no-op."""
    state = _stream_in_order(spark, tmp_path, 2)
    vs_before = versions(spark, state)
    last = version_meta(spark, state)["applied_batch"]
    admit_batch(spark, state, spark.createDataFrame(BATCH1, SCHEMA), last)
    assert versions(spark, state) == vs_before  # no new version committed


def test_appends_carry_prior_files_by_reference(spark, tmp_path):
    """O(batch) commits: every version's manifest starts with the prior
    version's exact file list — nothing is rewritten or copied."""
    state = _stream_in_order(spark, tmp_path, 3)
    vs = versions(spark, state)
    assert len(vs) == 3
    manifests = [
        json.loads(
            spark.sparkContext.wholeTextFiles(
                f"{state}/manifest/{v:08d}.json"
            ).collect()[0][1]
        )
        for v in vs
    ]
    for prev, cur in zip(manifests, manifests[1:]):
        assert cur["files"][: len(prev["files"])] == prev["files"]
        assert len(cur["files"]) > len(prev["files"])
    # row counts accumulate: 3 admitted in batch 0 (1, 3; 4 near-dropped —
    # no: 2 exact-dropped, 4 near-dropped => {1, 3}), then +1, then +1.
    assert [m["row_count"] for m in manifests] == [2, 3, 4]


def test_replay_guard_pins_to_head_manifest_not_pointer(spark, tmp_path):
    """The crash window between a manifest commit and the LATEST swap
    leaves the pointer one version behind the head manifest; a
    pointer-based watermark read would see the OLD batch id and re-admit
    the replayed batch on top of files that already contain it (review
    r6 finding 1). rollback() produces exactly that pointer-lags-head
    state."""
    from european_public_data_pipeline_spark.pipeline.manifest import rollback

    state = _stream_in_order(spark, tmp_path, 2)
    vs = versions(spark, state)
    rollback(spark, state, vs[0])  # LATEST now behind the head manifest
    head_bid = version_meta(spark, state, vs[-1])["applied_batch"]
    admit_batch(spark, state, spark.createDataFrame(BATCH1, SCHEMA), head_bid)
    assert versions(spark, state) == vs  # no duplicate commit


def test_short_docs_take_the_exact_only_path(spark, tmp_path):
    """A doc too short to shingle (< 3 tokens) has no minhash signature:
    it must still be admitted, still be exact-deduped within and across
    batches, and never be near-dup-paired (review r6: the inner
    signature join silently dropped such docs from the corpus)."""
    state = str(tmp_path / "state")
    b0 = spark.createDataFrame(
        [(10, "hi"), (11, "hi"), (12, "hello world")], SCHEMA
    )
    b1 = spark.createDataFrame(
        [(13, "hi"), (14, "hello  world"), (15, "completely new text here today")],
        SCHEMA,
    )
    admit_batch(spark, state, b0, 0)
    admit_batch(spark, state, b1, 1)
    got = {r["doc_id"] for r in read_version(spark, state).collect()}
    # 11 within-batch exact dup of 10; 13/14 cross-batch exact dups.
    assert got == {10, 12, 15}
    want = {r["doc_id"] for r in replay_admission(spark, [b0, b1]).collect()}
    assert want == got


def test_compaction_preserves_state_and_replay_guard(spark, tmp_path):
    """manifest.compact rewrites the appended index as few files while
    carrying the meta watermark — admission must continue correctly
    after it: replayed ids stay no-ops, new batches still dedup against
    the compacted state, and the final set equals the uncompacted fold."""
    import json as _json

    from european_public_data_pipeline_spark.pipeline.manifest import compact

    state = _stream_in_order(spark, tmp_path, 2)
    before = {r["doc_id"] for r in read_version(spark, state).collect()}
    v = compact(spark, state, target_files=1)
    m = _json.loads(
        spark.sparkContext.wholeTextFiles(
            f"{state}/manifest/{v:08d}.json"
        ).collect()[0][1]
    )
    assert len(m["files"]) == 1  # the appended file groups became one
    assert m["meta"]["applied_batch"] == 1  # watermark carried forward
    assert {r["doc_id"] for r in read_version(spark, state).collect()} == before
    # replayed batch id after compaction: still a no-op
    vs_before = versions(spark, state)
    admit_batch(spark, state, spark.createDataFrame(BATCH1, SCHEMA), 1)
    assert versions(spark, state) == vs_before
    # new batch after compaction: dedups against the compacted state
    admit_batch(spark, state, spark.createDataFrame(BATCH2, SCHEMA), 2)
    got = {r["doc_id"] for r in read_version(spark, state).collect()}
    assert got == EXPECT_ADMITTED


def test_time_travel_shows_admission_history(spark, tmp_path):
    state = _stream_in_order(spark, tmp_path, 3)
    from european_public_data_pipeline_spark.pipeline.manifest import read_version

    vs = versions(spark, state)
    sizes = [read_version(spark, state, v).count() for v in vs]
    assert sizes == [2, 3, 4]
    # meta watermark is monotone across versions
    marks = [version_meta(spark, state, v)["applied_batch"] for v in vs]
    assert marks == sorted(marks)

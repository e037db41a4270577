"""Streaming corpus ingestion with dedup admission control — the
streaming form of d09 (incremental exact dedup) + d23 (incremental LSH
probe), run continuously over document micro-batches (SURVEY.md §2.11 +
§2.12 dedup).

Every micro-batch of documents is admitted against the corpus ingested
so far:

1. **Within-batch exact**: keep-first per normalized-text fingerprint
   (d02's md5 fingerprint, smallest doc_id survives — d09's rule).
2. **Corpus exact**: one left-anti join against the admitted index's
   fingerprint column.
3. **Within-batch near-dup**: surviving docs band-join among themselves
   (d04's 4x4 MinHash bands); a candidate pair whose signature-estimated
   Jaccard (the Broder estimator, d14) reaches the threshold drops the
   larger doc_id (pair-dominance, not transitive keep-first: a doc
   matching ANY smaller batch doc drops even if that smaller doc itself
   dropped — the same rule on both twin paths).
4. **Corpus near-dup**: the remaining docs probe the admitted index's
   band relation (derived by projection from the stored signature
   columns); any corpus candidate at or above the threshold rejects the
   batch doc. Only batch-vs-corpus candidates are ever generated —
   admitted docs are never re-paired (d23's O(batch)-per-ingest shape).

Documents too short to shingle (< 3 tokens) carry null signature
columns: they pass both exact gates normally, and the band projection
(``operators.dedup.sig_bands``) excludes them from near-dup pairing on
either side — exact-only admission, never silent loss.

The signature/band construction, the band-bucket candidate join and
the Broder estimate are imported from ``operators/dedup``
(``minhash_sig`` / ``sig_bands`` / ``band_candidates`` /
``minhash_estimate``) — the SAME definitions d04/d14/d23 and their
oracles use, so the persisted index stays band-compatible with the batch
operators bit-for-bit.

State is the admitted index: one row per admitted doc carrying its
fingerprint and 16 minhash components — CONSTANT bytes per doc, no
shingle sets stored (estimation replaces exact verification at the
admission boundary; d14 is the audit that justifies the estimator).
The index lives under ``pipeline/manifest``'s versioned protocol using
the **append commit** (``append_version``): each batch writes only its
own parquet and carries every prior file by reference, so a micro-batch
costs O(batch) data + one KB-sized manifest at ANY corpus size — the
shape that survives 100 TB, where a per-batch state rewrite would be a
corpus-sized write every few seconds.

Crash/replay safety is the shared replay-guarded fold of every stateful
sink (``streaming.sinks.fold_batch``, which ``mv_maintenance`` and
``cms_maintenance`` run too): immutable versioned commits (a crash
mid-append cannot corrupt the current index) and an ``applied_batch``
watermark stored in the manifest's ``meta`` dict, so the replay check
is one manifest read, never a corpus scan. Both the watermark and the
state are read from the HIGHEST COMMITTED manifest — the same version
``append_version`` chains off — never the LATEST pointer: in the crash
window between a manifest commit and the pointer swap the pointer lags
one version, and a pointer-based read would dedup against stale state
while appending on top of the new manifest, re-admitting the replayed
batch's rows as permanent duplicates.

``replay_admission`` is the batch twin: the same per-batch fold applied
sequentially without streaming machinery. The stream-equals-batch test
(tests/test_dedup_admission.py) proves the streamed index equals that
fold bit-for-bit, including across a kill-and-resume boundary.

Determinism: admission is order-dependent BY DESIGN (first writer wins,
like every ingest-time dedup); within a batch all tie-breaks are
doc_id-keyed, so a fixed batch partition of the input yields one exact
admitted set on both paths.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from european_public_data_pipeline_spark.operators.dedup import (
    JACCARD_THRESHOLD,
    WORD_SPLIT,
    band_candidates,
    base_hash28,
    minhash_estimate,
    minhash_sig,
    shingles,
    sig_bands,
)
from european_public_data_pipeline_spark.pipeline.manifest import append_version
from european_public_data_pipeline_spark.streaming.sinks import (
    _run_available_now,
    fold_batch,
)


def _fingerprint() -> F.Column:
    """d02's normalized-text md5 fingerprint."""
    return F.md5(
        F.array_join(F.split(F.trim(F.lower(F.col("text"))), WORD_SPLIT), " ")
    )


def _signatures(docs: DataFrame) -> DataFrame:
    """(doc_id, fingerprint, m0..m15). LEFT join: a doc too short to
    shingle still exists (null m-columns) — it must reach the exact
    gates, not vanish from the corpus."""
    fp = docs.select("doc_id", _fingerprint().alias("fingerprint"))
    sig = minhash_sig(
        shingles(docs).withColumn("hv", base_hash28(F.col("shingle")))
    )
    return fp.join(sig, "doc_id", "left")


def _near_dups(cand: DataFrame, left: DataFrame, right: DataFrame) -> DataFrame:
    """The candidate pairs whose signature-estimated Jaccard reaches the
    threshold."""
    return minhash_estimate(cand, left, right).filter(
        F.col("est_jaccard") >= JACCARD_THRESHOLD
    )


def _admit_against(
    sig: DataFrame,
    state_sig: DataFrame | None,
    caches: list[DataFrame] | None = None,
) -> DataFrame:
    """The admission fold for one batch's signature relation against the
    admitted index (None for the first batch): returns the batch rows to
    admit, with all four rejection rules applied. Both the streaming body
    and the batch twin call THIS — one implementation, two drivers.
    Cached intermediates are appended to ``caches`` so the caller can
    unpersist them once the result is materialized (a long-running
    ingest must not accumulate one cache entry per micro-batch)."""
    # 1. within-batch exact: keep-first per fingerprint.
    w = Window.partitionBy("fingerprint").orderBy("doc_id")
    sig = (
        sig.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    if state_sig is not None:
        # 2. corpus exact: the admitted index's fingerprints reject.
        sig = sig.join(
            state_sig.select("fingerprint"), "fingerprint", "left_anti"
        )
    sig = sig.cache()  # feeds banding, both estimate joins, and the result
    if caches is not None:
        caches.append(sig)
    # 3. within-batch near-dup (pair-dominance; module docstring).
    bands = sig_bands(sig)
    cand_in = band_candidates(bands, bands).filter(F.col("d1") < F.col("d2"))
    dropped = (
        _near_dups(cand_in, sig, sig).select(F.col("d2").alias("doc_id")).distinct()
    )
    sig = sig.join(dropped, "doc_id", "left_anti")
    if state_sig is None:
        return sig
    # 4. corpus near-dup: batch-vs-corpus candidates only (d23's shape).
    cand_x = band_candidates(sig_bands(sig), sig_bands(state_sig))
    rejected = (
        _near_dups(cand_x, sig, state_sig)
        .select(F.col("d1").alias("doc_id"))
        .distinct()
    )
    return sig.join(rejected, "doc_id", "left_anti")


def admit_batch(
    spark: SparkSession, state_path: str, batch_df: DataFrame, batch_id: int
) -> None:
    """Admit one micro-batch into the index at ``state_path`` (idempotent
    per batch_id, crash-safe, O(batch) committed; see module docstring)."""

    def step(state_sig: DataFrame | None, meta: dict) -> None:
        caches: list[DataFrame] = []
        admitted = _admit_against(_signatures(batch_df), state_sig, caches)
        try:
            # An all-rejected batch still commits an empty append: the
            # watermark must advance or every replay redoes the probe work.
            append_version(admitted, state_path, meta=meta)
        finally:
            for c in caches:
                c.unpersist()

    fold_batch(spark, state_path, batch_df, batch_id, step)


def ingest_documents(
    stream_df: DataFrame, state_path: str, checkpoint_path: str
) -> StreamingQuery:
    """Run admission over all available input (Trigger.AvailableNow).
    Re-invoking with the same checkpoint admits ONLY new files; the index
    at ``state_path`` always equals ``replay_admission`` over the same
    batch sequence, and prior index states stay time-travelable."""
    spark = stream_df.sparkSession
    return _run_available_now(
        stream_df,
        checkpoint_path,
        lambda df, bid: admit_batch(spark, state_path, df, bid),
    )


def replay_admission(
    spark: SparkSession, batches: list[DataFrame]
) -> DataFrame:
    """The batch twin: the same admission fold applied sequentially in
    batch order, no streaming machinery — what the streamed index must
    equal bit-for-bit. Each folded state is materialized before its
    feeder caches (and the previous state) are unpersisted."""
    state: DataFrame | None = None
    for batch_df in batches:
        caches: list[DataFrame] = []
        admitted = _admit_against(_signatures(batch_df), state, caches)
        new_state = (
            admitted if state is None else state.unionByName(admitted)
        ).cache()
        new_state.count()  # materialize before dropping what fed it
        for c in caches:
            c.unpersist()
        if state is not None:
            state.unpersist()
        state = new_state
    assert state is not None, "replay_admission needs at least one batch"
    return state

"""Exactly-once streaming sinks via foreachBatch + checkpointing
(SURVEY.md §2.11 / §4 "incremental processing").

The reference's incremental model is "re-run on the newest blob"
(/root/reference/src/storage/blob.py:55-60) with idempotency by
delete-then-append (load_hicp_to_sql.py:54-62). The Spark-native form is a
checkpointed stream with an idempotent batch writer:

- the checkpoint records which source files/offsets are committed — a
  restarted query resumes AFTER them (nothing reprocessed, nothing lost);
- ``foreachBatch`` writes each micro-batch to a ``batch_id=N`` partition
  with overwrite, so a batch retried after a mid-write crash replaces its
  own partial output instead of duplicating it (idempotence at batch
  granularity = exactly-once end-to-end for a deterministic batch).

This is the production landing pattern for any file/warehouse sink that
lacks transactions.

Stateful sinks (``mv_maintenance``, ``cms_maintenance``,
``dedup_admission``) fold each micro-batch into a manifest-versioned
state through the one replay-guarded fold, ``fold_batch``.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from european_public_data_pipeline_spark.pipeline.manifest import (
    _read_files_live,
    _read_head,
)


def _run_available_now(
    stream_df: DataFrame,
    checkpoint_path: str,
    body: Callable[[DataFrame, int], None],
) -> StreamingQuery:
    """The one stream driver: run ``body`` on every micro-batch of all
    available input (Trigger.AvailableNow) under ``checkpoint_path`` and
    wait for it. Re-invoking with the same checkpoint processes only new
    input."""
    q = (
        stream_df.writeStream.foreachBatch(body)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def fold_batch(
    spark: SparkSession,
    state_path: str,
    batch_df: DataFrame,
    batch_id: int,
    step: Callable[[DataFrame | None, dict], None],
) -> None:
    """Fold one micro-batch into the manifest-versioned state at
    ``state_path``, at most once per ``batch_id``:

    - an empty micro-batch commits nothing (it would otherwise publish
      an identical version on every idle trigger and replay);
    - the watermark and the state come from the HIGHEST committed
      manifest, read once, never the LATEST pointer: in the crash window
      between a manifest commit and the pointer swap the pointer lags
      one version, and a pointer-based guard would re-apply the batch on
      top of the state that already holds it;
    - a batch at or below ``meta["applied_batch"]`` is a replay: no-op;
    - otherwise ``step(state, meta)`` commits the new state (``state`` is
      ``None`` on a fresh path) with ``meta={"applied_batch": batch_id}``.
    """
    if batch_df.isEmpty():
        return
    head = _read_head(spark, state_path)
    if head is None:
        state = None
    elif head.m.get("meta", {}).get("applied_batch", -1) >= batch_id:
        return  # replayed batch: already absorbed
    else:
        state = _read_files_live(spark, head.m)
    step(state, {"applied_batch": batch_id})


def write_stream_exactly_once(
    stream_df: DataFrame, sink_path: str, checkpoint_path: str
) -> StreamingQuery:
    """Run the stream over all available input (Trigger.AvailableNow) into
    a parquet sink with exactly-once semantics. Returns the query handle.

    Re-invoking with the same checkpoint processes ONLY new input; a batch
    retried after a failure overwrites its own ``batch_id`` partition.
    """

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(f"{sink_path}/batch_id={batch_id}")

    return _run_available_now(stream_df, checkpoint_path, write_batch)


def upsert_stream_manifest(
    stream_df: DataFrame,
    table_path: str,
    checkpoint_path: str,
    keys: list[str],
    persist_changelog: bool = True,
    dedupe_updates_by: str | None = None,
    mode: str = "cow",
) -> StreamingQuery:
    """Streaming CDC upsert into a VERSIONED-MANIFEST table — the
    foreachBatch + MERGE landing pattern for streams whose rows are
    revisions, not events: each micro-batch lands as ONE commit
    (zone-map pruned, snapshot-isolated, time-travelable), and with
    ``persist_changelog`` every commit materializes its
    row-level delta, so a downstream MV maintained by ``refresh_mv``
    keeps folding at O(delta + |MV|) across the stream's merges instead
    of full-recomputing per commit — the end-to-end CDC shape: stream ->
    merge commits -> persisted CDF -> scheduled pull refresh.

    ``mode`` picks the write shape per the table's workload:
    ``"cow"`` (default) is ``merge_into_manifest`` — rewrite the
    touched files, right for bounded batches against a clustered table
    (no scan rent accrues); ``"mor"`` is ``upsert_rows_mor`` — one
    KB-scale delete sidecar + one small image file per micro-batch,
    O(batch) written bytes regardless of how scattered the keys are,
    which is what an hourly trickle of 1k CDC keys against a 100 TB
    table needs (COW would rewrite ~1k files per batch). MOR batches
    accrue a broadcast-anti-join scan rent until the next ``compact``
    (see ``maintain`` for the threshold-driven fold).

    ``dedupe_updates_by=<ordering column>`` resolves several revisions
    of one key WITHIN a micro-batch latest-wins BEFORE the merge —
    routine under ``availableNow``, which coalesces a whole backlog
    into one batch; without it duplicate keys are refused by the merge
    (crashing the stream is the alternative, not silently picking a
    winner). Ties on the ordering column still raise.

    Exactly-once composition: the checkpoint deduplicates INPUT (a
    restarted query never re-reads committed files), and a batch
    retried after a mid-commit crash re-merges the same rows onto the
    same keys — the end state is identical and the extra version's
    changelog folds to a net-zero delta (each key's -1 old image equals
    its +1 new image). Empty micro-batches commit nothing."""
    if mode not in ("cow", "mor"):
        raise ValueError(f"mode must be 'cow' or 'mor', got {mode!r}")
    from european_public_data_pipeline_spark.pipeline.cow_merge import (
        merge_into_manifest,
    )
    from european_public_data_pipeline_spark.pipeline.mor_delete import (
        resolve_latest_wins,
        upsert_rows_mor,
    )

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return  # idle trigger: no version, no empty changelog
        if mode == "mor":
            upsert_rows_mor(
                batch_df.sparkSession,
                table_path,
                batch_df,
                keys=keys,
                persist_changelog=persist_changelog,
                dedupe_updates_by=dedupe_updates_by,
            )
            return
        if dedupe_updates_by:
            batch_df = resolve_latest_wins(
                batch_df, keys, dedupe_updates_by, "upsert_stream_manifest"
            )
        merge_into_manifest(
            batch_df.sparkSession,
            table_path,
            batch_df,
            keys=keys,
            persist_changelog=persist_changelog,
        )

    return _run_available_now(stream_df, checkpoint_path, merge_batch)

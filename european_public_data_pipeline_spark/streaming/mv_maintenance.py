"""Streaming materialized-view maintenance via foreachBatch — q96's
algebraic aggregate merge applied continuously (SURVEY.md §2.11 / §2.7).

Each micro-batch is aggregated to the SAME storable partial state q96
maintains (count / exact centi-unit sum / min / max — every column
algebraic), then merged into the stored MV by unioning two
aggregate-sized relations and re-aggregating: the historical raw data is
never re-scanned, which is the entire point of an MV at 100 TB — the
refresh cost is O(batch + |MV|), not O(history).

The view's SHAPE comes from the same declarative ``MVSpec`` the
pull-based scheduler uses (``pipeline/mv_refresh.py``): ``maintain_mv``
maintains ANY spec continuously, and ``refresh_mv`` maintains the same
spec on a schedule — one algebra, two drivers, so a view can move
between the two (or run both against different sources) without
re-deriving its merge logic. ``*_event_summary`` are the original shape
(``EVENT_SUMMARY_SPEC``) expressed through the generic path.

Crash and replay safety: the MV is stored through ``pipeline/manifest``'s
versioned commit protocol, so a crash mid-merge cannot corrupt the
current MV (a plain overwrite crashed after its delete phase would
leave it unreadable). Every micro-batch goes through the shared
replay-guarded fold (``streaming.sinks.fold_batch``): each commit
records the batch id it absorbed as ``meta["applied_batch"]``, and a
foreachBatch body re-invoked for the SAME batch_id after a crash reads
that watermark from the head manifest and is a no-op, with no scan of
the MV. An empty micro-batch commits nothing, the first one included.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from european_public_data_pipeline_spark.pipeline.manifest import publish_version
from european_public_data_pipeline_spark.pipeline.mv_refresh import (
    EVENT_SUMMARY_SPEC,
    MVSpec,
)
from european_public_data_pipeline_spark.streaming.sinks import (
    _run_available_now,
    fold_batch,
)


def _merge_partial(
    spark: SparkSession,
    mv_path: str,
    batch_df: DataFrame,
    batch_id: int,
    spec: MVSpec,
    partial: DataFrame,
) -> None:
    """The MV fold step: publish ``spec.merge(state, partial)`` (or the
    batch's ``partial`` on a fresh path) through ``fold_batch``, which
    skips empty and replayed batches."""

    def step(mv: DataFrame | None, meta: dict) -> None:
        merged = partial if mv is None else spec.merge(mv, partial)
        publish_version(merged, mv_path, meta=meta)

    fold_batch(spark, mv_path, batch_df, batch_id, step)


def merge_mv(
    spark: SparkSession,
    mv_path: str,
    batch_df: DataFrame,
    batch_id: int,
    spec: MVSpec,
) -> None:
    """Merge one micro-batch into the MV at ``mv_path`` (idempotent per
    batch_id, crash-safe via versioned commits; see module docstring).
    An empty batch commits no version, even on a fresh path: the MV
    appears with the first non-empty batch."""
    _merge_partial(spark, mv_path, batch_df, batch_id, spec, spec.partial(batch_df))


def maintain_mv(
    stream_df: DataFrame, mv_path: str, checkpoint_path: str, spec: MVSpec
) -> StreamingQuery:
    """Run the maintenance over all available input (Trigger.AvailableNow).
    Re-invoking with the same checkpoint absorbs ONLY new input; the MV at
    ``mv_path`` always equals a full recompute over everything committed,
    and prior MV states remain time-travelable (manifest versions)."""
    spark = stream_df.sparkSession
    return _run_available_now(
        stream_df,
        checkpoint_path,
        lambda df, bid: merge_mv(spark, mv_path, df, bid, spec),
    )


def merge_event_summary(
    spark: SparkSession, mv_path: str, batch_df: DataFrame, batch_id: int
) -> None:
    """The original event-summary shape through the generic path."""
    merge_mv(spark, mv_path, batch_df, batch_id, EVENT_SUMMARY_SPEC)


def maintain_event_summary(
    stream_df: DataFrame, mv_path: str, checkpoint_path: str
) -> StreamingQuery:
    return maintain_mv(stream_df, mv_path, checkpoint_path, EVENT_SUMMARY_SPEC)


def recompute_mv(src: DataFrame, spec: MVSpec) -> DataFrame:
    """The full-recompute twin (what the MV must always equal)."""
    return spec.partial(src)


def recompute_event_summary(events: DataFrame) -> DataFrame:
    return recompute_mv(events, EVENT_SUMMARY_SPEC)

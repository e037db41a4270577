"""Compacted streaming Count-Min maintenance (SURVEY.md §2.11 + §2.12
sketches): ONE manifest-versioned cell relation updated per micro-batch.
Read cost is a single constant-size scan forever, each update costs
O(batch + d*w), and prior sketch states stay time-travelable. The
served sketch pairs with q83's mergeability proof exactly as q79 does.

Unlike the HLL family (where union != direct bit-for-bit, q98), Count-Min
cell counts are EXACT integers under merge: summing per-batch cell
relations by (hash_id, bucket) is associative and commutative, so the
streamed sketch equals the one-pass batch sketch cell-for-cell — the
strongest stream-equals-batch property a sketch can offer, and the test
asserts exact equality, not a tolerance.

State is the constant-size d*w cell relation (CMS_DEPTH x CMS_WIDTH
rows regardless of stream volume — the entire point at 100 TB: per-key
frequency tracking whose stored state never grows). The cells are an
``MVSpec`` over ``(hash_id, bucket)`` whose ``cell_count`` merges by
sum, so a micro-batch folds in through ``mv_maintenance``'s step and
the shared replay-guarded fold (``streaming.sinks.fold_batch``):
immutable versions (a crash mid-merge cannot corrupt the current
sketch) and an ``applied_batch`` watermark in manifest ``meta`` (a
replayed foreachBatch id is a no-op, so a crash between the state
commit and the checkpoint commit cannot double-count a batch). The
stored relation is ``(hash_id, bucket, cell_count)``, directly
consumable by ``cms_estimate`` through ``manifest.read_version``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from european_public_data_pipeline_spark.operators.sketches import cms_cells
from european_public_data_pipeline_spark.pipeline.mv_refresh import Measure, MVSpec
from european_public_data_pipeline_spark.streaming.mv_maintenance import (
    _merge_partial,
)
from european_public_data_pipeline_spark.streaming.sinks import _run_available_now

_CELL_SPEC = MVSpec(
    group_keys=("hash_id", "bucket"),
    measures=(Measure("cell_count", "sum", "cell_count"),),
)


def merge_cms_state(
    spark: SparkSession,
    state_path: str,
    batch_df: DataFrame,
    batch_id: int,
    key: str,
) -> None:
    """Merge one micro-batch's cell counts into the sketch state at
    ``state_path`` (idempotent per batch_id, crash-safe via versioned
    commits; see module docstring)."""
    cells = cms_cells(batch_df.select(key), key)
    _merge_partial(spark, state_path, batch_df, batch_id, _CELL_SPEC, cells)


def maintain_cms(
    stream_df: DataFrame, state_path: str, checkpoint_path: str, key: str
) -> StreamingQuery:
    """Absorb all available input (Trigger.AvailableNow) into the sketch.
    Re-invoking with the same checkpoint absorbs only new files; the
    stored cells always equal ``cms_cells`` over everything committed."""
    spark = stream_df.sparkSession
    return _run_available_now(
        stream_df,
        checkpoint_path,
        lambda df, bid: merge_cms_state(spark, state_path, df, bid, key),
    )

"""Streaming CMS maintenance: the streamed sketch must equal the one-pass
batch sketch CELL-FOR-CELL (integer-exact merge — the property HLL lacks,
q98), and replayed batches must be no-ops."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from european_public_data_pipeline_spark.operators.sketches import (
    cms_cells,
    cms_estimate,
)
from european_public_data_pipeline_spark.pipeline.manifest import read_version
from european_public_data_pipeline_spark.streaming.cms_maintenance import (
    maintain_cms,
    merge_cms_state,
)
from european_public_data_pipeline_spark.streaming.windows import read_events_stream

SCHEMA = "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
T0 = dt.datetime(2024, 1, 1)


def _rows(i0, n, user):
    return [
        (i0 + i, T0 + dt.timedelta(minutes=i0 + i), user, "view", 1.0, "{}")
        for i in range(n)
    ]


def _cells(df):
    return {
        (r["hash_id"], r["bucket"]): r["cell_count"] for r in df.collect()
    }


def test_streamed_cells_equal_batch_cells_exactly(spark, tmp_path):
    src = str(tmp_path / "src")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")

    spark.createDataFrame(
        _rows(0, 40, 7) + _rows(40, 25, 13) + _rows(65, 5, 99), SCHEMA
    ).write.parquet(src)
    maintain_cms(read_events_stream(spark, src), state, ckpt, "user_id")

    # Second accretion skews user 13 further.
    spark.createDataFrame(
        _rows(70, 60, 13) + _rows(130, 10, 7), SCHEMA
    ).write.mode("append").parquet(src)
    maintain_cms(read_events_stream(spark, src), state, ckpt, "user_id")

    batch = cms_cells(
        spark.read.parquet(src).select("user_id"), "user_id"
    )
    assert _cells(read_version(spark, state)) == _cells(batch)

    # Estimates from the streamed state match estimates from the batch
    # sketch, and both respect the never-undercount guarantee.
    keys = spark.createDataFrame([(7,), (13,), (99,)], "user_id long")
    streamed_est = {
        r["user_id"]: r["cms_estimate"]
        for r in cms_estimate(
            read_version(spark, state), keys, "user_id"
        ).collect()
    }
    batch_est = {
        r["user_id"]: r["cms_estimate"]
        for r in cms_estimate(batch, keys, "user_id").collect()
    }
    assert streamed_est == batch_est
    exact = {7: 50, 13: 85, 99: 5}
    for k, est in streamed_est.items():
        assert est >= exact[k]


def test_replayed_batch_is_noop_and_state_is_constant_size(spark, tmp_path):
    from european_public_data_pipeline_spark.operators.sketches import (
        CMS_DEPTH,
        CMS_WIDTH,
    )

    state = str(tmp_path / "state")
    b0 = spark.createDataFrame(_rows(0, 30, 1), SCHEMA)
    merge_cms_state(spark, state, b0, 0, "user_id")
    before = _cells(read_version(spark, state))
    # foreachBatch retry: same batch id re-delivered after a crash.
    merge_cms_state(spark, state, b0, 0, "user_id")
    assert _cells(read_version(spark, state)) == before
    # State is bounded by the sketch geometry, not the stream volume.
    assert read_version(spark, state).count() <= CMS_DEPTH * CMS_WIDTH


def test_empty_batch_on_existing_state_publishes_no_version(spark, tmp_path):
    """Same contract as the MV maintainer: an empty batch is a pure
    no-op — no new state version, cells unchanged (code-review r6)."""
    from european_public_data_pipeline_spark.pipeline.manifest import versions

    state = str(tmp_path / "state")
    merge_cms_state(
        spark, state, spark.createDataFrame(_rows(0, 10, 5), SCHEMA), 0, "user_id"
    )
    before_v = versions(spark, state)
    before_c = _cells(read_version(spark, state))
    empty = spark.createDataFrame([], SCHEMA)
    merge_cms_state(spark, state, empty, 1, "user_id")
    merge_cms_state(spark, state, empty, 1, "user_id")
    assert versions(spark, state) == before_v
    assert _cells(read_version(spark, state)) == before_c

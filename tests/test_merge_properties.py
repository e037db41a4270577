"""Property tests: MERGE and SCD2 agree with a brute-force Python model
over random batch sequences (hypothesis).

The model for merge is a dict keyed by the merge key; the model for SCD2
is the full version history replayed in order. Spark output must equal the
model after every batch sequence — the same oracle-differential idea as
the SQL parity gate, applied to the write operators that SQL cannot
express.
"""

from __future__ import annotations

import datetime as dt

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from european_public_data_pipeline_spark.pipeline import manifest as M
from european_public_data_pipeline_spark.pipeline.cow_merge import (
    merge_into_manifest,
)
from european_public_data_pipeline_spark.pipeline.scd import read_scd2, scd2_apply

# Small domains force key collisions (the interesting case).
KEYS = st.integers(min_value=0, max_value=5)
LANGS = st.sampled_from(["en", "de"])
VALS = st.sampled_from(["a", "b", "c"])

BATCH = st.lists(
    st.tuples(KEYS, LANGS, VALS), min_size=1, max_size=5
).map(
    # One row per key within a batch (merge_into_manifest refuses
    # same-key update rows; dedupe in the generator to keep the model
    # simple and deterministic).
    lambda rows: list({r[0]: r for r in rows}.values())
)


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(batches=st.lists(BATCH, min_size=1, max_size=4))
def test_merge_matches_dict_model(spark, tmp_path_factory, batches):
    path = str(tmp_path_factory.mktemp("merge_prop") / "t")
    model: dict[int, tuple] = {}
    for i, batch in enumerate(batches):
        df = spark.createDataFrame(batch, "k long, lang string, v string")
        if i == 0:
            M.publish_version(df, path, stats_cols=("k",))
        else:
            merge_into_manifest(spark, path, df, keys=["k"])
        for k, lang, v in batch:
            model[k] = (k, lang, v)
        got = sorted(
            (r["k"], r["lang"], r["v"])
            for r in M.read_version(spark, path).collect()
        )
        assert got == sorted(model.values()), f"diverged after batch {i}"


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(batches=st.lists(BATCH, min_size=1, max_size=4))
def test_scd2_current_matches_dict_model(spark, tmp_path_factory, batches):
    path = str(tmp_path_factory.mktemp("scd_prop") / "t")
    model: dict[int, tuple] = {}
    t0 = dt.datetime(2026, 1, 1)
    for i, batch in enumerate(batches):
        ts = t0 + dt.timedelta(days=i)
        df = spark.createDataFrame(
            [(k, lang, v, ts) for k, lang, v in batch],
            "k long, lang string, v string, effective_ts timestamp",
        )
        scd2_apply(spark, path, df, key_cols=["k"], attr_cols=["lang", "v"])
        for k, lang, v in batch:
            model[k] = (k, lang, v)
    current = sorted(
        (r["k"], r["lang"], r["v"])
        for r in read_scd2(spark, path).filter("is_current").collect()
    )
    assert current == sorted(model.values())
    # History invariant: per key, intervals chain (valid_to of one row ==
    # valid_from of the next) and exactly one row is open.
    rows = read_scd2(spark, path).collect()
    by_key: dict[int, list] = {}
    for r in rows:
        by_key.setdefault(r["k"], []).append(r)
    for k, hist in by_key.items():
        hist.sort(key=lambda r: r["valid_from"])
        open_rows = [r for r in hist if r["valid_to"] is None]
        assert len(open_rows) == 1, f"key {k}: {len(open_rows)} open rows"
        for a, b in zip(hist, hist[1:]):
            assert a["valid_to"] == b["valid_from"], f"key {k}: gap in history"

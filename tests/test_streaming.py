"""Structured Streaming tests: stream results must equal batch results for
the same transforms (SURVEY.md §2.11), and the custom stateful operator
must accumulate across micro-batches.

Strategy: copy a slice of the events table to parquet files in tmp_path,
run each transform twice — once via readStream + Trigger.AvailableNow into
a memory sink, once as plain batch — and diff collected rows.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from european_public_data_pipeline_spark.streaming.stateful import running_user_totals
from european_public_data_pipeline_spark.streaming.windows import (
    dedup_stream,
    enrich_stream,
    interval_join,
    read_events_stream,
    run_available_now,
    session_agg,
    sliding_agg,
    tumbling_agg,
)
from european_public_data_pipeline_spark.tables import load_table


@pytest.fixture(scope="module")
def events_dir(spark, sf_small, tmp_path_factory):
    """Events slice as plain parquet files (legal timestamp type, several
    files so AvailableNow has multiple splits)."""
    path = str(tmp_path_factory.mktemp("events_stream") / "events")
    events = load_table(spark, sf_small, "events").filter(F.col("user_id") < 20)
    events.repartition(4).write.parquet(path)
    return path


def _rows(df, cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


def test_tumbling_stream_equals_batch(spark, events_dir):
    batch = spark.read.parquet(events_dir)
    stream = read_events_stream(spark, events_dir)
    got = run_available_now(tumbling_agg(stream), "t_tumbling")
    want = tumbling_agg(batch)
    cols = ["window_start", "window_end", "event_type", "n", "total_value"]
    assert _rows(got, cols) == _rows(want, cols)
    assert len(_rows(got, cols)) > 0


def test_sliding_stream_equals_batch(spark, events_dir):
    batch = spark.read.parquet(events_dir)
    stream = read_events_stream(spark, events_dir)
    got = run_available_now(sliding_agg(stream), "t_sliding")
    want = sliding_agg(batch)
    cols = ["window_start", "event_type", "n"]
    assert _rows(got, cols) == _rows(want, cols)


def test_session_stream_equals_batch(spark, events_dir):
    batch = spark.read.parquet(events_dir)
    stream = read_events_stream(spark, events_dir)
    got = run_available_now(session_agg(stream), "t_session")
    want = session_agg(batch)
    cols = ["user_id", "session_start", "session_end", "n_events"]
    assert _rows(got, cols) == _rows(want, cols)
    assert len(_rows(got, cols)) > 0


def test_dedup_stream_drops_reprocessed_events(spark, events_dir, tmp_path):
    # Duplicate every event file into the source dir's sibling and stream
    # over both: dropDuplicates must collapse the copies.
    dup_dir = str(tmp_path / "events_dup")
    base = spark.read.parquet(events_dir)
    base.unionAll(base).repartition(6).write.parquet(dup_dir)
    stream = read_events_stream(spark, dup_dir)
    got = run_available_now(
        dedup_stream(stream), "t_dedup", output_mode="append"
    )
    assert got.count() == base.count()


def test_stream_stream_interval_join_equals_batch(spark, events_dir):
    def split(df):
        views = df.filter(F.col("event_type") == "view")
        purchases = df.filter(F.col("event_type") == "purchase")
        return views, purchases

    stream = read_events_stream(spark, events_dir)
    got = run_available_now(
        interval_join(*split(stream)), "t_ssjoin", output_mode="append"
    )
    want = interval_join(*split(spark.read.parquet(events_dir)))
    cols = ["view_id", "user_id", "view_ts", "purchase_id", "purchase_ts", "purchase_value"]
    assert _rows(got, cols) == _rows(want, cols)
    assert len(_rows(got, cols)) > 0


def test_stream_static_enrichment_equals_batch(spark, sf_small, events_dir):
    customers = load_table(spark, sf_small, "customer")
    stream = read_events_stream(spark, events_dir)
    got = run_available_now(
        enrich_stream(stream, customers), "t_enrich", output_mode="append"
    )
    want = enrich_stream(spark.read.parquet(events_dir), customers)
    cols = ["event_id", "ts", "user_id", "event_type", "value", "c_name", "c_nationkey", "c_mktsegment"]
    assert _rows(got, cols) == _rows(want, cols)
    assert len(_rows(got, cols)) > 0


def test_exactly_once_sink_resumes_from_checkpoint(spark, events_dir, tmp_path):
    from european_public_data_pipeline_spark.streaming.sinks import (
        write_stream_exactly_once,
    )

    # test-local source copy: the delta-arrival phase mutates it
    src = str(tmp_path / "src")
    spark.read.parquet(events_dir).write.parquet(src)
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    source_rows = spark.read.parquet(src).count()

    write_stream_exactly_once(read_events_stream(spark, src), sink, ckpt)
    assert spark.read.parquet(sink).count() == source_rows

    # Same checkpoint, no new input: the restarted query must commit
    # NOTHING new — exactly-once, not at-least-once.
    write_stream_exactly_once(read_events_stream(spark, src), sink, ckpt)
    assert spark.read.parquet(sink).count() == source_rows

    # New input arrives: only the delta lands after resume.
    spark.read.parquet(src).limit(100).write.mode("append").parquet(src)
    write_stream_exactly_once(read_events_stream(spark, src), sink, ckpt)
    assert spark.read.parquet(sink).count() == source_rows + 100


def test_stateful_running_totals_accumulates(spark, events_dir):
    stream = read_events_stream(spark, events_dir)
    got = run_available_now(
        running_user_totals(stream), "t_stateful", output_mode="update"
    ).orderBy("user_id")
    batch = spark.read.parquet(events_dir)
    want = (
        batch.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.max("ts").alias("last_ts"),
        )
        .orderBy("user_id")
    )
    # The memory sink in update mode keeps every emitted row; the LAST row
    # per user (max n_events) is the final state.
    final = (
        got.groupBy("user_id")
        .agg(F.max("n_events").alias("n_events"), F.max("last_ts").alias("last_ts"))
        .orderBy("user_id")
    )
    assert _rows(final, ["user_id", "n_events", "last_ts"]) == _rows(
        want, ["user_id", "n_events", "last_ts"]
    )


def test_upsert_stream_merges_latest_revision_per_key(spark, tmp_path):
    from european_public_data_pipeline_spark.pipeline import manifest as M
    from european_public_data_pipeline_spark.streaming.sinks import (
        upsert_stream_manifest,
    )

    src = str(tmp_path / "upsrc")
    target = str(tmp_path / "uptarget")
    ckpt = str(tmp_path / "upckpt")
    rev = "id INT, v STRING, ver INT"
    M.publish_version(spark.createDataFrame([(1, "a", 1), (2, "b", 1)], rev), target)

    def run():
        stream = spark.readStream.schema(rev).parquet(src)
        upsert_stream_manifest(
            stream, target, ckpt, keys=["id"], persist_changelog=False,
            dedupe_updates_by="ver",
        )

    # A revision batch arrives: key 1 revised twice (latest wins), key 3 new.
    spark.createDataFrame(
        [(1, "a2", 2), (1, "a3", 3), (3, "c", 1)], rev
    ).write.parquet(src)
    run()
    assert {(r.id, r.v, r.ver) for r in M.read_version(spark, target).collect()} == {
        (1, "a3", 3),
        (2, "b", 1),
        (3, "c", 1),
    }
    assert M.current_version(spark, target) == 2

    # Restart with the same checkpoint and no new input: nothing re-applies.
    run()
    assert M.current_version(spark, target) == 2
    assert M.read_version(spark, target).count() == 3


def test_ohlc_stream_equals_batch_and_q62(spark, events_dir):
    from european_public_data_pipeline_spark.streaming.windows import ohlc_agg

    batch = spark.read.parquet(events_dir)
    stream = read_events_stream(spark, events_dir)
    got = run_available_now(ohlc_agg(stream), "t_ohlc")
    want = ohlc_agg(batch)
    cols = ["window_start", "event_type", "open", "high", "low", "close", "n", "volume"]
    assert _rows(got, cols) == _rows(want, cols)
    assert len(_rows(got, cols)) > 0
    # min_by/max_by construction must agree with q62's row_number
    # construction on the same slice
    via_q62 = {
        (r["hour"], r["event_type"]): (r["open"], r["high"], r["low"], r["close"], r["n"])
        for r in _q62_on(spark, batch).collect()
    }
    via_stream = {
        (r["window_start"], r["event_type"]): (r["open"], r["high"], r["low"], r["close"], r["n"])
        for r in want.collect()
    }
    assert via_q62 == via_stream


def _q62_on(spark, events):
    """q62's row_number OHLC construction applied to an arbitrary events DF."""
    from pyspark.sql import Window as W

    from european_public_data_pipeline_spark.functions.exact import dsum

    e = events.select(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hour"),
        "ts", "event_id", "value",
    )
    wa = W.partitionBy("event_type", "hour").orderBy("ts", "event_id")
    wd = W.partitionBy("event_type", "hour").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        e.withColumn("rn_a", F.row_number().over(wa))
        .withColumn("rn_d", F.row_number().over(wd))
        .groupBy("event_type", "hour")
        .agg(
            F.max(F.when(F.col("rn_a") == 1, F.col("value"))).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max(F.when(F.col("rn_d") == 1, F.col("value"))).alias("close"),
            F.count(F.lit(1)).alias("n"),
            dsum("value").alias("volume"),
        )
    )


def test_streaming_twap_equals_batch(spark, events_dir):
    """q89's stream twin: the stateful per-key TWAP over an AvailableNow run
    must equal the batch lead()-window aggregate on the same slice —
    including the exact integer dot product, not just within tolerance."""
    from pyspark.sql import Window

    from european_public_data_pipeline_spark.streaming.stateful import streaming_twap

    stream = read_events_stream(spark, events_dir)
    got = (
        run_available_now(streaming_twap(stream), "t_twap", output_mode="update")
        .filter(F.col("held_us") > 0)
    )
    # "update" memory sink keeps every emitted row; the final state per user
    # is the row with the largest n_events (monotone accumulator).
    latest = got.groupBy("user_id").agg(
        F.max(F.struct("n_events", "held_us", "twap")).alias("s")
    ).select("user_id", "s.n_events", "s.held_us", "s.twap")

    batch = spark.read.parquet(events_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = batch.select(
        "user_id",
        F.round(F.col("value") * 100).cast("long").alias("v_c"),
        (F.lead(F.unix_micros("ts")).over(w) - F.unix_micros("ts")).alias("w_us"),
    ).filter(F.col("w_us").isNotNull())
    want = (
        seq.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("w_us").alias("held_us"),
            F.sum((F.col("v_c") * F.col("w_us")).cast("decimal(38,0)")).alias("vw"),
        )
        .filter(F.col("held_us") > 0)
        .select(
            "user_id",
            "n_events",
            "held_us",
            (F.col("vw").cast("double") / F.col("held_us").cast("double") / 100.0)
            .alias("twap"),
        )
    )
    cols = ["user_id", "n_events", "held_us", "twap"]
    assert _rows(latest, cols) == _rows(want, cols)
    # No late drops in an in-order single AvailableNow pass.
    assert got.agg(F.max("n_late")).collect()[0][0] == 0


def test_streaming_twap_drops_and_counts_late_rows(spark, tmp_path):
    """A row arriving behind a key's frontier in a LATER micro-batch cannot
    reopen the closed interval: it is dropped and counted, and the exact
    accumulators are unaffected. Two AvailableNow runs over an accreting
    source directory with a shared checkpoint exercise the state-store
    round-trip (including the string-carried big-int dot product)."""
    import datetime as dt

    from european_public_data_pipeline_spark.streaming.stateful import streaming_twap

    src = str(tmp_path / "src")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    schema = "event_id long, ts timestamp, user_id long, event_type string, value double, props string"

    def run():
        q = (
            streaming_twap(read_events_stream(spark, src))
            .writeStream.foreachBatch(
                lambda df, bid: df.write.mode("append").parquet(sink)
            )
            .option("checkpointLocation", ckpt)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    spark.createDataFrame(
        [
            (1, t0, 1, "view", 10.0, "{}"),
            (2, t0 + dt.timedelta(seconds=10), 1, "view", 20.0, "{}"),
            (3, t0 + dt.timedelta(seconds=30), 1, "view", 30.0, "{}"),
        ],
        schema,
    ).write.parquet(src)
    run()

    spark.createDataFrame(
        [
            (4, t0 + dt.timedelta(seconds=5), 1, "view", 99.0, "{}"),  # LATE
            (5, t0 + dt.timedelta(seconds=40), 1, "view", 40.0, "{}"),
        ],
        schema,
    ).write.mode("append").parquet(src)
    run()

    final = (
        spark.read.parquet(sink)
        .orderBy(F.desc("n_events"))
        .limit(1)
        .collect()[0]
    )
    # Gaps closed: 10s@10.00, 20s@20.00, 10s@30.00 — the late 99.0 never
    # enters; twap = (1000*1e7 + 2000*2e7 + 3000*1e7)/4e7/100 = 20.0 exactly.
    assert final["n_events"] == 3
    assert final["held_us"] == 40_000_000
    assert final["twap"] == 20.0
    assert final["n_late"] == 1


def test_streaming_twap_tied_ts_straddling_batches_is_late(spark, tmp_path):
    """A tied-timestamp event whose event_id orders BEFORE the frontier
    event, arriving in a LATER micro-batch, is behind the (ts, event_id)
    frontier: it must be dropped as late — not close a zero-width gap and
    replace the held value (ADVICE r4, stateful.py). The batch twin's
    ORDER BY ts, event_id places it before the frontier event, so its
    interval is zero-width either way; the held value going forward must
    stay the larger-event_id event's."""
    import datetime as dt

    from european_public_data_pipeline_spark.streaming.stateful import streaming_twap

    src = str(tmp_path / "src")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    schema = "event_id long, ts timestamp, user_id long, event_type string, value double, props string"

    def run():
        q = (
            streaming_twap(read_events_stream(spark, src))
            .writeStream.foreachBatch(
                lambda df, bid: df.write.mode("append").parquet(sink)
            )
            .option("checkpointLocation", ckpt)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    spark.createDataFrame(
        [
            (1, t0, 1, "view", 10.0, "{}"),
            (3, t0 + dt.timedelta(seconds=10), 1, "view", 30.0, "{}"),
        ],
        schema,
    ).write.parquet(src)
    run()

    # Tied ts (=frontier's 10s) but SMALLER event_id, in a later batch.
    spark.createDataFrame(
        [
            (2, t0 + dt.timedelta(seconds=10), 1, "view", 99.0, "{}"),
            (4, t0 + dt.timedelta(seconds=20), 1, "view", 40.0, "{}"),
        ],
        schema,
    ).write.mode("append").parquet(src)
    run()

    final = (
        spark.read.parquet(sink)
        .orderBy(F.desc("n_events"))
        .limit(1)
        .collect()[0]
    )
    # Gaps: 10s@10.00 then 10s@30.00 — event 2's 99.0 never becomes the
    # held value; twap = (1000*1e7 + 3000*1e7)/2e7/100 = 20.0 exactly.
    assert final["n_events"] == 2
    assert final["held_us"] == 20_000_000
    assert final["twap"] == 20.0
    assert final["n_late"] == 1


def test_dedup_within_watermark_collapses_restamped_replays(spark, events_dir, tmp_path):
    """Replays with a DRIFTED timestamp (re-stamped retry) must still
    collapse under dropDuplicatesWithinWatermark — the case key+ts
    dropDuplicates cannot handle (the drifted copy has a different ts and
    survives)."""
    from european_public_data_pipeline_spark.streaming.windows import (
        dedup_stream_within_watermark,
    )

    drift_dir = str(tmp_path / "events_drift")
    base = spark.read.parquet(events_dir)
    restamped = base.withColumn(
        "ts", F.col("ts") + F.expr("INTERVAL 90 SECONDS")
    )
    base.unionAll(restamped).repartition(6).write.parquet(drift_dir)

    stream = read_events_stream(spark, drift_dir)
    got = run_available_now(
        dedup_stream_within_watermark(stream), "t_dedup_wm", output_mode="append"
    )
    assert got.count() == base.count()  # every drifted replay collapsed
    # Control: key+ts dedup keeps the drifted copies (2x the rows).
    got_plain = run_available_now(
        dedup_stream(stream), "t_dedup_plain", output_mode="append"
    )
    assert got_plain.count() == 2 * base.count()


def test_streamed_manifest_ingest_carries_zone_maps(spark, events_dir, tmp_path):
    """foreachBatch -> append_version(stats_cols=...) per micro-batch: the
    accumulated manifest must carry per-file zone maps for EVERY batch's
    files (appends reference prior stats, never recompute them), and
    read_where over the streamed table must prune files while matching
    the plain batch filter row-for-row."""
    from european_public_data_pipeline_spark.pipeline.manifest import (
        _read_json,
        append_version,
        current_version,
        prune_files,
        read_where,
    )
    from european_public_data_pipeline_spark.streaming.windows import (
        read_events_stream,
    )

    table = str(tmp_path / "zm_table")

    def sink(batch_df, batch_id):
        append_version(
            batch_df.select("event_id", "user_id", "value"),
            table,
            stats_cols=("user_id",),
        )

    q = (
        read_events_stream(spark, events_dir)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    v = current_version(spark, table)
    m = _read_json(spark, f"{table}/manifest/{v:08d}.json")
    assert len(m["files"]) >= 1
    # Every committed file has a zone map (appends carried prior stats).
    assert all(_pk(f) in m["file_stats"] for f in m["files"])
    assert len(m["file_stats"]) == len(m["files"])

    got = sorted(
        r["event_id"]
        for r in read_where(spark, table, "user_id", 3, 5).collect()
    )
    want = sorted(
        r["event_id"]
        for r in spark.read.parquet(events_dir)
        .filter(F.col("user_id").between(3, 5))
        .collect()
    )
    assert got == want


def _pk(f):
    from european_public_data_pipeline_spark.pipeline.manifest import _path_key

    return _path_key(f)


def test_upsert_stream_manifest_cdc_and_replay_idempotence(spark, tmp_path):
    """The manifest-native streaming CDC sink: micro-batches land as
    COW merge commits with persisted changelogs, one pull refresh folds
    them all, and a REPLAYED batch (fresh checkpoint over the same
    feed) leaves the end state — table AND folded MV — unchanged."""
    from european_public_data_pipeline_spark.pipeline import manifest as M
    from european_public_data_pipeline_spark.pipeline.mv_refresh import (
        Measure,
        MVSpec,
        refresh_mv,
    )
    from european_public_data_pipeline_spark.streaming.sinks import (
        upsert_stream_manifest,
    )

    t = str(tmp_path / "tbl")
    mv = str(tmp_path / "mv")
    feed = str(tmp_path / "feed")
    base = spark.range(100).select(
        F.col("id").alias("k"),
        F.pmod(F.col("id"), F.lit(4)).alias("g"),
        (F.col("id") * 10).cast("double").alias("v"),
    )
    M.publish_version(
        base.repartitionByRange(4, "k").sortWithinPartitions("k"),
        t,
        stats_cols=("k",),
    )
    spec = MVSpec(
        group_keys=("g",),
        measures=(
            Measure("n", "count"),
            Measure("s", "sum", "CAST(ROUND(v * 100) AS BIGINT)"),
        ),
    )
    refresh_mv(spark, t, mv, spec)
    # One CDC batch: bump k in [0, 10), insert k in [1000, 1005).
    spark.createDataFrame(
        [(k, k % 4, k * 10 + 5.0) for k in range(10)]
        + [(k, k % 4, float(k)) for k in range(1000, 1005)],
        "k long, g long, v double",
    ).coalesce(1).write.parquet(feed)

    def run(ckpt):
        upsert_stream_manifest(
            spark.readStream.schema("k long, g long, v double").parquet(feed),
            t,
            ckpt,
            keys=["k"],
        )

    run(str(tmp_path / "ckpt1"))  # -> merge v2
    state_a = sorted(
        (r["k"], r["v"]) for r in M.read_version(spark, t).collect()
    )
    assert M.current_version(spark, t) == 2
    # REPLAY: a fresh checkpoint re-reads the same feed and re-merges
    # the same batch (the crash-retry shape). End state unchanged.
    run(str(tmp_path / "ckpt2"))  # -> merge v3, same rows
    state_b = sorted(
        (r["k"], r["v"]) for r in M.read_version(spark, t).collect()
    )
    assert state_b == state_a
    # The pull refresh folds BOTH changelogs (the replay's is net-zero)
    # and matches a direct recompute.
    refresh_mv(spark, t, mv, spec)
    assert M.version_meta(spark, mv)["refresh_mode"] == "changelog"
    got = {
        r["g"]: (r["n"], r["s"]) for r in M.read_version(spark, mv).collect()
    }
    want = {
        r["g"]: (r["n"], r["s"])
        for r in M.read_version(spark, t)
        .groupBy("g")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.expr("CAST(ROUND(v * 100) AS BIGINT)")).alias("s"),
        )
        .collect()
    }
    assert got == want


def test_upsert_stream_manifest_mor_mode_intra_batch_latest_wins(
    spark, tmp_path
):
    """ADVICE r12: one availableNow micro-batch carrying TWO revisions
    of a key (a coalesced backlog — routine) must land the later
    revision via dedupe_updates_by instead of crashing the stream; and
    mode='mor' lands each batch as a sidecar+images commit (no data
    file rewritten), with the persisted changelog still folding into
    the MV. Without dedupe_updates_by the duplicate still refuses."""
    from european_public_data_pipeline_spark.pipeline import manifest as M
    from european_public_data_pipeline_spark.pipeline.mv_refresh import (
        Measure,
        MVSpec,
        refresh_mv,
    )
    from european_public_data_pipeline_spark.streaming.sinks import (
        upsert_stream_manifest,
    )

    t = str(tmp_path / "tbl")
    mv = str(tmp_path / "mv")
    feed = str(tmp_path / "feed")
    base = spark.range(100).select(
        F.col("id").alias("k"),
        F.pmod(F.col("id"), F.lit(4)).alias("g"),
        (F.col("id") * 10).cast("double").alias("v"),
        F.lit(0).cast("long").alias("rev"),
    )
    M.publish_version(
        base.repartitionByRange(4, "k").sortWithinPartitions("k"),
        t,
        stats_cols=("k",),
    )
    m1_files = set(
        M._read_json(spark, f"{t}/manifest/00000001.json")["files"]
    )
    spec = MVSpec(
        group_keys=("g",),
        measures=(
            Measure("n", "count"),
            Measure("s", "sum", "CAST(ROUND(v * 100) AS BIGINT)"),
        ),
    )
    refresh_mv(spark, t, mv, spec)
    # ONE feed write = one availableNow batch with two revisions of
    # k=7 (rev 1 then rev 2) plus an insert.
    spark.createDataFrame(
        [(7, 3, 1.0, 1), (7, 3, 2.0, 2), (2000, 0, 9.0, 1)],
        "k long, g long, v double, rev long",
    ).coalesce(1).write.parquet(feed)

    def run(ckpt, **kw):
        upsert_stream_manifest(
            spark.readStream.schema(
                "k long, g long, v double, rev long"
            ).parquet(feed),
            t,
            ckpt,
            keys=["k"],
            **kw,
        )

    # Without latest-wins the duplicate refuses (stream surfaces it).
    with pytest.raises(Exception, match="duplicate key"):
        run(str(tmp_path / "ckpt0"), mode="mor")
    # With it: the later revision lands, as a MOR commit.
    run(str(tmp_path / "ckpt1"), mode="mor", dedupe_updates_by="rev")
    got = {r["k"]: r["v"] for r in M.read_version(spark, t).collect()}
    assert got[7] == 2.0 and got[2000] == 9.0 and len(got) == 101
    m_now = M._read_json(
        spark, f"{t}/manifest/{M.current_version(spark, t):08d}.json"
    )
    # MOR shape: every original data file carried untouched, one
    # sidecar entry for the matched key.
    assert m1_files <= set(m_now["files"])
    assert len(m_now.get("delete_files") or []) == 1
    # The persisted changelog keeps the MV fold incremental and exact.
    refresh_mv(spark, t, mv, spec)
    assert M.version_meta(spark, mv)["refresh_mode"] == "changelog"
    got_mv = {
        r["g"]: (r["n"], r["s"]) for r in M.read_version(spark, mv).collect()
    }
    want = {
        r["g"]: (r["n"], r["s"])
        for r in M.read_version(spark, t)
        .groupBy("g")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.expr("CAST(ROUND(v * 100) AS BIGINT)")).alias("s"),
        )
        .collect()
    }
    assert got_mv == want
    # COW mode with the same dedupe also lands latest-wins (the other
    # half of the advice): replay over a fresh checkpoint, end state
    # already correct -> idempotent.
    run(str(tmp_path / "ckpt2"), dedupe_updates_by="rev")
    got2 = {r["k"]: r["v"] for r in M.read_version(spark, t).collect()}
    assert got2 == got

"""Pull-based incremental MV refresh: manifest-log-driven deltas must
equal a full recompute, re-runs must be no-ops, and source rewrites must
trigger the documented full-recompute fallback."""

from __future__ import annotations

from pyspark.sql import functions as F

from european_public_data_pipeline_spark.pipeline.manifest import (
    append_version,
    compact,
    current_version,
    version_meta,
)
from european_public_data_pipeline_spark.pipeline.mv_refresh import (
    _partial,
    refresh_event_summary,
)
from european_public_data_pipeline_spark.tables import load_table


def _mv_rows(spark, mv_path):
    from european_public_data_pipeline_spark.pipeline.manifest import read_version

    return {
        r["event_type"]: (r["n_events"], r["sum_value_c"], r["first_ts"], r["last_ts"])
        for r in read_version(spark, mv_path).collect()
    }


def _direct(spark, src_path):
    from european_public_data_pipeline_spark.pipeline.manifest import read_version

    return {
        r["event_type"]: (r["n_events"], r["sum_value_c"], r["first_ts"], r["last_ts"])
        for r in _partial(read_version(spark, src_path)).collect()
    }


def test_incremental_refresh_equals_full_recompute(spark, sf_small, tmp_path):
    ev = load_table(spark, sf_small, "events").select("event_type", "value", "ts")
    src = str(tmp_path / "src")
    mv = str(tmp_path / "mv")
    thirds = [ev.filter(F.col("value") % 3 == i) for i in (0, 1, 2)]

    append_version(thirds[0], src)
    assert refresh_event_summary(spark, src, mv) == 1
    append_version(thirds[1], src)
    append_version(thirds[2], src)
    assert refresh_event_summary(spark, src, mv) == 3
    assert _mv_rows(spark, mv) == _direct(spark, src)

    # No new source version: refresh is a no-op, MV version unchanged.
    v_before = current_version(spark, mv)
    assert refresh_event_summary(spark, src, mv) == 3
    assert current_version(spark, mv) == v_before
    assert version_meta(spark, mv)["applied_src_version"] == 3


def test_refresh_reads_each_manifest_once(spark, sf_small, tmp_path, monkeypatch):
    """An incremental refresh over a 3-link append chain reads N + 2 = 5
    manifests: the MV's head, the source's applied version and each
    link's (the last link is the source head) — none twice."""
    import european_public_data_pipeline_spark.pipeline.manifest as M
    import european_public_data_pipeline_spark.pipeline.mv_refresh as MV

    ev = load_table(spark, sf_small, "events").select("event_type", "value", "ts")
    src = str(tmp_path / "src")
    mv = str(tmp_path / "mv")
    quarters = [
        ev.filter(F.pmod(F.xxhash64("event_type", "value", "ts"), F.lit(4)) == i)
        for i in range(4)
    ]
    append_version(quarters[0], src)
    refresh_event_summary(spark, src, mv)
    for q in quarters[1:]:
        append_version(q, src)
    reads = []
    real = M._read_manifest

    def spy(spark_, table_path, v):
        reads.append((table_path, v))
        return real(spark_, table_path, v)

    monkeypatch.setattr(M, "_read_manifest", spy)
    monkeypatch.setattr(MV, "_read_manifest", spy)
    assert refresh_event_summary(spark, src, mv) == 4
    monkeypatch.undo()
    assert sorted(reads) == sorted([(mv, 1)] + [(src, v) for v in (1, 2, 3, 4)])
    assert version_meta(spark, mv)["refresh_mode"] == "incremental"
    assert _mv_rows(spark, mv) == _direct(spark, src)


def test_source_rewrite_falls_back_to_full_recompute(spark, sf_small, tmp_path):
    from european_public_data_pipeline_spark.pipeline.manifest import (
        publish_version,
    )

    ev = load_table(spark, sf_small, "events").select("event_type", "value", "ts")
    src = str(tmp_path / "src")
    mv = str(tmp_path / "mv")
    append_version(ev.filter(F.col("value") < 100), src)
    refresh_event_summary(spark, src, mv)
    # Rewrite the source with an OVERWRITE commit (no row-preservation
    # guarantee — unlike compact's tagged replace, which the chain walk
    # may skip): the refresh must take the full-recompute branch.
    publish_version(ev, src)
    v = refresh_event_summary(spark, src, mv)
    assert v == current_version(spark, src)
    assert _mv_rows(spark, mv) == _direct(spark, src)
    assert version_meta(spark, mv)["refresh_mode"] == "full"


def test_compact_in_chain_stays_incremental(spark, sf_small, tmp_path):
    """The commit-kind tag at work: append -> refresh -> append ->
    compact -> append -> refresh must take the incremental branch both
    times — a routine compaction preserves every row, so treating it as
    a hazard would force the O(source) rebuild the tag exists to avoid.
    A replace-ONLY chain advances the watermark without touching MV
    state, and the result always equals the direct recompute."""
    ev = load_table(spark, sf_small, "events").select("event_type", "value", "ts")
    src = str(tmp_path / "src")
    mv = str(tmp_path / "mv")
    thirds = [ev.filter(F.col("value") % 3 == i) for i in (0, 1, 2)]

    append_version(thirds[0], src)
    refresh_event_summary(spark, src, mv)
    append_version(thirds[1], src)
    refresh_event_summary(spark, src, mv)
    assert version_meta(spark, mv)["refresh_mode"] == "incremental"

    compact(spark, src, target_files=2)
    append_version(thirds[2], src)
    refresh_event_summary(spark, src, mv)
    assert version_meta(spark, mv)["refresh_mode"] == "incremental"
    assert _mv_rows(spark, mv) == _direct(spark, src)

    # Replace-only chain: nothing to aggregate — watermark advance only.
    compact(spark, src, target_files=1)
    v = refresh_event_summary(spark, src, mv)
    assert v == current_version(spark, src)
    assert version_meta(spark, mv)["refresh_mode"] == "incremental"
    assert version_meta(spark, mv)["applied_src_version"] == v
    assert _mv_rows(spark, mv) == _direct(spark, src)


def test_chain_delta_survives_widen_and_evolution(spark, tmp_path):
    """Delta segments are read with their OWN version's schema and
    conformed to the head schema: a post-widen head says BIGINT while
    pre-widen delta files hold INT32, and pre-evolution segments lack
    later columns entirely (NULL backfill). The fold must equal the
    direct recompute across both."""
    from european_public_data_pipeline_spark.pipeline.manifest import (
        widen_column,
    )
    from european_public_data_pipeline_spark.pipeline.mv_refresh import (
        Measure,
        MVSpec,
        refresh_mv,
    )

    spec = MVSpec(
        group_keys=("g",),
        measures=(Measure("n", "count"), Measure("s", "sum", "v")),
    )
    rows = spark.range(90).select(
        (F.col("id") % 5).alias("g"),
        F.col("id").cast("int").alias("v"),
        (F.col("id") % 3).alias("seg"),
    )
    src = str(tmp_path / "src")
    mv = str(tmp_path / "mv")
    append_version(rows.filter("seg = 0").select("g", "v"), src)
    refresh_mv(spark, src, mv, spec)
    # Append at INT, then widen v -> BIGINT, then append naturally-wide
    # rows WITH a new column: the un-applied delta now spans an INT
    # segment, a replace, and a post-evolution BIGINT segment.
    append_version(rows.filter("seg = 1").select("g", "v"), src)
    widen_column(spark, src, "v", "bigint")
    append_version(
        rows.filter("seg = 2").select(
            "g", F.col("v").cast("bigint").alias("v"), F.lit("x").alias("tag")
        ),
        src,
    )
    refresh_mv(spark, src, mv, spec)
    assert version_meta(spark, mv)["refresh_mode"] == "incremental"
    from european_public_data_pipeline_spark.pipeline.manifest import (
        read_version,
    )

    got = {
        r["g"]: (r["n"], r["s"]) for r in read_version(spark, mv).collect()
    }
    want = {
        r["g"]: (r["n"], r["s"])
        for r in rows.groupBy("g")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("s"))
        .collect()
    }
    assert got == want


def test_purge_between_refreshes_rebuilds_mv(spark, sf_small, tmp_path):
    """purge_rows rewrites history in place WITHOUT bumping versions; the
    MV must detect the applied manifest's file list changing under it
    and rebuild — even with no new source version — or it would serve
    legally-erased rows forever."""
    from european_public_data_pipeline_spark.pipeline.manifest import (
        append_version,
        purge_rows,
    )

    ev = load_table(spark, sf_small, "events").select(
        "event_type", "value", "ts", "user_id"
    )
    src = str(tmp_path / "src")
    mv = str(tmp_path / "mv")
    append_version(ev, src, stats_cols=("user_id",))
    refresh_event_summary(spark, src, mv)
    before = _mv_rows(spark, mv)

    purge_rows(spark, src, "user_id", [3])
    # No new source version — a naive watermark check would no-op here.
    refresh_event_summary(spark, src, mv)
    after = _mv_rows(spark, mv)
    assert after == _direct(spark, src)
    assert after != before  # user 3's rows are gone from the aggregate


# ---------------------------------------------------------------------------
# the declarative MVSpec layer (round 10): one engine, any shape


def test_mvspec_refuses_non_reaggregable_measures():
    import pytest

    from european_public_data_pipeline_spark.pipeline.mv_refresh import (
        Measure,
        MVSpec,
    )

    with pytest.raises(ValueError, match="re-aggregable"):
        Measure("avg_v", "avg", "value")
    with pytest.raises(ValueError, match="re-aggregable"):
        Measure("nd", "count_distinct", "user_id")
    with pytest.raises(ValueError, match="needs an expr"):
        Measure("s", "sum")
    with pytest.raises(ValueError, match="at least one"):
        MVSpec(group_keys=(), measures=(Measure("n", "count"),))
    with pytest.raises(ValueError, match="at least one"):
        MVSpec(group_keys=("k",), measures=())
    with pytest.raises(ValueError, match="collide"):
        MVSpec(
            group_keys=("k",),
            measures=(Measure("k", "count"),),  # clashes with a key
        )
    with pytest.raises(ValueError, match="collide"):
        MVSpec(
            group_keys=("k",),
            measures=(Measure("n", "count"), Measure("n", "sum", "v")),
        )


def test_second_shape_incremental_equals_recompute(spark, sf_small, tmp_path):
    """A spec the engine never saw hard-coded: per-user counts + exact
    money + first/last seen, maintained incrementally over appends and
    equal to a direct recompute at every step."""
    from european_public_data_pipeline_spark.pipeline.manifest import (
        read_version,
        version_meta,
    )
    from european_public_data_pipeline_spark.pipeline.mv_refresh import (
        Measure,
        MVSpec,
        refresh_mv,
    )

    spec = MVSpec(
        group_keys=("user_id",),
        measures=(
            Measure("n", "count"),
            Measure("sum_c", "sum", "CAST(ROUND(value * 100) AS BIGINT)"),
            Measure("first_ts", "min", "ts"),
            Measure("last_ts", "max", "ts"),
        ),
    )
    ev = load_table(spark, sf_small, "events").select("user_id", "value", "ts")
    src = str(tmp_path / "src")
    mv = str(tmp_path / "mv")
    thirds = [ev.filter(F.col("user_id") % 3 == i) for i in (0, 1, 2)]

    def mv_rows():
        return {
            r["user_id"]: (r["n"], r["sum_c"], r["first_ts"], r["last_ts"])
            for r in read_version(spark, mv).collect()
        }

    def direct():
        return {
            r["user_id"]: (r["n"], r["sum_c"], r["first_ts"], r["last_ts"])
            for r in spec.partial(read_version(spark, src)).collect()
        }

    append_version(thirds[0], src)
    assert refresh_mv(spark, src, mv, spec) == 1
    assert mv_rows() == direct()
    append_version(thirds[1], src)
    append_version(thirds[2], src)
    assert refresh_mv(spark, src, mv, spec) == 3
    assert version_meta(spark, mv)["refresh_mode"] == "incremental"
    assert mv_rows() == direct()
    # Commit-kind tags apply to ANY shape: a compaction is a tagged
    # row-preserving replace, so the chain stays incremental (round 11;
    # before op tags this forced a full rebuild) — while a true
    # overwrite still rebuilds.
    compact(spark, src, target_files=2)
    append_version(thirds[0].limit(0), src)  # bump version, empty delta
    refresh_mv(spark, src, mv, spec)
    assert version_meta(spark, mv)["refresh_mode"] == "incremental"
    assert mv_rows() == direct()
    from european_public_data_pipeline_spark.pipeline.manifest import (
        publish_version,
    )

    publish_version(read_version(spark, src), src)
    refresh_mv(spark, src, mv, spec)
    assert version_meta(spark, mv)["refresh_mode"] == "full"
    assert mv_rows() == direct()


def test_event_summary_is_the_spec_engine(spark, sf_small, tmp_path):
    """refresh_event_summary must be the generic engine driving
    EVENT_SUMMARY_SPEC — same results, same meta protocol."""
    from european_public_data_pipeline_spark.pipeline.mv_refresh import (
        EVENT_SUMMARY_SPEC,
        refresh_mv,
    )

    ev = load_table(spark, sf_small, "events").select("event_type", "value", "ts")
    src = str(tmp_path / "src")
    mv_a = str(tmp_path / "mv_a")
    mv_b = str(tmp_path / "mv_b")
    append_version(ev.filter(F.col("value") < 100), src)
    append_version(ev.filter(F.col("value") >= 100), src)
    refresh_event_summary(spark, src, mv_a)
    refresh_mv(spark, src, mv_b, EVENT_SUMMARY_SPEC)
    assert _mv_rows(spark, mv_a) == _mv_rows(spark, mv_b)
    assert version_meta(spark, mv_a)["applied_src_version"] == version_meta(
        spark, mv_b
    )["applied_src_version"]


# ---------------------------------------------------------------------------
# changelog-applied MV maintenance (round 10): the row-level path


def _clog_spec():
    from european_public_data_pipeline_spark.pipeline.mv_refresh import (
        Measure,
        MVSpec,
    )

    return MVSpec(
        group_keys=("g",),
        measures=(
            Measure("n", "count"),
            Measure("s", "sum", "v"),
        ),
    )


def test_changelog_apply_reads_the_mv_head_once(spark, tmp_path, monkeypatch):
    """apply_changelog_mv reads the MV's LATEST pointer and its head
    manifest once each: the replay guard, the carried meta and the stored
    state all come from that one manifest."""
    import european_public_data_pipeline_spark.pipeline.manifest as M
    from european_public_data_pipeline_spark.pipeline.mv_refresh import (
        apply_changelog_mv,
    )

    spec = _clog_spec()
    mv = str(tmp_path / "mv")
    rows = "g string, v long, __w int"
    apply_changelog_mv(spark, mv, spark.createDataFrame([("a", 1, 1)], rows), spec)
    reads = []
    real = M._read_json

    def spy(spark_, path_str):
        reads.append(path_str)
        return real(spark_, path_str)

    monkeypatch.setattr(M, "_read_json", spy)
    assert apply_changelog_mv(
        spark, mv, spark.createDataFrame([("a", 2, 1)], rows), spec
    ) == 2
    monkeypatch.undo()
    assert sorted(reads) == [f"{mv}/LATEST.json", f"{mv}/manifest/00000001.json"]
    assert [(r["n"], r["s"]) for r in M.read_version(spark, mv).collect()] == [(2, 3)]


def test_changelog_refuses_non_invertible_and_countless_specs(spark, tmp_path):
    import pytest

    from european_public_data_pipeline_spark.pipeline.mv_refresh import (
        Measure,
        MVSpec,
        apply_changelog_mv,
    )

    log = spark.createDataFrame([("a", 1, 1)], "g string, v long, __w int")
    with_minmax = MVSpec(
        group_keys=("g",),
        measures=(Measure("n", "count"), Measure("mx", "max", "v")),
    )
    with pytest.raises(ValueError, match="invertible"):
        apply_changelog_mv(spark, str(tmp_path / "mv1"), log, with_minmax)
    sum_only = MVSpec(
        group_keys=("g",), measures=(Measure("s", "sum", "v"),)
    )
    with pytest.raises(ValueError, match="count measure"):
        apply_changelog_mv(spark, str(tmp_path / "mv2"), log, sum_only)


def test_changelog_fold_equals_recompute_with_deletes_and_updates(
    spark, tmp_path
):
    from european_public_data_pipeline_spark.pipeline.manifest import (
        read_version,
        version_meta,
        versions,
    )
    from european_public_data_pipeline_spark.pipeline.mv_refresh import (
        apply_changelog_mv,
    )

    spec = _clog_spec()
    mv = str(tmp_path / "mv")
    # State 1: {a: [1,2], b: [10]} via an all-inserts changelog.
    apply_changelog_mv(
        spark,
        mv,
        spark.createDataFrame(
            [("a", 1, 1), ("a", 2, 1), ("b", 10, 1)], "g string, v long, __w int"
        ),
        spec,
    )
    got = {r["g"]: (r["n"], r["s"]) for r in read_version(spark, mv).collect()}
    assert got == {"a": (2, 3), "b": (1, 10)}

    # Changelog 2: update a:2 -> a:5 (two images), delete b:10 entirely,
    # insert c:7. Group b must RETIRE from the view (count refcount 0).
    apply_changelog_mv(
        spark,
        mv,
        spark.createDataFrame(
            [("a", 2, -1), ("a", 5, 1), ("b", 10, -1), ("c", 7, 1)],
            "g string, v long, __w int",
        ),
        spec,
    )
    got = {r["g"]: (r["n"], r["s"]) for r in read_version(spark, mv).collect()}
    assert got == {"a": (2, 6), "c": (1, 7)}
    assert version_meta(spark, mv)["refresh_mode"] == "changelog"

    # Empty changelog: no new MV version is committed.
    v = versions(spark, mv)[-1]
    empty = spark.createDataFrame([], "g string, v long, __w int")
    assert apply_changelog_mv(spark, mv, empty, spec) == v
    assert versions(spark, mv)[-1] == v


# ---------------------------------------------------------------------------
# round 11: targeted min/max changelog recompute, replay guard, invariant


def _minmax_spec():
    from european_public_data_pipeline_spark.pipeline.mv_refresh import (
        Measure,
        MVSpec,
    )

    return MVSpec(
        group_keys=("g",),
        measures=(
            Measure("n", "count"),
            Measure("s", "sum", "v"),
            Measure("mn", "min", "v"),
            Measure("mx", "max", "v"),
        ),
    )


def test_changelog_minmax_targeted_recompute_equals_full(spark, tmp_path):
    """Extremum deletes recompute ONLY the tied groups from the source;
    the end state must be bit-parity with a direct recompute — including
    a group whose min AND max both left, a group untouched, a group
    that only gained rows, and a group retired entirely."""
    from european_public_data_pipeline_spark.pipeline.manifest import (
        read_version,
        version_meta,
    )
    from european_public_data_pipeline_spark.pipeline.mv_refresh import (
        apply_changelog_mv,
    )

    spec = _minmax_spec()
    mv = str(tmp_path / "mv")
    base = spark.createDataFrame(
        [("a", 1), ("a", 5), ("a", 9), ("b", 10), ("b", 20), ("c", 7),
         ("d", 3), ("d", 4)],
        "g string, v long",
    )
    apply_changelog_mv(
        spark, mv, base.withColumn("__w", F.lit(1)), spec, source=base
    )
    # a: delete both extrema (1 and 9) -> recompute from source;
    # b: insert 25 (max moves via merge, no recompute needed);
    # c: untouched; d: delete everything -> retire.
    post = spark.createDataFrame(
        [("a", 5), ("b", 10), ("b", 20), ("b", 25), ("c", 7)],
        "g string, v long",
    )
    log = spark.createDataFrame(
        [("a", 1, -1), ("a", 9, -1), ("b", 25, 1), ("d", 3, -1), ("d", 4, -1)],
        "g string, v long, __w int",
    )
    apply_changelog_mv(spark, mv, log, spec, source=post)
    got = {
        r["g"]: (r["n"], r["s"], r["mn"], r["mx"])
        for r in read_version(spark, mv).collect()
    }
    want = {
        r["g"]: (r["n"], r["s"], r["mn"], r["mx"])
        for r in post.groupBy("g")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("v").alias("s"),
            F.min("v").alias("mn"),
            F.max("v").alias("mx"),
        )
        .collect()
    }
    assert got == want
    meta = version_meta(spark, mv)
    # a's two extremum deletes and d's (3=min, 4=max both tie) dirty
    # exactly two groups; b's insert and the non-tying deletes do not.
    assert meta["n_dirty_groups"] == 2
    assert meta["refresh_mode"] == "changelog"


def test_changelog_minmax_without_source_still_refuses(spark, tmp_path):
    import pytest

    from european_public_data_pipeline_spark.pipeline.mv_refresh import (
        apply_changelog_mv,
    )

    log = spark.createDataFrame([("a", 1, 1)], "g string, v long, __w int")
    with pytest.raises(ValueError, match="invertible"):
        apply_changelog_mv(spark, str(tmp_path / "mv"), log, _minmax_spec())


def test_changelog_replay_guard_noop_on_same_or_older_id(spark, tmp_path):
    """A driver retry (crash between publish and progress recording) or
    scheduler double-fire re-applies the same changelog — with an id the
    second apply is a no-op instead of silently double-counting."""
    from european_public_data_pipeline_spark.pipeline.manifest import (
        read_version,
        versions,
    )
    from european_public_data_pipeline_spark.pipeline.mv_refresh import (
        Measure,
        MVSpec,
        apply_changelog_mv,
    )

    spec = MVSpec(
        group_keys=("g",),
        measures=(Measure("n", "count"), Measure("s", "sum", "v")),
    )
    mv = str(tmp_path / "mv")
    log = spark.createDataFrame([("a", 1, 1)], "g string, v long, __w int")
    v1 = apply_changelog_mv(spark, mv, log, spec, changelog_id=7)
    assert apply_changelog_mv(spark, mv, log, spec, changelog_id=7) == v1
    assert apply_changelog_mv(spark, mv, log, spec, changelog_id=3) == v1
    assert versions(spark, mv)[-1] == v1  # replays committed nothing
    got = {r["g"]: (r["n"], r["s"]) for r in read_version(spark, mv).collect()}
    assert got == {"a": (1, 1)}
    v2 = apply_changelog_mv(spark, mv, log, spec, changelog_id=8)
    assert v2 > v1
    got = {r["g"]: (r["n"], r["s"]) for r in read_version(spark, mv).collect()}
    assert got == {"a": (2, 2)}


def test_changelog_weight_invariant_names_offending_keys(spark, tmp_path):
    """An update missing one of its two images is the classic silent
    MV-skew bug: with key_cols the per-key weight-sum check catches it
    loudly, naming the keys."""
    import pytest

    from european_public_data_pipeline_spark.pipeline.mv_refresh import (
        Measure,
        MVSpec,
        apply_changelog_mv,
    )

    spec = MVSpec(
        group_keys=("g",),
        measures=(Measure("n", "count"), Measure("s", "sum", "v")),
    )
    # Key 42 appears twice with +1 (a double-fired insert / update
    # missing its delete image): weight sum 2 is outside {-1,0,1}.
    bad = spark.createDataFrame(
        [(42, "a", 1, 1), (42, "a", 1, 1), (43, "a", 2, 1)],
        "k long, g string, v long, __w int",
    )
    with pytest.raises(ValueError, match="weight sums.*42"):
        apply_changelog_mv(
            spark, str(tmp_path / "mv"), bad, spec, key_cols=("k",)
        )
    # A well-formed changelog passes the same check.
    ok = spark.createDataFrame(
        [(42, "a", 1, -1), (42, "a", 3, 1), (43, "a", 2, 1)],
        "k long, g string, v long, __w int",
    )
    apply_changelog_mv(spark, str(tmp_path / "mv2"), ok, spec, key_cols=("k",))


def test_changelog_same_batch_insert_delete_extremum(spark, tmp_path):
    """A row inserted AND deleted within one batch ties only the
    DELTA's bound, not the stored one — the tie probe runs against the
    merged bounds, so the MV never carries an extremum for a value
    absent from the source (code-review round 11). Covers the stored
    case and the first-build case."""
    from european_public_data_pipeline_spark.pipeline.manifest import (
        read_version,
    )
    from european_public_data_pipeline_spark.pipeline.mv_refresh import (
        apply_changelog_mv,
    )

    spec = _minmax_spec()
    # Stored case: g={5,10}; batch inserts 3, deletes 3, inserts 4.
    mv = str(tmp_path / "mv")
    base = spark.createDataFrame([("g", 5), ("g", 10)], "g string, v long")
    apply_changelog_mv(
        spark, mv, base.withColumn("__w", F.lit(1)), spec, source=base
    )
    post = spark.createDataFrame(
        [("g", 5), ("g", 10), ("g", 4)], "g string, v long"
    )
    log = spark.createDataFrame(
        [("g", 3, 1), ("g", 3, -1), ("g", 4, 1)], "g string, v long, __w int"
    )
    apply_changelog_mv(spark, mv, log, spec, source=post)
    row = read_version(spark, mv).collect()[0]
    assert (row["n"], row["s"], row["mn"], row["mx"]) == (3, 19, 4, 10)
    # First-build case: one batch, insert 3 then delete it, insert 4.
    mv2 = str(tmp_path / "mv2")
    post2 = spark.createDataFrame([("h", 4)], "g string, v long")
    log2 = spark.createDataFrame(
        [("h", 3, 1), ("h", 3, -1), ("h", 4, 1)], "g string, v long, __w int"
    )
    apply_changelog_mv(spark, mv2, log2, spec, source=post2)
    row2 = read_version(spark, mv2).collect()[0]
    assert (row2["n"], row2["s"], row2["mn"], row2["mx"]) == (1, 4, 4, 4)


def test_changelog_weight_invariant_catches_null_weights(spark, tmp_path):
    import pytest

    from european_public_data_pipeline_spark.pipeline.mv_refresh import (
        Measure,
        MVSpec,
        apply_changelog_mv,
    )

    spec = MVSpec(
        group_keys=("g",),
        measures=(Measure("n", "count"), Measure("s", "sum", "v")),
    )
    bad = spark.createDataFrame(
        [(1, "a", 1, None), (2, "a", 2, 1)],
        "k long, g string, v long, __w int",
    )
    with pytest.raises(ValueError, match="weight sums"):
        apply_changelog_mv(
            spark, str(tmp_path / "mv"), bad, spec, key_cols=("k",)
        )


def test_changelog_replay_watermark_survives_idless_apply(spark, tmp_path):
    """An apply WITHOUT an id must carry the applied-changelog
    watermark forward — otherwise a later retry of an already-applied
    id would sail through the guard and double-apply."""
    from european_public_data_pipeline_spark.pipeline.manifest import (
        read_version,
    )
    from european_public_data_pipeline_spark.pipeline.mv_refresh import (
        Measure,
        MVSpec,
        apply_changelog_mv,
    )

    spec = MVSpec(
        group_keys=("g",),
        measures=(Measure("n", "count"), Measure("s", "sum", "v")),
    )
    mv = str(tmp_path / "mv")
    log = spark.createDataFrame([("a", 1, 1)], "g string, v long, __w int")
    apply_changelog_mv(spark, mv, log, spec, changelog_id=7)
    apply_changelog_mv(spark, mv, log, spec)  # ad-hoc, no id
    v = apply_changelog_mv(spark, mv, log, spec, changelog_id=7)  # retry
    got = {r["g"]: (r["n"], r["s"]) for r in read_version(spark, mv).collect()}
    assert got == {"a": (2, 2)}  # the id=7 retry no-opped
    from european_public_data_pipeline_spark.pipeline.manifest import (
        versions,
    )

    assert versions(spark, mv)[-1] == v


def test_refresh_mv_folds_persisted_merge_changelog(spark, tmp_path):
    """The Delta-CDF loop inside refresh_mv itself: a chain of append +
    COW-merge-with-persisted-changelog + append refreshes in ONE
    'changelog' pass (mode from committed meta) at parity with a direct
    recompute — including min/max moved by the merge — and a re-run is
    a no-op."""
    from european_public_data_pipeline_spark.pipeline.cow_merge import (
        merge_into_manifest,
    )
    from european_public_data_pipeline_spark.pipeline.manifest import (
        publish_version,
        read_version,
        versions,
    )
    from european_public_data_pipeline_spark.pipeline.mv_refresh import (
        Measure,
        MVSpec,
        refresh_mv,
    )

    spec = MVSpec(
        group_keys=("g",),
        measures=(
            Measure("n", "count"),
            Measure("s", "sum", "v"),
            Measure("mn", "min", "v"),
            Measure("mx", "max", "v"),
        ),
    )
    src = str(tmp_path / "src")
    mv = str(tmp_path / "mv")
    base = spark.range(300).select(
        F.col("id").alias("k"),
        F.pmod(F.col("id"), F.lit(5)).alias("g"),
        (F.col("id") * 10).alias("v"),
    )
    publish_version(
        base.repartitionByRange(4, "k").sortWithinPartitions("k"),
        src,
        stats_cols=("k",),
    )
    assert refresh_mv(spark, src, mv, spec) == 1
    assert version_meta(spark, mv)["refresh_mode"] == "full"
    # v2: append; v3: merge (updates move group extrema: k=0 holds the
    # global minimum v=0; deletes empty nothing but shrink groups);
    # v4: append again.
    append_version(
        spark.range(300, 350).select(
            F.col("id").alias("k"),
            F.pmod(F.col("id"), F.lit(5)).alias("g"),
            (F.col("id") * 10).alias("v"),
        ),
        src,
    )
    updates = spark.createDataFrame(
        [(k, k % 5, k * 10 + 7) for k in range(0, 20)]
        + [(k, k % 5, k) for k in range(1000, 1010)],
        "k long, g long, v long",
    )
    deletes = spark.createDataFrame([(25,), (26,)], "k long")
    merged_out = merge_into_manifest(
        spark, src, updates, keys=["k"], deletes=deletes,
        persist_changelog=True,
    )
    assert merged_out["version"] == 3
    append_version(
        spark.range(2000, 2040).select(
            F.col("id").alias("k"),
            F.pmod(F.col("id"), F.lit(5)).alias("g"),
            (F.col("id") * 10).alias("v"),
        ),
        src,
    )
    assert refresh_mv(spark, src, mv, spec) == 4
    meta = version_meta(spark, mv)
    assert meta["refresh_mode"] == "changelog"
    assert meta["applied_changelog_id"] == 4  # source version as cl id
    got = {
        r["g"]: (r["n"], r["s"], r["mn"], r["mx"])
        for r in read_version(spark, mv).collect()
    }
    want = {
        r["g"]: (r["n"], r["s"], r["mn"], r["mx"])
        for r in read_version(spark, src)
        .groupBy("g")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("v").alias("s"),
            F.min("v").alias("mn"),
            F.max("v").alias("mx"),
        )
        .collect()
    }
    assert got == want
    # Idempotent: nothing new, no commit.
    v_before = versions(spark, mv)[-1]
    assert refresh_mv(spark, src, mv, spec) == 4
    assert versions(spark, mv)[-1] == v_before


def test_refresh_mv_opaque_overwrite_still_full(spark, tmp_path):
    """A merge WITHOUT persist_changelog stays an opaque overwrite: the
    chain walk cannot fold it and refresh_mv full-recomputes (mode
    literal pinned), at parity with recompute."""
    from european_public_data_pipeline_spark.pipeline.cow_merge import (
        merge_into_manifest,
    )
    from european_public_data_pipeline_spark.pipeline.manifest import (
        publish_version,
        read_version,
    )
    from european_public_data_pipeline_spark.pipeline.mv_refresh import (
        Measure,
        MVSpec,
        refresh_mv,
    )

    spec = MVSpec(
        group_keys=("g",),
        measures=(Measure("n", "count"), Measure("s", "sum", "v")),
    )
    src = str(tmp_path / "src")
    mv = str(tmp_path / "mv")
    base = spark.range(100).select(
        F.col("id").alias("k"),
        F.pmod(F.col("id"), F.lit(3)).alias("g"),
        (F.col("id") * 10).alias("v"),
    )
    publish_version(base, src, stats_cols=("k",))
    refresh_mv(spark, src, mv, spec)
    merge_into_manifest(
        spark,
        src,
        spark.createDataFrame([(5, 2, 999)], "k long, g long, v long"),
        keys=["k"],
    )
    refresh_mv(spark, src, mv, spec)
    assert version_meta(spark, mv)["refresh_mode"] == "full"
    got = {
        r["g"]: (r["n"], r["s"]) for r in read_version(spark, mv).collect()
    }
    want = {
        r["g"]: (r["n"], r["s"])
        for r in read_version(spark, src)
        .groupBy("g")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("s"))
        .collect()
    }
    assert got == want


def test_refresh_mv_carries_changelog_watermark_forward(spark, tmp_path):
    """ADVICE r11: refresh_mv must not ERASE the replay watermark
    apply_changelog_mv stored — a retry of an already-applied id after
    an interleaved refresh_mv commit must still no-op. The side-channel
    id (9, from an orchestrator — not a source version) is declared
    with id_space='foreign' (ADVICE r12): it lands in its own meta key,
    so refresh_mv carries it without mistaking it for a source-version
    chain watermark."""
    from european_public_data_pipeline_spark.pipeline.manifest import (
        append_version as av,
        publish_version,
        read_version,
        versions,
    )
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
    src = str(tmp_path / "src")
    mv = str(tmp_path / "mv")
    publish_version(
        spark.createDataFrame([(1, "a", 10)], "k long, g string, v long"),
        src,
    )
    refresh_mv(spark, src, mv, spec)
    # A side-channel changelog applied with a foreign-space id=9.
    log = spark.createDataFrame([("b", 5, 1)], "g string, v long, __w int")
    apply_changelog_mv(spark, mv, log, spec, changelog_id=9, id_space="foreign")
    # refresh_mv commits again (incremental append) — watermark carried.
    av(spark.createDataFrame([(2, "a", 20)], "k long, g string, v long"), src)
    refresh_mv(spark, src, mv, spec)
    meta = version_meta(spark, mv)
    assert meta["applied_foreign_changelog_id"] == 9
    # The source-version watermark advanced to src_v, UNpolluted by the
    # foreign id — the chain walk's skip logic stays sound.
    assert meta["applied_changelog_id"] == 2
    v_before = versions(spark, mv)[-1]
    apply_changelog_mv(  # retry
        spark, mv, log, spec, changelog_id=9, id_space="foreign"
    )
    assert versions(spark, mv)[-1] == v_before  # no-op, not double-applied
    got = {
        r["g"]: (r["n"], r["s"]) for r in read_version(spark, mv).collect()
    }
    assert got == {"a": (2, 30), "b": (1, 5)}


def test_refresh_full_mode_advances_changelog_watermark(spark, tmp_path):
    """A full (or incremental) refresh absorbs the source THROUGH
    src_v — a delayed writer push of a merge changelog with
    changelog_id = that merge's source version must then no-op, or its
    weights double-apply on top of the recompute."""
    from european_public_data_pipeline_spark.pipeline.cow_merge import (
        merge_into_manifest,
    )
    from european_public_data_pipeline_spark.pipeline.manifest import (
        publish_version,
        read_version,
        versions,
    )
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
    src = str(tmp_path / "src")
    mv = str(tmp_path / "mv")
    publish_version(
        spark.range(60).select(
            F.col("id").alias("k"),
            F.pmod(F.col("id"), F.lit(3)).alias("g"),
            (F.col("id") * 10).alias("v"),
        ),
        src,
        stats_cols=("k",),
    )
    refresh_mv(spark, src, mv, spec)
    assert version_meta(spark, mv)["applied_changelog_id"] == 1
    # v2: an OPAQUE merge (no persisted changelog) whose writer intends
    # to push the emitted delta later.
    out = merge_into_manifest(
        spark,
        src,
        spark.createDataFrame([(5, 2, 999)], "k long, g long, v long"),
        keys=["k"],
        emit_changelog=True,
    )
    pushed = out["changelog"].select("g", "v", "__w").localCheckpoint()
    # The scheduled refresh runs FIRST: full recompute absorbs merge v2.
    refresh_mv(spark, src, mv, spec)
    meta = version_meta(spark, mv)
    assert meta["refresh_mode"] == "full"
    assert meta["applied_changelog_id"] == 2
    # The delayed push must no-op.
    v_before = versions(spark, mv)[-1]
    apply_changelog_mv(spark, mv, pushed, spec, changelog_id=out["version"])
    assert versions(spark, mv)[-1] == v_before
    got = {
        r["g"]: (r["n"], r["s"]) for r in read_version(spark, mv).collect()
    }
    want = {
        r["g"]: (r["n"], r["s"])
        for r in read_version(spark, src)
        .groupBy("g")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("s"))
        .collect()
    }
    assert got == want, "merge delta double-applied after full refresh"


def test_dirty_recompute_drops_refresh_anchor(spark, tmp_path):
    """ADVICE r12 (high): apply_changelog_mv's tying-delete recompute
    aggregates dirty groups from the LIVE source; when unrefreshed
    appends sit between the MV's refresh anchor and the source head,
    those append rows are already baked into the recomputed groups —
    carrying the anchor would let the next refresh_mv fold the same
    appends as +1 images AGAIN (the chain walk skips only the merge
    link), doubling n/sum on every dirty group. The fix drops the
    anchor whenever the recompute ran (n_dirty > 0): the next refresh
    goes full, which is always exact."""

    from european_public_data_pipeline_spark.pipeline.cow_merge import (
        merge_into_manifest,
    )
    from european_public_data_pipeline_spark.pipeline.manifest import (
        publish_version,
        read_version,
    )
    from european_public_data_pipeline_spark.pipeline.mv_refresh import (
        Measure,
        MVSpec,
        apply_changelog_mv,
        refresh_mv,
    )

    spec = MVSpec(
        group_keys=("g",),
        measures=(
            Measure("n", "count"),
            Measure("s", "sum", "v"),
            Measure("mn", "min", "v"),
        ),
    )
    src, mv = str(tmp_path / "src"), str(tmp_path / "mv")
    publish_version(
        spark.createDataFrame(
            [(1, "a", 10), (2, "a", 20)], "k long, g string, v long"
        ),
        src,
    )
    refresh_mv(spark, src, mv, spec)
    # An append the MV has NOT refreshed yet (v2).
    append_version(
        spark.createDataFrame([(3, "a", 5)], "k long, g string, v long"), src
    )
    # Merge (v3) deletes k=1 — v=10 TIES the MV's stored min, so the
    # push's fold recomputes group 'a' from the live head (which
    # includes the unrefreshed k=3 append).
    out = merge_into_manifest(
        spark,
        src,
        spark.createDataFrame([], "k long, g string, v long"),
        ["k"],
        deletes=spark.createDataFrame([(1,)], "k long"),
        persist_changelog=True,
    )
    apply_changelog_mv(
        spark,
        mv,
        out["changelog"],
        spec,
        source=read_version(spark, src),
        changelog_id=out["version"],
    )
    meta = version_meta(spark, mv)
    assert meta["n_dirty_groups"] == 1
    assert "applied_src_version" not in meta  # anchor dropped
    refresh_mv(spark, src, mv, spec)
    got = {
        r["g"]: (r["n"], r["s"], r["mn"])
        for r in read_version(spark, mv).collect()
    }
    assert got == {"a": (2, 25, 5)}, "appended rows double-counted"


def test_refresh_mv_refuses_contaminated_source_watermark(spark, tmp_path):
    """ADVICE r12 (medium): a claimed source-version changelog id ahead
    of the source head is provably foreign — honoring it would make the
    chain walk skip EVERY persisted changelog link. refresh_mv refuses
    loudly instead of silently losing deltas."""
    import pytest

    from european_public_data_pipeline_spark.pipeline.manifest import (
        publish_version,
    )
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
    src, mv = str(tmp_path / "src"), str(tmp_path / "mv")
    publish_version(
        spark.createDataFrame([(1, "a", 10)], "k long, g string, v long"),
        src,
    )
    refresh_mv(spark, src, mv, spec)
    # A foreign id mis-declared as source-version space (the default).
    log = spark.createDataFrame([("b", 5, 1)], "g string, v long, __w int")
    apply_changelog_mv(spark, mv, log, spec, changelog_id=9)
    append_version(
        spark.createDataFrame([(2, "a", 20)], "k long, g string, v long"), src
    )
    with pytest.raises(ValueError, match="ahead of the source"):
        refresh_mv(spark, src, mv, spec)


def test_foreign_and_source_watermarks_guard_independently(spark, tmp_path):
    """The two id spaces must not compare against each other: a foreign
    id 9 on an MV whose source is at v1 must not no-op the REAL
    merge-at-v2 changelog push (id 2 in source-version space)."""
    from european_public_data_pipeline_spark.pipeline.cow_merge import (
        merge_into_manifest,
    )
    from european_public_data_pipeline_spark.pipeline.manifest import (
        publish_version,
        read_version,
    )
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
    src, mv = str(tmp_path / "src"), str(tmp_path / "mv")
    publish_version(
        spark.createDataFrame([(1, "a", 10)], "k long, g string, v long"),
        src,
    )
    refresh_mv(spark, src, mv, spec)  # applied_changelog_id = 1
    log = spark.createDataFrame([("b", 5, 1)], "g string, v long, __w int")
    apply_changelog_mv(spark, mv, log, spec, changelog_id=9, id_space="foreign")
    # Merge at v2 updates k=1's value 10 -> 15; the writer pushes its
    # changelog with the source-version id 2. Guarded against the
    # source-space watermark (1), NOT the foreign 9 — it must apply.
    out = merge_into_manifest(
        spark,
        src,
        spark.createDataFrame([(1, "a", 15)], "k long, g string, v long"),
        ["k"],
        persist_changelog=True,
    )
    apply_changelog_mv(
        spark, mv, out["changelog"], spec, changelog_id=out["version"]
    )
    meta = version_meta(spark, mv)
    assert meta["applied_changelog_id"] == 2
    assert meta["applied_foreign_changelog_id"] == 9
    got = {
        r["g"]: (r["n"], r["s"])
        for r in read_version(spark, mv).collect()
    }
    assert got == {"a": (1, 15), "b": (1, 5)}, "merge push falsely no-opped"


def test_untagged_manifest_in_chain_refreshes_full(spark, tmp_path):
    """A manifest without an ``op`` tag (written before commits carried
    a kind) reads as an overwrite: the chain walk cannot tell its append
    from a rewrite, so refresh_mv recomputes in full (equal to a direct
    recompute) and read_appended refuses the chain."""
    import json
    import os

    import pytest

    from european_public_data_pipeline_spark.pipeline.manifest import (
        read_appended,
        read_version,
    )
    from european_public_data_pipeline_spark.pipeline.mv_refresh import (
        Measure,
        MVSpec,
        refresh_mv,
    )

    spec = MVSpec(
        group_keys=("g",),
        measures=(Measure("n", "count"), Measure("s", "sum", "v")),
    )
    rows = spark.range(30).select(
        (F.col("id") % 3).alias("g"), F.col("id").alias("v")
    )
    src = str(tmp_path / "src")
    mv = str(tmp_path / "mv")
    append_version(rows.filter("v < 20"), src)   # v1
    refresh_mv(spark, src, mv, spec)
    append_version(rows.filter("v >= 20"), src)  # v2: 10 rows, untagged below
    mp = f"{src}/manifest/00000002.json"
    with open(mp) as f:
        m = json.load(f)
    del m["op"]
    with open(mp, "w") as f:
        json.dump(m, f)
    os.remove(f"{src}/manifest/.00000002.json.crc")  # raw edit broke the crc

    with pytest.raises(ValueError, match="append-exact"):
        read_appended(spark, src, 1)
    assert refresh_mv(spark, src, mv, spec) == 2
    assert version_meta(spark, mv)["refresh_mode"] == "full"
    got = {r["g"]: (r["n"], r["s"]) for r in read_version(spark, mv).collect()}
    want = {
        r["g"]: (r["n"], r["s"])
        for r in spec.partial(read_version(spark, src)).collect()
    }
    assert got == want

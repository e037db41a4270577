"""End-to-end pipeline integration test: bronze -> silver -> quality ->
gold against the deterministic HICP fixture, with a failure case proving
the gate blocks the warehouse load (the reference's core operational
contract, README.md:137)."""

from __future__ import annotations

import json

import pytest

from european_public_data_pipeline_spark.pipeline.hicp_queries import (
    GEOS,
    N_MONTHS,
    hicp_fixture_payload,
)
from european_public_data_pipeline_spark.pipeline.run_hicp import run_pipeline
from european_public_data_pipeline_spark.quality.checks import QualityGateError


def fixture_transport(url, timeout):
    # Serve the per-geo slice of the fixture cube, like the real API would
    # for a geo-filtered request.
    payload = hicp_fixture_payload()["data"]
    for geo in list(payload["dimension"]["geo"]["category"]["index"]):
        if f"geo={geo}" in url:
            gpos = payload["dimension"]["geo"]["category"]["index"][geo]
            sliced = {
                "id": payload["id"],
                "size": payload["size"][:3] + [1] + payload["size"][4:],
                "dimension": {
                    **payload["dimension"],
                    "geo": {"category": {"index": {geo: 0}}},
                },
                "value": {
                    str(int(k) - gpos * N_MONTHS): v
                    for k, v in payload["value"].items()
                    if gpos * N_MONTHS <= int(k) < (gpos + 1) * N_MONTHS
                },
            }
            return 200, json.dumps(sliced).encode()
    return 404, b"unknown geo"


def test_pipeline_end_to_end(spark, tmp_path):
    spark.sql("DROP TABLE IF EXISTS gold_hicp_e2e")
    series = [{"geo": g, "coicop": "CP00", "unit": "I15"} for g in GEOS]
    result = run_pipeline(
        spark,
        root=str(tmp_path),
        dataset="prc_hicp_midx",
        series=series,
        gold_table="gold_hicp_e2e",
        transport=fixture_transport,
        gold_location=str(tmp_path / "gold"),
    )
    try:
        n_expected = len(GEOS) * N_MONTHS
        assert len(result.bronze_paths) == len(GEOS)
        assert result.silver_rows == n_expected
        assert result.gold_rows == n_expected
        assert all(r["passed"] for r in result.checks.collect())

        # Warehouse is queryable and idempotent: re-running the pipeline
        # must not duplicate rows (dynamic partition overwrite, W1).
        run_pipeline(
            spark,
            root=str(tmp_path),
            dataset="prc_hicp_midx",
            series=series,
            gold_table="gold_hicp_e2e",
            transport=fixture_transport,
            gold_location=str(tmp_path / "gold"),
        )
        n = spark.sql("SELECT COUNT(*) AS n FROM gold_hicp_e2e").first()["n"]
        assert n == n_expected

        # The one sparse cell (FR, last month) survived as NULL end to end.
        nulls = spark.sql(
            "SELECT COUNT(*) AS n FROM gold_hicp_e2e WHERE value IS NULL"
        ).first()["n"]
        assert nulls == 1
    finally:
        spark.sql("DROP TABLE IF EXISTS gold_hicp_e2e")


def test_pipeline_gate_blocks_bad_data(spark, tmp_path):
    def corrupt_transport(url, timeout):
        status, body = fixture_transport(url, timeout)
        payload = json.loads(body)
        # negative value => positive:value check must fail
        first_key = next(iter(payload["value"]))
        payload["value"][first_key] = -1.0
        return status, json.dumps(payload).encode()

    spark.sql("DROP TABLE IF EXISTS gold_hicp_blocked")
    with pytest.raises(QualityGateError, match="positive:value"):
        run_pipeline(
            spark,
            root=str(tmp_path),
            dataset="prc_hicp_midx",
            series=[{"geo": "LU", "coicop": "CP00", "unit": "I15"}],
            gold_table="gold_hicp_blocked",
            transport=corrupt_transport,
            gold_location=str(tmp_path / "gold_blocked"),
        )
    assert not spark.catalog.tableExists("gold_hicp_blocked") or (
        spark.sql("SELECT COUNT(*) AS n FROM gold_hicp_blocked").first()["n"] == 0
    )
    spark.sql("DROP TABLE IF EXISTS gold_hicp_blocked")


def _scrambled_transport(url, timeout):
    """One (geo, coicop) series per request; the payload lists its months
    newest first, so a sorted silver file is the writer's doing."""
    from urllib.parse import parse_qs, urlparse

    q = parse_qs(urlparse(url).query)
    geo, coicop = q["geo"][0], q["coicop"][0]
    months = [f"2024M{m:02d}" for m in range(1, 7)]
    payload = {
        "id": ["freq", "unit", "coicop", "geo", "time"],
        "size": [1, 1, 1, 1, len(months)],
        "dimension": {
            "freq": {"category": {"index": {"M": 0}}},
            "unit": {"category": {"index": {"I15": 0}}},
            "coicop": {"category": {"index": {coicop: 0}}},
            "geo": {"category": {"index": {geo: 0}}},
            "time": {
                "category": {
                    "index": {t: len(months) - 1 - i for i, t in enumerate(months)}
                }
            },
        },
        "value": [100.0 + i for i in range(len(months))],
    }
    return 200, json.dumps(payload).encode()


def _sql_executions_since(spark, after: int) -> list:
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    store = spark._jsparkSession.sharedState().statusStore()
    execs = store.executionsList()
    out = [execs.apply(i) for i in range(execs.size())]
    return [e for e in out if e.executionId() > after]


def _node_output_rows(spark, execution, node_name: str) -> int:
    """Summed "number of output rows" of the execution's ``node_name`` nodes
    (the graph pads some names with a trailing space)."""
    store = spark._jsparkSession.sharedState().statusStore()
    values = store.executionMetrics(execution.executionId())
    nodes = store.planGraph(execution.executionId()).allNodes()
    rows = 0
    for i in range(nodes.size()):
        node = nodes.apply(i)
        if node.name().strip() != node_name:
            continue
        metrics = node.metrics()
        for j in range(metrics.size()):
            m = metrics.apply(j)
            if m.name() == "number of output rows":
                v = values.get(m.accumulatorId())
                if v.isDefined():
                    rows += int(str(v.get()).replace(",", ""))
    return rows


def test_silver_parses_once_into_one_sorted_file_per_geo(spark, tmp_path):
    """The silver write parses every payload once (the payload scan emits
    each landed file once: no range sort re-running the parse to sample
    bounds) and lands one file per geo, sorted by (coicop, time)."""
    import glob

    import pyarrow.parquet as pq

    geos, coicops = ("DE", "FR"), ("CP02", "CP00", "CP01")
    series = [{"geo": g, "coicop": c, "unit": "I15"} for g in geos for c in coicops]
    spark.sql("DROP TABLE IF EXISTS gold_hicp_layout")
    prior = _sql_executions_since(spark, -1)
    after = max((e.executionId() for e in prior), default=-1)
    try:
        result = run_pipeline(
            spark,
            root=str(tmp_path),
            dataset="prc_hicp_midx",
            series=series,
            gold_table="gold_hicp_layout",
            transport=_scrambled_transport,
            gold_location=str(tmp_path / "gold"),
        )
    finally:
        spark.sql("DROP TABLE IF EXISTS gold_hicp_layout")
    assert result.silver_rows == len(series) * 6
    execs = _sql_executions_since(spark, after)
    scanned = sum(_node_output_rows(spark, e, "Scan binaryFile") for e in execs)
    assert scanned == len(result.bronze_paths) == len(series)
    for e in execs:
        assert "rangepartitioning" not in e.physicalPlanDescription().lower()
    for geo in geos:
        files = glob.glob(str(tmp_path / "silver" / "prc_hicp_midx" / f"geo={geo}" / "*.parquet"))
        assert len(files) == 1, files
        t = pq.read_table(files[0]).to_pydict()
        keys = list(zip(t["coicop"], t["time"]))
        assert keys == sorted(keys) and len(keys) == len(coicops) * 6


def test_silver_stage_costs_only_its_write(spark, tmp_path, spark_jobs):
    """silver_transform reads its output back with the schema it wrote:
    the stage runs the write's jobs and nothing else (no listing or
    footer-inference job), and the read-back equals an inferred read."""
    from european_public_data_pipeline_spark.pipeline.run_hicp import (
        bronze_ingest,
        latest_payload_per_partition,
        silver_transform,
    )

    series = [{"geo": g, "coicop": c, "unit": "I15"} for g in ("DE", "FR") for c in ("CP00", "CP01")]
    bronze_ingest(str(tmp_path), "prc_hicp_midx", series, transport=_scrambled_transport)
    latest = latest_payload_per_partition(str(tmp_path), "prc_hicp_midx")
    path = str(tmp_path / "silver")
    with spark_jobs() as jobs:
        silver = silver_transform(spark, latest, path)
    assert len(jobs) <= 2, jobs  # the exchange's map stage and the write
    inferred = spark.read.parquet(path)
    assert silver.schema.json() == inferred.schema.json()
    assert sorted(map(str, silver.collect())) == sorted(map(str, inferred.collect()))


def test_gold_stage_costs_only_its_insert(spark, tmp_path, spark_jobs):
    """gold_load counts the loaded rows on the insert itself: the stage
    runs the insert's jobs and no second scan of silver."""
    from european_public_data_pipeline_spark.pipeline.run_hicp import (
        bronze_ingest,
        gold_load,
        latest_payload_per_partition,
        silver_transform,
    )

    series = [{"geo": g, "coicop": c, "unit": "I15"} for g in ("DE", "FR") for c in ("CP00", "CP01")]
    bronze_ingest(str(tmp_path), "prc_hicp_midx", series, transport=_scrambled_transport)
    latest = latest_payload_per_partition(str(tmp_path), "prc_hicp_midx")
    silver = silver_transform(spark, latest, str(tmp_path / "silver"))
    spark.sql("DROP TABLE IF EXISTS gold_hicp_jobs")
    try:
        with spark_jobs() as jobs:
            n = gold_load(spark, silver, "gold_hicp_jobs", location=str(tmp_path / "gold"))
        assert n == len(series) * 6
        assert [j.name.split(" at ")[0] for j in jobs] == ["insertInto"], jobs
    finally:
        spark.sql("DROP TABLE IF EXISTS gold_hicp_jobs")


def test_quality_gate_costs_one_collect(spark, tmp_path, spark_jobs):
    """The gate collects the constraint table once and hands the rows
    back; with no cache to materialize, hicp_suite's gate runs 7 jobs
    (8 when its callers cached the table first)."""
    from european_public_data_pipeline_spark.pipeline.run_hicp import (
        bronze_ingest,
        hicp_suite,
        latest_payload_per_partition,
        silver_transform,
    )
    from european_public_data_pipeline_spark.quality.checks import gate

    series = [{"geo": g, "coicop": c, "unit": "I15"} for g in ("DE", "FR") for c in ("CP00", "CP01")]
    bronze_ingest(str(tmp_path), "prc_hicp_midx", series, transport=_scrambled_transport)
    latest = latest_payload_per_partition(str(tmp_path), "prc_hicp_midx")
    silver = silver_transform(spark, latest, str(tmp_path / "silver"))
    checks = hicp_suite(silver).to_dataframe(spark)
    with spark_jobs() as jobs:
        rows = gate(checks)
    assert len(jobs) == 7, jobs
    assert len(rows) == 8 and all(r["passed"] for r in rows)

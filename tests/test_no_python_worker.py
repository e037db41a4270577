"""The HICP medallion run and a lakehouse commit cycle stay inside the JVM.
No SQL execution they start plans a Python node (a pandas/Arrow UDF
boundary), and no job they start computes a ``PythonRDD`` (what
``createDataFrame`` over a Python list scans). Either would start the
PySpark daemon and its workers.

The Python-RDD scan is found in the jobs' RDD graphs, not in the SQL
plans: there it is a ``Scan ExistingRDD``, the same node a
``localCheckpoint`` (the keyed writers' batch keys, JVM only) plans."""

from __future__ import annotations

from py4j.protocol import Py4JJavaError

from european_public_data_pipeline_spark import plans
from european_public_data_pipeline_spark.pipeline import cow_merge, manifest, mor_delete
from european_public_data_pipeline_spark.pipeline.hicp_queries import hicp_fixture_payload
from european_public_data_pipeline_spark.pipeline.run_hicp import run_pipeline
from european_public_data_pipeline_spark.sources.jsonstat import jsonstat_to_dataframe
from tests.conftest import SF0001
from tests.test_run_hicp import _scrambled_transport, _sql_executions_since
from tests.test_shingles import _PYTHON_NODE, _plan_node_names


def _rdd_names(spark, job_id: int) -> list[str]:
    """The RDDs the job's stages compute, as the status store's operation
    graphs name them. A skipped stage (its shuffle output reused) computes
    nothing, and a long-lived store evicts its graph first: it is left out."""
    store = spark.sparkContext._jsc.sc().statusStore()
    names: list[str] = []

    def walk(cluster) -> None:
        nodes, children = cluster.childNodes(), cluster.childClusters()
        names.extend(nodes.apply(i).name() for i in range(nodes.size()))
        for i in range(children.size()):
            walk(children.apply(i))

    stages = store.job(job_id).stageIds()
    for i in range(stages.size()):
        try:
            graph = store.operationGraphForStage(stages.apply(i))
        except Py4JJavaError:
            continue
        walk(graph.rootCluster())
    return names


def _rows(spark, lo: int, hi: int, bump: float = 0.0):
    return spark.range(lo, hi).selectExpr("id AS k", f"CAST(id AS DOUBLE) + {bump} AS v")


def test_pipeline_and_lakehouse_cycle_start_no_python_worker(spark, tmp_path, spark_jobs):
    before = max((e.executionId() for e in _sql_executions_since(spark, -1)), default=-1)
    with spark_jobs() as jobs:
        _pipeline_and_lakehouse_cycle(spark, tmp_path)

    execs = _sql_executions_since(spark, before)
    assert len(execs) > 10
    python_nodes = [
        (e.description(), node)
        for e in execs
        for node in _plan_node_names(spark, e)
        if _PYTHON_NODE.search(node)
    ]
    assert python_nodes == []
    rdds = [(j.name, _rdd_names(spark, j.id)) for j in jobs]
    assert sum(len(names) > 0 for _, names in rdds) > 10
    assert [job for job, names in rdds if "PythonRDD" in names] == []


def _pipeline_and_lakehouse_cycle(spark, tmp_path) -> None:
    spark.sql("DROP TABLE IF EXISTS gold_hicp_jvm_only")
    try:
        result = run_pipeline(
            spark,
            root=str(tmp_path / "hicp"),
            dataset="prc_hicp_midx",
            series=[{"geo": g, "coicop": "CP00", "unit": "I15"} for g in ("DE", "FR")],
            gold_table="gold_hicp_jvm_only",
            transport=_scrambled_transport,
            gold_location=str(tmp_path / "gold"),
        )
    finally:
        spark.sql("DROP TABLE IF EXISTS gold_hicp_jvm_only")
    assert result.silver_rows == 2 * 6

    t = str(tmp_path / "orders")
    manifest.publish_version(_rows(spark, 0, 40), t, stats_cols=("k",))
    manifest.append_version(_rows(spark, 40, 50), t, stats_cols=("k",))
    cow_merge.merge_into_manifest(spark, t, _rows(spark, 5, 15, bump=1.0), ["k"])
    mor_delete.delete_rows_mor(spark, t, _rows(spark, 20, 25), ["k"])
    mor_delete.upsert_rows_mor(spark, t, _rows(spark, 30, 55, bump=2.0), ["k"])
    assert manifest.read_where(spark, t, "k", 0, 9).count() == 10
    assert manifest.read_version(spark, t, 1).count() == 40
    assert manifest.read_version(spark, t).count() == 50
    manifest.compact(spark, t, target_files=1, cluster_by="k")
    assert manifest.table_history(spark, t).count() == 6


def test_in_memory_jsonstat_and_p02_plan_no_python_scan(spark, spark_jobs):
    """An in-memory payload reaches the JVM as a ``LocalTableScan`` of its
    text: neither ``jsonstat_to_dataframe`` nor p02, the silver query built
    on it, plans a Python node or a Python-RDD scan."""
    p02 = plans.all_specs()["p02_hicp_mom_yoy"].builder
    before = max((e.executionId() for e in _sql_executions_since(spark, -1)), default=-1)
    with spark_jobs() as jobs:
        assert jsonstat_to_dataframe(spark, hicp_fixture_payload()).count() == 72
        assert len(p02(spark, SF0001).collect()) == 72

    nodes = [n for e in _sql_executions_since(spark, before) for n in _plan_node_names(spark, e)]
    assert "LocalTableScan" in nodes
    assert [n for n in nodes if _PYTHON_NODE.search(n) or "ExistingRDD" in n] == []
    assert [j.name for j in jobs if "PythonRDD" in _rdd_names(spark, j.id)] == []

"""The Spark 4 Python DataSource wrapper (``format("jsonstat")``) must read
exactly what ``read_jsonstat_files`` reads — same rows, same NULL padding
for missing dims, same lineage column — through the ordinary reader API."""

from __future__ import annotations

import json

import pytest

from european_public_data_pipeline_spark.sources.jsonstat import read_jsonstat_files
from european_public_data_pipeline_spark.sources.jsonstat_datasource import (
    JsonStatDataSource,
)
from tests.test_jsonstat import base_payload


@pytest.fixture()
def landing(tmp_path):
    d = tmp_path / "landing"
    d.mkdir()
    (d / "a.json").write_text(json.dumps(base_payload()))
    sparse = base_payload()
    sparse["value"] = {"0": 101.2, "3": 102.6}  # gaps -> NULL
    (d / "b.json").write_text(json.dumps(sparse))
    return d


def _registered(spark):
    spark.dataSource.register(JsonStatDataSource)
    return spark


def test_matches_read_jsonstat_files(spark, landing):
    _registered(spark)
    dims = ("freq", "unit", "coicop", "geo", "time")
    via_ds = (
        spark.read.format("jsonstat")
        .option("path", str(landing / "*.json"))
        .option("dims", ",".join(dims))
        .load()
    )
    via_mip = read_jsonstat_files(spark, str(landing / "*.json"), dims)
    assert via_ds.schema == via_mip.schema
    # binaryFile reports hadoop URIs (file:/...), the datasource reports OS
    # paths — same file, different spelling; normalize before comparing.
    key = lambda r: tuple(  # noqa: E731
        str(x).removeprefix("file:") for x in r
    )
    assert sorted(map(key, via_ds.collect())) == sorted(map(key, via_mip.collect()))


def test_missing_dim_padded_null(spark, landing):
    _registered(spark)
    df = (
        spark.read.format("jsonstat")
        .option("path", str(landing / "a.json"))
        .option("dims", "geo,time,notadim")
        .load()
    )
    rows = df.collect()
    assert len(rows) == 4
    assert all(r["notadim"] is None for r in rows)
    assert all(r["src_path"].endswith("a.json") for r in rows)


def test_sparse_nulls_and_partitioning(spark, landing):
    _registered(spark)
    df = (
        spark.read.format("jsonstat")
        .option("path", str(landing / "b.json"))
        .option("dims", "geo,time")
        .load()
    )
    vals = {r["time"]: r["value"] for r in df.collect()}
    assert vals["2024M01"] == 101.2 and vals["2024M04"] == 102.6
    assert vals["2024M02"] is None and vals["2024M03"] is None


def test_empty_glob_yields_empty_frame(spark, tmp_path):
    _registered(spark)
    df = (
        spark.read.format("jsonstat")
        .option("path", str(tmp_path / "nothing" / "*.json"))
        .option("dims", "geo,time")
        .load()
    )
    assert df.count() == 0
    assert df.columns == ["geo", "time", "value", "src_path"]

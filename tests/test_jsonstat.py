"""Golden tests for the JSON-stat reader (FIXTURES.md §1.1, SURVEY.md §5).

Each variant exercises a branch of the reference semantics: dense list,
sparse dict (missing -> NULL), dict-vs-list category index, multi-dim
cartesian order, envelope unwrap, corrupt payloads.
"""

from __future__ import annotations

import json

import pytest

from european_public_data_pipeline_spark.sources.jsonstat import (
    JsonStatError,
    jsonstat_to_dataframe,
    parse_payload,
    read_jsonstat_files,
)


def base_payload():
    return {
        "id": ["freq", "unit", "coicop", "geo", "time"],
        "size": [1, 1, 1, 1, 4],
        "dimension": {
            "freq": {"category": {"index": {"M": 0}}},
            "unit": {"category": {"index": {"I15": 0}}},
            "coicop": {"category": {"index": {"CP00": 0}}},
            "geo": {"category": {"index": {"LU": 0}}},
            "time": {
                "category": {
                    "index": {"2024M01": 0, "2024M02": 1, "2024M03": 2, "2024M04": 3}
                }
            },
        },
        "value": [101.2, 101.9, 102.4, 102.6],
    }


def test_dense_payload(spark):
    df = jsonstat_to_dataframe(spark, base_payload())
    rows = {r["time"]: r["value"] for r in df.collect()}
    assert rows == {"2024M01": 101.2, "2024M02": 101.9, "2024M03": 102.4, "2024M04": 102.6}
    assert df.columns == ["freq", "unit", "coicop", "geo", "time", "value"]


def test_sparse_payload_missing_is_null(spark):
    p = base_payload()
    p["value"] = {"0": 101.2, "2": 102.4}
    df = jsonstat_to_dataframe(spark, p)
    rows = {r["time"]: r["value"] for r in df.collect()}
    assert rows == {"2024M01": 101.2, "2024M02": None, "2024M03": 102.4, "2024M04": None}


def test_list_form_category_index(spark):
    p = base_payload()
    p["dimension"]["time"]["category"]["index"] = ["2024M01", "2024M02"]
    p["size"] = [1, 1, 1, 1, 2]
    p["value"] = [99.0, 100.0]
    df = jsonstat_to_dataframe(spark, p)
    rows = {r["time"]: r["value"] for r in df.collect()}
    assert rows == {"2024M01": 99.0, "2024M02": 100.0}


def test_unordered_dict_index_decoded_by_position():
    p = base_payload()
    p["dimension"]["time"]["category"]["index"] = {
        "2024M04": 3,
        "2024M01": 0,
        "2024M03": 2,
        "2024M02": 1,
    }
    dims, cats, vals, n = parse_payload(p)
    assert cats["time"] == ["2024M01", "2024M02", "2024M03", "2024M04"]


def test_multi_dim_cartesian_order(spark):
    # 2 geo x 3 time: flat index runs time fastest (row-major in id order).
    p = {
        "id": ["geo", "time"],
        "size": [2, 3],
        "dimension": {
            "geo": {"category": {"index": {"LU": 0, "DE": 1}}},
            "time": {"category": {"index": {"T1": 0, "T2": 1, "T3": 2}}},
        },
        "value": [1.0, 2.0, 3.0, 4.0, 5.0, 6.0],
    }
    df = jsonstat_to_dataframe(spark, p)
    got = {(r["geo"], r["time"]): r["value"] for r in df.collect()}
    assert got == {
        ("LU", "T1"): 1.0,
        ("LU", "T2"): 2.0,
        ("LU", "T3"): 3.0,
        ("DE", "T1"): 4.0,
        ("DE", "T2"): 5.0,
        ("DE", "T3"): 6.0,
    }


def test_distributed_matches_driver(spark):
    p = {
        "id": ["geo", "time"],
        "size": [3, 5],
        "dimension": {
            "geo": {"category": {"index": {"LU": 0, "DE": 1, "FR": 2}}},
            "time": {"category": {"index": [f"T{i}" for i in range(5)]}},
        },
        "value": {str(i): float(i) for i in range(15) if i % 3 != 0},
    }
    a = sorted(map(tuple, jsonstat_to_dataframe(spark, p, method="driver").collect()))
    b = sorted(map(tuple, jsonstat_to_dataframe(spark, p, method="distributed").collect()))
    assert a == b
    assert len(a) == 15


def test_distributed_path_at_scale(spark):
    """The stride-decode path on a cube big enough to exercise real
    parallelism (40x50x120 = 240k cells): spot-check exact coordinates,
    NULL count for the sparse encoding, and that no driver-side row
    materialization happens (the grid is spark.range)."""
    geos = [f"G{i:02d}" for i in range(40)]
    items = [f"I{i:02d}" for i in range(50)]
    times = [f"T{i:03d}" for i in range(120)]
    n_cells = 40 * 50 * 120
    # sparse: every 7th cell present, value = its flat index
    values = {str(i): float(i) for i in range(0, n_cells, 7)}
    payload = {
        "id": ["geo", "item", "time"],
        "size": [40, 50, 120],
        "dimension": {
            "geo": {"category": {"index": {g: i for i, g in enumerate(geos)}}},
            "item": {"category": {"index": {c: i for i, c in enumerate(items)}}},
            "time": {"category": {"index": {t: i for i, t in enumerate(times)}}},
        },
        "value": values,
    }
    df = jsonstat_to_dataframe(spark, payload, method="distributed")
    assert df.count() == n_cells
    assert df.filter("value IS NOT NULL").count() == len(values)
    # flat index 7 -> coords (0, 0, 7); index 6000*3+50*120*0... pick i=13337:
    # geo = 13337 // 6000 = 2, item = (13337 % 6000) // 120 = 27, time = 13337 % 120 = 17
    row = df.filter("geo = 'G02' AND item = 'I27' AND time = 'T017'").collect()
    assert len(row) == 1
    expected = 13337.0 if 13337 % 7 == 0 else None
    assert row[0]["value"] == expected
    # and one known-present cell: i = 7 * 1000 = 7000 -> (1, 8, 40)
    row2 = df.filter("geo = 'G01' AND item = 'I08' AND time = 'T040'").collect()
    assert row2[0]["value"] == 7000.0


def test_envelope_unwrap(spark):
    wrapped = {"meta": {"dataset": "prc_hicp_midx"}, "data": base_payload()}
    df = jsonstat_to_dataframe(spark, wrapped)
    assert df.count() == 4


def test_corrupt_length_mismatch():
    p = base_payload()
    p["value"] = [1.0, 2.0]  # prod(size) == 4
    with pytest.raises(JsonStatError, match="prod"):
        parse_payload(p)


@pytest.mark.parametrize("missing", ["id", "size", "dimension", "value"])
def test_corrupt_missing_key(missing):
    p = base_payload()
    del p[missing]
    with pytest.raises(JsonStatError, match=missing):
        parse_payload(p)


def test_sparse_index_out_of_range():
    p = base_payload()
    p["value"] = {"99": 1.0}
    with pytest.raises(JsonStatError, match="out of range"):
        parse_payload(p)


def test_read_jsonstat_files(spark, tmp_path):
    # Two payload files (one enveloped, one sparse) parsed in parallel.
    p1 = {"meta": {"stage": "bronze"}, "data": base_payload()}
    p2 = base_payload()
    p2["dimension"]["geo"]["category"]["index"] = {"DE": 0}
    p2["value"] = {"1": 200.5}
    (tmp_path / "a.json").write_text(json.dumps(p1))
    (tmp_path / "b.json").write_text(json.dumps(p2))
    df = read_jsonstat_files(
        spark, str(tmp_path), dims=("freq", "unit", "coicop", "geo", "time")
    )
    rows = df.collect()
    assert len(rows) == 8
    by_key = {(r["geo"], r["time"]): r["value"] for r in rows}
    assert by_key[("LU", "2024M01")] == 101.2
    assert by_key[("DE", "2024M02")] == 200.5
    assert by_key[("DE", "2024M01")] is None
    assert all(r["src_path"].endswith((".json",)) for r in rows)


_DISCOVERY = "spark.sql.sources.parallelPartitionDiscovery.threshold"


def _landed_series(tmp_path, n):
    """``n`` one-geo payload files of two months each; returns the paths
    and the rows the reader must produce."""
    paths, want = [], []
    for i in range(n):
        p = base_payload()
        geo = f"G{i:02d}"
        p["size"] = [1, 1, 1, 1, 2]
        p["dimension"]["geo"]["category"]["index"] = {geo: 0}
        p["dimension"]["time"]["category"]["index"] = {"2024M01": 0, "2024M02": 1}
        p["value"] = {"0": float(i), "1": i + 0.5}
        path = tmp_path / f"{geo}.json"
        path.write_text(json.dumps({"meta": {}, "data": p}))
        paths.append(str(path))
        want += [
            ("M", "I15", "CP00", geo, "2024M01", float(i), f"{geo}.json"),
            ("M", "I15", "CP00", geo, "2024M02", i + 0.5, f"{geo}.json"),
        ]
    return paths, sorted(want)


def test_many_paths_are_listed_on_the_driver(spark, tmp_path, spark_jobs):
    """Past Spark's 32-path parallel-discovery threshold the reader still
    lists its payloads on the driver — no listing job — and the session's
    threshold setting is left as it was."""
    dims = ("freq", "unit", "coicop", "geo", "time")
    paths, want = _landed_series(tmp_path, 40)
    before = spark.conf.get(_DISCOVERY, None)
    with spark_jobs() as jobs:
        df = read_jsonstat_files(spark, paths, dims=dims)
    assert jobs == []
    assert spark.conf.get(_DISCOVERY, None) == before
    got = sorted(
        tuple(r[:-1]) + (r["src_path"].rsplit("/", 1)[-1],) for r in df.collect()
    )
    assert got == want


def test_discovery_threshold_restored_when_load_fails(spark, tmp_path):
    dims = ("freq", "unit", "coicop", "geo", "time")
    paths, _ = _landed_series(tmp_path, 40)
    before = spark.conf.get(_DISCOVERY, None)
    spark.conf.set(_DISCOVERY, "17")
    try:
        with pytest.raises(Exception, match="PATH_NOT_FOUND|does not exist"):
            read_jsonstat_files(spark, paths + [str(tmp_path / "missing.json")], dims)
        assert spark.conf.get(_DISCOVERY) == "17"
        read_jsonstat_files(spark, paths, dims)
        assert spark.conf.get(_DISCOVERY) == "17"
    finally:
        if before is None:
            spark.conf.unset(_DISCOVERY)
        else:
            spark.conf.set(_DISCOVERY, before)

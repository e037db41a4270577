"""Golden tests for the JSON-stat reader (FIXTURES.md §1.1, SURVEY.md §5).

Each variant exercises a branch of the reference semantics: dense list,
sparse dict (missing -> NULL), dict-vs-list category index, multi-dim
cartesian order, envelope unwrap, corrupt payloads.
"""

from __future__ import annotations

import json
from collections import Counter

import pytest

from european_public_data_pipeline_spark.sources.jsonstat import (
    JsonStatError,
    _iter_rows,
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


def _cube_240k() -> dict:
    """40x50x120 = 240k cells, sparse: every 7th cell present, its value
    its flat index."""
    geos = [f"G{i:02d}" for i in range(40)]
    items = [f"I{i:02d}" for i in range(50)]
    times = [f"T{i:03d}" for i in range(120)]
    return {
        "id": ["geo", "item", "time"],
        "size": [40, 50, 120],
        "dimension": {
            "geo": {"category": {"index": {g: i for i, g in enumerate(geos)}}},
            "item": {"category": {"index": {c: i for i, c in enumerate(items)}}},
            "time": {"category": {"index": {t: i for i, t in enumerate(times)}}},
        },
        "value": {str(i): float(i) for i in range(0, 40 * 50 * 120, 7)},
    }


def test_distributed_path_at_scale(spark):
    """A 240k-cell cube decodes in the JVM: spot-check exact coordinates
    and the NULL count of the sparse encoding."""
    payload = _cube_240k()
    n_cells = 40 * 50 * 120
    df = jsonstat_to_dataframe(spark, payload)
    assert df.count() == n_cells
    assert df.filter("value IS NOT NULL").count() == len(payload["value"])
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


# --- read_jsonstat_files equals the Python decoder ---------------------------

_DIMS = ("freq", "unit", "coicop", "geo", "time")


def _decoded(texts: dict[str, str], dims: tuple[str, ...]) -> Counter:
    """``parse_payload`` + ``_iter_rows`` over the files, projected onto
    ``dims`` the way the reader is documented to (NULL for an absent one)."""
    out: Counter = Counter()
    for name, text in texts.items():
        p_dims, cats, vals, n = parse_payload(json.loads(text))
        pos = {d: j for j, d in enumerate(p_dims)}
        for row in _iter_rows(p_dims, cats, vals, n):
            coords = tuple(row[pos[d]] if d in pos else None for d in dims)
            out[coords + (row[-1], name)] += 1
    return out


def _read(spark, tmp_path, texts: dict[str, str], dims=_DIMS):
    for name, text in texts.items():
        (tmp_path / name).write_text(text)
    return read_jsonstat_files(spark, [str(tmp_path / n) for n in texts], dims)


def _parity_fixtures() -> dict[str, str]:
    unordered = base_payload()
    unordered["dimension"]["time"]["category"]["index"] = {
        "2024M04": 3, "2024M01": 0, "2024M03": 2, "2024M02": 1,
    }
    listed = base_payload()
    listed["dimension"]["time"]["category"]["index"] = ["2024M03", "2024M01", "2024M02", "2024M04"]
    label_only = base_payload()
    label_only["size"] = [1, 1, 1, 1, 3]
    label_only["dimension"]["time"]["category"] = {
        "label": {"2024M03": "March", "2024M01": "January", "2024M02": "February"}
    }
    label_only["value"] = [1.5, 2.5, 3.5]
    cartesian = {
        "id": ["geo", "time"],
        "size": [2, 3],
        "dimension": {
            "geo": {"category": {"index": {"LU": 0, "DE": 1}}},
            "time": {"category": {"index": {"T1": 0, "T2": 1, "T3": 2}}},
        },
        "value": [1.0, 2.0, 3.0, 4.0, 5.0, 6.0],
    }
    # freq is declared by the reader but absent here; extra is not declared.
    absent_and_extra = {
        "id": ["unit", "extra", "coicop", "geo", "time"],
        "size": [1, 2, 1, 1, 2],
        "dimension": {
            "unit": {"category": {"index": {"I15": 0}}},
            "extra": {"category": {"index": ["X1", "X0"]}},
            "coicop": {"category": {"index": {"CP00": 0}}},
            "geo": {"category": {"index": {"FR": 0}}},
            "time": {"category": {"index": {"2024M01": 0, "2024M02": 1}}},
        },
        "value": {"0": 0.1, "3": 1e-7},
    }
    envelope = {"meta": {"dataset": "prc_hicp_midx"}, "data": base_payload()}
    # Integer-valued JSON numbers, a float needing every bit, and sparse
    # keys with a leading zero ("1" and "01" name one cell: the last wins).
    integers = base_payload()
    integers["value"] = {"00": 100, "01": 7, "3": 12345678901234567890, "1": 2.675}
    return {
        "unordered.json": json.dumps(unordered),
        "listed.json": json.dumps(listed),
        "label_only.json": json.dumps(label_only),
        "cartesian.json": json.dumps(cartesian),
        "absent_and_extra.json": json.dumps(absent_and_extra),
        "envelope.json": json.dumps(envelope),
        "integers.json": json.dumps(integers),
        "whitespace.json": (
            '{"id": ["geo", "time"], "size": [1, 2], "dimension": {"geo": '
            '{"category": {"index":  \n\t {"LU": 0}}}, "time": {"category": '
            '{"index": \r\n  ["T2", "T1"]}}}, "value": \n  [ 1.25 ,\t null ]}'
        ),
    }


def test_read_jsonstat_files_equals_the_python_decoder(spark, tmp_path):
    texts = _parity_fixtures()
    got = Counter(
        tuple(r[:-1]) + (r["src_path"].rsplit("/", 1)[-1],)
        for r in _read(spark, tmp_path, texts).collect()
    )
    want = _decoded(texts, _DIMS)
    assert got == want
    # The fixtures reach what they are for: label keys in document order,
    # the absent dimension as NULL, the repeated sparse index once.
    assert ("M", "I15", "CP00", "LU", "2024M03", 1.5, "label_only.json") in got
    assert (None, "I15", "CP00", "FR", "2024M02", 1e-7, "absent_and_extra.json") in got
    assert got[("M", "I15", "CP00", "LU", "2024M02", 2.675, "integers.json")] == 1
    assert sum(got.values()) == 4 * 4 + 3 + 6 + 4 + 2


def _malformed() -> list[dict]:
    cases = []
    for key in ("id", "size", "dimension", "value"):
        p = base_payload()
        del p[key]
        cases.append(p)
    p = base_payload()
    p["size"] = [1, 1, 1, 4]
    cases.append(p)  # id/size length mismatch
    p = base_payload()
    del p["dimension"]["geo"]
    cases.append(p)  # declared in id, missing from dimension
    p = base_payload()
    p["dimension"]["unit"] = {"category": {}}
    cases.append(p)  # neither index nor label
    p = base_payload()
    p["size"] = [1, 1, 1, 1, 5]
    p["value"] = [1.0] * 5
    cases.append(p)  # code count differs from size
    p = base_payload()
    p["value"] = 101.2
    cases.append(p)  # neither list nor dict
    p = base_payload()
    p["value"] = [1.0, 2.0]
    cases.append(p)  # dense length differs from prod(size)
    p = base_payload()
    p["value"] = {"0": 1.0, "4": 2.0}
    cases.append(p)  # sparse index out of range
    p = base_payload()
    p["value"] = [1.0, "n/a", 3.0, 4.0]
    cases.append(p)  # non-numeric dense value
    p = base_payload()
    p["value"] = {"0": 1.0, "2": "n/a"}
    cases.append(p)  # non-numeric sparse value
    return cases


@pytest.mark.parametrize("case", range(len(_malformed())))
def test_read_jsonstat_files_keeps_every_check(spark, tmp_path, case):
    payload = _malformed()[case]
    with pytest.raises((JsonStatError, ValueError)) as decoder_error:
        parse_payload(payload)
    df = _read(spark, tmp_path, {"bad.json": json.dumps(payload)})
    with pytest.raises(Exception) as reader_error:
        df.count()
    assert str(decoder_error.value) in str(reader_error.value)
    # The in-memory reader runs the same decoder: it fails at the action.
    df = jsonstat_to_dataframe(spark, payload)
    with pytest.raises(Exception) as reader_error:
        df.count()
    assert str(decoder_error.value) in str(reader_error.value)


# --- jsonstat_to_dataframe equals the Python decoder -------------------------


def _payloads() -> list[dict]:
    sparse = base_payload()
    sparse["value"] = {"0": 101.2, "2": 102.4}
    listed = base_payload()
    listed["dimension"]["time"]["category"]["index"] = ["2024M01", "2024M02"]
    listed["size"] = [1, 1, 1, 1, 2]
    listed["value"] = [99.0, 100.0]
    parity = [json.loads(text) for text in _parity_fixtures().values()]
    return [base_payload(), sparse, listed, *parity, _cube_240k()]


@pytest.mark.parametrize("case", range(len(_payloads())))
def test_jsonstat_to_dataframe_equals_the_python_decoder(spark, case):
    payload = _payloads()[case]
    dims, cats, vals, n = parse_payload(payload)
    df = jsonstat_to_dataframe(spark, payload)
    assert df.columns == [*dims, "value"]
    assert Counter(map(tuple, df.collect())) == Counter(_iter_rows(dims, cats, vals, n))

"""Tests of the benchmark's own code: span arithmetic, generator
determinism, metric names, and a tiny-size run of every workload.

Run from the repository root: ``python -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import hashlib
import json
import re
import subprocess
import sys
from pathlib import Path

import pytest

BENCH = Path(__file__).resolve().parent.parent
ROOT = BENCH.parent
sys.path[:0] = [str(BENCH), str(ROOT)]

import gen  # noqa: E402
from spans import Span, inclusive, self_times  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _span(i, parent, start, end, **counters):
    s = Span(i, f"s{i}", parent, 1, start, end)
    s.counters.update(counters)
    return s


def test_self_time_subtracts_children_once_and_clips_them():
    spans = [
        _span(0, None, 0.0, 10.0, jobs=1),
        _span(1, 0, 1.0, 4.0, jobs=2),
        _span(2, 0, 3.0, 6.0),  # overlaps span 1: [3, 4] counted once
        _span(3, 1, 2.0, 3.0, jobs=4),
        _span(4, 0, 9.0, 12.0),  # runs past its parent: clipped at 10
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 5.0 - 1.0)
    assert st[1] == pytest.approx(3.0 - 1.0)
    assert st[2] == pytest.approx(3.0)
    assert st[3] == pytest.approx(1.0)
    assert st[4] == pytest.approx(3.0)
    inc = inclusive(spans)
    assert inc[0]["jobs"] == 7 and inc[1]["jobs"] == 6 and inc[3]["jobs"] == 4


def _digest(d: Path) -> str:
    h = hashlib.sha256()
    for f in sorted(d.rglob("*")):
        if f.is_file():
            h.update(f.relative_to(d).as_posix().encode())
            h.update(f.read_bytes())
    return h.hexdigest()


def _write_all(out: Path, seed: int) -> str:
    size = gen.StarSize(
        customers=50, suppliers=5, parts=40, orders=100, events=80, users=7,
        documents=30, embeddings=12,
    )
    gen.write_star_schema(str(out / "sf"), seed, size)
    gen.write_corpus(str(out / "corpus"), seed, 40, 0.25)
    lake = gen.write_lakehouse(str(out / "lake"), seed, 500, 2, 50, 40, 10)
    lake.write_cycle(0)
    lake.write_cycle(1)
    cube = gen.hicp_cube(seed, 3, 2, 24, 0.1)
    h = hashlib.sha256(_digest(out).encode())
    for key in sorted(cube.payloads):
        h.update(cube.payloads[key])
    h.update(f"{cube.n_obs} {cube.n_missing} {cube.checksum}".encode())
    return h.hexdigest()


def test_generators_are_deterministic_per_seed(tmp_path):
    a = _write_all(tmp_path / "a", 7)
    b = _write_all(tmp_path / "b", 7)
    c = _write_all(tmp_path / "c", 8)
    assert a == b
    assert a != c


def test_generated_inputs_carry_what_the_checks_assume(tmp_path):
    cube = gen.hicp_cube(3, 4, 3, 36, 0.2)
    assert cube.n_obs == 4 * 3 * 36 and 0 < cube.n_missing < cube.n_obs
    status, body = cube.transport(
        "https://example.invalid/data/prc_hicp_midx?geo=AB&coicop=CP001&unit=I15", 60
    )
    assert status == 200 and json.loads(body)["dimension"]["geo"]["category"]["index"] == {"AB": 0}
    x = gen.write_lakehouse(str(tmp_path), 1, 1000, 2, 100, 50, 20)
    import pyarrow.parquet as pq

    lo, hi = x.update_range
    base = pq.read_table(x.base).to_pydict()
    seen_deletes: set[int] = set()
    appended: set[int] = set()
    for i in range(3):
        c = x.write_cycle(i)
        dk = pq.read_table(c.deletes)["o_orderkey"].to_pylist()
        assert len(set(dk)) == 20 and not seen_deletes & set(dk)
        assert not any(lo <= k <= hi for k in dk) and all(0 <= k < 1000 for k in dk)
        seen_deletes |= set(dk)
        up = pq.read_table(c.updates).to_pydict()
        assert up["o_orderkey"] == list(range(lo, hi + 1))
        assert up["o_totalprice"] == [
            pytest.approx(base["o_totalprice"][k] + i + 1) for k in up["o_orderkey"]
        ]
        keys = [k for a in c.appends for k in pq.read_table(a)["o_orderkey"].to_pylist()]
        assert len(keys) == 200 and min(keys) >= 1000 and not appended & set(keys)
        appended |= set(keys)
        assert x.head_rows(i) == 1000 + len(appended) - len(seen_deletes)


def _benchmark() -> dict:
    return json.loads((ROOT / "BENCHMARK.json").read_text())


def test_metric_names_and_units_are_well_formed():
    import layers

    bench = _benchmark()
    names = [m["name"] for m in bench["end_to_end"] + bench["per_layer"]]
    names += [w["name"] for w in bench["workloads"]]
    assert len(names) == len(set(names))
    for n in names:
        assert NAME.match(n), n
    for m in bench["end_to_end"] + bench["per_layer"]:
        assert UNIT.match(m["unit"]), m
    assert [(m["name"], m["unit"]) for m in bench["per_layer"]] == layers.PER_LAYER


@pytest.mark.parametrize("workload", ["medallion_and_lakehouse", "headline_and_curation"])
@pytest.mark.parametrize("trace", [0, 1])
def test_tiny_run(workload, trace):
    bench = _benchmark()
    proc = subprocess.run(
        [
            sys.executable, str(BENCH / "run.py"), "--workload", workload, "--seed", "3",
            "--seconds", "0", "--trace", str(trace), "--scale", "tiny",
        ],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    res = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 2, proc.stdout
    expected = bench["per_layer"] if trace else bench["end_to_end"]
    assert {k: v["unit"] for k, v in res["metrics"].items()} == {m["name"]: m["unit"] for m in expected}
    if not trace:
        assert all(v["value"] > 0 for v in res["metrics"].values())

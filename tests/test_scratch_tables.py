"""Builder scratch tables (``relational_ext._scratch_table_path``): one
reused path per process and sf_dir, distinct across processes."""

from __future__ import annotations

import os

import european_public_data_pipeline_spark.operators.relational_ext as R


def test_scratch_path_is_per_process(monkeypatch, tmp_path):
    sf_dir = str(tmp_path / "sf0.01")
    monkeypatch.setattr(os, "getpid", lambda: 1111)
    first = R._scratch_table_path("smv_mv", sf_dir)
    os.makedirs(first)
    assert R._scratch_table_path("smv_mv", sf_dir) == first  # rerun reuses it
    assert not os.path.exists(first)  # ...as a fresh copy
    monkeypatch.setattr(os, "getpid", lambda: 2222)
    other = R._scratch_table_path("smv_mv", sf_dir)
    assert other != first
    os.makedirs(first)
    R._remove_scratch_dirs()  # process 2222 exits: process 1111's copy stays
    assert os.path.exists(first)
    monkeypatch.setattr(os, "getpid", lambda: 1111)
    R._remove_scratch_dirs()
    assert not os.path.exists(first)

"""Session defaults: the local driver-heap default, min(16g, half of
physical RAM), and PySpark's per-call call-site capture switched off."""

from __future__ import annotations

from european_public_data_pipeline_spark.session import default_driver_memory

GIB = 2**30


def test_small_host_gets_half_its_ram():
    assert default_driver_memory(15 * GIB) == "7680m"
    assert default_driver_memory(3 * GIB + 2**20) == "1536m"


def test_large_host_is_capped_at_16g():
    assert default_driver_memory(32 * GIB) == "16384m"
    assert default_driver_memory(512 * GIB) == "16384m"


def test_unknown_ram_keeps_16g():
    assert default_driver_memory(None) == "16384m"
    assert default_driver_memory(0) == "16384m"


def test_dataframe_call_site_capture_is_off(spark):
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"

"""SparkSession factory.

Local testing runs a single JVM (``local[N]``); production is a multi-executor
cluster. Every knob below is chosen so the same code runs unchanged at both
scales:

- AQE on: runtime partition coalescing, skew-join splitting, and dynamic
  join-strategy switching replace hand-tuned plans at 100 TB.
- ``spark.sql.shuffle.partitions`` defaults to ~cores locally; on a real
  cluster AQE's coalescing makes the initial number mostly irrelevant as long
  as it is high enough, so we only pin it down for local determinism.
- Session timezone pinned to UTC so timestamp semantics match the DuckDB
  oracle and are stable across machines.
- Arrow enabled: every pandas interchange (createDataFrame, toPandas,
  pandas UDFs) goes through columnar batches instead of pickled rows.
- PySpark's DataFrame call-site capture off: with it on, every ``F.col``
  and every ``Column`` method records its Python call site in the JVM
  (extra py4j round trips and an ``import IPython`` attempt per call):
  building the five perfbench headline plans took 0.49 s with it on and
  0.34 s off (median of 8, 4-core host). The trade-off: Spark error
  messages lose the Python call site in their DataFrame query context.
"""

from __future__ import annotations

import os
from collections.abc import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

DEFAULT_APP_NAME = "european_public_data_pipeline_spark"
MAX_DRIVER_MEM_MB = 16 * 1024


def default_driver_memory(physical_bytes: int | None) -> str:
    """``spark.driver.memory`` when ``SPARK_GRAFT_DRIVER_MEM`` is unset:
    the smaller of 16g and half of physical RAM (16g when RAM is unknown),
    so a local JVM never asks for more heap than the host can back."""
    if not physical_bytes:
        return f"{MAX_DRIVER_MEM_MB}m"
    return f"{min(MAX_DRIVER_MEM_MB, physical_bytes // 2 // 2**20)}m"


def _physical_ram() -> int | None:
    try:
        return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (AttributeError, ValueError, OSError):  # no sysconf (Windows)
        return None


def get_spark(
    app_name: str = DEFAULT_APP_NAME,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-ready defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or ``local[*]``) when
    no cluster master is configured; on a real deployment the master comes
    from spark-submit and this argument stays ``None``.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    # Local mode runs executors inside the driver JVM; the 1g default heap
    # is far below this class of box and OOMs long before the CPUs are the
    # bottleneck. Only effective for the session that starts the JVM —
    # cluster deployments take memory from spark-submit as usual.
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory(
        _physical_ram()
    )
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.driver.memory", driver_mem)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # The generated-code cache defaults to 100 classes; a session that
        # cycles through this engine's full query surface holds far more
        # distinct codegen units, so the default thrashes and every re-plan
        # pays Janino compilation again (~0.1-1s per query). Sized for the
        # whole registered surface; memory cost is a few MB of classes.
        .config("spark.sql.codegen.cache.maxEntries", "5000")
        # Parquet INT64 TIMESTAMP(NANOS) is not a legal Spark type; read the
        # raw nanos as LongType and convert at the source (tables.py). The
        # ns->µs conversion TRUNCATES (the synthetic events data is not
        # µs-aligned); oracles must truncate identically.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", os.environ.get("SPARK_UI", "false"))
    )
    if master is not None:
        builder = builder.master(master)
    elif "SPARK_MASTER" not in os.environ:
        builder = builder.master(f"local[{cpus}]")
    n_shuffle = shuffle_partitions or int(os.environ.get("SPARK_SHUFFLE_PARTITIONS", "32"))
    builder = builder.config("spark.sql.shuffle.partitions", str(n_shuffle))
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_frame(spark: SparkSession, rows: Iterable[tuple], schema: StructType) -> DataFrame:
    """``rows`` (tuples in ``schema``'s field order, with the Python values
    ``collect()`` returns) as a DataFrame planned as a ``LocalTableScan``.

    ``createDataFrame`` over a Python list plans a Python-RDD scan
    (``Scan ExistingRDD``), and its first action starts the PySpark daemon
    and its workers, even for one row or none. An Arrow table goes to the
    JVM whole and starts no Python process.
    """
    from pyspark.sql.conversion import LocalDataToArrowConversion
    from pyspark.sql.pandas.types import to_arrow_schema

    rows = list(rows)
    table = (
        LocalDataToArrowConversion.convert(rows, schema, False)
        if rows
        else to_arrow_schema(schema).empty_table()
    )
    return spark.createDataFrame(table, schema)

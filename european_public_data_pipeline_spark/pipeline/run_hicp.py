"""End-to-end HICP pipeline runner: the reference's four ``python -m``
stages (SURVEY.md §3, README.md:96-149 of the reference) as one composable
Spark driver.

Reference lifecycle -> here:

1. Bronze (`src.ingestion.ingestion_hicp_raw:main`) -> ``bronze_ingest``:
   fetch with param fallback, land enveloped JSON under a partitioned path.
2. Silver (`src.ingestion.process_hicp_silver:main`) -> ``silver_transform``:
   distributed JSON-stat parse of the latest landed payload per series
   (Catalyst expressions over a ``binaryFile`` scan), period-code parse,
   canonical projection, lineage columns, one ``(coicop, time)``-sorted
   parquet file per geo partition.
3. Quality (`src.quality.check_hicp_quality:main`) -> ``quality_stage``:
   the constraint suite over the silver table; report returned as a
   DataFrame (the reference's JSON report blob).
4. Gold (`src.db.load_hicp_to_sql:main`) -> ``gold_load``: gated,
   idempotent catalog load (dynamic partition overwrite replaces the
   reference's DELETE+INSERT).

The reference crosses a process boundary between every stage and re-reads
everything from blob storage; here the stages compose in one session with
files only where durability matters (bronze landing, silver table) — but
each stage still works standalone on the at-rest artifacts, so the
operational model (re-run any stage independently) is preserved. No stage
starts a Python worker: the parse, the checks and the quality report's
rows all stay in the JVM.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from european_public_data_pipeline_spark.functions.timeparse import parse_time_code
from european_public_data_pipeline_spark.pipeline.gold import ensure_table, load_gold
from european_public_data_pipeline_spark.pipeline.silver_io import write_partitioned
from european_public_data_pipeline_spark.quality.checks import (
    RESULT_SCHEMA,
    CheckSuite,
    check_suite,
    gate,
)
from european_public_data_pipeline_spark.session import local_frame
from european_public_data_pipeline_spark.sources.eurostat import (
    Transport,
    _urllib_transport,
    fetch_with_fallbacks,
    land_payload,
    latest_payload_per_partition,
)
from european_public_data_pipeline_spark.sources.jsonstat import read_jsonstat_files

HICP_DIMS = ("freq", "unit", "coicop", "geo", "time")
GOLD_DDL = (
    "time DATE, coicop STRING, unit STRING, value DOUBLE, "
    "raw_blob STRING, geo STRING"
)


@dataclass
class PipelineResult:
    bronze_paths: list[str]
    silver_rows: int
    checks: DataFrame
    gold_rows: int


def bronze_ingest(
    root: str,
    dataset: str,
    series: list[dict[str, str]],
    transport: Transport = _urllib_transport,
) -> list[str]:
    """Stage 1: fetch each requested series (param-fallback aware) and land
    enveloped JSON under the partitioned bronze layout."""
    paths = []
    for params in series:
        payload, used = fetch_with_fallbacks(dataset, params, transport=transport)
        paths.append(
            land_payload(
                payload,
                root,
                dataset,
                geo=params.get("geo", "ALL"),
                coicop=params.get("coicop", "ALL"),
                params_used=used,
            )
        )
    return paths


def silver_transform(
    spark: SparkSession, bronze_paths: list[str], silver_path: str
) -> DataFrame:
    """Stage 2: distributed JSON-stat unpivot of the LATEST landed payload
    per series (the reference's latest-blob incremental model,
    blob.py:55-60) -> tidy typed table -> partitioned parquet (by geo,
    the series prefix), one file per geo sorted by ``(coicop, time)``.

    The layout comes from a hash exchange on geo plus a per-partition
    sort, not a global ``orderBy``: a range sort samples its input for
    partition bounds, and that sample would run the JSON-stat parse a
    second time. Each geo lands in one task, hence one file."""
    tidy = read_jsonstat_files(spark, bronze_paths, dims=HICP_DIMS)
    silver = (
        tidy.select(
            parse_time_code("time").alias("time"),
            "geo",
            "coicop",
            "unit",
            "value",
            F.col("src_path").alias("raw_blob"),
        )
        .repartition("geo")
        .sortWithinPartitions("geo", "coicop", "time")
    )
    write_partitioned(silver, silver_path, ["geo"])
    # Read back with the schema just written, partition column last as
    # partition discovery places it: no footer-inference job.
    data_cols = [f for f in silver.schema.fields if f.name != "geo"]
    return spark.read.schema(
        T.StructType(data_cols + [silver.schema["geo"]])
    ).parquet(silver_path)


def hicp_suite(silver: DataFrame) -> CheckSuite:
    """Stage 3 constraints — the reference's six checks
    (check_hicp_quality.py:52-119) declared on the silver schema."""
    return (
        check_suite(silver)
        .expect_columns(["time", "geo", "coicop", "unit", "value"])
        .expect_not_null(["time", "geo", "coicop", "unit"])
        .expect_positive("value")
        .expect_unique_key(["time", "geo", "coicop", "unit"])
        .expect_monthly_continuity(["geo", "coicop", "unit"], "time")
    )


def gold_load(
    spark: SparkSession, silver: DataFrame, table: str, location: str | None = None
) -> int:
    """Stage 4: gated idempotent warehouse load."""
    ensure_table(spark, table, GOLD_DDL, ["geo"], location=location)
    return load_gold(spark, silver, table, ["geo"])


def run_pipeline(
    spark: SparkSession,
    root: str,
    dataset: str,
    series: list[dict[str, str]],
    gold_table: str,
    transport: Transport = _urllib_transport,
    gold_location: str | None = None,
) -> PipelineResult:
    """All four stages, with the quality gate between silver and gold
    (README.md:137 of the reference: a failed validation blocks the load)."""
    bronze_paths = bronze_ingest(root, dataset, series, transport=transport)
    latest = latest_payload_per_partition(root, dataset)
    silver = silver_transform(spark, latest, f"{root}/silver/{dataset}")
    # raises QualityGateError -> gold never runs
    checks_rows = gate(hicp_suite(silver).to_dataframe(spark))
    gold_rows = gold_load(spark, silver, gold_table, location=gold_location)
    return PipelineResult(
        bronze_paths=bronze_paths,
        # The gold load already counted this same silver DataFrame.
        silver_rows=gold_rows,
        checks=local_frame(spark, checks_rows, RESULT_SCHEMA),
        gold_rows=gold_rows,
    )

"""HICP pipeline queries: the reference's four stages as registered,
oracle-checked Spark plans (SURVEY.md §3).

- p01: the quality layer (check_hicp_quality.py:52-119) generalized by
  quality/checks.py, demonstrated on the ``orders`` table — the constraint
  table is the query result.
- p02: the flagship silver transformation end-to-end — a deterministic
  JSON-stat hypercube (built from a pure formula, below) through the
  jsonstat reader, Eurostat period-code parsing (F1-F3), canonical
  projection/sort (P1/O1), and the HICP analytics the reference's data
  exists for: month-over-month and year-over-year inflation via lag
  windows (§2.9). The oracle recomputes the identical numbers in SQL from
  a VALUES literal generated from the same formula — full pipeline parity
  with zero shared code.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from european_public_data_pipeline_spark.functions.timeparse import parse_time_code
from european_public_data_pipeline_spark.plans.registry import register
from european_public_data_pipeline_spark.quality.checks import check_suite
from european_public_data_pipeline_spark.sources.jsonstat import jsonstat_to_dataframe
from european_public_data_pipeline_spark.tables import load_table

GEOS = ["DE", "FR", "LU"]
N_MONTHS = 24  # 2023M01 .. 2024M12


def _month_code(i: int) -> str:
    return f"{2023 + i // 12}M{i % 12 + 1:02d}"


def _value(g: int, m: int) -> float:
    """Deterministic synthetic index value (pure formula, no RNG)."""
    return round(100.0 + m * 0.3 + g * 2.0 + ((m * 7 + g * 3) % 5) * 0.1, 1)


def hicp_fixture_payload() -> dict:
    """A dense-but-one-cell-sparse JSON-stat 2.0 cube in Eurostat layout
    (dimension order freq/unit/coicop/geo/time, envelope included) — the
    exact shape of ingestion_hicp_raw.py's bronze output."""
    times = [_month_code(i) for i in range(N_MONTHS)]
    # sparse dict encoding with one missing cell: (geo=FR, last month)
    values = {}
    for g in range(len(GEOS)):
        for m in range(N_MONTHS):
            if GEOS[g] == "FR" and m == N_MONTHS - 1:
                continue
            values[str(g * N_MONTHS + m)] = _value(g, m)
    return {
        "meta": {"dataset": "prc_hicp_midx", "stage": "raw"},
        "data": {
            "id": ["freq", "unit", "coicop", "geo", "time"],
            "size": [1, 1, 1, len(GEOS), N_MONTHS],
            "dimension": {
                "freq": {"category": {"index": {"M": 0}}},
                "unit": {"category": {"index": {"I15": 0}}},
                "coicop": {"category": {"index": {"CP00": 0}}},
                "geo": {"category": {"index": {g: i for i, g in enumerate(GEOS)}}},
                "time": {"category": {"index": {t: i for i, t in enumerate(times)}}},
            },
            "value": values,
        },
    }


def _fixture_values_sql() -> str:
    """VALUES literal reproducing the silver table from the same formula."""
    rows = []
    for g, geo in enumerate(GEOS):
        for m in range(N_MONTHS):
            v = "NULL" if (geo == "FR" and m == N_MONTHS - 1) else repr(_value(g, m))
            rows.append(f"('{geo}', '{_month_code(m)}', {v})")
    return ",\n  ".join(rows)


@register(
    "p01_quality_report",
    category="quality",
    doc="The reference's quality layer as a constraint table: schema "
    "presence, not-null, key uniqueness, positive values, per-series "
    "monthly continuity — all row-level checks in ONE scan, keyed checks "
    "as single aggregations (check_hicp_quality.py:52-119 distributed).",
    oracle="""
SELECT 'columns_present' AS "check", true AS passed, CAST(0 AS BIGINT) AS violations
UNION ALL
SELECT 'not_null:o_orderkey', COUNT(*) FILTER (WHERE o_orderkey IS NULL) = 0,
       CAST(COUNT(*) FILTER (WHERE o_orderkey IS NULL) AS BIGINT) FROM orders
UNION ALL
SELECT 'not_null:o_custkey', COUNT(*) FILTER (WHERE o_custkey IS NULL) = 0,
       CAST(COUNT(*) FILTER (WHERE o_custkey IS NULL) AS BIGINT) FROM orders
UNION ALL
SELECT 'not_null:o_orderdate', COUNT(*) FILTER (WHERE o_orderdate IS NULL) = 0,
       CAST(COUNT(*) FILTER (WHERE o_orderdate IS NULL) AS BIGINT) FROM orders
UNION ALL
SELECT 'not_null:o_totalprice', COUNT(*) FILTER (WHERE o_totalprice IS NULL) = 0,
       CAST(COUNT(*) FILTER (WHERE o_totalprice IS NULL) AS BIGINT) FROM orders
UNION ALL
SELECT 'positive:o_totalprice',
       COUNT(*) FILTER (WHERE o_totalprice IS NOT NULL AND o_totalprice <= 0) = 0,
       CAST(COUNT(*) FILTER (WHERE o_totalprice IS NOT NULL AND o_totalprice <= 0) AS BIGINT)
FROM orders
UNION ALL
SELECT 'unique_key:o_orderkey', v = 0, v FROM (
  SELECT CAST(COALESCE(SUM(n - 1), 0) AS BIGINT) AS v
  FROM (SELECT COUNT(*) AS n FROM orders GROUP BY o_orderkey)
)
UNION ALL
SELECT 'monthly_continuity:o_orderpriority:o_orderdate', v = 0, v FROM (
  SELECT CAST(COALESCE(SUM(gaps), 0) AS BIGINT) AS v FROM (
    SELECT (date_part('year', MAX(o_orderdate)) - date_part('year', MIN(o_orderdate))) * 12
           + (date_part('month', MAX(o_orderdate)) - date_part('month', MIN(o_orderdate))) + 1
           - COUNT(DISTINCT date_trunc('month', o_orderdate)) AS gaps
    FROM orders GROUP BY o_orderpriority
  )
)
""",
)
def p01_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    suite = (
        check_suite(orders)
        .expect_columns(
            ["o_orderkey", "o_custkey", "o_orderdate", "o_totalprice", "o_orderpriority"]
        )
        .expect_not_null(["o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"])
        .expect_positive("o_totalprice")
        .expect_unique_key(["o_orderkey"])
        .expect_monthly_continuity(["o_orderpriority"], "o_orderdate")
    )
    return suite.to_dataframe(spark)


@register(
    "p02_hicp_mom_yoy",
    category="pipeline",
    doc="Flagship end-to-end silver pipeline: JSON-stat hypercube (sparse "
    "envelope fixture) -> the JVM JSON-stat decoder's unpivot -> Eurostat "
    "period-code parse -> canonical projection/sort -> MoM and YoY "
    "inflation via lag windows. Covers R1-R3, F1-F3, P1, O1, §2.9 in one "
    "plan; the oracle recomputes from a VALUES literal built by the same "
    "pure formula.",
    oracle=f"""
WITH raw(geo, time, raw_value) AS (VALUES
  {_fixture_values_sql()}
),
silver AS (SELECT geo, time, CAST(raw_value AS DOUBLE) AS value FROM raw)
SELECT geo, time,
       CAST(strptime(replace(time, 'M', '-'), '%Y-%m') AS DATE) AS month_start,
       value,
       value / LAG(value) OVER w - 1 AS mom_inflation,
       value / LAG(value, 12) OVER w - 1 AS yoy_inflation
FROM silver
WINDOW w AS (PARTITION BY geo ORDER BY time)
ORDER BY geo, time
""",
)
def p02_hicp_mom_yoy(spark: SparkSession, sf_dir: str) -> DataFrame:
    silver = (
        jsonstat_to_dataframe(spark, hicp_fixture_payload())
        .select("geo", "time", "value")
    )
    w = Window.partitionBy("geo").orderBy("time")
    return (
        silver.select(
            "geo",
            "time",
            parse_time_code("time").alias("month_start"),
            "value",
            (F.col("value") / F.lag("value").over(w) - 1).alias("mom_inflation"),
            (F.col("value") / F.lag("value", 12).over(w) - 1).alias("yoy_inflation"),
        )
        .orderBy("geo", "time")
    )

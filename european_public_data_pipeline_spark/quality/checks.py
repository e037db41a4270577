"""Declarative data-quality constraint suite (SURVEY.md §2.5, A2-A9, W3).

The reference runs six hand-coded pandas checks and ANDs them into a gate
(/root/reference/src/quality/check_hicp_quality.py:52-119, gate consumed at
load_hicp_to_sql.py:18-29). Here the same semantics are a reusable library:
each ``expect_*`` declares a constraint; ``to_dataframe`` compiles all of
them into as few distributed jobs as possible and returns a **constraint
table** — one row per check: ``(check, passed, violations)``; ``gate``
raises unless every check passed (the reference's "block the load" rule,
README.md:137).

Execution shape (scale notes):
- All row-level checks (not-null, predicate) compile into ONE ``df.agg``
  pass — a single scan regardless of how many checks are declared
  (the reference makes one pass per check).
- Key-uniqueness and per-series continuity each need one keyed aggregation
  (map-side combined, shuffle on the key).
- Schema presence is metadata-only: no job at all, and its row is a
  ``LocalTableScan`` (no Python worker).
- The result is a tiny DataFrame (rows == checks), cheap to collect,
  union, or write as a report table.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from european_public_data_pipeline_spark.session import local_frame

RESULT_SCHEMA = T.StructType(
    [
        T.StructField("check", T.StringType(), False),
        T.StructField("passed", T.BooleanType(), False),
        T.StructField("violations", T.LongType(), False),
    ]
)


class QualityGateError(RuntimeError):
    """Raised by ``gate`` when any constraint failed (W3: load is blocked)."""


@dataclass
class CheckSuite:
    """Builder for a constraint table over one DataFrame."""

    df: DataFrame
    _expected_columns: list[str] | None = None
    _scalar_checks: list[tuple[str, F.Column]] = field(default_factory=list)
    _unique_keys: list[tuple[str, list[str]]] = field(default_factory=list)
    _continuity: list[tuple[str, list[str], str]] = field(default_factory=list)

    # -- declarations -------------------------------------------------------

    def expect_columns(self, cols: list[str]) -> "CheckSuite":
        """Schema presence (check_hicp_quality.py:57-60). Metadata-only."""
        self._expected_columns = list(cols)
        return self

    def expect_not_null(self, cols: list[str]) -> "CheckSuite":
        """Per-column null counts in one agg (check_hicp_quality.py:63-66)."""
        for c in cols:
            self._scalar_checks.append(
                (f"not_null:{c}", F.sum(F.col(c).isNull().cast("long")))
            )
        return self

    def expect_no_violation(self, name: str, predicate: F.Column) -> "CheckSuite":
        """Count rows matching a violation predicate (e.g. value <= 0,
        check_hicp_quality.py:76-80)."""
        self._scalar_checks.append(
            (name, F.sum(predicate.cast("long")))
        )
        return self

    def expect_positive(self, col: str) -> "CheckSuite":
        return self.expect_no_violation(
            f"positive:{col}", F.col(col).isNotNull() & (F.col(col) <= 0)
        )

    def expect_parseable_time(self, col: str, fmt: str = "yyyy-MM") -> "CheckSuite":
        """Lenient parse, count failures (check_hicp_quality.py:83-86) —
        ``try_to_timestamp`` returns NULL on bad input instead of erroring."""
        parsed = F.try_to_timestamp(F.col(col), F.lit(fmt))
        return self.expect_no_violation(
            f"parseable_time:{col}", F.col(col).isNotNull() & parsed.isNull()
        )

    def expect_fresh(
        self, time_col: str, max_age: str, as_of: "object | None" = None
    ) -> "CheckSuite":
        """Freshness: the newest ``time_col`` must lie within ``max_age``
        (an INTERVAL string, e.g. ``'45 days'``) of ``as_of``. The check
        the reference's gate lacks but every scheduled pipeline needs —
        a stale-but-internally-consistent snapshot passes all six
        reference checks while silently serving old data. ``as_of``
        defaults to the current timestamp; pass an explicit timestamp for
        deterministic tests and backfills. Violations = 1 when stale (or
        when the table is empty), 0 when fresh — folded into the same
        single-pass aggregate as the row-level checks via a max().
        """
        ref = F.lit(as_of).cast("timestamp") if as_of is not None else F.current_timestamp()
        stale = F.max(F.col(time_col)) < ref - F.expr(f"INTERVAL {max_age}")
        self._scalar_checks.append(
            (
                f"fresh:{time_col}:{max_age}",
                F.coalesce(stale.cast("long"), F.lit(1)),
            )
        )
        return self

    def expect_unique_key(self, keys: list[str]) -> "CheckSuite":
        """Duplicate rows beyond the first per key
        (check_hicp_quality.py:69-73)."""
        self._unique_keys.append((f"unique_key:{','.join(keys)}", list(keys)))
        return self

    def expect_monthly_continuity(self, series_keys: list[str], time_col: str) -> "CheckSuite":
        """Per-series month gaps (check_hicp_quality.py:41-49,89-100):
        violations = total missing months across all series, computed as
        expected span minus distinct months — aggregates only, no per-group
        Python, no calendar materialization."""
        self._continuity.append(
            (f"monthly_continuity:{','.join(series_keys)}:{time_col}", list(series_keys), time_col)
        )
        return self

    # -- execution ----------------------------------------------------------

    def to_dataframe(self, spark: SparkSession) -> DataFrame:
        """Compile and run all declared checks; one row per check."""
        parts: list[DataFrame] = []

        if self._expected_columns is not None:
            missing = [c for c in self._expected_columns if c not in self.df.columns]
            parts.append(
                local_frame(
                    spark, [("columns_present", not missing, len(missing))], RESULT_SCHEMA
                )
            )

        if self._scalar_checks:
            aggs = [
                F.coalesce(expr, F.lit(0)).cast("long").alias(f"v{i}")
                for i, (_, expr) in enumerate(self._scalar_checks)
            ]
            row = self.df.agg(*aggs)
            stacked = row.select(
                F.explode(
                    F.array(
                        *[
                            F.struct(
                                F.lit(name).alias("check"),
                                (F.col(f"v{i}") == 0).alias("passed"),
                                F.col(f"v{i}").alias("violations"),
                            )
                            for i, (name, _) in enumerate(self._scalar_checks)
                        ]
                    )
                ).alias("r")
            ).select("r.check", "r.passed", "r.violations")
            parts.append(stacked)

        for name, keys in self._unique_keys:
            dup = (
                self.df.groupBy(*keys)
                .agg(F.count(F.lit(1)).alias("n"))
                .agg(
                    F.coalesce(F.sum(F.col("n") - 1), F.lit(0)).cast("long").alias("violations")
                )
                .select(
                    F.lit(name).alias("check"),
                    (F.col("violations") == 0).alias("passed"),
                    "violations",
                )
            )
            parts.append(dup)

        for name, keys, time_col in self._continuity:
            t = F.col(time_col)
            expected = (
                (F.year(F.max(t)) - F.year(F.min(t))) * 12
                + (F.month(F.max(t)) - F.month(F.min(t)))
                + 1
            ).cast("long")
            present = F.countDistinct(F.trunc(t, "MM"))
            gaps = (
                self.df.groupBy(*keys)
                .agg((expected - present).alias("gaps"))
                .agg(F.coalesce(F.sum("gaps"), F.lit(0)).cast("long").alias("violations"))
                .select(
                    F.lit(name).alias("check"),
                    (F.col("violations") == 0).alias("passed"),
                    "violations",
                )
            )
            parts.append(gaps)

        if not parts:
            return local_frame(spark, [], RESULT_SCHEMA)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out


def check_suite(df: DataFrame) -> CheckSuite:
    return CheckSuite(df)


def gate(checks: DataFrame) -> list[Row]:
    """Quality gate: raise unless every check passed (W3); returns the
    constraint table's rows, collected once.

    The reference encodes PASS/FAIL in a report filename and refuses the
    warehouse load on FAIL (load_hicp_to_sql.py:25-26); here the gate is a
    driver-side precondition over the constraint table. Callers hand the
    rows back as ``local_frame(spark, rows, RESULT_SCHEMA)`` — a report
    that re-reads nothing, where caching the table would cost a job.
    """
    rows = checks.collect()
    failed = [r for r in rows if not r["passed"]]
    if failed:
        detail = ", ".join(f"{r['check']} ({r['violations']} violations)" for r in failed)
        raise QualityGateError(f"quality gate failed: {detail}")
    return rows

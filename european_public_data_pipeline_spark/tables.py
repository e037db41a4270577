"""Table loaders for the driver's synthetic star schema (TESTDATA.md).

Tables: region nation customer supplier part orders lineitem events
documents embeddings — one parquet file each under an sf directory.

``load_tables`` reads them lazily (a Spark read is just a plan node), and
``register_views`` exposes them as temp views so SQL and DataFrame code share
one catalog. At cluster scale the same names would come from a real catalog
(Hive/Unity/Glue); this module is the only place that would change.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Small dimension tables that should always be broadcast in joins.
BROADCAST_TABLES = frozenset({"region", "nation", "supplier", "part", "customer"})

# Natural distribution key per fact table: the column the hot joins/windows
# cluster on. Scattering by a real key (instead of round-robin) is
# deterministic under task retry (no sort-before-repartition pass, see
# SPARK-38388 / optimization guide §2.5) and pre-aligns the table with its
# most common join — lineitem⋈orders on the order key then needs no
# exchange on either side, the bucketed-table effect of guide §2.4.
_SCATTER_KEYS = {
    "lineitem": "l_orderkey",
    "orders": "o_orderkey",
    "events": "user_id",
    "documents": "doc_id",
    "embeddings": "vec_id",
}

# A parquet row group is unsplittable, so a small single-file table scans as
# ONE task and serializes every pre-exchange operator (scan, partial
# aggregation, mapInPandas kernels) onto one core regardless of cluster
# size — the guide §2.5 "input skew" case, with its prescribed remedy:
# repartition immediately after the read. Inputs bigger than this arrive
# as many files/row groups (any warehouse-scale table), where the scan
# parallelizes by itself and the scatter must not add an exchange.
#
# The scatter is OPT-IN per call site, not blanket: the exchange costs a
# real stage (scheduling + AQE re-plan + shuffle of the projected rows)
# PER SUBTREE REFERENCE, and an r13 idle A/B showed blanket scattering
# regresses every query whose first stage is cheap or whose plan
# references the table several times uncached (t17 2.7x, s02 2.1x,
# q18 2.2x worse), while queries whose pre-exchange stage does heavy
# per-row work win big (q01 0.57x, d03 0.58x, q04 0.69x, d25 0.76x).
# Callers ask for it exactly where the serialized first stage is the
# measured bottleneck: decimal aggregation over lineitem, tokenize/
# shingle/md5 kernels over documents.
_SCATTER_MAX_BYTES = 256 * 1024 * 1024
_input_bytes_memo: dict[str, int | None] = {}


def _local_input_bytes(path: str) -> int | None:
    """Total bytes of a local file/directory input; None when the path is
    not locally stat-able (object store / HDFS — i.e. production scale)."""
    import os

    p = path[7:] if path.startswith("file://") else path
    try:
        if os.path.isfile(p):
            return os.path.getsize(p)
        if os.path.isdir(p):
            return sum(
                os.path.getsize(os.path.join(root, f))
                for root, _, files in os.walk(p)
                for f in files
            )
    except OSError:
        return None
    return None


def _scatter(spark: SparkSession, df: DataFrame, path: str, name: str) -> DataFrame:
    """Redistribute an under-parallelized small-file scan across the
    cluster (no-op for broadcast dims and for inputs big enough to split)."""
    if name not in _SCATTER_KEYS:
        return df
    if path not in _input_bytes_memo:
        _input_bytes_memo[path] = _local_input_bytes(path)
    nbytes = _input_bytes_memo[path]
    if nbytes is None or nbytes > _SCATTER_MAX_BYTES:
        return df
    return df.repartition(
        spark.sparkContext.defaultParallelism, _SCATTER_KEYS[name]
    )


def table_path(sf_dir: str, name: str) -> str:
    return f"{sf_dir}/{name}.parquet"


# Lazy-PLAN memo, not a result cache: ``spark.read.parquet`` costs
# ~0.1s of driver work per call (py4j round trips + footer/schema read +
# file-index setup), and a 6-table star query pays it six times PER
# BUILD. The memoized object is an immutable lazy DataFrame — every
# action on plans derived from it still reads the parquet bytes; nothing
# about query RESULTS is stored. Keyed by the live session object so a
# stopped session's stale JVM references can never be served to a new one.
#
# ASSUMPTION: a (session, path) pair's file listing is immutable for the
# session's lifetime — true for the driver/bench contract (read-only
# $SPARK_GRAFT_SF_DIR testdata). A harness that rewrites or appends to a
# memoized path mid-session would be served the first load's file index
# and size; such a harness must call ``clear_table_memo()`` after
# mutating inputs. Entries are keyed by live session objects and live
# for the process (bounded: #sessions x #tables x 2 scatter variants).
_df_memo: dict[tuple, DataFrame] = {}
_events_memo: dict[tuple, tuple[DataFrame, bool]] = {}


def clear_table_memo() -> None:
    """Drop every memoized reader plan (and input-size snapshot).

    For harnesses that regenerate or append to a previously loaded
    parquet path within one session; the next load_table re-lists files.
    """
    _df_memo.clear()
    _events_memo.clear()
    _input_bytes_memo.clear()


def load_table(
    spark: SparkSession, sf_dir: str, name: str, scatter: bool = False
) -> DataFrame:
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    path = table_path(sf_dir, name)
    key = (spark, path, scatter)
    if name == "events":
        # The events loader dispatches on the file's physical ts encoding
        # and (re)sets ``nanosAsLong`` accordingly — a contract per CALL,
        # not per plan (tests/test_events_loader.py pins it). The memo
        # therefore stores whether the plan reads INT64 TIMESTAMP(NANOS)
        # and re-asserts the conf on a hit exactly as a fresh load would;
        # a µs-typed plan leaves the conf untouched, also as a fresh load
        # would.
        hit = _events_memo.get(key)
        if hit is not None:
            df, needs_nanos = hit
            if needs_nanos:
                spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
            return df
        df, needs_nanos = _load_events(spark, path)
        if scatter:
            df = _scatter(spark, df, path, name)
        _events_memo[key] = (df, needs_nanos)
        return df
    if key in _df_memo:
        return _df_memo[key]
    df = spark.read.parquet(path)
    if scatter:
        df = _scatter(spark, df, path, name)
    _df_memo[key] = df
    return df


def _load_events(spark: SparkSession, path: str) -> tuple[DataFrame, bool]:
    """Load events with a dtype-robust ``ts`` column; returns (df,
    needs_nanos) where the flag marks a plan that reads INT64
    TIMESTAMP(NANOS) and therefore requires ``nanosAsLong`` set while it
    executes (the memo above re-asserts it on cache hits).

    The physical encoding of ``events.ts`` has changed between testdata
    generations — parquet INT64 TIMESTAMP(NANOS) in earlier drops,
    ``timestamp[us]`` today — so the loader dispatches on the dtype Spark
    actually read instead of hard-coding one encoding:

    * ``LongType`` (the ``nanosAsLong`` read of a NANOS column): the data is
      not µs-aligned, so ``ts div 1000`` TRUNCATES to Spark's native µs —
      every events oracle µs-truncates too (``CAST(ts AS TIMESTAMP)``).
    * ``TimestampNTZType`` (µs-native parquet without UTC adjustment): cast
      to ``TimestampType``. Sessions here run with
      ``spark.sql.session.timeZone=UTC`` so the cast is value-identity, and
      the collect round-trip preserves wall-clock under any session tz.
    * ``TimestampType``: already Spark-native, pass through.

    Normalizing to ``TimestampType`` keeps one dtype for every downstream
    consumer (streaming schemas, window frames, oracles).
    """
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    try:
        df = spark.read.parquet(path)
    except Exception as e:
        # Schema inference rejects INT64 TIMESTAMP(NANOS) columns outright;
        # ``nanosAsLong`` is the only way to read them, and it must stay set
        # for the lifetime of the returned plan. Set it ONLY on this path so
        # loading ordinary µs-typed files never mutates session-wide read
        # semantics (VERDICT r4 nit). ``get_spark`` sessions set it up
        # front; this fallback covers foreign sessions (the driver's).
        # The retry is attempted on ANY read failure — the exact error
        # phrasing varies across Spark versions/locales, so gating on a
        # message substring would regress nanos files on foreign sessions.
        # If the retry ALSO fails, restore the conf to its prior state
        # (the failure wasn't nanos-related, and leaving it flipped would
        # silently change unrelated parquet reads in a foreign session)
        # and propagate the ORIGINAL error.
        prior = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", None)
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        try:
            df = spark.read.parquet(path)
        except Exception:
            if prior is None:
                spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
            else:
                spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", prior)
            raise e
        if not isinstance(df.schema["ts"].dataType, T.LongType):
            # The first failure was probably transient (ts is not
            # nanos-typed), but ts alone doesn't prove the flag is unused
            # — ANOTHER column could be INT64 TIMESTAMP(NANOS), and the
            # returned plan is lazy. Restore the prior value and PROVE it
            # by re-running schema inference unflagged (nanos rejection
            # happens eagerly at read time): success means the plan never
            # needed the flag (and binds df to the unflagged analysis);
            # failure means it did — re-set it and keep the flagged df.
            # Leaving the flag flipped without proof would silently
            # mutate unrelated parquet reads in a foreign session
            # (ADVICE r6).
            if prior is None:
                spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
            else:
                spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", prior)
            try:
                df = spark.read.parquet(path)
            except Exception:
                spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    ts_type = df.schema["ts"].dataType
    if isinstance(ts_type, T.LongType):
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000"))), True
    if isinstance(ts_type, T.TimestampNTZType):
        return df.withColumn("ts", F.col("ts").cast(T.TimestampType())), False
    if isinstance(ts_type, T.TimestampType):
        return df, False
    raise TypeError(f"unsupported events.ts dtype: {ts_type}")


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLE_NAMES}


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register every table as a temp view; returns the DataFrames too."""
    dfs = load_tables(spark, sf_dir)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs

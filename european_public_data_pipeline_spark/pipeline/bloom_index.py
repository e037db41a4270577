"""Per-file Bloom sidecar index for manifest tables: point-lookup file
pruning on high-cardinality, unsorted columns.

Zone maps (``manifest.read_where``) prune RANGE predicates and work best
when the write clustered the column; a point lookup on an unclustered
key (user_id in an events table ordered by time) matches every file's
[min, max] and prunes nothing. The classic lakehouse answer (Iceberg's
puffin blobs, Delta's bloom filter indexes) is a per-file Bloom filter
kept OUTSIDE the data files: a membership probe reads the small index,
keeps only files whose k bits are all set, and plans the scan on those —
no false negatives ever (Bloom guarantees), false positives only cost an
extra file read.

Layout: the index for version N / column c is a small parquet relation
``{table}/index/v<N>-bloom-<c>/`` with rows (file, word, mask) — one
Bloom filter per file as OR-folded 64-bit words, plus a
``_bloom_meta.json`` in the same directory (underscore-prefixed, so the
parquet reader ignores it) recording the bit width the builder chose.
The width ADAPTS to the data: ~10 bits per key of the largest file
(rounded up to a power of two, floor 16 Ki bits, cap 64 Mi bits) — a
fixed small width would saturate at warehouse file sizes (a 1 GB file
holds ~10^6+ keys; at 16 Ki bits the fill fraction is ~1.0 and every
probe matches every file, silently degrading to a full scan).

The index is built with ONE distributed job over the version's files
(groupBy input_file_name — never a per-file job storm) and pruned with
ONE scan of the sidecar per probe; only file names reach the driver. At
100 TB with 10^5 files the sidecar stays metadata-scale next to the
data (sparse rows: only words with set bits are stored).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from european_public_data_pipeline_spark.pipeline.manifest import (
    _path_key,
    _read_files,
    _manifest_file,
    _read_files_live,
    _read_json,
    _read_manifest,
    _write_json,
    current_version,
)

BLOOM_MIN_BITS = 16384        # floor: 256 words per file
BLOOM_MAX_BITS = 1 << 26      # cap: 8 MiB of words per file
BLOOM_BITS_PER_KEY = 10       # ~1% fp at k=3 in the non-saturated regime
BLOOM_INDEX_HASHES = 3
_SEED = 300  # xxhash64 seed base — disjoint from q80/q81's families


def _positions(col: F.Column, bits: int) -> list[F.Column]:
    return [
        F.pmod(F.xxhash64(F.lit(_SEED + i), col), F.lit(bits))
        for i in range(BLOOM_INDEX_HASHES)
    ]


def _index_dir(table_path: str, version: int, col: str) -> str:
    return f"{table_path}/index/v{version:08d}-bloom-{col}"


def _choose_bits(max_rows_per_file: int) -> int:
    bits = BLOOM_MIN_BITS
    target = max(1, max_rows_per_file) * BLOOM_BITS_PER_KEY
    while bits < target and bits < BLOOM_MAX_BITS:
        bits <<= 1
    return bits


def build_bloom_index(
    spark: SparkSession,
    table_path: str,
    col: str,
    version: int | None = None,
    bits: int | None = None,
) -> str:
    """Build (or rebuild) the per-file Bloom index for ``col`` over one
    committed version. Two jobs: a row-group-metadata count per file to
    size the filter, then the index build itself — explode each row's k
    bit positions keyed by input_file_name, OR-fold into (file, word,
    mask) cells. ``bits`` pins the filter width instead of re-choosing
    it from the data — ``rebuild_index`` passes the prior sidecar's
    width so files the rebuild did not change keep BIT-IDENTICAL
    filters (re-choosing could shrink the width after a purge and
    recompute every filter with a different hash range)."""
    v = version if version is not None else current_version(spark, table_path)
    m = _read_manifest(spark, table_path, v)
    if not m["files"]:
        raise ValueError(
            f"build_bloom_index: version {v} of {table_path} references "
            f"no files — nothing to index"
        )
    src = _read_files(spark, m)
    if bits is None:
        max_rows = (
            src.groupBy(F.input_file_name())
            .count()
            .agg(F.max("count"))
            .collect()[0][0]
            or 0
        )
        bits = _choose_bits(int(max_rows))
    rows = (
        src.select(F.col(col).alias("__k"))
        .withColumn("file", F.input_file_name())
        .select(
            "file",
            F.explode(F.array(*_positions(F.col("__k"), bits))).alias("pos"),
        )
        .select(
            "file",
            F.expr("pos div 64").alias("word"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))").alias(
                "bit"
            ),
        )
        .groupBy("file", "word")
        .agg(F.expr("bit_or(bit)").alias("mask"))
    )
    out = _index_dir(table_path, v, col)
    rows.write.mode("overwrite").parquet(out)
    _write_json(
        spark,
        f"{out}/_bloom_meta.json",
        {"bits": bits, "hashes": BLOOM_INDEX_HASHES},
        overwrite=True,
    )
    return out


def read_point(
    spark: SparkSession,
    table_path: str,
    col: str,
    value,
    version: int | None = None,
) -> DataFrame:
    """Point lookup with Bloom file pruning: plan only the files whose
    index cells have every probe bit set, then apply the exact equality
    filter. ``value`` may be a single key or a list/tuple of keys — a
    BATCHED probe computes every value's cells in ONE 1-row job and
    scans the sidecar ONCE, planning one read over the UNION of the
    per-value candidate file sets (an IN-list served as N separate
    lookups would pay N sidecar scans and N probe jobs; at interactive
    lookup rates that per-Spark-job overhead, not IO, is the latency
    floor). Per-value soundness is unchanged — Bloom has no false
    negatives — so the pruned IN-filter read stays EXACT.

    Conservative by construction: files the sidecar has never seen
    (appended after the build, or rewritten under new names by
    purge_rows) stay candidates, and a missing index falls back to
    reading the whole version — both still correct. Probe lists are
    interactive-scale (the sidecar aggregation carries k flags per
    value); for analytic IN-lists of many thousands, join against the
    table instead."""
    if isinstance(value, set):
        # Sets enumerate in hash order — sort for a deterministic probe
        # plan (cell column order, candidate ordering in explains/tests).
        values = sorted(value)
    elif isinstance(value, (list, tuple)):
        values = list(value)
    else:
        values = [value]
    if not values:
        raise ValueError("read_point: empty probe value list")
    if len(values) > 256:
        # The sidecar aggregate carries k flag columns PER probe value —
        # an analytic-size IN-list would build a thousands-wide aggregate
        # and a driver-side candidate union. That shape belongs in a join
        # against the table, not a point lookup; fail loudly instead of
        # degrading.
        raise ValueError(
            f"read_point: {len(values)} probe values exceeds the "
            f"interactive-lookup cap (256); join against the table for "
            f"analytic IN-lists"
        )
    v = version if version is not None else current_version(spark, table_path)
    m = _read_manifest(spark, table_path, v)
    if not m["files"]:
        # A file-less version (possible after purge_rows emptied it) has
        # no schema source — fail descriptively, like read_appended.
        raise ValueError(
            f"read_point: version {v} of {table_path} references no "
            f"files — no schema to derive"
        )
    idx = _index_dir(table_path, v, col)
    try:
        sidecar = spark.read.parquet(idx)
        bits = int(_read_json(spark, f"{idx}/_bloom_meta.json")["bits"])
    except Exception:
        return _read_files_live(spark, m).where(F.col(col).isin(values))
    # Every value's k (word, mask) cells, computed with the SAME hash
    # expressions and bit width the builder used, in ONE 1-row job.
    # xxhash64 hashes the TYPED binary value, so each literal must carry
    # the column's exact dtype — an int probe against a bigint column
    # would silently hash differently and read as a false negative.
    dt = _read_files(spark, m, [m["files"][0]]).schema[col].dataType
    probe = (
        spark.range(1)
        .select(
            F.explode(
                F.array(*[
                    F.struct(F.lit(vi).alias("vi"), p.alias("pos"))
                    for vi, val in enumerate(values)
                    for p in _positions(F.lit(val).cast(dt), bits)
                ])
            ).alias("c")
        )
        .select(
            F.col("c.vi").alias("vi"),
            F.expr("c.pos div 64").alias("word"),
            F.expr(
                "shiftleft(CAST(1 AS BIGINT), CAST(c.pos % 64 AS INT))"
            ).alias("bit"),
        )
        .collect()
    )
    cells = [(int(r["vi"]), int(r["word"]), int(r["bit"])) for r in probe]
    hits = [
        F.max(
            F.when(
                (F.col("word") == w) & (F.col("mask").bitwiseAND(F.lit(b)) != 0),
                1,
            ).otherwise(0)
        ).alias(f"h{i}")
        for i, (_vi, w, b) in enumerate(cells)
    ]
    cell_idx_by_value: dict[int, list[int]] = {}
    for i, (vi, _w, _b) in enumerate(cells):
        cell_idx_by_value.setdefault(vi, []).append(i)
    # ONE sidecar scan for ALL values: every indexed file comes back with
    # its per-cell hit flags; a file is a candidate when SOME value has
    # all of its cells set, and the full listing doubles as the indexed
    # set (files absent from it must stay candidates — pruning is only
    # sound for files the index covers).
    per_file = sidecar.groupBy("file").agg(*hits).collect()
    indexed: set[str] = set()
    cand_keys: set[str] = set()
    for r in per_file:
        key = _path_key(r["file"])
        indexed.add(key)
        if any(
            all(r[f"h{i}"] == 1 for i in idxs)
            for idxs in cell_idx_by_value.values()
        ):
            cand_keys.add(key)
    keep = [
        f
        for f in m["files"]
        if _path_key(f) in cand_keys or _path_key(f) not in indexed
    ]
    if not keep:
        return _read_files(spark, m, [m["files"][0]]).where(F.lit(False))
    # Live read: a Bloom hit only proves the file MAY hold the value —
    # merge-on-read delete sidecars must still apply, or a point lookup
    # would resurrect a logically-deleted row (the sidecar indexes ALL
    # physical rows by design; dead rows are filtered here, not there).
    return _read_files_live(spark, m, keep).where(F.col(col).isin(values))


def rebuild_index(
    spark: SparkSession, table_path: str, col: str
) -> list[str]:
    """Rebuild EVERY existing Bloom sidecar for ``col`` against its
    version's CURRENT file list — the post-``purge_rows`` remediation.
    A purge rewrites files under new names IN PLACE across all committed
    history without bumping any version, so every sidecar built before
    it is stale at once: still sound (``read_point`` keeps never-seen
    files as candidates — rewritten files are simply read unpruned), but
    the point-lookup planning degrades toward a full scan as more files
    are rewritten. This walks the index dir, finds each version that has
    a ``col`` sidecar, and rebuilds it from that version's manifest.
    Returns the rebuilt index paths. One distributed build job per
    indexed version; versions without a sidecar are untouched (nobody
    point-reads them through an index)."""
    import re

    jvm = spark.sparkContext._jvm
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    idx_root = jvm.org.apache.hadoop.fs.Path(f"{table_path}/index")
    fs = idx_root.getFileSystem(hconf)
    if not fs.exists(idx_root):
        return []
    rebuilt = []
    for st in fs.listStatus(idx_root):
        name = st.getPath().getName()
        # Exact (version, column) parse — a column name that itself
        # contains "-bloom-" or a hyphen must not confuse the split.
        m = re.match(r"^v(\d{8})-bloom-(.+)$", name)
        if not m or m.group(2) != col:
            continue
        v = int(m.group(1))
        mpath = jvm.org.apache.hadoop.fs.Path(_manifest_file(table_path, v))
        if not fs.exists(mpath):
            # A sidecar orphaned by a crash inside expire_versions
            # (manifests are deleted before index dirs): its version no
            # longer exists, so there is nothing to rebuild FOR — drop
            # it (like the emptied-version case) and keep walking, so
            # one orphan cannot abort the rebuild and leave every later
            # version's sidecar stale. Existence is checked explicitly
            # — a transient READ error on a live manifest must
            # propagate, not destroy a valid sidecar.
            fs.delete(st.getPath(), True)
            continue
        mf = _read_manifest(spark, table_path, v)
        if not mf["files"]:
            # The purge emptied this version entirely: nothing to index,
            # and build_bloom_index would (rightly) refuse. Drop the
            # orphaned sidecar — read_point on a file-less version fails
            # descriptively regardless — and keep rebuilding the rest.
            fs.delete(st.getPath(), True)
            continue
        # Keep the prior width: a purge only shrinks files, so the old
        # width still satisfies the bits-per-key target, and unchanged
        # files get bit-identical filters (the rebuilt plan's candidate
        # set is then provably a subset of the stale plan's — q117).
        try:
            prior_bits: int | None = int(
                _read_json(
                    spark, f"{_index_dir(table_path, v, col)}/_bloom_meta.json"
                )["bits"]
            )
        except Exception:
            prior_bits = None
        rebuilt.append(
            build_bloom_index(spark, table_path, col, version=v, bits=prior_bits)
        )
    return rebuilt

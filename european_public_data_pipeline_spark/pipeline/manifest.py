"""Versioned manifests: snapshot isolation + time travel on plain parquet
(SURVEY.md §2.1 S11 generalized).

The reference publishes a ``LATEST.json`` pointer that names the newest
quality-passed batch (/root/reference/src/quality/check_hicp_quality.py:155-158,
consumed at load_hicp_to_sql.py:15-29) — one mutable pointer, no history.
This module is the lakehouse-shaped generalization, the poor man's
Iceberg/Delta log:

- ``publish_version`` writes the batch's files under an immutable
  ``data/v<N>/`` prefix, then commits ``manifest/<N>.json`` (the file
  list + row count), and finally swaps the ``LATEST`` pointer. Readers
  NEVER list data directories — they read the file list from a manifest,
  so a half-written publish is invisible (the manifest appears only
  after its data files are complete) and a reader holding manifest N is
  untouched by later publishes: snapshot isolation without a
  transactional store.
- ``read_version`` loads exactly the files a manifest names — ``None``
  for the current pointer, an integer for time travel.
- ``rollback`` re-points LATEST at an older manifest WITHOUT touching
  data (instant, reversible — the operational escape hatch after a bad
  load).

Commit-protocol details (round-5 review hardening):

- Manifests are IMMUTABLE: the commit rename refuses to replace an
  existing ``manifest/<N>.json`` and the rename's boolean result is
  checked — two racing publishers cannot both claim version N; the loser
  gets ``ConcurrentPublishError`` instead of silently clobbering the
  winner's committed batch.
- The LATEST pointer swap uses ``FileContext.rename(..., OVERWRITE)`` —
  atomic on filesystems that support it, and never a delete-then-rename
  window. Readers additionally fall back to the highest committed
  manifest if the pointer is momentarily unreadable.

All file IO goes through the Hadoop FileSystem API so the behavior is
identical on local disk, HDFS, and object stores. At 100 TB the manifest
is KB-sized regardless of table size; the pointer swap is one
rename-class operation.
"""

from __future__ import annotations

import json
import time
import uuid
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import LongType, StringType, StructField, StructType

from european_public_data_pipeline_spark.pipeline.fs_util import hadoop_fs
from european_public_data_pipeline_spark.session import local_frame


def _list_parquet(jvm, fs, d: str) -> list[str]:
    """Sorted parquet paths directly under a staged directory — the one
    listing idiom every writer shares (staged batches, MOR sidecars,
    persisted changelogs, purge rewrites)."""
    return sorted(
        str(st.getPath().toString())
        for st in fs.listStatus(jvm.org.apache.hadoop.fs.Path(d))
        if st.getPath().getName().endswith(".parquet")
    )


class ConcurrentPublishError(RuntimeError):
    """Another publisher committed this version first."""


class PurgeInFlightError(RuntimeError):
    """A purge tombstone is pending while this commit tried to land a
    merge-on-read delete sidecar or persisted changelog — payloads that
    carry row/key VALUES a purge plan's file remap can never rewrite.
    Retry after the purge completes; callers clean their staged
    sidecar/changelog files exactly as for ConcurrentPublishError."""


def _write_json(
    spark: SparkSession, path_str: str, payload: dict, *, overwrite: bool
) -> None:
    """Write-temp-then-rename: the commit point is the rename, so a
    crashed writer leaves only an ignorable ``.tmp``.

    ``overwrite=False`` (manifests — immutable): refuses an existing
    destination and surfaces a lost rename race as
    ``ConcurrentPublishError``. ``overwrite=True`` (the LATEST pointer):
    atomic rename-over-existing via ``FileContext`` — no window in which
    the pointer does not exist.

    The temp name carries a per-attempt uuid so two racing publishers
    never write through the same ``.tmp`` path (a shared fixed name would
    let racer B's create(overwrite) clobber racer A's bytes between A's
    write and A's rename)."""
    jvm, fs, final = hadoop_fs(spark, path_str)
    tmp = jvm.org.apache.hadoop.fs.Path(
        f"{path_str}.{uuid.uuid4().hex[:12]}.tmp"
    )
    out = fs.create(tmp, True)
    out.write(bytearray(json.dumps(payload, sort_keys=True).encode("utf-8")))
    out.close()
    if overwrite:
        conf = spark.sparkContext._jsc.hadoopConfiguration()
        fc = jvm.org.apache.hadoop.fs.FileContext.getFileContext(conf)
        opts = spark.sparkContext._gateway.new_array(
            jvm.org.apache.hadoop.fs.Options.Rename, 1
        )
        opts[0] = jvm.org.apache.hadoop.fs.Options.Rename.OVERWRITE
        fc.rename(tmp, final, opts)
        return
    if fs.exists(final) or not fs.rename(tmp, final):
        fs.delete(tmp, False)
        raise ConcurrentPublishError(
            f"{path_str} was committed by another publisher"
        )


def _read_json(spark: SparkSession, path_str: str) -> dict:
    jvm, fs, p = hadoop_fs(spark, path_str)
    stream = fs.open(p)
    try:
        # py4j copies byte arrays ONE-WAY, so stream.readFully(buf) would
        # mutate a JVM-side copy Python never sees — decode on the JVM.
        text = jvm.org.apache.commons.io.IOUtils.toString(
            stream, jvm.java.nio.charset.StandardCharsets.UTF_8
        )
        return json.loads(text)
    finally:
        stream.close()


def _manifest_file(table_path: str, v: int) -> str:
    """Where version ``v``'s manifest lives: the one spelling of the
    on-disk layout ``{table}/manifest/<v, eight digits>.json``."""
    return f"{table_path}/manifest/{v:08d}.json"


def _read_manifest(spark: SparkSession, table_path: str, v: int) -> dict:
    return _read_json(spark, _manifest_file(table_path, v))


def versions(spark: SparkSession, table_path: str) -> list[int]:
    """Committed manifest versions, ascending (empty for a fresh path)."""
    jvm, fs, _ = hadoop_fs(spark, table_path)
    mdir = jvm.org.apache.hadoop.fs.Path(f"{table_path}/manifest")
    if not fs.exists(mdir):
        return []
    out = []
    for st in fs.listStatus(mdir):
        name = st.getPath().getName()
        if name.endswith(".json") and name[:-5].isdigit():
            out.append(int(name[:-5]))
    return sorted(out)


def _merge_schemas(prior_json: str | None, staged):
    """Additive schema evolution (Delta/Iceberg's rule): the new
    version's schema is the prior schema plus any columns the staged
    batch introduces, in prior-first order. A same-name column with a
    DIFFERENT type is an error — silent coercion would corrupt either
    history or the batch; widen explicitly by rewriting instead."""
    if prior_json is None:
        return staged
    prior = StructType.fromJson(json.loads(prior_json))
    by_name = {f.name: f for f in prior.fields}
    out = list(prior.fields)
    for f in staged.fields:
        have = by_name.get(f.name)
        if have is None:
            out.append(f)
        elif have.dataType != f.dataType:
            raise ValueError(
                f"schema evolution conflict on column {f.name!r}: table has "
                f"{have.dataType.simpleString()}, batch has "
                f"{f.dataType.simpleString()} — additive evolution only; "
                f"widen by explicit rewrite"
            )
    return StructType(out)


def _read_files(spark: SparkSession, m: dict, files: list | None = None) -> DataFrame:
    """Plan a read over a manifest's files USING THE MANIFEST'S SCHEMA
    when recorded: the manifest, not parquet-footer inference, owns the
    table schema — after additive evolution, pre-evolution files lack
    the new columns, and an inferred read would serve whichever file's
    schema the reader sampled (silently dropping columns). With the
    stored schema, missing columns read as NULL — the lakehouse
    contract. Tables committed before schemas were recorded fall back
    to inference (their files are homogeneous by construction)."""
    fl = m["files"] if files is None else files
    sj = m.get("schema")
    if sj:
        return spark.read.schema(
            StructType.fromJson(json.loads(sj))
        ).parquet(*fl)
    return spark.read.parquet(*fl)


def _schema_names(spark: SparkSession, m: dict, fl: list) -> list[str]:
    """The version's column names: from the recorded manifest schema
    when present, else one footer read (legacy schema-less tables are
    homogeneous by construction — see ``_read_files``)."""
    sj = m.get("schema")
    if sj:
        return StructType.fromJson(json.loads(sj)).names
    return spark.read.parquet(fl[0]).schema.names if fl else []


def _delete_entries(m: dict) -> list[dict]:
    """The manifest's merge-on-read delete sidecars, oldest first — the
    two Iceberg-v2 flavors:

    - EQUALITY: ``{"version": dv, "files": [...], "keys": [cols],
      "schema": json}`` — removes every row whose key tuple appears in
      the sidecar (``schema``, the sidecar's written schema, is absent
      from entries committed before it was recorded).
    - POSITION: ``{"version": dv, "files": [...], "kind": "position"}``
      — the sidecar holds exact ``(__pf, __pr)`` = (normalized file
      path, row index) pairs; removes precisely those physical rows
      (the shape predicate deletes need on tables WITHOUT unique keys,
      where an equality delete could not name one of two duplicates).

    Both apply only to files ADDED BEFORE ``dv`` (``file_added``) — a
    row (re-)inserted after the delete stays alive."""
    return sorted(m.get("delete_files") or [], key=lambda e: e["version"])


# SQL mirror of _path_key — sidecar writers and the live reader compute
# file keys with the SAME expression, so scheme/slash rendering can
# never desynchronize them.
_PATH_KEY_SQL = r"^[a-z][a-z0-9+.-]*:/+"

# What a position sidecar holds: ``_pos_capture``'s identity columns.
_POSITION_SIDECAR_SCHEMA = StructType(
    [StructField("__pf", StringType()), StructField("__pr", LongType())]
)


def _pos_capture(df: DataFrame) -> DataFrame:
    """Capture each row's physical identity AT SCAN: normalized file
    path (``__pf``) + row index within the file (``__pr``, parquet's
    ``_metadata.row_index``). Only valid directly on a scan — joins
    void the metadata column. A source schema already carrying either
    reserved name is refused loudly (the select would otherwise yield
    ambiguous references mid-operation — the same hazard class as
    ``_chain_changelog``'s ``__w`` check)."""
    from pyspark.sql import functions as F

    clash = {"__pf", "__pr"} & set(df.columns)
    if clash:
        raise ValueError(
            f"position deletes reserve column names {sorted(clash)}; "
            "rename the source column(s) — the physical-identity capture "
            "would otherwise produce ambiguous references"
        )
    return df.select(
        F.regexp_replace(
            F.col("_metadata.file_path"), _PATH_KEY_SQL, "/"
        ).alias("__pf"),
        F.col("_metadata.row_index").alias("__pr"),
        "*",
    )


def _read_files_live(
    spark: SparkSession,
    m: dict,
    files: list | None = None,
    file_col: str | None = None,
    keep_positions: bool = False,
) -> DataFrame:
    """``_read_files`` + merge-on-read delete application: anti-join
    each file's rows against the delete sidecars that APPLY to it — a
    sidecar committed at version ``dv`` applies to files added before
    ``dv`` (``file_added``; absent entries read as version 0 — every
    sidecar applies, correct for files that predate MOR tracking). Files
    bucket by the index of their first applicable sidecar (at most
    #delete-commits + 1 buckets — compact folds and clears the list, so
    this stays small), each bucket anti-joins its sidecar suffix with
    the KB-scale sidecars BROADCAST: the fact side never shuffles, and
    at 100 TB the delete application costs a broadcast hash probe per
    row, not a rewrite. ``file_col`` captures ``input_file_name()`` AT
    SCAN into a named column (before the anti joins, after which the
    scan attribution would be undefined) for callers that need per-file
    accounting (the COW merge's counting scan); ``keep_positions``
    likewise keeps the physical-identity columns ``__pf``/``__pr`` in
    the result (the position-delete writer needs them)."""
    from pyspark.sql import functions as F

    entries = _delete_entries(m)
    fl = m["files"] if files is None else files
    if file_col is not None:
        # Same reserved-name hazard class as _pos_capture's __pf/__pr:
        # a source column named like the capture column would make the
        # select below yield two same-named columns — every downstream
        # reference ambiguous (the COW merge's counting scan passes
        # "__f" here).
        if file_col in set(_schema_names(spark, m, fl)):
            raise ValueError(
                f"file_col={file_col!r} collides with a source column; "
                f"rename the source column — the per-file capture would "
                f"otherwise produce ambiguous references"
            )
    if not fl:
        # An empty live read (every candidate pruned) with sidecars
        # present would otherwise crash below (min() of zero buckets);
        # without sidecars _read_files would crash on a zero-path scan.
        # Derive the schema the way a non-empty read would and keep the
        # caller-visible shape (capture columns included, typed NULL —
        # zero rows, so no physical identity exists to capture).
        sj = m.get("schema")
        if sj:
            base = local_frame(spark, [], StructType.fromJson(json.loads(sj)))
        elif m["files"]:
            base = _read_files(spark, m, [m["files"][0]]).where(F.lit(False))
        else:
            raise ValueError(
                "_read_files_live: version references no files and "
                "records no schema — nothing to derive an empty read from"
            )
        if keep_positions:
            base = base.select(
                F.lit(None).cast("string").alias("__pf"),
                F.lit(None).cast("long").alias("__pr"),
                "*",
            )
        if file_col is not None:
            base = base.select(
                F.lit(None).cast("string").alias(file_col), "*"
            )
        return base
    if not entries:
        base = _read_files(spark, m, fl)
        if keep_positions:
            base = _pos_capture(base)
        if file_col is not None:
            base = base.select(F.input_file_name().alias(file_col), "*")
        return base
    import bisect as _bisect

    fa = m.get("file_added") or {}
    evs = [e["version"] for e in entries]
    buckets: dict[int, list[str]] = {}
    for f in fl:
        a = int(fa.get(_path_key(f), 0))
        i = _bisect.bisect_right(evs, a)  # entries[i:] apply (dv > a)
        buckets.setdefault(i, []).append(f)
    # One key frame per ENTRY, reused across buckets — rebuilding it
    # inside the bucket loop would re-open every sidecar's footers once
    # per bucket. Sidecars are read as written, with no distinct: an
    # anti join ignores duplicates on its build side, and every writer
    # commits distinct key tuples anyway. The unconditional broadcast
    # is safe because the MOR writers REFUSE batches past their collect
    # caps (262k tuples/positions ≈ a few MB) — every committed sidecar
    # is broadcast-sized by construction.
    # Entries below every bucket's first applicable index are never
    # joined — building their frames would still eagerly read sidecar
    # footers driver-side on every such read (e.g. a read_where that
    # keeps only files newer than an old sidecar). Frames are planned
    # with a known schema, never a footer-inference job: position
    # sidecars have a fixed one, equality entries record theirs
    # (entries committed before that still infer).
    first_needed = min(buckets)
    dks: list = [None] * first_needed
    for e in entries[first_needed:]:
        if e.get("kind") == "position":
            dk = spark.read.schema(_POSITION_SIDECAR_SCHEMA).parquet(*e["files"])
            dks.append((["__pf", "__pr"], dk, True))
        else:
            reader = spark.read
            if e.get("schema"):
                reader = reader.schema(StructType.fromJson(json.loads(e["schema"])))
            dk = reader.parquet(*e["files"]).select(*e["keys"])
            dks.append((list(e["keys"]), dk, False))
    out: DataFrame | None = None
    for i in sorted(buckets):
        raw = _read_files(spark, m, buckets[i])
        # Position entries need each row's physical identity captured
        # AT SCAN (joins void _metadata); dropped again before the
        # buckets union, so the caller-visible schema is unchanged.
        has_pos = any(is_pos for _k, _dk, is_pos in dks[i:])
        part = _pos_capture(raw) if (has_pos or keep_positions) else raw
        if file_col is not None:
            part = part.select(F.input_file_name().alias(file_col), "*")
        for ekeys, dk, _is_pos in dks[i:]:
            part = part.join(F.broadcast(dk), on=ekeys, how="left_anti")
        if has_pos and not keep_positions:
            part = part.drop("__pf", "__pr")
        out = part if out is None else out.unionByName(part)
    return out


def _stage_dir(table_path: str, n: int) -> str:
    """A publisher-unique staging prefix for candidate version ``n``.

    Two publishers racing on the same next version each stage under their
    OWN ``data/v<N>-<uuid>`` directory: the loser's overwrite can only
    ever touch the loser's files, never data a committed manifest names
    (the old shared ``data/v<N>`` prefix let the loser's staged
    mode-overwrite delete the winner's already-committed batch). Readers
    never list data directories — the manifest records the exact file
    list, so the directory name is immaterial to reads."""
    return f"{table_path}/data/v{n:08d}-{uuid.uuid4().hex[:12]}"


def _path_key(path_str: str) -> str:
    """Scheme-insensitive file key: ``file:/x``, ``file:///x`` and ``/x``
    all map to ``/x`` — Hadoop listStatus and Spark's input_file_name()
    render the same local file with different slash counts."""
    import re

    return re.sub(r"^[a-z][a-z0-9+.-]*:/+", "/", path_str)


def _json_scalar(v, round_toward: str | None = None):
    """Min/max values JSON-ready: numerics/strings/bools pass through,
    dates/timestamps serialize as str (zone-map pruning compares
    like-typed values; the string form works for readers probing with
    the same type). Decimals narrow to float with the bound WIDENED in
    ``round_toward`` direction ('down' for a min, 'up' for a max) —
    round-to-nearest could otherwise round a file's min UP or max DOWN
    and prune a file that contains matching rows."""
    import datetime
    import decimal
    import math

    if v is None or isinstance(v, (int, float, str, bool)):
        return v
    if isinstance(v, decimal.Decimal):
        f = float(v)
        if round_toward == "down" and decimal.Decimal(f) > v:
            f = math.nextafter(f, -math.inf)
        elif round_toward == "up" and decimal.Decimal(f) < v:
            f = math.nextafter(f, math.inf)
        return f
    if isinstance(v, (datetime.date, datetime.datetime)):
        return str(v)
    return str(v)


def _file_stats(staged: DataFrame, stats_cols: tuple) -> tuple[dict, int]:
    """Per-file zone maps for the staged batch, ``{file: {col: [min,
    max]}}``, and its row count, in ONE aggregation over the staged batch
    (grouped by input_file_name — never a per-file job storm). O(batch)
    like the write that produced the files; at 100 TB the result is
    KB-sized (files x columns x 2 scalars) and lives in the manifest, so
    readers prune without touching data. A column whose file slice is
    all-NULL records [null, null] — provably unmatchable by any range
    predicate (SQL BETWEEN never matches NULL), which read_where
    exploits."""
    from pyspark.sql import functions as F

    aggs = [F.count(F.lit(1)).alias("__rows")]
    for c in stats_cols:
        aggs.append(F.min(c).alias(f"mn_{c}"))
        aggs.append(F.max(c).alias(f"mx_{c}"))
    rows = (
        staged.groupBy(F.input_file_name().alias("__file"))
        .agg(*aggs)
        .collect()
    )
    stats = {
        _path_key(r["__file"]): {
            c: [
                _json_scalar(r[f"mn_{c}"], round_toward="down"),
                _json_scalar(r[f"mx_{c}"], round_toward="up"),
            ]
            for c in stats_cols
        }
        for r in rows
    }
    return stats, sum(r["__rows"] for r in rows)


# How long a finished purge's plan stays readable as a ``completed-``
# tombstone. The post-commit fence in ``_commit`` needs a purge that
# finished INSIDE a commit's fence->write window to still be visible a
# moment later; one hour dwarfs any commit's stage-to-manifest gap, and
# the KB-sized plans are reclaimed by the next purge_rows run after it.
COMPLETED_PLAN_TTL_S = 3600.0

# Cross-driver clock-skew allowance for the erasure fence: a purge
# plan's completed_at (purge driver's clock) within this many seconds
# BEFORE a writer's manifest-read time (writer's clock) still counts as
# "completed inside the staging window". Bounded by ordinary NTP drift;
# a commit refused inside the allowance of a rare purge just retries
# with a fresh read.
PURGE_CLOCK_SKEW_S = 60.0


def _purge_plans(spark: SparkSession, table_path: str) -> list[dict]:
    """Remap-carrying purge plans currently visible under
    ``{table}/purge``: pending tombstones (a purge in flight or crashed)
    and recently-completed plans kept for the writer fences, ordered
    oldest-completed first (pending plans last — they are the newest
    link of any chain). Plan-less legacy tombstones are skipped (their
    replay never deletes a file any manifest references, so carried
    files stay sound without a remap). Completed plans past their TTL
    are skipped WITHOUT being read (mtime check only): the fences
    provably cannot need them — any commit whose staging window spans
    the TTL is caught by the existence sweep instead — so a table
    purged once long ago pays one listing, not a JSON read per expired
    plan on every later append (the reads are reclaimed for good by
    ``vacuum_orphans``/``_replay_pending_purges``). A read error on a
    COMPLETED plan is tolerated (a racing TTL reclaim deleted it — its
    remap is already visible in every committed manifest); a read error
    on a PENDING plan PROPAGATES: an in-flight purge the fence cannot
    see is exactly the case the fence exists for, so failing the commit
    loudly beats committing doomed references."""
    jvm, fs, _ = hadoop_fs(spark, table_path)
    pdir = jvm.org.apache.hadoop.fs.Path(f"{table_path}/purge")
    if not fs.exists(pdir):
        return []
    ttl_cutoff_ms = (time.time() - COMPLETED_PLAN_TTL_S) * 1000.0
    plans = []
    for st in fs.listStatus(pdir):
        nm = st.getPath().getName()
        if not (nm.startswith(("pending-", "completed-")) and nm.endswith(".json")):
            continue
        if nm.startswith("completed-") and st.getModificationTime() < ttl_cutoff_ms:
            continue  # past the TTL: provably unneeded by any fence
        try:
            plan = _read_json(spark, str(st.getPath().toString()))
        except Exception:
            if nm.startswith("completed-"):
                continue  # racing delete of a plan past its TTL
            raise
        if "remap" in plan:
            # Identity stable across the pending- -> completed- rename
            # (the uuid part): the erasure fence compares the plan sets
            # it saw before and after the manifest write.
            plan["__plan_id"] = nm.split("-", 1)[1]
            plans.append(plan)
    # Chains must apply in completion order (a later purge's plan remaps
    # the previous one's rewrite targets): completed plans sort by their
    # recorded completion time, pending ones (no completed_at yet) last.
    plans.sort(key=lambda p: p.get("completed_at", float("inf")))
    return plans


def _remap_manifest_payload(m: dict, removed: dict, remap: dict) -> bool:
    """Apply one purge plan's old->new file remap to a manifest payload
    IN PLACE (path-key matched); returns whether anything changed.
    Idempotent: an already-remapped manifest names no old files. Shared
    by ``_apply_purge_plan`` (the purge side) and ``_commit``'s
    post-commit fence (the writer side), so the two can never disagree
    on remap semantics."""
    removed_k = {_path_key(k): v for k, v in removed.items()}
    remap_k = {_path_key(k): v for k, v in remap.items()}
    touched = [f for f in m["files"] if _path_key(f) in removed_k]
    if not touched:
        return False
    new_list = []
    for f in m["files"]:
        k = _path_key(f)
        if k not in removed_k:
            new_list.append(f)
        elif remap_k.get(k):
            new_list.append(remap_k[k])
        # else: emptied file drops out
    m["files"] = new_list
    m["row_count"] = int(m["row_count"]) - sum(
        removed_k[_path_key(f)] for f in touched
    )
    stats = m.get("file_stats")
    if stats:
        for f in touched:
            stats.pop(_path_key(f), None)
    fa = m.get("file_added")
    if fa:
        # A remapped file keeps its original add-version (same rows
        # minus the purged ones), so delete-sidecar applicability is
        # unchanged; an emptied file's entry drops with it.
        for f in touched:
            k = _path_key(f)
            tgt = remap_k.get(k)
            v_added = fa.pop(k, None)
            if tgt and v_added is not None:
                fa[_path_key(tgt)] = v_added
    return True


class Head(NamedTuple):
    """The committed version a writer builds on (``_read_head``):
    ``version``, its manifest ``m``, ``read_at`` (when the manifest was
    read: the purge fences' anchor; with ``None`` the erasure fence
    counts every visible purge plan as a hazard and the existence sweep
    is skipped) and ``schema``, the recorded schema JSON or, for a
    legacy table, one footer's."""

    version: int
    m: dict
    read_at: float | None
    schema: str | None


def _read_head(spark: SparkSession, table_path: str) -> Head | None:
    """The highest committed version as a ``Head`` — every carrying
    writer chains off it (not the LATEST pointer), so after a
    ``rollback`` the next version number is still free. ``None`` on a
    fresh path. A legacy table (committed before schemas were
    recorded) derives its schema from one file's footer — homogeneous
    by construction, any file serves — so a commit carrying its files
    records the schema from then on and an evolving batch cannot orphan
    the prior columns."""
    vs = versions(spark, table_path)
    if not vs:
        return None
    read_at = time.time()
    m = _read_manifest(spark, table_path, vs[-1])
    schema = m.get("schema")
    if schema is None and m["files"]:
        schema = spark.read.parquet(m["files"][0]).schema.json()
    return Head(vs[-1], m, read_at, schema)


def _tracked_stats_cols(m: dict) -> tuple[str, ...]:
    """The columns a version keeps zone maps for, sorted — what a
    rewrite re-records so pruning survives it."""
    return tuple(
        sorted({c for per_file in m.get("file_stats", {}).values() for c in per_file})
    )


def _commit(
    spark: SparkSession,
    table_path: str,
    n: int,
    data_dir: str | None,
    schema: StructType | None = None,
    *,
    head: Head | None = None,
    keep: list[str] | None = None,
    rows_removed: int = 0,
    meta: dict | None = None,
    stats_cols: tuple[str, ...] = (),
    op: str = "overwrite",
    delete_entry: dict | None = None,
    changelog_dir: str | None = None,
) -> int:
    """The shared commit tail: list the staged files, write the immutable
    manifest ``n``, swap LATEST. A writer says only what it changed; the
    version inherits the rest from ``head``, the version the writer read
    (``_read_head``; ``None`` for a full publish, which inherits nothing):
    the ``keep`` files (default all — the COW merge keeps its untouched
    ones) with their zone maps, ``row_count`` minus ``rows_removed``,
    the schema (merged additively with the batch's, ``_merge_schemas``),
    ``meta`` unless given (a small dict ``version_meta`` reads back —
    stream watermarks), and ``delete_files``: the head's sidecars plus
    ``delete_entry``, the one this commit adds (a ``_delete_entries``
    entry without its version, its files in one staged directory).
    While any sidecar is carried, ``file_added`` maps each kept file to
    its recorded add-version (0 when unrecorded: every sidecar applies)
    and each staged file to ``n``, which no carried sidecar postdates,
    so a re-inserted key stays alive; otherwise the field is absent.

    ``data_dir`` holds the staged batch, read with ``schema``, the schema
    it was WRITTEN with (required; never footer-inferred); its row count
    rides the ``stats_cols`` zone-map aggregate, else one ``count()``
    answered from row-group metadata. ``data_dir=None`` is a
    pure-metadata commit (a merge-on-read delete) and takes the head's
    schema. ``changelog_dir`` is a staged row-level changelog, listed
    here and recorded as ``changelog_files`` (weights in ``__w``).

    ``op`` is the commit's OPERATION KIND (Iceberg's snapshot
    ``operation``), a per-commit fact never inherited, like the
    changelog: ``append`` (prior rows untouched), ``replace`` (prior
    rows preserved value for value under new files — compact, widen;
    ``refresh_mv`` skips it), ``overwrite`` (no row-preservation
    guarantee — publish, MERGE-style rewrites; what a pre-op-era
    manifest reads as) or ``delete`` (a merge-on-read sidecar commit).

    A commit that fails before its manifest lands — another publisher
    claimed ``n`` first (``ConcurrentPublishError``; the winner is
    untouched), a purge fence refused it (``PurgeInFlightError``), a
    stats column is bad or a carried file vanished — reclaims every
    directory it was handed (batch, changelog, sidecar): staging
    prefixes are uuid-unique, so nothing else ever would."""
    jvm, fs, _ = hadoop_fs(spark, table_path)
    if data_dir is not None:
        if schema is None:
            raise ValueError(
                "_commit: a staged commit needs the schema its batch was "
                "written with"
            )
        staged = _list_parquet(jvm, fs, data_dir)
    else:
        if head is None or head.schema is None:
            raise ValueError(
                "_commit: a pure-metadata commit (data_dir=None) needs "
                "the head's schema — there is no staged batch to derive one"
            )
        staged = []
    hpath = jvm.org.apache.hadoop.fs.Path
    staged_dirs = [hpath(d) for d in (data_dir, changelog_dir) if d is not None]
    if delete_entry is not None:
        staged_dirs.append(hpath(delete_entry["files"][0]).getParent())

    def _reclaim() -> None:
        for d in staged_dirs:
            fs.delete(d, True)

    hm = head.m if head is not None else {"files": [], "row_count": 0}
    carried_files = tuple(hm["files"] if keep is None else keep)
    carried_rows = int(hm["row_count"]) - rows_removed
    carried_stats = hm.get("file_stats")
    if keep is not None and carried_stats:
        kept = {_path_key(f) for f in keep}
        carried_stats = {k: v for k, v in carried_stats.items() if k in kept}
    if meta is None:
        meta = hm.get("meta")
    delete_entries = list(hm.get("delete_files") or [])
    if delete_entry is not None:
        delete_entries.append({**delete_entry, "version": n})
    carried_file_added = None
    if delete_entries:
        fa = hm.get("file_added") or {}
        carried_file_added = {k: fa.get(k, 0) for k in map(_path_key, carried_files)}
    changelog_files = (
        _list_parquet(jvm, fs, changelog_dir) if changelog_dir is not None else None
    )
    carried_read_at = head.read_at if head is not None else None

    def _purge_fence() -> tuple[tuple[str, ...], int, dict | None]:
        # Writer fence against a racing purge_rows: this commit may have
        # read its prior manifest BEFORE the purge remapped it, in which
        # case ``carried_files`` names doomed old paths that the purge's
        # stable-version-set loop might never see (our manifest does not
        # exist yet, so its re-list cannot find us). Re-checking the
        # tombstone dir and applying the persisted remap plan OURSELVES
        # covers the purge-in-flight case: the tombstone is written
        # before any remap and survives completion as a ``completed-``
        # plan for COMPLETED_PLAN_TTL_S, so a purge whose work
        # overlapped this commit's preparation is visible here. The
        # residual fence->write_json window is closed on the OTHER side:
        # the post-commit re-check below remaps the just-committed
        # manifest against the same plans. One dir existence probe on
        # the no-purge fast path. Lookups are keyed by ``_path_key``
        # (like every cross-source path comparison in this module) so a
        # scheme/slash-rendering divergence between the manifest writer
        # and the plan can never silently skip the remap.
        cf, cr, cs = carried_files, carried_rows, carried_stats
        fa = dict(carried_file_added) if carried_file_added else None
        for plan in _purge_plans(spark, table_path):
            removed_k = {_path_key(k): v for k, v in plan["removed"].items()}
            remap_k = {_path_key(k): v for k, v in plan["remap"].items()}
            touched = [f for f in cf if _path_key(f) in removed_k]
            if not touched:
                continue
            cf = tuple(
                remap_k.get(_path_key(f), f) for f in cf
                if _path_key(f) not in removed_k or remap_k.get(_path_key(f))
            )
            cr -= sum(removed_k[_path_key(f)] for f in touched)
            if cs:
                cs = {
                    k: v for k, v in cs.items()
                    if k not in {_path_key(f) for f in touched}
                }
            if fa:
                # A remapped file keeps its original add-version (its
                # surviving rows are the originals minus purged ones).
                for f in touched:
                    k = _path_key(f)
                    tgt = remap_k.get(k)
                    v_added = fa.pop(k, None)
                    if tgt and v_added is not None:
                        fa[_path_key(tgt)] = v_added
        return cf, cr, cs, fa

    staged_rows = 0
    staged_stats: dict = {}
    if data_dir is not None:
        staged_df = spark.read.schema(schema).parquet(data_dir)
        # The manifest owns the schema (readers never infer): prior
        # columns first, the batch's new columns appended — additive
        # evolution, with a loud error on a same-name type conflict
        # (_merge_schemas).
        version_schema = _merge_schemas(
            head.schema if head is not None else None, staged_df.schema
        ).json()
        if stats_cols:
            try:
                staged_stats, staged_rows = _file_stats(staged_df, stats_cols)
            except Exception:
                # A bad stats column (typo, schema drift) aborts the
                # commit AFTER the batch was written (same class as the
                # gated-publish failed-audit cleanup).
                _reclaim()
                raise
        else:
            staged_rows = staged_df.count()
    else:
        version_schema = head.schema
    if carried_files:
        # Fence LAST — after the staged-batch scans above, which are the
        # seconds-long part of a commit; a purge starting during them is
        # still caught here, immediately before the manifest write.
        carried_files, carried_rows, carried_stats, carried_file_added = (
            _purge_fence()
        )
        # The completed-plan TTL only covers carried reads younger than
        # the reclaim window. A pathologically long stage (a multi-hour
        # batch write) could outlive the plan of a purge that ran and
        # was reclaimed entirely inside it — the fences would then see
        # nothing while the carried list names deleted files. Rare
        # enough to pay a driver-side existence sweep: only when purges
        # have EVER run on this table (the purge dir exists — it is
        # never deleted) and more than half the TTL elapsed since the
        # prior manifest was read. A missing carried file fails the
        # commit LOUDLY before the manifest is written (staged data
        # reclaimed; re-read the prior manifest and retry) instead of
        # committing doomed references.
        if (
            carried_read_at is not None
            and time.time() - carried_read_at > COMPLETED_PLAN_TTL_S / 2
            and fs.exists(jvm.org.apache.hadoop.fs.Path(f"{table_path}/purge"))
        ):
            missing = [
                f for f in carried_files
                if not fs.exists(jvm.org.apache.hadoop.fs.Path(f))
            ]
            if missing:
                _reclaim()
                raise RuntimeError(
                    f"append to {table_path} carried {len(missing)} file(s) "
                    f"that no longer exist (a purge completed and its plan "
                    f"was TTL-reclaimed during this commit's "
                    f"{time.time() - carried_read_at:.0f}s staging window); "
                    f"staged data reclaimed — re-read the current manifest "
                    f"and retry the append"
                )
    # Erasure fence (ADVICE r12): purge_rows refuses tables that carry
    # MOR sidecars or persisted changelogs, but that check-then-act
    # races THIS commit landing one mid-purge — a sidecar's key tuples
    # and a changelog's row images hold table values BY VALUE, which a
    # purge plan's file remap can never rewrite, so the purged values
    # would survive invisibly. A commit ADDS such a payload when it
    # persists a changelog or adds a delete entry (inherited entries
    # all predate it — and a table that had any would have refused the
    # purge upfront anyway). Refuse while a pending tombstone exists;
    # the post-write re-check below closes the residual fence->write
    # gap.
    adds_erasure = bool(changelog_files) or delete_entry is not None
    # The writer's exposure window starts at its MANIFEST READ, not at
    # this fence: the sidecar keys / changelog images were computed from
    # the pre-purge snapshot during the seconds-long staging phase, so a
    # purge that COMPLETED inside the read->gap is just as fatal
    # as a pending one — its plan never saw values that are about to be
    # committed. Anchor on the head's read time; a head without one gets
    # the conservative treatment (any visible plan is a hazard).
    # completed_at is stamped by the PURGE driver's clock while the read
    # time comes from the writer's — a raw comparison is only sound on
    # one shared clock, so the boundary carries a skew allowance: any
    # plan that completed less than the allowance before the read (or
    # any time after it) is treated as a hazard. The cost is benign — a
    # sidecar/changelog commit whose read fell within the allowance of a
    # rare purge retries once with a fresh read; the pending-tombstone
    # half needs no clocks at all.
    read_anchor = carried_read_at if carried_read_at is not None else 0.0

    def _is_erasure_hazard(p: dict) -> bool:
        return (
            "completed_at" not in p
            or float(p["completed_at"]) >= read_anchor - PURGE_CLOCK_SKEW_S
        )

    pre_plan_ids: set[str] = set()
    if adds_erasure:
        plans0 = _purge_plans(spark, table_path)
        pre_plan_ids = {p["__plan_id"] for p in plans0}
        if any(_is_erasure_hazard(p) for p in plans0):
            _reclaim()
            raise PurgeInFlightError(
                f"commit to {table_path} carries a merge-on-read delete "
                f"sidecar or persisted changelog while a purge is in "
                f"flight or completed during this commit's staging "
                f"window — its values were computed from the pre-purge "
                f"snapshot and would survive the erasure invisibly; "
                f"re-read the current manifest, rebuild the batch, and "
                f"retry"
            )
    payload = {
        "version": n,
        "files": list(carried_files) + staged,
        "row_count": carried_rows + staged_rows,
        "published_at": time.time(),
        "schema": version_schema,
        "op": op,
    }
    if changelog_files is not None:
        payload["changelog_files"] = changelog_files
        payload["changelog_weight_col"] = "__w"
    if meta:
        payload["meta"] = meta
    stats = dict(carried_stats or {})
    stats.update(staged_stats)
    if stats:
        payload["file_stats"] = stats
    if delete_entries:
        payload["delete_files"] = delete_entries
    if carried_file_added is not None:
        payload["file_added"] = {
            **carried_file_added,
            **{_path_key(s): n for s in staged},
        }
    try:
        _write_json(
            spark, _manifest_file(table_path, n), payload, overwrite=False
        )
    except ConcurrentPublishError:
        _reclaim()
        raise
    _write_json(spark, f"{table_path}/LATEST.json", {"version": n}, overwrite=True)
    if carried_files:
        # Post-commit fence — closes the residual purge/append race the
        # staged fence leaves open (ADVICE r8): a purge that ran its
        # WHOLE cycle (tombstone -> remap -> stable check -> delete)
        # inside our fence->write gap never saw this manifest, and this
        # manifest may reference files that purge just deleted. The
        # purge's plan is still visible — completion renames the
        # tombstone to a ``completed-`` plan kept for
        # COMPLETED_PLAN_TTL_S instead of deleting it — so re-checking
        # here and self-remapping our own just-committed manifest
        # (overwrite sanctioned, purge-repair class) finishes what the
        # purge's re-list loop could not see. Idempotent against the
        # purge remapping us concurrently: both sides write the same
        # payload.
        #
        # LOOPED until a pass applies nothing new (ADVICE r10): a
        # SECOND sequential purge can write its tombstone and remap
        # manifest ``n`` between one pass's plan listing and its
        # overwrite — that overwrite, computed from the older listing,
        # would revert the newer purge's remap while passing its
        # stable-version-set check. Re-listing after every write and
        # writing again until a pass finds nothing converges (plans
        # only accumulate inside the TTL, each applies idempotently),
        # and the terminal state is a manifest carrying EVERY visible
        # plan's remap regardless of interleaving. The residual window
        # — a reader planning manifest ``n`` between a reverting write
        # and the fixing pass — is transient and fails loudly (missing
        # file), never a silently-wrong result. Appends therefore need
        # no writer window against purges; purge-vs-purge stays
        # single-writer.
        for _pass in range(10):
            try:
                plans = _purge_plans(spark, table_path)
            except Exception as exc:
                # The manifest and LATEST are already committed; a
                # pending-plan read error here must not read as "the
                # append failed" (a blind retry would duplicate the
                # batch). One short retry for transient IO, then
                # surface the landed commit explicitly.
                time.sleep(0.2)
                try:
                    plans = _purge_plans(spark, table_path)
                except Exception:
                    raise RuntimeError(
                        f"append to {table_path} COMMITTED as version {n}, "
                        f"but the post-commit purge fence could not read a "
                        f"pending purge plan — do NOT re-append; run "
                        f"purge_rows to replay the pending purge (it will "
                        f"remap version {n} if needed)"
                    ) from exc
            changed = False
            for plan in plans:
                if _remap_manifest_payload(payload, plan["removed"], plan["remap"]):
                    changed = True
            if not changed:
                break
            _write_json(
                spark, _manifest_file(table_path, n), payload, overwrite=True
            )
        else:
            raise RuntimeError(
                f"append to {table_path} COMMITTED as version {n}, but the "
                f"post-commit purge fence saw new purge plans on 10 "
                f"consecutive passes — do NOT re-append; re-run purge_rows "
                f"once the purge storm settles to re-verify version {n}"
            )
    if adds_erasure:
        # Post-write half of the erasure fence: a purge whose ENTIRE
        # cycle ran inside the fence->write gap (tombstone written after
        # the pre-check, retired before this one) shows up as a plan id
        # the pre-check never saw; a purge still in flight shows up
        # pending. Either way its plan was computed without this
        # commit's sidecar/changelog values, so the erasure is
        # incomplete — surface it loudly with the remediation named
        # (the commit itself LANDED; a blind retry would double-apply).
        try:
            plans1 = _purge_plans(spark, table_path)
        except Exception as exc:
            raise RuntimeError(
                f"commit to {table_path} LANDED as version {n}, but the "
                f"erasure fence could not re-read purge plans — do NOT "
                f"retry the write; verify no purge raced it before "
                f"trusting the erasure"
            ) from exc
        hazard = [
            p for p in plans1
            if p["__plan_id"] not in pre_plan_ids or _is_erasure_hazard(p)
        ]
        if hazard:
            raise RuntimeError(
                f"commit to {table_path} LANDED as version {n}, but a "
                f"purge ran concurrently and its plan never saw this "
                f"commit's delete sidecar/persisted changelog — purged "
                f"values may survive in them. Do NOT retry the write; "
                f"run compact() and expire_versions() past the sidecar-"
                f"carrying history (persisted changelogs are dropped by "
                f"the purge itself), then re-run purge_rows with the "
                f"original values to complete the erasure"
            )
    return n


def publish_version(
    df: DataFrame,
    table_path: str,
    *,
    meta: dict | None = None,
    stats_cols: tuple[str, ...] = (),
    op: str = "overwrite",
) -> int:
    """Publish ``df`` as the table's next version; returns the version.
    ``stats_cols`` records per-file min/max zone maps in the manifest
    (enables ``read_where`` file pruning). ``op`` tags the commit's
    operation kind (see ``_commit``); callers that REWRITE the table
    while provably preserving every row value-for-value (compact,
    widen_column) pass ``"replace"`` so incremental MV consumers can
    skip the commit — a caller that cannot prove preservation must
    leave the conservative ``"overwrite"`` default."""
    spark = df.sparkSession
    n = (versions(spark, table_path) or [0])[-1] + 1
    data_dir = _stage_dir(table_path, n)
    df.write.mode("overwrite").parquet(data_dir)
    return _commit(
        spark,
        table_path,
        n,
        data_dir,
        df.schema,
        meta=meta,
        stats_cols=stats_cols,
        op=op,
    )


def append_version(
    df: DataFrame,
    table_path: str,
    *,
    meta: dict | None = None,
    stats_cols: tuple[str, ...] = (),
) -> int:
    """Publish ``df``'s rows as the table's next version APPENDED to the
    highest committed version: only the batch's own parquet is written;
    every prior file is carried into the new manifest BY REFERENCE —
    never copied, re-listed, or re-counted. This is the lakehouse
    fast-append: a streaming ingest into a corpus-sized table commits
    O(batch) data and a KB-sized manifest per micro-batch, regardless of
    table size, while prior versions stay time-travelable and a crash
    mid-append leaves the current version untouched (same immutable-
    manifest commit as ``publish_version``). Appends chain off the
    highest committed manifest (not the LATEST pointer), so an append
    after a ``rollback`` resurrects the rolled-back-from rows — compact
    with ``publish_version`` first if that is not intended (and re-supply
    ``meta`` on that compaction: a publish defaults to NO meta, and a
    consumer whose replay watermark lives in meta would otherwise lose
    it). When ``meta`` is omitted here, the prior manifest's meta is
    carried forward — an append extends the prior version, so its
    watermarks remain true."""
    spark = df.sparkSession
    head = _read_head(spark, table_path)
    if head is None:
        return publish_version(df, table_path, meta=meta, stats_cols=stats_cols)
    n = head.version + 1
    data_dir = _stage_dir(table_path, n)
    df.write.mode("overwrite").parquet(data_dir)
    return _commit(
        spark,
        table_path,
        n,
        data_dir,
        df.schema,
        head=head,
        meta=meta,
        stats_cols=stats_cols,
        op="append",
    )


def version_meta(
    spark: SparkSession, table_path: str, version: int | None = None
) -> dict:
    """The ``meta`` dict committed with ``version`` (default: current) —
    an O(1) manifest read, no data scan."""
    v = version if version is not None else current_version(spark, table_path)
    return _read_manifest(spark, table_path, v).get("meta", {})


def version_op(
    spark: SparkSession, table_path: str, version: int | None = None
) -> str:
    """The operation kind committed with ``version`` (default: current)
    — ``append`` / ``replace`` / ``overwrite`` / ``delete`` (a
    merge-on-read equality-delete sidecar commit, ``mor_delete``; rows
    removed, files untouched — see ``_commit``). A
    manifest written before op tags existed reads as ``overwrite``: the
    conservative kind (no row-preservation guarantee), so consumers
    that special-case the stronger kinds degrade to exactly the
    behavior they had before tags. O(1) manifest read, no data scan."""
    v = version if version is not None else current_version(spark, table_path)
    return _read_manifest(spark, table_path, v).get(
        "op", "overwrite"
    )


def _indexed_columns(spark: SparkSession, table_path: str, version: int) -> list[str]:
    """Columns that have a Bloom sidecar built for ``version`` — parsed
    from the index directory names (``v<N>-bloom-<col>``), the same
    layout ``bloom_index`` owns. Sorted for deterministic rebuild
    order."""
    import re

    jvm, fs, _ = hadoop_fs(spark, table_path)
    idx_root = jvm.org.apache.hadoop.fs.Path(f"{table_path}/index")
    if not fs.exists(idx_root):
        return []
    cols = []
    pat = re.compile(rf"^v{version:08d}-bloom-(.+)$")
    for st in fs.listStatus(idx_root):
        m = pat.match(st.getPath().getName())
        if m:
            cols.append(m.group(1))
    return sorted(cols)


def _rebuild_head_sidecars(
    spark: SparkSession, table_path: str, prior_head: int, new_head: int
) -> None:
    """Sidecar continuity across version-bumping rewrites: rebuild, on
    the NEW head, the Bloom sidecar of every column indexed on the
    PRIOR head. Without this, point-lookup pruning silently evaporates
    after every compact/widen — ``read_point`` on the new head sees no
    sidecar and degrades to a full-version read (sound but a full scan)
    until someone remembers to re-run ``build_bloom_index``. One
    distributed build job per indexed column, same cost class as the
    rewrite that triggered it; the prior head's sidecars stay valid for
    time travel to it."""
    cols = _indexed_columns(spark, table_path, prior_head)
    if not cols:
        return
    from european_public_data_pipeline_spark.pipeline.bloom_index import (
        build_bloom_index,
    )

    for c in cols:
        build_bloom_index(spark, table_path, c, version=new_head)


def compact(
    spark: SparkSession,
    table_path: str,
    target_files: int = 8,
    cluster_by: str | None = None,
) -> int:
    """Rewrite the highest committed version's rows as ONE new version in
    ``target_files`` files — the small-file compaction a run of
    ``append_version`` commits eventually needs (N appends = N file
    groups; object-store listings and task scheduling degrade past a few
    thousand). The head version's ``meta`` is carried forward, so a
    consumer whose replay watermark lives there (streaming dedup
    admission) keeps its exactly-once guard across compactions — calling
    ``publish_version`` by hand would silently drop it. Readers are
    untouched mid-compaction (snapshot isolation) and prior versions
    remain time-travelable; this is the table's only full-size write,
    which is the point of the append/compact split: many O(batch)
    commits, occasional scheduled rewrites.

    ``cluster_by``: re-cluster the rewrite on a column (range-partitioned
    + sorted within files) — Delta's OPTIMIZE ZORDER move for one key:
    after many unordered appends every file spans the full value range
    and zone maps prune nothing; a clustered compaction restores
    selective ``read_where`` pruning without the caller touching stats
    (recomputed below). For two-key clustering feed
    ``pipeline/layout.zorder_by`` output to ``publish_version`` instead."""
    vs = versions(spark, table_path)
    if not vs:
        raise FileNotFoundError(f"nothing to compact at {table_path}")
    head = vs[-1]
    prior = _read_manifest(spark, table_path, head)
    # Live read: merge-on-read delete sidecars FOLD into the rewrite —
    # the compacted files carry only surviving rows, and the new
    # manifest carries no delete state (publish_version resets it), so
    # scan-side anti joins stop being paid. This is the MOR bargain:
    # O(batch) delete commits between compactions, one fold at compact.
    df = _read_files_live(spark, prior)
    if cluster_by is not None:
        df = df.repartitionByRange(
            max(1, target_files), cluster_by
        ).sortWithinPartitions(cluster_by)
    else:
        df = df.coalesce(max(1, target_files))
    # Zone maps describe FILES; a compaction rewrites them, so recompute
    # stats for every column the prior version tracked — readers keep
    # their read_where pruning across compactions without the scheduler
    # having to remember which columns were indexed.
    stat_cols = _tracked_stats_cols(prior)
    if cluster_by is not None:
        # The whole point of a clustered rewrite is selective read_where
        # pruning on the clustering key — recording no zone map for it
        # (table never indexed) would silently waste the rewrite.
        stat_cols = tuple(sorted({*stat_cols, cluster_by}))
    # ``replace``: every prior row survives value-for-value under new
    # files — the tag that lets an incremental MV consumer skip this
    # commit instead of full-recomputing (refresh_mv).
    n = publish_version(
        df,
        table_path,
        meta=prior.get("meta") or None,
        stats_cols=stat_cols,
        op="replace",
    )
    # Bloom sidecars describe FILES, like zone maps — rebuild every
    # column indexed on the prior head so read_point pruning survives
    # the compaction (zone maps got the same treatment above).
    _rebuild_head_sidecars(spark, table_path, head, n)
    return n


def maintain(
    spark: SparkSession,
    table_path: str,
    max_delete_entries: int = 4,
    max_small_files: int = 32,
    small_file_bytes: int = 8 * 1024 * 1024,
    target_files: int = 8,
    cluster_by: str | None = None,
) -> dict:
    """Threshold-driven table hygiene — the Iceberg-maintenance-actions
    / Delta-auto-compaction analog the trickle-write paths need: every
    merge-on-read commit adds a broadcast anti join to EVERY subsequent
    read and every small append adds a file group, and both degrade
    monotonically until someone folds them. This hook is that someone:
    schedule it after trickle batches (or on a timer) and it compacts
    ONLY when a meter trips, so the table's scan cost is bounded by the
    thresholds instead of by operator vigilance.

    Meters (driver-side metadata only on the no-op path — manifest JSON
    plus one filesystem status per data file when the small-file check
    is enabled; no Spark job):

    - ``max_delete_entries``: distinct MOR sidecar COMMITS on the head
      (each is one broadcast anti join per read — the measured rent in
      PLANS.md; the entry count, not the sidecar row count, is what
      multiplies per-read work).
    - ``max_small_files`` / ``small_file_bytes``: files under the byte
      threshold (object-store listings and task scheduling degrade with
      file count; many appends or MOR upserts accrue small image files).

    When any meter trips, runs ONE clustered ``compact`` (``cluster_by``
    passes through — pass the table's layout key to keep zone-map
    pruning selective; the fold also clears every sidecar and rebuilds
    stats/Bloom sidecars). Returns ``{"action": "compact"|"none",
    "reason", "delete_entries", "small_files", "version"?}`` — callers
    log it; a no-op costs metadata reads only, so an hourly schedule is
    safe at any table size."""
    vs = versions(spark, table_path)
    if not vs:
        raise FileNotFoundError(f"nothing to maintain at {table_path}")
    m = _read_manifest(spark, table_path, vs[-1])
    n_entries = len(_delete_entries(m))
    small = 0
    if max_small_files is not None and m["files"]:
        jvm, fs, _ = hadoop_fs(spark, table_path)
        for f in m["files"]:
            try:
                st = fs.getFileStatus(jvm.org.apache.hadoop.fs.Path(f))
            except Exception:
                continue  # racing rewrite: the compact below re-lists
            if int(st.getLen()) < small_file_bytes:
                small += 1
    out = {"delete_entries": n_entries, "small_files": small}
    reasons = []
    if max_delete_entries is not None and n_entries > max_delete_entries:
        reasons.append(
            f"{n_entries} delete sidecar commits > {max_delete_entries} "
            f"(each is a broadcast anti join on every read)"
        )
    if max_small_files is not None and small > max_small_files:
        reasons.append(
            f"{small} files under {small_file_bytes} bytes > "
            f"{max_small_files}"
        )
    if not reasons:
        out.update(
            action="none",
            reason=(
                f"within thresholds ({n_entries} sidecar commits, "
                f"{small} small files)"
            ),
        )
        return out
    v = compact(
        spark, table_path, target_files=target_files, cluster_by=cluster_by
    )
    out.update(action="compact", reason="; ".join(reasons), version=v)
    return out


def _is_lossless_widen(old, new) -> bool:
    """Whether every value of ``old`` is exactly representable in
    ``new`` — the only casts ``widen_column`` sanctions. Integral types
    widen up their chain, FLOAT widens to DOUBLE, integrals up to INT
    widen to DOUBLE (|int32| < 2^53, so exact; BIGINT->DOUBLE is lossy
    and refused), and DECIMAL widens when both the scale and the
    integer-digit budget (precision - scale) are non-decreasing."""
    from pyspark.sql.types import (
        ByteType,
        DecimalType,
        DoubleType,
        FloatType,
        IntegerType,
        LongType,
        ShortType,
    )

    ints = (ByteType, ShortType, IntegerType, LongType)
    if isinstance(old, ints) and isinstance(new, ints):
        return ints.index(type(old)) < ints.index(type(new))
    if isinstance(new, DoubleType):
        return isinstance(old, (FloatType, ByteType, ShortType, IntegerType))
    if isinstance(old, DecimalType) and isinstance(new, DecimalType):
        return (
            new.scale >= old.scale
            and new.precision - new.scale >= old.precision - old.scale
            and (new.precision, new.scale) != (old.precision, old.scale)
        )
    return False


def widen_column(
    spark: SparkSession, table_path: str, col: str, new_type
) -> int:
    """The explicit type-widen rewrite ``_merge_schemas``' conflict
    error points at: rewrite the current version ONCE with ``col`` cast
    to ``new_type`` (column order preserved), publish it as the table's
    next version with zone maps recomputed for every column the prior
    version tracked (compact's discipline) and the head ``meta`` carried
    forward, then rebuild the Bloom sidecar for ``col`` on the new
    version if the prior current version had one (the widened binary
    representation hashes differently, so a carried sidecar would be a
    false-negative machine; other columns' sidecars belong to their own
    versions and stay valid there). After this, appends carrying the
    widened type chain cleanly off the new version; older versions keep
    their narrow type and stay time-travelable with it.

    Only LOSSLESS widenings are allowed (``_is_lossless_widen``):
    integral up-chain, FLOAT->DOUBLE, <=INT->DOUBLE, DECIMAL
    precision/scale growth. Narrowing or cross-kind casts refuse loudly
    — a lossy rewrite would silently corrupt history's one full-size
    copy. Returns the new version. O(table) once, like compact — the
    price the evolution error message quotes for a type change."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import DataType

    if isinstance(new_type, str):
        try:
            new_dt = DataType.fromDDL(new_type)
        except Exception as exc:
            raise ValueError(
                f"widen_column: unparseable target type {new_type!r}"
            ) from exc
    else:
        new_dt = new_type
    vs = versions(spark, table_path)
    if not vs:
        raise FileNotFoundError(f"no committed manifests at {table_path}")
    head = vs[-1]
    prior = _read_manifest(spark, table_path, head)
    # Live read: like compact, the rewrite folds merge-on-read deletes
    # (rows the current version already serves as deleted must not be
    # resurrected into the widened files).
    df = _read_files_live(spark, prior)
    if col not in df.columns:
        raise ValueError(
            f"widen_column: column {col!r} not in {table_path}'s current "
            f"schema ({', '.join(df.columns)})"
        )
    old_dt = df.schema[col].dataType
    if old_dt == new_dt:
        return head  # already the target type — idempotent no-op
    if not _is_lossless_widen(old_dt, new_dt):
        raise ValueError(
            f"widen_column: {old_dt.simpleString()} -> "
            f"{new_dt.simpleString()} is not a lossless widening; only "
            f"integral up-chain, float->double, <=int->double and "
            f"decimal precision/scale growth are sanctioned"
        )
    # ``replace``: lossless cast — every row's VALUES are preserved (the
    # widened column compares equal at the wider type), so sums/mins/
    # maxes over it are unchanged and incremental MV consumers may skip
    # this commit like a compaction.
    n = publish_version(
        df.withColumn(col, F.col(col).cast(new_dt)),
        table_path,
        meta=prior.get("meta") or None,
        stats_cols=_tracked_stats_cols(prior),
        op="replace",
    )
    # EVERY column indexed on the prior head gets its sidecar rebuilt on
    # the new head (not just the widened one): the rewrite renamed every
    # file, so all prior sidecars describe files the new version does
    # not reference — read_point would degrade to a full scan. The
    # widened column's rebuild additionally re-hashes at the new binary
    # representation (an INT and its BIGINT widening hash differently).
    _rebuild_head_sidecars(spark, table_path, head, n)
    return n


def current_version(spark: SparkSession, table_path: str) -> int:
    """The LATEST pointer's version; falls back to the highest committed
    manifest ONLY when the pointer file is genuinely absent (a publisher
    crashed between manifest commit and pointer swap — the pointer lags,
    but committed data is never lost). Any other read failure propagates:
    a transient IO error after a ``rollback`` must not silently serve the
    newest (rolled-back-from) version instead of the rolled-back one."""
    pointer = f"{table_path}/LATEST.json"
    jvm, fs, p = hadoop_fs(spark, pointer)
    if not fs.exists(p):
        vs = versions(spark, table_path)
        if not vs:
            raise FileNotFoundError(
                f"no LATEST pointer and no committed manifests at {table_path}"
            )
        return vs[-1]
    return int(_read_json(spark, pointer)["version"])


def read_version(
    spark: SparkSession, table_path: str, version: int | None = None
) -> DataFrame:
    """Read the table as of ``version`` (default: the LATEST pointer).
    Loads exactly the manifest's file list — never a directory listing —
    and applies the version's merge-on-read delete sidecars (broadcast
    anti joins, ``_read_files_live``): logically-deleted rows are dead
    through every read path, including time travel (each version's
    manifest lists exactly the sidecars committed at or before it)."""
    v = version if version is not None else current_version(spark, table_path)
    m = _read_manifest(spark, table_path, v)
    return _read_files_live(spark, m)


def chain_links(
    spark: SparkSession, table_path: str, from_version: int, to_version: int
) -> tuple[list[tuple[str, int, list[str]]] | None, dict[int, dict]]:
    """Walk the commit chain ``from_version+1 .. to_version`` by
    operation kind and return its row-level changes as ordered links —
    the one walk every incremental consumer decides from:
    ``("append", v, new_files)`` for an append commit, ``("changelog",
    v, changelog_files)`` for an ``overwrite`` or ``delete`` commit that
    PERSISTED its row-level delta (a COW MERGE or MOR delete with
    ``persist_changelog=True``). A ``replace`` commit (compact/widen —
    rows preserved value-for-value) contributes no link. ``links`` is
    ``None`` — the delta is not derivable from metadata, so the consumer
    must refuse or full-recompute — on an opaque overwrite or delete, an
    untagged pre-op-era manifest (read as ``overwrite``, as
    ``version_op`` does), or an unreadable (expired) manifest.
    Driver-side KB-manifest reads only, each manifest once, never a data
    scan: on an object store each link is one metadata round-trip.
    Returns ``(links, manifests)``: ``manifests`` maps every version the
    walk read to its manifest (``from_version`` first; through
    ``to_version`` whenever ``links`` is not ``None``), so the consumer
    reads none of them again."""
    manifests: dict[int, dict] = {}
    links: list[tuple[str, int, list[str]]] = []
    for v in range(from_version, to_version + 1):
        try:
            m = _read_manifest(spark, table_path, v)
        except Exception:
            return None, manifests  # expired/unreadable: chain broken
        manifests[v] = m
        if v == from_version:
            continue
        op = m.get("op", "overwrite")
        if op == "append":
            prev_set = set(manifests[v - 1]["files"])
            links.append(("append", v, [f for f in m["files"] if f not in prev_set]))
        elif op in ("overwrite", "delete") and m.get("changelog_files"):
            links.append(("changelog", v, list(m["changelog_files"])))
        elif op != "replace":
            return None, manifests  # no row-preservation guarantee, no recorded delta
    return links, manifests


def _conformed(df: DataFrame, schema: StructType) -> list:
    """``df``'s columns conformed to ``schema``: explicit lossless casts
    (a post-widen head says BIGINT while older files hold INT32) and
    NULL backfill for columns that predate a later evolution."""
    from pyspark.sql import functions as F

    return [
        (
            F.col(f.name).cast(f.dataType)
            if f.name in df.columns
            else F.lit(None).cast(f.dataType)
        ).alias(f.name)
        for f in schema.fields
    ]


def _appended_rows(
    spark: SparkSession,
    table_path: str,
    to_v: int,
    links: list[tuple[str, int, list[str]]],
    manifests: dict[int, dict],
) -> DataFrame:
    """The rows of ``links``' append links, each read with its own
    version's manifest schema and conformed to version ``to_v``'s; the
    manifests are the ones ``chain_links`` read with the links. Other
    link kinds are not read.

    Plain ``_read_files``, not ``_read_files_live``: a delete sidecar
    committed at version ``dv`` applies only to files added before
    ``dv``. A sidecar committed before the chain therefore never touches
    an append link's files; one committed inside it belongs to a delete
    or upsert commit, which ``read_appended`` refuses and ``refresh_mv``
    either folds as that commit's persisted -1 images or recomputes
    in full."""
    from pyspark.sql import functions as F

    appends = [(v, files) for kind, v, files in links if kind == "append" and files]
    m_head = manifests[to_v]
    sj = m_head.get("schema")
    if sj is None:
        # Legacy head without a recorded schema: appended files are
        # homogeneous by construction — plan them directly.
        flat = [f for _v, files in appends for f in files]
        if not flat:
            if not m_head["files"]:
                raise ValueError(
                    f"read_appended: version {to_v} of {table_path} "
                    f"references no files — no schema to derive"
                )
            return _read_files(spark, m_head, [m_head["files"][0]]).where(
                F.lit(False)
            )
        return _read_files(spark, m_head, flat)
    head_schema = StructType.fromJson(json.loads(sj))
    out: DataFrame | None = None
    for v, files in appends:
        seg = _read_files(spark, manifests[v], files)
        seg = seg.select(*_conformed(seg, head_schema))
        out = seg if out is None else out.unionByName(seg)
    if out is None:
        # Replace-only (or empty) chain: nothing appended — an empty
        # result AT the head schema.
        return local_frame(spark, [], head_schema)
    return out


def read_appended(
    spark: SparkSession,
    table_path: str,
    from_version: int,
    to_version: int | None = None,
) -> DataFrame:
    """Read exactly the rows APPENDED between two committed versions,
    looking THROUGH row-preserving rewrites (Iceberg's incremental scan,
    which skips ``replace`` snapshots): a compaction or widen between
    the two versions renames every file, so an endpoint file-diff would
    return the whole table as "new"; ``chain_links`` instead collects
    only the ``append`` commits' files. Each appended batch is read with
    its own version's manifest schema and conformed to the head's
    (explicit lossless casts + NULL backfill). Raises ``ValueError``
    when the chain holds anything but appends and replaces — an
    overwrite or delete (even one that persisted its changelog), an
    untagged pre-op-era manifest, or an expired intermediate manifest:
    appended rows are then not derivable from file metadata; derive a
    row-level changelog (q97/q100) or re-read the table. An untagged
    manifest is refused rather than diffed at the endpoints: without a
    kind, the walk cannot tell an append from a rewrite. At 100 TB the
    plan is O(appended files): one KB manifest per chain link decides
    everything driver-side."""
    to_v = to_version if to_version is not None else current_version(spark, table_path)
    links, manifests = chain_links(spark, table_path, from_version, to_v)
    if links is None or any(kind != "append" for kind, _v, _f in links):
        raise ValueError(
            f"read_appended: versions {from_version}..{to_v} of "
            f"{table_path} are not an append-exact chain (an overwrite "
            f"or delete commit, an untagged manifest or an expired "
            f"manifest breaks it) — derive a row-level changelog or "
            f"re-read the table"
        )
    return _appended_rows(spark, table_path, to_v, links, manifests)


def _changelog_stage_dir(table_path: str, n: int) -> str:
    """Publisher-unique staging prefix for version ``n``'s persisted
    changelog — same uuid discipline as ``_stage_dir``: a losing racer's
    directory is never referenced and never collides with the winner's.
    Readers go through the manifest's ``changelog_files`` list, so the
    directory name is immaterial to reads."""
    return f"{table_path}/changelog/v{n:08d}-{uuid.uuid4().hex[:12]}"


def read_changelog(
    spark: SparkSession, table_path: str, version: int | None = None
) -> DataFrame | None:
    """The row-level changelog PERSISTED with ``version``'s commit
    (Delta CDF's Change Data Feed, written by the writer at merge time:
    ``cow_merge.merge_into_manifest(persist_changelog=True)``) — weighted
    row images, old/deleted at -1, inserted/new at +1, weight column
    named by the manifest's ``changelog_weight_col``. Returns ``None``
    when the commit persisted no changelog (appends and replaces never
    do: their delta is derivable from file metadata via
    ``read_appended``). Unlike the LAZY changelog ``emit_changelog``
    hands back, a persisted changelog is a self-contained copy — it
    survives the prior version's expiry and replays identically."""
    v = version if version is not None else current_version(spark, table_path)
    m = _read_manifest(spark, table_path, v)
    files = m.get("changelog_files")
    if not files:
        return None
    return spark.read.parquet(*files)


def prune_files(
    manifest: dict, col: str, lo, hi
) -> tuple[list[str], int]:
    """Zone-map file pruning: the manifest files whose ``col`` [min, max]
    range can intersect [lo, hi], plus the total file count. A file with
    no recorded stats for ``col`` is KEPT (pruning must be conservative);
    a file whose min AND max are null holds no non-null values and can
    never satisfy a range predicate, so it is dropped. Comparisons are
    like-typed (numeric vs numeric, string vs string) — mixing types
    falls back to keeping the file."""
    stats = manifest.get("file_stats", {})
    keep: list[str] = []
    for f in manifest["files"]:
        rng = stats.get(_path_key(f), {}).get(col)
        if rng is None:
            keep.append(f)
            continue
        mn, mx = rng
        if mn is None and mx is None:
            continue  # all-NULL slice: BETWEEN never matches NULL
        try:
            if mx < lo or mn > hi:
                continue
        except TypeError:
            keep.append(f)  # incomparable types: conservative keep
            continue
        keep.append(f)
    return keep, len(manifest["files"])


# Most distinct key tuples a keyed writer collects (256k ≈ a few MB),
# and most rows in a MOR sidecar (broadcast on every read until the next
# compact).
KEY_BATCH_CAP = 262144

_NULL_KEY_REMEDY = (
    "a NULL key can never match a target row; filter or key these rows upstream"
)


class KeyBatch(NamedTuple):
    """``profile_key_batch``'s result: ``relation`` (one row per distinct
    key tuple), ``rows`` (all of it; None past ``KEY_BATCH_CAP``) and at
    most three offending key tuples per fault."""

    relation: DataFrame
    rows: list | None
    offenders: dict[str, list[tuple]]

    def refuse(self, fault: str, what: str, remedy: str = _NULL_KEY_REMEDY) -> None:
        if bad := self.offenders[fault]:
            raise ValueError(
                f"{what} (first offenders: {', '.join(map(str, bad))}) — {remedy}"
            )


def profile_key_batch(
    keys: list[str], updates: DataFrame | None = None, deletes: DataFrame | None = None
) -> KeyBatch:
    """Validate and bound a keyed write's batch: a ``groupBy(keys)`` over
    the update keys (``__n`` counts their rows) and the delete keys
    (``__d`` flags them), collected up to ``KEY_BATCH_CAP + 1`` rows (a
    CollectLimit: it stops early). Within the cap those rows are the
    whole profile and ``prune_candidates``' key tuples; past it, one
    more action (a ``limit(3)`` per fault, unioned) finds offenders.
    Faults: ``dup`` (groupBy puts NULLs in one group), ``null_upd`` and
    ``null_del`` (a NULL key never matches a target row, so a merge
    would re-insert it every run and a delete would no-op), ``overlap``
    (a tuple both updated and deleted)."""
    from functools import reduce

    from pyspark.sql import functions as F

    parts = [
        b.select(*keys, F.lit(n).alias("__n"), F.lit(d).alias("__d"))
        for b, n, d in ((updates, 1, False), (deletes, 0, True))
        if b is not None
    ]
    null = reduce(lambda a, b: a | b, [F.col(k).isNull() for k in keys])
    updated, deleted = F.col("__n") > 0, F.col("__d")
    faults = {
        "dup": F.col("__n") > 1,
        "null_upd": null & updated,
        "null_del": null & deleted,
        "overlap": updated & deleted,
    }
    relation = (
        reduce(DataFrame.unionByName, parts)
        .groupBy(*keys)
        .agg(F.sum("__n").alias("__n"), F.max("__d").alias("__d"))
        .select(*keys, "__n", "__d", *(c.alias(f"__{f}") for f, c in faults.items()))
    )
    rows = relation.limit(KEY_BATCH_CAP + 1).collect()
    if len(rows) <= KEY_BATCH_CAP:
        nk, at = len(keys), {f: relation.columns.index(f"__{f}") for f in faults}
        offenders = {f: [r[:nk] for r in rows if r[i]][:3] for f, i in at.items()}
        return KeyBatch(relation, rows, offenders)
    offenders = {f: [] for f in faults}
    probes = [
        relation.filter(F.col(f"__{f}")).select(*keys, F.lit(f).alias("__f")).limit(3)
        for f in faults
    ]
    for r in reduce(DataFrame.union, probes).collect():
        offenders[r["__f"]].append(r[: len(keys)])
    return KeyBatch(relation, None, offenders)


def prune_candidates(
    m: dict,
    keys: list[str],
    key_tuples: list | None = None,
    envelope: dict | None = None,
) -> list[str]:
    """Zone-map candidate pruning for a keyed write (COW merge,
    merge-on-read delete), INTERSECTED across every key with recorded
    stats: a file survives only if, for each such key, its [min, max]
    interval can hold one of the batch's values for that key.

    ``key_tuples`` (``profile_key_batch``'s rows, within its cap): each
    file is probed against the SORTED per-key value set by bisect — any
    value inside the interval keeps the file; this is what beats a [lo,
    hi] envelope for the common
    mixed batch (updates in one range + inserts far above the table's
    max stretch an envelope over every file). ``envelope`` ({key: (lo,
    hi)}) is the fallback past the collect cap. Conservative
    throughout: files without stats for a key pass that key's test,
    all-NULL zones can hold no value, incomparable types keep the
    file."""
    import bisect

    stats = m.get("file_stats", {})
    candidates = list(m["files"])
    stat_keys = [
        k for k in keys if any(k in per_file for per_file in stats.values())
    ]
    if not stat_keys or not candidates:
        return candidates
    if key_tuples is not None:
        for k in stat_keys:
            ks = sorted({r[k] for r in key_tuples if r[k] is not None})
            keep = []
            for f in candidates:
                rng = stats.get(_path_key(f), {}).get(k)
                if rng is None:
                    keep.append(f)  # no stats: conservative keep
                    continue
                mn, mx = rng
                if mn is None and mx is None:
                    continue  # all-NULL zone: holds no key
                try:
                    i = bisect.bisect_left(ks, mn)
                    if i < len(ks) and ks[i] <= mx:
                        keep.append(f)
                except TypeError:
                    keep.append(f)  # incomparable: keep
            candidates = keep
    elif envelope is not None:
        for k in stat_keys:
            lo, hi = envelope[k]
            candidates, _total = prune_files(
                {"files": candidates, "file_stats": stats}, k, lo, hi
            )
    return candidates


def read_where(
    spark: SparkSession,
    table_path: str,
    col: str,
    lo,
    hi,
    version: int | None = None,
) -> DataFrame:
    """Range read with manifest zone-map pruning: skip every file whose
    recorded [min, max] for ``col`` cannot intersect [lo, hi], then apply
    the residual BETWEEN filter to the survivors. The Iceberg/Delta
    metadata-pruning move on plain parquet: at 100 TB a selective range
    over a range-partitioned write touches a handful of files and the
    decision is made from a KB-sized manifest — no file footers opened,
    no directory listings. Falls back to reading everything (still
    correct) when the manifest carries no stats for ``col``."""
    from pyspark.sql import functions as F

    v = version if version is not None else current_version(spark, table_path)
    m = _read_manifest(spark, table_path, v)
    keep, _total = prune_files(m, col, lo, hi)
    if not keep:
        # Preserve schema with an empty result: read one manifest file's
        # schema and filter everything out (no file can match). A
        # file-less version (possible after purge_rows emptied it) has
        # no schema source — fail descriptively, like read_appended.
        if not m["files"]:
            raise ValueError(
                f"read_where: version {v} of {table_path} references no "
                f"files — no schema to derive"
            )
        return _read_files(spark, m, [m["files"][0]]).where(F.lit(False))
    # Live read: a zone map can only prove a file MAY hold matching
    # rows — merge-on-read delete sidecars must still apply, or pruning
    # would resurrect logically-deleted rows.
    return _read_files_live(spark, m, keep).where(
        F.col(col).between(F.lit(lo), F.lit(hi))
    )


def publish_version_gated(df: DataFrame, suite, table_path: str) -> int:
    """Manifest-native write-audit-publish: the candidate version's data
    directory IS the staging area, and the manifest commit IS the publish
    — so unlike path-based WAP there is no second copy of the batch and
    no quarantine directory to manage: readers go through manifests and
    can never see an uncommitted batch, and a failed audit RECLAIMS the
    staged data dir before raising (staging prefixes are publisher-unique
    uuids, so an unreferenced failed batch would otherwise leak forever);
    a passing audit commits the manifest + pointer.

    One source scan total (wap.stage_with_audit attaches the row-level
    constraints to the write job as observed metrics).
    Returns the committed version.
    """
    from european_public_data_pipeline_spark.pipeline.fs_util import delete_path
    from european_public_data_pipeline_spark.pipeline.wap import stage_with_audit
    from european_public_data_pipeline_spark.quality.checks import gate

    spark = df.sparkSession
    n = (versions(spark, table_path) or [0])[-1] + 1
    data_dir = _stage_dir(table_path, n)
    checks = stage_with_audit(df, suite, data_dir)
    try:
        gate(checks)  # raises on failure
    except Exception:
        # Staging prefixes are publisher-unique (uuid) since the race fix,
        # so a failed audit's data would otherwise leak forever — no later
        # attempt overwrites it and no manifest references it. Reclaim it
        # here; the gate's exception already carries the failed checks.
        delete_path(spark, data_dir)
        raise
    return _commit(spark, table_path, n, data_dir, df.schema)


def rollback(spark: SparkSession, table_path: str, version: int) -> None:
    """Point LATEST at an older committed version (data untouched)."""
    if version not in versions(spark, table_path):
        raise ValueError(f"version {version} was never committed at {table_path}")
    _write_json(
        spark, f"{table_path}/LATEST.json", {"version": version}, overwrite=True
    )


def table_history(spark: SparkSession, table_path: str) -> DataFrame:
    """The table's commit history as a DataFrame (Iceberg's DESCRIBE
    HISTORY shape): one row per committed version with row count, file
    count, publish time, and whether LATEST points at it. KB-sized
    regardless of table size — manifests, not data, are read."""
    schema = StructType.fromDDL(
        "version int, row_count long, n_files int, "
        "published_at double, is_current boolean"
    )
    vs = versions(spark, table_path)
    if not vs:
        return local_frame(spark, [], schema)  # no commits yet
    cur = current_version(spark, table_path)
    rows = []
    for v in vs:
        m = _read_manifest(spark, table_path, v)
        rows.append(
            (v, m["row_count"], len(m["files"]), float(m["published_at"]), v == cur)
        )
    return local_frame(spark, rows, schema)


def _referenced_files(
    spark: SparkSession, table_path: str, vers: list[int] | None = None
) -> set[str]:
    """Path keys of every file a committed manifest references — THE
    liveness set shared by retention GC, vacuum, and legacy-tombstone
    replay, so the three can never disagree on what is live. Pending
    purge tombstones' remap TARGETS count as live too: a crashed purge
    has already written its rewritten files, and replay will commit
    them into the manifests — a vacuum that reclaimed them would make
    the replay remap every manifest to deleted paths."""
    jvm, fs, _ = hadoop_fs(spark, table_path)
    vs = vers if vers is not None else versions(spark, table_path)
    refs = {
        _path_key(f)
        for v in vs
        for f in _read_manifest(spark, table_path, v)["files"]
    }
    pdir = jvm.org.apache.hadoop.fs.Path(f"{table_path}/purge")
    if fs.exists(pdir):
        for st in fs.listStatus(pdir):
            nm = st.getPath().getName()
            if not (nm.startswith("pending-") and nm.endswith(".json")):
                continue
            plan = _read_json(spark, str(st.getPath().toString()))
            refs.update(
                _path_key(t) for t in plan.get("remap", {}).values() if t
            )
    return refs


def expire_versions(
    spark: SparkSession, table_path: str, keep_last: int
) -> dict:
    """Retention GC — Iceberg's expire_snapshots for the manifest table:
    drop every committed version except the newest ``keep_last`` (the
    LATEST pointer's target is always retained too, so a rolled-back
    table never loses the version it is serving), then delete the data
    files that NO retained manifest references. Refcounting is the whole
    point: append chains carry prior files BY REFERENCE, so a file
    published in v1 and still referenced by the retained v4 must survive
    v1's expiry — only bytes exclusively owned by expired history are
    reclaimed (after a compaction rewrote the table, the pre-compaction
    originals finally become reclaimable). Expired versions' Bloom
    sidecar directories are dropped with them.

    Crash-safe by ordering, like purge replay: expired MANIFESTS are
    deleted first (the files become unreferenced-by-any-manifest), the
    newly unreferenced files after — a crash between the two leaves only
    benign orphans that ``vacuum_orphans`` reclaims. Refuses to run
    while a pending purge tombstone exists (the tombstone's remap plan
    names files by path; expiring versions under it could strand the
    replay) — run ``purge_rows`` once to replay it first. Maintenance
    windows are single-writer, like purge/compact.

    At 100 TB this is the op that keeps time-travel storage bounded:
    manifests are KB-sized so planning is metadata-scale, and the delete
    list is exact from the refcount — never a directory diff."""
    if keep_last < 1:
        raise ValueError("expire_versions: keep_last must be >= 1")
    jvm, fs, _ = hadoop_fs(spark, table_path)
    pdir = jvm.org.apache.hadoop.fs.Path(f"{table_path}/purge")
    if fs.exists(pdir) and any(
        st.getPath().getName().startswith("pending-")
        and st.getPath().getName().endswith(".json")
        for st in fs.listStatus(pdir)
    ):
        raise RuntimeError(
            f"expire_versions: {table_path} has a pending purge tombstone; "
            f"run purge_rows (any values) to replay it to completion first"
        )
    vs = versions(spark, table_path)
    if not vs:
        return {"versions_expired": 0, "files_deleted": 0, "indexes_dropped": 0}
    keep = set(vs[-keep_last:]) | {current_version(spark, table_path)}
    expired = [v for v in vs if v not in keep]
    if not expired:
        return {"versions_expired": 0, "files_deleted": 0, "indexes_dropped": 0}
    retained_refs = _referenced_files(spark, table_path, sorted(keep))
    # Delete sidecars are CUMULATIVE (carried forward until a full
    # rewrite folds them): one may be referenced by retained manifests
    # too — refcount them like data files.
    retained_del = {
        _path_key(f)
        for v in sorted(keep)
        for e in _delete_entries(_read_manifest(spark, table_path, v))
        for f in e["files"]
    }
    doomed: dict[str, str] = {}  # path_key -> original path string
    doomed_cl: list[str] = []  # expired versions' persisted changelogs
    doomed_del: dict[str, str] = {}  # expired-only delete sidecars
    for v in expired:
        mj = _read_manifest(spark, table_path, v)
        for f in mj["files"]:
            k = _path_key(f)
            if k not in retained_refs:
                doomed.setdefault(k, f)
        # Persisted changelogs are per-commit facts ``_commit`` never
        # carries into later manifests — an expired version's changelog
        # files are referenced by nothing retained and go with it.
        doomed_cl += mj.get("changelog_files") or []
        for e in _delete_entries(mj):
            for f in e["files"]:
                k = _path_key(f)
                if k not in retained_del:
                    doomed_del.setdefault(k, f)
    # 1. Manifests first: after this, the doomed files are referenced by
    #    nothing and time travel to expired versions fails descriptively.
    for v in expired:
        fs.delete(jvm.org.apache.hadoop.fs.Path(_manifest_file(table_path, v)), False)
    # 2. Exclusively-owned bytes.
    n_files = 0
    for f in doomed.values():
        p = jvm.org.apache.hadoop.fs.Path(f)
        if fs.exists(p):
            fs.delete(p, False)
            n_files += 1
    # 3. Expired versions' index sidecars (any column).
    n_idx = 0
    idx_root = jvm.org.apache.hadoop.fs.Path(f"{table_path}/index")
    if fs.exists(idx_root):
        prefixes = tuple(f"v{v:08d}-" for v in expired)
        for st in fs.listStatus(idx_root):
            if st.getPath().getName().startswith(prefixes):
                fs.delete(st.getPath(), True)
                n_idx += 1
    # 4. Expired versions' persisted changelogs (+ their now-empty
    #    staging directories), and delete sidecars no retained manifest
    #    references.
    n_cl = 0
    for f in list(doomed_cl) + list(doomed_del.values()):
        p = jvm.org.apache.hadoop.fs.Path(f)
        if fs.exists(p):
            fs.delete(p, False)
            n_cl += 1
        parent = p.getParent()
        if fs.exists(parent) and len(fs.listStatus(parent)) == 0:
            fs.delete(parent, True)
    return {
        "versions_expired": len(expired),
        "files_deleted": n_files,
        "indexes_dropped": n_idx,
        "changelogs_dropped": n_cl,
    }


def vacuum_orphans(
    spark: SparkSession, table_path: str, min_age_seconds: float = 86400.0
) -> dict:
    """Reclaim data files under ``{table}/data`` that NO committed
    manifest references — Delta's VACUUM: crashed publishers leave
    uuid-staged batches no manifest ever named, and a crash inside
    ``expire_versions`` (between manifest and file deletes) leaves
    exactly-once-referenced bytes behind. ``min_age_seconds`` is the
    safety fence against in-flight commits: a publisher stages its batch
    BEFORE writing the manifest, so a young unreferenced file may be a
    commit in progress — only files older than the fence are deleted
    (default one day, far beyond any commit's stage-to-manifest gap).
    Empty staging directories are removed after their files. Metadata-
    scale: reads every manifest (KB each) and lists the data tree."""
    jvm, fs, _ = hadoop_fs(spark, table_path)
    referenced = _referenced_files(spark, table_path)
    droot = jvm.org.apache.hadoop.fs.Path(f"{table_path}/data")
    if not fs.exists(droot):
        return {"files_deleted": 0, "dirs_removed": 0}
    cutoff_ms = (time.time() - min_age_seconds) * 1000.0
    n_files = 0
    dirs = []
    it = fs.listFiles(droot, True)  # recursive
    while it.hasNext():
        st = it.next()
        p = st.getPath()
        if _path_key(str(p.toString())) in referenced:
            continue
        if st.getModificationTime() > cutoff_ms:
            continue  # possibly an in-flight commit's staged batch
        fs.delete(p, False)
        n_files += 1
    n_dirs = 0
    for st in fs.listStatus(droot):
        if st.isDirectory() and len(fs.listStatus(st.getPath())) == 0:
            fs.delete(st.getPath(), True)
            n_dirs += 1
    # Persisted-changelog and delete-sidecar orphans, same rules as
    # data: a merge/delete that staged its sidecar then lost the commit
    # race (or crashed before it) leaves a uuid dir no manifest names;
    # age-fenced because sidecars are staged BEFORE their manifest is
    # written.
    n_cl = 0
    live_vs = versions(spark, table_path)
    live_ms = [_read_manifest(spark, table_path, v) for v in live_vs]
    for subdir, refs in (
        (
            "changelog",
            {
                _path_key(f)
                for mm in live_ms
                for f in (mm.get("changelog_files") or [])
            },
        ),
        (
            "deletes",
            {
                _path_key(f)
                for mm in live_ms
                for e in _delete_entries(mm)
                for f in e["files"]
            },
        ),
    ):
        sroot = jvm.org.apache.hadoop.fs.Path(f"{table_path}/{subdir}")
        if not fs.exists(sroot):
            continue
        it = fs.listFiles(sroot, True)
        while it.hasNext():
            st = it.next()
            p = st.getPath()
            if _path_key(str(p.toString())) in refs:
                continue
            if st.getModificationTime() > cutoff_ms:
                continue  # possibly an in-flight commit's staged sidecar
            fs.delete(p, False)
            n_cl += 1
        for st in fs.listStatus(sroot):
            if st.isDirectory() and len(fs.listStatus(st.getPath())) == 0:
                fs.delete(st.getPath(), True)
                n_dirs += 1
    # Index sidecars whose VERSION no longer exists: expire_versions
    # deletes manifests (1), then files (2), then index dirs (3) — a
    # crash between 2 and 3 orphans the expired versions' sidecars
    # forever (rebuild_index only visits them when rebuilding that
    # column). The manifest-existence check is the same rule
    # rebuild_index applies; live versions' sidecars are never touched
    # and the age fence is irrelevant (a sidecar is only built for an
    # already-committed manifest).
    import re

    n_idx = 0
    idx_root = jvm.org.apache.hadoop.fs.Path(f"{table_path}/index")
    if fs.exists(idx_root):
        live_versions = set(versions(spark, table_path))
        for st in fs.listStatus(idx_root):
            mt = re.match(r"^v(\d{8})-", st.getPath().getName())
            if not mt:
                continue
            v = int(mt.group(1))
            if v in live_versions:
                continue
            # The live set was snapshotted BEFORE this listing: a sidecar
            # committed concurrently (publish/compact followed by
            # _rebuild_head_sidecars) for a NEWER version would match the
            # regex while missing from the stale set. Sidecars are only
            # ever built for already-committed manifests, so one manifest
            # existence probe right before the delete closes the race
            # exactly — if the manifest exists now, the version is live.
            mpath = jvm.org.apache.hadoop.fs.Path(_manifest_file(table_path, v))
            if fs.exists(mpath):
                live_versions.add(v)
                continue
            fs.delete(st.getPath(), True)
            n_idx += 1
    # Opportunistic reclaim of past-TTL ``completed-`` purge plans: on a
    # table purged once and never again, only the next purge_rows run
    # would reclaim them — vacuum is the natural other owner (the fences
    # provably cannot need a plan past the TTL; _purge_plans already
    # skips them unread).
    n_plans = 0
    pdir = jvm.org.apache.hadoop.fs.Path(f"{table_path}/purge")
    if fs.exists(pdir):
        ttl_cutoff_ms = (time.time() - COMPLETED_PLAN_TTL_S) * 1000.0
        for st in fs.listStatus(pdir):
            nm = st.getPath().getName()
            if (
                nm.startswith("completed-")
                and nm.endswith(".json")
                and st.getModificationTime() < ttl_cutoff_ms
            ):
                fs.delete(st.getPath(), False)
                n_plans += 1
    return {
        "files_deleted": n_files,
        "dirs_removed": n_dirs,
        "indexes_dropped": n_idx,
        "plans_reclaimed": n_plans,
        "changelogs_deleted": n_cl,
    }


def _drop_persisted_changelogs(spark: SparkSession, table_path: str) -> None:
    """Erase every persisted changelog on the table — called by the
    purge path: changelogs carry full ROW IMAGES by value, so a purge's
    legally-erased rows would otherwise survive verbatim inside them,
    and the purge plan's file remap cannot rewrite a changelog (no
    per-file row counts exist for it). Conservative and loud in effect:
    manifests are stripped of their ``changelog_files`` pointer FIRST
    (readers then see "no persisted changelog" and MV consumers degrade
    to the full recompute an opaque overwrite already implies — sound,
    just not incremental), the bytes deleted after — a crash between
    the two leaves only unreferenced files ``vacuum_orphans``
    reclaims."""
    jvm, fs, _ = hadoop_fs(spark, table_path)
    doomed: list[str] = []
    for v in versions(spark, table_path):
        mpath = _manifest_file(table_path, v)
        mm = _read_json(spark, mpath)
        if mm.get("changelog_files"):
            doomed += mm["changelog_files"]
            mm.pop("changelog_files", None)
            mm.pop("changelog_weight_col", None)
            _write_json(spark, mpath, mm, overwrite=True)
    for f in doomed:
        p = jvm.org.apache.hadoop.fs.Path(f)
        if fs.exists(p):
            fs.delete(p, False)
        parent = p.getParent()
        if fs.exists(parent) and len(fs.listStatus(parent)) == 0:
            fs.delete(parent, True)


def _apply_purge_plan(
    spark: SparkSession,
    table_path: str,
    remap: dict,
    removed: dict,
    tombstone: str,
) -> None:
    """Drive a persisted purge plan to completion — the single code path
    shared by a live ``purge_rows`` and crash replay, so a purge can die
    at ANY point after its tombstone exists and still finish exactly:

    1. Remap every committed manifest that still references an old file.
       Idempotent: a manifest already remapped names no old files and is
       skipped, so a replay never double-adjusts its row count.
    2. Re-list versions and repeat until a full remap pass saw a stable
       version set — a concurrent ``append_version`` that read a
       pre-remap manifest carries old paths by reference into its own
       new commit, and deleting those files would break that version;
       the loop remaps late arrivals too (a never-stable table aborts
       loudly with the tombstone intact for later replay). An append
       this loop cannot see (manifest not yet committed when the loop
       last listed) is guarded from the OTHER side: ``_commit`` fences
       carried files against outstanding plans before writing its
       manifest, AND re-checks after the write — the plan stays
       readable as a ``completed-`` tombstone past the delete step, so
       even an append that raced the ENTIRE purge cycle self-remaps.
       Appends therefore need no writer window against purges;
       purge-vs-purge and purge-vs-compact remain single-writer.
    3. Only then delete the old bytes and retire the tombstone to its
       ``completed-`` form.

    ``remap`` maps old file -> replacement path ('' when the purge
    emptied the file); ``removed`` maps old file -> purged-row count.

    Persisted changelogs are dropped FIRST (``_drop_persisted_
    changelogs``): they carry purged rows by value, the plan cannot
    remap them, and doing it here — inside the plan-driven path — means
    a crash replay erases them too."""
    _drop_persisted_changelogs(spark, table_path)
    jvm, fs, _ = hadoop_fs(spark, table_path)
    for _attempt in range(5):
        vs = versions(spark, table_path)
        for v in vs:
            mpath = _manifest_file(table_path, v)
            m = _read_json(spark, mpath)
            if _remap_manifest_payload(m, removed, remap):
                _write_json(spark, mpath, m, overwrite=True)
        if set(versions(spark, table_path)) == set(vs):
            break
    else:
        raise RuntimeError(
            f"purge of {table_path} could not observe a stable version "
            f"set across 5 remap passes (publishers racing the purge); "
            f"no data was deleted and the tombstone {tombstone} stays — "
            f"the next purge_rows call replays it to completion"
        )
    for f in removed:
        p_old = jvm.org.apache.hadoop.fs.Path(f)
        if fs.exists(p_old):
            fs.delete(p_old, False)
    # Retire the tombstone to a ``completed-`` plan instead of deleting
    # it: _commit's post-commit fence needs a purge that finished inside
    # an append's fence->write window to still be visible a moment later
    # (the plan is what lets the appender self-remap references to files
    # this loop just deleted). Completed order: write the completed copy
    # FIRST, then drop the pending one — a crash between the two leaves
    # both, and replaying the pending plan is an idempotent no-op that
    # retires it again. Reclaimed after COMPLETED_PLAN_TTL_S by the next
    # purge_rows run.
    tomb_name = tombstone.rsplit("/", 1)[-1]
    done = f"{table_path}/purge/completed-{tomb_name[len('pending-'):]}"
    _write_json(
        spark,
        done,
        {"remap": remap, "removed": removed, "completed_at": time.time()},
        overwrite=True,
    )
    fs.delete(jvm.org.apache.hadoop.fs.Path(tombstone), False)


def _replay_pending_purges(spark: SparkSession, table_path: str) -> None:
    """Finish any crashed purge before planning a new one. Tombstones
    carry the full remap plan, so replay completes the manifest remap
    FIRST and deletes old files only once nothing references them. A
    plan-less legacy tombstone (pre-round-8 format naming only the
    doomed files) is honored conservatively: delete only files no
    committed manifest still references — exactly the benign
    post-remap-crash orphans that format could describe soundly."""
    jvm, fs, _ = hadoop_fs(spark, table_path)
    pdir = jvm.org.apache.hadoop.fs.Path(f"{table_path}/purge")
    if not fs.exists(pdir):
        return
    for st in fs.listStatus(pdir):
        name = st.getPath().getName()
        if name.startswith("completed-") and name.endswith(".json"):
            # Retired plans are kept only for _commit's post-commit
            # fence; reclaim the KB once no in-flight commit can still
            # need them (TTL dwarfs any stage-to-manifest gap).
            if st.getModificationTime() < (time.time() - COMPLETED_PLAN_TTL_S) * 1000.0:
                fs.delete(st.getPath(), False)
            continue
        if not (name.startswith("pending-") and name.endswith(".json")):
            continue
        tomb = str(st.getPath().toString())
        plan = _read_json(spark, tomb)
        if "remap" in plan:
            _apply_purge_plan(
                spark, table_path, plan["remap"], plan["removed"], tomb
            )
            continue
        referenced = _referenced_files(spark, table_path)
        kept = []
        for old in plan["files"]:
            if _path_key(old) in referenced:
                kept.append(old)  # still referenced: deleting loses rows
                continue
            p_old = jvm.org.apache.hadoop.fs.Path(old)
            if fs.exists(p_old):
                fs.delete(p_old, False)
        if kept:
            # A legacy crash-mid-remap: the listed files are still live
            # in some manifest AND may still contain the rows a past
            # purge was legally required to erase. The legacy format
            # carries no remap plan to finish, so the erasure CANNOT be
            # completed here — keep the tombstone as a persistent signal
            # (it re-warns on every purge until remediated) instead of
            # silently declaring the purge done. Remediation: re-run
            # purge_rows with the original column/values — it rewrites
            # the still-referenced files under new names, after which
            # this replay can reclaim the old bytes and clear the
            # tombstone.
            import warnings

            warnings.warn(
                f"purge tombstone {tomb} names {len(kept)} file(s) still "
                f"referenced by committed manifests (legacy plan-less "
                f"format, crash mid-remap): a prior purge's erasure is "
                f"INCOMPLETE in those versions. Tombstone kept; re-run "
                f"purge_rows with the original column/values to finish.",
                stacklevel=2,
            )
        else:
            fs.delete(st.getPath(), False)


def purge_rows(
    spark: SparkSession, table_path: str, col: str, values: list
) -> dict:
    """Compliance hard-delete (GDPR right-to-be-forgotten) across EVERY
    committed version: rows where ``col`` is in ``values`` are removed
    from the table's entire history, while every version number, the
    LATEST pointer, and all other rows — including time travel to them —
    survive.

    This is the one sanctioned breach of manifest immutability: normal
    operation never edits a committed manifest, but a legal erasure
    obligation reaches historical versions too (the Iceberg/Delta
    equivalent is rewrite-data-files + expire-snapshots). Mechanics:

    - Each affected parquet file is rewritten ONCE without the purged
      rows, even when many manifests share it (appends carry files by
      reference), and files whose zone map proves they cannot contain a
      purged value are skipped without being read.
    - Every manifest's file list is remapped old->new in place
      (write-temp-then-rename, overwrite sanctioned here), row counts
      adjusted by the per-file removal counts; a file left empty by the
      purge drops out of the lists. Rewritten files LOSE their zone-map
      entries (conservative: pruning keeps stats-less files) — re-index
      with ``compact(..., )`` or a fresh publish if pruning matters.
    - The original files are physically deleted LAST, after every
      manifest stopped referencing them — and the WHOLE plan (old->new
      remap + per-file removal counts) is persisted as a
      ``purge/pending-*.json`` tombstone BEFORE the manifests are
      remapped, so a crash anywhere after the plan exists is recoverable
      exactly: the next ``purge_rows`` call (any column) first replays
      outstanding tombstones through the same ``_apply_purge_plan`` path
      — finishing the manifest remap idempotently BEFORE deleting the
      old bytes. (A tombstone naming only the doomed files would be
      unsound: replaying it after a crash mid-remap would delete files
      that not-yet-remapped manifests still reference, losing their
      non-purged rows forever.) Without any tombstone a crash between
      the last remap and the delete loop would instead leak the
      legally-erased bytes forever (nothing would ever find them again).
    - Concurrency: the remap-then-delete apply loop re-lists versions
      until a full pass saw a stable set, so an ``append_version`` that
      raced the purge (carrying old paths by reference) gets its commit
      remapped too rather than left pointing at deleted files; an
      append the loop could never see self-remaps from the retired
      ``completed-`` plan via ``_commit``'s post-commit fence, so
      appends need no writer window against purges at all. Two PURGES
      (or a purge and a compaction) must still not overlap — and a
      publisher that commits purge-matching NEW rows during the purge
      is out of scope by design (the purge erases matches as of its
      snapshot).
    - NULL rows in ``col`` are never purge targets: the keep filter is
      explicitly NULL-safe (``~isin(values)`` alone evaluates to NULL —
      i.e. dropped — for NULL rows, which would silently erase them and
      desynchronize the manifest row counts).
    - Matched counts for every candidate file come from ONE distributed
      job grouped by ``input_file_name`` — never a per-file job storm;
      only genuinely-affected files get a rewrite job each.

    Returns ``{"files_rewritten": int, "rows_removed": int,
    "files_dropped": int}``.
    """
    from pyspark.sql import functions as F

    vs = versions(spark, table_path)
    if not vs:
        raise FileNotFoundError(f"no committed manifests at {table_path}")
    jvm, fs, _ = hadoop_fs(spark, table_path)

    # Finish any crashed purge first (remap-then-delete, from its
    # persisted plan) so this purge plans against consistent manifests.
    _replay_pending_purges(spark, table_path)

    manifests = {v: _read_manifest(spark, table_path, v) for v in vs}
    mor_versions = [v for v, m in manifests.items() if m.get("delete_files")]
    if mor_versions:
        # A purge's file remap adjusts row counts by PHYSICAL matches,
        # but a manifest with merge-on-read delete sidecars carries a
        # row_count NET of logical deletes — purging a row a sidecar
        # already killed would double-subtract it, and the sidecars
        # themselves may name purged key values. Fold the sidecars
        # first (compact rewrites the head clean), expire versions that
        # still carry them, then purge.
        raise RuntimeError(
            f"purge_rows: versions {mor_versions} of {table_path} carry "
            f"merge-on-read delete sidecars; run compact() (folds the "
            f"head's sidecars) and expire_versions() past the sidecar-"
            f"carrying history, then re-run the purge"
        )
    # Union of files across all versions, with any zone map we have.
    all_files: dict[str, dict] = {}
    for m in manifests.values():
        stats = m.get("file_stats", {})
        for f in m["files"]:
            all_files.setdefault(f, stats.get(_path_key(f), {}))

    lo, hi = min(values), max(values)
    candidates = []
    for f, zstats in sorted(all_files.items()):
        rng = zstats.get(col)
        if rng is not None:
            mn, mx = rng
            if mn is None and mx is None:
                continue  # all-NULL zone: no value to purge
            try:
                if mx < lo or mn > hi:
                    continue  # zone proves no purged value present
            except TypeError:
                pass  # incomparable types: must read
        candidates.append(f)

    rewritten: dict[str, str] = {}   # old path -> new path ('' = emptied)
    removed_per_file: dict[str, int] = {}
    if candidates:
        # One counting job PER DISTINCT COLUMN TYPE over the candidate
        # files (usually exactly one), keyed by input_file_name, each
        # planned with a ONE-COLUMN schema for the purge column (parquet
        # reads by name), so a candidate that lacks the column — a
        # pre-evolution file, OR a version whose rewrite dropped it —
        # reads NULL -> zero matches -> untouched. Each candidate's type
        # resolves from the EARLIEST manifest referencing it (the commit
        # that created the file: additive evolution pins a chain's type,
        # and a full publish_version re-creates every file, so that
        # manifest's type IS the file's footer type whenever the file
        # has the column) — a single global newest-schema type would
        # fail, or worse mis-coerce, older time-travelable files that
        # legally carry the same-named column at a different type across
        # a full-publish type change. Legacy schema-less manifests fall
        # back to the file's own footer. (Files that DO match are
        # rewritten below with their OWN natural schema — a purge must
        # not widen a file it rewrites.)
        first_ref: dict[str, int] = {}
        for v in vs:  # ascending
            for f in manifests[v]["files"]:
                first_ref.setdefault(f, v)
        schema_cache: dict[int, StructType | None] = {}

        def _version_schema(v: int) -> StructType | None:
            if v not in schema_cache:
                sj = manifests[v].get("schema")
                schema_cache[v] = (
                    StructType.fromJson(json.loads(sj)) if sj else None
                )
            return schema_cache[v]

        col_seen_anywhere = any(
            _version_schema(v) is not None and col in _version_schema(v).names
            for v in vs
        )
        groups: dict[str, tuple] = {}  # type-json -> (field, [files])
        legacy_footer: list = []  # one cached footer serves every legacy file
        for f in candidates:
            sch = _version_schema(first_ref[f])
            if sch is None:  # legacy manifest: footer is the only source
                # Legacy (pre-schema-era) tables are homogeneous by
                # construction (see _read_files) — ONE footer read
                # serves all their files; per-file reads would be a
                # driver-side round-trip per candidate.
                if not legacy_footer:
                    legacy_footer.append(spark.read.parquet(f).schema)
                sch = legacy_footer[0]
                col_seen_anywhere = col_seen_anywhere or col in sch.names
            if col not in sch.names:
                continue  # provably column-less: zero matches, untouched
            fld = sch[col]
            key = fld.dataType.json()
            groups.setdefault(key, (fld, []))[1].append(f)
        if not groups and not col_seen_anywhere:
            raise ValueError(
                f"purge_rows: column {col!r} exists in no committed "
                f"version of {table_path}"
            )
        by_key: dict[str, tuple[int, int]] = {}
        for fld, grp_files in groups.values():
            counts = (
                spark.read.schema(StructType([fld])).parquet(*grp_files)
                .select(
                    F.input_file_name().alias("__f"),
                    F.col(col).isin(values).alias("__m"),
                )
                .groupBy("__f")
                .agg(
                    F.count(F.lit(1)).alias("total"),
                    F.count(F.when(F.col("__m"), 1)).alias("matched"),
                )
                .collect()
            )
            by_key.update({
                _path_key(r["__f"]): (int(r["total"]), int(r["matched"]))
                for r in counts
            })
        for f in candidates:
            total, matched = by_key.get(_path_key(f), (0, 0))
            if matched == 0:
                continue
            removed_per_file[f] = matched
            if matched == total:
                rewritten[f] = ""  # file entirely purged
                continue
            # NULL-safe keep: NULL in col is never a purge target.
            kept = spark.read.parquet(f).filter(
                ~F.col(col).isin(values) | F.col(col).isNull()
            )
            out_dir = f"{table_path}/data/purge-{uuid.uuid4().hex[:12]}"
            kept.coalesce(1).write.mode("overwrite").parquet(out_dir)
            rewritten[f] = _list_parquet(jvm, fs, out_dir)[0]

    if removed_per_file:
        # Tombstone BEFORE remapping — and it carries the WHOLE plan, so
        # a crash at any later point is finished exactly by replay (the
        # remap is completed from the plan before anything is deleted).
        tombstone = f"{table_path}/purge/pending-{uuid.uuid4().hex[:12]}.json"
        _write_json(
            spark,
            tombstone,
            {"remap": rewritten, "removed": removed_per_file},
            overwrite=True,
        )
        # Remap every manifest in place (version numbers preserved),
        # then delete the old bytes last and clear the tombstone.
        _apply_purge_plan(
            spark, table_path, rewritten, removed_per_file, tombstone
        )
        # Re-verify (ADVICE r12): the upfront sidecar/changelog checks
        # are check-then-act — a concurrent delete_rows_mor or
        # merge(persist_changelog=True) that slipped past _commit's
        # erasure fence can have landed AFTER them, carrying purged
        # values by value where the file remap cannot reach. Persisted
        # changelogs this purge can erase itself (idempotent drop, a
        # few passes bound racing writers); sidecars need a fold this
        # single-writer purge must not perform — refuse loudly instead
        # of declaring the erasure complete.
        def _changelogs_present() -> bool:
            return any(
                _read_manifest(spark, table_path, v).get("changelog_files")
                for v in versions(spark, table_path)
            )

        drops = 0
        while _changelogs_present():
            if drops == 3:
                # Same loud-refusal contract as the sidecar branch
                # below: a writer storm that re-lands a persisted
                # changelog after every drop pass must not let the
                # purge declare the erasure complete while row images
                # staged pre-purge survive.
                raise RuntimeError(
                    f"purge of {table_path} removed the matched DATA "
                    f"rows, but persisted changelogs kept re-appearing "
                    f"across {drops} drop passes (writers racing the "
                    f"purge) — re-run purge_rows once the writers "
                    f"settle to finish erasing them"
                )
            _drop_persisted_changelogs(spark, table_path)
            drops += 1
        mor_after = [
            v
            for v in versions(spark, table_path)
            if _read_manifest(spark, table_path, v).get("delete_files")
        ]
        if mor_after:
            raise RuntimeError(
                f"purge of {table_path} removed the matched DATA rows, "
                f"but versions {mor_after} committed merge-on-read "
                f"delete sidecars concurrently — their key tuples may "
                f"retain purged values. Run compact() (folds the head's "
                f"sidecars) and expire_versions() past the sidecar-"
                f"carrying history, then re-run purge_rows with the "
                f"original values to complete the erasure"
            )

    return {
        "files_rewritten": sum(1 for v in rewritten.values() if v),
        "rows_removed": sum(removed_per_file.values()),
        "files_dropped": sum(1 for v in rewritten.values() if not v),
    }

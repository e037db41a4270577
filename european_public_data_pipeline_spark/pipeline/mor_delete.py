"""Merge-on-read deletes for versioned-manifest tables (SURVEY.md §2.7
write paths, scaled onto §2.1 S11) — BOTH Iceberg v2 delete flavors on
this repo's manifest format:

- EQUALITY deletes (``delete_rows_mor``): a sidecar of key tuples,
  for keyed tables (q133).
- POSITION deletes (``delete_where_mor``): a sidecar of exact
  (file, row_index) pairs from a PREDICATE, for tables without unique
  keys — duplicates die together and no key needs to exist (q134).

The complementary write shape to ``cow_merge``:

- COW (``merge_into_manifest``): rewrite every file containing a
  matched key. Right for a bounded daily batch against a clustered
  table — O(touched files + batch).
- MOR (THIS module): commit a KB-scale SIDECAR of deleted key tuples
  and apply it at scan time (broadcast anti join); fold it into real
  file rewrites only at the next ``compact``. Right for a trickle of
  small deletes — 100 rows spread over 100 files would make COW
  rewrite 100 files, while a MOR commit writes O(batch) bytes and NO
  data files at all.

Reference anchor: the gold stage's delete-then-append
(``load_hicp_to_sql.py:54-62``) is a row-level delete the engine
previously could only express as a file rewrite (``purge_rows``/COW).

Semantics (Iceberg v2 sequence-number rule, carried by ``file_added``):
a sidecar committed at version ``dv`` applies only to files ADDED
before ``dv`` — a row re-inserted by a later append or merge stays
alive. Manifests carry the cumulative sidecar list (``delete_files``)
and the per-file add-version map (``file_added``); ``_commit`` owns
both — a writer hands it only the one sidecar it adds. Every read path
(``read_version``, ``read_where``, Bloom ``read_point``) applies the
sidecars via ``_read_files_live``, so zone-map or Bloom pruning can
never resurrect a deleted row, and time travel to a pre-delete version
shows the rows (that version's manifest lists no such sidecar).
``compact``/``widen_column`` FOLD the sidecars into their rewrite and
the new version carries none.

The commit itself is pure metadata + the sidecar: ``_commit`` with
``data_dir=None`` — purge-fenced, concurrent-publisher-safe, op kind
``delete`` (file-level incremental consumers must NOT treat it as an
append; ``read_appended`` refuses across it). With
``persist_changelog=True`` the matched rows' old images are also
materialized at weight -1 (Delta CDF); ``manifest.chain_links`` then
returns the commit as a changelog link, which keeps ``refresh_mv``
incremental across the delete exactly like a persisted merge
changelog (q132's path).

``row_count`` stays EXACT: one key-column counting scan over the
zone-map-pruned candidates (net of earlier sidecars, so a twice-deleted
row never double-subtracts). That scan reads key columns of a bounded
candidate set — the commit still WRITES only O(batch) bytes, which is
the 100 TB property that matters; a stats-free variant would have to
give up exact row counts for pure metadata commits.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from european_public_data_pipeline_spark.pipeline.fs_util import (
    delete_path,
    hadoop_fs,
)
from european_public_data_pipeline_spark.pipeline.manifest import (
    KEY_BATCH_CAP,
    Head,
    _changelog_stage_dir,
    _commit,
    _list_parquet,
    _read_files_live,
    _read_head,
    _stage_dir,
    _tracked_stats_cols,
    prune_candidates,
    prune_files,
    profile_key_batch,
    read_changelog,
)
from european_public_data_pipeline_spark.session import local_frame


def _head(spark: SparkSession, table_path: str) -> Head:
    head = _read_head(spark, table_path)
    if head is None:
        raise FileNotFoundError(f"no committed manifests at {table_path}")
    return head


def _stage_sidecar(df: DataFrame, table_path: str, n: int) -> list[str]:
    """Write a delete sidecar for version ``n`` as one file under a
    uuid-unique ``deletes/`` prefix (a loser's sidecar never collides
    with the winner's); returns its files."""
    sidecar_dir = f"{table_path}/deletes/v{n:08d}-{uuid.uuid4().hex[:12]}"
    df.coalesce(1).write.mode("overwrite").parquet(sidecar_dir)
    jvm, fs, _ = hadoop_fs(df.sparkSession, sidecar_dir)
    return _list_parquet(jvm, fs, sidecar_dir)


def delete_rows_mor(
    spark: SparkSession,
    table_path: str,
    deletes: DataFrame,
    keys: list[str],
    persist_changelog: bool = False,
) -> dict:
    """Logically delete every current row whose key tuple appears in
    ``deletes`` (extra columns ignored; keys absent from the target are
    no-ops) by committing an equality-delete sidecar — no data file is
    read beyond the pruned counting scan, none is written. Returns
    ``{"version", "rows_deleted", "files_pruned", "files_scanned",
    "sidecar_files", "changelog"?}``; when nothing matches, NO version
    is committed (an empty sidecar would tax every future scan for
    nothing) and ``version`` is the unchanged head.

    NULL delete keys are refused loudly (a NULL key matches nothing —
    same guard as ``merge_into_manifest``). Like every writer here, the
    commit chains off the highest committed version."""
    head = _head(spark, table_path)
    m = head.m

    batch = profile_key_batch(keys, deletes=deletes)
    batch.refuse("null_del", "delete_rows_mor: delete batch carries NULL merge keys")
    # A sidecar is read back as an UNCONDITIONAL broadcast on every scan
    # (_read_files_live) until the next compact: past the cap a batch is
    # refused — a multi-GB sidecar would OOM every reader.
    if batch.rows is None:
        raise ValueError(
            f"delete_rows_mor: delete batch exceeds {KEY_BATCH_CAP} distinct "
            "key tuples — a sidecar this large would force a huge broadcast "
            "on EVERY read until the next compact; use "
            "merge_into_manifest(deletes=...) (copy-on-write rewrite) "
            "or purge_rows for bulk deletes"
        )
    # Zone-map pruning: the counting scan touches only files that CAN
    # hold a deleted key.
    candidates = prune_candidates(m, keys, key_tuples=batch.rows)
    # The probe and the sidecar are the profile's rows: what is committed
    # is what was validated, and the batch is not evaluated again.
    dkeys = local_frame(
        spark,
        [tuple(r[k] for k in keys) for r in batch.rows],
        batch.relation.select(*keys).schema,
    )
    probe = F.broadcast(dkeys)

    n = head.version + 1
    cl_dir = None
    if candidates and persist_changelog:
        # ONE pruned live scan serves both needs: stage the old images
        # first, then answer the matched count from the staged parquet's
        # row-group metadata (no second data read, and no footer
        # inference: the read takes the images' schema). LIVE read: rows
        # an earlier sidecar already killed produce no image and never
        # subtract again, and a bounded batch's images are coalesced (the
        # small-file discipline the merge changelog write follows).
        cl_dir = _changelog_stage_dir(table_path, n)
        old_images = (
            _read_files_live(spark, m, candidates)
            .join(probe, on=keys, how="left_semi")
            .select("*", F.lit(-1).alias("__w"))
            .coalesce(4)
        )
        old_images.write.mode("overwrite").parquet(cl_dir)
        matched = spark.read.schema(old_images.schema).parquet(cl_dir).count()
    elif candidates:
        matched = (
            _read_files_live(spark, m, candidates)
            .join(probe, on=keys, how="left_semi")
            .count()
        )
    else:
        matched = 0
    out = {
        "version": head.version,
        "rows_deleted": int(matched),
        "files_pruned": len(m["files"]) - len(candidates),
        "files_scanned": len(candidates),
        "sidecar_files": 0,
    }
    if matched == 0:
        if cl_dir is not None:
            delete_path(spark, cl_dir)  # staged images of nothing
        return out

    # KB-scale by design: one file of distinct key tuples.
    sidecar_files = _stage_sidecar(dkeys, table_path, n)
    version = _commit(
        spark,
        table_path,
        n,
        None,  # pure-metadata commit: nothing staged
        head=head,
        rows_removed=int(matched),
        op="delete",
        delete_entry={
            "files": sidecar_files,
            "keys": list(keys),
            "schema": dkeys.schema.json(),
        },
        changelog_dir=cl_dir,
    )
    out["version"] = version
    out["sidecar_files"] = len(sidecar_files)
    if persist_changelog:
        out["changelog"] = read_changelog(spark, table_path, version)
    return out


def delete_where_mor(
    spark: SparkSession,
    table_path: str,
    condition: str,
    persist_changelog: bool = False,
    prune_col: str | None = None,
    prune_lo=None,
    prune_hi=None,
) -> dict:
    """Logically delete every current row matching the SQL boolean
    ``condition`` by committing a POSITION sidecar — Iceberg v2's
    position-delete files: the sidecar names exact ``(file, row_index)``
    pairs, so this works on tables WITHOUT unique keys (duplicate rows —
    an equality delete could never target them) and removes precisely
    the physical rows the predicate matched, no data file rewritten.

    Cost shape: ONE live scan of the candidate files evaluates the
    predicate (the price of a predicate delete on any engine);
    ``prune_col``/``prune_lo``/``prune_hi`` optionally SCOPE the delete
    to a key range — the range both zone-prunes the scan and becomes
    part of the delete predicate (``condition AND col BETWEEN lo AND
    hi``), so a hint that does not bound the condition narrows the
    delete rather than silently skipping matching rows in pruned
    files. The COMMIT writes O(matches) bytes. Matches past the
    sidecar cap are refused BEFORE the sidecar is written (a bounded
    ``limit(cap+1)`` count that also materializes the cached scan in
    parallel — same reasoning as ``delete_rows_mor``: the sidecar is
    broadcast on every read until the next compact); bulk predicate
    deletes belong to a filtered rewrite or ``purge_rows``.

    Returns ``{"version", "rows_deleted", "files_pruned",
    "files_scanned", "sidecar_files", "changelog"?}``; a no-match
    predicate commits nothing. ``persist_changelog`` stages the matched
    rows' old images at weight -1 (keeps ``refresh_mv`` incremental
    across the delete, like the equality flavor)."""
    head = _head(spark, table_path)
    m = head.m

    cond = F.expr(condition)
    if prune_col is not None:
        candidates, _total = prune_files(m, prune_col, prune_lo, prune_hi)
        # The scope range is PART of the predicate, not a trusted
        # assertion about it: a row outside [lo, hi] is out of the
        # delete's scope by definition — never silently missed because
        # its file was pruned while the condition alone would match it.
        cond = cond & F.col(prune_col).between(
            F.lit(prune_lo), F.lit(prune_hi)
        )
    else:
        candidates = list(m["files"])
    out = {
        "version": head.version,
        "rows_deleted": 0,
        "files_pruned": len(m["files"]) - len(candidates),
        "files_scanned": len(candidates),
        "sidecar_files": 0,
    }
    if not candidates:
        return out

    n = head.version + 1

    # ONE live scan: physical identity captured AT SCAN (the reader's
    # keep_positions), earlier sidecars applied (a row already dead
    # cannot match again), then the predicate. Persisted: the bounded
    # count below materializes the cache IN PARALLEL, and the sidecar/
    # changelog writes read the cache — the predicate evaluates once,
    # and no single-task coalesce write happens before the cap check.
    matches = _read_files_live(
        spark, m, candidates, keep_positions=True
    ).filter(cond).persist()
    try:
        matched = matches.limit(KEY_BATCH_CAP + 1).count()
        if matched == 0:
            return out
        if matched > KEY_BATCH_CAP:
            raise ValueError(
                f"delete_where_mor: predicate matched over the sidecar "
                f"cap ({KEY_BATCH_CAP} rows); a sidecar this large would "
                "force a huge broadcast on EVERY read until the next "
                "compact. Rewrite filtered (publish_version of the "
                "surviving rows) or purge_rows instead"
            )
        sidecar_files = _stage_sidecar(
            matches.select("__pf", "__pr"), table_path, n
        )
        cl_dir = None
        if persist_changelog:
            cl_dir = _changelog_stage_dir(table_path, n)
            matches.drop("__pf", "__pr").select(
                "*", F.lit(-1).alias("__w")
            ).coalesce(4).write.mode("overwrite").parquet(cl_dir)
    finally:
        matches.unpersist()
    version = _commit(
        spark,
        table_path,
        n,
        None,
        head=head,
        rows_removed=int(matched),
        op="delete",
        delete_entry={"files": sidecar_files, "kind": "position"},
        changelog_dir=cl_dir,
    )
    out["version"] = version
    out["rows_deleted"] = int(matched)
    out["sidecar_files"] = len(sidecar_files)
    if persist_changelog:
        out["changelog"] = read_changelog(spark, table_path, version)
    return out


def resolve_latest_wins(
    updates: DataFrame,
    keys: list[str],
    order_col: str,
    caller: str,
) -> DataFrame:
    """Resolve duplicate merge keys inside one update batch: per key the
    row with the greatest ``order_col`` (a version/event-time column)
    wins — one window shuffle on the key. Ties on (keys, order_col)
    still raise: the winner would be nondeterministic, which is the bug
    this resolver exists to prevent, not to hide. Shared by
    ``upsert_rows_mor`` and the streaming CDC sink, whose
    ``availableNow`` trigger routinely coalesces a backlog holding
    several revisions of one key into a single micro-batch."""
    w_u = Window.partitionBy(*keys).orderBy(F.col(order_col).desc())
    ranked = updates.withColumn("_urn", F.row_number().over(w_u)).withColumn(
        "_utie",
        F.count(F.lit(1)).over(Window.partitionBy(*keys, order_col)),
    )
    if ranked.filter((F.col("_urn") == 1) & (F.col("_utie") > 1)).limit(1).count():
        raise ValueError(
            f"{caller}: updates contain rows tied on "
            f"({', '.join(keys)}, {order_col}); the winner would "
            "be nondeterministic — use a unique ordering column"
        )
    return ranked.filter(F.col("_urn") == 1).drop("_urn", "_utie")


def upsert_rows_mor(
    spark: SparkSession,
    table_path: str,
    updates: DataFrame,
    keys: list[str],
    persist_changelog: bool = False,
    dedupe_updates_by: str | None = None,
) -> dict:
    """Merge-on-read UPSERT — the Iceberg MOR MERGE shape: ONE commit
    carrying an equality-delete sidecar for the matched keys PLUS an
    appended file of the batch's new row images. Matched target rows
    die at scan time (the sidecar, applied by ``_read_files_live``'s
    broadcast anti join, covers only files added BEFORE this commit —
    the appended images are recorded at THIS version, so they live);
    unmatched keys are plain inserts (no sidecar entry needed — their
    tuples match nothing, and keeping them out keeps the broadcast rent
    minimal); everything folds into clean files at the next ``compact``.

    This is the trickle-UPDATE complement to ``delete_rows_mor``: a CDC
    batch of 1k scattered keys against a 100 TB table costs O(batch)
    written bytes (one KB-scale sidecar + one small parquet of images)
    where the COW ``merge_into_manifest`` rewrites every touched file —
    the most common lakehouse write at scale made metadata-priced.
    COW remains the right shape for bounded clustered batches (its
    rewrite re-clusters as it goes and adds no scan rent). Reference
    anchor: the gold stage's delete-then-append idempotent load
    (``/root/reference/src/db/load_hicp_to_sql.py:54-62``) IS
    delete-sidecar + append, at partition granularity.

    Semantics mirrored from the COW merge: NULL merge keys refused
    loudly; duplicate keys WITHIN the batch refused unless
    ``dedupe_updates_by=<ordering column>`` resolves them latest-wins
    (ties still raise); a key deleted by an EARLIER sidecar and
    re-upserted here is a plain insert (the live counting scan no
    longer sees the dead row). Batches past the sidecar cap are refused
    — the sidecar is broadcast on every read until the next compact;
    bulk upserts belong to the COW merge.

    ``persist_changelog`` materializes the Delta-CDF delta — matched
    rows' old images at weight -1 plus ALL new images at +1 — so
    ``refresh_mv``'s chain walk folds this commit at O(delta + |MV|).
    The commit is ``op="overwrite"`` (prior rows are NOT all preserved),
    which is exactly how the chain walk classifies it: foldable with a
    persisted changelog, full-recompute hazard without.

    Returns ``{"version", "rows_updated", "rows_inserted",
    "files_pruned", "files_scanned", "sidecar_files", "changelog"?}``;
    an empty batch commits nothing."""
    head = _head(spark, table_path)
    m = head.m

    # Pin the batch BEFORE validating it: it is read several times and
    # may carry expensive or NON-DETERMINISTIC lineage — a NULL key could
    # pass the profile of one evaluation yet land in the sidecar written
    # from another. localCheckpoint also severs the streaming
    # micro-batch lineage the CDC sink hands us.
    updates = updates.localCheckpoint()
    if dedupe_updates_by:
        # Re-pin the deduped result: downstream reads it ~5 times (the
        # profile, probe scan, changelog and data writes) — without this
        # pin each would re-run the dedupe window shuffle. Determinism is
        # already guaranteed by the pinned INPUT plus the tie refusal, so
        # the second checkpoint is purely a cost move.
        updates = resolve_latest_wins(
            updates, keys, dedupe_updates_by, "upsert_rows_mor"
        ).localCheckpoint()
    batch = profile_key_batch(keys, updates)
    batch.refuse("null_upd", "upsert_rows_mor: update batch carries NULL merge keys")
    if batch.rows is None:
        raise ValueError(
            f"upsert_rows_mor: update batch exceeds {KEY_BATCH_CAP} distinct "
            "key tuples — a sidecar this large would force a huge broadcast "
            "on EVERY read until the next compact; use "
            "merge_into_manifest (copy-on-write rewrite) for bulk "
            "upserts"
        )
    if not batch.rows:
        return {
            "version": head.version,
            "rows_updated": 0,
            "rows_inserted": 0,
            "files_pruned": 0,
            "files_scanned": 0,
            "sidecar_files": 0,
        }
    batch.refuse(
        "dup",
        "upsert_rows_mor: update batch carries duplicate key tuples",
        "pass dedupe_updates_by=<ordering column> or resolve upstream; an "
        "arbitrary winner would be nondeterministic",
    )
    candidates = prune_candidates(m, keys, key_tuples=batch.rows)
    # The probe is the profile's rows: the batch is not aggregated again.
    key_schema = updates.select(*keys).schema
    probe_keys = local_frame(
        spark, [tuple(r[k] for k in keys) for r in batch.rows], key_schema
    )

    # Which target rows does the batch replace? One PRUNED live scan
    # (earlier sidecars applied — a row already dead is an insert, not
    # a match), semi-joined against the broadcast batch keys. The
    # per-key aggregate is bounded by the batch's key count (<= cap),
    # so collecting it is driver-safe, and it answers both the exact
    # row accounting and the matched-key set the sidecar needs.
    n_next = head.version + 1
    cl_dir = None
    matched_rows = 0
    matched_key_rows: list = []
    new_images = updates.select("*", F.lit(1).alias("__w"))
    if candidates:
        hit = _read_files_live(spark, m, candidates).join(
            F.broadcast(probe_keys), on=keys, how="left_semi"
        )
        if persist_changelog:
            # The matched rows feed two consumers (the aggregate and
            # the -1 old images) — persist the semi-joined set (batch-
            # bounded) so the candidate files are scanned once.
            hit = hit.persist()
        try:
            matched_key_rows = (
                hit.groupBy(*keys).agg(F.count(F.lit(1)).alias("__n")).collect()
            )
            matched_rows = sum(int(r["__n"]) for r in matched_key_rows)
            if persist_changelog:
                cl_dir = _changelog_stage_dir(table_path, n_next)
                delta = (
                    hit.select("*", F.lit(-1).alias("__w"))
                    .unionByName(new_images, allowMissingColumns=True)
                    if matched_rows
                    else new_images
                )
                delta.coalesce(4).write.mode("overwrite").parquet(cl_dir)
        finally:
            if persist_changelog:
                hit.unpersist()
    elif persist_changelog:
        # No candidate file can hold a batch key: pure inserts.
        cl_dir = _changelog_stage_dir(table_path, n_next)
        new_images.coalesce(4).write.mode("overwrite").parquet(cl_dir)

    delete_entry = None
    if matched_rows:
        # Sidecar of MATCHED keys only — inserts match nothing and
        # would be pure broadcast rent on every read until compact.
        delete_entry = {
            "files": _stage_sidecar(
                local_frame(
                    spark,
                    [tuple(r[k] for k in keys) for r in matched_key_rows],
                    key_schema,
                ),
                table_path,
                n_next,
            ),
            "keys": list(keys),
            "schema": key_schema.json(),
        }

    # Stage the new images — the ONLY data write, O(batch) bytes. The
    # staged images enter file_added at THIS version, so no sidecar —
    # this commit's own included — kills the upserted rows at scan.
    data_dir = _stage_dir(table_path, n_next)
    updates.coalesce(4).write.mode("overwrite").parquet(data_dir)
    version = _commit(
        spark,
        table_path,
        n_next,
        data_dir,
        updates.schema,
        head=head,
        rows_removed=int(matched_rows),
        stats_cols=_tracked_stats_cols(m),
        delete_entry=delete_entry,
        changelog_dir=cl_dir,
    )
    out = {
        "version": version,
        "rows_updated": int(matched_rows),
        "rows_inserted": len(batch.rows) - len(matched_key_rows),
        "files_pruned": len(m["files"]) - len(candidates),
        "files_scanned": len(candidates),
        "sidecar_files": 1 if matched_rows else 0,
    }
    if persist_changelog:
        out["changelog"] = read_changelog(spark, table_path, version)
    return out

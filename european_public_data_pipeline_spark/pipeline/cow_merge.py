"""Copy-on-write MERGE INTO a versioned-manifest table (SURVEY.md §2.7
scaled onto §2.1 S11) — Iceberg's COW ``MERGE INTO`` on this repo's
manifest format, the engine's one copy-on-write keyed write:

- ``pipeline/manifest.py``: versioned manifests with snapshot isolation,
  appends that carry files by reference, and commit-kind tags.
- ``pipeline/mor_delete.py``: the merge-on-read keyed writes (equality
  and position deletes, upserts) on the same manifests.
- THIS module: MERGE against a manifest table (q113, q130) that
  rewrites ONLY the files containing matched keys — every untouched file is carried by
  reference into the new version — and can hand back the row-level
  changelog the merge implies, which ``apply_changelog_mv`` folds into
  downstream MVs at O(changelog + |MV|).

Why this is the 100 TB shape: a day's upsert batch touches a bounded
key range; with the table range-clustered on the merge key (compact
``cluster_by``), zone maps prove most files CANNOT contain a matched
key and the rewrite is O(touched files + batch), never O(table). The
commit is the standard immutable-manifest protocol — readers mid-merge
see the prior version, a crash leaves it current, and time travel to
pre-merge versions keeps working. The commit is tagged ``overwrite``
(rows changed — file-level incremental consumers MUST NOT treat it as
an append); the emitted changelog is exactly the row-level delta those
consumers need instead (Delta CDF's Change Data Feed, emitted by the
writer rather than re-derived by q97's snapshot diff).

Algorithm (one batch profile, one metadata read, two bounded scans, one
batch write):

0. ``profile_key_batch``: one ``groupBy(keys)`` over the update and
   delete keys, collected up to the key cap, refuses duplicate update
   keys (two images for one key corrupt the result and the changelog's
   refcounts), NULL keys and keys in both clauses, in that order. Its
   rows are step 1's key set; an empty batch commits nothing.
1. Zone-map candidate pruning: files whose recorded [min, max] on the
   merge keys cannot hold one of the batch's key values are carried
   without being read (``prune_candidates`` — conservative: files
   without stats stay candidates).
2. ONE scan of the candidate files, grouped by ``input_file_name``
   (never a per-file job storm), counts each file's total rows and
   matched rows against the broadcast batch profile. Files with zero
   matches join the carried set.
3. Affected files' surviving rows (anti join on the keys) UNION the
   full update batch are written as the staged batch. ``_commit``
   (concurrent-publisher safe, purge-fenced) is told only the untouched
   files to keep and the rewritten files' row count; it derives the
   rest of the new version from the head the merge read — schema
   (merged additively with the batch's), zone maps, meta and the
   merge-on-read state.

Changelog emission (``emit_changelog=True``): old images of matched
rows at weight -1 (read lazily from the PRIOR version's affected files,
which the prior manifest still references — consume before expiring
it), update rows at weight +1. Per-key weight sums are 0 (update) or
+1 (insert) by construction, satisfying ``apply_changelog_mv``'s
invariant.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from european_public_data_pipeline_spark.pipeline.manifest import (
    _changelog_stage_dir,
    _commit,
    _path_key,
    _read_files_live,
    _read_head,
    _stage_dir,
    _tracked_stats_cols,
    prune_candidates,
    profile_key_batch,
    read_changelog,
)
from european_public_data_pipeline_spark.session import local_frame


def merge_into_manifest(
    spark: SparkSession,
    table_path: str,
    updates: DataFrame,
    keys: list[str],
    emit_changelog: bool = False,
    deletes: DataFrame | None = None,
    persist_changelog: bool = False,
) -> dict:
    """MERGE ``updates`` into the manifest table's current version:
    key-matched rows are replaced by their update row, new keys are
    inserted, unmatched target rows survive untouched — and only the
    FILES containing matched keys are rewritten; everything else is
    carried by reference. ``deletes`` (key columns; extra columns
    ignored) adds the WHEN-MATCHED-DELETE clause: target rows with
    those keys are removed (a key absent from the target is a no-op; a
    key in BOTH updates and deletes is refused — ambiguous). Commits
    one new version (op ``overwrite``) and returns ``{"version",
    "files_rewritten", "files_carried", "files_pruned", "rows_matched",
    "rows_deleted", "changelog"}`` — ``changelog`` (only with
    ``emit_changelog``) is a lazy DataFrame of weighted row images
    (+1 insert/new image, -1 old/deleted image) for
    ``apply_changelog_mv``; consume it before the PRIOR version is
    expired (its old files back the -1 images). An empty batch (no
    update rows, no delete keys) commits nothing: ``version`` is the
    unchanged head, every count is 0 and ``changelog`` is empty.

    ``persist_changelog`` additionally MATERIALIZES those images under
    ``{table}/changelog/v{version}-<uuid>/`` and records the file list
    in the commit's manifest (Delta CDF's Change Data Feed persisted by
    the writer): ``manifest.read_changelog`` serves it later, it
    survives the prior version's expiry, and — the point —
    ``refresh_mv``'s chain walk folds it across this otherwise-opaque
    overwrite commit, so a downstream MV stays O(delta + |MV|) across
    routine merges instead of paying an O(source) rebuild. Costs one
    extra O(changelog) write inside the commit; the returned
    ``changelog`` is then the persisted copy (stable under re-reads).

    Like ``append_version``, the merge chains off the HIGHEST committed
    version, not the LATEST pointer — after a ``rollback`` the next
    manifest number is already taken, and a pointer-based merge would
    collide with it forever; compact first if resurrecting the
    rolled-back-from rows is not intended.

    On a legacy table whose manifest records no schema, the merge takes
    the table schema from one file's footer, like every carrying writer,
    so a batch lacking a table column keeps it in the new version: the
    carried files keep their values, the batch's rows read NULL."""
    head = _read_head(spark, table_path)
    if head is None:
        raise FileNotFoundError(f"no committed manifests at {table_path}")
    m = head.m
    # ONE stable snapshot of the batch for its many uses (profile,
    # counting scan, staged write, post-commit changelog images): a
    # non-deterministic or expensive updates plan would otherwise
    # re-evaluate per use — the staged write could commit different rows
    # than the changelog reports. Eager, batch-sized.
    updates = updates.localCheckpoint()
    if deletes is not None:
        deletes = deletes.select(*keys).localCheckpoint()
    batch = profile_key_batch(keys, updates, deletes)
    batch.refuse(
        "dup",
        "merge_into_manifest: update batch carries duplicate merge keys",
        "resolve to one row per key upstream (latest-wins window), or the "
        "merge result and changelog are ambiguous",
    )
    for fault, clause in (("null_upd", "update"), ("null_del", "delete")):
        batch.refuse(
            fault, f"merge_into_manifest: {clause} batch carries NULL merge keys"
        )
    batch.refuse(
        "overlap",
        "merge_into_manifest: keys present in BOTH updates and deletes",
        "one clause per key; resolve the intent upstream",
    )
    if batch.rows == []:
        out = {
            "version": head.version,
            "files_rewritten": 0,
            "files_carried": 0,
            "files_pruned": 0,
            "rows_matched": 0,
            "rows_deleted": 0,
        }
        if emit_changelog or persist_changelog:
            out["changelog"] = updates.select("*", F.lit(1).alias("__w"))
        return out

    # 1. Zone-map pruning on EVERY merge key with recorded stats,
    # candidate sets intersected: a file survives only if, for each such
    # key, its [min, max] interval can hold one of the batch's values
    # for that key — a two-key merge prunes on both columns, not just
    # keys[0]. A single [lo, hi] envelope of the batch is useless for
    # the common mixed batch (updates in one range + inserts far above
    # the table's max stretch it over every file), so each file is
    # probed against the SORTED distinct value set (bisect — any value
    # inside the interval keeps the file): the profile's rows. Past the
    # key cap, fall back to per-key envelopes (a batch that large
    # touches most files anyway).
    # Conservative throughout: files without stats for a key pass that
    # key's test, all-NULL zones can hold no value (NULL keys were
    # refused above).
    small_batch = batch.rows is not None
    if small_batch:
        candidates = prune_candidates(m, keys, key_tuples=batch.rows)
    else:
        all_keys = updates.select(*keys)
        if deletes is not None:
            all_keys = all_keys.unionByName(deletes)
        aggs = []
        for k in keys:
            aggs += [F.min(k).alias(f"lo_{k}"), F.max(k).alias(f"hi_{k}")]
        env = all_keys.agg(*aggs).collect()[0]
        candidates = prune_candidates(
            m,
            keys,
            envelope={k: (env[f"lo_{k}"], env[f"hi_{k}"]) for k in keys},
        )
    cand_set = set(candidates)
    pruned = [f for f in m["files"] if f not in cand_set]

    # 2. One counting scan over the candidates: per-file totals +
    # matched update/delete counts against the profile's key tuples
    # (overlap was refused, so each carries one flag). The broadcast
    # hint is applied only when the profile — FULL tuples, not keys[0],
    # whose low cardinality could hide a huge probe — fit under the key
    # cap: a hint on a 100M-key batch would force a multi-GB broadcast
    # build instead of letting the join shuffle. Within the cap the
    # probe is the profile's collected rows, so none of its three
    # broadcasts evaluates the batch again.
    probe = batch.relation.select(
        *keys,
        F.when(F.col("__n") > 0, 1).alias("__mu"),
        F.when(F.col("__d"), 1).alias("__md"),
    )
    if small_batch:
        probe = local_frame(
            spark,
            [
                (*r[: len(keys)], 1 if r["__n"] > 0 else None, 1 if r["__d"] else None)
                for r in batch.rows
            ],
            probe.schema,
        )
    key_set = F.broadcast(probe) if small_batch else probe
    affected: list[str] = []
    by_key: dict[str, tuple[int, int, int]] = {}
    rows_matched = 0
    rows_deleted = 0
    if candidates:
        # input_file_name is resolved BEFORE any join (the live reader
        # captures it AT SCAN into __f): it is only defined on scan-side
        # rows, and a plan that shuffled the probe side (hint not
        # honored) — or the live reader's own delete anti joins — would
        # silently blank it after. The LIVE read also makes the counting
        # scan net of merge-on-read sidecars: a row an earlier delete
        # already killed neither matches nor counts toward file totals,
        # keeping carried-row arithmetic consistent with the manifest's
        # (net) row_count.
        tgt = _read_files_live(spark, m, candidates, file_col="__f").select(
            "__f", *keys
        )
        counts = (
            tgt.join(key_set, on=keys, how="left")
            .groupBy("__f")
            .agg(
                F.count(F.lit(1)).alias("total"),
                F.count("__mu").alias("matched"),
                F.count("__md").alias("deleted"),
            )
            .collect()
        )
        by_key = {
            _path_key(r["__f"]): (
                int(r["total"]), int(r["matched"]), int(r["deleted"])
            )
            for r in counts
        }
        for f in candidates:
            _t, mu, md = by_key.get(_path_key(f), (0, 0, 0))
            if mu + md > 0:
                affected.append(f)
                rows_matched += mu
                rows_deleted += md
    affected_set = set(affected)
    carried = [f for f in m["files"] if f not in affected_set]
    probe_keys = F.broadcast(probe.select(*keys)) if small_batch else (
        probe.select(*keys)
    )

    # 3. Staged batch: affected files' survivors (neither updated nor
    # deleted) + the whole update batch, one write job. Updates may
    # carry NEW columns (additive evolution — _commit merges schemas);
    # survivors NULL-backfill.
    if affected:
        # Live read: a rewritten file FOLDS its applicable delete
        # sidecars — sidecar-dead rows are not resurrected into the
        # staged batch (the staged files enter file_added at the new
        # version, past every recorded sidecar).
        survivors = _read_files_live(spark, m, affected).join(
            probe_keys, on=keys, how="left_anti"
        )
        staged_df = survivors.unionByName(updates, allowMissingColumns=True)
    else:
        staged_df = updates
    n = head.version + 1
    data_dir = _stage_dir(table_path, n)
    staged_df.write.mode("overwrite").parquet(data_dir)

    # Weighted row images (built lazily; evaluated only if emitted or
    # persisted): old images of matched/deleted rows at -1, update rows
    # at +1 — per-key weight sums 0 (update) / +1 (insert) / -1 (delete)
    # by construction, apply_changelog_mv's invariant.
    changelog_df: DataFrame | None = None
    if emit_changelog or persist_changelog:
        new_images = updates.select("*", F.lit(1).alias("__w"))
        if affected:
            # Live read: a sidecar-dead row produces no -1 image (it
            # was never visible, so it contributes nothing to fold).
            old_images = (
                _read_files_live(spark, m, affected)
                .join(probe_keys, on=keys, how="left_semi")
                .select("*", F.lit(-1).alias("__w"))
            )
            changelog_df = old_images.unionByName(
                new_images, allowMissingColumns=True
            )
        else:
            changelog_df = new_images

    cl_dir = None
    if persist_changelog:
        # Staged BEFORE the manifest commit so the commit can reference
        # it atomically; uuid-prefixed, so a lost commit race (reclaimed
        # by _commit) or a crash (reclaimed age-fenced by
        # vacuum_orphans) never collides with the winner's changelog.
        cl_dir = _changelog_stage_dir(table_path, n)
        # A bounded batch's changelog is KB-to-MB scale but inherits the
        # update batch's partitioning (measured: a 9k-image changelog
        # written as 34 near-empty files cost every later read ~60ms of
        # footer overhead PER FILE — the fold paid more for file opens
        # than for rows). Coalesce when the batch is known small; a
        # past-cap batch keeps its write parallelism.
        if small_batch:
            changelog_df = changelog_df.coalesce(4)
        changelog_df.write.mode("overwrite").parquet(cl_dir)

    # Untouched files carry their zone maps, add-versions and applicable
    # sidecars (the rewritten files' deletes were folded above). The
    # staged files get zone maps for every column the prior version
    # tracked (compact's discipline) — without this, stats coverage
    # decays monotonically on merge-heavy tables and the NEXT merge's
    # prune degrades file by file.
    version = _commit(
        spark,
        table_path,
        n,
        data_dir,
        staged_df.schema,
        head=head,
        keep=carried,
        rows_removed=sum(by_key.get(_path_key(f), (0, 0, 0))[0] for f in affected),
        stats_cols=_tracked_stats_cols(m),
        changelog_dir=cl_dir,
    )
    out = {
        "version": version,
        "files_rewritten": len(affected),
        "files_carried": len(carried),
        "files_pruned": len(pruned),
        "rows_matched": rows_matched,
        "rows_deleted": rows_deleted,
    }
    if persist_changelog:
        # The PERSISTED copy: stable under re-reads and prior-version
        # expiry, unlike the lazy plan.
        out["changelog"] = read_changelog(spark, table_path, version)
    elif emit_changelog:
        out["changelog"] = changelog_df
    return out

"""Pull-based incremental MV refresh driven by the source table's
manifest log — the scheduled-job twin of ``streaming/mv_maintenance``
(which is push-based: a running stream hands it micro-batches).

A warehouse MV is usually refreshed by a scheduler, not a resident
stream: at each run, diff the source's manifest log since the last
APPLIED version (``manifest.chain_links`` — O(delta) files planned
from KB manifests), aggregate only the delta to the algebraic partial
state, merge it with the stored MV (two aggregate-sized relations —
history is never re-scanned), and commit the new MV version with the
applied source version in manifest ``meta``. Crash-safe and idempotent for free: the
MV commit is the versioned-manifest protocol (a crash mid-refresh leaves
the prior MV version intact and readable), and a re-run reads the
applied watermark from the committed meta, so refreshing twice is a
no-op.

The maintained view's SHAPE is a declarative ``MVSpec`` — group keys
plus re-aggregable measures (count/sum/min/max), the algebra whose
partial states merge exactly — so one refresh engine maintains any
number of views; ``refresh_mv(spark, src, mv, spec)`` is the generic
entry and ``refresh_event_summary`` is the original shape expressed as
a spec (``EVENT_SUMMARY_SPEC``). Non-re-aggregable measures (avg,
median, count-distinct) are refused at spec construction: derive avg
from sum+count downstream, and keep distincts in mergeable sketches
(q98's HLL rollup) — an MV that stored them directly could not merge
deltas without re-scanning history.

File-level incremental reads are exact for APPEND commits and — since
commits carry an operation kind (``manifest._commit``'s ``op`` field,
Iceberg's snapshot ``operation``) — for row-preserving REPLACE commits
too: the refresh walks the commit chain since the applied version,
aggregates only the ``append`` deltas, and SKIPS ``replace`` versions
entirely (compact/widen preserve every row value-for-value, so their
rows are already absorbed — without the tag, a routine nightly
compaction would force an O(source) MV rebuild at 100 TB). An
``overwrite`` commit that PERSISTED its row-level changelog (a COW
MERGE with ``persist_changelog=True`` — Delta CDF materialized by the
writer) stays incremental too: ``chain_links`` returns it as a
changelog link, and the refresh folds appends (+1 images) and
persisted changelogs through the shared weighted-fold engine. Two
rewrite hazards still force a FULL recompute (correct, just not
incremental; q97/q100's changelogs are the row-level alternative):

1. An OPAQUE ``overwrite`` or ``delete`` commit anywhere in the chain
   (full publish, or a merge or delete that did not persist its
   changelog — no row-preservation guarantee and no recorded delta),
   or an untagged pre-op-era manifest, which reads as an overwrite.
2. ``purge_rows``, which rewrites history IN PLACE without bumping any
   version: the chain walk can't see it (every manifest was remapped
   consistently), so the MV meta additionally stores an md5 of the
   applied version's file list at refresh time; if the stored hash no
   longer matches that manifest's current file list, history changed
   under the MV and the aggregate must be rebuilt — this check runs even
   when the source version is unchanged, otherwise a purge with no
   subsequent append would leave the MV serving legally-erased rows
   forever. (A purge that touched only not-yet-applied delta files
   leaves the anchor intact — and the delta is then read from the
   already-remapped manifests, so the purged rows never enter the MV.)
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from european_public_data_pipeline_spark.pipeline.manifest import (
    _appended_rows,
    _conformed,
    _read_files_live,
    _read_manifest,
    chain_links,
    current_version,
    publish_version,
    versions,
)
from european_public_data_pipeline_spark.session import local_frame

_META_KEY = "applied_src_version"
_META_FILES_MD5 = "applied_src_files_md5"
_META_MODE = "refresh_mode"

# The re-aggregable kinds: each partial state merges with the SAME
# associative fold, which is what lets ``MVSpec.merge`` combine the
# stored MV with a delta partial without ever re-scanning history.
# (count merges by sum — a count of counts is meaningless.)
_MERGE_FN = {"count": F.sum, "sum": F.sum, "min": F.min, "max": F.max}


@dataclass(frozen=True)
class Measure:
    """One maintained column: ``name`` in the MV, computed as
    ``kind(expr)`` over source rows. ``expr`` is a SQL expression string
    (kept as text so specs can be declared at import time, before any
    SparkSession exists); ``count`` ignores it."""

    name: str
    kind: str  # 'count' | 'sum' | 'min' | 'max'
    expr: str | None = None

    def __post_init__(self):
        if self.kind not in _MERGE_FN:
            raise ValueError(
                f"measure {self.name!r}: kind {self.kind!r} is not "
                f"re-aggregable — only {sorted(_MERGE_FN)} merge exactly "
                f"from partial states (derive avg from sum+count; keep "
                f"distincts in mergeable sketches, q98)"
            )
        if self.kind != "count" and not self.expr:
            raise ValueError(f"measure {self.name!r}: kind {self.kind!r} needs an expr")


@dataclass(frozen=True)
class MVSpec:
    """A maintained view's declarative shape: group keys + measures.
    Everything the refresh engine needs; the watermark/hazard machinery
    is shape-independent."""

    group_keys: tuple[str, ...]
    measures: tuple[Measure, ...] = field(default=())

    def __post_init__(self):
        if not self.group_keys or not self.measures:
            raise ValueError("MVSpec needs at least one group key and one measure")
        names = [m.name for m in self.measures]
        clash = set(names) & set(self.group_keys)
        if len(set(names)) != len(names) or clash:
            raise ValueError(f"MVSpec column names collide: {sorted(clash) or names}")

    def partial(self, src: DataFrame) -> DataFrame:
        """Aggregate source rows to the algebraic per-key state — every
        column mergeable (run over the full source on a rebuild, over
        just the delta on an incremental refresh)."""
        aggs: list[Column] = []
        for m in self.measures:
            if m.kind == "count":
                aggs.append(F.count(F.lit(1)).alias(m.name))
            else:
                aggs.append(_MERGE_FN[m.kind](F.expr(m.expr)).alias(m.name))
        return src.groupBy(*self.group_keys).agg(*aggs)

    def merge(self, mv: DataFrame, partial: DataFrame) -> DataFrame:
        """Fold a delta's partial state into the stored MV — two
        aggregate-sized relations, one shuffle on the group keys.
        (Counts merge by SUM — _MERGE_FN already encodes that.)"""
        return (
            mv.unionByName(partial)
            .groupBy(*self.group_keys)
            .agg(*[_MERGE_FN[m.kind](m.name).alias(m.name) for m in self.measures])
        )


# The original hard-coded shape, now just a spec: per-event_type counts,
# exact centi-unit money (q96's storable-MV recipe), first/last seen.
EVENT_SUMMARY_SPEC = MVSpec(
    group_keys=("event_type",),
    measures=(
        Measure("n_events", "count"),
        Measure("sum_value_c", "sum", "CAST(ROUND(value * 100) AS BIGINT)"),
        Measure("first_ts", "min", "ts"),
        Measure("last_ts", "max", "ts"),
    ),
)

# A second maintained shape (q121): per-customer order totals over a
# manifest ``orders`` table — the 100 TB generalization of the
# reference's gold stage (load_hicp_to_sql.py:54-101), which is exactly
# a maintained downstream aggregate of silver.
ORDER_TOTALS_SPEC = MVSpec(
    group_keys=("o_custkey",),
    measures=(
        Measure("n_orders", "count"),
        Measure("sum_total_c", "sum", "CAST(ROUND(o_totalprice * 100) AS BIGINT)"),
        Measure("first_order", "min", "o_orderdate"),
        Measure("last_order", "max", "o_orderdate"),
    ),
)


def _files_md5(m: dict) -> str:
    import hashlib
    import json as _json

    return hashlib.md5(_json.dumps(sorted(m["files"])).encode()).hexdigest()


def _partial(events: DataFrame) -> DataFrame:
    """The event-summary partial (kept for tests and callers that treat
    the original shape directly)."""
    return EVENT_SUMMARY_SPEC.partial(events)


def refresh_mv(
    spark: SparkSession, src_path: str, mv_path: str, spec: MVSpec
) -> int:
    """Bring the MV at ``mv_path`` (shape ``spec``) up to date with the
    source table at ``src_path``. Returns the source version now applied
    (unchanged on a no-op). Three modes, cheapest that is exact:

    - ``incremental`` — the chain since the applied version is appends
      + row-preserving replaces (compact, widen): aggregate only the
      appended files, O(delta + |MV|).
    - ``changelog`` — the chain additionally contains overwrite commits
      that PERSISTED their row-level delta (a COW MERGE with
      ``persist_changelog=True``): fold the appends as +1 images and
      each persisted changelog as-is through the shared weighted-fold
      engine, still O(delta + |MV|) — this is what keeps a daily MERGE
      into a 100 TB curated corpus from forcing an O(source) MV rebuild.
      Needs a count measure (the group refcount that retires emptied
      groups); min/max measures re-aggregate only tying-delete groups
      from the source head.
    - ``full`` — anything else (opaque overwrite, an untagged pre-op-era
      manifest — without a kind, its commit may have rewritten rows —
      purged history, expired intermediate manifests): recompute from
      the source head. Correct, just not incremental.

    The mode is decided from one ``chain_links`` walk, and each
    manifest is read once: the MV's head and the source's applied
    through current versions (N + 2 reads for an N-link chain)."""
    src_v = current_version(spark, src_path)
    mv_m = (
        _read_manifest(spark, mv_path, current_version(spark, mv_path))
        if versions(spark, mv_path)
        else {}
    )
    meta = mv_m.get("meta", {})
    applied = int(meta.get(_META_KEY, 0))
    # The changelog replay watermark (apply_changelog_mv's guard) must
    # survive refresh_mv commits too: dropping it would let a later
    # retry of an already-applied changelog_id double-apply weights.
    prior_cl = meta.get(_META_APPLIED_CL)
    # Enforce the id-space convention instead of merely documenting it:
    # _META_APPLIED_CL is the SOURCE-VERSION-space watermark, and a
    # source version can never exceed the source head — a larger value
    # means foreign ids were applied without ``id_space="foreign"``.
    # Honoring it would make the chain walk silently skip EVERY
    # persisted changelog link (all have version <= src_v < prior_cl),
    # losing their deltas from the MV; ignoring it would re-fold links
    # a push already applied. Neither is sound, so refuse loudly.
    if prior_cl is not None and int(prior_cl) > src_v:
        raise ValueError(
            f"refresh_mv: MV at {mv_path} carries "
            f"applied_changelog_id={int(prior_cl)}, ahead of the "
            f"source's current version ({src_v}) — changelog ids "
            f"applied to this MV are not source versions. Apply "
            f"foreign-space ids with id_space='foreign' (their own "
            f"watermark key), or rebuild the MV; the chain walk cannot "
            f"interleave with a contaminated source-version watermark."
        )
    # Foreign-space replay watermark: never consulted here (its ids say
    # nothing about source versions), but carried forward so a foreign
    # push's retry still no-ops after any refresh commit.
    foreign_cl = meta.get(_META_APPLIED_FOREIGN_CL)

    # purge_rows rewrites history in place without bumping versions: the
    # applied manifest's file list changing under the MV means the rows
    # the aggregate absorbed may no longer exist — rebuild, even when no
    # new source version arrived. An applied manifest that no longer
    # EXISTS (expire_versions retention GC dropped it) is the same
    # signal: the watermark's anchor is gone, so fall back to a full
    # recompute instead of failing every refresh forever.
    # The walk starts at the applied version, so it reads that manifest
    # even when a rollback left the source head below it.
    links, manifests = (
        chain_links(spark, src_path, applied, max(applied, src_v))
        if applied
        else (None, {})
    )
    history_intact = applied == 0 or (
        applied in manifests  # absent: applied version expired/unreadable
        and meta.get(_META_FILES_MD5) == _files_md5(manifests[applied])
    )
    if applied >= src_v and history_intact:
        return applied  # nothing new — idempotent no-op
    if not history_intact:
        links = None
    src_m = manifests.get(src_v) or _read_manifest(spark, src_path, src_v)
    if links is None:
        mode = "full"
    elif all(kind == "append" for kind, _v, _f in links):
        mode = "incremental"
    elif any(m.kind == "count" for m in spec.measures):
        # Persisted changelogs in the chain are still foldable — but
        # only with a count measure, the refcount that retires emptied
        # groups; without one the fold would be unsound.
        mode = "changelog"
    else:
        mode = "full"

    caches: list[DataFrame] = []
    n_dirty = 0
    try:
        if mode == "incremental":
            mv_now = _read_files_live(spark, mv_m)
            if any(files for _k, _v, files in links):
                delta = _appended_rows(spark, src_path, src_v, links, manifests)
                merged = spec.merge(mv_now, spec.partial(delta))
            else:
                # replace-only chain: state unchanged, advance watermark
                merged = mv_now
        elif mode == "changelog":
            stored = _read_files_live(spark, mv_m)
            changelog = _chain_changelog(
                spark, src_path, src_v, links, manifests, prior_cl
            )
            if changelog is None:
                mode = "full"  # weight-column collision: fold unsound
            else:
                # The fold reads the assembled changelog several times
                # (delta aggregate, tying-delete probe) — persist it
                # once, or each pass re-opens every segment/sidecar
                # file (apply_changelog_mv's discipline).
                changelog = changelog.persist()
                caches.append(changelog)
                merged, n_dirty, fold_caches = _fold_changelog(
                    spec,
                    stored,
                    changelog,
                    "__w",
                    _read_files_live(spark, src_m),
                )
                caches += fold_caches
                if merged is None:
                    merged = stored  # empty delta: advance watermark only
        if mode == "full":
            merged = spec.partial(_read_files_live(spark, src_m))
        new_meta = {
            _META_KEY: src_v,
            _META_FILES_MD5: _files_md5(src_m),
            # Which branch produced this MV version — auditable from the
            # committed meta (q116 pins the hazard detector through the
            # driver hash by emitting these as result columns).
            _META_MODE: mode,
        }
        if mode == "changelog":
            new_meta["n_dirty_groups"] = n_dirty
        # EVERY mode advances the replay watermark to the source version
        # (monotone — never lowered below a caller-set one): a full
        # recompute or incremental merge absorbs the source THROUGH
        # src_v, so a delayed writer push of some commit's changelog
        # with id <= src_v (the source-version id convention) is
        # already reflected and must no-op — the changelog mode's guard
        # alone would leave a full recompute double-applicable.
        new_meta[_META_APPLIED_CL] = (
            max(int(prior_cl), src_v) if prior_cl is not None else src_v
        )
        if foreign_cl is not None:
            new_meta[_META_APPLIED_FOREIGN_CL] = int(foreign_cl)
        publish_version(merged, mv_path, meta=new_meta)
        return src_v
    finally:
        for c in caches:
            c.unpersist()


def _chain_changelog(
    spark: SparkSession,
    src_path: str,
    src_v: int,
    links: list[tuple[str, int, list[str]]],
    manifests: dict[int, dict],
    prior_cl=None,
) -> DataFrame | None:
    """Assemble one weighted changelog for the whole chain: append
    links' rows as +1 images (via ``_appended_rows``, conformed to the
    head schema), each persisted changelog conformed likewise with its
    weight column normalized to ``__w``. Order-independence holds by
    construction — count/sum fold commutatively, and min/max are
    resolved from insert images + the tying-delete recompute against
    the post-chain source, both order-blind. Returns ``None`` when the
    source schema itself carries a ``__w`` column (the fold could not
    tell data from weights — caller falls back to full recompute).

    ``prior_cl`` (the MV's applied-changelog watermark): persisted-
    changelog links with version <= it are SKIPPED — they were already
    folded by a direct ``apply_changelog_mv`` of the writer-emitted
    delta (q131's flow, where the merge's source version is the
    changelog id). This is what lets the push path (writer hands the
    delta straight to the MV) and the pull path (scheduled refresh
    walks the chain) interleave on one MV without double-applying a
    merge. The id-space convention — changelog ids for a manifest-table
    source ARE its source versions — is ENFORCED upstream: foreign ids
    live in their own watermark key (``apply_changelog_mv``'s
    ``id_space="foreign"``), and ``refresh_mv`` refuses a claimed
    source-version watermark ahead of the source head, so ``prior_cl``
    here is always a genuine source version."""
    import json as _json

    from pyspark.sql.types import StructType

    sj = manifests[src_v].get("schema")
    head_schema = (
        StructType.fromJson(_json.loads(sj)) if sj else None
    )
    if head_schema is not None and "__w" in head_schema.names:
        return None
    parts: list[DataFrame] = []
    if any(files for kind, _v, files in links if kind == "append"):
        appended = _appended_rows(spark, src_path, src_v, links, manifests)
        parts.append(appended.select("*", F.lit(1).alias("__w")))
    for kind, v, files in links:
        if kind != "changelog":
            continue
        if prior_cl is not None and v <= int(prior_cl):
            continue  # already folded by a direct apply of this merge
        wcol = manifests[v].get("changelog_weight_col", "__w")
        cl = spark.read.parquet(*files)
        if head_schema is not None:
            # Conform to the head schema (a changelog written before a
            # later evolution lacks the new columns; lossless casts for
            # widened ones) + the normalized weight column.
            cl = cl.select(
                *_conformed(cl, head_schema), F.col(wcol).cast("int").alias("__w")
            )
        elif wcol != "__w":
            cl = cl.withColumnRenamed(wcol, "__w")
        parts.append(cl)
    if not parts:
        # Every link was an already-applied merge (watermark skip) and
        # no appends: an empty delta at the head schema — the caller
        # advances the watermark without touching state.
        if head_schema is None:
            return None  # legacy schema-less head: no frame to derive
        from pyspark.sql.types import IntegerType, StructField

        return local_frame(
            spark,
            [],
            StructType(
                list(head_schema.fields)
                + [StructField("__w", IntegerType())]
            ),
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def refresh_event_summary(
    spark: SparkSession, src_path: str, mv_path: str
) -> int:
    """The original event-summary view, maintained by the generic
    engine (shape: ``EVENT_SUMMARY_SPEC``)."""
    return refresh_mv(spark, src_path, mv_path, EVENT_SUMMARY_SPEC)


def _invertible(spec: MVSpec, with_source: bool = False) -> None:
    """Changelog maintenance needs every measure INVERTIBLE (deletes
    subtract): count and sum are; min/max are not (removing the current
    minimum requires re-scanning the group). With ``with_source`` the
    min/max refusal narrows: ``apply_changelog_mv`` can then recompute
    ONLY the groups whose stored extremum a delete tied (targeted
    per-group recompute) instead of falling back to ``refresh_mv``'s
    O(source) rebuild. A count measure is REQUIRED either way: it is
    the group's refcount — the only way to know a group emptied and
    must leave the view (a sum falling to 0 is not evidence of
    emptiness)."""
    bad = [m.name for m in spec.measures if m.kind not in ("count", "sum")]
    if bad and not with_source:
        raise ValueError(
            f"changelog maintenance needs invertible measures; "
            f"{', '.join(bad)} is min/max — pass source= for the "
            f"targeted per-group recompute, or rebuild via refresh_mv's "
            f"full-recompute path"
        )
    if not any(m.kind == "count" for m in spec.measures):
        raise ValueError(
            "changelog maintenance needs a count measure (the group "
            "refcount that retires emptied groups from the view)"
        )


def changelog_partial(
    spec: MVSpec,
    changelog: DataFrame,
    weight_col: str = "__w",
    allow_extrema: bool = False,
) -> DataFrame:
    """Aggregate a WEIGHTED changelog (each row a source-row image with
    weight +1 added / -1 removed; an update contributes both images) to
    the spec's delta state: count deltas are weight sums, sum deltas are
    weight-scaled expression sums. With ``allow_extrema`` (set by
    ``apply_changelog_mv`` when it holds a source for the targeted
    recompute), min/max measures aggregate over INSERTED images only —
    an insert can only improve an extremum, so ``spec.merge`` folds it
    exactly; deletes that tie the stored extremum are handled by the
    caller's dirty-group recompute. One shuffle on the group keys, sized
    by the changelog — never the table."""
    _invertible(spec, with_source=allow_extrema)
    aggs: list[Column] = []
    for m in spec.measures:
        if m.kind == "count":
            aggs.append(F.sum(F.col(weight_col)).cast("long").alias(m.name))
        elif m.kind == "sum":
            aggs.append(
                F.sum(F.expr(m.expr) * F.col(weight_col)).alias(m.name)
            )
        else:  # min/max over inserted images only (allow_extrema path)
            aggs.append(
                _MERGE_FN[m.kind](
                    F.when(F.col(weight_col) > 0, F.expr(m.expr))
                ).alias(m.name)
            )
    return changelog.groupBy(*spec.group_keys).agg(*aggs)


_META_APPLIED_CL = "applied_changelog_id"
# Replay watermark for changelog ids that are NOT source versions (an
# upstream queue offset, an orchestrator run id): kept in its own meta
# key so the chain walk never mistakes one for a source-version
# watermark. ``_META_APPLIED_CL`` is the SOURCE-VERSION-space watermark
# — the only one ``_chain_changelog`` honors — and ``refresh_mv``
# refuses an MV whose claimed source-version watermark is ahead of the
# source head (provably foreign; applied without ``id_space="foreign"``).
_META_APPLIED_FOREIGN_CL = "applied_foreign_changelog_id"


def _fold_changelog(
    spec: MVSpec,
    stored: DataFrame | None,
    changelog: DataFrame,
    weight_col: str,
    source: DataFrame | None,
) -> tuple[DataFrame | None, int, list[DataFrame]]:
    """The one weighted-fold engine shared by ``apply_changelog_mv``
    (caller-supplied changelogs) and ``refresh_mv``'s chain walk
    (persisted merge changelogs + append links as +1 images): fold
    ``changelog`` into ``stored`` (``None`` = first build — the
    changelog IS the state so far) and return ``(merged, n_dirty,
    caches)``. ``merged`` is ``None`` when the changelog's delta is
    empty (nothing to fold — callers no-op instead of committing an
    identical version). ``caches`` are persisted DataFrames the plan
    references; the CALLER unpersists them AFTER its publish executed
    (an earlier unpersist would recompute the dirty subtree inside the
    write it was cached for).

    Min/max measures fold from INSERT images exactly (an insert can
    only improve an extremum); deletes that tie a bound invalidate it —
    those groups, and only those, are re-aggregated from ``source``
    (the POST-change table). Why merged bounds are exactly right: a
    group's deleted values are within [min, max] by membership — a
    stored row's value lies within the stored bounds and an in-batch
    inserted row's value within the delta's insert bounds, both folded
    into merged — so a non-tying delete leaves both bounds true, while
    a tie on EITHER origin (including a row inserted and deleted within
    one batch) is caught. NULL images never tie (min/max ignore NULLs).
    Groups whose count-refcount falls to zero leave the view."""
    extrema = tuple(m for m in spec.measures if m.kind in ("min", "max"))
    delta = changelog_partial(
        spec, changelog, weight_col, allow_extrema=bool(extrema)
    ).persist()
    caches: list[DataFrame] = [delta]
    if delta.limit(1).count() == 0:
        return None, 0, caches
    merged = spec.merge(stored, delta) if stored is not None else delta
    n_dirty = 0
    if extrema:
        dels = changelog.filter(F.col(weight_col) < 0).select(
            *spec.group_keys,
            *[F.expr(m.expr).alias(f"__v_{m.name}") for m in extrema],
        )
        bounds = merged.select(
            *spec.group_keys, *[m.name for m in extrema]
        )
        tie = None
        for m in extrema:
            c = F.col(f"__v_{m.name}") == F.col(m.name)
            tie = c if tie is None else (tie | c)
        dirty = (
            dels.join(bounds, on=list(spec.group_keys))
            .filter(tie)
            .select(*spec.group_keys)
            .distinct()
            .persist()
        )
        caches.append(dirty)
        n_dirty = dirty.count()
        if n_dirty:
            # Re-aggregate ONLY the dirty groups from the post-change
            # source — exact for every measure — and replace their
            # merged rows wholesale. The dirty set is broadcast-small
            # by construction (the handful of groups whose champion
            # left, never the table).
            recomputed = spec.partial(
                source.join(
                    F.broadcast(dirty),
                    on=list(spec.group_keys),
                    how="left_semi",
                )
            )
            merged = merged.join(
                F.broadcast(dirty),
                on=list(spec.group_keys),
                how="left_anti",
            ).unionByName(recomputed)
    refcount = next(m.name for m in spec.measures if m.kind == "count")
    return merged.filter(F.col(refcount) > 0), n_dirty, caches


def apply_changelog_mv(
    spark: SparkSession,
    mv_path: str,
    changelog: DataFrame,
    spec: MVSpec,
    weight_col: str = "__w",
    source: DataFrame | None = None,
    key_cols: tuple[str, ...] = (),
    changelog_id: int | None = None,
    id_space: str = "source_version",
) -> int:
    """Maintain the MV at ``mv_path`` from a ROW-LEVEL changelog — the
    Delta-CDF-style alternative to ``refresh_mv``'s file-level deltas
    for sources that UPDATE and DELETE in place (MERGE targets, SCD
    tables): file containment breaks on every such commit, so the
    file-level path would full-recompute each time, while a changelog
    (derived by q97/q100's snapshot diff, or emitted by the writer)
    folds in O(changelog + |MV|). Inserts add, deletes subtract, an
    update is its two images; groups whose count-refcount falls to zero
    leave the view (bit-parity with a direct recompute, which has no
    such group).

    Count/sum measures fold purely from the changelog. Min/max measures
    additionally need ``source`` (the POST-change table): an insert can
    only improve an extremum (folded exactly from the insert images),
    but deleting a row that TIES an extremum invalidates it — those
    groups, and only those, are re-aggregated from ``source`` (semi
    join on group key + extremum tie; at 100 TB the dirty set is the
    handful of groups whose champion left, never the table). The tie is
    probed against the MERGED bounds (stored ⊕ this batch's inserts),
    not the stored bounds alone: a row inserted and deleted within ONE
    batch ties only the delta's bound, and a stored-only probe would
    leave the MV carrying an extremum for a value absent from the
    source. Without ``source``, min/max refuse loudly (``_invertible``)
    with ``refresh_mv``'s full recompute as the documented path.

    Replay protection: pass ``changelog_id`` (a monotonically
    increasing batch/version id) and the MV stores it in commit meta —
    a re-run with the same or an older id is a NO-OP, so a driver retry
    after a crash between publish and progress recording (or a
    scheduler double-fire) cannot double-apply weights. WITHOUT an id,
    replay protection is the CALLER's responsibility — the manifest
    commit is crash-safe (a torn write never corrupts the prior
    version) but says nothing about applying the same changelog twice.

    ``id_space`` declares WHICH space ``changelog_id`` lives in, and the
    two spaces keep separate watermarks: ``"source_version"`` (default)
    means ids are the source manifest table's versions — the convention
    that lets ``refresh_mv``'s chain walk skip a pushed merge changelog
    instead of double-folding it. ``"foreign"`` means ids come from
    anywhere else (a queue offset, a run id); they guard replays in
    their own meta key and the chain walk never consults them. Ids from
    the two spaces never compare against each other — a foreign id 9 on
    an MV whose source sits at version 2 must not make a later push of
    the REAL merge-at-version-3 changelog no-op (nor make ``refresh_mv``
    silently skip unapplied links, which it now refuses instead).

    ``key_cols`` (the source's row-identity columns, when the changelog
    carries them) turns on the weight invariant: per-key weight sums
    must be in {-1, 0, 1} (delete / update / insert) — an update missing
    one of its two images is the classic silent MV-skew bug, caught
    here with the offending keys named. One extra O(changelog)
    aggregate; skipped when ``key_cols`` is empty.

    The commit is the same versioned-manifest protocol as every other
    MV write (crash-safe, time-travelable); meta records the mode.
    Returns the committed MV version."""
    if id_space not in ("source_version", "foreign"):
        raise ValueError(
            f"id_space must be 'source_version' or 'foreign', got "
            f"{id_space!r}"
        )
    guard_key = (
        _META_APPLIED_CL if id_space == "source_version"
        else _META_APPLIED_FOREIGN_CL
    )
    have = versions(spark, mv_path)
    # One read of the MV's head: its meta (guards, carried anchors) and
    # its files (the stored state) come from the same manifest.
    mv_m = (
        _read_manifest(spark, mv_path, current_version(spark, mv_path))
        if have
        else {}
    )
    mv_meta = mv_m.get("meta", {})
    prior_cl = mv_meta.get(guard_key)
    if (
        changelog_id is not None
        and prior_cl is not None
        and int(changelog_id) <= int(prior_cl)
    ):
        return have[-1]  # already applied — replay no-op
    extrema = tuple(m for m in spec.measures if m.kind in ("min", "max"))
    # Validate the spec BEFORE anything is persisted: changelog_partial
    # would raise the same errors later, but from inside the persisted
    # region — leaking the cached changelog for the session.
    _invertible(spec, with_source=source is not None)
    persisted = bool(extrema) or bool(key_cols)
    if persisted:
        # These paths read the changelog more than once (the invariant
        # aggregate, the weighted fold, the tying-delete probe); a
        # changelog that is itself an expensive derived plan (q97's
        # snapshot diff) would otherwise recompute per use — persist it
        # BEFORE the first evaluation.
        changelog = changelog.persist()
    if key_cols:
        # NULL weights are just as malformed as out-of-range sums (a
        # NULL __w row silently contributes to nothing) — and they must
        # be probed PER ROW: F.sum skips NULLs, so a key that also has
        # non-NULL weights would pass a sum-only test while its NULL
        # image vanished from every measure.
        bad = (
            changelog.groupBy(*key_cols)
            .agg(
                F.sum(F.col(weight_col)).alias("__ws"),
                (F.count(F.lit(1)) - F.count(F.col(weight_col))).alias(
                    "__nulls"
                ),
            )
            .filter(
                ~F.col("__ws").isin(-1, 0, 1)
                | F.col("__ws").isNull()
                | (F.col("__nulls") > 0)
            )
            .limit(5)
            .collect()
        )
        if bad:
            if persisted:
                changelog.unpersist()
            raise ValueError(
                "malformed changelog: per-key weight sums outside "
                "{-1,0,1} (an update missing one image, or NULL "
                f"weights?) — offending keys (first {len(bad)}): "
                + ", ".join(
                    str(tuple(r[k] for k in key_cols)) for r in bad
                )
            )
    # The fold itself is the shared engine (_fold_changelog): delta
    # aggregation, extremum handling via insert images + the tying-
    # delete dirty-group recompute, and the refcount retirement filter.
    stored = _read_files_live(spark, mv_m) if have else None
    caches: list[DataFrame] = []
    try:
        merged, n_dirty, caches = _fold_changelog(
            spec, stored, changelog, weight_col, source
        )
        if merged is None:
            # An empty changelog merges nothing — publishing would
            # commit an identical MV version on every idle cycle (the
            # streaming driver's empty-batch guard, same reasoning).
            return have[-1] if have else 0
        meta = {_META_MODE: "changelog", "n_dirty_groups": n_dirty}
        # Symmetric watermark carry: applying a changelog does not move
        # the SOURCE, so refresh_mv's applied-version anchor (and its
        # file-list md5) stays true — dropping it would force the next
        # scheduled refresh into a full recompute, and with a persisted
        # merge changelog in the chain it is exactly the already-
        # applied link the version-watermark skip then avoids
        # re-folding (push and pull interleave on one MV).
        #
        # EXCEPT when this fold's tying-delete recompute ran (n_dirty >
        # 0): the dirty groups were re-aggregated from the LIVE
        # ``source``, which may sit AHEAD of the anchor (append commits
        # the MV never refreshed) — their rows are then already baked
        # into the recomputed groups, yet the carried anchor tells the
        # next refresh_mv to fold those same appends as +1 images again:
        # double-counted n/sum for every dirty group, committed in
        # 'changelog' mode and never self-healing. Dropping the anchor
        # forces that next refresh full — the source-consulting path is
        # rare (tying deletes on min/max MVs only), and a full recompute
        # is always exact.
        if n_dirty == 0:
            for k in (_META_KEY, _META_FILES_MD5):
                if k in mv_meta:
                    meta[k] = mv_meta[k]
        if changelog_id is not None:
            meta[guard_key] = int(changelog_id)
        elif prior_cl is not None:
            # An id-less apply must not ERASE the replay watermark — a
            # later retry of an already-applied id would then sail
            # through the guard and double-apply (meta is per-commit,
            # so carrying forward is this writer's job).
            meta[guard_key] = int(prior_cl)
        # The OTHER space's watermark is carried untouched — each space
        # guards its own replays, and erasing one while advancing the
        # other reopens the double-apply it existed to block.
        other_key = (
            _META_APPLIED_FOREIGN_CL if guard_key == _META_APPLIED_CL
            else _META_APPLIED_CL
        )
        if other_key in mv_meta:
            meta[other_key] = int(mv_meta[other_key])
        return publish_version(merged, mv_path, meta=meta)
    finally:
        # Unpersist AFTER publish_version's write executed the plans
        # that reference these (an earlier unpersist would recompute
        # the dirty subtree inside the write it was cached for).
        for c in caches:
            c.unpersist()
        if persisted:
            changelog.unpersist()

"""Registry mapping query names to (Spark builder, DuckDB oracle SQL).

Each declared operator from SURVEY.md §2 registers one ``QuerySpec``:

- ``builder(spark, sf_dir) -> DataFrame`` — the Spark-first implementation.
- ``oracle`` — equivalent ANSI SQL for DuckDB over the same parquet tables
  (pre-registered views), or ``None`` for genuinely non-SQL-expressible ops
  (the driver then records a weaker rows-only check).

Column names are part of the contract: the correctness driver sorts columns
by NAME before hashing, so builders and oracles must alias every computed
column identically.
"""

from __future__ import annotations

import json
import re
from collections.abc import Callable, Iterable, Mapping
from dataclasses import dataclass, replace
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

Builder = Callable[[SparkSession, str], DataFrame]

_REGISTRY: dict[str, "QuerySpec"] = {}


@dataclass(frozen=True)
class QuerySpec:
    name: str
    builder: Builder
    oracle: str | None
    category: str
    doc: str
    bench: bool = False  # include in bench.py headline set


def register(
    name: str,
    *,
    oracle: str | Callable[[], str] | None = None,
    category: str,
    doc: str = "",
    bench: bool = False,
) -> Callable[[Builder], Builder]:
    """Decorator: register a query builder under ``name``.

    ``oracle`` may be a zero-arg callable for oracles composed from OTHER
    registered specs (resolved lazily on first registry access) — building
    such text at decoration time would race module import order: a direct
    import of one operator module re-enters ``plans/__init__`` while that
    module is still partially initialized.
    """

    def wrap(fn: Builder) -> Builder:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        _REGISTRY[name] = QuerySpec(
            name=name,
            builder=fn,
            oracle=oracle.strip() if isinstance(oracle, str) else oracle,
            category=category,
            doc=doc or (fn.__doc__ or "").strip(),
            bench=bench,
        )
        return fn

    return wrap


def _resolve(name: str) -> "QuerySpec":
    spec = _REGISTRY[name]
    if callable(spec.oracle):
        spec = replace(spec, oracle=spec.oracle().strip())
        _REGISTRY[name] = spec
    return spec


# The correctness driver verifies queries in dict-iteration order and only
# reaches ~50 per round, so ``queries_map`` orders names by verification
# urgency, derived from the driver's committed verdicts
# (``CORRECTNESS_r<N>.json`` at the repository root): names whose latest
# verdict was not green first, then green names in ``_MODIFIED_SINCE_VERDICT``
# (a stale verdict is no verdict), then never-checked names, then greens
# stalest-first. Over consecutive rounds every query re-earns a driver row.
_REPO_ROOT = Path(__file__).resolve().parents[2]
_VERDICT_FILE = re.compile(r"CORRECTNESS_r(\d+)\.json")
_GREEN_KEYS = ("rows_match", "schema_match", "hash_match")

# The one hand-kept input: queries whose plan changed after their last green.
_MODIFIED_SINCE_VERDICT: tuple[str, ...] = (
    "p03_curation_report",  # curation_stages as one relation; embeds d04 and d10 (JVM shingles)
    "p04_surgical_curation_report",  # its plan changes through curation_stages and the JVM shingler
    "p05_corpus_datacard",  # embeds d10, whose shingles are now a JVM expression
    "p07_ccnet_curation_report",  # embeds d25 + perplexity_scored, rewritten r14
    "g05_dup_graph_kcore",  # builds its graph from d04's pairs, rewritten r14, now JVM-shingled
    "p01_quality_report",  # its columns_present row is a LocalRelation, not a Python RDD
    "p06_constrained_curation_report",  # tokenizes on WORD_SPLIT (RE2's whitespace)
    "d02_exact_dedup_fingerprint",  # fingerprint splits on WORD_SPLIT, not Java's \s
    "d05_simhash_pairs",  # tokenizes on WORD_SPLIT
    "d09_incremental_dedup",  # fingerprint splits on WORD_SPLIT
    "d11_chunk_containment",  # tokenizes on WORD_SPLIT
    "d16_top_repeated_chunks",  # tokenizes on WORD_SPLIT
    "d19_span_contamination",  # tokenizes on WORD_SPLIT
    "d21_cdc_chunk_dedup",  # tokenizes on WORD_SPLIT
    "d25_repeated_span_removal",  # tokenizes on WORD_SPLIT
    "d26_span_excision_apply",  # tokenizes on WORD_SPLIT
    "d28_incremental_gram_index",  # tokenizes on WORD_SPLIT
    "d03_ngram_jaccard_pairs",  # shingles are a split/arrays_zip/explode expression, no mapInPandas
    "d04_minhash_lsh_pairs",  # shingles are a JVM expression
    "d07_ml_minhash_lsh",  # one lazy row: a full outer join of d03's and the ML pair sets
    "d10_contamination_check",  # 5-gram shingles are a JVM expression
    "d13_shingle_novelty",  # shingles are a JVM expression
    "d14_minhash_accuracy_audit",  # verifies through _jaccard_on_pairs; JVM shingles
    "d15_cross_source_duplication",  # shingles are a JVM expression
    "d18_threshold_sensitivity",  # reads d03's posting-list Jaccard; JVM shingles
    "d22_lsh_recall_audit",  # embeds d03 and d04, both JVM-shingled
    "d23_incremental_lsh_probe",  # distinct before the least/greatest order; JVM shingles
    "q132_persisted_changelog_refresh",  # its COW merge/append commits take the writer's schema
    "q133_mor_delete_scan",  # reads equality sidecars by their recorded schema
    "q134_mor_position_delete",  # reads position sidecars by the fixed (__pf, __pr) schema
    "q135_streaming_cdc_upsert_mv",  # its streamed merge commits take the writer's schema
    "q136_mor_upsert_merge",  # reads the upsert's equality sidecar by its recorded schema
    "p02_hicp_mom_yoy",  # its payload is a LocalTableScan through the JVM JSON-stat decoder
    "q113_merge_upsert",  # publishes and merges through the manifest writers, reads read_version
    "q124_streaming_mv_maintenance",  # MV state has no applied_batch column; final_batch from meta
)


def _load_verdicts(root: Path) -> list[dict[str, dict]]:
    """Every ``CORRECTNESS_r<N>.json`` under ``root``, oldest round first.
    These are outside input: a malformed file raises, it is never skipped."""
    found = sorted(
        (int(m.group(1)), path)
        for path in root.iterdir()
        if (m := _VERDICT_FILE.fullmatch(path.name))
    )
    rounds = [json.loads(path.read_text()) for _, path in found]
    for (_, path), verdicts in zip(found, rounds):
        if not isinstance(verdicts, dict) or not all(
            isinstance(v, dict) for v in verdicts.values()
        ):
            raise ValueError(f"{path}: expected an object of per-query objects")
    return rounds


def _order_from_verdicts(
    names: Iterable[str], rounds: Iterable[Mapping], modified: Iterable[str]
) -> list[str]:
    """Verification order of ``names`` (registration order) from each
    round's ``{name: verdict}`` dict, oldest round first."""
    names = list(names)
    latest: dict[str, int | None] = {}  # freshest green round; None = failed
    for i, verdicts in enumerate(rounds):
        for name, v in verdicts.items():
            latest[name] = i if all(v.get(k) is True for k in _GREEN_KEYS) else None
    failed = [n for n in names if n in latest and latest[n] is None]
    stale = [n for n in modified if n in names and latest.get(n) is not None]
    never = [n for n in names if n not in latest]
    greens = [n for n in names if latest.get(n) is not None and n not in stale]
    return failed + stale + never + sorted(greens, key=latest.__getitem__)


def _driver_order() -> list[str]:
    rounds = _load_verdicts(_REPO_ROOT)
    return _order_from_verdicts(_REGISTRY, rounds, _MODIFIED_SINCE_VERDICT)


def all_specs() -> dict[str, QuerySpec]:
    return {name: _resolve(name) for name in _REGISTRY}


def queries_map() -> dict[str, Builder]:
    return {name: _REGISTRY[name].builder for name in _driver_order()}


def oracle_sql_map() -> dict[str, str]:
    specs = [_resolve(name) for name in _driver_order()]
    return {spec.name: spec.oracle for spec in specs if spec.oracle}

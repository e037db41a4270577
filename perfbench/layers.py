"""Which engine functions the traced run wraps, and how its spans become
the per-layer metrics.

``install`` replaces, on the engine's modules, the attributes callers
resolve at call time (for example ``run_hicp.silver_transform``); the
benchmark removes the wrappers again after each traced iteration.
``per_layer_metrics`` turns the spans of the traced iterations into one
value per metric in ``PER_LAYER``: the median over traced iterations of
the per-iteration total. A metric whose layer the workload never calls
reads 0.
"""

from __future__ import annotations

import dataclasses
import linecache
import os
import statistics
import sys
from collections import defaultdict
from typing import Any

from spans import Span, Tracer, inclusive, self_times

from european_public_data_pipeline_spark import plans
from european_public_data_pipeline_spark.pipeline import curate, manifest, run_hicp
from european_public_data_pipeline_spark.quality import checks

# Modules the query pass runs (workloads.HEADLINE), and the ones only
# curate_corpus reaches, whose spans cover its builder calls and so run no
# Spark job of their own.
QUERY_MODULES = ("relational", "similarity", "sketches", "event_windows", "reshape")
CURATE_MODULES = ("dedup", "text")

# Which curate_corpus step a Spark action belongs to, by a fragment of the
# source line that calls it; any other action in curate_corpus is the
# split-and-write step.
CURATE_STEPS = (
    ('docs.count()', "scan"),
    ('stages["quality"]', "quality"),
    ('stages["exact_dedup"]', "exact_dedup"),
    ('stages["near_dedup"]', "near_dedup"),
    ("stage4.count()", "decontam"),
)
CURATE_SPANS = ("scan", "quality", "exact_dedup", "near_dedup", "decontam", "write")

# (metric, unit): every traced run reports all of them.
PER_LAYER: list[tuple[str, str]] = [
    ("session.get_spark.self_s", "s"),
    ("eurostat.bronze_ingest.self_s", "s"),
    ("eurostat.bronze_ingest.bytes_landed", "B"),
    ("eurostat.latest_payload_per_partition.self_s", "s"),
    ("run_hicp.silver_transform.self_s", "s"),
    ("run_hicp.silver_transform.tasks", "count"),
    ("run_hicp.silver_transform.slot_util", "ratio"),
    ("run_hicp.silver_transform.input_bytes", "B"),
    ("jsonstat.parse_amp", "ratio"),
    ("silver_io.write_partitioned.output_bytes", "B"),
    ("checks.to_dataframe.self_s", "s"),
    ("checks.gate.self_s", "s"),
    ("checks.gate.jobs", "count"),
    ("gold.load_gold.self_s", "s"),
    ("gold.load_gold.output_bytes", "B"),
    *[(f"curate.{step}.self_s", "s") for step in CURATE_SPANS],
    ("curate.shuffle_write_bytes", "B"),
    ("curate.python_rows_out", "count"),
    ("curate.spill_bytes", "B"),
    ("curate.slot_util", "ratio"),
    *[
        (f"operators.{m}.{k}", u)
        for m in QUERY_MODULES
        for k, u in (("self_s", "s"), ("stages", "count"))
    ],
    *[(f"operators.{m}.self_s", "s") for m in CURATE_MODULES],
    ("headline.tasks", "count"),
    ("headline.slot_util", "ratio"),
    ("manifest.append_version.self_s", "s"),
    ("manifest.append_version.output_bytes", "B"),
    ("manifest.compact.self_s", "s"),
    ("manifest.compact.output_bytes", "B"),
    ("manifest.read_where.self_s", "s"),
    ("manifest.read_where.files_kept_frac", "ratio"),
    ("manifest.read_version.self_s", "s"),
    ("cow_merge.merge_into_manifest.self_s", "s"),
    ("cow_merge.merge_into_manifest.files_rewritten", "count"),
    ("cow_merge.merge_into_manifest.output_bytes", "B"),
    ("cow_merge.merge_into_manifest.rewrite_eff", "ratio"),
    ("mor_delete.delete_rows_mor.self_s", "s"),
    ("mor_delete.delete_rows_mor.files_scanned", "count"),
    ("workload.write_amp", "ratio"),
    ("workload.space_amp", "ratio"),
    ("trace.wall_s", "s"),
    ("trace.bookkeeping_s", "s"),
]


def _landed_bytes(span: Span | None, paths: list[str]) -> None:
    if span is not None:
        span.attrs["bytes_landed"] = sum(os.path.getsize(p) for p in paths)


def _kept_frac(span: Span | None, out: tuple[list[str], int]) -> None:
    keep, total = out
    if span is not None and total:
        span.attrs["files_kept_frac"] = len(keep) / total


def install(tracer: Tracer) -> None:
    """Wrap every traced engine function (undone by ``unpatch_all``)."""
    p = tracer.patch
    p(run_hicp, "bronze_ingest", "eurostat.bronze_ingest", _landed_bytes, spark_jobs=False)
    p(run_hicp, "latest_payload_per_partition", "eurostat.latest_payload_per_partition", spark_jobs=False)
    p(run_hicp, "silver_transform", "run_hicp.silver_transform")
    p(run_hicp, "read_jsonstat_files", "jsonstat.read_jsonstat_files")
    p(run_hicp, "write_partitioned", "silver_io.write_partitioned")
    p(checks.CheckSuite, "to_dataframe", "checks.to_dataframe")
    p(run_hicp, "gate", "checks.gate")
    p(run_hicp, "load_gold", "gold.load_gold")
    p(curate, "curation_stages", "curate.curation_stages")
    p(manifest, "prune_files", None, _kept_frac)

    curate_code = curate.curate_corpus.__code__

    def curate_step(*args: Any, **kwargs: Any) -> str | None:
        # Caller of the wrapped action: two frames above this function.
        f = sys._getframe(2)
        if f.f_code is not curate_code:
            return None
        line = linecache.getline(f.f_code.co_filename, f.f_lineno)
        step = next((s for key, s in CURATE_STEPS if key in line), "write")
        return f"curate.{step}"

    # The session's concrete DataFrame and writer classes (a subclass of
    # pyspark.sql.DataFrame that defines its own actions).
    df = tracer.spark.range(0)
    p(type(df), "count", curate_step)
    p(type(df), "collect", curate_step)
    p(type(df.write), "parquet", curate_step)

    all_specs = plans.all_specs

    def traced_specs() -> dict:
        # Builders fetched through the registry (curate's composed stages)
        # run inside a span named after their operator module.
        out = {}
        for name, spec in all_specs().items():
            layer = "operators." + spec.builder.__module__.rsplit(".", 1)[-1]
            out[name] = dataclasses.replace(spec, builder=tracer.wrap(spec.builder, layer))
        return out

    tracer.replace(plans, "all_specs", traced_specs)


def per_layer_metrics(
    spans: list[Span], traced: list[dict[str, Any]], cores: int
) -> dict[str, float]:
    """Per-layer metric values from the spans; ``traced`` holds the traced
    iterations' records (``iteration`` and the workload's facts)."""
    selfs = self_times(spans)
    incl = inclusive(spans)
    by_iter: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for s in spans:
        acc = by_iter[s.iteration]
        acc[f"{s.name}.self_s"] += selfs[s.id]
        acc[f"{s.name}.dur"] += s.duration
        for k, v in incl[s.id].items():
            acc[f"{s.name}.{k}"] += v
        for k, v in s.attrs.items():
            acc[f"{s.name}.{k}"] += v
            acc[f"{s.name}.n_{k}"] += 1

    def util(acc: dict[str, float], name: str) -> float:
        d = acc[f"{name}.dur"]
        return acc[f"{name}.run_ms"] / 1000 / (d * cores) if d else 0.0

    def mean_attr(acc: dict[str, float], name: str, attr: str) -> float:
        n = acc[f"{name}.n_{attr}"]
        return acc[f"{name}.{attr}"] / n if n else 0.0

    rows = []
    for rec in traced:
        acc = by_iter[rec["iteration"]]
        v: dict[str, float] = {}
        for m, _unit in PER_LAYER:
            if m.endswith(".self_s") or m.endswith(".output_bytes") or m.endswith(".tasks"):
                v[m] = acc[m]
        st = "run_hicp.silver_transform"
        v[f"{st}.slot_util"] = util(acc, st)
        v[f"{st}.input_bytes"] = acc[f"{st}.input_bytes"]
        v["eurostat.bronze_ingest.bytes_landed"] = acc["eurostat.bronze_ingest.bytes_landed"]
        rows_out = rec.get("silver_rows", 0)
        v["jsonstat.parse_amp"] = acc[f"{st}.python_rows_out"] / rows_out if rows_out else 0.0
        v["checks.gate.jobs"] = acc["checks.gate.jobs"]
        cc = "curate.curate_corpus"
        v["curate.shuffle_write_bytes"] = acc[f"{cc}.shuffle_write_bytes"]
        v["curate.python_rows_out"] = acc[f"{cc}.python_rows_out"]
        v["curate.spill_bytes"] = acc[f"{cc}.spill_bytes"]
        v["curate.slot_util"] = util(acc, cc)
        for mod in QUERY_MODULES:
            v[f"operators.{mod}.stages"] = acc[f"operators.{mod}.stages"]
        v["headline.tasks"] = acc["headline.pass.tasks"]
        v["headline.slot_util"] = util(acc, "headline.pass")
        v["manifest.read_where.files_kept_frac"] = mean_attr(acc, "manifest.read_where", "files_kept_frac")
        cm = "cow_merge.merge_into_manifest"
        v[f"{cm}.files_rewritten"] = acc[f"{cm}.files_rewritten"]
        rows_written = acc[f"{cm}.output_records"]
        v[f"{cm}.rewrite_eff"] = acc[f"{cm}.rows_matched"] / rows_written if rows_written else 0.0
        md = "mor_delete.delete_rows_mor"
        v[f"{md}.files_scanned"] = acc[f"{md}.files_scanned"]
        v["workload.write_amp"] = rec.get("write_amp", 0.0)
        v["workload.space_amp"] = rec.get("space_amp", 0.0)
        rows.append(v)
    out = {
        m: (statistics.median(r[m] for r in rows) if rows else 0.0)
        for m, _unit in PER_LAYER
        if not m.startswith(("trace.", "session."))
    }
    out["session.get_spark.self_s"] = by_iter[0]["session.get_spark.self_s"]
    return out

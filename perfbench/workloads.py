"""The workloads, each driving the engine through its public entry
points.

A workload generates its inputs (``generate``), may prepare untimed state
before an iteration (``prepare``), runs one timed iteration (``run``),
checks that iteration's outputs (``check``, untimed, returns the problems
found) and removes what the iteration left behind (``cleanup``).
``facts`` reports, after the check, the bytes the iteration wrote and
anything else the metrics divide by.

All the work of ``run`` happens inside named steps (``step``): one per
engine call or query. ``steps`` holds their seconds for the last
iteration, so a run can take each step's median over its iterations.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from collections.abc import Iterator
from contextlib import contextmanager
from dataclasses import dataclass
from typing import Any

from pyspark.sql import Observation
from pyspark.sql import functions as F

import gen
from spans import Tracer

from european_public_data_pipeline_spark import plans
from european_public_data_pipeline_spark.pipeline import cow_merge, curate, manifest, mor_delete, run_hicp


@dataclass(frozen=True)
class Scale:
    """Input sizes of every workload at one scale."""

    hicp_geo: int
    hicp_coicop: int
    hicp_months: int
    hicp_missing: float
    corpus_docs: int
    corpus_near_dup: float
    orders_rows: int
    orders_files: int
    append_batches: int
    append_rows: int
    update_rows: int
    delete_rows: int
    star: gen.StarSize


SCALES = {
    "default": Scale(
        hicp_geo=8,
        hicp_coicop=8,
        hicp_months=96,
        hicp_missing=0.05,
        corpus_docs=400,
        corpus_near_dup=0.1,
        orders_rows=100_000,
        orders_files=4,
        append_batches=1,
        append_rows=10_000,
        update_rows=5_000,
        delete_rows=300,
        star=gen.StarSize(
            customers=1500, suppliers=100, parts=2000, orders=15_000,
            events=10_000, users=150, documents=500, embeddings=500,
        ),
    ),
    # Seconds-long smoke size for the harness's own tests.
    "tiny": Scale(
        hicp_geo=3,
        hicp_coicop=2,
        hicp_months=24,
        hicp_missing=0.1,
        corpus_docs=120,
        corpus_near_dup=0.1,
        orders_rows=3000,
        orders_files=4,
        append_batches=2,
        append_rows=200,
        update_rows=100,
        delete_rows=20,
        star=gen.StarSize(
            customers=150, suppliers=10, parts=200, orders=1500,
            events=1000, users=20, documents=100, embeddings=60,
        ),
    ),
}


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Workload:
    name = ""

    def __init__(self, spark: Any, work_dir: str, seed: int, scale: Scale, tracer: Tracer) -> None:
        self.spark = spark
        self.work = work_dir
        self.seed = seed
        self.scale = scale
        self.tracer = tracer
        self.input_bytes = 0
        self.steps: dict[str, float] = {}

    @contextmanager
    def step(self, name: str) -> Iterator[None]:
        """Time one step of ``run`` into ``steps``."""
        t = time.perf_counter()
        try:
            yield
        finally:
            self.steps[name] = self.steps.get(name, 0.0) + time.perf_counter() - t

    def generate(self, gen_dir: str) -> None:
        raise NotImplementedError

    def prepare(self, i: int) -> None:
        """Untimed per-iteration state (default: none)."""

    def run(self, i: int) -> Any:
        raise NotImplementedError

    def check(self, i: int, out: Any) -> list[str]:
        raise NotImplementedError

    def facts(self, i: int, out: Any) -> dict[str, float]:
        """{"bytes_written": ...} plus workload-specific facts."""
        return {"bytes_written": 0}

    def cleanup(self, i: int, out: Any) -> None:
        self.spark.catalog.clearCache()


class HicpMedallion(Workload):
    """One ``run_hicp.run_pipeline`` per iteration, fresh root and gold
    table each time, series served by an in-process transport."""

    name = "hicp_medallion"

    def generate(self, gen_dir: str) -> None:
        s = self.scale
        self.cube = gen.hicp_cube(self.seed, s.hicp_geo, s.hicp_coicop, s.hicp_months, s.hicp_missing)
        self.input_bytes = self.cube.input_bytes

    def _root(self, i: int) -> str:
        return os.path.join(self.work, "hicp", f"it{i}")

    def run(self, i: int) -> Any:
        root = self._root(i)
        with self.step("run_pipeline"), self.tracer.span("run_hicp.run_pipeline"):
            return run_hicp.run_pipeline(
                self.spark,
                root=root,
                dataset="prc_hicp_midx",
                series=self.cube.series,
                gold_table=f"perfbench_gold_{i}",
                transport=self.cube.transport,
                gold_location=os.path.join(root, "gold"),
            )

    def check(self, i: int, out: Any) -> list[str]:
        c = self.cube
        row = self.spark.sql(
            "SELECT COUNT(*) AS n, COUNT(*) - COUNT(value) AS nulls, "
            "SUM(CAST(ROUND(value * 10) AS BIGINT)) AS checksum "
            f"FROM perfbench_gold_{i}"
        ).first()
        problems = []
        if row["n"] != c.n_obs or out.gold_rows != c.n_obs:
            problems.append(f"gold rows {row['n']}/{out.gold_rows} != {c.n_obs}")
        if row["nulls"] != c.n_missing:
            problems.append(f"gold NULLs {row['nulls']} != {c.n_missing}")
        if row["checksum"] != c.checksum:
            problems.append(f"value checksum {row['checksum']} != {c.checksum}")
        failed = [r["check"] for r in out.checks.collect() if not r["passed"]]
        if failed:
            problems.append(f"quality checks failed: {failed}")
        return problems

    def facts(self, i: int, out: Any) -> dict[str, float]:
        return {"bytes_written": gen.tree_bytes(self._root(i)), "silver_rows": out.silver_rows}

    def cleanup(self, i: int, out: Any) -> None:
        self.spark.sql(f"DROP TABLE IF EXISTS perfbench_gold_{i}")
        shutil.rmtree(self._root(i), ignore_errors=True)
        super().cleanup(i, out)


class LlmCuration(Workload):
    """One ``curate.curate_corpus`` per iteration over a seeded corpus with
    a set share of near-copies."""

    name = "llm_curation"

    def generate(self, gen_dir: str) -> None:
        self.sf_dir = os.path.join(gen_dir, "corpus")
        gen.write_corpus(self.sf_dir, self.seed, self.scale.corpus_docs, self.scale.corpus_near_dup)
        self.input_bytes = gen.tree_bytes(self.sf_dir)
        self.report: dict[str, int] | None = None

    def _out(self, i: int) -> str:
        return os.path.join(self.work, "curate", f"it{i}")

    def run(self, i: int) -> Any:
        with self.step("curate_corpus"), self.tracer.span("curate.curate_corpus"):
            return curate.curate_corpus(self.spark, self.sf_dir, self._out(i))

    def check(self, i: int, out: dict[str, int]) -> list[str]:
        problems = []
        if self.report is None:
            self.report = out
        elif out != self.report:
            problems.append(f"report {out} differs from first {self.report}")
        chain = [
            out["n_raw"],
            out["n_after_quality"],
            out["n_after_exact_dedup"],
            out["n_after_near_dedup"],
            out["n_after_decontam"],
        ]
        if out["n_raw"] != self.scale.corpus_docs:
            problems.append(f"n_raw {out['n_raw']} != {self.scale.corpus_docs}")
        if any(b > a for a, b in zip(chain, chain[1:])):
            problems.append(f"stage counts increase: {chain}")
        splits = sum(out.get(k, 0) for k in ("n_train", "n_val", "n_test"))
        if splits != out["n_after_decontam"]:
            problems.append(f"splits sum {splits} != {out['n_after_decontam']}")
        return problems

    def facts(self, i: int, out: Any) -> dict[str, float]:
        return {"bytes_written": gen.tree_bytes(self._out(i))}

    def cleanup(self, i: int, out: Any) -> None:
        shutil.rmtree(self._out(i), ignore_errors=True)
        super().cleanup(i, out)


class LakehouseCycle(Workload):
    """A range-clustered manifest table built once, then one commit cycle
    per iteration: appends, a range-confined MERGE, a merge-on-read delete,
    a pruned range read, a full read and a clustered compaction. Each
    cycle's batches are written before it starts (untimed)."""

    name = "lakehouse_cycle"
    KEY = "o_orderkey"

    def generate(self, gen_dir: str) -> None:
        s = self.scale
        self.inputs = gen.write_lakehouse(
            os.path.join(gen_dir, "lake"), self.seed, s.orders_rows, s.append_batches,
            s.append_rows, s.update_rows, s.delete_rows,
        )
        self.input_bytes = self.inputs.write_cycle(0).bytes
        self.table = os.path.join(self.work, "lake", "table")

    def prepare(self, i: int) -> None:
        if not os.path.exists(self.table):
            df = (
                self.spark.read.parquet(self.inputs.base)
                .repartitionByRange(self.scale.orders_files, self.KEY)
                .sortWithinPartitions(self.KEY)
            )
            manifest.publish_version(df, self.table, stats_cols=(self.KEY,))
        self.batch = self.inputs.write_cycle(i)
        self.bytes_before = gen.tree_bytes(self.table)

    def run(self, i: int) -> Any:
        sp, tp, t, x, b = self.spark, self.table, self.tracer, self.inputs, self.batch
        for n, path in enumerate(b.appends):
            with self.step(f"append{n}"), t.span("manifest.append_version"):
                manifest.append_version(sp.read.parquet(path), tp, stats_cols=(self.KEY,))
        with self.step("merge"), t.span("cow_merge.merge_into_manifest") as s:
            merged = cow_merge.merge_into_manifest(sp, tp, sp.read.parquet(b.updates), [self.KEY])
            if s is not None:
                s.attrs["files_rewritten"] = merged["files_rewritten"]
                s.attrs["rows_matched"] = merged["rows_matched"]
        with self.step("delete"), t.span("mor_delete.delete_rows_mor") as s:
            deleted = mor_delete.delete_rows_mor(sp, tp, sp.read.parquet(b.deletes), [self.KEY])
            if s is not None:
                s.attrs["files_scanned"] = deleted["files_scanned"]
        with self.step("read_where"), t.span("manifest.read_where"):
            _noop(manifest.read_where(sp, tp, self.KEY, *x.where_range))
        with self.step("read_version"), t.span("manifest.read_version"):
            _noop(manifest.read_version(sp, tp))
        with self.step("compact"), t.span("manifest.compact"):
            manifest.compact(sp, tp, target_files=self.scale.orders_files, cluster_by=self.KEY)
        return {"merged": merged, "deleted": deleted}

    def check(self, i: int, out: Any) -> list[str]:
        s, sp, tp, x = self.scale, self.spark, self.table, self.inputs
        lo, hi = x.where_range
        upd = sp.read.parquet(self.batch.updates).select(self.KEY, F.col("o_totalprice").alias("want"))
        # One pass over the head version: rows, stale merged prices, and
        # the rows a plain range filter keeps.
        n, stale, want = manifest.read_version(sp, tp).join(upd, self.KEY, "left").agg(
            F.count(F.lit(1)),
            F.count(F.when(F.col("o_totalprice") != F.col("want"), 1)),
            F.count(F.when(F.col(self.KEY).between(lo, hi), 1)),
        ).first()
        problems = []
        if n != x.head_rows(i):
            problems.append(f"head rows {n} != {x.head_rows(i)}")
        if out["deleted"]["rows_deleted"] != s.delete_rows:
            problems.append(f"deleted {out['deleted']['rows_deleted']} != {s.delete_rows}")
        if out["merged"]["rows_matched"] != s.update_rows:
            problems.append(f"merge matched {out['merged']['rows_matched']} != {s.update_rows}")
        if stale:
            problems.append(f"{stale} merged rows lack the updated price")
        got = manifest.read_where(sp, tp, self.KEY, lo, hi).count()
        if got != want:
            problems.append(f"read_where {got} != filtered read_version {want}")
        return problems

    def facts(self, i: int, out: Any) -> dict[str, float]:
        tp = self.table
        total = gen.tree_bytes(tp)
        with open(os.path.join(tp, "LATEST.json")) as f:
            v = json.load(f)["version"]
        with open(os.path.join(tp, "manifest", f"{v:08d}.json")) as f:
            live = json.load(f)["files"]
        live_bytes = sum(os.path.getsize(p.removeprefix("file:")) for p in live)
        return {"bytes_written": total - self.bytes_before, "space_amp": total / live_bytes}

    def cleanup(self, i: int, out: Any) -> None:
        shutil.rmtree(self.batch.dir, ignore_errors=True)
        super().cleanup(i, out)


# One ``bench=True`` query per operator module, the cheaper one where a
# module has several, so that a run fits three iterations. The dedup and
# text modules are left to ``curate_corpus``, which composes their
# ``bench=True`` builders (t02, d02, d04, d10); relational_ext and
# tpch_more, whose single queries (q26, q36) are joins and aggregates of
# the kind q01 already times, are left out.
HEADLINE = (
    "q01_pricing_summary",
    "s01_cosine_topk",
    "q79_cms_heavy_hitters",
    "q22_session_windows",
    "q31_asof_join",
)


class HeadlineQueries(Workload):
    """One pass over ``HEADLINE`` per iteration, each query run through the
    noop sink with ``clearCache()`` after it, as ``bench.py`` does."""

    name = "headline_queries"

    def generate(self, gen_dir: str) -> None:
        self.sf_dir = os.path.join(gen_dir, "sf")
        gen.write_star_schema(self.sf_dir, self.seed, self.scale.star)
        self.input_bytes = gen.tree_bytes(self.sf_dir)
        specs = plans.all_specs()
        self.specs = [specs[q] for q in HEADLINE]
        self.expected: dict[str, int] | None = None

    def run(self, i: int) -> dict[str, int]:
        counts = {}
        with self.tracer.span("headline.pass"):
            for spec in self.specs:
                layer = "operators." + spec.builder.__module__.rsplit(".", 1)[-1]
                with self.step(spec.name), self.tracer.span(layer):
                    obs = Observation()
                    df = spec.builder(self.spark, self.sf_dir)
                    _noop(df.observe(obs, F.count(F.lit(1)).alias("n")))
                    counts[spec.name] = obs.get["n"]
                    self.spark.catalog.clearCache()
        return counts

    def check(self, i: int, out: dict[str, int]) -> list[str]:
        if self.expected is None:
            self.expected = out
            return []
        return [
            f"{q}: {n} rows != {self.expected[q]}"
            for q, n in out.items()
            if n != self.expected[q]
        ]


class Sequence(Workload):
    """Its ``parts`` run back to back as one iteration, in one session, so
    they share the run's JVM start and warm-up."""

    parts: tuple[type[Workload], ...] = ()

    def __init__(self, *args: Any) -> None:
        super().__init__(*args)
        self.members = [p(*args) for p in self.parts]

    def generate(self, gen_dir: str) -> None:
        for m in self.members:
            m.generate(gen_dir)
        self.input_bytes = sum(m.input_bytes for m in self.members)

    def prepare(self, i: int) -> None:
        for m in self.members:
            m.prepare(i)

    def run(self, i: int) -> list[Any]:
        out = []
        for m in self.members:
            m.steps = {}
            try:
                out.append(m.run(i))
            finally:
                self.steps.update({f"{m.name}.{k}": v for k, v in m.steps.items()})
        return out

    def check(self, i: int, out: list[Any]) -> list[str]:
        return [msg for m, o in zip(self.members, out) for msg in m.check(i, o)]

    def facts(self, i: int, out: list[Any]) -> dict[str, float]:
        merged: dict[str, float] = {}
        for m, o in zip(self.members, out):
            for k, v in m.facts(i, o).items():
                merged[k] = merged.get(k, 0) + v
        return merged

    def cleanup(self, i: int, out: list[Any] | None) -> None:
        for m, o in zip(self.members, out or [None] * len(self.members)):
            m.cleanup(i, o)


class MedallionAndLakehouse(Sequence):
    """The write paths: the HICP medallion run, then the lakehouse commit
    cycle. No operator module, no curation."""

    name = "medallion_and_lakehouse"
    parts = (HicpMedallion, LakehouseCycle)


class HeadlineAndCuration(Sequence):
    """The operator paths: the headline query pass, then corpus curation.
    Both load the operator modules and the Python/Arrow boundary and write
    little; neither touches sources, silver, gold or the manifest."""

    name = "headline_and_curation"
    parts = (HeadlineQueries, LlmCuration)


WORKLOADS = {w.name: w for w in (MedallionAndLakehouse, HeadlineAndCuration)}

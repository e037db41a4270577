"""End-to-end corpus-curation pipeline: the composed guarantees.

Each stage is oracle-checked in isolation (t02/d02/d04/d10/sm05); these
tests pin what the COMPOSITION must guarantee: monotone shrinkage, no
duplicates or near-duplicates among survivors, no benchmark contamination,
deterministic re-runs, and a split-partitioned layout.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from european_public_data_pipeline_spark import plans
from european_public_data_pipeline_spark.pipeline.curate import (
    STAGES,
    curate_corpus,
    curation_stages,
)


def _curate_counting_actions(spark, sf_dir, out):
    """``curate_corpus`` with the session's concrete DataFrame ``count`` /
    ``collect`` and the writer's ``parquet`` spied on for the call."""
    calls = {"count": 0, "collect": 0, "parquet": 0}
    df = spark.range(0)
    spied = [(type(df), "count"), (type(df), "collect"), (type(df.write), "parquet")]
    with pytest.MonkeyPatch.context() as mp:
        for cls, name in spied:
            real = getattr(cls, name)

            def spy(*args, _real=real, _name=name, **kwargs):
                calls[_name] += 1
                return _real(*args, **kwargs)

            mp.setattr(cls, name, spy)
        stats = curate_corpus(spark, sf_dir, out)
    return stats, calls


@pytest.fixture(scope="module")
def curated(spark, sf_small, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("curated"))
    stats, calls = _curate_counting_actions(spark, sf_small, out)
    return out, stats, calls


def _read_back_splits(spark, out):
    docs = spark.read.parquet(f"{out}/documents.parquet")
    return {f"n_{r['split']}": r["count"] for r in docs.groupBy("split").count().collect()}


def test_curation_is_one_spark_action(curated):
    """The report is observed on the write: no stage count, no read-back."""
    _, _, calls = curated
    assert calls == {"count": 0, "collect": 0, "parquet": 1}


def test_report_equals_independent_recount(spark, sf_small, curated):
    out, stats, _ = curated
    stages = curation_stages(spark, sf_small)
    recount = {
        "n_raw": stages["docs"].count(),
        **{f"n_after_{s}": stages[s].count() for s in STAGES},
        **_read_back_splits(spark, out),
    }
    assert stats == recount


def test_empty_split_has_no_report_entry(spark, sf_small, curated, tmp_path):
    """Three curated train docs on their own: every gate keeps them (they
    are unique, pairwise dissimilar and no benchmark doc is left to
    contaminate them), so val and test are empty and absent."""
    out, _, _ = curated
    train = spark.read.parquet(f"{out}/documents.parquet").filter("split = 'train'")
    ids = [r["doc_id"] for r in train.orderBy("doc_id").limit(3).collect()]
    docs = spark.read.parquet(f"{sf_small}/documents.parquet")
    docs.filter(F.col("doc_id").isin(ids)).write.parquet(f"{tmp_path}/in/documents.parquet")

    stats = curate_corpus(spark, f"{tmp_path}/in", f"{tmp_path}/out")
    assert stats == {
        "n_raw": 3,
        **{f"n_after_{s}": 3 for s in STAGES},
        "n_train": 3,
    }
    assert _read_back_splits(spark, f"{tmp_path}/out") == {"n_train": 3}


def test_stages_shrink_monotonically(curated):
    _, s, _ = curated
    assert (
        s["n_raw"]
        >= s["n_after_quality"]
        >= s["n_after_exact_dedup"]
        >= s["n_after_near_dedup"]
        >= s["n_after_decontam"]
        > 0
    )
    assert s["n_train"] + s.get("n_val", 0) + s.get("n_test", 0) == s["n_after_decontam"]


def test_no_exact_duplicates_survive(spark, curated):
    out, _, _ = curated
    docs = spark.read.parquet(f"{out}/documents.parquet")
    norm = F.md5(F.array_join(F.split(F.trim(F.lower("text")), r"\s+"), " "))
    assert docs.count() == docs.select(norm.alias("fp")).distinct().count()


def test_no_near_duplicates_survive(spark, curated):
    out, _, _ = curated
    # Re-run the full MinHash+LSH detector over the CURATED corpus: every
    # verified >= 0.8 pair had its higher id dropped, so none may remain.
    pairs = plans.all_specs()["d04_minhash_lsh_pairs"].builder(spark, out)
    assert pairs.count() == 0


def test_no_benchmark_contamination_survives(spark, sf_small, curated):
    out, _, _ = curated
    flagged = (
        plans.all_specs()["d10_contamination_check"]
        .builder(spark, sf_small)
        .filter(F.col("contaminated"))
        .select("doc_id")
    )
    docs = spark.read.parquet(f"{out}/documents.parquet")
    assert docs.join(flagged, "doc_id", "left_semi").count() == 0


def test_rerun_is_deterministic(spark, sf_small, curated, tmp_path):
    _, first, _ = curated
    again = curate_corpus(spark, sf_small, str(tmp_path / "again"))
    assert again == first


def test_short_docs_survive_decontamination(spark, sf_small, tmp_path):
    """Docs with <5 words have zero 5-gram shingles and are absent from
    d10's output; the decontamination stage must RETAIN them (they cannot
    overlap the benchmark), not drop them via a semi join on d10 rows."""
    import hashlib

    def is_bench(doc_id: int) -> bool:
        return int(hashlib.md5(str(doc_id).encode()).hexdigest()[:7], 16) % 20 == 0

    short_id = next(i for i in range(1_000_000, 1_000_200) if not is_bench(i))
    base = spark.read.parquet(f"{sf_small}/documents.parquet").limit(50)
    short = spark.createDataFrame(
        [(short_id, "tiny four word doc", "en", "web", 18)], schema=base.schema
    )
    base.unionByName(short).write.parquet(f"{tmp_path}/documents.parquet")

    stages = curation_stages(spark, str(tmp_path), quality_min=-1.0)
    assert stages["decontam"].filter(F.col("doc_id") == short_id).count() == 1


def test_report_query_matches_pipeline_stats(spark, sf_small, curated):
    _, stats, _ = curated
    report = {
        r["stage"]: r["n"]
        for r in plans.all_specs()["p03_curation_report"]
        .builder(spark, sf_small)
        .collect()
    }
    assert report["1_raw"] == stats["n_raw"]
    assert report["2_quality"] == stats["n_after_quality"]
    assert report["3_exact_dedup"] == stats["n_after_exact_dedup"]
    assert report["4_near_dedup"] == stats["n_after_near_dedup"]
    assert report["5_decontam"] == stats["n_after_decontam"]
    assert report["6_split_train"] == stats["n_train"]


def test_surgical_chain_monotone_and_structural_recomposition(spark, sf_small):
    """p04's surgical chain (VERDICT r5 #6): monotone shrinkage through
    5_surgical_decontam, splits partition the survivors exactly, and the
    STRUCTURAL identity of the gate — surgical keep-set == near-dedup
    survivors minus the benchmark split minus heavy contamination
    (covered_ratio > threshold), recomputed here from first principles.
    (No subset relation vs the blunt d10 gate is asserted: the two gates
    measure different metrics — distinct-shingle match rate vs
    covered-token ratio — so neither contains the other structurally;
    code-review r6.)"""
    import hashlib

    from european_public_data_pipeline_spark.operators.dedup import CONTAM_MOD
    from european_public_data_pipeline_spark.pipeline.curate import (
        SURGICAL_MAX_RATIO,
        surgical_stages,
    )

    report = {
        r["stage"]: r["n"]
        for r in plans.all_specs()["p04_surgical_curation_report"]
        .builder(spark, sf_small)
        .collect()
    }
    assert (
        report["1_raw"]
        >= report["2_quality"]
        >= report["3_exact_dedup"]
        >= report["4_near_dedup"]
        >= report["5_surgical_decontam"]
        > 0
    )
    assert (
        report["7_split_train"] + report["8_split_val"] + report["9_split_test"]
        == report["5_surgical_decontam"]
    )
    assert report["6_excised_tokens"] >= 0
    stages = surgical_stages(spark, sf_small)
    surgical = {r["doc_id"] for r in stages["surgical"].collect()}
    near = {r["doc_id"] for r in stages["near_dedup"].collect()}
    d19 = plans.all_specs()["d19_span_contamination"].builder(spark, sf_small)
    heavy = {
        r["doc_id"]
        for r in d19.filter(F.col("covered_ratio") > SURGICAL_MAX_RATIO).collect()
    }

    def is_bench(doc_id: int) -> bool:
        return (
            int(hashlib.md5(str(doc_id).encode()).hexdigest()[:7], 16)
            % CONTAM_MOD
            == 0
        )

    assert surgical == {d for d in near if not is_bench(d) and d not in heavy}


def test_excision_work_order_only_for_kept_docs(spark, sf_small):
    """Every excision row targets a doc that survived the surgical gate,
    and none exceeds the keep threshold."""
    from european_public_data_pipeline_spark.pipeline.curate import (
        SURGICAL_MAX_RATIO,
        surgical_stages,
    )

    stages = surgical_stages(spark, sf_small)
    exc = stages["excision"].collect()
    kept = {r["doc_id"] for r in stages["surgical"].collect()}
    for r in exc:
        assert r["doc_id"] in kept
        assert r["covered_ratio"] <= SURGICAL_MAX_RATIO


def test_p06_constrained_chain_monotone_and_budget_bounded(spark, sf_small):
    """The round-7 chain: survivor counts shrink monotonically, the
    emission plan never exceeds the per-source cap (2.0 epochs), and the
    effective token total is bounded by cap x surviving tokens."""
    from european_public_data_pipeline_spark.operators.sampling import (
        SM13_MAX_EPOCH_BP,
    )
    from european_public_data_pipeline_spark.plans.registry import all_specs

    rows = {
        r["stage"]: r["n"]
        for r in all_specs()["p06_constrained_curation_report"]
        .builder(spark, sf_small)
        .collect()
    }
    assert rows["1_raw"] >= rows["2_span_dedup"] >= rows["3_quality"] > 0
    cap = SM13_MAX_EPOCH_BP / 10000
    # Fractional rounding adds at most one copy per doc over the cap floor.
    assert rows["4_emitted_docs"] <= rows["3_quality"] * (int(cap) + 1)

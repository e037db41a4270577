"""Cross-validation of the stock pyspark.ml MinHashLSH against the exact
n-gram Jaccard pairs (d03): with 8 hash tables and the planted near-dups at
jaccard ~0.98, the approximate join must recover exactly the exact-method
pair set (both apply the same >= 0.8 exact-Jaccard cutoff). The registered
d07 surface is the one-row recall/precision audit of that pair set."""

from __future__ import annotations

from european_public_data_pipeline_spark import plans
from european_public_data_pipeline_spark.operators.dedup import ml_minhash_pairs
from european_public_data_pipeline_spark.tables import load_table


def test_ml_lsh_matches_exact_pairs(spark, sf_medium):
    exact = {
        (r["d1"], r["d2"])
        for r in plans.all_specs()["d03_ngram_jaccard_pairs"].builder(spark, sf_medium).collect()
    }
    ml = {(r["d1"], r["d2"]) for r in ml_minhash_pairs(spark, sf_medium).collect()}
    assert ml == exact
    assert len(exact) > 0


def test_d07_audit_row(spark, sf_medium):
    rows = plans.all_specs()["d07_ml_minhash_lsh"].builder(spark, sf_medium).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["n_exact_pairs"] > 0
    assert r["recall_ok"] is True
    assert r["precision_ok"] is True


def test_d07_builds_without_a_job_and_counts_in_its_plan(spark, sf_small, spark_jobs):
    specs = plans.all_specs()
    for scatter in (False, True):  # d07 reads both; a first read infers the schema in a job
        load_table(spark, sf_small, "documents", scatter=scatter)
    with spark_jobs() as jobs:
        audit = specs["d07_ml_minhash_lsh"].builder(spark, sf_small)
    assert jobs == []
    exact = {
        (r["d1"], r["d2"])
        for r in specs["d03_ngram_jaccard_pairs"].builder(spark, sf_small).collect()
    }
    ml = {(r["d1"], r["d2"]) for r in ml_minhash_pairs(spark, sf_small).collect()}
    hit = len(exact & ml)
    assert [tuple(r) for r in audit.collect()] == [
        (
            len(exact),
            hit / len(exact) >= 0.9 if exact else True,
            hit / len(ml) >= 0.9 if ml else True,
        )
    ]

"""``operators/dedup.shingles``: the one word n-gram shingler behind every
shingle-based operator. Its tokenization must equal the DuckDB oracles'
``string_split_regex(trim(text), '\\s+')`` on edge whitespace, and it runs
inside the JVM: no shingle path starts a Python worker."""

from __future__ import annotations

import re
from collections import Counter

import duckdb
import pandas as pd
import pytest

from european_public_data_pipeline_spark import plans
from european_public_data_pipeline_spark.operators.dedup import (
    _SQL_SHINGLES,
    _SQL_SHINGLES5,
    shingles,
)
from european_public_data_pipeline_spark.pipeline.curate import curate_corpus
from tests.test_run_hicp import _sql_executions_since

EDGE_TEXTS = [
    "\ta b c d e f",  # leading tab: DuckDB's trim keeps it, an empty first word
    "\nalpha beta gamma delta epsilon zeta",  # leading newline
    " \tp q r s t u",  # space, then tab
    "a b c d e f g\t",  # trailing tab: an empty last word
    "one\x0btwo three four five six seven",  # \x0B is not RE2 whitespace
    "uno\u00a0dos tres cuatro cinco seis siete",  # nor is NBSP
    "  runs   of    spaces  between   the   words  here  ",
    "cr\r\nlf\fff mixed\r separators in one text",
    "x y z x y z x y z x y z",  # repeated shingles: one row each
    "",
    None,
    "too short",  # fewer than 3 words
    "four words only here",  # fewer than 5 words
]


@pytest.mark.parametrize("n, oracle", [(3, _SQL_SHINGLES), (5, _SQL_SHINGLES5)])
def test_shingles_equal_the_duckdb_oracle_on_edge_whitespace(spark, n, oracle):
    rows = list(enumerate(EDGE_TEXTS))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = Counter((r["doc_id"], r["shingle"]) for r in shingles(docs, n).collect())

    con = duckdb.connect()
    con.register("fixture", pd.DataFrame(rows, columns=["doc_id", "text"]))
    con.execute("CREATE TABLE documents AS SELECT * FROM fixture")
    want = Counter(tuple(r) for r in con.execute(oracle).fetchall())
    assert got == want
    # The fixture reaches every edge: an empty word from the leading tab,
    # and \x0B / NBSP kept inside a word.
    assert (0, " a b" if n == 3 else " a b c d") in got
    assert any("\x0b" in s for _, s in got) and any("\u00a0" in s for _, s in got)


# Every registered query that shingles, at sf0.001.
SHINGLE_QUERIES = (
    "d03_ngram_jaccard_pairs",
    "d04_minhash_lsh_pairs",
    "d07_ml_minhash_lsh",
    "d10_contamination_check",
    "d13_shingle_novelty",
    "d14_minhash_accuracy_audit",
    "d15_cross_source_duplication",
    "d18_threshold_sensitivity",
    "d22_lsh_recall_audit",
    "d23_incremental_lsh_probe",
)
# MapInPandas, MapInArrow, BatchEvalPython, ArrowEvalPython, ...InPandas
_PYTHON_NODE = re.compile(r"Python|Pandas|Arrow")


def _plan_node_names(spark, execution) -> list[str]:
    """Every operator of the execution's plan graph, including the ones
    inside whole-stage codegen and the cached plans it scans."""
    nodes = (
        spark._jsparkSession.sharedState()
        .statusStore()
        .planGraph(execution.executionId())
        .allNodes()
    )
    return [nodes.apply(i).name() for i in range(nodes.size())]


def test_shingle_paths_run_no_python_node(spark, sf_small, tmp_path):
    specs = plans.all_specs()
    before = max((e.executionId() for e in _sql_executions_since(spark, -1)), default=-1)
    for name in SHINGLE_QUERIES:
        specs[name].builder(spark, sf_small).collect()
        spark.catalog.clearCache()
    curate_corpus(spark, sf_small, str(tmp_path / "curated"))
    execs = _sql_executions_since(spark, before)
    assert len(execs) >= len(SHINGLE_QUERIES) + 1
    python = [
        (e.description(), node)
        for e in execs
        for node in _plan_node_names(spark, e)
        if _PYTHON_NODE.search(node)
    ]
    assert python == []


def test_fingerprints_split_words_like_the_duckdb_oracle(spark, tmp_path):
    """d02's fingerprint and the admission index's ``_fingerprint`` split
    on RE2's whitespace, as the oracle does: \\x0B joins two words."""
    from european_public_data_pipeline_spark.streaming.dedup_admission import _fingerprint

    rows = [(0, "one\x0btwo three"), (1, "one two three"), (2, "One\ttwo  three")]
    pd.DataFrame(rows, columns=["doc_id", "text"]).to_parquet(tmp_path / "documents.parquet")
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{tmp_path}/documents.parquet'")

    d02 = plans.all_specs()["d02_exact_dedup_fingerprint"]
    got = sorted(tuple(r) for r in d02.builder(spark, str(tmp_path)).collect())
    assert got == sorted(con.execute(d02.oracle).fetchall())
    assert sorted(n for _, _, n in got) == [1, 2]  # doc 0 is no copy of 1 and 2

    admission = spark.createDataFrame(rows, "doc_id long, text string").select(
        "doc_id", _fingerprint().alias("fp")
    )
    want = con.execute(
        "SELECT doc_id, md5(array_to_string("
        "string_split_regex(trim(lower(text)), '\\s+'), ' ')) FROM documents"
    ).fetchall()
    assert sorted(tuple(r) for r in admission.collect()) == sorted(want)

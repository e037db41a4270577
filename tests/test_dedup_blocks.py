"""The shared near-dup building blocks in ``operators/dedup``: the
candidate Jaccard verifier and d18's use of the exhaustive posting-list
relation."""

from __future__ import annotations

import re
from itertools import combinations

import pyarrow as pa
import pyarrow.parquet as pq

from european_public_data_pipeline_spark.operators.dedup import _jaccard_on_pairs


def test_jaccard_on_pairs_disjoint_identical_and_partial(spark):
    sets = {
        1: ["a", "b", "c", "d", "e"],
        2: ["x", "y"],  # disjoint from 1
        3: ["a", "b", "c", "d", "e"],  # identical to 1
        4: ["c", "d", "e", "f", "g", "h", "i"],  # shares 3 with 1
    }
    sh = spark.createDataFrame(
        [(d, s) for d, ss in sets.items() for s in ss], "doc_id long, shingle string"
    )
    pairs = spark.createDataFrame([(1, 2), (1, 3), (1, 4)], "d1 long, d2 long")
    got = {(r["d1"], r["d2"]): r["jaccard"] for r in _jaccard_on_pairs(pairs, sh).collect()}
    isect, n1, n2 = 3, len(sets[1]), len(sets[4])
    assert got == {(1, 2): 0.0, (1, 3): 1.0, (1, 4): isect / (n1 + n2 - isect)}


def _d18_corpus(tmp_path):
    """Twelve docs that all contain the shingle "alpha beta gamma", plus
    copies of doc 0 with 1..5 trailing words replaced (a spread of
    Jaccard values across d18's thresholds)."""
    base = [f"alpha beta gamma {' '.join(f'w{i}_{k}' for k in range(12))}" for i in range(6)]
    words = base[0].split()
    edits = [" ".join(words[:-e] + [f"e{e}_{k}" for k in range(e)]) for e in range(1, 6)]
    texts = base + edits + [base[1]]  # and one exact copy of doc 1
    table = pa.table(
        {
            "doc_id": pa.array(range(len(texts)), pa.int64()),
            "text": pa.array(texts),
            "lang": pa.array(["en"] * len(texts)),
            "source": pa.array(["s"] * len(texts)),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    pq.write_table(table, str(tmp_path / "documents.parquet"))
    return texts


def _brute_force_d18(texts):
    sets = []
    for t in texts:
        w = re.split(r"\s+", t.strip())
        sets.append({" ".join(w[i : i + 3]) for i in range(len(w) - 2)})
    jac = [
        (d2, len(sets[d1] & sets[d2]) / (len(sets[d1]) + len(sets[d2]) - len(sets[d1] & sets[d2])))
        for d1, d2 in combinations(range(len(texts)), 2)
        if sets[d1] & sets[d2]
    ]
    rows = []
    for thr in (0.5, 0.6, 0.7, 0.8, 0.9):
        hits = [d2 for d2, j in jac if j >= thr]
        removed = len(set(hits))
        rows.append((thr, len(hits), removed, removed / len(texts)))
    return rows


def test_d18_uses_posting_list_pairs_and_matches_brute_force(spark, tmp_path):
    from european_public_data_pipeline_spark.plans import all_specs

    texts = _d18_corpus(tmp_path)
    df = all_specs()["d18_threshold_sensitivity"].builder(spark, str(tmp_path))
    got = [tuple(r) for r in df.collect()]
    plan = df._jdf.queryExecution().executedPlan().toString()
    spark.catalog.clearCache()
    # posting_list_pairs' slice-pair repartition, and no shingle-keyed join.
    assert re.search(r"hashpartitioning\(shingle#\d+, ci#\d+, cj#\d+", plan)
    assert not re.search(r"Join \[shingle#\d+\]", plan)
    assert got == _brute_force_d18(texts)
    # The hot shingle pairs every doc, so every threshold row is exercised.
    assert got[0][1] > got[-1][1] > 0


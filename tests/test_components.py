"""Unit tests for the iterative connected-components operator.

The d08 oracle-parity test exercises real near-dup clusters (diameter ~2);
these synthetic graphs force the label-propagation loop through many
rounds (a long chain) and check isolated vertices and multi-component
separation.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from european_public_data_pipeline_spark.operators.dedup import connected_components


def _components(spark, n_vertices, edge_list):
    vertices = spark.range(n_vertices).select(F.col("id"))
    edges = spark.createDataFrame(edge_list, "src long, dst long")
    out = connected_components(vertices, edges)
    return {r["id"]: r["component"] for r in out.collect()}


def test_long_chain_converges(spark):
    # 0-1-2-...-10 is one component; 11 is isolated. The chain needs ~10
    # propagation rounds — well past what clique-like dedup graphs exercise.
    got = _components(spark, 12, [(i, i + 1) for i in range(10)])
    assert all(got[i] == 0 for i in range(11))
    assert got[11] == 11


def test_unconverged_propagation_raises(spark):
    # A 12-vertex chain needs 11 propagation rounds; 5 cannot finish it,
    # and returning the half-propagated labels would be silently wrong.
    vertices = spark.range(12).select(F.col("id"))
    edges = spark.createDataFrame([(i, i + 1) for i in range(11)], "src long, dst long")
    with pytest.raises(RuntimeError, match="did not converge in 5 rounds"):
        connected_components(vertices, edges, max_iter=5)


def test_two_components_and_direction_independence(spark):
    # Edges given in arbitrary direction; components must not leak labels.
    got = _components(spark, 7, [(1, 0), (1, 2), (5, 4), (6, 5)])
    assert got[0] == got[1] == got[2] == 0
    assert got[3] == 3
    assert got[4] == got[5] == got[6] == 4


def test_t15_pii_redaction_planted(spark, tmp_path):
    """The synthetic corpus contains no PII (the driver oracle hash thus
    pins the no-false-positive behavior); plant real matches here to prove
    detection counts and substitution output."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rows = [
        (1, "reach me at a.b+spam@ex.co.uk or 10.0.0.1 thanks", "en", "s", 48),
        (2, "call +1-555-123-4567 or (555) 987-6543 now", "en", "s", 42),
        (3, "nothing sensitive here", "en", "s", 22),
    ]
    table = pa.table(
        {
            "doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "text": pa.array([r[1] for r in rows]),
            "lang": pa.array([r[2] for r in rows]),
            "source": pa.array([r[3] for r in rows]),
            "n_chars": pa.array([r[4] for r in rows], pa.int64()),
        }
    )
    d = tmp_path / "pii"
    d.mkdir()
    pq.write_table(table, str(d / "documents.parquet"))
    from european_public_data_pipeline_spark import plans

    out = {
        r["doc_id"]: r
        for r in plans.all_specs()["t15_pii_redaction"].builder(spark, str(d)).collect()
    }
    assert (out[1]["n_emails"], out[1]["n_ips"], out[1]["n_phones"]) == (1, 1, 0)
    assert out[2]["n_phones"] == 2
    assert out[3]["n_pii"] == 0
    # redaction replaces every match: md5 of the expected redacted strings
    import hashlib

    exp1 = hashlib.md5(b"reach me at <EMAIL> or <IP> thanks").hexdigest()
    # the phone pattern anchors on a leading digit, so "(" stays outside
    exp2 = hashlib.md5(b"call <PHONE> or (<PHONE> now").hexdigest()
    assert out[1]["redacted_md5"] == exp1
    assert out[2]["redacted_md5"] == exp2



def _star_components(spark, n_vertices, edge_list):
    from european_public_data_pipeline_spark.operators.graph import (
        star_connected_components,
    )

    vertices = spark.range(n_vertices).select(F.col("id"))
    edges = spark.createDataFrame(edge_list, "src long, dst long")
    out = star_connected_components(vertices, edges)
    return {r["id"]: r["component"] for r in out.collect()}


def test_star_cc_matches_propagation_on_chain_and_isolates(spark):
    edge_list = [(i, i + 1) for i in range(10)] + [(20, 21), (22, 21)]
    got = _star_components(spark, 23, edge_list)
    assert all(got[i] == 0 for i in range(11))
    assert got[11] == 11  # isolated
    assert got[20] == got[21] == got[22] == 20
    # Bit parity with the min-label operator on the same graph.
    prop = _components(spark, 23, edge_list)
    assert got == prop


def test_star_cc_on_dense_and_cyclic_graphs(spark):
    # A 6-cycle plus a chord, a triangle, and reversed-direction edges.
    edge_list = [(0, 1), (2, 1), (2, 3), (4, 3), (4, 5), (5, 0), (0, 3),
                 (8, 7), (7, 9), (9, 8)]
    got = _star_components(spark, 10, edge_list)
    assert all(got[i] == 0 for i in range(6))
    assert got[6] == 6
    assert got[7] == got[8] == got[9] == 7

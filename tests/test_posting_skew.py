"""Posting-list skew hardening (VERDICT r4 #3): a ubiquitous shingle's
quadratic pair fan-out must be spread across tasks, not serialized through
the one task holding its posting list — while producing exactly the same
pairs as the direct row-local explosion.
"""

from __future__ import annotations

from itertools import combinations

from pyspark.sql import functions as F

from european_public_data_pipeline_spark.operators.dedup import posting_list_pairs
import pytest


@pytest.fixture(autouse=True, scope="module")
def _uncached_session(spark):
    """Plan-shape assertions must see the real scan plans: any cached
    relation left by earlier test modules (the session-scoped fixture is
    shared suite-wide) gets substituted into matching plan fragments by
    the CacheManager, changing Exchange counts and ReadSchema non-
    deterministically with test order (r6: t10 flaked only in the full
    run, after the 191-query parity sweep's union of caches)."""
    spark.catalog.clearCache()
    yield


def _grouped(spark, lists):
    return spark.createDataFrame(
        [(f"s{i}", ds) for i, ds in enumerate(lists)],
        "shingle string, ds array<long>",
    )


def test_chunked_pairs_equal_direct_pairs(spark):
    """Mixed corpus: one hot list (ubiquitous shingle), several short ones,
    shared members. Pair multiset (d1, d2, count) must equal brute force."""
    hot = list(range(0, 1000))  # L=1000 >> chunk
    lists = [hot, [5, 900, 2000], [7, 3], [42]]
    got = (
        posting_list_pairs(_grouped(spark, lists), chunk=64)
        .groupBy("d1", "d2")
        .count()
        .collect()
    )
    want: dict[tuple[int, int], int] = {}
    for ds in lists:
        for a, b in combinations(sorted(ds), 2):
            want[(a, b)] = want.get((a, b), 0) + 1
    assert {(r["d1"], r["d2"]): r["count"] for r in got} == want


def test_unsorted_posting_list_pairs_are_ordered(spark):
    """collect_list order is nondeterministic — the chunked path must sort
    before slicing or cross-slice pairs could emit d1 > d2."""
    ds = list(range(200, 0, -1))  # reverse order, L=200 > chunk
    rows = posting_list_pairs(_grouped(spark, [ds]), chunk=16).collect()
    assert len(rows) == 200 * 199 // 2
    assert all(r["d1"] < r["d2"] for r in rows)


def test_hot_list_fanout_is_distributed(spark):
    """The skew bound: with one L=2000 posting list and chunk=100 the pair
    explosion must land on MANY partitions, none holding more than a small
    multiple of chunk² pairs — the pre-fix plan put all L²/2 ≈ 2M pairs in
    the single task that held the list."""
    hot = list(range(2000))
    pairs = posting_list_pairs(_grouped(spark, [hot]), chunk=100)
    per_part = (
        pairs.withColumn("pid", F.spark_partition_id())
        .groupBy("pid")
        .count()
        .collect()
    )
    total = sum(r["count"] for r in per_part)
    assert total == 2000 * 1999 // 2
    biggest = max(r["count"] for r in per_part)
    assert len(per_part) >= 8  # spread, not one task
    # Hashing 210 slice-pair keys into 32 buckets leaves collision
    # clusters, so the bound is a few dozen slice rows × chunk² pairs —
    # the point is the pre-fix plan put 100% (all ~2M) in ONE task.
    assert biggest <= 40 * 100 * 100
    assert biggest < total / 4


def test_short_list_rides_the_single_slice_pair_repartition(spark):
    """A list at or under the chunk size is the degenerate one-slice case:
    its single (0, 0) slice-pair row goes through the same one slice-pair
    repartition as a long list's (never a second exchange), and the pair
    explosion after it yields exactly the list's pairs."""
    pairs = posting_list_pairs(_grouped(spark, [[1, 2, 3]]), chunk=64)
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    # At most one repartition in the plan: the slice-pair one.
    assert plan.lower().count("repartitionbyexpression") <= 1
    assert sorted((r["d1"], r["d2"]) for r in pairs.collect()) == [
        (1, 2), (1, 3), (2, 3),
    ]

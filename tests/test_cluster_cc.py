"""Connected-components dedup clustering (dd_cluster_cc / cc_labels):
min-label propagation over an undirected pair graph — chains collapse
transitively, components stay separate, convergence cap raises."""

import pytest

from __spark_entry__ import cc_labels


def _labels(spark, edges):
    df = spark.createDataFrame(edges, "a LONG, b LONG")
    rows = cc_labels(df).collect()
    return {r["node"]: r["lbl"] for r in rows}


def test_chain_collapses_transitively(spark):
    # 1-2, 2-3, 3-4: one component labeled by its min node, even though
    # 1 and 4 share no edge
    got = _labels(spark, [(1, 2), (2, 3), (3, 4)])
    assert got == {1: 1, 2: 1, 3: 1, 4: 1}


def test_components_stay_separate(spark):
    got = _labels(spark, [(1, 2), (4, 5), (7, 8), (8, 9)])
    assert got == {1: 1, 2: 1, 4: 4, 5: 4, 7: 7, 8: 7, 9: 7}


def test_edge_direction_irrelevant(spark):
    # min node on the b side: label still propagates against edge order
    got = _labels(spark, [(5, 1), (5, 9)])
    assert got == {1: 1, 5: 1, 9: 1}


def test_star_converges_in_one_round(spark):
    got = _labels(spark, [(1, k) for k in range(2, 8)])
    assert set(got.values()) == {1}


def test_round_cap_raises(spark):
    df = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 10)], "a LONG, b LONG"
    )
    with pytest.raises(AssertionError, match="fixpoint"):
        cc_labels(df, max_rounds=1)

"""Connected components: chains, stars, singleton pairs, multi-round
convergence. (Oracle parity for near_dup_clusters runs in
test_oracle_parity.py against a DuckDB recursive CTE.)"""

import pytest

from no_ocr_spark.operators.graph import connected_components


def _cc(spark, edges):
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    return {r.v: r.label for r in connected_components(df).collect()}


def test_two_components(spark):
    got = _cc(spark, [(1, 2), (2, 3), (10, 11)])
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_long_chain_needs_multiple_rounds(spark):
    # a 20-vertex path: diameter 19 => plain propagation needs many rounds
    edges = [(i, i + 1) for i in range(1, 20)]
    got = _cc(spark, edges)
    assert set(got.values()) == {1}
    assert len(got) == 20


def test_star_and_direction_independence(spark):
    # labels must not depend on edge direction
    a = _cc(spark, [(5, 1), (5, 2), (5, 3)])
    b = _cc(spark, [(1, 5), (2, 5), (3, 5)])
    assert a == b == {1: 1, 2: 1, 3: 1, 5: 1}


def test_unconverged_labels_raise(spark):
    # the 20-vertex path needs more than 3 rounds: labels after 3 are wrong
    df = spark.createDataFrame([(i, i + 1) for i in range(1, 20)],
                               "src bigint, dst bigint")
    with pytest.raises(RuntimeError, match="max_iters=3"):
        connected_components(df, max_iters=3)

"""Pointer-doubling hierarchy traversal unit tests (known forests)."""

from __future__ import annotations

import pytest

from kg_etl_spark.operators.hierarchy import ancestor_paths


def _run(spark, rows):
    df = spark.createDataFrame(rows, "node long, parent long")
    return {
        r["node"]: (r["root"], r["depth"]) for r in ancestor_paths(df).collect()
    }


def test_two_trees_and_singleton(spark):
    rows = [
        (1, None), (2, 1), (3, 1), (4, 2),       # tree rooted at 1
        (10, None), (11, 10),                    # tree rooted at 10
        (99, None),                              # singleton root
    ]
    assert _run(spark, rows) == {
        1: (1, 0), 2: (1, 1), 3: (1, 1), 4: (1, 2),
        10: (10, 0), 11: (10, 1), 99: (99, 0),
    }


def test_deep_chain_resolves_in_log_rounds(spark):
    # depth-9 chain: 0 <- 1 <- ... <- 9; 4 doublings suffice
    # (pointer distance 1,2,4,8,16 >= 9)
    rows = [(0, None)] + [(i, i - 1) for i in range(1, 10)]
    got = _run(spark, rows)
    assert got == {i: (0, i) for i in range(10)}


def test_deep_chain_warns_at_doubling_cap(spark, monkeypatch):
    # the depth-9 chain needs 4 doublings (distance 16 >= 9); a cap of 3
    # used to return partial depths silently
    from kg_etl_spark.operators import hierarchy

    rows = [(0, None)] + [(i, i - 1) for i in range(1, 10)]
    monkeypatch.setattr(hierarchy, "MAX_DOUBLINGS", 3)
    with pytest.warns(RuntimeWarning, match="ancestor_paths: did not converge"):
        got = _run(spark, rows)
    assert got[9] != (0, 9)

"""SCC operator unit tests on hand-built graphs with known components
(the FW-BW-Trim kernel itself, independent of the catalog queries)."""

from __future__ import annotations

from kg_etl_spark.operators.scc import scc_sizes, strongly_connected_components


def _run(spark, edges):
    df = spark.createDataFrame(edges, ["src", "dst"])
    rows = strongly_connected_components(df).collect()
    comp = {}
    for r in rows:
        comp.setdefault(r["scc_id"], set()).add(r["node"])
    return set(frozenset(s) for s in comp.values()), {
        r["node"]: r["scc_id"] for r in rows
    }


def test_scc_textbook_graph(spark):
    # two cycles bridged by DAG edges + a tail chain
    edges = [
        (1, 2), (2, 3), (3, 1),          # SCC {1,2,3}
        (3, 4),                           # bridge
        (4, 5), (5, 6), (6, 4),          # SCC {4,5,6}
        (6, 7), (7, 8),                   # chain of singletons
    ]
    comps, ids = _run(spark, edges)
    assert comps == {
        frozenset({1, 2, 3}),
        frozenset({4, 5, 6}),
        frozenset({7}),
        frozenset({8}),
    }
    # scc_id is the min member
    assert ids[2] == 1 and ids[5] == 4 and ids[7] == 7


def test_scc_nested_back_edge(spark):
    # one big SCC formed only through a long back edge
    edges = [(1, 2), (2, 3), (3, 4), (4, 1), (2, 5)]
    comps, _ = _run(spark, edges)
    assert comps == {frozenset({1, 2, 3, 4}), frozenset({5})}


def test_scc_self_loops_and_dups(spark):
    edges = [(1, 1), (1, 2), (1, 2), (2, 1), (3, 3), (2, 4)]
    comps, _ = _run(spark, edges)
    # 3 only appears via a self-loop -> dropped with it (no edges left)
    assert comps == {frozenset({1, 2}), frozenset({4})}


def test_scc_sizes_consistent(spark):
    df = spark.createDataFrame([(1, 2), (2, 1), (2, 3)], ["src", "dst"])
    out = {
        r["node"]: (r["scc_id"], r["scc_size"])
        for r in scc_sizes(strongly_connected_components(df)).collect()
    }
    assert out == {1: (1, 2), 2: (1, 2), 3: (3, 1)}


def test_scc_empty_and_selfloop_only_inputs(spark):
    empty = spark.createDataFrame([], "src long, dst long")
    assert strongly_connected_components(empty).count() == 0
    loops = spark.createDataFrame([(1, 1), (2, 2), (1, 1)], ["src", "dst"])
    assert strongly_connected_components(loops).count() == 0


def test_scc_distributed_path_matches_tarjan(spark, monkeypatch):
    # a 70-node directed cycle needs 69 reachability steps from its
    # pivot, plus small random SCCs hanging off it by DAG edges; with
    # the one-task bar at 0 the FW-BW rounds must settle all of them
    # exactly as the single-task Tarjan does
    import random

    from kg_etl_spark.operators import components

    rng = random.Random(7)
    edges = [(i, (i + 1) % 70) for i in range(70)]
    base = 100
    for size in (2, 3, 4, 5):
        nodes = list(range(base, base + size))
        rng.shuffle(nodes)
        edges += [(nodes[i], nodes[(i + 1) % size]) for i in range(size)]
        edges.append((rng.randrange(70), nodes[0]))
        base += 10
    expected = _run(spark, edges)
    monkeypatch.setattr(components, "SMALL_THRESHOLD", 0)
    assert _run(spark, edges) == expected
    assert frozenset(range(70)) in expected[0]


def test_scc_exhausted_recursion_warns(spark, monkeypatch):
    import warnings

    # chain of 3 cycles: one FW-BW round settles only the pivot's cycle,
    # so MAX_OUTER=1 with the cutover disabled leaves vertices unsettled
    from kg_etl_spark.operators import components, scc

    edges = []
    for b in (0, 10, 20):
        edges += [(b + 1, b + 2), (b + 2, b + 3), (b + 3, b + 1)]
    edges += [(3, 11), (13, 21)]  # DAG bridges between the cycles
    df = spark.createDataFrame(edges, ["src", "dst"])
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        with monkeypatch.context() as m:
            m.setattr(components, "SMALL_THRESHOLD", 0)
            m.setattr(scc, "MAX_OUTER", 1)
            out = strongly_connected_components(df)
            n = out.count()
    assert n == 9  # every vertex still gets a row (escape-hatch labels)
    assert any(
        issubclass(w.category, RuntimeWarning) and "max_outer" in str(w.message)
        for w in caught
    ), "exhausted recursion must warn"
    # normal bound: same graph, no warning
    with warnings.catch_warnings(record=True) as caught2:
        warnings.simplefilter("always")
        comps, _ = _run(spark, edges)
    assert comps == {
        frozenset({1, 2, 3}),
        frozenset({11, 12, 13}),
        frozenset({21, 22, 23}),
    }
    assert not any(issubclass(w.category, RuntimeWarning) for w in caught2)

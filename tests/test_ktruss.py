"""k-truss peel and modularity vs brute-force references."""

from __future__ import annotations

import itertools

import pytest
from pyspark.sql import functions as F

from kg_etl_spark.operators.communities import modularity
from kg_etl_spark.operators import ktruss as ktruss_mod
from kg_etl_spark.operators.ktruss import ktruss


def _brute_ktruss(edges: set[tuple[int, int]], k: int) -> dict[tuple[int, int], int]:
    """Reference peel: recompute per-edge triangle support, drop
    under-supported edges, repeat to fixpoint. Returns edge -> in-truss
    support."""
    cur = {tuple(sorted(e)) for e in edges}
    need = k - 2
    while True:
        adj: dict[int, set[int]] = {}
        for u, v in cur:
            adj.setdefault(u, set()).add(v)
            adj.setdefault(v, set()).add(u)
        sup = {
            (u, v): len(adj[u] & adj[v])
            for (u, v) in cur
        }
        nxt = {e for e, s in sup.items() if s >= need}
        if nxt == cur:
            return sup
        cur = nxt


def _mk_edges(spark, pairs):
    return spark.createDataFrame(
        [(int(a), int(b)) for a, b in pairs], "a_id long, b_id long"
    )


def test_ktruss_matches_bruteforce_random(spark):
    # deterministic pseudo-random graph on 24 nodes, ~90 edges: dense
    # enough for a nontrivial 4-truss, sparse enough to brute-force
    nodes = list(range(24))
    edges = {
        (a, b)
        for a, b in itertools.combinations(nodes, 2)
        if (a * 2654435761 + b * 40503) % 97 < 31
    }
    expect = {e: s for e, s in _brute_ktruss(edges, 4).items()}
    got = {
        (r["u"], r["v"]): r["support"]
        for r in ktruss(_mk_edges(spark, edges), k=4).collect()
    }
    assert got == expect


def test_ktruss_cascading_peel(spark):
    # K5 + triangle strip + bridge (the planted-recall shape): the
    # strip dies over TWO rounds (long edges first, stranded short
    # edges second), the clique survives at support 3
    clique = set(itertools.combinations(range(1, 6), 2))
    strip = {(i, i + 1) for i in range(6, 12)} | {(i, i + 2) for i in range(6, 11)}
    edges = clique | strip | {(1, 6)}
    out = {(r["u"], r["v"]): r["support"] for r in ktruss(_mk_edges(spark, edges), k=4).collect()}
    assert out == {e: 3 for e in clique}
    # 3-truss keeps clique AND strip triangles, kills only the bridge
    out3 = {(r["u"], r["v"]) for r in ktruss(_mk_edges(spark, edges), k=3).collect()}
    assert out3 == clique | strip


def test_ktruss_max_iter_escape_filters_to_threshold(spark, monkeypatch):
    # ADVICE r4 regression: on MAX_ITER exhaustion the warning promises a
    # frame "filtered to the threshold" — the return must honor that (no
    # edge with support < k-2 may leak out of a non-converged run).
    clique = set(itertools.combinations(range(1, 6), 2))
    strip = {(i, i + 1) for i in range(6, 12)} | {(i, i + 2) for i in range(6, 11)}
    edges = clique | strip | {(1, 6)}  # needs 2+ peel rounds for k=4
    monkeypatch.setattr(ktruss_mod, "MAX_ITER", 1)
    with pytest.warns(RuntimeWarning, match="did not converge"):
        out = ktruss(_mk_edges(spark, edges), k=4).collect()
    assert all(r["support"] >= 2 for r in out)
    # the converged truss is a subset of the escape frame (supports are
    # measured pre-final-peel, so extras may remain — but never below k-2)
    kept = {(r["u"], r["v"]) for r in out}
    assert set(clique) <= kept


def test_ktruss_empty_and_triangle_free(spark):
    empty = spark.createDataFrame([], "a_id long, b_id long")
    assert ktruss(empty, k=3).count() == 0
    path = _mk_edges(spark, [(1, 2), (2, 3), (3, 4)])
    assert ktruss(path, k=3).count() == 0
    with pytest.raises(ValueError):
        ktruss(path, k=2)


def test_modularity_two_cliques(spark):
    # two K4 cliques joined by one edge, communities = the cliques:
    # m = 13, e_c = 6 each, d_c = 13 each (12 intra-endpoints + 1
    # bridge endpoint) -> Q = 12/13 - 2*(13/26)^2 = 0.423077
    c1 = set(itertools.combinations(range(0, 4), 2))
    c2 = set(itertools.combinations(range(4, 8), 2))
    edges = _mk_edges(spark, c1 | c2 | {(0, 4)})
    asg = spark.createDataFrame(
        [(n, n // 4) for n in range(8)], "node long, community long"
    )
    rows = {r["community"]: r for r in modularity(edges, asg).collect()}
    assert rows[0]["intra_edges"] == 6 and rows[1]["intra_edges"] == 6
    assert rows[0]["degree_sum"] == 13 and rows[1]["degree_sum"] == 13
    total = rows[None]
    assert total["intra_edges"] == 12 and total["degree_sum"] == 26
    assert total["contribution"] == pytest.approx(12 / 13 - 2 * (13 / 26) ** 2, abs=1e-6)


def test_modularity_empty_graph_raises(spark):
    empty = spark.createDataFrame([], "a_id long, b_id long")
    asg = spark.createDataFrame([(1, 0)], "node long, community long")
    with pytest.raises(ValueError):
        modularity(empty, asg)

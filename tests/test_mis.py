"""Luby MIS operator tests: independence + maximality on arbitrary
graphs (the two defining invariants), determinism across reruns."""

from __future__ import annotations

import pytest

from kg_etl_spark.operators.mis import luby_mis


def _run(spark, edges):
    df = spark.createDataFrame(edges, ["src", "dst"])
    rows = luby_mis(df).collect()
    sel = {r["node"] for r in rows if r["selected"]}
    allv = {r["node"] for r in rows}
    return sel, allv, rows


def _check_invariants(edges, sel, allv):
    und = set()
    for s, d in edges:
        und.add((s, d))
        und.add((d, s))
    # independence: no edge inside the selected set
    for s, d in und:
        assert not (s in sel and d in sel), f"edge ({s},{d}) inside MIS"
    # maximality: every unselected vertex has a selected neighbor
    for v in allv - sel:
        assert any((v, u) in und and u in sel for u in allv), f"{v} undominated"


def test_mis_path_graph(spark):
    edges = [(i, i + 1) for i in range(9)]
    sel, allv, rows = _run(spark, edges)
    assert allv == set(range(10))
    _check_invariants(edges, sel, allv)
    # every vertex settles exactly once
    assert len(rows) == 10


def test_mis_clique_plus_pendant(spark):
    edges = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)] + [(4, 99)]
    sel, allv, rows = _run(spark, edges)
    _check_invariants(edges, sel, allv)
    # a clique contributes exactly one selected vertex
    assert len(sel & {1, 2, 3, 4}) == 1


def test_mis_deterministic_rerun(spark):
    edges = [(i, (i * 3) % 11) for i in range(11) if i != (i * 3) % 11]
    df = spark.createDataFrame(edges, ["src", "dst"])
    a = sorted((r["node"], r["selected"], r["round"]) for r in luby_mis(df).collect())
    b = sorted((r["node"], r["selected"], r["round"]) for r in luby_mis(df).collect())
    assert a == b


def test_mis_empty_and_selfloop_only_inputs(spark):
    empty = spark.createDataFrame([], "src long, dst long")
    assert luby_mis(empty).count() == 0
    loops = spark.createDataFrame([(5, 5)], ["src", "dst"])
    assert luby_mis(loops).count() == 0


def test_mis_priority_tie_ids_congruent_mod_p(spark):
    # 2^31-1 = Luby prime P: ids v and v+P collide in every round's
    # priority; the (priority, id) struct tie-break must still settle
    # them (pre-fix they ping-ponged forever and vanished from output)
    P = 2_147_483_647
    edges = [(7, 7 + P), (7 + P, 7 + 2 * P)]  # path of 3 congruent ids
    sel, allv, rows = _run(spark, edges)
    assert allv == {7, 7 + P, 7 + 2 * P}
    _check_invariants(edges, sel, allv)
    assert len(rows) == 3  # all settled, exactly once


def test_mis_warns_at_round_cap(spark, monkeypatch):
    # a path laid out in increasing round-0 priority: round 0 settles
    # only its first two vertices, so it needs a second round; a cap of
    # 1 used to drop the unsettled vertices silently
    from kg_etl_spark.operators import mis

    order = sorted(range(10), key=lambda v: (mis._A * v + mis._C) % mis._P)
    edges = list(zip(order, order[1:]))
    monkeypatch.setattr(mis, "MAX_ROUNDS", 1)
    with pytest.warns(RuntimeWarning, match="luby_mis: did not converge"):
        sel, allv, rows = _run(spark, edges)
    assert allv == set(range(10))
    assert {r["node"] for r in rows if r["selected"] is None} == set(order[2:])

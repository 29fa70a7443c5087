"""Maximal independent set via Luby's algorithm with DETERMINISTIC
hash priorities — the classic O(log n)-round parallel MIS (Luby,
SIAM J. Comput. 1986), with the random priorities replaced by a
per-round multiplicative hash of the vertex id, so the result is a
pure function of the graph (re-runnable, and a fixed-round prefix is
value-checkable against unrolled SQL).

Round r:
  priority p_r(v) = (A^(r+1)·(v mod P) + C) mod P     (P = 2^31−1)
  select v if (p_r(v), v) <lex (p_r(u), u) for EVERY active neighbor
           u — the node id breaks priority ties (ids ≥ P or congruent
           mod P can collide in p_r; the lexicographic struct
           comparison keeps the selection a strict total order, so no
           adjacent pair can deadlock across rounds)
  deactivate selected ∪ neighbors(selected); repeat.

The round enters MULTIPLICATIVELY (A^(r+1) mod P, computed in Python
per round): per-round priority orders decorrelate, preserving Luby's
geometric-shrink expectation — an additive round shift would cancel
in every comparison and freeze one global order, degenerating to
sequential greedy MIS on adversarial chains. Round 0 reduces to
(A·v + C) mod P, which is what the planted-recall oracle unrolls.
(v mod P) is applied before the multiply so the arithmetic stays
within 64 bits for any long id: (P−1)² < 2⁶³.

Every selected set is independent by construction; on termination
(no active vertices) it is maximal: a vertex only deactivates by
being selected or adjacent to a selected vertex.

Scale shape: the state is one vertex frame (node, selected, round),
NULL `selected` marking the active vertices; each round is one
`cutpoint.fixpoint` round: the active edge list (two semi-joins of the
symmetric edges against the active vertices), one edge-keyed shuffle
(min neighbor priority per vertex — a hash-agg over that list) and
the settle join, counting the still-active vertices on the same job.
The active subgraph shrinks geometrically in expectation (Luby's
analysis carries over to hash priorities acting pairwise-independently
here). Same per-round budget as PageRank.
"""

from __future__ import annotations

import itertools

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kg_etl_spark.cutpoint import CHANGED, fixpoint

_A = 1_103_515_245
_C = 1_013_904_223
_P = 2_147_483_647


def _prio(node, r: int):
    a = pow(_A, r + 1, _P)  # Python-side: r is a loop constant
    return (F.lit(a) * F.pmod(node, F.lit(_P)) + F.lit(_C)) % F.lit(_P)


def _prio_key(node, r: int):
    """Lexicographic (priority, id) — the tie-broken total order."""
    return F.struct(_prio(node, r).alias("p"), node.alias("n"))


# Luby rounds before luby_mis gives up with a warning.
MAX_ROUNDS = 30


def luby_mis(edges: DataFrame) -> DataFrame:
    """(node, selected, round) for every vertex of the undirected
    (src, dst) long-id edge list (each edge may be given once in
    either direction; it is symmetrized internally). `round` is the
    Luby round at which the vertex was settled (selected or
    dominated); isolated vertices don't appear (no edges). Vertices
    still active after `MAX_ROUNDS` rounds come with a RuntimeWarning
    and NULL `selected` and `round`."""
    e = (
        edges.select(F.col("src").cast("long"), F.col("dst").cast("long"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    sym = e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))).distinct().lineage_cut(eager=True)
    state = sym.select(
        F.col("src").alias("node"),
        F.lit(None).cast("boolean").alias("selected"),
        F.lit(None).cast("int").alias("round"),
    ).distinct()
    rounds = itertools.count()

    def step(state: DataFrame) -> DataFrame:
        r = next(rounds)
        active = state.filter(F.col("selected").isNull()).select("node")
        adj = sym.join(active.withColumnRenamed("node", "src"), "src", "left_semi").join(
            active.withColumnRenamed("node", "dst"), "dst", "left_semi"
        )
        min_nbr = (
            adj.select("src", _prio_key(F.col("dst"), r).alias("_np"))
            .groupBy("src")
            .agg(F.min("_np").alias("_mn"))
        )
        selected = (
            active.join(min_nbr.withColumnRenamed("src", "node"), "node", "left")
            .filter(
                F.col("_mn").isNull()  # isolated in active subgraph
                | (_prio_key(F.col("node"), r) < F.col("_mn"))
            )
            .select("node", F.lit(True).alias("_sel"))
        )
        dominated = (
            adj.join(selected.withColumnRenamed("node", "src"), "src", "left_semi")
            .select(F.col("dst").alias("node"), F.lit(True).alias("_dom"))
            .distinct()
        )
        now = F.when(F.col("_sel"), True).when(F.col("_dom"), False)
        return (
            state.join(selected, "node", "left")
            .join(dominated, "node", "left")
            .select(
                "node",
                F.coalesce("selected", now).alias("selected"),
                F.coalesce("round", F.when(now.isNotNull(), F.lit(r))).alias("round"),
                F.coalesce("selected", now).isNull().alias(CHANGED),
            )
        )

    return fixpoint(state, step, max_rounds=MAX_ROUNDS, name="luby_mis")

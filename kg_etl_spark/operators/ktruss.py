"""Distributed k-truss decomposition (edge peel by triangle support).

The k-truss of an undirected graph is the maximal subgraph in which
every edge participates in at least k-2 triangles WITHIN the subgraph
(Cohen 2008, "Trusses: cohesive subgraphs for social network
analysis"). It is a stricter cohesion notion than the k-core (every
k-truss is contained in the (k-1)-core) and is the standard
community-backbone extractor in graph mining.

Reference parity: the reference's graph module stops at connected
components and per-node cluster stats (see SURVEY.md A7/A6;
etl/graph.py in the reference builds per-group union-find components);
k-truss extends the same edge-list representation to cohesive-subgraph
extraction for the LLM-pipeline graph family.

Execution shape (100 TB): each peel round is
  support count:  one self-join of the ORIENTED edge list on the wedge
                  tail + one left-semi close (the Suri-Vassilvitskii
                  edge-iterator used by operators/triangles.py, degree
                  orientation caps wedge fan-out at O(sqrt(|E|)) per
                  node regardless of skew), then one edge-keyed
                  hash-agg -> per-edge support;
  peel:           drop the edges the last round flagged, recompute
                  the support of the rest and flag those under k-2;
                  one `cutpoint.fixpoint` round, whose cut also counts
                  the flagged edges, until none is flagged.
Everything is equi-joins + hash aggregates on edge keys; nothing is
collected to the driver.

Convergence: every round removes >= 1 edge or stops, so rounds are
bounded by |E|; in practice peel cascades behave like the k-core's
(tens of rounds). `MAX_ITER` guards pathological inputs; exhausting it
raises a RuntimeWarning and returns the last support frame filtered to
the threshold, whose supports may still exceed the in-truss values.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kg_etl_spark.cutpoint import CHANGED, fixpoint

# Peel rounds before ktruss gives up with a warning.
MAX_ITER = 100


def _triangle_support(edges: DataFrame) -> DataFrame:
    """(u, v, support) for ONLY the canonical edges that close >= 1
    triangle — the inner core of :func:`_edge_support` (every tri_edge
    row is an existing edge, so no join back is needed to know
    membership)."""
    deg = (
        edges.select(F.col("u").alias("n"))
        .union(edges.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("deg"))
    )

    # attach both endpoint degrees to the |E| canonical edges (half the
    # rows of the former symmetric-frame attach) and orient by a
    # conditional swap instead of filtering the 2|E| frame: the same
    # (lower-rank -> higher-rank) edge comes out exactly once either way
    ranked = (
        edges.select("u", "v")
        .join(deg.select(F.col("n").alias("u"), F.col("deg").alias("du")), "u")
        .join(deg.select(F.col("n").alias("v"), F.col("deg").alias("dv")), "v")
    )
    key_u = F.struct(F.col("du").alias("d"), F.col("u").alias("i"))
    key_v = F.struct(F.col("dv").alias("d"), F.col("v").alias("i"))
    lo_first = key_u < key_v
    # three consumers (wedge e1/e2 + the closing-edge probe) would each
    # re-run the degree aggregate and both attach joins — cut once
    oriented = ranked.select(
        F.when(lo_first, F.col("u")).otherwise(F.col("v")).alias("u"),
        F.when(lo_first, F.col("v")).otherwise(F.col("u")).alias("v"),
        F.when(lo_first, key_v).otherwise(key_u).alias("vk"),
    ).lineage_cut(eager=True)

    # wedges x->y, x->z (rank(y) < rank(z)); the closing oriented edge
    # y->z completes triangle {x,y,z}. Each triangle closes exactly one
    # wedge, and contributes support to ALL THREE of its edges.
    wedges = (
        oriented.alias("e1")
        .join(oriented.alias("e2"), F.col("e1.u") == F.col("e2.u"))
        .filter(F.col("e1.vk") < F.col("e2.vk"))
        .select(
            F.col("e1.u").alias("x"),
            F.col("e1.v").alias("y"),
            F.col("e2.v").alias("z"),
        )
    )
    tri = wedges.join(
        oriented.select(F.col("u").alias("y"), F.col("v").alias("z")),
        ["y", "z"],
        "left_semi",
    )
    # triangle {x,y,z} -> its three edges in canonical u<v form, emitted
    # by ONE explode over the triangle stream: the former 3-way union
    # re-executed the whole wedge-join subtree per branch (3x the join
    # CPU; exchange reuse does not dedupe the join itself)
    tri_edges = tri.select(
        F.explode(
            F.array(
                F.struct(F.least("x", "y").alias("u"), F.greatest("x", "y").alias("v")),
                F.struct(F.least("x", "z").alias("u"), F.greatest("x", "z").alias("v")),
                F.struct(F.least("y", "z").alias("u"), F.greatest("y", "z").alias("v")),
            )
        ).alias("e")
    ).select("e.u", "e.v")
    return tri_edges.groupBy("u", "v").agg(F.count(F.lit(1)).alias("support"))


def _edge_support(edges: DataFrame) -> DataFrame:
    """Per-edge triangle support for canonical (u, v) edges with u < v:
    returns (u, v, support). Edges in no triangle get support 0 via the
    left join against the closed-wedge counts."""
    sup = _triangle_support(edges)
    return (
        edges.select("u", "v")
        .join(sup, ["u", "v"], "left")
        .fillna(0, subset=["support"])
    )


def ktruss(edges: DataFrame, k: int) -> DataFrame:
    """Edges of the k-truss of an undirected graph given as unique
    (a_id, b_id) pairs (self-loops and duplicates must be absent).
    Returns (u, v, support) with u < v and the edge's triangle support
    WITHIN the truss (>= k-2 by definition)."""
    if k < 3:
        raise ValueError(f"k-truss requires k >= 3, got {k}")
    need = k - 2
    # LAZY (r12): the first support pass materializes the canonical
    # frame inline — the eager form paid a standalone scheduling round
    # for the same blocks (its consumers, deg + the two ranked
    # attaches, all sit inside that one job). Interleaved A/B at sf0.1
    # (k=3 spatial graph): 2.96 -> 2.62 s, bit-identical; flipping the
    # ORIENTED cut lazy too was measured slower (2.89 s) and stays
    # eager.
    cur = (
        edges.select(
            F.least("a_id", "b_id").alias("u"), F.greatest("a_id", "b_id").alias("v")
        )
        .lineage_cut(eager=False)
    )
    if k == 3:
        # Closed form, no peel: a support-0 edge lies in NO triangle, so
        # removing it cannot destroy one — every surviving edge keeps its
        # exact support and the fixpoint is reached after ONE pass. The
        # support table alone IS the answer (its keys are exactly the
        # edges in >= 1 triangle), so the zero-fill left join is skipped
        # too — one support pass, no probes, no second round.
        return _triangle_support(cur)

    def step(sup: DataFrame) -> DataFrame:
        cur = sup.filter(~F.col(CHANGED)).select("u", "v")
        return _edge_support(cur).withColumn(CHANGED, F.col("support") < need)

    sup = fixpoint(
        cur.withColumn(CHANGED, F.lit(False)), step, max_rounds=MAX_ITER, name="ktruss"
    )
    return sup.filter(F.col("support") >= need)

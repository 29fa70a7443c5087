"""Hierarchy traversal (root + depth per node) by POINTER DOUBLING —
Spark's answer to `WITH RECURSIVE` ancestor walks.

A recursive CTE walks parent links one level per iteration: O(depth)
self-joins. Pointer doubling keeps, per node, its currently-known
highest ancestor plus the distance to it, and each round replaces that
ancestor with the ANCESTOR'S known ancestor — the pointer distance
doubles every round, so a depth-d forest resolves in ⌈log₂ d⌉ joins
(path-halving, the same device operators/components.py uses for
union-find). At 100 TB: each round is ONE equi-join of the state frame
with itself on the ancestor key, cut by `cutpoint.fixpoint` (which
counts the unfinished nodes on the same job); a billion-node forest of
depth 10⁶ still needs only ~20 rounds, the `MAX_DOUBLINGS` default.

The DuckDB oracle runs the same semantics as a linear WITH RECURSIVE —
the point of the catalog query: identical results, logarithmic vs
linear round complexity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kg_etl_spark.cutpoint import CHANGED, fixpoint

# Doubling rounds before ancestor_paths gives up with a warning:
# resolves any forest of depth up to 2^20.
MAX_DOUBLINGS = 20


def ancestor_paths(parents: DataFrame) -> DataFrame:
    """(node, root, depth) for every node of a (node, parent) forest;
    `parent` NULL marks a root. Cycles are a caller contract violation:
    a cycle never resolves, so the walk stops after `MAX_DOUBLINGS`
    rounds with a RuntimeWarning and partial depths."""
    state = parents.select(
        "node",
        F.coalesce("parent", F.col("node")).alias("anc"),
        F.when(F.col("parent").isNull(), F.lit(0)).otherwise(F.lit(1)).alias("depth"),
        F.col("parent").isNull().alias("done"),
    ).lineage_cut(eager=True)

    def step(state: DataFrame) -> DataFrame:
        # roots' lookup rows: (anc=self, +0 hops, done) — already in state.
        lookup = state.select(
            F.col("node").alias("anc"),
            F.col("anc").alias("_anc2"),
            F.col("depth").alias("_d2"),
            F.col("done").alias("_done2"),
        )
        done = F.col("done") | F.coalesce("_done2", F.lit(False))
        return state.join(lookup, "anc", "left").select(
            "node",
            F.when(F.col("done"), F.col("anc"))
            .otherwise(F.coalesce("_anc2", F.col("anc")))
            .alias("anc"),
            F.when(F.col("done"), F.col("depth"))
            .otherwise(F.col("depth") + F.coalesce("_d2", F.lit(0)))
            .alias("depth"),
            done.alias("done"),
            (~done).alias(CHANGED),
        )

    state = fixpoint(state, step, max_rounds=MAX_DOUBLINGS, name="ancestor_paths")
    return state.select("node", F.col("anc").alias("root"), "depth")

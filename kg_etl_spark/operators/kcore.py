"""K-core decomposition (iterative peel): the maximal subgraph where
every node keeps degree ≥ k.

Per round (one `cutpoint.fixpoint` round): drop the edges the last
round flagged, take one degree aggregate over the rest and flag every
edge with an endpoint under degree k — node-keyed joins, reusing the
same partitioning. It stops at the fixpoint (no edge flagged) or warns
after ``MAX_ITER`` rounds. Engine-specific iteration ORDER never
matters: the k-core is unique, so results are deterministic even
though no SQL oracle can express the unbounded fixpoint (this operator
is rows-only in the catalog sense — property-tested instead).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kg_etl_spark.cutpoint import CHANGED, fixpoint

# Peel rounds before kcore gives up with a warning.
MAX_ITER = 50


def kcore(edges: DataFrame, k: int) -> DataFrame:
    """Nodes of the k-core of an undirected graph given as unique
    (a_id, b_id) pairs: returns (node, degree) with the node's degree
    WITHIN the core."""
    sym = edges.select(F.col("a_id").alias("u"), F.col("b_id").alias("v")).union(
        edges.select(F.col("b_id").alias("u"), F.col("a_id").alias("v"))
    ).lineage_cut(eager=True)

    def step(state: DataFrame) -> DataFrame:
        e = state.filter(~F.col(CHANGED)).select("u", "v")
        deg = e.groupBy("u").agg(F.count(F.lit(1)).alias("du"))
        # every node of the symmetric list is some edge's u, so the
        # inner joins keep every edge
        return (
            e.join(deg, "u")
            .join(deg.select(F.col("u").alias("v"), F.col("du").alias("dv")), "v")
            .select("u", "v", ((F.col("du") < k) | (F.col("dv") < k)).alias(CHANGED))
        )

    core = fixpoint(
        sym.withColumn(CHANGED, F.lit(False)), step, max_rounds=MAX_ITER, name="kcore"
    )
    return core.groupBy("u").agg(F.count(F.lit(1)).alias("degree")).select(
        F.col("u").alias("node"), "degree"
    ).filter(F.col("degree") >= k)

"""Connected components over an edge list (reference A7/X6:
per-city union-find, `etl/er.py:205-222`).

`connected_components` picks one of two strategies by edge count, both
deterministic (component id = min node id in the component, independent
of edge iteration order — fixing the reference's order-dependent root
identity, SURVEY §7.4):

1. `components_iterative` — distributed min-label propagation
   (alternating large-star/small-star style), O(log n) joins, run by
   `cutpoint.fixpoint` (a `RuntimeWarning` after `MAX_ITER` rounds).
   This is the 100 TB path: no single group ever has to fit in one
   task. It is also the weak-relabel step of
   `scc.strongly_connected_components`.
2. union-find in one `applyInPandas` task — exact, and far faster
   while the edge list is small enough for one task.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kg_etl_spark.cutpoint import CHANGED, fixpoint
from kg_etl_spark.operators.util import rows_at_most


# Label rounds before components_iterative gives up with a warning.
MAX_ITER = 50


def components_iterative(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """(node, component) with component = min reachable node id.

    Works on string or numeric ids. Each round: every node adopts the
    min label in its closed neighborhood, then jumps to its label's
    label; a `cutpoint.fixpoint` until no label changes.
    """
    e = edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
    sym = e.union(e.select(F.col("d").alias("s"), F.col("s").alias("d"))).distinct()
    sym.cache()

    labels = (
        sym.select(F.col("s").alias("node"))
        .distinct()
        .withColumn("comp", F.col("node"))
    )

    def step(labels: DataFrame) -> DataFrame:
        # neighborhood min: for each node, min(comp of node, comp of neighbors)
        nbr_min = (
            sym.join(labels.select(F.col("node").alias("d"), F.col("comp").alias("ncomp")), "d")
            .groupBy("s")
            .agg(F.min("ncomp").alias("nbr_comp"))
            .withColumnRenamed("s", "node")
        )
        # carry a changed flag so convergence needs no extra join
        stepped = labels.join(nbr_min, "node", "left").select(
            "node",
            F.least(F.col("comp"), F.coalesce(F.col("nbr_comp"), F.col("comp"))).alias("comp"),
            (F.coalesce(F.col("nbr_comp"), F.col("comp")) < F.col("comp")).alias(CHANGED),
        )
        # pointer jumping: comp ← comp(comp), collapsing label chains so
        # convergence is O(log diameter) instead of O(diameter)
        lookup = stepped.select(F.col("node").alias("_c"), F.col("comp").alias("_cc"))
        return stepped.join(lookup, stepped.comp == lookup._c, "left").select(
            "node",
            F.least(F.col("comp"), F.coalesce(F.col("_cc"), F.col("comp"))).alias("comp"),
            CHANGED,
        )

    labels = fixpoint(labels, step, max_rounds=MAX_ITER, name="components_iterative")
    sym.unpersist()
    return labels


# Up to this many edges the whole edge list fits one task (also SCC's).
SMALL_THRESHOLD = 2_000_000


def connected_components(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Size-adaptive components: up to `SMALL_THRESHOLD` edges the whole
    edge list fits one task → exact union-find via applyInPandas (a
    coarsened local solve, the standard cutover trick); above it, the
    distributed min-label iteration. Both return (node, comp) with
    comp = min node id — identical, order-independent semantics.
    """
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    # localCheckpoint, not cache: the caller's actions run after this
    # function returns, and an unpersisted cache would silently re-run
    # the (possibly expensive) edge-producing lineage on every one.
    e = e.lineage_cut(eager=True)
    if not rows_at_most(e, SMALL_THRESHOLD):
        return components_iterative(e)

    node_type = dict(e.dtypes)["src"]

    def uf(pdf: pd.DataFrame) -> pd.DataFrame:
        parent: dict = {}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]  # path halving
                x = parent[x]
            return x

        for a, b in zip(pdf["src"], pdf["dst"]):
            for v in (a, b):
                if v not in parent:
                    parent[v] = v
            ra, rb = find(a), find(b)
            if ra != rb:
                # deterministic: smaller id wins as root
                if rb < ra:
                    ra, rb = rb, ra
                parent[rb] = ra
        # second pass: full path compression → min-id roots
        rows = [(v, find(v)) for v in parent]
        return pd.DataFrame(rows, columns=["node", "comp"])

    return (
        e.withColumn("_g", F.lit(1))
        .groupBy("_g")
        .applyInPandas(uf, schema=f"node {node_type}, comp {node_type}")
    )

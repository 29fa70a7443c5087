"""Entity resolution engine (reference centerpiece: `etl/er.py:152-248`
re-expressed Spark-first, see SURVEY §7.2 step 5).

Pipeline: grid-blocked candidate pairs (J6) → native similarity columns
(token-set Jaccard F7; optional fuzzy-ratio pandas UDF X1) → accept rule
(distance/similarity when-tree, X7) → connected components (A7) →
canonical representative per cluster (A4: longest name, totalized
tie-break) → assignment of every input row to a canonical id.

All scalable pieces are pure DataFrame ops: one shuffle for blocking,
one for components per iteration, one for the canonical window. The
reference's per-city Python loops disappear; per-city parallelism falls
out of partitioning.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from kg_etl_spark.functions.text import fuzzy_ratio_udf, jaccard
from kg_etl_spark.operators.blocking import blocked_pairs
from kg_etl_spark.operators.components import connected_components
from kg_etl_spark.operators.textquality import ws_tokens

# Distance-banded accept rule shaped like the reference's
# `_accept_pair` (etl/er.py:102-132): closer pairs need less name
# evidence. (band_max_meters, min_similarity), evaluated in order.
DEFAULT_BANDS: list[tuple[float, float]] = [
    (65.0, 0.05),
    (95.0, 0.15),
    (130.0, 0.25),
    (250.0, 0.35),
]


def banded_accept(meters: Column, sim: Column, bands=None) -> Column:
    cond = None
    for band_m, min_sim in bands or DEFAULT_BANDS:
        this = (meters <= band_m) & (sim >= min_sim)
        cond = this if cond is None else cond | this
    return cond


def candidate_links(
    df: DataFrame,
    id_col: str,
    name_col: str,
    lat_col: str = "lat",
    lon_col: str = "lon",
    partition_col: str | None = None,
    max_dist_m: float = 250.0,
    use_fuzzy: bool = False,
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Scored candidate pairs: a_id, b_id, meters, name_jac[, fuzzy_sim]
    [, a_<c>/b_<c> for each carry col].

    name_jac is a native token-set Jaccard (no Python); fuzzy_sim adds
    the fuzzy-ratio pandas UDF when requested. carry_cols (e.g. `source`)
    ride along for diagnostics.
    """
    # tokenize ONCE per row before pairing: candidate pairs outnumber
    # rows by orders of magnitude at scale, and computing tokens inside
    # the pair expression re-tokenized both names per pair (measured
    # ~100× more token work on a dense 200k-entity corpus)
    toked = df.withColumn("_toks", ws_tokens(F.col(name_col)))
    pairs = blocked_pairs(
        toked,
        id_col=id_col,
        lat_col=lat_col,
        lon_col=lon_col,
        partition_col=partition_col,
        max_dist_m=max_dist_m,
        carry_cols=(name_col, "_toks", *carry_cols),
    )
    a_name, b_name = F.col(f"a_{name_col}"), F.col(f"b_{name_col}")
    out = pairs.withColumn("name_jac", jaccard(F.col("a__toks"), F.col("b__toks"))).drop(
        "a__toks", "b__toks"
    )
    if use_fuzzy:
        out = out.withColumn("fuzzy_sim", fuzzy_ratio_udf()(a_name, b_name))
    return out.select(
        F.col(f"a_{id_col}").alias("a_id"),
        F.col(f"b_{id_col}").alias("b_id"),
        a_name.alias("a_name"),
        b_name.alias("b_name"),
        "meters",
        "name_jac",
        *(["fuzzy_sim"] if use_fuzzy else []),
        *[c for cc in carry_cols for c in (f"a_{cc}", f"b_{cc}")],
    )


def resolve_entities(
    df: DataFrame,
    id_col: str,
    name_col: str,
    lat_col: str = "lat",
    lon_col: str = "lon",
    partition_col: str | None = None,
    max_dist_m: float = 250.0,
    bands=None,
    sim_col: str = "name_jac",
    use_fuzzy: bool = False,
    carry_cols: tuple[str, ...] = (),
) -> tuple[DataFrame, DataFrame]:
    """Full ER: returns (links, assignments).

    links: accepted pairs with scores (plus a_<c>/b_<c> for carry_cols —
    e.g. carry `source` to emit the reference's src_a/src_b link
    contract, `etl/er.py` links_all).
    assignments: every input row → (id, canonical_id, canonical_name,
    n_members); canonical_id = min member id of the connected component
    (order-independent, unlike the reference's union-find root);
    canonical_name = longest member name, ties broken (name asc, id asc).
    """
    cands = candidate_links(
        df, id_col, name_col, lat_col, lon_col, partition_col, max_dist_m, use_fuzzy,
        carry_cols=carry_cols,
    )
    # Materialize the (small) link set once: everything downstream —
    # components, the canonical window, the members count — re-reads it,
    # and without a cut here each action re-runs the blocking self-join.
    # LAZY cut: connected_components' own eager edge cut materializes
    # these blocks inline as part of its first job, so an eager cut
    # here would only add a serial scheduling round that re-runs the
    # blocking self-join a second time.
    links = cands.filter(banded_accept(F.col("meters"), F.col(sim_col), bands)).lineage_cut(
        eager=False
    )

    # no cut on comp: it has exactly one consumer (the asg join below)
    comp = connected_components(
        links.select(F.col("a_id").alias("src"), F.col("b_id").alias("dst"))
    )
    base = df.select(F.col(id_col).alias("id"), F.col(name_col).alias("name"))
    asg = base.join(comp.withColumnRenamed("node", "id"), "id", "left").withColumn(
        "canonical_id", F.coalesce(F.col("comp"), F.col("id"))
    )
    # representative + member count as window functions over ONE
    # partitioning (single shuffle) instead of two self-joins
    w = Window.partitionBy("canonical_id")
    ordered = w.orderBy(F.length("name").desc(), F.col("name").asc(), F.col("id").asc()).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    assignments = asg.select(
        "id",
        "canonical_id",
        F.first("name").over(ordered).alias("canonical_name"),
        F.count(F.lit(1)).over(w).alias("n_members"),
    )
    return links, assignments

"""Incremental materialized-aggregate maintenance: keep a rollup table
current by merging the previous materialization with only the NEW
batch's partial aggregate — never re-scanning history.

The 100 TB point: a daily rollup over years of events re-aggregates
everything on every refresh unless the aggregate state is mergeable.
sum/count/min/max merge trivially (sum of sums, min of mins); avg is
carried as (sum, count) and finalized at read. The refresh cost is
O(new batch + rollup size), independent of history length.

Contract: `partial_rollup` produces the mergeable state for any slice
of rows; `merge_rollups` combines any number of states; the merge is
associative and commutative, so refreshes can arrive out of order —
the invariant (merge of slice states == state of the union) is exactly
what the oracle-checked catalog query and the property test assert.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# decimal sums so merge order can never change a float result
_DEC = "decimal(28,6)"


def partial_rollup(
    df: DataFrame, keys: Sequence[str], value_col: str
) -> DataFrame:
    """Mergeable aggregate state per key group: (n, sum, min, max)."""
    v = F.col(value_col)
    return df.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(v.cast(_DEC)).alias("sum_v"),
        F.min(v).alias("min_v"),
        F.max(v).alias("max_v"),
    )


def merge_rollups(states: Sequence[DataFrame], keys: Sequence[str]) -> DataFrame:
    """Merge any number of partial states: one union + one aggregate —
    the refresh never touches the raw history behind the states."""
    it = iter(states)
    unioned = next(it)
    for s in it:
        unioned = unioned.unionByName(s)
    return unioned.groupBy(*keys).agg(
        F.sum("n").alias("n"),
        F.sum("sum_v").alias("sum_v"),
        F.min("min_v").alias("min_v"),
        F.max("max_v").alias("max_v"),
    )


def finalize_rollup(state: DataFrame) -> DataFrame:
    """Read-time finalization: derive avg from the carried (sum, n)."""
    return state.select(
        *[c for c in state.columns if c not in ("n", "sum_v", "min_v", "max_v")],
        F.col("n"),
        F.round(F.col("sum_v"), 2).cast("double").alias("sum_v"),
        F.col("min_v"),
        F.col("max_v"),
        F.round(F.col("sum_v").cast("double") / F.col("n"), 6).alias("avg_v"),
    )


def incremental_exact_dedup(
    batch: DataFrame,
    seen_fps: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> tuple[DataFrame, DataFrame]:
    """Exact dedup of a NEW batch against an accumulated fingerprint
    store — the refresh-path twin of `dedup.exact_dedup` (which
    re-scans everything): the history is never re-read beyond its
    (fp)-only store.

    Returns (fresh, new_fps): `fresh` keeps one representative
    (min id) per normalized-content fingerprint among batch rows whose
    fingerprint is NOT in `seen_fps`; `new_fps` is exactly the fp set
    to append to the store (the fresh rows' fingerprints).

    Scale shape: one fingerprint projection (map-side), one in-batch
    keeper aggregate, one anti-join against the store — at 100 TB the
    store join is the only history-sized cost and it touches a
    16-byte-per-doc table, not the corpus. Idempotent by construction:
    replaying a batch yields zero fresh rows.
    """
    from kg_etl_spark.operators.textquality import fingerprint

    fp = fingerprint(F.col(text_col), "md5").alias("fp")
    keyed = batch.select(F.col(id_col), fp)
    keepers = keyed.groupBy("fp").agg(F.min(id_col).alias(id_col))
    fresh_keys = keepers.join(
        seen_fps.select("fp"), "fp", "left_anti"
    )
    fresh = batch.join(fresh_keys.select(id_col, "fp"), id_col, "left_semi")
    new_fps = fresh_keys.select("fp")
    return fresh, new_fps


def delta_join_insert_only(
    a_old: DataFrame,
    a_new: DataFrame,
    b_old: DataFrame,
    b_new: DataFrame,
    on: Sequence[str] | str,
) -> DataFrame:
    """ΔJ of an inner-join view under INSERT-ONLY deltas — the
    incremental-view-maintenance identity
        Δ(A ⋈ B) = ΔA ⋈ B ∪ A ⋈ ΔB ∪ ΔA ⋈ ΔB
    so a stored join view is refreshed by appending ΔJ, never
    rescanning old ⋈ old.

    Scale: the two mixed terms join a (small) delta against a base —
    deltas are broadcast when they fit (Spark's size estimate; AQE
    demotes otherwise), so a daily increment against a 100 TB base is
    2 broadcast joins + 1 tiny join instead of a full recompute. The
    base sides should be the stored/bucketed tables so Catalyst can
    reuse their layout.
    """
    keys = [on] if isinstance(on, str) else list(on)
    return (
        a_new.join(b_old, keys)
        .unionByName(a_old.join(b_new, keys))
        .unionByName(a_new.join(b_new, keys))
    )


def maintained_join_view(
    a_old: DataFrame,
    a_new: DataFrame,
    b_old: DataFrame,
    b_new: DataFrame,
    on: Sequence[str] | str,
    stored_view: DataFrame | None = None,
) -> DataFrame:
    """The refreshed view: stored J_old (or a_old ⋈ b_old when no
    stored copy is supplied, e.g. first materialization) + ΔJ."""
    keys = [on] if isinstance(on, str) else list(on)
    base = stored_view if stored_view is not None else a_old.join(b_old, keys)
    return base.unionByName(
        delta_join_insert_only(a_old, a_new, b_old, b_new, keys)
    )

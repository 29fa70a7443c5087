"""Top-k per group and greedy top-k-distinct (reference W1-W3, X5).

Plain top-k is a window rank with a total tie-break; the greedy
near-duplicate-suppressed variant (reference `etl/reviews_jsonl.py:316-325`)
is inherently stateful → applyInPandas per group.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def topk_per_group(
    df: DataFrame, group_cols: list[str], order_cols: list[Column], k: int, out_rank: str = "rank"
) -> DataFrame:
    """row_number ≤ k over (group, total order). Callers must include a
    unique-id tie-break in order_cols for determinism.

    Scale note: fine for HIGH-cardinality groups (the window
    parallelizes); for low-cardinality groups over corpus-scale frames
    use :func:`grouped_topk` — this form sorts n/|groups| rows in one
    task there."""
    w = Window.partitionBy(*group_cols).orderBy(*order_cols)
    return df.withColumn(out_rank, F.row_number().over(w)).filter(F.col(out_rank) <= k)


def grouped_topk(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list[Column],
    k: int,
    out_rank: str = "rank",
) -> DataFrame:
    """Scale-safe top-k per LOW-cardinality group — two-phase
    tournament: every task keeps its own local top-k per group (the
    local window partitions on (group, physical partition id), so no
    task ever sorts more than its own split), and the ≤ k·num_partitions
    survivors per group take one final, MODEL-SIZED per-group window.
    The local top-k is a SUPERSET of the global top-k under any
    partitioning, so results are value-identical to the plain window
    and partition-count-deterministic (the 7-vs-32 gate) as long as
    ``order_cols`` is a total order (include a unique-id tie-break).

    One corpus-scale shuffle (on (group, partition id)) plus one
    SURVIVORS-sized exchange (≤ k·num_partitions rows) for the final
    window — the hazard it removes is the n/|groups| single-task SORT,
    the low-cardinality window class of the r5 verdict."""
    d = df.withColumn("_gtp", F.spark_partition_id())
    w1 = Window.partitionBy(*group_cols, "_gtp").orderBy(*order_cols)
    local = (
        d.withColumn("_gtl", F.row_number().over(w1))
        .filter(F.col("_gtl") <= k)
        .drop("_gtp", "_gtl")
    )
    w2 = Window.partitionBy(*group_cols).orderBy(*order_cols)
    return (
        local.withColumn(out_rank, F.row_number().over(w2))
        .filter(F.col(out_rank) <= k)
    )


def topk_distinct_texts(
    df: DataFrame,
    group_col: str,
    text_col: str,
    k: int = 2,
    sim_cutoff: float = 0.90,
) -> DataFrame:
    """Greedy: longest-first, keep a text only if fuzzy-sim < cutoff vs
    every already-kept text (reference X5). Output: (group, texts array).
    The similarity is difflib's ``SequenceMatcher.ratio`` everywhere, so
    the picks do not depend on which optional packages are installed.
    """
    import difflib

    def sim(a: str, b: str) -> float:
        return difflib.SequenceMatcher(None, a, b).ratio()

    out_schema = f"{group_col} string, texts array<string>"

    def pick(pdf: pd.DataFrame) -> pd.DataFrame:
        texts = sorted(
            [t for t in pdf[text_col] if t], key=lambda t: (-len(t), t)
        )  # longest-first, lexicographic tie-break (totalized vs reference)
        kept: list[str] = []
        for t in texts:
            if len(kept) >= k:
                break
            if all(sim(t, s) < sim_cutoff for s in kept):
                kept.append(t)
        return pd.DataFrame({group_col: [pdf[group_col].iloc[0]], "texts": [kept]})

    return df.groupBy(group_col).applyInPandas(pick, schema=out_schema)

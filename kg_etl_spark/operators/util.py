"""Shared operator plumbing."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame

from kg_etl_spark.operators.rankdev import _memo_get


def spread(df: DataFrame, key: Column | None = None) -> DataFrame:
    """Repartition to the session's parallelism before a CPU-heavy
    per-row pass (tokenize/shingle/hash, explode-to-bins, matmul
    blocks).

    Single small parquet files arrive as ONE split, which serializes
    the whole pass onto one task; the fix is one row-proportional
    shuffle — trivial next to the pair-quadratic work it parallelizes.
    (Do NOT probe df.rdd.getNumPartitions() to make this conditional:
    the RDD conversion itself de-optimizes the plan and cost far more
    than the shuffle it avoided.)
    """
    npart = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(npart, key) if key is not None else df.repartition(npart)


def rows_at_most(df: DataFrame, n: int) -> bool:
    """True iff ``df`` has at most ``n`` rows: the size probe of every
    size-adaptive operator. ``limit(n + 1)`` stops the count after n + 1
    rows; rankdev's weak per-frame memo keeps the answer per (frame, n),
    so repeat dispatches over the same frame run no job."""
    return _memo_get(df, ("rows_at_most", n), lambda: df.limit(n + 1).count() <= n)

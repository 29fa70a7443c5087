"""Sinks (SURVEY §2.2): contract CSV exports, JSONL, partitioned
Parquet, nested-document JSON.

K1 contract CSVs are *contracts*: header always present (even for zero
rows), deterministic row order, one file. The reference wrote these
with pandas (`etl/er.py:317-338`); here the rows are shuffled into one
partition and sorted inside it (`repartition(1).sortWithinPartitions`),
which gives the same rows in the same order as a global sort without
the range-partition sampling job a Spark orderBy runs first — correct
for export-sized results only, since one task sorts them all. Anything
big stays partitioned Parquet (K2/K3), where Spark's native append
replaces the reference's read-concat-rewrite anti-pattern
(`etl/reviews_jsonl.py:57-73`).
"""

from __future__ import annotations

import csv
import glob
import os
import shutil

from pyspark.sql import DataFrame

from kg_etl_spark.sources.jsonl import write_jsonl, write_partitioned_parquet  # noqa: F401


def write_contract_csv(df: DataFrame, path: str, order_by: list[str] | None = None) -> None:
    """K1: single-file CSV with header, deterministic order,
    empty-with-header semantics (`scripts/run_airbnb.py:60-71`).

    Spark's csv writer emits no file at all for an empty DataFrame, so
    the zero-row case writes the header directly — the contract is the
    header line, not the part file.
    """
    tmp = path + ".__spark_tmp__"
    out = df.repartition(1).sortWithinPartitions(*order_by) if order_by else df.coalesce(1)
    out.write.mode("overwrite").option("header", True).csv(tmp)
    parts = sorted(glob.glob(os.path.join(tmp, "part-*.csv")))
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    if parts:
        shutil.move(parts[0], path)
    else:
        with open(path, "w", newline="") as f:
            csv.writer(f).writerow(df.columns)
    shutil.rmtree(tmp, ignore_errors=True)


def write_nested_json(df: DataFrame, path: str, order_by: list[str] | None = None) -> None:
    """K6: nested-document export (POI cards) — arrays of structs
    serialize natively via the json sink. With order_by the documents
    are written as one part file sorted on it (export-sized input, as
    for the contract CSVs)."""
    out = df.repartition(1).sortWithinPartitions(*order_by) if order_by else df
    out.write.mode("overwrite").json(path)


def write_orc(df: DataFrame, path: str, partition_by: list[str] | None = None) -> None:
    """ORC sink (column-pruned, predicate-pushdown-capable like
    parquet) for consumers standardized on the ORC ecosystem. Same
    layout semantics as the parquet sinks; read back with
    ``spark.read.orc`` — pushdown/pruning verified in tests."""
    w = df.write.mode("overwrite").format("orc")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.save(path)


def write_sorted_parquet(
    df: DataFrame, path: str, sort_cols: list[str], num_files: int = 32
) -> None:
    """Range-partitioned, within-file-sorted parquet export: rows are
    globally ordered across files (file i's max key ≤ file i+1's min).

    At 100 TB this is the layout that makes downstream range scans
    cheap: parquet row-group min/max stats on the sort key line up with
    the file order, so a key-range predicate prunes to a handful of
    files instead of touching all of them. One range-shuffle at write
    time (sampled boundaries, skew-tolerant), zero at read time.
    """
    (
        df.repartitionByRange(num_files, *sort_cols)
        .sortWithinPartitions(*sort_cols)
        .write.mode("overwrite")
        .parquet(path)
    )


def write_bucketed_table(
    df: DataFrame, table: str, bucket_cols: list[str], num_buckets: int = 32
) -> None:
    """Co-location sink for repeatedly-joined fact tables: bucket (and
    sort) by the join key so every subsequent equi-join or aggregation
    on that key runs WITHOUT a shuffle exchange — at 100 TB the shuffle
    is the cost, and bucketing pays it once at write time instead of
    once per query. Both join sides must be bucketed on the join key
    with compatible bucket counts. Parquet + saveAsTable (bucket
    metadata lives in the catalog; plain .parquet() cannot carry it).
    """
    (
        df.write.mode("overwrite")
        .format("parquet")
        .bucketBy(num_buckets, *bucket_cols)
        .sortBy(*bucket_cols)
        .saveAsTable(table)
    )


def zorder_key(c1, c2, bits: int = 16):
    """Morton (Z-order) interleave of two pre-quantized non-negative
    int columns (each < 2^bits) — locality-preserving 1-D key for
    2-D data."""
    from pyspark.sql import functions as F

    key = F.lit(0).cast("long")
    for i in range(bits):
        key = key.bitwiseOR(
            F.shiftleft(F.shiftright(c1.cast("long"), i).bitwiseAND(F.lit(1)), 2 * i)
        ).bitwiseOR(
            F.shiftleft(F.shiftright(c2.cast("long"), i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
    return key


def write_zordered_parquet(
    df: DataFrame, path: str, col1: str, col2: str, num_files: int = 32, bits: int = 16
) -> None:
    """Z-order layout export: quantize two columns to the unit grid,
    interleave into a Morton key, range-partition + sort on it.

    Why at 100 TB: a single-column sort prunes range scans on ONE
    column; the Morton order keeps BOTH columns locally clustered, so
    parquet min/max stats prune 2-D range predicates (the spatial /
    time×key case) without a specialized index — the same layout trick
    lakehouse OPTIMIZE ZORDER applies.
    """
    from pyspark.sql import functions as F

    stats = df.agg(
        F.min(F.col(col1).cast("double")).alias("_lo1"),
        F.max(F.col(col1).cast("double")).alias("_hi1"),
        F.min(F.col(col2).cast("double")).alias("_lo2"),
        F.max(F.col(col2).cast("double")).alias("_hi2"),
    )
    j = df.crossJoin(F.broadcast(stats))
    scale = float((1 << bits) - 1)

    def quant(c, lo, hi):
        return F.least(
            F.floor((F.col(c).cast("double") - F.col(lo)) / ((F.col(hi) - F.col(lo)) / scale)).cast("long"),
            F.lit((1 << bits) - 1).cast("long"),
        )

    z = zorder_key(quant(col1, "_lo1", "_hi1"), quant(col2, "_lo2", "_hi2"), bits)
    (
        j.withColumn("_z", z)
        .drop("_lo1", "_hi1", "_lo2", "_hi2")
        .repartitionByRange(num_files, F.col("_z"))
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode("overwrite")
        .parquet(path)
    )


def compact_parquet(
    spark,
    in_path: str,
    out_path: str,
    target_rows_per_file: int = 1_000_000,
) -> int:
    """Small-files compaction: rewrite a parquet dataset into
    ceil(rows/target) evenly-sized files. The long-running-pipeline
    problem this solves: streaming/append sinks accumulate thousands of
    KB-sized files whose per-file open/footer cost dominates scans.

    The sizing count scans no data columns (empty projection — Spark
    serves it from row-group row counts); the rewrite itself is one
    pass. At 100 TB run it per
    partition directory (compose with partitionBy layouts) so each
    rewrite is bounded; `repartition` (round-robin) rather than
    `coalesce` so output files are even regardless of input skew.
    Returns the number of files written.
    """
    import math

    df = spark.read.parquet(in_path)
    n_rows = df.count()
    n_files = max(1, math.ceil(n_rows / target_rows_per_file))
    df.repartition(n_files).write.mode("overwrite").parquet(out_path)
    return n_files

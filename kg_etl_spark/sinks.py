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

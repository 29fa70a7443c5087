"""Z-order key, k-core decomposition, and schema-evolution
reads."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kg_etl_spark.operators.kcore import kcore
from kg_etl_spark.sinks import zorder_key


def test_zorder_key_interleaves_bits(spark):
    df = spark.range(1).select(
        zorder_key(F.lit(0b101), F.lit(0b011), bits=3).alias("z")
    )
    # x bits (101) at even positions, y bits (011) at odd:
    # z = y2 x2 y1 x1 y0 x0 = 0 1 1 0 1 1 = 0b011011
    assert df.collect()[0]["z"] == 0b011011


def test_kcore_peels_to_fixpoint(spark):
    # K4 (a 3-core) plus a tail 4-5-6 hanging off node 1: the tail
    # peels away for k=2 and k=3; K4 survives both
    k4 = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)]
    tail = [(1, 5), (5, 6)]
    df = spark.createDataFrame(k4 + tail, ["a_id", "b_id"])
    core3 = {r["node"]: r["degree"] for r in kcore(df, k=3).collect()}
    assert core3 == {1: 3, 2: 3, 3: 3, 4: 3}
    core2 = {r["node"] for r in kcore(df, k=2).collect()}
    assert core2 == {1, 2, 3, 4}
    # a pure path has no 2-core at all
    path = spark.createDataFrame([(i, i + 1) for i in range(1, 6)], ["a_id", "b_id"])
    assert kcore(path, k=2).count() == 0
    # core property: every member's in-core degree >= k
    assert all(d >= 3 for d in core3.values())


def test_kcore_warns_at_peel_cap(spark, monkeypatch):
    # triangle 1-2-3 with tail 3-4-5: the 2-core peels 4-5, then 3-4,
    # and a third round finds nothing to peel; a cap of 2 used to
    # return silently
    from kg_etl_spark.operators import kcore as kcore_mod

    df = spark.createDataFrame([(1, 2), (2, 3), (1, 3), (3, 4), (4, 5)], ["a_id", "b_id"])
    assert {r["node"]: r["degree"] for r in kcore(df, k=2).collect()} == {1: 2, 2: 2, 3: 2}
    monkeypatch.setattr(kcore_mod, "MAX_ITER", 2)
    with pytest.warns(RuntimeWarning, match="kcore: did not converge"):
        kcore(df, k=2).collect()


def test_schema_evolution_merge_read(spark, tmp_path):
    # old files lack a column added later: mergeSchema unions them,
    # old rows surface NULL for the new column
    p = str(tmp_path / "evolving")
    spark.range(3).select(F.col("id"), F.lit("a").alias("v1")).write.parquet(p + "/d=1")
    spark.range(2).select(
        F.col("id"), F.lit("b").alias("v1"), F.lit(9).alias("v2")
    ).write.parquet(p + "/d=2")
    df = spark.read.option("mergeSchema", "true").parquet(p)
    assert set(df.columns) == {"id", "v1", "v2", "d"} or set(df.columns) == {"id", "v1", "v2"}
    rows = df.collect()
    assert len(rows) == 5
    by_v1 = {}
    for r in rows:
        by_v1.setdefault(r["v1"], set()).add(r["v2"])
    assert by_v1["a"] == {None} and by_v1["b"] == {9}

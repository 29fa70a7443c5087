from __future__ import annotations

import pytest

from kg_etl_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", shuffle_partitions="8")
    yield s


@pytest.fixture(scope="session")
def spark_h32_probe(spark):
    """Evaluate sketches._h32 on single literals via one cached frame
    factory (session-scoped so hypothesis examples don't rebuild
    sessions)."""
    from pyspark.sql import functions as F

    from kg_etl_spark.operators.sketches import _h32

    def probe(x: int, a: int, b: int) -> int:
        df = spark.range(1).select(_h32(F.lit(x).cast("long"), a, b).alias("h"))
        return df.collect()[0]["h"]

    return probe


@pytest.fixture
def shielded_rdd_ids(spark):
    """Ids of the persisted RDDs a between-query flush skips (the
    shared lineage cuts), read from the live persisted-RDD map."""
    from kg_etl_spark.cutpoint import is_shared_cut

    def ids() -> set:
        return {
            int(i)
            for i, jrdd in spark.sparkContext._jsc.getPersistentRDDs().items()
            if is_shared_cut(jrdd)
        }

    return ids


@pytest.fixture
def quantile_normalize_by_window():
    """``datapipe.quantile_normalize`` spelled with plain windows (a
    single-partition global rank) — the reference for its skew-path
    tests."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    def ref(df, v, g, i):
        w_all = Window.orderBy(F.col(v).asc(), F.col(i).asc())
        glob = df.coalesce(1).select(
            F.row_number().over(w_all).cast("long").alias("_t"),
            F.col(v).cast("double").alias("norm_value"),
        )
        n = df.count()
        w_grp = Window.partitionBy(g).orderBy(F.col(v).asc(), F.col(i).asc())
        pr = (F.row_number().over(w_grp) - 1).cast("double") / F.greatest(
            F.count(F.lit(1)).over(Window.partitionBy(g)) - 1, F.lit(1)
        ).cast("double")
        scored = df.select(
            i,
            g,
            F.col(v).cast("double").alias(v),
            F.round(pr, 6).alias("pr"),
            (F.round(pr * F.lit(float(n - 1)), 0) + 1).cast("long").alias("_t"),
        )
        return scored.join(glob, "_t").select(i, g, v, "pr", "norm_value")

    return ref

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

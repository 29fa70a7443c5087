"""cutpoint.fixpoint: one job per round, a flat size estimate, the stop
rule and the warning at the cap."""

from __future__ import annotations

import warnings

import pytest
from pyspark.sql import functions as F

from kg_etl_spark.cutpoint import CHANGED, fixpoint


def _executions(spark) -> int:
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    return spark._jsparkSession.sharedState().statusStore().executionsCount()


def _size_estimate(df) -> int:
    return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())


def _path_labels(spark, n: int):
    """(node, lab) on a path 0..n-1 with lab = node; the toy step below
    moves label 0 one hop per round, so it needs n rounds (n - 1 moves
    and one that changes nothing)."""
    return spark.range(n).select(F.col("id").alias("node"), F.col("id").alias("lab"))


def _self_join_step(calls: list):
    def step(state):
        calls.append(state)
        prev = state.select((F.col("node") + 1).alias("node"), F.col("lab").alias("_prev"))
        joined = state.join(prev, "node", "left")
        return joined.select(
            "node",
            F.least("lab", F.coalesce("_prev", "lab")).alias("lab"),
            (F.coalesce("_prev", "lab") < F.col("lab")).alias(CHANGED),
        )

    return step


def test_fixpoint_one_sql_execution_per_round(spark):
    calls: list = []
    start = _path_labels(spark, 16).lineage_cut(eager=True)
    before = _executions(spark)
    out = fixpoint(start, _self_join_step(calls), max_rounds=None, name="toy")
    assert _executions(spark) - before == len(calls) == 16
    assert out.columns == ["node", "lab"]
    assert {r["lab"] for r in out.collect()} == {0}


def test_fixpoint_size_estimate_does_not_compound(spark):
    calls: list = []
    default = spark._jsparkSession.sessionState().conf().defaultSizeInBytes()
    with pytest.warns(RuntimeWarning, match="toy: did not converge within 12 rounds"):
        out = fixpoint(
            _path_labels(spark, 16), _self_join_step(calls), max_rounds=12, name="toy"
        )
    assert len(calls) == 12
    # the state the 12th round joins with itself, and the one returned
    assert _size_estimate(calls[-1]) == default
    assert _size_estimate(out) <= default
    # unconverged: label 0 has reached nodes 0..12 only
    assert {r["node"] for r in out.collect() if r["lab"] == 0} == set(range(13))


def test_fixpoint_stops_after_a_round_that_changes_nothing(spark):
    calls: list = []

    def step(state):
        calls.append(state)
        return state.withColumn(CHANGED, F.lit(False))

    with warnings.catch_warnings():
        warnings.simplefilter("error")
        out = fixpoint(_path_labels(spark, 5), step, max_rounds=3, name="toy")
    assert len(calls) == 1
    assert sorted(r["lab"] for r in out.collect()) == [0, 1, 2, 3, 4]

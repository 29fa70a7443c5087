"""From-scratch sketches: CMS overestimate property, HLL accuracy,
JL distance preservation."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from kg_etl_spark.operators.sketches import cms_estimate, hll_distinct, jl_project


def test_cms_never_underestimates_and_is_tight_on_skew(spark):
    # planted zipf-ish skew: key 1 dominates
    rows = [(1,)] * 500 + [(k,) for k in range(2, 200) for _ in range(3)]
    df = spark.createDataFrame(rows, "k long")
    keys = spark.createDataFrame([(1,), (2,), (199,)], "k long")
    est = {r["k"]: r["cms_estimate"] for r in cms_estimate(df, keys, "k").collect()}
    true = {1: 500, 2: 3, 199: 3}
    for k, t in true.items():
        assert est[k] >= t, f"CMS underestimated key {k}"
    # the heavy key is near-exact (its bucket dominates its collisions)
    assert est[1] <= 500 + 3 * 199


def test_hll_within_expected_error(spark):
    # 1000 distinct users in one group: m=64 -> ~13% std error; assert 3 sigma
    rows = [("g", u) for u in range(1, 1001)]
    df = spark.createDataFrame(rows, "g string, u long")
    out = hll_distinct(df, "g", "u", m=64).collect()[0]
    assert abs(out["hll_estimate"] - 1000) / 1000 < 0.4
    assert out["n_registers_hit"] == 64


def test_hll_small_range_is_linear_counting_exactish(spark):
    rows = [("g", u) for u in range(1, 6)]  # 5 distinct
    df = spark.createDataFrame(rows, "g string, u long")
    out = hll_distinct(df, "g", "u", m=64).collect()[0]
    # linear counting with 5 hits of 64 registers: 64*ln(64/59) = 5.2
    assert abs(out["hll_estimate"] - 64 * math.log(64 / 59)) < 1e-4


def test_jl_projection_preserves_identity_and_scale(spark):
    emb = spark.createDataFrame(
        [(1, [1.0] * 64), (2, [1.0] * 64), (3, [0.0] * 64)],
        "vec_id long, embedding array<float>",
    )
    out = jl_project(emb).collect()
    by_vec = {}
    for r in out:
        by_vec.setdefault(r["vec_id"], {})[r["out_dim"]] = r["value"]
    assert by_vec[1] == by_vec[2]  # identical inputs -> identical projections
    assert all(v == 0.0 for v in by_vec[3].values())
    assert len(by_vec[1]) == 16
    # norm preserved in expectation (||x|| = 8): a single adversarial
    # vector can deviate, so this is a sanity band, not concentration
    norm = math.sqrt(sum(v * v for v in by_vec[1].values()))
    assert 2.0 < norm < 32.0


def test_jl_projection_no_shuffle(spark):
    from kg_etl_spark.plans import physical_plan
    from kg_etl_spark.queries import QUERIES

    plan = physical_plan(QUERIES["jl_projection"](spark, "/root/testdata/sf0.001"))
    assert "Exchange" not in plan
    assert "EvalPython" not in plan


def test_cms_join_size_bounds(spark):
    from pyspark.sql import functions as F

    from kg_etl_spark.operators.sketches import cms_join_size

    # left: keys 0..99 once each; right: key k appears (k % 5) times
    left = spark.range(100).select(F.col("id").alias("k"))
    right = spark.range(100).select(F.col("id").alias("k")).withColumn(
        "_n", F.pmod("k", F.lit(5))
    ).select(F.explode(F.sequence(F.lit(1), F.col("_n"))).alias("_i"), "k").select("k")
    exact = left.join(right, "k").count()
    est = cms_join_size(left, right, "k", "k", d=4, w=256).collect()[0]
    assert est["est_join_size"] >= exact          # CMS never underestimates
    # with 100 keys in 256 buckets collisions are rare: stay within 2x
    assert est["est_join_size"] <= 2 * exact

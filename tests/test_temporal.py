"""as-of join and range join tests (operators/temporal.py): backward
semantics, ties, tolerance, unmatched rows, interval boundaries, and
the equi-join plan shape."""

from __future__ import annotations

from pyspark.sql import functions as F

from kg_etl_spark.operators.temporal import asof_join, range_join


def _frames(spark):
    left = spark.createDataFrame(
        [("u1", 100, "p1"), ("u1", 205, "p2"), ("u2", 50, "p3"), ("u3", 10, "p4")],
        "user string, ts long, pid string",
    )
    right = spark.createDataFrame(
        [("u1", 90, "c1", 1.0), ("u1", 100, "c2", 2.0), ("u1", 200, "c3", 3.0),
         ("u2", 60, "c4", 4.0)],
        "user string, ts long, cid string, v double",
    )
    return left, right


def test_asof_backward_with_ties(spark):
    left, right = _frames(spark)
    out = {r["pid"]: r for r in
           asof_join(left, right, on="user", right_cols=("cid", "v")).collect()}
    assert out["p1"]["cid_asof"] == "c2"   # equal ts matches (<=)
    assert out["p2"]["cid_asof"] == "c3"   # latest before 205
    assert out["p3"]["cid_asof"] is None   # u2's only click is later
    assert out["p4"]["cid_asof"] is None   # no right rows for u3
    assert out["p2"]["v_asof"] == 3.0 and out["p2"]["ts_asof"] == 200


def test_asof_tolerance(spark):
    left, right = _frames(spark)
    out = {r["pid"]: r["cid_asof"] for r in
           asof_join(left, right, on="user", right_cols=("cid",), tolerance_s=4).collect()}
    assert out["p2"] is None      # 205-200=5 > 4 → stale, nulled
    assert out["p1"] == "c2"      # 0 <= 4


def test_asof_deterministic_across_partitionings(spark):
    left, right = _frames(spark)
    a = sorted(map(str, asof_join(left, right, on="user").collect()))
    b = sorted(map(str,
        asof_join(left.repartition(7), right.repartition(5), on="user").collect()))
    assert a == b


def test_range_join_boundaries(spark):
    pts = spark.createDataFrame(
        [("k", 10.0, "a"), ("k", 19.9, "b"), ("k", 20.0, "c"), ("k", 5.0, "d"),
         ("j", 12.0, "e")],
        "key string, x double, pid string",
    )
    iv = spark.createDataFrame(
        [("k", 10.0, 20.0, "i1"), ("j", 0.0, 100.0, "i2")],
        "key string, s double, e double, iid string",
    )
    got = {(r["pid"], r["iid"]) for r in
           range_join(pts, iv, on="key", point_col="x", start_col="s",
                      end_col="e", bucket_width=7.0).collect()}
    # half-open [s, e): 10 in, 19.9 in, 20.0 out, 5.0 out; cross-key excluded
    assert got == {("a", "i1"), ("b", "i1"), ("e", "i2")}


def test_range_join_plan_is_equi(spark):
    pts = spark.createDataFrame([("k", 10.0, "a")], "key string, x double, pid string")
    iv = spark.createDataFrame([("k", 0.0, 50.0, "i1")], "key string, s double, e double, iid string")
    plan = range_join(pts, iv, on="key", point_col="x", start_col="s",
                      end_col="e", bucket_width=10.0)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_rollup_merge_associative_commutative(spark):
    """merge(any partition of slices) == partial over the union, for
    out-of-order and uneven slices."""
    from kg_etl_spark.operators.incremental import merge_rollups, partial_rollup

    from pyspark.sql import functions as F

    df = spark.range(0, 3000).select(
        F.col("id"), (F.col("id") % 7).alias("k"), (F.col("id") % 101).cast("double").alias("v")
    )
    slices = [df.filter(F.col("id") % 3 == i) for i in range(3)]
    whole = partial_rollup(df, ["k"], "v")
    parts = [partial_rollup(s, ["k"], "v") for s in slices]
    merged_a = merge_rollups(parts, ["k"])                     # in order
    merged_b = merge_rollups([parts[2], parts[0], parts[1]], ["k"])  # shuffled
    def snap(x):
        return sorted(tuple(r) for r in x.select("k", "n", "sum_v", "min_v", "max_v").collect())
    assert snap(merged_a) == snap(whole)
    assert snap(merged_b) == snap(whole)

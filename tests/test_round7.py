"""Round-7 device hardening: data-adaptive range sizing, equi-depth
skew resilience, and null-safe group handling (the r6 verdict headline
directive + r6 advice items).

The bit-identity contract is the invariant under test everywhere: any
monotone bucketing of the order/rank key must reproduce the plain
window exactly, whatever the boundary placement."""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from kg_etl_spark.operators import adjacent as adj
from kg_etl_spark.operators import rankdev as rd


def _rows(df):
    def k(t):
        return tuple((v is None, v) for v in t)

    return sorted((tuple(r) for r in df.collect()), key=k)


# ---- pure helpers -------------------------------------------------------


def test_auto_num_ranges_clamps():
    class FakeConf:
        def __init__(self, v):
            self.v = v

        def get(self, *_):
            return self.v

    class FakeSpark:
        def __init__(self, v):
            self.conf = FakeConf(v)

    # floor: tiny inputs keep the r6 plan shape
    assert rd._auto_num_ranges(1, FakeSpark("16")) == 64
    assert rd._auto_num_ranges(10_000_000, FakeSpark("16")) == 64  # cap 4*16
    # grows with n up to 4x the shuffle width
    assert rd._auto_num_ranges(200_000_000, FakeSpark("512")) == 200
    assert rd._auto_num_ranges(10_000_000_000, FakeSpark("512")) == 2048
    # non-numeric conf ("auto") falls back to the floor
    assert rd._auto_num_ranges(10_000_000_000, FakeSpark("auto")) == 64


def test_is_straggler_needs_absolute_size_and_imbalance():
    # big AND >4x even share -> straggler
    assert 5_000_000 > rd._cell_threshold(20_000_000, 64)
    # big but balanced (even share 5M) -> not a straggler
    assert not 5_000_000 > rd._cell_threshold(320_000_000, 64)
    # imbalanced but small in absolute terms -> never re-split
    assert not 900 > rd._cell_threshold(1000, 64)


def test_boundary_expr_matches_bruteforce(spark):
    import random

    rng = random.Random(7)
    bnds = sorted(rng.uniform(-50, 50) for _ in range(15))
    bnds[3] = bnds[4]  # duplicate boundary (massive-tie regime)
    vals = [rng.uniform(-60, 60) for _ in range(300)] + bnds + [None]
    df = spark.createDataFrame([(v,) for v in vals], "k double")
    got = {
        r["k"]: r["b"]
        for r in df.withColumn("b", rd._boundary_expr(F.col("k"), bnds)).collect()
    }
    for v in vals:
        if v is None:
            # NULL keys take the leading cell (ASC-nulls-first order,
            # non-null cell id for name-based joins)
            assert got[None] == 0
        else:
            assert got[v] == sum(1 for b in bnds if b < v), v


def test_equidepth_balances_bursty(spark):
    # 90% of rows inside a sliver of a huge value span: equal-width
    # collapses them into one cell; equi-depth must keep every cell
    # within 2x the even share (the r7 acceptance bar, unit-scale)
    n, num_ranges = 40_000, 16
    df = spark.range(n).select(
        F.when(F.col("id") % 10 < 9, (F.col("id") % 86_400).cast("double"))
        .otherwise((F.col("id") * 7919 % 315_360_000).cast("double"))
        .alias("k")
    )
    bnds = rd._equidepth_boundaries(df, "k", num_ranges)
    counts = (
        df.withColumn("b", rd._boundary_expr(F.col("k"), bnds))
        .groupBy("b")
        .count()
        .collect()
    )
    assert max(r["count"] for r in counts) <= 2 * (n / num_ranges)
    # and the width bucketing really was degenerate (the premise)
    wc = (
        df.withColumn("b", rd._range_expr(F.col("k"), 0.0, 315_360_000.0, num_ranges))
        .groupBy("b")
        .count()
        .collect()
    )
    assert max(r["count"] for r in wc) > 0.8 * n


# ---- skew re-split keeps bit-identity (thresholds shrunk to test scale) --


@pytest.fixture()
def small_thresholds(monkeypatch):
    # the cell planner (rankdev._cell_plan) reads the module global at
    # call time, so a ~20k-row frame exercises the scale path
    monkeypatch.setattr(rd, "SKEW_CELL_ROWS", 500)


def _bursty_events(spark, n=20_000):
    # 95% of "timestamps" in one day of a 10-year span, 3 types
    return spark.range(n).select(
        F.col("id").alias("event_id"),
        F.concat(F.lit("t"), (F.col("id") % 3).cast("string")).alias("event_type"),
        (F.col("id") * 2654435761 % 9973).alias("user_id"),
        F.when(F.col("id") % 20 < 19, (F.col("id") * 131 % 86_400).cast("double"))
        .otherwise((F.col("id") * 7919 % 315_360_000).cast("double"))
        .alias("ts"),
    )


def test_with_next_bursty_resplit_bit_identical(spark, small_thresholds):
    ev = _bursty_events(spark)
    got = adj.with_next(ev, ["event_type"], "ts", ["event_id"], ["user_id"])
    w = Window.partitionBy("event_type").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    want = ev.withColumn("next_user_id", F.lead("user_id").over(w))
    assert _rows(got) == _rows(want)
    # the equi-depth path was actually taken: the planner's boundaries
    # are memoized
    memo = rd._memo(ev)
    nr = rd._auto_num_ranges(20_000, spark)
    plan = memo.get(("cells", "ts", ("event_type",), ("event_id",), nr, None))
    assert plan and plan["bnds"], memo.keys()


def test_with_prefix_max_bursty_resplit_bit_identical(spark, small_thresholds):
    ev = _bursty_events(spark)
    got = adj.with_prefix_max(ev, ["event_type"], "ts", ["event_id"], "user_id")
    w = (
        Window.partitionBy("event_type")
        .orderBy(F.col("ts").asc(), F.col("event_id").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    want = ev.withColumn("prefix_max_excl", F.max("user_id").over(w))
    assert _rows(got) == _rows(want)


def test_global_row_number_bursty_resplit_exact(spark, small_thresholds):
    df = _bursty_events(spark).withColumnRenamed("ts", "v")
    got, n = rd.global_row_number(df, "v", tiebreaks=["event_id"], out_col="rn")
    w = Window.orderBy(F.col("v").asc(), F.col("event_id").asc())
    want = df.coalesce(1).withColumn("rn", F.row_number().over(w).cast("long"))
    assert n == df.count()
    assert _rows(got) == _rows(want)


def test_grouped_row_number_bursty_resplit_exact(spark, small_thresholds):
    df = _bursty_events(spark, 10_000)
    got = rd.grouped_row_number(
        df, ["event_type"], "ts", ["event_id"], out_col="rn", count_col="n"
    )
    w = Window.partitionBy("event_type").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    cw = Window.partitionBy("event_type")
    want = df.withColumn("rn", F.row_number().over(w).cast("long")).withColumn(
        "n", F.count(F.lit(1)).over(cw).cast("long")
    )
    assert _rows(got) == _rows(want)


def test_grouped_row_number_all_null_key_straggler_cell(spark, small_thresholds):
    # one group's keys are all NULL, so its leading (group, cell) is a
    # straggler whose min/max are NULL: there is nothing to split, and
    # the plan must keep the width cells rather than fail
    df = spark.range(3000).select(
        F.col("id").alias("tb"),
        (F.col("id") % 3).alias("g"),
        F.when(F.col("id") % 3 == 0, F.lit(None).cast("double"))
        .otherwise((F.col("id") * 7919 % 100_003).cast("double"))
        .alias("k"),
    )
    got = rd.grouped_row_number(df, ["g"], "k", ["tb"], out_col="rn", count_col="n")
    w = Window.partitionBy("g").orderBy(F.col("k").asc(), F.col("tb").asc())
    want = df.withColumn("rn", F.row_number().over(w).cast("long")).withColumn(
        "n", F.count(F.lit(1)).over(Window.partitionBy("g")).cast("long")
    )
    assert _rows(got) == _rows(want)


def test_quantile_normalize_bursty_resplit_exact(
    spark, small_thresholds, quantile_normalize_by_window
):
    from kg_etl_spark.operators.datapipe import quantile_normalize

    ev = _bursty_events(spark, 10_000)
    got = quantile_normalize(ev, "ts", "event_type", "event_id")
    want = quantile_normalize_by_window(ev, "ts", "event_type", "event_id")
    assert _rows(got) == _rows(want)


def test_global_cumsum_bursty_resplit_exact(spark, small_thresholds):
    # unique order values (the cumsum contract), bursty distribution
    df = spark.range(8000).select(
        F.when(F.col("id") < 7600, F.col("id").cast("double"))
        .otherwise((F.col("id") * 1000).cast("double"))
        .alias("o"),
        (F.col("id") % 11).cast("long").alias("c"),
    )
    got = rd.global_cumsum(df, "o", ["c"], prefix="cum_")
    w = Window.orderBy(F.col("o").asc()).rowsBetween(Window.unboundedPreceding, 0)
    want = df.coalesce(1).withColumn("cum_c", F.sum("c").over(w))
    assert _rows(got) == _rows(want)


# ---- null-safe group/key handling (r6 advice) ---------------------------


def _null_group_frame(spark):
    return spark.createDataFrame(
        [
            (None, 3.0, 1, 10),
            (None, 1.0, 2, 20),
            (None, 2.0, 3, 30),
            ("a", 1.0, 4, 40),
            ("a", 2.0, 5, 50),
            ("b", 9.0, 6, 60),
        ],
        "g string, k double, tb long, v long",
    )


def test_with_next_null_group_is_its_own_stream(spark):
    df = _null_group_frame(spark)
    got = adj.with_next(df, ["g"], "k", ["tb"], ["v"], num_ranges=4)
    w = Window.partitionBy("g").orderBy(F.col("k").asc(), F.col("tb").asc())
    want = df.withColumn("next_v", F.lead("v").over(w))
    assert _rows(got) == _rows(want)


def test_with_prefix_max_null_group(spark):
    df = _null_group_frame(spark)
    got = adj.with_prefix_max(df, ["g"], "k", ["tb"], "v", num_ranges=4)
    w = (
        Window.partitionBy("g")
        .orderBy(F.col("k").asc(), F.col("tb").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    want = df.withColumn("prefix_max_excl", F.max("v").over(w))
    assert _rows(got) == _rows(want)


# ---- reliable-checkpoint code path (r6 verdict directive #2) -------------


def test_lineage_cut_honors_checkpoint_dir(spark, tmp_path):
    """One iterative kernel (connected components — lineage_cut per
    round) run BOTH ways: the localCheckpoint path (no dir set) and the
    reliable checkpoint() path (dir set). Results must match and the
    reliable path must actually write checkpoint blocks to the dir —
    the SCALE.md 'config-only change on a real cluster' promise as a
    tested code path, not a doc line."""
    from kg_etl_spark.operators.components import components_iterative

    sc = spark.sparkContext
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (7, 7), (8, 6)], "src long, dst long"
    )
    assert sc.getCheckpointDir() is None
    local_res = sorted(tuple(r) for r in components_iterative(edges).collect())
    sc.setCheckpointDir(str(tmp_path))
    try:
        assert sc.getCheckpointDir() is not None
        rel_res = sorted(tuple(r) for r in components_iterative(edges).collect())
        assert rel_res == local_res
        # blocks really landed in durable storage
        assert any(tmp_path.rglob("*")), "no checkpoint files written"
    finally:
        # reset so the rest of the session's tests keep the local path
        # (Scala setCheckpointDir(null) clears the Option)
        sc._jsc.sc().setCheckpointDir(None)
        assert sc.getCheckpointDir() is None


def test_grouped_row_number_null_groups_and_keys(spark):
    # NULL group keys AND NULL rank keys: both must match the plain
    # window (NULL group = its own partition; NULL key ranks first)
    df = spark.createDataFrame(
        [
            (None, 3.0, 1),
            (None, None, 2),
            (None, 1.0, 3),
            ("a", None, 4),
            ("a", 2.0, 5),
            ("a", 1.0, 6),
            ("b", 5.0, 7),
        ],
        "g string, k double, tb long",
    )
    got = rd.grouped_row_number(
        df, ["g"], "k", ["tb"], out_col="rn", count_col="n", num_ranges=4
    )
    w = Window.partitionBy("g").orderBy(F.col("k").asc(), F.col("tb").asc())
    want = df.withColumn("rn", F.row_number().over(w).cast("long")).withColumn(
        "n", F.count(F.lit(1)).over(Window.partitionBy("g")).cast("long")
    )
    assert _rows(got) == _rows(want)


# ---- round-7 new catalog queries: brute-force checks ---------------------

SF = "/root/testdata/sf0.001"


def test_event_gap_quantiles_bruteforce(spark):
    import numpy as np

    from kg_etl_spark.queries.events import q_event_gap_quantiles

    got = {r["event_type"]: r for r in q_event_gap_quantiles(spark, SF).collect()}
    ev = spark.read.parquet(SF + "/events.parquet").select(
        "event_type", "ts", "event_id"
    ).collect()
    by_type: dict = {}
    for r in ev:
        by_type.setdefault(r["event_type"], []).append((r["ts"], r["event_id"]))
    for t, rows in by_type.items():
        rows.sort()
        gaps = [
            (b[0] - a[0]).total_seconds() * 1e6 for a, b in zip(rows, rows[1:])
        ]
        assert got[t]["n_gaps"] == len(gaps)
        # numpy 'linear' is the same percentile_cont interpolation
        assert abs(got[t]["p50_s"] - np.percentile(gaps, 50) / 1e6) < 1e-5
        assert abs(got[t]["p95_s"] - np.percentile(gaps, 95) / 1e6) < 1e-5


def test_heavy_key_profile_bruteforce(spark):
    from collections import Counter

    from kg_etl_spark.queries.events import q_heavy_key_profile

    got = q_heavy_key_profile(spark, SF).collect()
    rows = spark.read.parquet(SF + "/events.parquet").select("user_id").collect()
    cnt = Counter(r["user_id"] for r in rows)
    want = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    assert [(r["user_id"], r["n_events"]) for r in got] == want or sorted(
        (r["user_id"], r["n_events"]) for r in got
    ) == sorted(want)
    n = len(rows)
    for r in got:
        assert abs(r["share"] - cnt[r["user_id"]] / n) < 1e-6


def test_equidepth_histogram_bruteforce(spark):
    from kg_etl_spark.queries.relational import q_equidepth_histogram

    got = {r["tile"]: r for r in q_equidepth_histogram(spark, SF).collect()}
    li = spark.read.parquet(SF + "/lineitem.parquet").select(
        "l_extendedprice", "l_orderkey", "l_linenumber"
    ).collect()
    rows = sorted((r[0], r[1], r[2]) for r in li)
    n, k = len(rows), 16
    q, rem = divmod(n, k)
    sizes = [q + 1 if i < rem else q for i in range(k)]
    pos = 0
    for i, sz in enumerate(sizes, start=1):
        chunk = rows[pos:pos + sz]
        pos += sz
        assert got[i]["n_rows"] == sz
        assert got[i]["lo_price"] == chunk[0][0]
        assert got[i]["hi_price"] == max(c[0] for c in chunk)


def test_zipf_tail_fit_bruteforce(spark):
    import math
    from collections import Counter

    from kg_etl_spark.queries.textq import q_zipf_tail_fit

    got = q_zipf_tail_fit(spark, SF).collect()[0]
    docs = spark.read.parquet(SF + "/documents.parquet").select("text").collect()
    cnt = Counter(
        w for r in docs for w in r["text"].strip().lower().split() if w
    )
    top = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[:100]
    xs = [math.log(i + 1) for i in range(len(top))]
    ys = [math.log(n) for _, n in top]
    k = len(top)
    sx, sy = sum(xs), sum(ys)
    sxy = sum(a * b for a, b in zip(xs, ys))
    sxx = sum(a * a for a in xs)
    slope = (k * sxy - sx * sy) / (k * sxx - sx * sx)
    assert got["n_top"] == k
    assert abs(got["zipf_slope"] - slope) < 1e-5
    assert got["zipf_slope"] < 0  # frequencies decay with rank


def test_type_burstiness_bruteforce(spark):
    import statistics
    from collections import Counter

    from kg_etl_spark.queries.events import q_type_burstiness

    got = {r["event_type"]: r for r in q_type_burstiness(spark, SF).collect()}
    ev = spark.read.parquet(SF + "/events.parquet").select("event_type", "ts").collect()
    daily = Counter(
        (r["event_type"], int(r["ts"].timestamp() * 1e6) // 86_400_000_000)
        for r in ev
    )
    by_type: dict = {}
    for (t, _), c in daily.items():
        by_type.setdefault(t, []).append(c)
    for t, cs in by_type.items():
        assert got[t]["n_days"] == len(cs)
        fano = statistics.variance(cs) / statistics.mean(cs)
        assert abs(got[t]["fano"] - fano) < 1e-5

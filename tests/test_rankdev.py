"""Two-phase exact global rank device (operators/rankdev.py): the
replacement for single-partition Window.orderBy. Every assertion
compares against the plain window form — the device must be
bit-identical, just partitioned."""

from __future__ import annotations

import itertools

from pyspark.sql import Window
from pyspark.sql import functions as F

from kg_etl_spark.operators.rankdev import (
    global_cumsum,
    global_ntile,
    global_row_number,
    ntile_expr,
)


def _frame(spark, n=137, seed=7):
    # deterministic pseudo-random values with heavy ties (v % 10)
    rows = [(i, (i * 2654435761 + seed) % 97 % 10, float((i * 48271) % 113)) for i in range(n)]
    return spark.createDataFrame(rows, "id long, v long, x double")


def test_global_row_number_matches_window_asc(spark):
    df = _frame(spark)
    got, n = global_row_number(df, "v", tiebreaks=["id"], out_col="rn", num_ranges=8)
    w = Window.orderBy(F.col("v").asc(), F.col("id").asc())
    want = df.withColumn("rn", F.row_number().over(w).cast("long"))
    assert n == df.count()
    assert (
        got.select("id", "rn").subtract(want.select("id", "rn")).count() == 0
    )


def test_global_row_number_matches_window_desc(spark):
    df = _frame(spark)
    got, _ = global_row_number(
        df, "v", ascending=False, tiebreaks=["id"], out_col="rn", num_ranges=8
    )
    w = Window.orderBy(F.col("v").desc(), F.col("id").asc())
    want = df.withColumn("rn", F.row_number().over(w).cast("long"))
    assert got.select("id", "rn").subtract(want.select("id", "rn")).count() == 0


def test_global_ntile_matches_window_all_k(spark):
    df = _frame(spark, n=101)
    for k in (3, 5, 10):
        got = global_ntile(df, "v", k, tiebreaks=["id"], out_col="t", num_ranges=8)
        w = Window.orderBy(F.col("v").asc(), F.col("id").asc())
        want = df.withColumn("t", F.ntile(k).over(w).cast("int"))
        assert (
            got.select("id", "t").subtract(want.select("id", "t")).count() == 0
        ), f"ntile({k}) mismatch"


def test_ntile_fewer_rows_than_tiles(spark):
    df = _frame(spark, n=4)
    got = global_ntile(df, "v", 10, tiebreaks=["id"], out_col="t")
    w = Window.orderBy(F.col("v").asc(), F.col("id").asc())
    want = df.withColumn("t", F.ntile(10).over(w).cast("int"))
    assert got.select("id", "t").subtract(want.select("id", "t")).count() == 0


def test_constant_key_falls_back_to_subkey(spark):
    df = spark.createDataFrame([(i, 5) for i in range(50)], "id long, v long")
    got, n = global_row_number(
        df, "v", tiebreaks=["id"], out_col="rn", num_ranges=8, subkey="id"
    )
    assert n == 50
    # with v constant the order is id order
    rows = {r["id"]: r["rn"] for r in got.collect()}
    assert rows == {i: i + 1 for i in range(50)}
    # and the plan must NOT have collapsed to one range: ids spread buckets
    assert got.withColumn("_r", F.lit(1)).count() == 50


def test_constant_key_subkey_fallback_descending(spark):
    # ADVICE r4 regression: with the key constant and ascending=False the
    # subkey-fallback offsets used to accumulate from the highest subkey
    # range DOWN while the local windows ranked subkey ASC — ranks matched
    # no total order. A constant key contributes nothing to ORDER BY, so
    # the correct global order is subkey ASC regardless of `ascending`.
    df = spark.createDataFrame([(i, 5) for i in range(50)], "id long, v long")
    got, n = global_row_number(
        df, "v", ascending=False, tiebreaks=["id"], out_col="rn",
        num_ranges=8, subkey="id",
    )
    assert n == 50
    w = Window.orderBy(F.col("v").desc(), F.col("id").asc())
    want = df.withColumn("rn", F.row_number().over(w).cast("long"))
    assert got.select("id", "rn").subtract(want.select("id", "rn")).count() == 0


def test_constant_key_subkey_fallback_descending_ntile(spark):
    df = spark.createDataFrame([(i, 9) for i in range(41)], "id long, v long")
    got = global_ntile(
        df, "v", 4, ascending=False, tiebreaks=["id"], out_col="t",
        num_ranges=8, subkey="id",
    )
    w = Window.orderBy(F.col("v").desc(), F.col("id").asc())
    want = df.withColumn("t", F.ntile(4).over(w).cast("int"))
    assert got.select("id", "t").subtract(want.select("id", "t")).count() == 0


def test_empty_frame(spark):
    df = spark.createDataFrame([], "id long, v long")
    got, n = global_row_number(df, "v", tiebreaks=["id"], out_col="rn")
    assert n == 0 and got.count() == 0


def test_global_cumsum_matches_window(spark):
    df = spark.createDataFrame(
        [(float(v), v % 7, (v * 3) % 5) for v in range(80)],
        "value double, c1 long, c2 long",
    )
    got = global_cumsum(df, "value", ["c1", "c2"], num_ranges=8, prefix="a_")
    w = Window.orderBy("value").rowsBetween(Window.unboundedPreceding, 0)
    want = df.select(
        "value",
        F.sum("c1").over(w).alias("a_c1"),
        F.sum("c2").over(w).alias("a_c2"),
    )
    assert (
        got.select("value", "a_c1", "a_c2").subtract(want).count() == 0
    )


def test_device_plan_has_no_unpartitioned_window(spark):
    df = _frame(spark, n=200)
    got, _ = global_row_number(df, "v", tiebreaks=["id"], out_col="rn", num_ranges=8)
    plan = got._jdf.queryExecution().executedPlan().toString()
    # every Window in the device plan is partitioned by the range id
    for line in plan.splitlines():
        if "Window" in line and "windowspecdefinition" in line:
            assert "_rdrng" in line, f"unpartitioned window in device plan: {line}"


def test_grouped_row_number_matches_window(spark):
    from kg_etl_spark.operators.rankdev import grouped_row_number

    # 3 groups, heavy key ties, unique (d1, d2) tiebreaks
    rows = [
        (f"g{i % 3}", float((i * 48271) % 11), i % 13, i)
        for i in range(500)
    ]
    df = spark.createDataFrame(rows, "g string, k double, d1 long, d2 long")
    got = grouped_row_number(
        df, ["g"], "k", ["d1", "d2"], out_col="rn", count_col="np", num_ranges=8
    )
    w = Window.partitionBy("g").orderBy(
        F.col("k").asc(), F.col("d1").asc(), F.col("d2").asc()
    )
    wn = Window.partitionBy("g")
    want = df.withColumn("rn", F.row_number().over(w).cast("long")).withColumn(
        "np", F.count(F.lit(1)).over(wn).cast("long")
    )
    assert (
        got.select("g", "d1", "d2", "rn", "np")
        .subtract(want.select("g", "d1", "d2", "rn", "np"))
        .count()
        == 0
    )


def test_grouped_row_number_constant_key_and_empty(spark):
    from kg_etl_spark.operators.rankdev import grouped_row_number

    df = spark.createDataFrame(
        [("a", 1.0, i) for i in range(20)] + [("b", 1.0, i) for i in range(5)],
        "g string, k double, t long",
    )
    got = grouped_row_number(df, ["g"], "k", ["t"], out_col="rn", count_col="np")
    rows = {(r["g"], r["t"]): (r["rn"], r["np"]) for r in got.collect()}
    assert rows[("a", 0)] == (1, 20) and rows[("a", 19)] == (20, 20)
    assert rows[("b", 4)] == (5, 5)
    empty = spark.createDataFrame([], "g string, k double, t long")
    out = grouped_row_number(empty, ["g"], "k", ["t"])
    assert out.count() == 0 and "rn" in out.columns


def test_grouped_device_plan_windows_are_cell_partitioned(spark):
    from kg_etl_spark.operators.rankdev import grouped_row_number
    from kg_etl_spark.plans import physical_plan

    df = spark.createDataFrame(
        [(f"g{i % 2}", float(i % 29), i) for i in range(300)],
        "g string, k double, t long",
    )
    got = grouped_row_number(df, ["g"], "k", ["t"], num_ranges=8)
    plan = physical_plan(got)
    import re

    # corpus-side windows must carry the range cell column; the only
    # group-keyed windows run on the tiny cells frame (offsets/counts)
    for m in re.finditer(r"windowspecdefinition\(([^)]*)", plan):
        spec = m.group(1)
        if "_grr" not in spec:
            assert "_cn" in plan, f"group-only window over corpus:\n{spec}"


def test_global_row_number_by_string_key(spark):
    from kg_etl_spark.operators.rankdev import global_row_number_by

    rows = [(i, f"name_{(i * 48271) % 211:03d}") for i in range(500)]
    df = spark.createDataFrame(rows, "id long, name string")
    got = global_row_number_by(df, ["name", "id"], out_col="rn")
    w = Window.orderBy(F.col("name").asc(), F.col("id").asc())
    want = df.withColumn("rn", F.row_number().over(w).cast("long"))
    assert got.select("id", "rn").subtract(want.select("id", "rn")).count() == 0
    # partition-count determinism: same values at a different width
    got7 = global_row_number_by(df, ["name", "id"], out_col="rn", num_parts=7)
    assert got7.select("id", "rn").subtract(want.select("id", "rn")).count() == 0
    # empty frame
    empty = spark.createDataFrame([], "id long, name string")
    out = global_row_number_by(empty, ["name", "id"])
    assert out.count() == 0 and "rn" in out.columns


def test_memo_propagation_and_prime_stats(spark):
    """Chained devices must find their statistics memoized: priming N
    keys is ONE aggregate job, each device's output carries the memo
    forward, and a fresh rank column's stats are seeded (1..n) without
    any job — while values stay bit-identical to the plain windows."""
    from kg_etl_spark.operators.rankdev import (
        _STATS_MEMO,
        _key_stats,
        prime_stats,
    )

    df = _frame(spark, n=211)
    prime_stats(df, ["v", "x"])
    memo = _STATS_MEMO[df]
    # primed entries match what the per-key probe would compute
    for c in ("v", "x"):
        assert memo[("stats", c)] == _key_stats(df, c)
    # rank device: seeds its out_col stats and carries the memo forward
    r1, n = global_row_number(df, "v", tiebreaks=["id"], out_col="r1")
    m1 = _STATS_MEMO[r1]
    assert m1[("stats", "r1")] == (n, 1.0, float(n))
    assert m1[("stats", "x")] == memo[("stats", "x")]  # propagated
    # second device on the derived frame: stats pre-seeded, no probe
    r2, _ = global_row_number(r1, "x", tiebreaks=["id"], out_col="r2")
    assert _STATS_MEMO[r2][("stats", "r2")] == (n, 1.0, float(n))
    # cumsum ordered by the seeded rank: stats probe skipped, values exact
    cum = global_cumsum(r1, "r1", ["x"])
    w = Window.orderBy(F.col("v").asc(), F.col("id").asc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    want = df.withColumn("cum_x", F.sum("x").over(w))
    assert (
        cum.select("id", "cum_x").subtract(want.select("id", "cum_x")).count()
        == 0
    )
    # chained ranks stay bit-identical to the plain windows
    w1 = Window.orderBy(F.col("v").asc(), F.col("id").asc())
    w2 = Window.orderBy(F.col("x").asc(), F.col("id").asc())
    want2 = df.withColumn("r1", F.row_number().over(w1).cast("long")).withColumn(
        "r2", F.row_number().over(w2).cast("long")
    )
    assert (
        r2.select("id", "r1", "r2")
        .subtract(want2.select("id", "r1", "r2"))
        .count()
        == 0
    )


# ---- serial statistics rounds: a job budget per device ------------------

_BUDGET_GROUPS = itertools.count()


def _jobs_scheduled(spark, fn) -> int:
    """Spark jobs ``fn`` schedules, counted under a job group of its own."""
    sc = spark.sparkContext
    group = f"range-device-budget-{next(_BUDGET_GROUPS)}"
    sc.setJobGroup(group, "range device job budget")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


# Jobs each device schedules before its action, on a first call over a
# frame below the straggler bar: the bounds aggregate, plus the per-cell
# probe where the offsets need it (AQE runs the shuffle stage of a
# collect as a job of its own); quantile_normalize adds the eager cut
# of its global rank.  The ceilings are the counts measured
# when each device still wrote out its own bucketing policy, so a
# change that adds serial rounds to the served path fails here.
DEVICE_JOB_BUDGET = {
    "global_row_number": 4,
    "grouped_row_number": 2,
    "global_cumsum": 4,
    "with_next": 2,
    "with_prefix_max": 2,
    "quantile_normalize": 8,
}


def test_range_device_job_budget(spark):
    from kg_etl_spark.operators.adjacent import with_next, with_prefix_max
    from kg_etl_spark.operators.datapipe import quantile_normalize
    from kg_etl_spark.operators.rankdev import grouped_row_number

    devices = {
        "global_row_number": lambda d: global_row_number(
            d, "ts", tiebreaks=["event_id"]
        ),
        "grouped_row_number": lambda d: grouped_row_number(
            d, ["event_type"], "ts", ["event_id"]
        ),
        "global_cumsum": lambda d: global_cumsum(d, "ts", ["user_id"]),
        "with_next": lambda d: with_next(
            d, ["event_type"], "ts", ["event_id"], ["user_id"]
        ),
        "with_prefix_max": lambda d: with_prefix_max(
            d, ["event_type"], "ts", ["event_id"], "user_id"
        ),
        "quantile_normalize": lambda d: quantile_normalize(
            d, "ts", "event_type", "event_id"
        ),
    }
    got = {}
    for name, device in devices.items():
        # a fresh frame per device: its statistics memo starts empty
        ev = spark.range(2000).select(
            F.col("id").alias("event_id"),
            F.concat(F.lit("t"), (F.col("id") % 3).cast("string")).alias("event_type"),
            (F.col("id") * 2654435761 % 9973).alias("user_id"),
            ((F.col("id") * 7919) % 100_003).cast("double").alias("ts"),
        ).localCheckpoint(eager=True)
        got[name] = _jobs_scheduled(spark, lambda: device(ev))
    assert all(got[k] <= DEVICE_JOB_BUDGET[k] for k in got), got


# rfm_segments before its action: the eager cut of the per-customer
# frame, prime_stats (one bounds job for the three keys) and the three
# global_row_number per-cell probes.  Measured as DEVICE_JOB_BUDGET.
RFM_EAGER_JOB_BUDGET = 14


def test_rfm_segments_eager_job_budget(spark, tmp_path):
    from kg_etl_spark.queries import QUERIES

    spark.range(3000).select(
        F.col("id").alias("o_orderkey"),
        (F.col("id") * 7919 % 401).alias("o_custkey"),
        ((F.col("id") * 48271) % 90_000 / 100.0).alias("o_totalprice"),
        F.timestamp_micros(
            F.lit(694_224_000_000_000) + (F.col("id") * 2654435761 % 2400) * 86_400_000_000
        ).alias("o_orderdate"),
    ).write.parquet(str(tmp_path / "orders.parquet"))
    jobs = _jobs_scheduled(spark, lambda: QUERIES["rfm_segments"](spark, str(tmp_path)))
    assert 0 < jobs <= RFM_EAGER_JOB_BUDGET, jobs

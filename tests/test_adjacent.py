"""with_next (operators/adjacent.py) must be BIT-identical to the
single window's lead() — the 17 event-derivation oracles spell the
window form in SQL, so any drift here is a correctness break, not just
a perf issue."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from kg_etl_spark.operators.adjacent import (
    stream_lead,
    transition_edges,
    undirected_transition_edges,
    with_next,
)

SF = "/root/testdata/sf0.001"


def _window_lead(df, group_cols, order_col, tiebreaks, next_cols, prefix="next_"):
    w = Window.partitionBy(*group_cols).orderBy(
        F.col(order_col).asc(), *[F.col(t).asc() for t in tiebreaks]
    )
    out = df
    for c in next_cols:
        out = out.withColumn(prefix + c, F.lead(c).over(w))
    return out


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_matches_window_on_events(spark):
    ev = spark.read.parquet(SF + "/events.parquet")
    got = stream_lead(ev, ["user_id", "ts"], num_ranges=16)
    want = _window_lead(
        ev, ["event_type"], "ts", ["event_id"], ["user_id", "ts"]
    )
    assert _rows(got) == _rows(want)


def test_matches_window_with_heavy_ties(spark):
    # many rows share the order key (forced into ONE cell); the
    # tiebreak column alone defines the successor
    df = spark.range(2000).select(
        (F.col("id") % 3).alias("g"),
        (F.col("id") % 7).cast("double").alias("k"),  # 7 distinct keys, heavy ties
        F.col("id").alias("tb"),
        (F.col("id") * 13 % 101).alias("v"),
    )
    got = with_next(df, ["g"], "k", ["tb"], ["v", "tb"], num_ranges=8)
    want = _window_lead(df, ["g"], "k", ["tb"], ["v", "tb"])
    assert _rows(got) == _rows(want)


def test_matches_window_more_ranges_than_rows(spark):
    df = spark.range(5).select(
        F.lit("a").alias("g"), F.col("id").alias("k"), F.col("id").alias("v")
    )
    got = with_next(df, ["g"], "k", [], ["v"], num_ranges=64)
    want = _window_lead(df, ["g"], "k", [], ["v"])
    assert _rows(got) == _rows(want)


def test_constant_order_key_degrades_to_window(spark):
    df = spark.range(100).select(
        (F.col("id") % 2).alias("g"),
        F.lit(1.0).alias("k"),
        F.col("id").alias("tb"),
        (F.col("id") + 7).alias("v"),
    )
    got = with_next(df, ["g"], "k", ["tb"], ["v"], num_ranges=8)
    want = _window_lead(df, ["g"], "k", ["tb"], ["v"])
    assert _rows(got) == _rows(want)


def test_empty_frame(spark):
    df = spark.range(0).select(
        F.lit("a").alias("g"), F.col("id").alias("k"), F.col("id").alias("v")
    )
    out = with_next(df, ["g"], "k", [], ["v"])
    assert out.count() == 0
    assert "next_v" in out.columns


def test_transition_edges_match_window_form(spark):
    ev = spark.read.parquet(SF + "/events.parquet")
    w = Window.partitionBy("event_type").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    want = (
        ev.select(
            F.col("user_id").alias("src"), F.lead("user_id").over(w).alias("dst")
        )
        .filter(F.col("dst").isNotNull() & (F.col("src") != F.col("dst")))
    )
    assert _rows(transition_edges(ev)) == _rows(want)
    want_u = want.select(
        F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
    ).distinct()
    assert _rows(undirected_transition_edges(ev)) == _rows(want_u)


def test_transition_edges_with_ts(spark):
    ev = spark.read.parquet(SF + "/events.parquet")
    w = Window.partitionBy("event_type").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    want = (
        ev.select(
            F.col("user_id").alias("src"),
            F.lead("user_id").over(w).alias("dst"),
            F.lead(F.unix_micros("ts")).over(w).alias("t"),
        )
        .filter(F.col("dst").isNotNull() & (F.col("src") != F.col("dst")))
    )
    assert _rows(transition_edges(ev, with_ts=True)) == _rows(want)


def test_no_low_cardinality_window_in_plan(spark):
    # the whole point: no Window whose partition spec is the raw
    # low-cardinality group key alone — every window in the plan must
    # include the range-bucket column (corpus cells) or run on the tiny
    # carry frame (partition rows bounded by num_ranges).
    import re

    from kg_etl_spark.plans import physical_plan

    ev = spark.read.parquet(SF + "/events.parquet")
    plan = physical_plan(stream_lead(ev, ["user_id"]))
    # every corpus-side window partitions on (..., _apr)
    for m in re.finditer(r"Window .*partitionBy=\[([^\]]*)\]", plan):
        keys = m.group(1)
        assert "_apr" in keys or "event_type" not in keys, plan
    # Arguments-style formatted plans: find window operator argument rows
    for m in re.finditer(r"windowspecdefinition\(([^)]*)\)", plan):
        spec = m.group(1)
        if "event_type" in spec:
            assert "_apr" in spec, f"low-cardinality-only window in plan:\n{plan}"


def test_group_free_matches_partitionless_window(spark):
    # group_cols=[] — the replacement for a PARTITION-LESS lead (the
    # canonical one-task global sort): cells partition the whole frame
    df = spark.range(1000).select(
        (F.col("id") * 48271 % 997).cast("double").alias("k"),
        F.col("id").alias("tb"),
        (F.col("id") % 7).alias("v"),
    )
    got = with_next(df, [], "k", ["tb"], ["v"], num_ranges=8)
    w = Window.orderBy(F.col("k").asc(), F.col("tb").asc())
    want = df.withColumn("next_v", F.lead("v").over(w))
    assert _rows(got) == _rows(want)


def test_prefix_max_matches_window(spark):
    from kg_etl_spark.operators.adjacent import with_prefix_max

    df = spark.range(3000).select(
        (F.col("id") % 4).alias("g"),
        F.col("id").alias("o"),
        ((F.col("id") * 2654435761) % 997).alias("v"),
    )
    got = with_prefix_max(df, ["g"], "o", [], "v", num_ranges=8)
    w = (
        Window.partitionBy("g")
        .orderBy("o")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    want = df.withColumn("prefix_max_excl", F.max("v").over(w))
    assert _rows(got) == _rows(want)
    # empty frame
    empty = spark.range(0).select(
        F.lit("a").alias("g"), F.col("id").alias("o"), F.col("id").alias("v")
    )
    out = with_prefix_max(empty, ["g"], "o", [], "v")
    assert out.count() == 0 and "prefix_max_excl" in out.columns

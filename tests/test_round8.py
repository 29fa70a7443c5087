"""Round-8 device hardening: exact NTILE division at large tiles,
broadcast offset lookup above the inline threshold, memoized rankdev
statistics, and heavy-tie splitting (the r7 verdict directives + the
r7 high-severity advice item).

The bit-identity contract remains the invariant under test: any
monotone bucketing of the order/rank key — now including the tiebreak
sub-bucketing WITHIN a dominant tie value — must reproduce the plain
window exactly."""

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


# ---- exact NTILE at large tile sizes (r7 advice, high) -------------------


def test_ntile_col_expr_exact_at_large_tiles(spark):
    # decimal(38,0)/decimal(20,0) resolves to decimal(38,6) and
    # HALF_UP-rounds the quotient to 6dp BEFORE floor: rn=2000001,
    # n=20000001, k=10 computed floor(round(2000000/2000001)) =
    # floor(1.000000) = 1 -> tile 2; correct NTILE is 1.
    df = spark.createDataFrame([(2_000_001, 20_000_001)], "rn long, n long")
    got = df.select(
        rd.ntile_col_expr(F.col("rn"), F.col("n"), 10).alias("t")
    ).collect()[0]["t"]
    assert got == 1


def test_ntile_col_expr_matches_driver_formula_on_boundaries(spark):
    # every tile-boundary row (last of tile t, first of tile t+1) for
    # tile sizes well past the 2e6 rounding hazard, plus the n<k and
    # tiny-n regimes — the column form must agree with the driver-side
    # integer formula (ntile_expr) everywhere
    cases = []
    for n, k in [(20_000_001, 10), (6_000_004, 3), (9, 4), (3, 10), (1, 1)]:
        q, r = divmod(n, k)
        rns = {1, n}
        for t in range(1, k + 1):
            hi = t * q + min(t, r)  # last row of tile t
            for rn in (hi, hi + 1):
                if 1 <= rn <= n:
                    rns.add(rn)
        cases += [(rn, n, k) for rn in sorted(rns)]
    df = spark.createDataFrame(cases, "rn long, n long, k long")
    for n, k in {(n, k) for _, n, k in cases}:
        sub = df.filter((F.col("n") == n) & (F.col("k") == k))
        got = sub.select(
            "rn", rd.ntile_col_expr(F.col("rn"), F.col("n"), k).alias("t")
        )
        want = sub.select(
            "rn", rd.ntile_expr(F.col("rn"), n, k).cast("long").alias("t")
        )
        assert _rows(got) == _rows(want), (n, k)

# ---- heavy-tie splitting keeps bit-identity (thresholds shrunk) ----------


@pytest.fixture()
def tie_thresholds(monkeypatch):
    # SKEW_CELL_ROWS gates the cell planner's probes (read at call
    # time); TARGET_CELL_ROWS sizes the tie sub-cells in _tie_stats
    monkeypatch.setattr(rd, "SKEW_CELL_ROWS", 500)
    monkeypatch.setattr(rd, "TARGET_CELL_ROWS", 500)


def _heavy_tie_events(spark, n=20_000):
    # 60% of events at ONE timestamp value (the epoch-zero/crawl-batch
    # regime); the rest spread over a 10-year span — the width cell
    # holding the tie also holds neighbors, so min<max hides the tie
    # from the cell probe and only boundary duplication can see it
    return spark.range(n).select(
        F.col("id").alias("event_id"),
        F.concat(F.lit("t"), (F.col("id") % 3).cast("string")).alias("event_type"),
        (F.col("id") * 2654435761 % 9973).alias("user_id"),
        F.when(F.col("id") % 10 < 6, F.lit(50_000.0))
        .otherwise((F.col("id") * 7919 % 315_360_000).cast("double"))
        .alias("ts"),
    )


def test_with_next_heavy_tie_bit_identical_and_balanced(spark, tie_thresholds):
    ev = _heavy_tie_events(spark)
    got = adj.with_next(ev, ["event_type"], "ts", ["event_id"], ["user_id"])
    w = Window.partitionBy("event_type").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    want = ev.withColumn("next_user_id", F.lead("user_id").over(w))
    assert _rows(got) == _rows(want)
    # the tie split actually engaged...
    n, lo, hi = rd._stats(ev, "ts")
    nr = rd._auto_num_ranges(n, spark)
    plan = rd._memo(ev)[("cells", "ts", ("event_type",), ("event_id",), nr, None)]
    assert plan["heavies"], "tie split did not engage"
    # ...and spread the tie: no (group, cell) above 2x the even share
    cell = plan["cell"]
    mx = (
        ev.groupBy("event_type", cell.alias("c"))
        .count()
        .agg(F.max("count"))
        .collect()[0][0]
    )
    assert mx <= 2 * n / nr, mx


def test_with_prefix_max_heavy_tie_bit_identical(spark, tie_thresholds):
    ev = _heavy_tie_events(spark)
    got = adj.with_prefix_max(ev, ["event_type"], "ts", ["event_id"], "user_id")
    w = (
        Window.partitionBy("event_type")
        .orderBy(F.col("ts").asc(), F.col("event_id").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    want = ev.withColumn("prefix_max_excl", F.max("user_id").over(w))
    assert _rows(got) == _rows(want)


def test_quantile_normalize_heavy_tie_exact(
    spark, tie_thresholds, quantile_normalize_by_window
):
    from kg_etl_spark.operators.datapipe import quantile_normalize

    ev = _heavy_tie_events(spark, 12_000)
    got = quantile_normalize(ev, "ts", "event_type", "event_id")
    want = quantile_normalize_by_window(ev, "ts", "event_type", "event_id")
    assert _rows(got) == _rows(want)


def test_global_row_number_heavy_tie_exact(spark, tie_thresholds):
    df = _heavy_tie_events(spark).withColumnRenamed("ts", "v")
    got, n = rd.global_row_number(df, "v", tiebreaks=["event_id"])
    w = Window.orderBy(F.col("v").asc(), F.col("event_id").asc())
    want = df.coalesce(1).withColumn("rn", F.row_number().over(w).cast("long"))
    assert n == df.count()
    assert _rows(got) == _rows(want)


def test_global_row_number_heavy_tie_desc_exact(spark, tie_thresholds):
    # DESC key with ASC tiebreaks: the block-aware offset traversal
    # (tie blocks keep ascending tiebreak order inside a descending
    # block walk)
    df = _heavy_tie_events(spark).withColumnRenamed("ts", "v")
    got, _ = rd.global_row_number(df, "v", ascending=False, tiebreaks=["event_id"])
    w = Window.orderBy(F.col("v").desc(), F.col("event_id").asc())
    want = df.coalesce(1).withColumn("rn", F.row_number().over(w).cast("long"))
    assert _rows(got) == _rows(want)


def test_global_row_number_heavy_tie_null_keys_window_equivalent(
    spark, tie_thresholds
):
    df = _heavy_tie_events(spark, 12_000).withColumnRenamed("ts", "v")
    df = df.withColumn(
        "v", F.when(F.col("event_id") % 97 == 0, F.lit(None)).otherwise(F.col("v"))
    )
    got, _ = rd.global_row_number(df, "v", tiebreaks=["event_id"])
    w = Window.orderBy(F.col("v").asc(), F.col("event_id").asc())
    want = df.coalesce(1).withColumn("rn", F.row_number().over(w).cast("long"))
    assert _rows(got) == _rows(want)


def test_grouped_row_number_heavy_tie_exact(spark, tie_thresholds):
    df = _heavy_tie_events(spark, 12_000)
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


def test_tiebreak_key_uses_first_column_only(spark, tie_thresholds):
    # Intra-tie order is (t0, t1, ...): bucketing by any LATER tiebreak
    # would reorder rows that differ in an earlier one.  Here the FIRST
    # tiebreak is a string whose order DISAGREES with the numeric id's
    # (s descends as id ascends), so a device that skipped to the
    # numeric column would interleave the tie blocks wrongly.
    n = 20_000
    df = spark.range(n).select(
        F.col("id").alias("event_id"),
        F.format_string("s%07d", (F.lit(n) - F.col("id")).cast("int")).alias("s"),
        F.when(F.col("id") % 10 < 6, F.lit(50_000.0))
        .otherwise((F.col("id") * 7919 % 315_360_000).cast("double"))
        .alias("v"),
    )
    got, _ = rd.global_row_number(df, "v", tiebreaks=["s", "event_id"])
    w = Window.orderBy(F.col("v").asc(), F.col("s").asc(), F.col("event_id").asc())
    want = df.coalesce(1).withColumn("rn", F.row_number().over(w).cast("long"))
    assert _rows(got) == _rows(want)
    nr = rd._auto_num_ranges(n, spark)
    plan = rd._memo(df)[("cells", "v", (), ("s", "event_id"), nr, ())]
    assert plan["heavies"], "string-first tie split did not engage"


def test_string_tiebreak_heavy_tie_exact(spark, tie_thresholds):
    # a heavy tie whose ONLY tiebreak is a string now splits via the
    # 6-byte binary-prefix key instead of staying one cell
    n = 20_000
    df = spark.range(n).select(
        F.format_string("u%08x", (F.col("id") * 2654435761).cast("long")).alias("uid"),
        F.when(F.col("id") % 10 < 6, F.lit(50_000.0))
        .otherwise((F.col("id") * 7919 % 315_360_000).cast("double"))
        .alias("v"),
    )
    got, _ = rd.global_row_number(df, "v", tiebreaks=["uid"])
    w = Window.orderBy(F.col("v").asc(), F.col("uid").asc())
    want = df.coalesce(1).withColumn("rn", F.row_number().over(w).cast("long"))
    assert _rows(got) == _rows(want)
    nr = rd._auto_num_ranges(n, spark)
    plan = rd._memo(df)[("cells", "v", (), ("uid",), nr, ())]
    assert plan["heavies"], "string tie split did not engage"
    # ...and actually spread the tie across sub-cells
    assert max(plan["counts"].values()) < 0.6 * n


def test_tiebreak_cascade_constant_first_level(spark, tie_thresholds):
    # tiebreaks[0] is CONSTANT inside the heavy tie (all epoch-zero
    # rows from one source — realistic crawl shape): level 0 cannot
    # split (min==max), so _tie_stats must cascade to tiebreaks[1],
    # which is order-safe exactly because every earlier tiebreak is
    # constant there; ranks must stay bit-identical to the window
    n = 20_000
    df = spark.range(n).select(
        F.col("id").alias("event_id"),
        F.when(F.col("id") % 10 < 6, F.lit("common-crawl"))
        .otherwise(F.concat(F.lit("src"), (F.col("id") % 7).cast("string")))
        .alias("s"),
        F.when(F.col("id") % 10 < 6, F.lit(50_000.0))
        .otherwise((F.col("id") * 7919 % 315_360_000).cast("double"))
        .alias("v"),
    )
    got, _ = rd.global_row_number(df, "v", tiebreaks=["s", "event_id"])
    w = Window.orderBy(F.col("v").asc(), F.col("s").asc(), F.col("event_id").asc())
    want = df.coalesce(1).withColumn("rn", F.row_number().over(w).cast("long"))
    assert _rows(got) == _rows(want)
    nr = rd._auto_num_ranges(n, spark)
    plan = rd._memo(df)[("cells", "v", (), ("s", "event_id"), nr, ())]
    assert plan["heavies"], "cascade did not split the constant-t0 tie"
    assert max(plan["counts"].values()) < 0.6 * n


def test_string_monokey_monotone(spark):
    # the 6-byte binary-prefix integer must be monotone under the
    # default UTF8-binary collation, including the classic rpad trap
    # ("ab" < "aaa" numerically without right-padding), empty strings,
    # and multi-byte UTF-8 (byte order == code-point order)
    strs = ["", "a", "aaa", "ab", "aba", "b", "z" * 10, "zz", "é", "日本語", "\x01"]
    # ...plus a deterministic pseudo-random unicode corpus: mixed
    # ASCII / Latin-1 / CJK / astral-plane code points at varied
    # lengths (UTF-8 byte order == code-point order, so Python's
    # code-point sort is the ground truth Spark's default collation
    # uses)
    alphabet = "az09 _-éßı中日\U0001f600\U00010348"
    rng_state = 1234567
    for i in range(200):
        chars = []
        for j in range((i % 9) + 1):
            rng_state = (rng_state * 48271) % 2147483647
            chars.append(alphabet[rng_state % len(alphabet)])
        strs.append("".join(chars))
    df = spark.createDataFrame([(s,) for s in strs], "s string")
    _, expr = rd._tiebreak_chain(df, ["s"])[0]
    rows = df.select("s", expr.alias("k")).collect()
    by_str = sorted(rows, key=lambda r: r["s"])
    ks = [r["k"] for r in by_str]
    assert ks == sorted(ks), [(r["s"], r["k"]) for r in by_str]


def test_pure_tie_skips_equidepth_sketch(spark, tie_thresholds):
    # every straggler cell is a PURE tie (discrete values, one per
    # width cell): the sketch pass cannot help and must be skipped
    # (r7 advice) — the plan goes straight to the tiebreak sub-split
    n = 20_000
    df = spark.range(n).select(
        F.col("id").alias("tb"),
        F.when(F.col("id") % 10 < 7, F.lit(1e8))
        .otherwise(((F.col("id") % 3).cast("double") + 2.0) * 1e8)
        .alias("v"),
    )
    got, _ = rd.global_row_number(df, "v", tiebreaks=["tb"])
    nr = rd._auto_num_ranges(n, spark)
    plan = rd._memo(df)[("cells", "v", (), ("tb",), nr, ())]
    assert plan["bnds"] is None, "useless equi-depth re-split ran on a pure tie"
    assert plan["heavies"], "tie split did not engage"
    w = Window.orderBy(F.col("v").asc(), F.col("tb").asc())
    want = df.coalesce(1).withColumn("rn", F.row_number().over(w).cast("long"))
    assert _rows(got) == _rows(want)


# ---- broadcast offset join above the inline threshold (r7 hazard #2) -----


def test_offset_broadcast_join_above_inline_threshold(spark):
    df = spark.range(5000).select(
        ((F.col("id") * 1315423911) % 1_000_003).cast("double").alias("v"),
        F.col("id").alias("tb"),
    )
    got, n = rd.global_row_number(df, "v", tiebreaks=["tb"], num_ranges=16_384)
    plan_str = got._jdf.queryExecution().optimizedPlan().toString()
    assert "element_at" not in plan_str, "16384-element array literal inlined"
    w = Window.orderBy(F.col("v").asc(), F.col("tb").asc())
    want = df.coalesce(1).withColumn("rn", F.row_number().over(w).cast("long"))
    assert n == 5000
    assert _rows(got) == _rows(want)


def test_offset_inline_below_threshold(spark):
    df = spark.range(1000).select(
        ((F.col("id") * 37) % 997).cast("double").alias("v"),
        F.col("id").alias("tb"),
    )
    got, _ = rd.global_row_number(df, "v", tiebreaks=["tb"], num_ranges=64)
    plan_str = got._jdf.queryExecution().optimizedPlan().toString()
    assert "element_at" in plan_str  # the O(1) literal path stayed


def test_global_cumsum_broadcast_path_exact(spark):
    # float offsets through the broadcast join (exact in binary: 0.5
    # multiples sum exactly in any association order)
    df = spark.range(3000).select(
        F.col("id").cast("double").alias("o"),
        ((F.col("id") % 7).cast("double") * 0.5).alias("c"),
    )
    got = rd.global_cumsum(df, "o", ["c"], num_ranges=8192)
    w = Window.orderBy("o").rowsBetween(Window.unboundedPreceding, 0)
    want = df.coalesce(1).withColumn("cum_c", F.sum("c").over(w))
    assert _rows(got) == _rows(want)


# ---- rankdev statistics memoized per (frame, column) (directive #3) ------


def test_rankdev_stats_memoized_no_second_jobs(spark):
    sc = spark.sparkContext
    df = (
        spark.range(4000)
        .select(
            ((F.col("id") * 37) % 911).cast("double").alias("v"),
            F.col("id").alias("tb"),
        )
        .localCheckpoint(eager=True)
    )
    rd.global_row_number(df, "v", tiebreaks=["tb"])  # fills the memo
    rd.global_cumsum(df, "v", ["tb"])
    sc.setJobGroup("r8-memo-probe", "second builds must schedule no stats jobs")
    try:
        out, n = rd.global_row_number(df, "v", tiebreaks=["tb"])
        rd.global_cumsum(df, "v", ["tb"])
        assert list(sc.statusTracker().getJobIdsForGroup("r8-memo-probe")) == []
    finally:
        sc.setJobGroup(None, None)
    assert n == 4000 and out.count() == 4000


# ---- memoized shared edge cut + flush protection -------------------------


def test_shared_edge_cut_memoized_and_flush_safe(spark, shielded_rdd_ids):
    # the transition-edge frame is a deterministic pure function of the
    # event frame and ~20 graph queries consume it: it must build ONCE
    # per (session, frame) and its localCheckpoint blocks must survive
    # a bench-style inter-query block flush (evicting a truncated-
    # lineage checkpoint makes the frame unrecomputable)
    from kg_etl_spark.cutpoint import is_shared_cut
    from kg_etl_spark.operators.adjacent import undirected_transition_edges_cut

    ev = spark.range(2000).select(
        F.col("id").alias("event_id"),
        F.concat(F.lit("t"), (F.col("id") % 3).cast("string")).alias("event_type"),
        (F.col("id") * 37 % 101).alias("user_id"),
        F.timestamp_seconds(F.col("id") * 7 % 99_991).alias("ts"),
    )
    e1 = undirected_transition_edges_cut(ev)
    n1 = e1.count()
    assert undirected_transition_edges_cut(ev) is e1, "cut not memoized"
    sc = spark.sparkContext
    cut_id = e1._jdf.queryExecution().analyzed().rdd().id()
    assert cut_id in shielded_rdd_ids(), (
        "shared cut registered no block ids for this context"
    )
    # bench.py's _drop_query_state contract: flush everything EXCEPT
    # the shared cuts, then the shared frame must still be readable
    jmap = sc._jsc.getPersistentRDDs()
    for jid, jrdd in jmap.items():
        if not is_shared_cut(jrdd):
            jrdd.unpersist(False)
    assert e1.count() == n1


# ---- remove_duplicate_spans (Lee et al. excision — directive #5) ---------


def test_remove_duplicate_spans_planted(spark):
    from kg_etl_spark.operators.filters import remove_duplicate_spans

    planted = "alpha beta gamma delta epsilon"
    rows = [
        (1, planted + " zeta eta"),
        (2, "x1 x2 " + planted + " y1 y2"),
        (3, "unique words only here nothing shared at all"),
        (4, planted),  # fully-duplicated doc: must come back, empty
        (5, "short doc"),  # < n words: no spans, untouched
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in remove_duplicate_spans(df).collect()}
    assert len(got) == 5
    assert got[1]["clean_text"] == "zeta eta" and got[1]["n_kept"] == 2
    assert got[2]["clean_text"] == "x1 x2 y1 y2" and got[2]["n_tokens"] == 9
    assert got[3]["clean_text"] == rows[2][1]
    assert got[4]["clean_text"] == "" and got[4]["n_kept"] == 0
    assert got[4]["n_tokens"] == 5 and got[4]["removed_ratio"] == 1.0
    assert got[5]["clean_text"] == "short doc" and got[5]["removed_ratio"] == 0.0


def test_remove_duplicate_spans_bruteforce(spark):
    from collections import Counter

    from kg_etl_spark.operators.filters import remove_duplicate_spans

    # deterministic synthetic corpus with overlapping cross-doc phrases
    n, min_df = 4, 2
    docs = []
    for i in range(60):
        toks = [f"w{(i * 7 + j * 3) % 11}" for j in range(5 + i % 9)]
        if i % 3 == 0:
            toks[2:2] = ["shared", "phrase", "number", f"p{i % 2}"]
        docs.append((i, " ".join(toks)))

    def brute(docs):
        toks = {i: t.split() for i, t in docs}
        dfc = Counter()
        for tk in toks.values():
            for s in {
                " ".join(tk[p : p + n]) for p in range(len(tk) - n + 1)
            }:
                dfc[s] += 1
        dup = {s for s, c in dfc.items() if c >= min_df}
        out = {}
        for i, tk in toks.items():
            cov = set()
            for p in range(len(tk) - n + 1):
                if " ".join(tk[p : p + n]) in dup:
                    cov |= set(range(p, p + n))
            kept = [w for j, w in enumerate(tk) if j not in cov]
            out[i] = (len(tk), len(kept), " ".join(kept))
        return out

    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_tokens"], r["n_kept"], r["clean_text"])
        for r in remove_duplicate_spans(df, n=n, min_df=min_df).collect()
    }
    assert got == brute(docs)


def test_remove_duplicate_spans_hashed_path_matches(spark):
    from kg_etl_spark.operators.filters import remove_duplicate_spans

    docs = []
    for i in range(40):
        toks = [f"w{(i * 5 + j * 7) % 13}" for j in range(6 + i % 7)]
        if i % 4 == 0:
            toks[1:1] = ["dup", "span", "body", "here", "now"]
        docs.append((i, " ".join(toks)))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    plain = _rows(remove_duplicate_spans(df, n=4))
    hashed = _rows(remove_duplicate_spans(df, n=4, hash_spans=True))
    assert plain == hashed

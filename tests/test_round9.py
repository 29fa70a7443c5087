"""Round-9 device hardening: NULL-correct heavy-tie cascade (the r8
ADVICE high item).

``_tie_stats``'s cascade decision used min/max alone, which IGNORE
NULLs: a heavy tie whose level-j tiebreak is one constant value PLUS
NULLs looked "constant" and cascaded to level j+1 — but the window
orders the NULL rows strictly FIRST (before the constant rows), so
bucketing the whole tie by level j+1 interleaved them and broke the
bit-identity contract (reproduced pre-fix: 11530/20000 ranks diverged
on the frame below).  The fix counts non-nulls per candidate and, in
the mixed case, emits a dedicated LEADING sub-cell for the NULL rows
(a guard expr) before the deeper bucketing; an all-null level still
cascades guard-free (it contributes nothing to intra-tie order), and
a chain that exhausts with guards pending still splits into its guard
cells + one residual cell."""

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


@pytest.fixture()
def tie_thresholds(monkeypatch):
    monkeypatch.setattr(rd, "SKEW_CELL_ROWS", 500)
    monkeypatch.setattr(rd, "TARGET_CELL_ROWS", 500)


def _mixed_null_tie_events(spark, n=20_000):
    # 60% of rows at ONE key value; inside the tie the first tiebreak
    # is one constant ("common-crawl") for 2/3 of rows and NULL for the
    # other 1/3 — the r8 ADVICE repro shape (a crawl batch where some
    # records lost their source tag).  Outside the tie, sources vary.
    return spark.range(n).select(
        F.col("id").alias("event_id"),
        F.when(
            F.col("id") % 10 < 6,
            F.when(F.col("id") % 3 == 0, F.lit(None).cast("string")).otherwise(
                F.lit("common-crawl")
            ),
        )
        .otherwise(F.concat(F.lit("src"), (F.col("id") % 7).cast("string")))
        .alias("s"),
        F.when(F.col("id") % 10 < 6, F.lit(50_000.0))
        .otherwise((F.col("id") * 7919 % 315_360_000).cast("double"))
        .alias("v"),
    )


def test_cascade_constant_plus_nulls_bit_identical(spark, tie_thresholds):
    # the high-severity repro: t0 constant PLUS NULLs inside the tie
    # must NOT cascade blindly — NULL-t0 rows sort strictly FIRST, so
    # they get a dedicated leading sub-cell before the t1 bucketing
    df = _mixed_null_tie_events(spark)
    got, _ = rd.global_row_number(df, "v", tiebreaks=["s", "event_id"])
    w = Window.orderBy(
        F.col("v").asc(), F.col("s").asc_nulls_first(), F.col("event_id").asc()
    )
    want = df.coalesce(1).withColumn("rn", F.row_number().over(w).cast("long"))
    assert _rows(got) == _rows(want)
    nr = rd._auto_num_ranges(20_000, spark)
    plan = rd._memo(df)[("cells", "v", (), ("s", "event_id"), nr, ())]
    assert plan["heavies"], "mixed-null tie did not split"
    # the guard cell holds exactly the NULL-t0 tie rows (~6k·1/3); the
    # remainder spread over the t1 buckets — no cell near the full tie
    assert max(plan["counts"].values()) < 0.3 * 20_000


def test_cascade_constant_plus_nulls_desc(spark, tie_thresholds):
    # DESC key keeps tiebreaks ASC (nulls first) inside the tie block
    df = _mixed_null_tie_events(spark)
    got, _ = rd.global_row_number(
        df, "v", ascending=False, tiebreaks=["s", "event_id"]
    )
    w = Window.orderBy(
        F.col("v").desc(), F.col("s").asc_nulls_first(), F.col("event_id").asc()
    )
    want = df.coalesce(1).withColumn("rn", F.row_number().over(w).cast("long"))
    assert _rows(got) == _rows(want)


def test_cascade_all_null_level_guard_free(spark, tie_thresholds):
    # t0 is NULL on EVERY tie row: the level contributes nothing to
    # intra-tie order and must cascade with no guard cell (count==0)
    n = 20_000
    df = spark.range(n).select(
        F.col("id").alias("event_id"),
        F.when(F.col("id") % 10 < 6, F.lit(None).cast("string"))
        .otherwise(F.concat(F.lit("src"), (F.col("id") % 7).cast("string")))
        .alias("s"),
        F.when(F.col("id") % 10 < 6, F.lit(50_000.0))
        .otherwise((F.col("id") * 7919 % 315_360_000).cast("double"))
        .alias("v"),
    )
    got, _ = rd.global_row_number(df, "v", tiebreaks=["s", "event_id"])
    w = Window.orderBy(
        F.col("v").asc(), F.col("s").asc_nulls_first(), F.col("event_id").asc()
    )
    want = df.coalesce(1).withColumn("rn", F.row_number().over(w).cast("long"))
    assert _rows(got) == _rows(want)
    nr = rd._auto_num_ranges(n, spark)
    plan = rd._memo(df)[("cells", "v", (), ("s", "event_id"), nr, ())]
    assert plan["heavies"], "all-null-t0 tie did not cascade to t1"
    # guard-free cascade: K-sized like a plain level-1 split, and the
    # tie actually spread
    assert max(plan["counts"].values()) < 0.3 * n


def test_guards_only_split_when_chain_exhausts(spark, tie_thresholds):
    # the ONLY tiebreak is constant-plus-NULLs inside the tie: the
    # chain exhausts with a guard pending, and the guard alone still
    # splits the tie (NULL rows / constant remainder) exactly.  Rows
    # inside each sub-group are identical across all columns, so the
    # sorted-tuple comparison is deterministic under tied ranks.
    n = 20_000
    df = spark.range(n).select(
        F.when(F.col("id") % 10 < 6, F.lit(50_000.0))
        .otherwise((F.col("id") * 7919 % 315_360_000).cast("double"))
        .alias("v"),
        F.when(
            F.col("id") % 10 < 6,
            F.when(F.col("id") % 3 == 0, F.lit(None).cast("string")).otherwise(
                F.lit("common-crawl")
            ),
        )
        .otherwise(F.concat(F.lit("s"), F.col("id").cast("string")))
        .alias("s"),
    ).select("v", "s")
    got, _ = rd.global_row_number(df, "v", tiebreaks=["s"])
    w = Window.orderBy(F.col("v").asc(), F.col("s").asc_nulls_first())
    want = df.coalesce(1).withColumn("rn", F.row_number().over(w).cast("long"))
    assert _rows(got) == _rows(want)
    nr = rd._auto_num_ranges(n, spark)
    plan = rd._memo(df)[("cells", "v", (), ("s",), nr, ())]
    assert plan["heavies"], "guard-only split did not engage"
    assert plan["heavies"][0][1] == 2  # NULL guard cell + residual cell


def test_split_level_with_nulls_leading_bucket(spark, tie_thresholds):
    # the SPLITTING level itself carries NULLs (hi>lo, count<n): they
    # take the leading boundary bucket and still sort first
    n = 20_000
    df = spark.range(n).select(
        F.col("id").alias("event_id"),
        F.when(F.col("id") % 5 == 0, F.lit(None).cast("string"))
        .otherwise(F.format_string("u%07d", F.col("id").cast("int")))
        .alias("s"),
        F.when(F.col("id") % 10 < 6, F.lit(50_000.0))
        .otherwise((F.col("id") * 7919 % 315_360_000).cast("double"))
        .alias("v"),
    )
    got, _ = rd.global_row_number(df, "v", tiebreaks=["s", "event_id"])
    w = Window.orderBy(
        F.col("v").asc(), F.col("s").asc_nulls_first(), F.col("event_id").asc()
    )
    want = df.coalesce(1).withColumn("rn", F.row_number().over(w).cast("long"))
    assert _rows(got) == _rows(want)


def test_grouped_row_number_mixed_null_tie_exact(spark, tie_thresholds):
    # the grouped device rides the same _tie_stats path
    df = _mixed_null_tie_events(spark, 12_000).withColumn(
        "g", (F.col("event_id") % 3).cast("int")
    )
    got = rd.grouped_row_number(
        df, ["g"], "v", ["s", "event_id"], out_col="rn", count_col="n"
    )
    w = Window.partitionBy("g").orderBy(
        F.col("v").asc(), F.col("s").asc_nulls_first(), F.col("event_id").asc()
    )
    cw = Window.partitionBy("g")
    want = df.withColumn("rn", F.row_number().over(w).cast("long")).withColumn(
        "n", F.count(F.lit(1)).over(cw).cast("long")
    )
    assert _rows(got) == _rows(want)


def test_with_next_mixed_null_tie_bit_identical(spark, tie_thresholds):
    # adjacent family: LEAD over a mixed-null heavy tie via the shared
    # _tie_stats — same guard-cell contract
    ev = _mixed_null_tie_events(spark, 12_000).withColumnRenamed("v", "ts")
    got = adj.with_next(ev, [], "ts", ["s", "event_id"], ["event_id"])
    w = Window.orderBy(
        F.col("ts").asc(), F.col("s").asc_nulls_first(), F.col("event_id").asc()
    )
    want = ev.withColumn("next_event_id", F.lead("event_id").over(w))
    assert _rows(got) == _rows(want)


def test_memo_key_carries_full_chain(spark, tie_thresholds):
    # two calls sharing the first tiebreak but differing in chain
    # depth must build SEPARATE plans (r8 ADVICE, low)
    df = _mixed_null_tie_events(spark)
    rd.global_row_number(df, "v", tiebreaks=["s", "event_id"])
    rd.global_row_number(df, "v", tiebreaks=["s"])
    nr = rd._auto_num_ranges(20_000, spark)
    memo = rd._memo(df)
    assert ("cells", "v", (), ("s", "event_id"), nr, ()) in memo
    assert ("cells", "v", (), ("s",), nr, ()) in memo
    deep = memo[("cells", "v", (), ("s", "event_id"), nr, ())]
    shallow = memo[("cells", "v", (), ("s",), nr, ())]
    # the deep chain splits by event_id (many sub-cells); the shallow
    # one can only guard-split (2 cells) — distinct plans, not a reuse
    assert deep["heavies"][0][1] > shallow["heavies"][0][1] == 2


def test_duplicate_span_profile_bruteforce(spark):
    # longest-duplicated-run + coverage vs a direct per-doc recompute
    from collections import Counter

    from kg_etl_spark.operators.filters import duplicate_span_profile

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
            for s in {" ".join(tk[p : p + n]) for p in range(len(tk) - n + 1)}:
                dfc[s] += 1
        dup = {s for s, c in dfc.items() if c >= min_df}
        out = {}
        for i, tk in toks.items():
            cov = set()
            for p in range(len(tk) - n + 1):
                if " ".join(tk[p : p + n]) in dup:
                    cov |= set(range(p, p + n))
            best = cur = 0
            for j in range(len(tk)):
                cur = cur + 1 if j in cov else 0
                best = max(best, cur)
            out[i] = (len(tk), len(cov), best)
        return out

    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_tokens"], r["n_covered"], r["max_dup_run"])
        for r in duplicate_span_profile(df, n=n, min_df=min_df).collect()
    }
    assert got == brute(docs)


def test_duplicate_span_profile_hashed_path_matches(spark):
    from kg_etl_spark.operators.filters import duplicate_span_profile

    docs = []
    for i in range(40):
        toks = [f"w{(i * 5 + j * 7) % 13}" for j in range(6 + i % 7)]
        if i % 4 == 0:
            toks[1:1] = ["dup", "span", "body", "here", "now"]
        docs.append((i, " ".join(toks)))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    plain = _rows(duplicate_span_profile(df, n=4))
    hashed = _rows(duplicate_span_profile(df, n=4, hash_spans=True))
    assert plain == hashed


def test_ngram_pairs_adaptive_both_branches_identical(spark, monkeypatch):
    # the size dispatch changes the PLAN, never the result: both
    # branches must return row-identical pairs on the same corpus
    import kg_etl_spark.operators.dedup as dd

    docs = []
    for i in range(40):
        toks = [f"w{(i * 5 + j * 7) % 13}" for j in range(6 + i % 7)]
        if i % 4 == 0:
            toks[1:1] = ["dup", "span", "body", "here", "now"]
        docs.append((i, " ".join(toks)))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    plain = _rows(dd.ngram_jaccard_pairs_adaptive(df, "doc_id", threshold=0.5))
    monkeypatch.setattr(dd, "PREFIX_JOIN_MIN_DOCS", 1)
    pref = _rows(dd.ngram_jaccard_pairs_adaptive(df, "doc_id", threshold=0.5))
    assert plain and plain == pref


def test_shared_cut_released_when_source_dies(spark, shielded_rdd_ids):
    # r8 verdict directive #4: shared cuts must not accumulate — when
    # the SOURCE frame dies (weak memo entry gone), the cut's
    # flush-protected blocks must be unpersisted so a long-lived
    # session's executor storage is bounded by the LIVE shared frames,
    # not the historical ones
    import gc

    from kg_etl_spark.operators.adjacent import undirected_transition_edges_cut

    sc = spark.sparkContext

    def build():
        # read the cut's id from its own plan: a full suite run has
        # other tests' shared cuts alive (the session read memo holds
        # their sources) — those must stay
        ev = spark.range(1500).select(
            F.col("id").alias("event_id"),
            F.concat(F.lit("t"), (F.col("id") % 3).cast("string")).alias(
                "event_type"
            ),
            (F.col("id") * 37 % 101).alias("user_id"),
            F.timestamp_seconds(F.col("id") * 7 % 99_991).alias("ts"),
        )
        cut = undirected_transition_edges_cut(ev)
        cut.count()
        mine = {cut._jdf.queryExecution().analyzed().rdd().id()}
        return mine & shielded_rdd_ids()

    ids = build()  # ev + cut go out of scope on return
    assert ids, "shared cut registered no persisted blocks"
    gc.collect()  # drop the dead frames -> finalizer fires
    for i in ids:
        assert i not in shielded_rdd_ids(), f"dead cut id {i} still shielded"
    live = {int(jid) for jid in sc._jsc.getPersistentRDDs().keys()}
    assert not (ids & live), f"dead cut blocks still persisted: {ids & live}"

"""Round-10 regression tests: the r9 ADVICE fixes (cut-frame
finalizer, memoized dispatch probe, PMI oracle ordering) and the
broadcast-hint removals' result-invariance."""

from __future__ import annotations

import gc

from pyspark.sql import functions as F


def test_externally_held_cut_survives_source_death(spark, shielded_rdd_ids):
    """r9 ADVICE #2: the shared-cut finalizer is registered on the CUT
    frame, so a consumer holding the cut past the source's lifetime
    must keep the blocks alive (localCheckpoint has no recompute path)
    — and the blocks must release once the LAST handle drops."""
    from kg_etl_spark.operators.adjacent import undirected_transition_edges_cut

    sc = spark.sparkContext

    def build():
        ev = spark.range(1200).select(
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
        ids = mine & shielded_rdd_ids()
        return cut, ids  # SOURCE ev dies here; the cut survives

    cut, ids = build()
    assert ids, "shared cut registered no persisted blocks"
    gc.collect()  # source frame is gone; cut is still externally held
    live = {int(jid) for jid in sc._jsc.getPersistentRDDs().keys()}
    assert ids <= live, (
        f"blocks of an externally-held cut were released: {ids - live}"
    )
    for i in ids:
        assert i in shielded_rdd_ids(), f"held cut id {i} lost its shield"
    # the held frame must still be usable (no block-not-found)
    assert cut.count() >= 0
    del cut
    gc.collect()  # last handle gone -> finalizer fires
    for i in ids:
        assert i not in shielded_rdd_ids(), f"dead cut id {i} still shielded"
    live = {int(jid) for jid in sc._jsc.getPersistentRDDs().keys()}
    assert not (ids & live), f"dead cut blocks still persisted: {ids & live}"


def test_adaptive_dispatch_count_memoized(spark):
    """r9 ADVICE #3: the size-dispatch probe must run at most one
    count job per source frame — warm calls reuse the weak memo."""
    from kg_etl_spark.operators import dedup as dd

    df = spark.createDataFrame(
        [(i, f"alpha beta gamma delta {i}") for i in range(60)],
        "doc_id long, text string",
    )
    calls = {"n": 0}
    real_count = type(df).count

    def counting_count(self):
        calls["n"] += 1
        return real_count(self)

    try:
        type(df).count = counting_count
        out = dd.ngram_jaccard_pairs_adaptive(df, "doc_id", threshold=0.5)
        dd.ngram_jaccard_pairs_adaptive(df, "doc_id", threshold=0.5)
        dd.ngram_jaccard_pairs_adaptive(df, "doc_id", threshold=0.5)
    finally:
        type(df).count = real_count
    assert calls["n"] == 1, f"dispatch probe ran {calls['n']} count jobs"
    assert out.columns == ["a_id", "b_id", "n_common", "jaccard"]


def test_adaptive_dispatch_branches_still_row_identical(spark, monkeypatch):
    """The memo must not change WHICH branch runs: force the prefix
    threshold down and confirm both branches still agree (the r9
    property, re-checked through the memoized path)."""
    from kg_etl_spark.operators import dedup as dd

    docs = []
    for i in range(40):
        if i % 4 == 0:
            # near-dups: 8 shared tokens + 1 unique -> jaccard 5/9
            toks = ["dup", "span", "body", "here", "now",
                    "common", "shared", "tail", f"u{i}"]
        else:
            toks = [f"w{i}a", f"w{i}b", f"w{i}c", f"w{i}d", f"w{i}e"]
        docs.append((i, " ".join(toks)))
    df = spark.createDataFrame(docs, "doc_id long, text string")

    def rows(out):
        return sorted(
            (r["a_id"], r["b_id"], r["n_common"], r["jaccard"])
            for r in out.collect()
        )

    plain = rows(dd.ngram_jaccard_pairs_adaptive(df, "doc_id", threshold=0.5))
    monkeypatch.setattr(dd, "PREFIX_JOIN_MIN_DOCS", 1)
    pref = rows(dd.ngram_jaccard_pairs_adaptive(df, "doc_id", threshold=0.5))
    assert plain and plain == pref


def _patched(monkeypatch, module, frame):
    monkeypatch.setattr(module, "read_table", lambda _s, _d, _n: frame)


def test_mann_whitney_matches_numpy_bruteforce(spark, monkeypatch):
    """Tie-corrected U and z against a scipy-free numpy reference
    (average ranks via double argsort over the pooled sample)."""
    import numpy as np

    from kg_etl_spark.queries import analytic

    rows = []
    vals1 = [1.0, 2.0, 2.0, 3.0, 5.0, 5.0, 5.0, 8.0, 9.0, 9.0, 12.0]
    vals2 = [2.0, 4.0, 5.0, 5.0, 6.0, 7.0, 9.0, 10.0, 10.0]
    for i, v in enumerate(vals1):
        rows.append((i, "click", v))
    for i, v in enumerate(vals2):
        rows.append((100 + i, "view", v))
    rows.append((500, "error", 42.0))  # must be filtered out
    ev = spark.createDataFrame(
        [(i, "2024-01-01 00:00:00", i, t, v, "{}") for (i, t, v) in rows],
        "event_id long, ts string, user_id long, event_type string, "
        "value double, props string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    _patched(monkeypatch, analytic, ev)
    got = analytic.q_mann_whitney_u(spark, "<synthetic>").collect()[0]

    pooled = np.array(vals1 + vals2)
    order = pooled.argsort(kind="mergesort")
    ranks = np.empty(len(pooled))
    i = 0
    srt = pooled[order]
    while i < len(srt):
        j = i
        while j < len(srt) and srt[j] == srt[i]:
            j += 1
        ranks[order[i:j]] = (i + j + 1) / 2.0  # average rank, 1-based
        i = j
    n1, n2 = len(vals1), len(vals2)
    r1 = ranks[:n1].sum()
    u1 = r1 - n1 * (n1 + 1) / 2.0
    N = n1 + n2
    _, counts = np.unique(pooled, return_counts=True)
    tie = float((counts.astype(float) ** 3 - counts).sum())
    sig2 = n1 * n2 / 12.0 * ((N + 1) - tie / (N * (N - 1)))
    z = (u1 - n1 * n2 / 2.0) / np.sqrt(sig2)
    assert got["n1"] == n1 and got["n2"] == n2
    assert abs(got["u_stat"] - u1) < 1e-6
    assert abs(got["z_score"] - z) < 1e-6


def test_cdc_boundaries_resynchronize_after_insertion(spark, monkeypatch):
    """The CDC property fixed-width chunking lacks: prepending one
    token shifts every position, yet chunk boundaries re-synchronize
    (they depend only on the local 4-token window), so the two
    versions still share most distinct chunks."""
    from kg_etl_spark.queries import textq

    base = [f"tok{i * 7919 % 997}" for i in range(120)]
    docs = spark.createDataFrame(
        [(0, " ".join(base)), (1, " ".join(["inserted"] + base))],
        "doc_id long, text string",
    )
    # reuse the query's chunking pipeline per doc via the summary twin:
    # chunk texts themselves, rebuilt with the same expressions
    from pyspark.sql import Window

    from kg_etl_spark.operators.textquality import ws_tokens

    k = 4
    tok = docs.select(
        "doc_id", F.posexplode(ws_tokens(F.col("text"))).alias("pos", "tok")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    lags = [F.lag("tok", j).over(w) for j in range(k - 1, 0, -1)] + [F.col("tok")]
    boundary = F.when(
        lags[0].isNotNull()
        & F.substring(F.md5(F.concat_ws(" ", *lags)), 32, 1).isin("0", "1"),
        F.lit(1),
    ).otherwise(F.lit(0))
    chunked = tok.withColumn("_b", boundary).withColumn(
        "chunk",
        F.coalesce(
            F.sum("_b").over(w.rowsBetween(Window.unboundedPreceding, -1)), F.lit(0)
        ),
    )
    chunks = chunked.groupBy("doc_id", "chunk").agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                lambda s: s["tok"],
            ),
        ).alias("t")
    )
    got = chunks.collect()
    a = {r["t"] for r in got if r["doc_id"] == 0}
    b = {r["t"] for r in got if r["doc_id"] == 1}
    shared = len(a & b)
    assert shared / len(a) >= 0.5, (shared, len(a), len(b))
    # and the summary query itself runs on this frame
    _patched(monkeypatch, textq, docs)
    row = textq.q_cdc_chunk_stats(spark, "<synthetic>").collect()[0]
    assert row["n_chunks"] == len(a | b) + shared  # every chunk df 1 or 2


def test_sprt_first_crossing_matches_bruteforce(spark, monkeypatch):
    """first_cross_n and the decision against a driver-side replay of
    the LLR walk over the (ts, event_id)-ordered stream."""
    from kg_etl_spark.queries import analytic

    C1, C0, TH = 0.09531, -0.105361, 2.944439
    rows = []
    # 60 purchases: odd users dominate -> walk drifts up and crosses
    for i in range(60):
        uid = 1 if i % 4 else 2  # 75% treated
        rows.append((i, f"2024-01-01 00:00:{i % 60:02d}", uid, "purchase", 1.0, "{}"))
    rows.append((900, "2024-01-01 00:00:00", 3, "view", 1.0, "{}"))
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts string, user_id long, event_type string, "
        "value double, props string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    _patched(monkeypatch, analytic, ev)
    got = analytic.q_sprt_conversion(spark, "<synthetic>").collect()[0]

    obs = sorted(
        ((r[1], r[0], r[2] % 2) for r in rows if r[3] == "purchase"),
        key=lambda t: (t[0], t[1]),
    )
    llr, first, sgn = 0.0, 0, 0
    cx = 0
    for n, (_ts, _eid, x) in enumerate(obs, start=1):
        cx += x
        llr = cx * C1 + (n - cx) * C0
        if first == 0 and abs(llr) >= TH:
            first, sgn = n, (1 if llr > 0 else -1)
    assert got["n_obs"] == len(obs)
    assert got["first_cross_n"] == first
    want_dec = "continue" if first == 0 else ("accept_h1" if sgn > 0 else "accept_h0")
    assert got["decision"] == want_dec
    assert abs(got["final_llr"] - round(llr, 6)) < 1e-9


def test_bench_escalation_rule():
    """bench.py's min-of-3 escalation (r9 directive #5): fires only
    for >=1s rows, on attempt disagreement OR co-tenant load."""
    import bench

    assert not bench.should_escalate([0.2, 0.9], 50.0)  # sub-second: never
    assert not bench.should_escalate([2.0, 2.1], 3.0)  # quiet + agreeing
    assert bench.should_escalate([2.0, 3.5], 3.0)  # spread >= 1.5x
    assert bench.should_escalate([2.0, 2.1], 40.0)  # co-tenant load
    assert not bench.should_escalate([], 3.0)


def test_containment_prefix_branch_row_identical(spark, monkeypatch):
    """The r10 containment ssjoin must reproduce the plain inverted
    index row-for-row — including the asymmetric case it exists for
    (a short doc embedded in a long one) and the max_df cap."""
    from kg_etl_spark.operators import dedup as dd

    snippet = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta"]
    docs = []
    for i in range(30):
        filler = [f"f{i}w{j}" for j in range(14)]
        if i % 5 == 0:
            # snippet fully embedded in a longer unique doc
            docs.append((i, " ".join(filler[:7] + snippet + filler[7:])))
        elif i == 1:
            docs.append((i, " ".join(snippet)))  # the short doc itself
        else:
            docs.append((i, " ".join(filler)))
    df = spark.createDataFrame(docs, "doc_id long, text string")

    def rows(out):
        return sorted(
            (r["a_id"], r["b_id"], r["n_common"], r["containment"])
            for r in out.collect()
        )

    for kwargs in ({}, {"max_df": 5}, {"hash_shingles": True}):
        plain = rows(dd.ngram_containment_pairs(df, "doc_id", threshold=0.6, **kwargs))
        pref = rows(
            dd.ngram_containment_pairs_prefix(df, "doc_id", threshold=0.6, **kwargs)
        )
        assert plain == pref, (kwargs, plain[:3], pref[:3])
    # the snippet-inclusion pair is actually found (containment 1.0)
    base = rows(dd.ngram_containment_pairs(df, "doc_id", threshold=0.6))
    assert any(a == 0 and b == 1 and c == 1.0 for a, b, _n, c in base)
    # and the adaptive wrapper picks the prefix branch above the bar
    monkeypatch.setattr(dd, "PREFIX_JOIN_MIN_DOCS", 1)
    adapt = rows(dd.ngram_containment_pairs_adaptive(df, "doc_id", threshold=0.6))
    assert adapt == base


def test_unigram_lm_viterbi_and_convergence(spark):
    """Unigram-LM tokenizer properties: (1) Viterbi tie-breaks are the
    documented total order; (2) EM concentrates mass on a planted
    whole-word piece and the encode then emits one piece per word;
    (3) a chars-only vocab degenerates to characters."""
    import math

    from kg_etl_spark.operators.unigram_lm import (
        unigram_lm_encode,
        unigram_lm_train,
        viterbi_word,
    )

    # (1) hand-built vocab: "abc" as one piece beats chars; equal-score
    # alternatives resolve to fewer pieces then lexicographic order
    lp = {"a": math.log(0.2), "b": math.log(0.2), "c": math.log(0.2),
          "ab": math.log(0.2), "abc": math.log(0.2)}
    assert viterbi_word("abc", lp, 8) == ["abc"]
    lp2 = {"a": math.log(0.25), "b": math.log(0.25),
           "ab": math.log(0.25), "ba": math.log(0.25)}
    # "aba": ("ab","a") vs ("a","ba") tie on score and count ->
    # lexicographically smaller sequence ("a","ba") wins
    assert viterbi_word("aba", lp2, 8) == ["a", "ba"]

    # (2) planted corpus: every word is the same 8-char string
    docs = spark.createDataFrame(
        [(i, "xyxyxyxy xyxyxyxy xyxyxyxy") for i in range(20)],
        "doc_id long, text string",
    )
    vocab = unigram_lm_train(docs, vocab_size=4, seed_size=50, n_iters=2)
    top_piece = vocab[0][0]
    assert top_piece == "xyxyxyxy", vocab[:3]
    enc = unigram_lm_encode(docs, vocab).collect()
    assert all(r["n_pieces"] == r["n_words"] == 3 for r in enc)

    # (3) chars-only vocab degenerates to characters
    chars_vocab = unigram_lm_train(docs, vocab_size=0, seed_size=0, n_iters=0)
    assert sorted(p for p, _ in chars_vocab) == ["x", "y"]
    enc0 = unigram_lm_encode(docs, chars_vocab).collect()
    assert all(r["n_pieces"] == 24 for r in enc0)  # 3 words x 8 chars

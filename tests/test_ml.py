"""Classical-ML query family (queries/ml.py) and spectral bisection
(operators/spectral.py): semantic checks on planted shapes, beyond the
DuckDB oracles."""

from __future__ import annotations

import itertools

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def test_naive_bayes_confusion_is_complete(spark):
    from kg_etl_spark.queries.ml import q_naive_bayes_segment

    rows = q_naive_bayes_segment(spark, SF).collect()
    n_test = sum(r["n"] for r in rows)
    # every odd-custkey customer classified exactly once
    from kg_etl_spark.session import read_table

    expect = read_table(spark, SF, "customer").filter(F.col("c_custkey") % 2 == 1).count()
    assert n_test == expect
    # predictions come only from classes seen in training
    train_classes = {
        r["c_mktsegment"]
        for r in read_table(spark, SF, "customer")
        .filter(F.col("c_custkey") % 2 == 0)
        .select("c_mktsegment")
        .distinct()
        .collect()
    }
    assert {r["predicted"] for r in rows} <= train_classes


def test_decision_stump_prefers_separating_threshold(spark):
    # planted separable data: balance bucket < 5 → never urgent,
    # bucket >= 5 → always urgent. The stump must pick threshold 5
    # with weighted Gini 0 — exercised through the same operators the
    # catalog query uses, on a frame-level rebuild of its plan.
    from kg_etl_spark.queries.ml import _STUMP_THRESHOLDS

    assert _STUMP_THRESHOLDS == list(range(10))
    rows = [(i, float(1000 * (i % 10) + 500)) for i in range(200)]
    cust = spark.createDataFrame(rows, "c_custkey long, c_acctbal double")
    lab = cust.select(
        F.least(F.greatest(F.floor(F.col("c_acctbal") / 1000.0), F.lit(-1)), F.lit(9))
        .cast("long")
        .alias("bkt")
    ).withColumn("y", (F.col("bkt") >= 5).cast("long"))
    bux = lab.groupBy("bkt").agg(F.count(F.lit(1)).alias("n"), F.sum("y").alias("pos"))
    thr = F.explode(F.array(*[F.lit(t) for t in range(10)])).alias("thr")
    splits = (
        bux.select("bkt", "n", "pos", thr)
        .groupBy("thr")
        .agg(
            F.sum(F.when(F.col("bkt") < F.col("thr"), F.col("pos")).otherwise(0)).alias("p_l"),
            F.sum(F.when(F.col("bkt") < F.col("thr"), F.col("n") - F.col("pos")).otherwise(0)).alias("nneg_l"),
            F.sum(F.when(F.col("bkt") >= F.col("thr"), F.col("pos")).otherwise(0)).alias("p_r"),
            F.sum(F.when(F.col("bkt") >= F.col("thr"), F.col("n") - F.col("pos")).otherwise(0)).alias("nneg_r"),
        )
        .collect()
    )
    perfect = [r["thr"] for r in splits if r["p_l"] == 0 and r["nneg_r"] == 0]
    assert perfect == [5]


def test_conformal_bound_covers_at_target_rate(spark):
    from kg_etl_spark.queries.ml import q_conformal_spend_bound

    rows = q_conformal_spend_bound(spark, SF).collect()
    assert rows, "no segments"
    for r in rows:
        assert r["n_covered"] <= r["n_test"]
        # split conformal at alpha=0.1 over exchangeable data: coverage
        # concentrates near 0.9 — allow slack for small per-segment n
        assert r["coverage"] >= 0.75, r
        # k-th order statistic really is from the calibration set
        assert r["qhat"] > 0


def test_spectral_bisection_separates_two_cliques(spark):
    from kg_etl_spark.operators.spectral import spectral_bisection

    # two K6 cliques joined by a single bridge edge — the canonical
    # spectral-bisection shape; the sign split must recover the cliques
    a = list(range(0, 6))
    b = list(range(10, 16))
    edges = (
        [(x, y) for x, y in itertools.combinations(a, 2)]
        + [(x, y) for x, y in itertools.combinations(b, 2)]
        + [(5, 10)]
    )
    df = spark.createDataFrame(edges, "a_id long, b_id long")
    out = {r["node"]: r["side"] for r in spectral_bisection(df, iterations=3).collect()}
    sides_a = {out[x] for x in a}
    sides_b = {out[x] for x in b}
    assert len(sides_a) == 1 and len(sides_b) == 1 and sides_a != sides_b, out


def test_absorbing_steps_semantics(spark):
    from kg_etl_spark.queries.events import q_absorbing_steps

    rows = {r["event_type"]: r["exp_steps"] for r in q_absorbing_steps(spark, SF).collect()}
    assert rows["purchase"] == 0.0
    # every non-absorbing state needs >= 1 step, and the 12-step
    # truncation bounds the expectation by 12
    for ty, e in rows.items():
        if ty != "purchase":
            assert 1.0 <= e <= 12.0, (ty, e)


def test_huber_location_resists_outliers(spark):
    # planted: 99 values at 100 ± small jitter plus one 1e6 outlier.
    # The mean is dragged to ~10k; the Huber estimate must stay near 100.
    from pyspark.sql import functions as F

    from kg_etl_spark.queries.ml import _HUBER_C, _HUBER_ITERS, _huber_step_exprs

    rows = [(1, 100.0 + (i % 7) - 3.0) for i in range(99)] + [(1, 1_000_000.0)]
    cust = spark.createDataFrame(rows, "c_nationkey int, x double")
    m = cust.groupBy("c_nationkey").agg(
        (
            F.sum(F.round(F.col("x") * 100.0, 0).cast("long")).cast("double")
            / (F.lit(100.0) * F.count(F.lit(1)).cast("double"))
        ).alias("m")
    )
    for _ in range(_HUBER_ITERS):
        joined = cust.join(F.broadcast(m), "c_nationkey")
        swx, sw = _huber_step_exprs(F.col("m"))
        m = joined.groupBy("c_nationkey").agg(
            (swx.cast("double") / sw.cast("double")).alias("m")
        )
    est = m.collect()[0]["m"]
    plain_mean = sum(x for _, x in rows) / len(rows)
    assert plain_mean > 9000  # the outlier wrecked the mean
    assert abs(est - 100.0) < 150.0, est  # Huber stayed near the bulk
    assert _HUBER_C == 1000.0


def test_apriori_triples_downward_closure(spark):
    # every frequent triple's member pairs must co-occur at least as
    # often as the triple (downward closure — the property the L1
    # prune relies on)
    from pyspark.sql import functions as F

    from kg_etl_spark.queries.relational import q_apriori_triples
    from kg_etl_spark.session import read_table

    triples = q_apriori_triples(spark, SF).collect()
    if not triples:
        return  # tiny SF may have no frequent triples — sf0.01 does
    b = (
        read_table(spark, SF, "lineitem")
        .select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    baskets = {}
    for r in b.collect():
        baskets.setdefault(r["o"], set()).add(r["p"])
    for t in triples:
        pa, pb, pc, sup = t["pa"], t["pb"], t["pc"], t["support"]
        assert pa < pb < pc
        n3 = sum(1 for s in baskets.values() if {pa, pb, pc} <= s)
        assert n3 == sup
        for x, y in ((pa, pb), (pa, pc), (pb, pc)):
            n2 = sum(1 for s in baskets.values() if {x, y} <= s)
            assert n2 >= sup


def test_degree_assortativity_bounded(spark):
    from kg_etl_spark.queries.ml import q_degree_assortativity

    r = q_degree_assortativity(spark, SF).collect()[0]
    assert r["n_edge_slots"] > 0 and r["n_edge_slots"] % 2 == 0
    assert -1.0 <= r["assortativity"] <= 1.0


def test_four_cycle_count_brute_force(spark):
    # the pipeline counts C4s on the events graph; rebuild the same
    # wedge identity here on a known planted graph and cross-check the
    # arithmetic against brute-force cycle enumeration
    import itertools

    from pyspark.sql import functions as F

    # K4 has 3 four-cycles; a 4-cycle (square) has 1; disjoint union
    k4 = list(itertools.combinations([1, 2, 3, 4], 2))
    square = [(10, 11), (11, 12), (12, 13), (10, 13)]
    edges = k4 + square
    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    nodes = sorted(adj)
    brute = 0
    for quad in itertools.combinations(nodes, 4):
        for perm in itertools.permutations(quad[1:]):
            cyc = (quad[0],) + perm
            if all(cyc[(i + 1) % 4] in adj[cyc[i]] for i in range(4)):
                brute += 1
    brute //= 2  # anchor fixed at quad[0]: each C4 = 2 directed traversals
    df = spark.createDataFrame(edges, "a long, b long")
    e = df.select(F.col("a").alias("y"), F.col("b").alias("x")).union(
        df.select(F.col("b").alias("y"), F.col("a").alias("x"))
    )
    wedges = (
        e.join(e.withColumnRenamed("x", "z"), "y")
        .filter(F.col("x") < F.col("z"))
        .groupBy("x", "z")
        .agg(F.count(F.lit(1)).alias("w"))
    )
    got = wedges.agg(
        (
            (F.sum(F.col("w") * F.col("w")) - F.sum(F.col("w"))) / 4
        ).cast("long").alias("c4")
    ).collect()[0]["c4"]
    assert got == brute == 4  # 3 in K4 + 1 square


def test_ols2_recovers_exact_linear_relation(spark):
    # catalog query against numpy lstsq on the same per-customer frame
    import numpy as np
    from pyspark.sql import functions as F

    from kg_etl_spark.queries.ml import q_ols2_spend
    from kg_etl_spark.session import read_table

    out = {r["c_nationkey"]: r for r in q_ols2_spend(spark, SF).collect()}
    orders = read_table(spark, SF, "orders")
    cust = read_table(spark, SF, "customer").select(
        "c_custkey", "c_nationkey", "c_acctbal"
    )
    per = (
        orders.groupBy(F.col("o_custkey").alias("c_custkey"))
        .agg(
            F.count(F.lit(1)).alias("x2"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("y"),
        )
        .join(cust, "c_custkey")
        .collect()
    )
    by_nation = {}
    for r in per:
        by_nation.setdefault(r["c_nationkey"], []).append(
            (float(r["c_acctbal"]), float(r["x2"]), float(r["y"]))
        )
    checked = 0
    for nation, rows in by_nation.items():
        if len(rows) < 6 or out[nation]["beta0"] is None:
            continue
        A = np.array([[1.0, x1, x2] for x1, x2, _ in rows])
        y = np.array([yv for _, _, yv in rows])
        beta, *_ = np.linalg.lstsq(A, y, rcond=None)
        assert abs(out[nation]["beta0"] - beta[0]) < 1e-2 * max(1, abs(beta[0]))
        assert abs(out[nation]["beta1"] - beta[1]) < 1e-2 * max(1, abs(beta[1]))
        assert abs(out[nation]["beta2"] - beta[2]) < 1e-2 * max(1, abs(beta[2]))
        checked += 1
    assert checked >= 3


def test_spectral_bisection_deterministic(spark):
    from kg_etl_spark.operators.spectral import spectral_bisection

    edges = [(i, (i * 7 + 1) % 20) for i in range(20) if i != (i * 7 + 1) % 20]
    df = spark.createDataFrame(edges, "a_id long, b_id long")
    r1 = sorted((r["node"], r["val"]) for r in spectral_bisection(df).collect())
    r2 = sorted((r["node"], r["val"]) for r in spectral_bisection(df).collect())
    assert r1 == r2


# --- round-5 continuation batch: AUC / kappa / MI / Theil-Sen / links ---


def test_roc_auc_matches_brute_force_pair_count(spark):
    # independent path: brute-force P(pos outscores neg) + 0.5 ties
    # via numpy counting sort over the same cents scores
    import numpy as np

    from kg_etl_spark.queries.ml import q_roc_auc_price
    from kg_etl_spark.session import read_table

    row = q_roc_auc_price(spark, SF).collect()[0]
    li = read_table(spark, SF, "lineitem").select("l_extendedprice", "l_returnflag")
    pdf = li.toPandas()
    score = np.round(pdf["l_extendedprice"].to_numpy() * 100.0).astype(np.int64)
    y = (pdf["l_returnflag"] == "R").to_numpy()
    pos, neg = np.sort(score[y]), np.sort(score[~y])
    # for each positive: negatives strictly below + half the ties
    below = np.searchsorted(neg, pos, side="left")
    upto = np.searchsorted(neg, pos, side="right")
    auc = (below + (upto - below) / 2.0).sum() / (len(pos) * len(neg))
    assert row["n_pos"] == len(pos) and row["n_neg"] == len(neg)
    assert abs(row["auc"] - round(auc, 6)) < 1e-9


def test_cohens_kappa_bounds_and_crosstab(spark):
    from kg_etl_spark.queries.ml import q_cohens_kappa
    from kg_etl_spark.session import read_table

    row = q_cohens_kappa(spark, SF).collect()[0]
    pdf = read_table(spark, SF, "documents").select("text", "n_chars").toPandas()
    a = (pdf["n_chars"] >= 300).astype(int)
    b = (pdf["text"].str.count(" ") >= 55).astype(int)
    n = len(pdf)
    agree = int((a == b).sum())
    a1, b1 = int(a.sum()), int(b.sum())
    pe = a1 * b1 + (n - a1) * (n - b1)
    kappa = (n * agree - pe) / (n * n - pe)
    assert row["n_docs"] == n and row["n_agree"] == agree
    assert abs(row["kappa"] - round(kappa, 6)) < 1e-9
    assert -1.0 <= row["kappa"] <= 1.0


def test_mutual_info_nonnegative_and_bounded(spark):
    import math

    from kg_etl_spark.queries.ml import q_mutual_info_features

    rows = {r["feature"]: r for r in q_mutual_info_features(spark, SF).collect()}
    assert set(rows) == {"segment", "nation", "band"}
    for r in rows.values():
        # MI >= 0 up to the documented 8 dp per-term rounding
        assert r["mi_nats"] >= -1e-4
        # MI <= ln(min(|X|,|Y|)) <= ln(2) for a binary label
        assert r["mi_nats"] <= math.log(2.0) + 1e-9


def test_theil_sen_matches_numpy_median_of_slopes(spark):
    import numpy as np

    from kg_etl_spark.queries.ml import q_theil_sen_trend
    from kg_etl_spark.session import read_table
    from pyspark.sql import functions as F

    out = {r["event_type"]: r for r in q_theil_sen_trend(spark, SF).collect()}
    ev = read_table(spark, SF, "events")
    daily = (
        ev.groupBy(
            "event_type",
            (F.unix_micros("ts") / F.lit(86_400_000_000)).cast("long").alias("day"),
        )
        .agg(F.count(F.lit(1)).alias("c"))
        .toPandas()
    )
    for et, grp in daily.groupby("event_type"):
        d = grp["day"].to_numpy()
        c = grp["c"].to_numpy(dtype=np.float64)
        i, j = np.triu_indices(len(d), k=1)
        slopes = (c[j] - c[i]) / (d[j] - d[i])
        # lower median with (slope, d1, d2) tie order == sorted kth
        k = (len(slopes) + 1) // 2 - 1
        expect = np.sort(slopes, kind="stable")[k]
        assert out[et]["n_pairs"] == len(slopes)
        assert abs(out[et]["sen_slope"] - round(float(expect), 6)) < 1e-9


def test_link_scores_on_planted_square(spark):
    # 4-cycle 1-2-3-4-1: the two diagonals are the only non-adjacent
    # pairs, each with CN=2, PA=2*2=4, RA=1/2+1/2=1.0
    from kg_etl_spark.queries.ml import link_scores_from_edges

    e0 = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (1, 4)], "a long, b long"
    )
    rows = {(r["u"], r["v"]): r for r in link_scores_from_edges(e0).collect()}
    assert set(rows) == {(1, 3), (2, 4)}
    for r in rows.values():
        assert r["cn"] == 2 and r["pa"] == 4.0 and r["ra"] == 1.0


def test_link_scores_hub_cap_drops_center(spark):
    # star center 0 with 5 leaves: cap=4 < deg(0)=5 kills every wedge
    from kg_etl_spark.queries.ml import link_scores_from_edges

    e0 = spark.createDataFrame([(0, i) for i in range(1, 6)], "a long, b long")
    assert link_scores_from_edges(e0, hub_cap=4).count() == 0
    # with the cap admitting the center, all C(5,2)=10 leaf pairs score
    assert link_scores_from_edges(e0, hub_cap=5).count() == 10


def test_louvain_moves_on_planted_path(spark):
    # path 1-2-3: 2m=4 slots; every node has a positive-gain move;
    # node 2 tie-breaks to the smaller neighbor id
    from kg_etl_spark.queries.ml import louvain_moves_from_edges

    e0 = spark.createDataFrame([(1, 2), (2, 3)], "a long, b long")
    rows = {r["u"]: r for r in louvain_moves_from_edges(e0).collect()}
    assert rows[1]["community"] == 2 and rows[1]["gain"] == 4 - 1 * 2
    assert rows[2]["community"] == 1 and rows[2]["gain"] == 4 - 2 * 1
    assert rows[3]["community"] == 2 and rows[3]["gain"] == 4 - 1 * 2
    assert all(r["moved"] == 1 for r in rows.values())


def test_louvain_moves_always_positive_gain(spark):
    # Theorem (documented on louvain_moves_from_edges): on a simple
    # graph the argmin-degree singleton target ALWAYS has positive
    # gain — 2m >= deg(u) + deg(u)*dv_min > deg(u)*dv_min — so the
    # stay branch is unreachable from the singleton partition. The
    # bridged-hubs shape is the adversarial case (hub->hub gain IS
    # negative: 14 - 16 = -2), and the argmin must route around it.
    from kg_etl_spark.queries.ml import louvain_moves_from_edges

    edges = [(1, 2)] + [(1, i) for i in (3, 4, 5)] + [(2, i) for i in (6, 7, 8)]
    e0 = spark.createDataFrame(edges, "a long, b long")
    rows = {r["u"]: r for r in louvain_moves_from_edges(e0).collect()}
    # hubs 1,2 pick their smallest-id leaf (deg 1), never each other
    # (the hub->hub move really is gain-negative: 2m - 4*4 = -2)
    assert rows[1]["community"] == 3
    assert rows[2]["community"] == 6
    # leaves join their hub
    assert rows[3]["community"] == 1 and rows[6]["community"] == 2
    # and per the theorem, EVERY node moved with positive gain
    assert all(r["moved"] == 1 and r["gain"] > 0 for r in rows.values())


def test_sequential_patterns_greedy_existence(spark):
    # brute-force greedy matcher over the same events — independent path
    from kg_etl_spark.queries.events import q_sequential_patterns
    from kg_etl_spark.session import read_table

    got = {
        (r["ta"], r["tb"], r["tc"]): r["support"]
        for r in q_sequential_patterns(spark, SF).collect()
    }
    ev = (
        read_table(spark, SF, "events")
        .select("user_id", "event_type", "ts")
        .toPandas()
        .sort_values(["user_id", "ts"])
    )
    types = sorted(ev["event_type"].unique())
    support = {}
    for _, grp in ev.groupby("user_id"):
        seq = list(zip(grp["event_type"], grp["ts"]))
        for ta in types:
            t1 = next((t for ty, t in seq if ty == ta), None)
            if t1 is None:
                continue
            for tb in types:
                t2 = next((t for ty, t in seq if ty == tb and t > t1), None)
                if t2 is None:
                    continue
                for tc in types:
                    if any(ty == tc and t > t2 for ty, t in seq):
                        k = (ta, tb, tc)
                        support[k] = support.get(k, 0) + 1
    assert got == support


def test_sequential_patterns_sparse_user(spark, tmp_path):
    # One user with A@10 and B@5: nothing follows A's first event, so the
    # lookup of the first later event hits an empty array, which a
    # subscript turns into an error under ANSI mode. No user has three
    # strictly ordered events, so the query must return no pattern.
    import pyarrow as pa
    import pyarrow.parquet as pq

    from kg_etl_spark.queries.events import q_sequential_patterns

    pq.write_table(
        pa.table({
            "user_id": pa.array([1, 1], pa.int64()),
            "event_type": ["A", "B"],
            "ts": pa.array([10_000_000_000, 5_000_000_000], pa.timestamp("ns")),
        }),
        str(tmp_path / "events.parquet"),
    )
    assert q_sequential_patterns(spark, str(tmp_path)).collect() == []


def test_propensity_matching_brute_force(spark):
    import pandas as pd

    from kg_etl_spark.queries.ml import q_propensity_matching
    from kg_etl_spark.session import read_table
    from pyspark.sql import functions as F

    got = {r["c_nationkey"]: r for r in q_propensity_matching(spark, SF).collect()}
    cust = read_table(spark, SF, "customer").toPandas()
    spend = (
        read_table(spark, SF, "orders")
        .groupBy(F.col("o_custkey").alias("c_custkey"))
        .agg(F.sum(F.round(F.col("o_totalprice") * 100.0, 0).cast("long")).alias("sp"))
        .toPandas()
    )
    df = cust.merge(spend, on="c_custkey", how="left").fillna({"sp": 0})
    df["bal"] = (df["c_acctbal"] * 100.0).round().astype("int64")
    df["treated"] = df["c_mktsegment"] == "BUILDING"
    for nk, g in df.groupby("c_nationkey"):
        t = g[g["treated"]]
        c = g[~g["treated"]].sort_values(["bal", "c_custkey"])
        if len(t) == 0:
            assert nk not in got
            continue
        diffs, nm = [], 0
        for _, tr in t.iterrows():
            elig = c[c["bal"] <= tr["bal"]]
            if len(elig) == 0:
                continue
            ctl = elig.iloc[-1]  # max (bal, custkey)
            nm += 1
            diffs.append(tr["sp"] - ctl["sp"])
        r = got[nk]
        assert r["n_treated"] == len(t) and r["n_matched"] == nm
        if nm:
            assert abs(r["att_dollars"] - round(sum(diffs) / (100.0 * nm), 2)) < 0.02


def test_cluster_quality_db_matches_numpy(spark):
    import numpy as np

    from kg_etl_spark.queries.vector import q_cluster_quality_db
    from kg_etl_spark.session import read_table

    got = {r["label"]: r for r in q_cluster_quality_db(spark, SF).collect()}
    pdf = read_table(spark, SF, "embeddings").toPandas()
    X = np.round(np.stack(pdf["embedding"].to_numpy()).astype(np.float64), 9)
    lab = pdf["label"].to_numpy()
    labels = sorted(set(lab))
    cent = {l: X[lab == l].mean(axis=0) for l in labels}
    scat = {l: float(np.sqrt((X[lab == l].var(axis=0)).sum())) for l in labels}
    for l in labels:
        assert got[l]["n_vecs"] == int((lab == l).sum())
        assert abs(got[l]["scatter"] - scat[l]) < 1e-4
        rs = {
            o: (scat[l] + scat[o]) / float(np.linalg.norm(cent[l] - cent[o]))
            for o in labels
            if o != l
        }
        worst = max(rs, key=lambda o: (rs[o], -o))
        assert got[l]["worst_other"] == worst
        assert abs(got[l]["db_term"] - rs[worst]) < 1e-4


def test_sage_sampling_fanout_and_membership(spark):
    from kg_etl_spark.queries.ml import _SAGE_F1, _SAGE_F2, _user_graph, q_sage_sampling_plan

    SF = "/root/testdata/sf0.001"
    rows = q_sage_sampling_plan(spark, SF).collect()
    e0 = _user_graph(spark, SF).collect()
    adj = {}
    for r in e0:
        adj.setdefault(r["a"], set()).add(r["b"])
        adj.setdefault(r["b"], set()).add(r["a"])
    h1, h2 = {}, {}
    for r in rows:
        if r["hop"] == 1:
            assert r["parent"] == r["seed"]
            assert r["node"] in adj[r["seed"]]  # real neighbor
            h1.setdefault(r["seed"], []).append(r["node"])
        else:
            assert r["node"] in adj[r["parent"]]
            assert r["node"] != r["seed"]
            h2.setdefault((r["seed"], r["parent"]), []).append(r["node"])
    for seed, nbrs in h1.items():
        assert len(nbrs) == min(_SAGE_F1, len(adj[seed]))
        assert len(set(nbrs)) == len(nbrs)
    for (seed, parent), nbrs in h2.items():
        avail = len(adj[parent] - {seed})
        assert len(nbrs) == min(_SAGE_F2, avail)
        # hop-2 expands only from sampled hop-1 nodes
        assert parent in h1[seed]


def test_loo_group_influence_reconciles(spark):
    # influence must reconcile with directly recomputed means, and
    # weighted influences must nearly cancel (Σ (N-n_g)·inf_g == 0
    # exactly in rationals)
    from kg_etl_spark.queries.analytic import q_loo_group_influence
    from kg_etl_spark.session import read_table
    from pyspark.sql import functions as F

    SF = "/root/testdata/sf0.001"
    rows = q_loo_group_influence(spark, SF).collect()
    orders = read_table(spark, SF, "orders").toPandas()
    cust = read_table(spark, SF, "customer").toPandas()
    df = orders.merge(
        cust[["c_custkey", "c_nationkey"]],
        left_on="o_custkey", right_on="c_custkey",
    )
    df["cents"] = (df["o_totalprice"] * 100.0).round().astype("int64")
    mean_all = df["cents"].sum() / (100.0 * len(df))
    for r in rows:
        sub = df[df["c_nationkey"] != r["c_nationkey"]]
        expect = sub["cents"].sum() / (100.0 * len(sub)) - mean_all
        assert abs(r["influence_dollars"] - round(expect, 6)) < 1e-4, r


def test_forecast_backtest_mae_brute(spark):
    from kg_etl_spark.queries.analytic import q_forecast_backtest
    from kg_etl_spark.session import read_table
    from pyspark.sql import functions as F

    SF = "/root/testdata/sf0.001"
    got = {r["event_type"]: r for r in q_forecast_backtest(spark, SF).collect()}
    ev = read_table(spark, SF, "events")
    daily = (
        ev.groupBy(
            "event_type",
            (F.unix_micros("ts") / F.lit(86_400_000_000)).cast("long").alias("day"),
        )
        .agg(F.count(F.lit(1)).alias("c"))
        .toPandas()
        .sort_values(["event_type", "day"])
    )
    for et, g in daily.groupby("event_type"):
        by_day = dict(zip(g["day"], g["c"]))
        days = sorted(d for d in by_day if d - 1 in by_day and d - 7 in by_day)
        e1 = [abs(by_day[d] - by_day[d - 1]) for d in days]
        e7 = [abs(by_day[d] - by_day[d - 7]) for d in days]
        if not e1:
            assert et not in got
            continue
        r = got[et]
        assert r["n_days"] == len(e1)
        assert abs(r["mae_naive"] - round(sum(e1) / len(e1), 6)) < 1e-9
        assert abs(r["mae_snaive"] - round(sum(e7) / len(e7), 6)) < 1e-9
        assert r["winner"] == ("seasonal_naive" if sum(e7) < sum(e1) else "naive")


def test_gnn_prep_manifest_consistency(spark):
    # the manifest must agree with the standalone stage queries
    from kg_etl_spark.queries.ml import q_gnn_prep_manifest, q_sage_sampling_plan

    SF = "/root/testdata/sf0.001"
    man = {r["seed"]: r for r in q_gnn_prep_manifest(spark, SF).collect()}
    sage = q_sage_sampling_plan(spark, SF).collect()
    h1, h2 = {}, {}
    for r in sage:
        (h1 if r["hop"] == 1 else h2).setdefault(r["seed"], []).append(r)
    assert set(man) == set(h1)
    for seed, r in man.items():
        assert r["n_hop1"] == len(h1[seed])
        assert r["n_hop2"] == len(h2.get(seed, []))
        assert r["walk_end"] is not None
        assert r["n_center_pairs"] >= 0


def test_negative_edge_samples_are_nonedges(spark):
    # sf0.01: sf0.001's user graph is a 15-node clique, where zero
    # structural negatives EXIST (the oracle agrees on empty)
    from kg_etl_spark.queries.ml import _NEG_KEEP, _user_graph, q_negative_edge_samples

    SF = "/root/testdata/sf0.01"
    rows = q_negative_edge_samples(spark, SF).collect()
    assert rows, "expected negatives at sf0.01"
    adj = {}
    for r in _user_graph(spark, SF).collect():
        adj.setdefault(r["a"], set()).add(r["b"])
        adj.setdefault(r["b"], set()).add(r["a"])
    per_seed = {}
    for r in rows:
        assert r["neg"] != r["seed"]
        assert r["neg"] not in adj[r["seed"]]  # structurally negative
        per_seed.setdefault(r["seed"], []).append(r)
    for seed, lst in per_seed.items():
        assert len(lst) <= _NEG_KEEP
        # rk follows trial order
        lst.sort(key=lambda r: r["rk"])
        trials = [r["trial"] for r in lst]
        assert trials == sorted(trials)


def test_user_link_prediction_values_sf001(spark):
    # r5 ADVICE: at sf0.001 the user graph is a 15-node clique and the
    # query returns 0 rows (vacuous oracle) — value-check the CN/PA/RA
    # scoring path at sf0.01 against an independent brute-force
    # recomputation from the same user graph.
    from kg_etl_spark.queries.ml import _LP_HUB_CAP, _user_graph, q_user_link_prediction

    SF = "/root/testdata/sf0.01"
    got = [tuple(r) for r in q_user_link_prediction(spark, SF).collect()]
    assert got, "expected candidates at sf0.01"

    edges = {(r["a"], r["b"]) for r in _user_graph(spark, SF).collect()}
    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    deg = {n: len(s) for n, s in adj.items()}
    from collections import defaultdict

    cand = defaultdict(list)
    for z, nbrs in adj.items():
        if deg[z] > _LP_HUB_CAP:
            continue
        ns = sorted(nbrs)
        for i in range(len(ns)):
            for j in range(i + 1, len(ns)):
                cand[(ns[i], ns[j])].append(z)
    want = []
    for (x, y), zs in cand.items():
        if (x, y) in edges:
            continue
        ra = round(float(sum(round(1.0 / deg[z], 12) for z in zs)), 6)
        want.append((x, y, len(zs), float(deg[x] * deg[y]), ra))
    want.sort(key=lambda t: (-t[2], t[0], t[1]))
    assert got == want[:100]

"""10×-style scale probes for the graph/clustering/search operators
added in round 2: PageRank, triangle counting, k-means, BM25.

Each probe synthesizes inputs ~10× the sf0.1 shapes (the repo's
standard scale probe; see SCALE.md) and times the operator end-to-end,
so the SCALE.md claims are measured, not guessed.

Usage: python tools/stress_graph_ops.py [pagerank|triangles|kmeans|bm25 ...]
"""

from __future__ import annotations

import sys
import time

from pyspark.sql import functions as F

sys.path.insert(0, ".")
from kg_etl_spark.session import get_spark


def stress_pagerank(spark):
    # ~1.5M directed edges over 300k nodes (sf0.1 trade graph is ~150k)
    n, deg = 300_000, 5
    base = spark.range(n * deg)
    edges = base.select(
        (F.col("id") % n).cast("string").alias("src"),
        # mix the copy index in with a second constant so each of the
        # `deg` copies lands on a different target (j*n*A ≡ 0 mod n)
        (((F.col("id") % n) * 2654435761 + (F.col("id") / n).cast("long") * 2246822519 + 17) % n)
        .cast("string")
        .alias("dst"),
    ).filter(F.col("src") != F.col("dst")).distinct().localCheckpoint(eager=True)
    ne = edges.count()
    from kg_etl_spark.operators.pagerank import pagerank

    t0 = time.time()
    out = pagerank(edges, iterations=3)
    total = out.agg(F.sum("rank")).collect()[0][0]
    return f"pagerank: {ne} edges, 3 iters in {time.time()-t0:.1f}s (mass={total:.4f})"


def stress_triangles(spark):
    # ~100k-node graph with ~1M edges and real triangle density:
    # connect i -> i+1, i+2, i*7%n (wheel-ish overlaps)
    n = 100_000
    df = spark.range(n)
    e = None
    for off in (1, 2):
        part = df.select(F.col("id").alias("a_id"), ((F.col("id") + off) % n).alias("b_id"))
        e = part if e is None else e.union(part)
    e = e.union(df.select(F.col("id").alias("a_id"), ((F.col("id") * 7) % n).alias("b_id")))
    e = (
        e.filter(F.col("a_id") != F.col("b_id"))
        .select(F.least("a_id", "b_id").alias("a_id"), F.greatest("a_id", "b_id").alias("b_id"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    ne = e.count()
    from kg_etl_spark.operators.triangles import triangle_counts

    t0 = time.time()
    total = triangle_counts(e).agg(F.sum("n_triangles")).collect()[0][0]
    return f"triangles: {ne} edges in {time.time()-t0:.1f}s (3*n_tri={total})"


def stress_kmeans(spark):
    # 500k vectors × 32 dims (sf0.1 embeddings = 5k × 64)
    n, d, k = 500_000, 32, 8
    vec = F.transform(
        F.sequence(F.lit(1), F.lit(d)),
        lambda i: ((F.col("id") * 2654435761 % 1000003) * i % 997).cast("double") / 997.0,
    )
    df = spark.range(n).select(F.col("id").alias("vec_id"), vec.alias("embedding"))
    df = df.localCheckpoint(eager=True)
    from kg_etl_spark.operators.clustering import kmeans_lloyd

    t0 = time.time()
    out = kmeans_lloyd(spark, df, k=k, iterations=2)
    rows = out.count()
    return f"kmeans: {n}x{d}, k={k}, 2 iters in {time.time()-t0:.1f}s ({rows} model rows)"


def stress_bm25(spark):
    # 500k synthetic docs (sf0.1 documents = 5k)
    n = 500_000
    words = "spark join window scan filter merge sort hash table group".split()
    arr = F.array(*[F.lit(w) for w in words])
    text = F.array_join(
        F.transform(
            F.sequence(F.lit(1), (F.col("id") % 50 + 20).cast("int")),
            lambda i: F.element_at(arr, ((F.col("id") + i * 7) % 10 + 1).cast("int")),
        ),
        " ",
    )
    df = spark.range(n).select(F.col("id").alias("doc_id"), text.alias("text"))
    df = df.localCheckpoint(eager=True)
    from kg_etl_spark.operators.search import bm25_topk

    t0 = time.time()
    rows = bm25_topk(df, ["spark", "join", "window"], k=25).count()
    return f"bm25: {n} docs in {time.time()-t0:.1f}s ({rows} results)"


def stress_scc(spark):
    # adversarial condensation: 10k disjoint 5-cycles (50k nodes) in a
    # CONNECTED id-ordered DAG of hash cross edges — the shape that
    # broke both the min-label variant (sources-only settling) and the
    # min-id pivot (id-correlated splits). Probe checks the component
    # COUNT, not just wall time.
    k, cyc = 10_000, 5
    base = spark.range(k * cyc)
    cycle = base.select(
        F.col("id").alias("src"),
        (((F.col("id") % cyc) + 1) % cyc + (F.col("id") - F.col("id") % cyc)).alias("dst"),
    )
    cross = spark.range(k * cyc).select(
        F.col("id").alias("src"),
        ((F.col("id") * 2654435761 + 17) % (k * cyc)).alias("dst"),
    ).filter(F.col("dst") > F.col("src") + cyc)  # strictly forward: acyclic
    edges = cycle.union(cross).distinct().localCheckpoint(eager=True)
    ne = edges.count()
    from kg_etl_spark.operators.scc import strongly_connected_components

    t0 = time.time()
    out = strongly_connected_components(edges)
    n_comp = out.select("scc_id").distinct().count()
    expect = k  # every node sits in exactly one planted cycle
    return (f"scc: {ne} edges in {time.time()-t0:.1f}s "
            f"({n_comp} components, expected {expect})")


def stress_mis(spark):
    # ~1M undirected edges over 500k nodes (hash graph, avg degree 4)
    n = 500_000
    edges = spark.range(n * 2).select(
        (F.col("id") % n).alias("src"),
        ((F.col("id") * 2654435761 + (F.col("id") / n).cast("long") * 97531 + 29) % n).alias("dst"),
    ).filter(F.col("src") != F.col("dst")).distinct().localCheckpoint(eager=True)
    ne = edges.count()
    from kg_etl_spark.operators.mis import luby_mis

    t0 = time.time()
    out = luby_mis(edges)
    n_sel = out.filter(F.col("selected")).count()
    rounds = out.agg(F.max("round")).collect()[0][0] + 1
    return f"mis: {ne} edges in {time.time()-t0:.1f}s ({n_sel} selected, {rounds} rounds)"


def stress_walks(spark):
    # walk corpus over the same 1M-edge hash graph, length 5
    n = 500_000
    edges = spark.range(n * 2).select(
        (F.col("id") % n).alias("src"),
        ((F.col("id") * 2654435761 + (F.col("id") / n).cast("long") * 97531 + 29) % n).alias("dst"),
    ).filter(F.col("src") != F.col("dst")).distinct().localCheckpoint(eager=True)
    ne = edges.count()
    from kg_etl_spark.operators.walks import deterministic_walks

    t0 = time.time()
    out = deterministic_walks(edges, length=5)
    rows = out.count()
    return f"walks: {ne} edges, length 5 in {time.time()-t0:.1f}s ({rows} corpus rows)"


def stress_hierarchy(spark):
    # 1M-node forest, parent = id div 10 (depth ~ 7)
    n = 1_000_000
    from kg_etl_spark.operators.hierarchy import ancestor_paths

    nodes = spark.range(1, n + 1).select(F.col("id").alias("node"))
    parents = nodes.select(
        "node",
        F.when(F.expr("node div 10") >= 1, F.expr("node div 10")).alias("parent"),
    ).localCheckpoint(eager=True)
    t0 = time.time()
    out = ancestor_paths(parents)
    mx = out.agg(F.max("depth")).collect()[0][0]
    return f"hierarchy: {n} nodes in {time.time()-t0:.1f}s (max depth {mx})"




def stress_scc_web(spark):
    # web-graph shape: one giant SCC (250k-node ring + 250k chords)
    # plus a 250k-node DAG periphery feeding into it (trim peels it)
    n = 250_000
    ring = spark.range(n).select(
        F.col("id").alias("src"), ((F.col("id") + 1) % n).alias("dst")
    )
    chords = spark.range(n).select(
        F.col("id").alias("src"),
        ((F.col("id") * 2654435761 + 7) % n).alias("dst"),
    )
    periphery = spark.range(n).select(
        (F.col("id") + n).alias("src"),
        ((F.col("id") * 97531 + 3) % n).alias("dst"),
    )
    edges = ring.union(chords).union(periphery).filter(
        F.col("src") != F.col("dst")
    ).distinct().localCheckpoint(eager=True)
    ne = edges.count()
    from kg_etl_spark.operators.scc import strongly_connected_components

    t0 = time.time()
    out = strongly_connected_components(edges)
    from pyspark.sql import functions as _F
    giant = (
        out.groupBy("scc_id").count().agg(_F.max("count")).collect()[0][0]
    )
    return f"scc_web: {ne} edges in {time.time()-t0:.1f}s (giant SCC size {giant})"




def stress_scc_dist(spark):
    # forces the DISTRIBUTED FW-BW phase (cutover lowered to 50k):
    # same web shape as scc_web — trim peels the 250k-node periphery,
    # the first pivot swallows the giant SCC, the residual tail cuts
    # over. Measures the fixpoint-round path the 100 TB case runs.
    n = 250_000
    ring = spark.range(n).select(
        F.col("id").alias("src"), ((F.col("id") + 1) % n).alias("dst")
    )
    chords = spark.range(n).select(
        F.col("id").alias("src"),
        ((F.col("id") * 2654435761 + 7) % n).alias("dst"),
    )
    periphery = spark.range(n).select(
        (F.col("id") + n).alias("src"),
        ((F.col("id") * 97531 + 3) % n).alias("dst"),
    )
    edges = ring.union(chords).union(periphery).filter(
        F.col("src") != F.col("dst")
    ).distinct().localCheckpoint(eager=True)
    ne = edges.count()
    from kg_etl_spark.operators import components
    from kg_etl_spark.operators.scc import strongly_connected_components

    # lower the one-task bar so the distributed FW-BW rounds run first
    t0 = time.time()
    saved, components.SMALL_THRESHOLD = components.SMALL_THRESHOLD, 50_000
    try:
        out = strongly_connected_components(edges)
    finally:
        components.SMALL_THRESHOLD = saved
    from pyspark.sql import functions as _F
    giant = out.groupBy("scc_id").count().agg(_F.max("count")).collect()[0][0]
    n_nodes = out.count()
    return (f"scc_dist: {ne} edges (cutover 50k) in {time.time()-t0:.1f}s "
            f"(giant SCC {giant}, {n_nodes} nodes)")


def stress_temporal(spark):
    # deep time-chain, forward AND time-reversed: 1M-node chain where
    # edge i -> i+1 carries t=i (every step time-feasible) vs t=N-i
    # (every step after the first time-blocked). Invariants are exact:
    # forward reaches exactly rounds+1 nodes with ea(k)=k-1; reversed
    # reaches exactly 2 no matter how many rounds (the property static
    # reachability gets wrong).
    from kg_etl_spark.operators.temporal import temporal_earliest_arrival

    n, rounds = 1_000_000, 8
    base = spark.range(n - 1)
    fwd = base.select(
        F.col("id").alias("src"), (F.col("id") + 1).alias("dst"), F.col("id").alias("t")
    ).localCheckpoint(eager=True)
    seeds = spark.createDataFrame([(0, 0)], "node long, ea long")
    t0 = time.time()
    ea_f = temporal_earliest_arrival(fwd, seeds, rounds=rounds)
    reached_f = ea_f.count()
    sum_f = ea_f.agg(F.sum("ea")).collect()[0][0]
    dt_f = time.time() - t0
    want_sum = sum(k - 1 for k in range(1, rounds + 1))
    assert reached_f == rounds + 1, (reached_f, rounds + 1)
    assert sum_f == want_sum, (sum_f, want_sum)

    rev = base.select(
        F.col("id").alias("src"), (F.col("id") + 1).alias("dst"),
        (F.lit(n) - F.col("id")).alias("t"),
    ).localCheckpoint(eager=True)
    t1 = time.time()
    reached_r = temporal_earliest_arrival(rev, seeds, rounds=rounds).count()
    dt_r = time.time() - t1
    assert reached_r == 2, reached_r
    return (f"temporal: {n-1}-edge chain, {rounds} rounds in {dt_f:.1f}s fwd "
            f"(reached {reached_f}, ea-sum ok) / {dt_r:.1f}s reversed (reached {reached_r})")


def stress_propagation(spark):
    # long dependency chain: 1M-node path (symmetrized), 5 rounds.
    # Invariants: a constant field is a FIXPOINT of smoothing (blend of
    # x and mean(x)=x is x), and any field's output stays inside the
    # input [min, max] envelope (means and convex blends can't escape).
    from kg_etl_spark.operators.propagation import feature_propagation

    n, rounds = 1_000_000, 5
    base = spark.range(n - 1)
    e = base.select(F.col("id").alias("src"), (F.col("id") + 1).alias("dst"))
    edges = e.union(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint(eager=True)
    nodes = spark.range(n).select(F.col("id").alias("node"))
    const = nodes.select("node", F.lit(123_456).cast("long").alias("feat_micro"))
    t0 = time.time()
    out_c = feature_propagation(edges, const, rounds=rounds)
    bad = out_c.filter(F.col("feat_micro") != 123_456).count()
    dt_c = time.time() - t0
    assert bad == 0, f"{bad} nodes drifted off the constant fixpoint"

    grad = nodes.select(
        "node", (F.col("node") % 1000 * 1000).cast("long").alias("feat_micro")
    )
    t1 = time.time()
    out_g = feature_propagation(edges, grad, rounds=rounds)
    mm = out_g.agg(
        F.min("feat_micro").alias("lo"), F.max("feat_micro").alias("hi"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    dt_g = time.time() - t1
    assert mm["n"] == n and 0 <= mm["lo"] and mm["hi"] <= 999_000, dict(mm.asDict())
    return (f"propagation: 1M-node chain, {rounds} rounds in {dt_c:.1f}s const "
            f"(fixpoint exact) / {dt_g:.1f}s gradient (envelope [{mm['lo']},{mm['hi']}])")


def stress_ppr(spark):
    # personalized pagerank at 10x: same 1.5M-edge graph as
    # stress_pagerank, teleport restricted to node%50==0 seeds. Checks
    # (a) restart mass stays on the seed-reachable set (symmetrized
    # graph: total mass == 1 within fp tolerance) and (b) the job count
    # under AQE stays O(iterations) — the 37-Exchange static plan must
    # not re-execute per stage.
    n, deg, iters = 300_000, 5, 3
    base = spark.range(n * deg)
    edges = base.select(
        (F.col("id") % n).cast("string").alias("src"),
        (((F.col("id") % n) * 2654435761 + (F.col("id") / n).cast("long") * 2246822519 + 17) % n)
        .cast("string")
        .alias("dst"),
    ).filter(F.col("src") != F.col("dst")).distinct()
    sym = edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct().localCheckpoint(eager=True)
    ne = sym.count()
    seeds = spark.range(0, n, 50).select(F.col("id").cast("string").alias("node"))
    from kg_etl_spark.operators.pagerank import pagerank

    sc = spark.sparkContext
    sc.setJobGroup("stress_ppr", "ppr probe")
    t0 = time.time()
    out = pagerank(sym, iterations=iters, damping=0.85, deterministic=True, teleport=seeds)
    mass = out.agg(F.sum("rank")).collect()[0][0]
    dt = time.time() - t0
    jobs = len(sc.statusTracker().getJobIdsForGroup("stress_ppr"))
    sc.setJobGroup(None, None)
    assert abs(mass - 1.0) < 1e-6, mass
    # O(iters) bound: setup counts/actions + AQE stage jobs; 37-Exchange
    # static plan executed adaptively lands well under this
    assert jobs <= 12 + 4 * iters, f"job count {jobs} not O(iters)"
    return (f"ppr: {ne} sym edges, {iters} iters in {dt:.1f}s "
            f"(mass={mass:.6f}, {jobs} jobs under AQE)")


def stress_betweenness(spark):
    # 1M-node path, pivots = the 8 lowest ids (one end), max_depth=6:
    # from pivot p, reachable nodes are p±1..p±6 (truncated BFS), and
    # σ ≡ 1 on a path keeps every δ integral — the truncated Brandes
    # values are exactly enumerable. For interior node v and pivot p
    # with d = |v−p| ∈ [1,6]: walking outward contributes
    # δ_p(v) = 6 − d on the away-from-p side (chain of depth 6−d
    # below v), so bc(v) = Σ_{p: |v−p|≤6} (6 − |v−p|) over both sides
    # of v where the path extends. Spot-check a deep-interior node
    # (v=20: only pivots 0..7 lie within 6 ⇒ none, bc=0) and v=10
    # (pivots 4..7 at d=6..3 ⇒ bc = 0+1+2+3 = 6).
    from kg_etl_spark.operators.centrality import betweenness_sampled

    n = 1_000_000
    base = spark.range(n - 1)
    e = base.select(F.col("id").alias("src"), (F.col("id") + 1).alias("dst"))
    sym = e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))).localCheckpoint(
        eager=True
    )
    t0 = time.time()
    bc = betweenness_sampled(sym, k_pivots=8, max_depth=6).localCheckpoint(eager=True)
    dt = time.time() - t0
    rows = {r["node"]: r["bc"] for r in bc.filter(F.col("node").isin(10, 20, 1, 7)).collect()}
    n_nonzero = bc.filter(F.col("bc") > 0).count()
    assert rows.get(20, 0.0) == 0.0, rows
    assert rows.get(10) == 6.0, rows
    # nonzero bc only within 6 of some pivot, pivots span ids 0..7 ⇒
    # candidates are 1..13 minus chain ends' zeros — exact small count
    assert n_nonzero <= 13, n_nonzero
    return (f"betweenness: 1M-node path, k=8 depth=6 in {dt:.1f}s "
            f"(truncated-Brandes values exact, {n_nonzero} nonzero)")


def stress_node2vec(spark):
    # 1M-node directed CYCLE: outdeg ≡ 1, so the biased walk is FORCED
    # regardless of p/q — node at step t is (origin + t) mod n, an
    # exact invariant over 3M corpus rows; also re-runs bit-identical.
    from kg_etl_spark.operators.walks import node2vec_walks

    n, length = 1_000_000, 3
    base = spark.range(n)
    e = base.select(F.col("id").alias("src"), ((F.col("id") + 1) % n).alias("dst")).localCheckpoint(
        eager=True
    )
    t0 = time.time()
    corpus = node2vec_walks(e, length=length, return_weight=100, out_weight=4000)
    bad = corpus.filter(F.col("node") != (F.col("origin") + F.col("step")) % n).count()
    rows = corpus.count()
    dt = time.time() - t0
    assert bad == 0, f"{bad} corpus rows off the forced cycle walk"
    assert rows == n * (length + 1), rows
    return f"node2vec: 1M-node cycle, length {length} in {dt:.1f}s ({rows} rows, walk exact)"


def stress_ktruss(spark):
    # 500k DISJOINT triangles (nodes 3i, 3i+1, 3i+2 — every edge at
    # support exactly 1) + a K6 planted on nodes {0, 3, 6, 9, 12, 15}
    # (its edges gain >= 4 in-clique support). The 4-truss peel must
    # bulk-remove all 1.5M chain edges in ROUND 1 and converge in round
    # 2 with exactly the 15 clique edges — output invariant, not just
    # wall time. Adversarial: 97% of edges die at once (peel is bulk,
    # the opposite shape of the planted twin's cascade).
    from kg_etl_spark.operators.ktruss import ktruss

    n_tri = 500_000
    base = spark.range(n_tri)
    tri = (
        base.select((F.col("id") * 3).alias("a_id"), (F.col("id") * 3 + 1).alias("b_id"))
        .union(base.select((F.col("id") * 3).alias("a_id"), (F.col("id") * 3 + 2).alias("b_id")))
        .union(base.select((F.col("id") * 3 + 1).alias("a_id"), (F.col("id") * 3 + 2).alias("b_id")))
    )
    k6 = [0, 3, 6, 9, 12, 15]
    clique = spark.createDataFrame(
        [(a, b) for i, a in enumerate(k6) for b in k6[i + 1 :]], "a_id long, b_id long"
    )
    edges = tri.unionByName(clique).distinct().localCheckpoint(eager=True)
    ne = edges.count()
    t0 = time.time()
    out = ktruss(edges, k=4).localCheckpoint(eager=True)
    dt = time.time() - t0
    n_edges = out.count()
    nodes = set()
    for r in out.collect():
        nodes.add(r["u"])
        nodes.add(r["v"])
    assert n_edges == 15, n_edges
    assert nodes == set(k6), nodes
    assert out.filter(F.col("support") < 4).count() == 0
    return f"ktruss: {ne} edges, 4-truss in {dt:.1f}s (15 clique edges exact)"


def stress_attribution(spark):
    # r4 directive #1 "done" probe: ONE bot user with 100k clicks and
    # 1k purchases. The old user_id-only join materialized 10^8 pair
    # rows in a single user partition; the bucketed join emits only
    # clicks-within-2h × purchases ≈ 4×10^5 rows. Layout: clicks every
    # 36 s (100/hour over 1000 h), purchases mid-hour every hour for
    # the first 1000 h — every purchase therefore attributes, and the
    # linear credits per user must sum to the user's total purchase
    # value EXACTLY up to the 6-dp per-credit rounding (invariant
    # checked, not just wall time). 2k normal users ride along.
    from kg_etl_spark.queries.events import multi_touch_attribution

    HOUR = 3_600 * 1_000_000
    clicks = spark.range(100_000).select(
        F.lit("click").alias("event_type"),
        (F.col("id") + 10_000_000).alias("event_id"),
        F.lit(0).alias("user_id"),
        F.timestamp_micros(F.col("id") * 36_000_000).alias("ts"),
        F.lit(1.0).alias("value"),
    )
    purchases = spark.range(1_000).select(
        F.lit("purchase").alias("event_type"),
        (F.col("id") + 20_000_000).alias("event_id"),
        F.lit(0).alias("user_id"),
        F.timestamp_micros(F.col("id") * HOUR + HOUR // 2).alias("ts"),
        F.lit(10.0).alias("value"),
    )
    normal = spark.range(2_000).select(
        F.when(F.col("id") % 2 == 0, "click").otherwise("purchase").alias("event_type"),
        (F.col("id") + 30_000_000).alias("event_id"),
        (F.col("id") % 500 + 1).alias("user_id"),
        F.timestamp_micros(F.col("id") * 77_000_000).alias("ts"),
        F.lit(5.0).alias("value"),
    )
    ev = clicks.unionByName(purchases).unionByName(normal).localCheckpoint(eager=True)
    t0 = time.time()
    out = multi_touch_attribution(ev).localCheckpoint(eager=True)
    dt = time.time() - t0
    hot = out.filter(F.col("user_id") == 0).collect()[0]
    assert hot["n_purchases"] == 1_000, hot
    assert hot["n_attributed"] == 1_000, hot
    # every purchase fully attributed: linear credit == 1000 × 10.0
    # (each credit rounds at 6 dp; 100 shares of 0.1 are exact dyadic-
    # adjacent decimals, so the decimal sum is exact)
    assert abs(hot["linear_credit"] - 10_000.0) < 1e-3, hot
    return (
        f"attribution_hot_user: 100k clicks × 1k purchases on one user "
        f"in {dt:.1f}s (bucketed join; exact credit invariant holds)"
    )


def stress_fellegi(spark):
    # r4 directive #2 "done" probe: 500k customers collapsed into ONE
    # (nationkey, acctbal-bucket) block. Uncapped upper-triangle pairs
    # = 1.25×10^11 (plan death); the per-block cap keeps the first 200
    # members by custkey → exactly C(200,2) = 19,900 pairs, and EM runs
    # on the ≤8 pattern counts as usual.
    from kg_etl_spark.queries.analytic import fellegi_sunter_em

    cust = spark.range(500_000).select(
        F.col("id").alias("c_custkey"),
        F.lit(7).alias("c_nationkey"),
        F.when(F.col("id") % 3 == 0, "BUILDING").otherwise("MACHINERY").alias("c_mktsegment"),
        (500.0 + (F.col("id") % 400)).alias("c_acctbal"),  # all in block ⌊bal/1000⌋=0
    ).localCheckpoint(eager=True)
    t0 = time.time()
    import warnings as _w

    with _w.catch_warnings(record=True) as caught:
        _w.simplefilter("always")
        out = {r["param"]: r["value"] for r in fellegi_sunter_em(cust).collect()}
    dt = time.time() - t0
    assert len(out) == 7 and 0.0 < out["lambda"] < 1.0, out
    assert any("per-block cap" in str(w.message) for w in caught), "drop warning missing"
    return f"fellegi_hot_block: 500k single-block customers in {dt:.1f}s (cap held, drop warned)"


def stress_spectral(spark):
    # 500k-node graph (two chorded-ring communities + 1 bridge, ~2M
    # edges). The assertion is PARTITION INVARIANCE: the scaled-long
    # exact-sum device must make every 9dp iterate bit-identical no
    # matter how the edges are partitioned — run once on 64 partitions
    # and once reshuffled to 7, compare vals exactly. (3 power steps
    # from parity need not separate ring communities; determinism of
    # the distributed float pipeline is what this probe certifies.)
    from kg_etl_spark.operators.spectral import spectral_bisection

    half = 250_000
    base = spark.range(half)
    def ring(offset):
        e = None
        for step in (1, 2, 7):
            part = base.select(
                (F.col("id") + offset).alias("a_id"),
                ((F.col("id") + step) % half + offset).alias("b_id"),
            )
            e = part if e is None else e.union(part)
        return e
    edges = (
        ring(0).union(ring(half))
        .union(spark.range(1).select(F.lit(0).alias("a_id"), F.lit(half).alias("b_id")))
        .filter(F.col("a_id") != F.col("b_id"))
        .localCheckpoint(eager=True)
    )
    ne = edges.count()
    t0 = time.time()
    r1 = spectral_bisection(edges, iterations=3).localCheckpoint(eager=True)
    n1 = r1.count()
    dt = time.time() - t0
    r2 = spectral_bisection(edges.repartition(7), iterations=3)
    diff = (
        r1.select("node", "val")
        .exceptAll(r2.select("node", "val"))
        .limit(1)
        .count()
    )
    assert n1 == 2 * half, n1
    assert diff == 0, "iterates differ across partitionings"
    return f"spectral: {ne} edges, 3 deflated steps in {dt:.1f}s (bit-equal across partitionings)"


def stress_linkpred(spark):
    # ~1.3M edges: one 500k-leaf celebrity hub (above the 256 cap —
    # must be EXCLUDED from wedge expansion or the probe explodes at
    # deg² = 2.5e11) + 200k disjoint 4-cycles with exactly known
    # diagonal scores (cn=2, pa=4, ra=1.0)
    from kg_etl_spark.queries.ml import link_scores_from_edges

    hub_n = 500_000
    star = spark.range(1, hub_n + 1).select(
        F.lit(0).alias("a"), (F.col("id") + 10_000_000).alias("b")
    )
    sq = 200_000
    base = spark.range(sq).select((F.col("id") * 4 + 1_000_000).alias("o"))
    squares = None
    for i, j in ((0, 1), (1, 2), (2, 3), (0, 3)):
        part = base.select((F.col("o") + i).alias("a"), (F.col("o") + j).alias("b"))
        squares = part if squares is None else squares.union(part)
    edges = star.union(squares).localCheckpoint(eager=True)
    ne = edges.count()
    t0 = time.time()
    out = link_scores_from_edges(edges).localCheckpoint(eager=True)
    top = out.collect()
    dt = time.time() - t0
    assert len(top) == 100, len(top)
    assert all(r["cn"] == 2 and r["pa"] == 4.0 and r["ra"] == 1.0 for r in top), top[:3]
    # the hub never leaks into candidates (all ids are square-range)
    assert all(1_000_000 <= r["u"] < 1_800_000 for r in top)
    return f"linkpred: {ne} edges (hub deg {hub_n} capped out) in {dt:.1f}s (top-100 exact)"


def stress_louvain(spark):
    # 100k disjoint K1,10 stars => 1.1M nodes, 1M edges, 2m = 2e6
    # slots; every move gain is exactly 2m - 10 and every node moves
    from kg_etl_spark.queries.ml import louvain_moves_from_edges

    stars, k = 100_000, 10
    base = spark.range(stars * k)
    hub = (F.col("id") / k).cast("long") * (k + 1)
    leaf = hub + (F.col("id") % k) + 1
    edges = base.select(hub.alias("a"), leaf.alias("b")).localCheckpoint(eager=True)
    ne = edges.count()
    t0 = time.time()
    out = louvain_moves_from_edges(edges).localCheckpoint(eager=True)
    n = out.count()
    dt = time.time() - t0
    expect_gain = 2 * ne - k
    bad = out.filter(
        (F.col("moved") != 1) | (F.col("gain") != expect_gain)
    ).count()
    hubs_wrong = out.filter(
        ((F.col("u") % (k + 1)) == 0) & (F.col("community") != F.col("u") + 1)
    ).count()
    assert n == stars * (k + 1), n
    assert bad == 0 and hubs_wrong == 0, (bad, hubs_wrong)
    return f"louvain: {ne} edges, {n} nodes in {dt:.1f}s (all gains == 2m-{k} exact)"


STRESSES = {
    "pagerank": stress_pagerank,
    "attribution": stress_attribution,
    "fellegi": stress_fellegi,
    "spectral": stress_spectral,
    "linkpred": stress_linkpred,
    "louvain": stress_louvain,
    "betweenness": stress_betweenness,
    "node2vec": stress_node2vec,
    "ktruss": stress_ktruss,
    "temporal": stress_temporal,
    "propagation": stress_propagation,
    "ppr": stress_ppr,
    "triangles": stress_triangles,
    "kmeans": stress_kmeans,
    "bm25": stress_bm25,
    "scc": stress_scc,
    "scc_web": stress_scc_web,
    "scc_dist": stress_scc_dist,
    "mis": stress_mis,
    "walks": stress_walks,
    "hierarchy": stress_hierarchy,
}


def main():
    names = sys.argv[1:] or list(STRESSES)
    spark = get_spark("stress_graph_ops")
    for name in names:
        print(STRESSES[name](spark), flush=True)


if __name__ == "__main__":
    main()

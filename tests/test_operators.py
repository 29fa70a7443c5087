"""Operator tests: blocking join vs brute force, components vs a
reference union-find, nearest determinism, dedup families, similarity."""

from __future__ import annotations

import itertools
import math
import random

import pytest
from pyspark.sql import functions as F

from kg_etl_spark.operators.blocking import blocked_pairs
from kg_etl_spark.operators.components import components_iterative
from kg_etl_spark.operators.dedup import exact_dedup, minhash_lsh_pairs, ngram_jaccard_pairs, simhash_pairs
from kg_etl_spark.operators.nearest import nearest_within, radius_join
from kg_etl_spark.operators.similarity import (
    brute_force_topk,
    cosine_neardup_pairs,
    hyperplane_lsh_neardup_pairs,
)
from kg_etl_spark.operators.topk import topk_distinct_texts, topk_per_group


def _equirect(a, b):
    R = 6371000.0
    dx = math.radians(b[1] - a[1]) * math.cos(math.radians((a[0] + b[0]) / 2))
    dy = math.radians(b[0] - a[0])
    return R * math.sqrt(dx * dx + dy * dy)


def _random_points(n, seed=7):
    rng = random.Random(seed)
    return [(i, 50.0 + rng.random() * 0.05, 8.0 + rng.random() * 0.05) for i in range(n)]


def test_blocked_pairs_matches_brute_force(spark):
    pts = _random_points(120)
    df = spark.createDataFrame(pts, "id long, lat double, lon double")
    got = {
        (r["a_id"], r["b_id"])
        for r in blocked_pairs(df, "id", max_dist_m=250.0).collect()
    }
    want = {
        (a[0], b[0])
        for a, b in itertools.combinations(pts, 2)
        if _equirect((a[1], a[2]), (b[1], b[2])) <= 250.0
    }
    assert got == want and len(want) > 5


def test_radius_join_and_nearest(spark):
    left = spark.createDataFrame([(1, 50.0, 8.0)], "id long, lat double, lon double")
    right = spark.createDataFrame(
        [(10, 50.0005, 8.0), (11, 50.001, 8.0), (12, 51.0, 8.0)],
        "rid long, lat double, lon double",
    )
    rj = radius_join(left, right, "id", "rid", threshold_m=200.0)
    assert {r["rid"] for r in rj.collect()} == {10, 11}
    nn = nearest_within(left, right, "id", "rid", threshold_m=200.0).collect()
    assert len(nn) == 1 and nn[0]["rid"] == 10


def test_nearest_tie_break(spark):
    left = spark.createDataFrame([(1, 50.0, 8.0)], "id long, lat double, lon double")
    right = spark.createDataFrame(
        [(20, 50.001, 8.0), (10, 49.999, 8.0)], "rid long, lat double, lon double"
    )  # equidistant → smaller rid wins
    nn = nearest_within(left, right, "id", "rid", threshold_m=300.0).collect()
    assert nn[0]["rid"] == 10


def _py_components(edges):
    parent = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # min-id per component
    comp = {}
    for n in parent:
        r = find(n)
        comp.setdefault(r, []).append(n)
    return {n: min(m) for r, m in comp.items() for n in m}


def test_components_iterative_matches_unionfind(spark):
    rng = random.Random(3)
    edges = [(rng.randrange(60), rng.randrange(60)) for _ in range(50)]
    edges = [(a, b) for a, b in edges if a != b]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["comp"] for r in components_iterative(df).collect()}
    want = _py_components(edges)
    assert got == want


def test_components_iterative_warns_at_round_cap(spark, monkeypatch):
    # a 200-node path needs 8 label rounds: 7 that change a label and
    # one that finds none to change; a cap of 7 used to return silently
    from kg_etl_spark.operators import components

    df = spark.createDataFrame([(i, i + 1) for i in range(199)], "src long, dst long")
    monkeypatch.setattr(components, "MAX_ITER", 7)
    with pytest.warns(RuntimeWarning, match="components_iterative: did not converge"):
        components_iterative(df).collect()


def test_topk_per_group(spark):
    df = spark.createDataFrame(
        [("g", 3, 1), ("g", 2, 2), ("g", 3, 0), ("h", 1, 9)], "g string, v long, id long"
    )
    rows = topk_per_group(df, ["g"], [F.col("v").desc(), F.col("id").asc()], k=2).collect()
    got = {(r["g"], r["id"], r["rank"]) for r in rows}
    assert got == {("g", 0, 1), ("g", 1, 2), ("h", 9, 1)}


def test_exact_dedup(spark):
    df = spark.createDataFrame(
        [(1, "Hello  world"), (2, "hello world"), (3, "different")], "id long, text string"
    )
    rows = {r["keeper_id"]: r["n_dups"] for r in exact_dedup(df, "id").collect()}
    assert rows == {1: 2, 3: 1}


def test_ngram_jaccard_pairs(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = base.replace("today", "tomorrow")
    far = "completely different words here that share nothing at all with it"
    df = spark.createDataFrame([(1, base), (2, near), (3, far)], "id long, text string")
    rows = ngram_jaccard_pairs(df, "id", threshold=0.5).collect()
    assert [(r["a_id"], r["b_id"]) for r in rows] == [(1, 2)]


def test_ngram_jaccard_max_df_caps_boilerplate(spark):
    # 20 distinct docs sharing heavy boilerplate + one exact dup of doc 0.
    # With the DF cap, boilerplate-only pairs disappear and the true dup
    # still scores 1.0 (Jaccard over the capped shingle universe).
    boiler = "all rights reserved contact us about terms of service privacy policy"
    rows = [(i, f"document number {i} unique content alpha beta gamma {i * 7} delta " + boiler) for i in range(20)]
    rows.append((99, rows[0][1]))
    df = spark.createDataFrame(rows, "id long, text string")
    got = ngram_jaccard_pairs(df, "id", threshold=0.5, max_df=5).collect()
    assert [(r["a_id"], r["b_id"], r["jaccard"]) for r in got] == [(0, 99, 1.0)]
    # uncapped: every pair crosses the threshold via boilerplate alone
    assert ngram_jaccard_pairs(df, "id", threshold=0.5).count() == 21 * 20 // 2
    # hashed-shingle join: identical pairs and scores
    hashed = ngram_jaccard_pairs(df, "id", threshold=0.5, max_df=5, hash_shingles=True).collect()
    assert [(r["a_id"], r["b_id"], r["jaccard"]) for r in hashed] == [(0, 99, 1.0)]


def test_minhash_lsh_finds_near_dups(spark):
    base = " ".join(f"tok{i}" for i in range(40))
    near = base.replace("tok39", "tokX")
    far = " ".join(f"other{i}" for i in range(40))
    df = spark.createDataFrame([(1, base), (2, near), (3, far)], "id long, text string")
    rows = minhash_lsh_pairs(df, "id", threshold=0.5).collect()
    assert [(r["a_id"], r["b_id"]) for r in rows] == [(1, 2)]
    assert rows[0]["jaccard"] > 0.9


def test_minhash_max_bucket_skips_giant_clusters(spark):
    # 30 copies of one doc (a giant LSH bucket) + one genuine near-dup
    # pair of a different doc. With the cap, the copy-cluster pairs are
    # skipped (exact_dedup territory) but the near-dup pair survives.
    base = " ".join(f"tok{i}" for i in range(40))
    near = base.replace("tok39", "tokX")
    other = " ".join(f"boil{i}" for i in range(40))
    rows = [(1, base), (2, near)] + [(100 + i, other) for i in range(30)]
    df = spark.createDataFrame(rows, "id long, text string")
    capped = minhash_lsh_pairs(df, "id", threshold=0.5, max_bucket=10).collect()
    assert [(r["a_id"], r["b_id"]) for r in capped] == [(1, 2)]
    uncapped = minhash_lsh_pairs(df, "id", threshold=0.5).count()
    assert uncapped == 1 + 30 * 29 // 2


def test_simhash_pairs(spark):
    base = " ".join(f"tok{i}" for i in range(60))
    near = base.replace("tok59", "tokX")
    far = " ".join(f"other{i}" for i in range(60))
    df = spark.createDataFrame([(1, base), (2, near), (3, far)], "id long, text string")
    rows = simhash_pairs(df, "id", max_hamming=8).collect()
    assert (1, 2) in {(r["a_id"], r["b_id"]) for r in rows}


def test_simhash_max_bucket_skips_giant_clusters(spark):
    base = " ".join(f"tok{i}" for i in range(60))
    near = base.replace("tok59", "tokX")
    other = " ".join(f"boil{i}" for i in range(60))
    rows = [(1, base), (2, near)] + [(100 + i, other) for i in range(30)]
    df = spark.createDataFrame(rows, "id long, text string")
    capped = simhash_pairs(df, "id", max_hamming=8, max_bucket=10).collect()
    assert [(r["a_id"], r["b_id"]) for r in capped] == [(1, 2)]


def test_brute_force_topk(spark):
    vecs = [(0, [1.0, 0.0]), (1, [0.9, 0.1]), (2, [0.0, 1.0]), (3, [1.0, 0.05])]
    corpus = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    q = corpus.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    rows = brute_force_topk(corpus, q, k=2).orderBy("rank").collect()
    assert [r["neighbor_id"] for r in rows] == [3, 1]


def test_hyperplane_lsh_neardup(spark):
    # 3 tight clusters + isolated vectors; high-sim pairs must be found
    # (band-collision prob ≥0.99 at cos≥0.95), results ⊆ exact pairs.
    import numpy as np

    rng = np.random.RandomState(7)
    rows = []
    vid = 0
    for c in range(3):
        center = rng.standard_normal(16)
        for _ in range(4):
            v = center + rng.standard_normal(16) * 0.02
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    for _ in range(20):
        rows.append((vid, [float(x) for x in rng.standard_normal(16)]))
        vid += 1
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    exact = {(r["a_id"], r["b_id"]) for r in cosine_neardup_pairs(corpus, threshold=0.95).collect()}
    lsh = {(r["a_id"], r["b_id"]) for r in hyperplane_lsh_neardup_pairs(corpus, threshold=0.95).collect()}
    assert lsh <= exact
    # every within-cluster pair is cos≈1; all 3×C(4,2)=18 must be found
    assert len(exact) == 18 and len(lsh) == 18


def test_cosine_neardup_adaptive_dispatch(spark, monkeypatch):
    # below the cutoff: exact path (MapInPandas over the broadcast
    # matrix), identical pairs to cosine_neardup_pairs; above: the LSH
    # plan — no driver collect / MapInPandas of the corpus — and the
    # same high-sim pairs in the near-dup regime.
    import numpy as np

    from kg_etl_spark.operators import similarity
    from kg_etl_spark.operators.similarity import cosine_neardup_pairs_adaptive

    rng = np.random.RandomState(11)
    rows = []
    vid = 0
    for c in range(3):
        center = rng.standard_normal(16)
        for _ in range(4):
            v = center + rng.standard_normal(16) * 0.02
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    for _ in range(20):
        rows.append((vid, [float(x) for x in rng.standard_normal(16)]))
        vid += 1
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    monkeypatch.setattr(similarity, "EXACT_MAX_ROWS", 1000)
    exact_df = cosine_neardup_pairs_adaptive(corpus, threshold=0.95)
    assert "MapInPandas" in exact_df._jdf.queryExecution().executedPlan().toString()
    exact = {(r["a_id"], r["b_id"]) for r in exact_df.collect()}

    monkeypatch.setattr(similarity, "EXACT_MAX_ROWS", 10)
    lsh_df = cosine_neardup_pairs_adaptive(corpus, threshold=0.95)
    assert "MapInPandas" not in lsh_df._jdf.queryExecution().executedPlan().toString()
    lsh = {(r["a_id"], r["b_id"]) for r in lsh_df.collect()}

    assert exact == lsh and len(exact) == 18


def test_topk_distinct_texts(spark):
    df = spark.createDataFrame(
        [("p", "the best place ever really"), ("p", "the best place ever truly"), ("p", "bad")],
        "grp string, text string",
    )
    rows = topk_distinct_texts(df, "grp", "text", k=2, sim_cutoff=0.9).collect()
    texts = rows[0]["texts"]
    assert len(texts) == 2 and "bad" in texts  # near-dup suppressed


def test_topk_distinct_texts_scorer_is_difflib(spark):
    # the same words in another order: difflib's ratio is 0.476, a
    # token-set scorer reads 1.0 and would drop the second text
    df = spark.createDataFrame(
        [("p", "great food nice staff"), ("p", "nice staff great food")],
        "grp string, text string",
    )
    rows = topk_distinct_texts(df, "grp", "text", k=2, sim_cutoff=0.9).collect()
    assert sorted(rows[0]["texts"]) == ["great food nice staff", "nice staff great food"]


def test_minhash_incremental_matches_full(spark):
    # corpus with near-dup pairs inside the stored part, inside the new
    # batch, and across the boundary; incremental(new vs index) must
    # equal the full self-join restricted to pairs touching a new id
    from kg_etl_spark.operators.dedup import minhash_index, minhash_lsh_pairs_incremental

    base = " ".join(f"tok{i}" for i in range(40))
    rows = [
        (1, base),                          # stored
        (2, base.replace("tok39", "tokX")),  # stored near-dup of 1
        (3, " ".join(f"other{i}" for i in range(40))),  # stored, unique
        (10, base.replace("tok38", "tokY")),  # new, near-dup of 1 and 2
        (11, "completely unrelated words " + " ".join(f"z{i}" for i in range(30))),
        (12, "completely unrelated words " + " ".join(f"z{i}" for i in range(29)) + " tail"),
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    stored = df.filter("id < 10")
    new = df.filter("id >= 10")

    idx = minhash_index(stored, "id")
    inc = {
        (r["a_id"], r["b_id"], r["jaccard"])
        for r in minhash_lsh_pairs_incremental(new, idx, "id", threshold=0.5).collect()
    }
    full = {
        (r["a_id"], r["b_id"], r["jaccard"])
        for r in minhash_lsh_pairs(df, "id", threshold=0.5).collect()
        if r["a_id"] >= 10 or r["b_id"] >= 10
    }
    assert inc == full
    assert (10, 11, None) not in inc  # sanity: tuples carry jaccard
    assert any(a == 1 and b == 10 for a, b, _ in inc)  # cross-boundary pair found
    assert any(a == 11 and b == 12 for a, b, _ in inc)  # new×new pair found


def test_minhash_index_family_marker(spark):
    # ADVICE r4: a pre-rewrite index hashes shingles differently, so
    # banding it with current batches yields zero candidates SILENTLY.
    # The index now carries a family marker: mismatch raises, absence
    # warns loudly (hand-assembled dicts from a parquet store).
    import pytest as _pytest

    from kg_etl_spark.operators.dedup import (
        LSH_FAMILY,
        minhash_index,
        minhash_lsh_pairs_incremental,
    )

    base = " ".join(f"tok{i}" for i in range(40))
    stored = spark.createDataFrame([(1, base)], "id long, text string")
    new = spark.createDataFrame(
        [(10, base.replace("tok39", "tokX"))], "id long, text string"
    )
    idx = minhash_index(stored, "id")
    assert idx["family"] == LSH_FAMILY

    bad = dict(idx, family="string-xxhash64-v1")
    with _pytest.raises(ValueError, match="family"):
        minhash_lsh_pairs_incremental(new, bad, "id")

    legacy = {k: v for k, v in idx.items() if k != "family"}
    with _pytest.warns(RuntimeWarning, match="family"):
        pairs = minhash_lsh_pairs_incremental(new, legacy, "id", threshold=0.5)
    assert pairs.count() == 1  # same-family data still works under the warning


def test_minhash_incremental_combined_bucket_cap(spark):
    # cap semantics count stored + new members together: 8 stored +
    # 8 new copies of one doc = bucket of 16 > cap 10 → all its pairs
    # skipped, while an uncapped near-dup pair crossing the boundary
    # survives
    from kg_etl_spark.operators.dedup import minhash_index, minhash_lsh_pairs_incremental

    base = " ".join(f"tok{i}" for i in range(40))
    near = base.replace("tok39", "tokX")
    boiler = " ".join(f"boil{i}" for i in range(40))
    rows = [(1, base)] + [(100 + i, boiler) for i in range(8)]
    new_rows = [(10, near)] + [(200 + i, boiler) for i in range(8)]
    stored = spark.createDataFrame(rows, "id long, text string")
    new = spark.createDataFrame(new_rows, "id long, text string")

    idx = minhash_index(stored, "id")
    capped = minhash_lsh_pairs_incremental(new, idx, "id", threshold=0.5, max_bucket=10).collect()
    assert [(r["a_id"], r["b_id"]) for r in capped] == [(1, 10)]
    uncapped = minhash_lsh_pairs_incremental(new, idx, "id", threshold=0.5).count()
    # (1,10) + 8 new copies × (8 stored + 7 other new) pairs touching new
    assert uncapped == 1 + 8 * 8 + 8 * 7 // 2


def test_ngram_jaccard_prefix_matches_full_inverted_index(spark):
    # the prefix filter must be lossless: same pairs, same scores as
    # the full inverted-index operator, at several thresholds
    from kg_etl_spark.operators.dedup import ngram_jaccard_pairs_prefix

    base = " ".join(f"tok{i}" for i in range(40))
    rows = [
        (1, base),
        (2, base.replace("tok39", "tokX")),
        (3, base.replace("tok38 tok39", "a b c")),
        (4, " ".join(f"other{i}" for i in range(40))),
        (5, base),  # exact dup of 1
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    for t in (0.5, 0.8, 0.95):
        full = {
            (r["a_id"], r["b_id"], r["n_common"], r["jaccard"])
            for r in ngram_jaccard_pairs(df, "id", threshold=t).collect()
        }
        pref = {
            (r["a_id"], r["b_id"], r["n_common"], r["jaccard"])
            for r in ngram_jaccard_pairs_prefix(df, "id", threshold=t).collect()
        }
        assert pref == full, f"threshold {t}: {pref ^ full}"
    assert any(a == 1 and b == 5 for a, b, _, _ in pref)


def test_ngram_jaccard_prefix_candidate_reduction(spark):
    # the point of the filter: high-df shingles never generate
    # candidates — docs sharing ONLY boilerplate produce no pair at all
    from kg_etl_spark.operators.dedup import ngram_jaccard_pairs_prefix

    boiler = "all rights reserved contact us about terms of service"
    rows = [(i, f"unique{i} distinct{i} text{i} alpha{i} beta{i} " + boiler) for i in range(12)]
    df = spark.createDataFrame(rows, "id long, text string")
    got = ngram_jaccard_pairs_prefix(df, "id", threshold=0.8).collect()
    assert got == []  # verified: no pair reaches 0.8


# --- winnowing fingerprints (round-5 continuation) ----------------------


def test_winnowing_substring_guarantee(spark):
    # Thm-1 shape: docs sharing a run of >= w+k-1 tokens (here 8) MUST
    # share a fingerprint value; fully disjoint vocabularies must not.
    from kg_etl_spark.operators.dedup import winnowing_pairs

    shared = " ".join(f"tok{i}" for i in range(8))
    docs = [
        (1, "alpha beta gamma " + shared + " delta epsilon zeta"),
        (2, shared + " omicron pi rho sigma tau upsilon"),
        (3, "uno dos tres cuatro cinco seis siete ocho nueve diez once doce"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    pairs = {
        (r["a_id"], r["b_id"])
        for r in winnowing_pairs(df, "doc_id", k=5, w=4, threshold=0.0).collect()
    }
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_winnowing_fingerprints_partition_invariant(spark):
    from kg_etl_spark.operators.dedup import winnowing_fingerprints
    from kg_etl_spark.session import read_table

    docs = read_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    a = winnowing_fingerprints(docs.repartition(3), "doc_id").collect()
    b = winnowing_fingerprints(docs.repartition(17), "doc_id").collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    # density sanity: roughly 2/(w+1) of k-grams get selected; at
    # least one fingerprint for every doc long enough for one window
    from pyspark.sql import functions as F

    n_long = docs.filter(
        F.size(F.split(F.trim(F.lower("text")), r"\s+")) >= 8
    ).count()
    assert len({r["_id"] for r in a}) == n_long

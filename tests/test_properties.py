"""Randomized property tests (SURVEY §5 strategy #4): operators checked
against independent pure-Python references on seeded random inputs —
multiple seeds per property, one spark session."""

from __future__ import annotations

import math
import random

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from kg_etl_spark.operators.blocking import blocked_pairs
from kg_etl_spark.operators.components import components_iterative, connected_components
from kg_etl_spark.operators.nearest import nearest_within, radius_join
from kg_etl_spark.operators.skew import salted_join


def _py_components(edges: list[tuple[int, int]]) -> dict[int, int]:
    """Reference: min-reachable-node labels via BFS."""
    adj: dict[int, set[int]] = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    label: dict[int, int] = {}
    for start in adj:
        if start in label:
            continue
        seen, queue = {start}, [start]
        while queue:
            v = queue.pop()
            for n in adj[v] - seen:
                seen.add(n)
                queue.append(n)
        root = min(seen)
        for v in seen:
            label[v] = root
    return label


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_components_match_bfs_reference(spark, seed):
    rng = random.Random(seed)
    n_nodes, n_edges = 60, 45
    edges = [(rng.randrange(n_nodes), rng.randrange(n_nodes)) for _ in range(n_edges)]
    expect = _py_components(edges)
    edf = spark.createDataFrame(edges, "src long, dst long")
    # the size dispatch (union-find path at this size) and the distributed path
    for cc in (connected_components, components_iterative):
        got = {r["node"]: r["comp"] for r in cc(edf).collect()}
        assert got == expect, f"seed={seed} {cc.__name__}"


def _equirect_m(lat1, lon1, lat2, lon2):
    x = math.radians(lon2 - lon1) * math.cos(math.radians((lat1 + lat2) / 2))
    y = math.radians(lat2 - lat1)
    return 6371000.0 * math.sqrt(x * x + y * y)


@pytest.mark.parametrize(
    "seed, lat0",
    [pytest.param(0, 50.0, id="0"), pytest.param(1, 50.0, id="1")]
    + [
        pytest.param(2, lat0, id=f"lat{lat0:g}")
        for lat0 in (0.0, 50.0, 66.0, 70.0, 75.0, 80.0, -72.0, 85.0)
    ],
)
def test_blocked_pairs_match_brute_force(spark, seed, lat0):
    """The grid join equals brute force in every latitude band, in its
    self-join form (blocked_pairs), its pair form (radius_join) and its
    rank-1 form (nearest_within)."""
    rng = random.Random(seed)
    # ~1.1 km north-south by ~2.2 km east-west at any latitude, so many
    # pairs lie nearly east-west at the radius, where longitude bins
    # that are too narrow drop them
    lon_span = 0.02 / math.cos(math.radians(lat0))
    pts = [
        (i, lat0 + rng.uniform(0, 0.01), 8.0 + rng.uniform(0, lon_span))
        for i in range(150)
    ]
    thresh = 300.0
    expect = {
        (a[0], b[0])
        for i, a in enumerate(pts)
        for b in pts[i + 1:]
        if _equirect_m(a[1], a[2], b[1], b[2]) <= thresh
    }
    df = spark.createDataFrame(pts, "id long, lat double, lon double")
    got = {
        (r["a_id"], r["b_id"])
        for r in blocked_pairs(df, id_col="id", max_dist_m=thresh).collect()
    }
    assert got == expect, f"blocked_pairs seed={seed} lat0={lat0}"

    left, right = pts[0::2], pts[1::2]
    dist = {
        (a[0], b[0]): _equirect_m(a[1], a[2], b[1], b[2]) for a in left for b in right
    }
    within = {k: m for k, m in dist.items() if m <= thresh}
    ldf = df.filter(F.col("id") % 2 == 0)
    rdf = df.filter(F.col("id") % 2 == 1).withColumnRenamed("id", "rid")
    got = {(r["id"], r["rid"]) for r in radius_join(ldf, rdf, "id", "rid", thresh).collect()}
    assert got == set(within), f"radius_join seed={seed} lat0={lat0}"

    nearest = {}
    for (lid, rid), m in sorted(within.items(), key=lambda kv: (kv[1], kv[0][1])):
        nearest.setdefault(lid, rid)
    got = {r["id"]: r["rid"] for r in nearest_within(ldf, rdf, "id", "rid", thresh).collect()}
    assert got == nearest, f"nearest_within seed={seed} lat0={lat0}"


@pytest.mark.parametrize("seed", [0])
def test_salted_join_equals_plain_join(spark, seed):
    rng = random.Random(seed)
    probe = [(rng.randrange(5), rng.randrange(100)) for _ in range(200)]
    build = [(k, f"v{k}") for k in range(5)]
    pdf = spark.createDataFrame(probe, "k long, payload long")
    bdf = spark.createDataFrame(build, "k long, label string")
    plain = sorted(tuple(r) for r in pdf.join(bdf, "k").collect())
    salted = sorted(tuple(r) for r in salted_join(pdf, bdf, "k", salt=8).collect())
    assert salted == plain


def test_sketch_error_bounds(spark):
    # approx sketches must track their exact twins within stated error:
    # HLL++ rsd=0.02 → allow 5·rsd; percentile_approx accuracy=10k on
    # 50k rows → near-exact (allow 2% of the value range).
    from pyspark.sql import functions as F

    n = 50_000
    df = spark.range(n).select(
        (F.col("id") % 5).cast("string").alias("g"),
        (F.col("id") % 9973).alias("u"),
        (F.col("id") % 1000).cast("double").alias("v"),
    )
    got = df.groupBy("g").agg(
        F.approx_count_distinct("u", rsd=0.02).alias("au"),
        F.countDistinct("u").alias("eu"),
        F.percentile_approx("v", 0.5, 10_000).alias("ap50"),
        F.expr("percentile(v, 0.5)").alias("ep50"),
    ).collect()
    for r in got:
        assert abs(r["au"] - r["eu"]) <= 0.10 * r["eu"], r
        assert abs(r["ap50"] - r["ep50"]) <= 20.0, r


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_pack_concat_chunk_matches_serial_reference(spark, seed):
    from kg_etl_spark.operators.packing import pack_concat_chunk

    rng = random.Random(seed)
    cap = rng.choice([7, 64, 257])
    rows = [
        (i, " ".join(["w"] * rng.randint(0, 30)))
        for i in rng.sample(range(10_000), 200)  # sparse, unordered ids
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_tokens"], r["first_bin"], r["last_bin"], r["offset_in_bin"])
        for r in pack_concat_chunk(df, cap=cap, num_partitions=rng.choice([1, 5, 32])).collect()
    }
    cum = 0
    for i, text in sorted(rows):
        n = len(text.split()) if text else 0
        if n == 0:
            assert i not in got
            continue
        assert got[i] == (n, cum // cap, (cum + n - 1) // cap, cum % cap)
        cum += n


@pytest.mark.parametrize("seed", [0, 1])
def test_dedup_lines_idempotent_and_matches_reference(spark, seed):
    from kg_etl_spark.operators.datapipe import dedup_lines

    rng = random.Random(seed)
    vocab = [f"line{j}" for j in range(12)]  # small vocab → real cross-doc dups
    rows = [
        (i, "\n".join(rng.choice(vocab) for _ in range(rng.randint(1, 6))))
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    once = dedup_lines(df)
    got = {r["doc_id"]: r["text"] for r in once.collect()}
    # pure-python reference
    from collections import defaultdict

    docs_per_line = defaultdict(set)
    for i, text in rows:
        for ln in text.split("\n"):
            if ln.strip():
                docs_per_line[ln].add(i)
    dup = {ln for ln, d in docs_per_line.items() if len(d) >= 2}
    for i, text in rows:
        expect = "\n".join(ln for ln in text.split("\n") if ln.strip() == "" or ln not in dup)
        assert got[i] == expect, (i, got[i], expect)
    # idempotence: all surviving lines are unique or blank → 2nd pass no-op
    twice = {r["doc_id"]: r["text"] for r in dedup_lines(once.select("doc_id", "text")).collect()}
    assert twice == got


@pytest.mark.parametrize("seed", [0, 1])
def test_knuth_h32_matches_python_reference_on_random_int64(spark, seed):
    """Property: the overflow-free 16-bit-split hash equals the pure
    (id mod 2^32)*A mod 2^32 reference for ANY int64 id, under ANSI."""
    from kg_etl_spark.operators.datapipe import knuth_h32

    rng = random.Random(seed)
    ids = [rng.randrange(-(2**63), 2**63) for _ in range(300)]
    df = spark.createDataFrame([(i,) for i in ids], "id long")
    got = {r["id"]: r["h"] for r in df.select("id", knuth_h32(F.col("id")).alias("h")).collect()}
    a, m = 2654435761, 2**32
    for i in ids:
        assert got[i] == ((i % m) * a) % m, i


@pytest.mark.parametrize("seed", [0, 1])
def test_bloom_contamination_never_loses_pairs(spark, seed):
    """Property: on random word soups, bloom-prefiltered decontamination
    equals the exact sweep for every filter size — undersized filters
    only create false positives (killed by the verify join), never
    false negatives."""
    from kg_etl_spark.operators.datapipe import (
        bloom_ngram_contamination,
        ngram_contamination,
    )

    rng = random.Random(seed)

    def soup(n):
        return " ".join(f"t{rng.randrange(40)}" for _ in range(n))

    corpus = spark.createDataFrame(
        [(i, soup(rng.randrange(3, 30))) for i in range(25)], "doc_id long, text string"
    )
    bench = spark.createDataFrame(
        [(100 + i, soup(rng.randrange(5, 15))) for i in range(4)],
        "bench_id long, text string",
    )
    exact = {tuple(r) for r in ngram_contamination(corpus, bench, n=4).collect()}
    for m_bits in (1 << 14, 128):
        got = {
            tuple(r)
            for r in bloom_ngram_contamination(corpus, bench, n=4, m_bits=m_bits).collect()
        }
        assert got == exact, (seed, m_bits)


@given(
    st.text(alphabet="abcdef", min_size=1, max_size=12),
    st.lists(
        st.tuples(st.text(alphabet="abcdef", min_size=1, max_size=2),
                  st.text(alphabet="abcdef", min_size=1, max_size=2)),
        max_size=8,
        unique=True,
    ),
)
@settings(max_examples=200, deadline=None)
def test_bpe_word_reconstruction_invariants(word, merges):
    """Property: greedy BPE application never alters the underlying
    string (pieces concatenate back to the word), never produces empty
    pieces, and is idempotent under re-application to its own output
    vocabulary."""
    from kg_etl_spark.operators.bpe import bpe_word

    ranks = {m: i for i, m in enumerate(merges)}
    pieces = bpe_word(word, ranks)
    assert "".join(pieces) == word
    assert all(pieces)
    assert 1 <= len(pieces) <= len(word)


@given(st.integers(min_value=-(2**62), max_value=2**62))
@settings(max_examples=50, deadline=None)
def test_h32_matches_pure_reference(spark_h32_probe, x):
    """Property: the overflow-free split form of (k*A+B) mod 2^32
    equals the direct big-int computation for any long input."""
    a, b = 2654435761, 40503
    expected = ((x % (2**32)) * a + b) % (2**32)
    assert spark_h32_probe(x, a, b) == expected

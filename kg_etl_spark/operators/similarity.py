"""Similarity search over embedding columns (array<float>).

- brute-force cosine top-k: broadcast the (small) query set, score with
  a sequential native fold (deterministic, bit-exact in double), window
  top-k. The 100 TB story: queries broadcast, corpus never shuffled.
- IVF-bucketed ANN: assign every vector to its nearest of K centroids
  (broadcast), then search only matching buckets (+nprobe neighbors).

Dot products use F.zip_with + F.aggregate — a left-to-right fold, so
results are bit-identical across partitionings (and to any engine that
folds left-to-right in double).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from kg_etl_spark.operators.util import rows_at_most, spread


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    k: int = 5,
) -> DataFrame:
    """Exact top-k cosine neighbors per query (query_id != neighbor id).

    queries: (query_id, embedding). Broadcast-joined against the corpus;
    per-query window top-k with (score desc, id asc) total order.
    """
    q = queries.select(F.col(query_id_col), F.col(vec_col).alias("_qvec"))
    scored = (
        corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cvec"))
        .join(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col(query_id_col))
        .withColumn("score", cosine(F.col("_qvec"), F.col("_cvec")))
    )
    w = Window.partitionBy(query_id_col).orderBy(F.col("score").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select(query_id_col, "neighbor_id", "rank", F.round("score", 6).alias("score"))
    )


def kmeans_like_centroids(corpus: DataFrame, vec_col: str, n_centroids: int, id_col: str) -> DataFrame:
    """Deterministic pseudo-centroids: hash-partition ids into
    n_centroids groups and average element-wise (one pass, no iteration
    — an IVF coarse quantizer stand-in that needs no MLlib).

    One groupBy with d avg-columns: map-side partial aggregation means
    the shuffle carries n_centroids rows × d columns — NOT the
    |corpus|×d exploded rows a posexplode formulation shuffles (that
    version was the bottleneck of the whole IVF path)."""
    d = corpus.select(F.size(vec_col).alias("d")).limit(1).collect()[0]["d"]
    assigned = corpus.select(
        (F.abs(F.xxhash64(F.col(id_col))) % n_centroids).alias("centroid_id"),
        F.col(vec_col).alias("v"),
    )
    means = assigned.groupBy("centroid_id").agg(
        *[F.avg(F.col("v")[i].cast("double")).alias(f"_m{i}") for i in range(d)]
    )
    return means.select(
        "centroid_id", F.array(*[F.col(f"_m{i}") for i in range(d)]).alias("centroid")
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 4,
) -> DataFrame:
    """IVF-style ANN: bucket corpus by nearest centroid; for each query
    probe the nprobe nearest buckets only. Approximate (recall < 1) but
    the scan per query drops by ~n_centroids/nprobe.

    Bucket assignment is a pure map-side expression: the (tiny)
    centroid table is collected and inlined as literals, and per-row
    nearest-centroid is an array argsort — no join, no window, no
    shuffle on the corpus. (The previous window-per-row formulation
    shuffled |corpus|×n_centroids rows and made IVF *slower* than
    brute force.) Ranking uses dot/|c| which orders identically to
    cosine — the row-norm factor is constant per row."""
    cents_rows = sorted(
        kmeans_like_centroids(corpus, vec_col, n_centroids, id_col).collect(),
        key=lambda r: r["centroid_id"],
    )

    # one literal array of {c, nrm, cid} structs + transform — a
    # per-centroid unrolled expression tree pays heavy Catalyst
    # analysis/codegen time (see hyperplane_lsh_neardup_pairs)
    cent_lit = F.array(
        *[
            F.struct(
                F.lit(np.asarray(row["centroid"], dtype="float64")).alias("c"),
                F.lit(float(np.sqrt(sum(x * x for x in row["centroid"]))) or 1.0).alias("nrm"),
                F.lit(row["centroid_id"]).alias("cid"),
            )
            for row in cents_rows
        ]
    )

    def bucket_ranks(vcol: Column) -> Column:
        # array of (-(dot/|c|), centroid_id) structs, ascending sort ≡
        # (score desc, centroid_id asc) — the original tie-break
        return F.array_sort(
            F.transform(
                cent_lit,
                lambda s: F.struct(
                    (
                        -F.aggregate(
                            F.zip_with(vcol, s["c"], lambda a, b: a.cast("double") * b),
                            F.lit(0.0),
                            lambda acc, v: acc + v,
                        )
                        / s["nrm"]
                    ).alias("neg"),
                    s["cid"].alias("cid"),
                ),
            )
        )

    bucketed = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("_cvec"),
        bucket_ranks(F.col(vec_col))[0]["cid"].alias("bucket"),
    )
    probed = queries.select(
        F.col(query_id_col),
        F.col(vec_col).alias("_qvec"),
        F.explode(
            F.transform(F.slice(bucket_ranks(F.col(vec_col)), 1, nprobe), lambda s: s["cid"])
        ).alias("bucket"),
    )
    scored = (
        bucketed.join(F.broadcast(probed), "bucket")
        .filter(F.col("neighbor_id") != F.col(query_id_col))
        .withColumn("score", cosine(F.col("_qvec"), F.col("_cvec")))
    )
    w = Window.partitionBy(query_id_col).orderBy(F.col("score").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select(query_id_col, "neighbor_id", "rank", F.round("score", 6).alias("score"))
    )


def hyperplane_lsh_neardup_pairs(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    n_planes: int = 256,
    bands: int = 16,
    seed: int = 42,
    max_bucket: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-dup pairs via random-hyperplane LSH — the
    sub-quadratic scale path for cosine_neardup_pairs (whose broadcast
    matrix caps out around ~1M vectors).

    sign(v·h_j) bits for n_planes seeded-deterministic Gaussian
    hyperplanes; bits grouped into `bands` bands of r=n_planes/bands;
    vectors sharing any exact band become candidates (equi-join on the
    band key — the corpus never broadcasts and never cross-joins);
    candidates verified with exact cosine, same threshold semantics as
    the exact operator. Approximate: a θ-apart pair shares a band with
    prob 1-(1-p^r)^bands, p = 1-θ/π. r = n_planes/bands is the
    selectivity lever: UNRELATED (≈orthogonal) vectors collide per band
    with prob 2^-r, so r=4 passed 40% of the whole pair space as
    candidates (measured — the blocker wasn't blocking) while r=16
    passes ~0.02%. Defaults (r=16, 16 bands) give recall 0.96 at
    cosine 0.9 and ≥0.999 at 0.95 — the near-dup regime this operator
    is for. Weak-similarity thresholds (≲0.5) are inherently
    un-blockable by sign-LSH (69° vs 90° barely differ per plane): use
    cosine_neardup_pairs or IVF there.

    Bit computation is a native fold per plane (inlined literal
    hyperplanes — no join, no shuffle, map-side only, like ivf_topk's
    bucket assignment). max_bucket caps giant buckets (exact-dup
    clusters) exactly as in minhash_lsh_pairs.
    """
    assert n_planes % bands == 0
    r = n_planes // bands
    rng = np.random.RandomState(seed)
    # one 2D array literal + transform: a per-plane unrolled formulation
    # (n_planes separate fold expressions over n_planes×d scalar
    # literals) spent ~45 s per query in Catalyst analysis/codegen
    # before a single row moved; this tree is O(1) operators deep and
    # codegen loops instead
    d = corpus.select(F.size(vec_col).alias("d")).limit(1).collect()[0]["d"]
    # 1-D ndarray literals: one Literal node per PLANE (not per scalar)
    # — n_planes×d scalar literals cost ~10 s of analysis at 256×64
    planes_lit = F.array(*[F.lit(row) for row in rng.standard_normal((n_planes, d))])
    bits = F.transform(
        planes_lit,
        lambda h: (
            F.aggregate(
                F.zip_with(F.col(vec_col), h, lambda a, b: a.cast("double") * b),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
            > 0
        ).cast("long"),
    )
    # two projection steps so the (expensive) bits array is a
    # materialized attribute, not re-inlined into every band key
    with_bits = corpus.select(
        F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"), bits.alias("_bits")
    )
    weights = F.array(*[F.lit(1 << i).cast("long") for i in range(r)])
    band_keys = [
        F.aggregate(
            F.zip_with(F.slice(F.col("_bits"), b * r + 1, r), weights, lambda x, w: x * w),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        ).alias(f"_bk{b}")
        for b in range(bands)
    ]
    sig = with_bits.select("_id", "_v", *band_keys)
    sig = sig.lineage_cut(eager=True)

    banded = sig.select(
        "_id",
        F.explode(
            F.array(*[F.struct(F.lit(b).alias("band"), F.col(f"_bk{b}").alias("bk")) for b in range(bands)])
        ).alias("_b"),
    ).select("_id", F.col("_b.band").alias("band"), F.col("_b.bk").alias("bk"))

    if max_bucket is not None:
        over = (
            banded.groupBy("band", "bk")
            .agg(F.count(F.lit(1)).alias("_n"))
            .filter(F.col("_n") > max_bucket)
        )
        banded = banded.join(F.broadcast(over), ["band", "bk"], "left_anti")

    cand = (
        banded.alias("x")
        .join(banded.alias("y"), ["band", "bk"])
        .filter(F.col("x._id") < F.col("y._id"))
        .select(F.col("x._id").alias("a_id"), F.col("y._id").alias("b_id"))
        .distinct()
    )
    va = sig.select(F.col("_id").alias("a_id"), F.col("_v").alias("_va"))
    vb = sig.select(F.col("_id").alias("b_id"), F.col("_v").alias("_vb"))
    verified = (
        cand.join(va, "a_id")
        .join(vb, "b_id")
        .withColumn("score", cosine(F.col("_va"), F.col("_vb")))
        .filter(F.col("score") >= threshold)
    )
    return verified.select("a_id", "b_id", F.round("score", 6).alias("score"))


# Largest corpus the exact broadcast-matmul path takes.
EXACT_MAX_ROWS = 1_000_000


def cosine_neardup_pairs_adaptive(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.35,
    n_planes: int = 256,
    bands: int = 16,
    seed: int = 42,
    max_bucket: int | None = None,
) -> DataFrame:
    """Size-adaptive embedding near-dup dispatch (same contract as
    `cosine_neardup_pairs`: a_id < b_id, cosine >= threshold).

    Up to `EXACT_MAX_ROWS` rows the exact broadcast-matmul path runs
    (bit-identical to the all-pairs oracle). Above it — where that
    path's driver collect/broadcast (~0.5 GB per 1M×64 float64
    vectors) stops being sane — candidates come from random-hyperplane
    LSH bands and only candidates are exact-cosine verified: the corpus
    never leaves the executors and pair generation is sub-quadratic.
    Mirrors `connected_components`' small/iterative cutover.

    Caveat carried from the LSH operator: sign-LSH blocks well in the
    near-dup regime (threshold ≳ 0.8); weak thresholds (≲ 0.5) on a
    >EXACT_MAX_ROWS corpus have reduced recall — raise `bands` (more
    probes) or shrink the corpus first in that case.
    """
    if rows_at_most(corpus, EXACT_MAX_ROWS):
        return cosine_neardup_pairs(corpus, id_col, vec_col, threshold)
    return hyperplane_lsh_neardup_pairs(
        corpus, id_col, vec_col, threshold,
        n_planes=n_planes, bands=bands, seed=seed, max_bucket=max_bucket,
    )


def cosine_neardup_pairs(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.35,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (a_id, b_id, score) with
    a_id < b_id and cosine >= threshold — the vector leg of the dedup
    family (exact / n-gram / MinHash / SimHash / embedding).

    Execution: the corpus matrix is broadcast once (float64, ~0.5 GB
    per 1M×64 vectors — the practical ceiling for this exact path);
    each partition then runs ONE BLAS matmul of its row-block against
    the broadcast matrix and emits only the surviving pairs. No
    per-pair rows ever materialize — a naive pair join shipped every
    vector pair through the shuffle/Arrow boundary and was 10-30×
    slower. The 100 TB path swaps the broadcast for a blocker
    (random-hyperplane LSH bands or the IVF assignment above) before
    the same scoring/filter — identical downstream semantics, candidate
    generation becomes sub-quadratic.
    """
    from collections.abc import Iterator

    sc = corpus.sparkSession.sparkContext
    id_type = dict(corpus.dtypes)[id_col]

    full = corpus.select(id_col, vec_col).toPandas()
    ids_all = full[id_col].to_numpy()
    mat_all = np.stack(full[vec_col].to_numpy()).astype(np.float64)
    norms_all = np.sqrt(np.einsum("ij,ij->i", mat_all, mat_all))
    bc = sc.broadcast((ids_all, mat_all, norms_all))

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ids_b, mat_b, norms_b = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            a_ids = pdf[id_col].to_numpy()
            a_mat = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            a_norms = np.sqrt(np.einsum("ij,ij->i", a_mat, a_mat))
            scores = (a_mat @ mat_b.T) / np.outer(a_norms, norms_b)
            ai, bj = np.nonzero((scores >= threshold) & (a_ids[:, None] < ids_b[None, :]))
            yield pd.DataFrame(
                {"a_id": a_ids[ai], "b_id": ids_b[bj], "score": scores[ai, bj]}
            )

    out = spread(corpus.select(id_col, vec_col)).mapInPandas(
        gen, schema=f"a_id {id_type}, b_id {id_type}, score double"
    )
    return out.select("a_id", "b_id", F.round("score", 6).alias("score"))


def quantize_embeddings(
    df: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id"
) -> DataFrame:
    """L2-normalize and symmetric-int8-quantize an embedding column —
    the standard compression step before a vector index ships to an ANN
    server (4x smaller, dot products in int arithmetic).

    Fully map-side native HOFs: one transform to double, one aggregate
    for the squared norm (left fold — order-stable so the engine oracle
    matches bit-for-bit), one transform for floor((x/norm)*127 + 0.5)
    clamped to [-127, 127]. Zero-norm vectors are dropped (their
    direction is undefined). Output: (id, l2_norm, qvec).

    100 TB: no shuffle, no Python, runs at scan speed; compose upstream
    of shard_manifest to write quantized shards.
    """
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    with_norm = df.select(
        F.col(id_col), v.alias("_v")
    ).withColumn(
        "_norm", F.sqrt(F.aggregate(F.col("_v"), F.lit(0.0), lambda a, x: a + x * x))
    ).filter(F.col("_norm") > 0)
    q = F.transform(
        F.col("_v"),
        lambda x: F.greatest(
            F.lit(-127),
            F.least(F.lit(127), F.floor((x / F.col("_norm")) * 127 + 0.5).cast("int")),
        ),
    )
    return with_norm.select(
        id_col, F.round("_norm", 6).alias("l2_norm"), q.alias("qvec")
    )


def mmr_rerank(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    lam: float = 0.5,
    pool: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Maximal-marginal-relevance re-ranking (Carbonell & Goldstein
    1998): from each query's top-`pool` cosine candidates, greedily
    pick k maximizing λ·rel(d) − (1−λ)·max_{s∈S} sim(d, s) — the
    diversity-aware selection retrieval stacks run after ANN.

    Shape: candidate generation is the distributed `brute_force_topk`
    (corpus never shuffles); the greedy loop runs per query over its
    own `pool` rows in one Arrow `applyInPandas` group — O(pool²·dim)
    python work per QUERY, never corpus-scale. λ=1 provably degenerates
    to plain relevance ranking (the SQL-oracle boundary twin); interior
    λ is rows-only plus unit tests.

    Ties: exact-float argmax with lowest-neighbor-id tie-break — a
    total order; the arithmetic is deterministic per input, and at the
    λ=1 boundary it reduces to exactly `brute_force_topk`'s
    (score desc, id asc) order, which the SQL twin reproduces.
    """
    import numpy as np
    import pandas as pd

    cands = brute_force_topk(
        corpus, queries, id_col=id_col, vec_col=vec_col,
        query_id_col=query_id_col, k=pool,
    )
    withvec = cands.join(
        corpus.select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_nvec")
        ),
        "neighbor_id",
    )

    def pick(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["rank"]).reset_index(drop=True)
        vecs = np.array([np.asarray(v, dtype=np.float64) for v in pdf["_nvec"]])
        norms = np.linalg.norm(vecs, axis=1)
        norms[norms == 0] = 1.0
        unit = vecs / norms[:, None]
        rel = pdf["score"].to_numpy(dtype=np.float64)
        ids = pdf["neighbor_id"].to_numpy()
        chosen: list[int] = []
        remaining = list(range(len(pdf)))
        while remaining and len(chosen) < k:
            if chosen:
                sim_to_s = unit[remaining] @ unit[chosen].T
                penalty = sim_to_s.max(axis=1)
            else:
                penalty = np.zeros(len(remaining))
            mmr = lam * rel[remaining] - (1.0 - lam) * penalty
            key = [(-m, ids[i]) for m, i in zip(mmr, remaining)]
            best_pos = min(range(len(remaining)), key=lambda p: key[p])
            chosen.append(remaining.pop(best_pos))
        return pd.DataFrame(
            {
                query_id_col: pdf[query_id_col].iloc[0],
                "neighbor_id": ids[chosen],
                "mmr_rank": np.arange(1, len(chosen) + 1, dtype=np.int64),
                "score": [round(float(rel[i]), 6) for i in chosen],
            }
        )

    return withvec.groupBy(query_id_col).applyInPandas(
        pick,
        schema=f"{query_id_col} long, neighbor_id long, mmr_rank long, score double",
    )

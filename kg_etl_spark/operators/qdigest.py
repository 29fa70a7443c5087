"""Q-digest: deterministic mergeable quantile sketch over a bounded
integer domain [0, 2^L) (Shrivastava et al., SenSys'04) — the
quantile member of the verifiable-sketch family (operators/sketches.py
carries CMS / HLL / JL).

Why q-digest and not t-digest/KLL: both of those are
insertion-order- or randomness-sensitive, so their state has no stable
value oracle. Q-digest compression is a pure function of the exact
value histogram — same histogram, same digest, on any engine — which
gives three verifiable handles:
  1. no-compression twin: with threshold floor(n/k)=0 the digest IS
     the exact leaf histogram — plain SQL GROUP BY (● oracle);
  2. the rank-error guarantee |rank(est) - q·n| <= ε·n with
     ε = L/k is a THEOREM, so a query returning `within_bound` per
     quantile is oracled by constant true;
  3. merge = count-sum + recompress, property-tested for the same
     bound under arbitrary splits.

Spark-first shape: ONE exact groupBy(value) histogram (the only
corpus-scale pass; map-side partial agg), then compression over the
state-sized histogram (≤ |distinct| ≤ 2^L rows) inside a single
`applyInPandas` task — the corpus itself never leaves executors, and
the digest (≤ 3k·L entries) is the only thing the driver ever sees.
Per-partition digests + merge (the federated path) are exposed as
pure functions over state dicts.

Node numbering: root 1 covers [0, 2^L); node v's children are 2v
(low half) and 2v+1 (high half); leaves are U + value with U = 2^L.
"""

from __future__ import annotations

from typing import Iterable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _node_range(node: int, log_u: int) -> tuple[int, int]:
    """[lo, hi] value range covered by a node."""
    depth = node.bit_length() - 1
    width = 1 << (log_u - depth)
    lo = (node - (1 << depth)) * width
    return lo, lo + width - 1


def qdigest_compress(
    counts: dict[int, int], n: int, k: int, log_u: int
) -> dict[int, int]:
    """Bottom-up q-digest compression of {node: count}: while a node
    family (node, sibling, parent) carries fewer than floor(n/k)
    items, fold the children into the parent. Deterministic: depths
    are processed top value down, siblings via their shared parent id.
    """
    thr = n // k
    state = {nd: c for nd, c in counts.items() if c}
    for depth in range(log_u, 0, -1):
        lo_id, hi_id = 1 << depth, 1 << (depth + 1)
        parents: dict[int, int] = {}
        for nd in sorted(p for p in state if lo_id <= p < hi_id):
            parents.setdefault(nd >> 1, 0)
        for par in sorted(parents):
            fam = state.get(2 * par, 0) + state.get(2 * par + 1, 0) + state.get(par, 0)
            if fam < thr:
                state[par] = fam
                state.pop(2 * par, None)
                state.pop(2 * par + 1, None)
    return {nd: c for nd, c in state.items() if c}


def qdigest_merge(
    a: dict[int, int], b: dict[int, int], k: int, log_u: int
) -> dict[int, int]:
    """Union of two digests: sum per-node counts, recompress at the
    combined n. Associative up to recompression; the ε = L/k rank
    guarantee is preserved (standard q-digest merge)."""
    out = dict(a)
    for nd, c in b.items():
        out[nd] = out.get(nd, 0) + c
    n = sum(out.values())
    return qdigest_compress(out, n, k, log_u)


def qdigest_quantile(state: dict[int, int], q: float, log_u: int) -> int:
    """Rank-walk estimate: scan nodes by (range hi asc, range width
    asc) accumulating counts; report the hi end of the node where the
    cumulative count first reaches ceil(q·n)."""
    n = sum(state.values())
    target = max(1, -(-int(q * n * 1_000_000) // 1_000_000))  # ceil without float drift
    acc = 0
    for nd in sorted(state, key=lambda x: (_node_range(x, log_u)[1], _node_range(x, log_u)[1] - _node_range(x, log_u)[0])):
        acc += state[nd]
        if acc >= target:
            return _node_range(nd, log_u)[1]
    return (1 << log_u) - 1


def qdigest_build(
    df: DataFrame,
    value_col: str,
    *,
    log_u: int = 17,
    k: int = 64,
) -> DataFrame:
    """Digest of an integer column in [0, 2^L) as (node long, cnt
    long). One exact histogram shuffle; compression runs as a single
    state-sized applyInPandas task (the histogram is ≤ 2^L rows — the
    corpus never funnels anywhere)."""
    hist = (
        df.select(F.col(value_col).cast("long").alias("v"))
        .filter((F.col("v") >= 0) & (F.col("v") < (1 << log_u)))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("c"))
        .withColumn("_g", F.lit(1))
    )

    def compress(pdf: pd.DataFrame) -> pd.DataFrame:
        counts = {int(v) + (1 << log_u): int(c) for v, c in zip(pdf["v"], pdf["c"])}
        n = int(pdf["c"].sum())
        state = qdigest_compress(counts, n, k, log_u)
        return pd.DataFrame(
            {"node": sorted(state), "cnt": [state[nd] for nd in sorted(state)]}
        )

    return hist.groupBy("_g").applyInPandas(compress, "node long, cnt long")


def qdigest_state_dict(state_df: DataFrame) -> dict[int, int]:
    return {int(r["node"]): int(r["cnt"]) for r in state_df.collect()}


def build_histogram_dict(values: Iterable[int], log_u: int) -> dict[int, int]:
    """Leaf-count dict from raw values (test/merge-path helper)."""
    out: dict[int, int] = {}
    u = 1 << log_u
    for v in values:
        if 0 <= v < u:
            nd = u + int(v)
            out[nd] = out.get(nd, 0) + 1
    return out

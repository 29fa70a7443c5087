"""Q-digest: compression size bound, rank-error guarantee on the
single and MERGED paths (the federated shape the SQL oracle
can't see), and determinism."""

from __future__ import annotations

import random

from kg_etl_spark.operators.qdigest import (
    build_histogram_dict,
    qdigest_compress,
    qdigest_merge,
    qdigest_quantile,
)

LOG_U = 12
U = 1 << LOG_U


def _rank_bounds_ok(values, est, q, n, k, slack_levels):
    target = -(-int(q * n * 1_000_000) // 1_000_000)
    le = sum(1 for v in values if v <= est)
    lt = sum(1 for v in values if v < est)
    return le >= target and lt <= target + slack_levels * (n // k)


def test_compress_size_bound():
    rng = random.Random(7)
    values = [int(rng.betavariate(2, 5) * U) for _ in range(20_000)]
    k = 128
    state = qdigest_compress(build_histogram_dict(values, LOG_U), len(values), k, LOG_U)
    # classic q-digest space bound: at most 3k nodes survive
    assert len(state) <= 3 * k
    assert sum(state.values()) == len(values)


def test_single_digest_rank_guarantee():
    rng = random.Random(11)
    values = [int(rng.random() ** 2 * U) for _ in range(30_000)]
    k = 256
    n = len(values)
    state = qdigest_compress(build_histogram_dict(values, LOG_U), n, k, LOG_U)
    for q in (0.1, 0.25, 0.5, 0.9, 0.99):
        est = qdigest_quantile(state, q, LOG_U)
        assert _rank_bounds_ok(values, est, q, n, k, LOG_U + 1), q


def test_merged_digest_rank_guarantee():
    """Split the stream 4 ways, compress each, merge pairwise — the
    merged digest must still answer within the (looser, additive)
    merge bound."""
    rng = random.Random(13)
    values = [int(rng.random() * U) for _ in range(40_000)]
    k = 256
    parts = [values[i::4] for i in range(4)]
    digs = [
        qdigest_compress(build_histogram_dict(p, LOG_U), len(p), k, LOG_U)
        for p in parts
    ]
    m1 = qdigest_merge(digs[0], digs[1], k, LOG_U)
    m2 = qdigest_merge(digs[2], digs[3], k, LOG_U)
    merged = qdigest_merge(m1, m2, k, LOG_U)
    n = len(values)
    assert sum(merged.values()) == n  # merge never loses mass
    for q in (0.25, 0.5, 0.9):
        est = qdigest_quantile(merged, q, LOG_U)
        # 3 merges, each re-compression adds <= (L+1)*thr rank slack
        assert _rank_bounds_ok(values, est, q, n, k, 4 * (LOG_U + 1)), q


def test_compression_deterministic_vs_input_order():
    rng = random.Random(17)
    values = [int(rng.random() * U) for _ in range(5_000)]
    a = qdigest_compress(build_histogram_dict(values, LOG_U), len(values), 64, LOG_U)
    shuffled = values[:]
    rng.shuffle(shuffled)
    b = qdigest_compress(build_histogram_dict(shuffled, LOG_U), len(shuffled), 64, LOG_U)
    assert a == b


def test_no_compression_is_exact_histogram():
    values = [1, 1, 2, 5, 5, 5, 9]
    state = qdigest_compress(
        build_histogram_dict(values, LOG_U), len(values), 10**9, LOG_U
    )
    assert state == {U + 1: 2, U + 2: 1, U + 5: 3, U + 9: 1}
    assert qdigest_quantile(state, 0.5, LOG_U) == 5

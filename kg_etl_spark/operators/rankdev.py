"""Scale-safe EXACT global ranking — the shared two-phase device.

Spark's ``Window.orderBy(...)`` with no ``partitionBy`` moves the whole
frame to ONE task ("No Partition Defined for Window operation"), which is
the canonical 100-TB scale-killer.  This module provides the exact
replacement used across the catalog — the range devices
(:func:`global_row_number`, :func:`grouped_row_number`,
:func:`global_cumsum`, and the stream devices in
operators/adjacent.py):

1. the numeric sort key is bucketed into value-range CELLS (a map-side
   expression — every row with an equal key lands in the same cell, so
   cell order == key order).  Which cells, is decided in ONE place,
   :func:`_cell_plan`: ``num_ranges`` is sized from the row count (free
   in the bounds aggregate): clamp(ceil(n/1M), 64, 4×shuffle-width);
   cells are equal-WIDTH by default, switching to equi-depth boundaries
   (one percentile-sketch pass) when a straggler's worth of rows
   collapses into one width cell — boundary placement is
   correctness-neutral because any monotone bucketing preserves the
   total order.  A straggler cell that has collapsed to a SINGLE key
   value (a dominant tie, which no monotone bucketing can split) is
   sub-bucketed by EQUI-DEPTH boundaries of the FIRST tiebreak instead
   (:func:`_tie_cell_expr`; numeric, timestamp, or string via a 6-byte
   binary-prefix integer; bucketing must START at the first tiebreak to
   be order-safe, and cascades to the next one only for values whose
   earlier tiebreaks are constant inside the tie —
   :func:`_tiebreak_chain`, :func:`_tie_stats`) — intra-tie order IS
   the tiebreak order, so the composite id stays jointly monotone and
   results stay bit-identical;
2. each cell ranks/cumsums LOCALLY with an ordinary partitioned window
   (one parallel sort per cell instead of one global sort);
3. the per-cell row counts (or partial sums) — a model-sized frame —
   come to the driver once, a running prefix turns them into per-cell
   OFFSETS, and either a dense array literal (O(1) indexed lookup per
   row, below :data:`OFFSET_INLINE_MAX` ids) or ONE broadcast join on
   the cell id (above it — an array literal at cluster shuffle widths
   is a plan/codegen hazard) shifts every local rank/cumsum to its
   exact global value.

Cost at any scale: one extra min/max aggregate + one per-cell collect
— both memoized per (frame, column), so repeat devices over the
same scan schedule no statistics jobs at all; the data itself shuffles
once (hash by range) and never concentrates.  Exactness: ranks are
integer-derived, so results are bit-identical to the single-partition
window — oracles keep passing unchanged.

Degenerate guard: if the key is constant (hi == lo) every row falls in
range 0 and the device degrades to the single window it replaces; pass
``subkey`` (a second numeric column, e.g. the unique tie-break id) and
the bucketing switches to it automatically in that case.

No reference-counterpart: the reference (chaayagirimon/kg-etl) is
single-node pandas where global sorts are free; this device exists
because Spark's distributed model makes the global total order the one
thing you must never ask a single task to produce.
"""

from __future__ import annotations

import weakref
from typing import Optional, Sequence, Tuple

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# Per-DataFrame memo of device statistics — the programmatic stand-in
# for the zone-map/column statistics a table format (Delta/Iceberg)
# serves for free at scan time.  The catalog's inputs are memoized
# static scans (session.read_table), so count/min/max of an immutable
# column and its cell plan (:func:`_cell_plan`: probes, equi-depth
# boundaries, heavy-tie stats) are dataset constants: computing them once per
# session per (frame, column) instead of once per device call removes
# the stats jobs from every repeat invocation (r7 verdict directive
# #3 — previously only the adjacent family memoized; rankdev re-paid
# its aggregates per call).  Weak-keyed: frames die, entries follow.
# Wrong stats could only skew CELL SIZES, never results (any monotone
# bucketing preserves the total order).  Shared with
# operators/adjacent.py and the size-dispatch probe
# (operators/util.py: rows_at_most), which import this memo.
_STATS_MEMO: "weakref.WeakKeyDictionary[DataFrame, dict]" = weakref.WeakKeyDictionary()


def _memo(df: DataFrame) -> dict:
    try:
        return _STATS_MEMO.setdefault(df, {})
    except TypeError:  # non-weakrefable frame stub
        return {}


def _memo_get(df: DataFrame, key, fn):
    m = _memo(df)
    if key not in m:
        m[key] = fn()
    return m[key]


def _propagate_memo(src: DataFrame, out: DataFrame, seeds=None) -> DataFrame:
    """Carry the statistics memo across a device's output frame.

    Every device returns the SAME rows with the original columns
    unchanged (projection + partitioned window + broadcast-offset
    attach only — never a filter), so stats/plan entries computed on
    the input stay valid on the output.  ``seeds`` adds entries known
    by construction (a fresh global rank column is exactly 1..n).
    Chained devices — a rank feeding a cumsum, or a multi-key rank
    cascade — then find their bounds/count statistics memoized instead
    of scheduling one serial probe job per device (guide §1.2: the
    serial driver rounds were the measured cost, not the scans)."""
    try:
        out_m = _STATS_MEMO.setdefault(out, {})
    except TypeError:  # non-weakrefable frame stub
        return out
    src_m = _STATS_MEMO.get(src)
    if src_m:
        for k, v in src_m.items():
            out_m.setdefault(k, v)
    if seeds:
        for k, v in seeds.items():
            out_m.setdefault(k, v)
    return out


def prime_stats(df: DataFrame, cols: Sequence[str]) -> None:
    """Seed the device stats memo for several key columns in ONE
    aggregate job (count once + min/max per column).  A query chaining
    devices on DIFFERENT keys of the same frame otherwise pays one
    serial bounds-probe collect per key; with :func:`_propagate_memo`
    carrying entries through each device's output, priming the source
    frame collapses those probes into this single job."""
    try:
        m = _STATS_MEMO.setdefault(df, {})
    except TypeError:  # non-weakrefable frame stub
        return
    todo = [c for c in cols if ("stats", c) not in m]
    if not todo:
        return
    aggs = [F.count(F.lit(1)).alias("_n")]
    for i, c in enumerate(todo):
        kd = F.col(c).cast("double")
        aggs.append(F.min(kd).alias(f"_lo{i}"))
        aggs.append(F.max(kd).alias(f"_hi{i}"))
    row = df.agg(*aggs).collect()[0]
    n = int(row["_n"])
    for i, c in enumerate(todo):
        lo = row[f"_lo{i}"]
        m[("stats", c)] = (
            (n, None, None) if lo is None else (n, float(lo), float(row[f"_hi{i}"]))
        )


def _range_expr(key: Column, lo: float, hi: float, num_ranges: int) -> Column:
    width = max((hi - lo) / num_ranges, 1e-12)
    return F.least(
        F.greatest(
            ((key.cast("double") - F.lit(lo)) / F.lit(width)).cast("long"),
            F.lit(0),
        ),
        F.lit(num_ranges - 1),
    )


# ---- data-adaptive range sizing (round 7) -------------------------------
# r6 verdict: a pinned num_ranges=64 with equal-WIDTH value ranges is (a) a
# parallelism ceiling (a one-group stream sorts n/64 rows per cell-task no
# matter how big n gets) and (b) a skew hazard (a bursty key distribution
# collapses most rows into one width cell and degrades toward the naive
# window). Sizing now derives from the row count the bounds aggregate
# returns for free, and a straggler-sized width cell triggers equi-depth
# boundaries from one percentile-sketch pass. Boundary PLACEMENT is
# correctness-neutral: any monotone bucketing of the key preserves
# range order == key order, so device results are bit-identical.

TARGET_CELL_ROWS = 1_000_000  # rows one cell-sort task should hold
MIN_RANGES = 64  # floor — small inputs keep the r6 plan shape exactly
SKEW_CELL_ROWS = 4 * TARGET_CELL_ROWS  # absolute straggler trigger


def _max_ranges(spark) -> int:
    """Cap num_ranges at 4× the shuffle width: full parallelism headroom
    on any cluster sizing while the carry/offset frames stay model-sized
    (they are |groups| × num_ranges rows and must broadcast)."""
    try:
        cap = 4 * int(spark.conf.get("spark.sql.shuffle.partitions"))
    except Exception:  # noqa: BLE001 - non-numeric/unset conf
        cap = 0
    return max(MIN_RANGES, cap)


def _auto_num_ranges(n: int, spark) -> int:
    """clamp(ceil(n / TARGET_CELL_ROWS), MIN_RANGES, 4×shuffle-width)."""
    want = -(-int(n) // TARGET_CELL_ROWS)
    return int(min(_max_ranges(spark), max(MIN_RANGES, want)))


def _key_stats(df: DataFrame, key: str):
    """(row count, min, max) of the key in ONE aggregate — the count is
    free alongside the bounds the device always needed."""
    kd = F.col(key).cast("double")
    row = df.agg(
        F.count(F.lit(1)).alias("n"), F.min(kd).alias("lo"), F.max(kd).alias("hi")
    ).collect()[0]
    if row["lo"] is None:
        return int(row["n"]), None, None
    return int(row["n"]), float(row["lo"]), float(row["hi"])


def _stats(df: DataFrame, key: str):
    """:func:`_key_stats`, memoized per (frame, column)."""
    return _memo_get(df, ("stats", key), lambda: _key_stats(df, key))


# The equi-depth bucket expression is a when-tree of O(num_ranges)
# nodes (log-depth comparisons per row). Cap its resolution so the
# generated code never approaches JVM method limits: 2048 buckets ≈ 4k
# expression nodes, comfortably codegen-able, and even a worst-case
# fully-skewed input stays 2048-way parallel (vs the r6 1-cell
# collapse). Above the cap, cells grow proportionally but the device
# never concentrates — the width path (uniform data) keeps the full
# 4×shuffle-width resolution since its arithmetic is O(1) nodes.
EQDEPTH_MAX_RANGES = 2048


# Rows the boundary sketch reads at most: above this the sketch runs
# on a seeded uniform SAMPLE of ~this many rows.  Placement is
# correctness-neutral (any monotone bucketing preserves the total
# order), so sampling can only move cell boundaries, never values —
# and a 2M-row sample estimates any quantile's rank within
# ~2.5·sqrt(p(1-p)/2M) ≈ 0.09% of n, far inside the 2×-of-target
# acceptance bar.  Without this the sketch is a full-corpus pass: the
# single most expensive statistics job in the device family (measured
# dominating the 50M bursty plan build), and at 100 TB a full-scan
# aggregate nothing else needs.
SKETCH_SAMPLE_ROWS = 2_000_000


def _equidepth_boundaries(
    df: DataFrame, key: str, num_ranges: int, n_total: Optional[int] = None
):
    """min(num_ranges, EQDEPTH_MAX_RANGES)−1 equi-depth split points
    from one percentile-sketch pass over ``df`` — or over a seeded
    ~:data:`SKETCH_SAMPLE_ROWS`-row sample when ``n_total`` says the
    frame is much larger (sampling error ≈ 0.1% of mass; sketch rank
    error ≤ rows_read/accuracy; both orders of magnitude inside the
    2×-of-target bar, and both only move PLACEMENT, never values)."""
    num_ranges = min(num_ranges, EQDEPTH_MAX_RANGES)
    src = df
    if n_total is not None and n_total > 2 * SKETCH_SAMPLE_ROWS:
        src = df.sample(fraction=SKETCH_SAMPLE_ROWS / n_total, seed=0x5EED)
    kd = F.col(key).cast("double")
    probs = [i / num_ranges for i in range(1, num_ranges)]
    acc = max(10_000, 20 * num_ranges)
    row = src.agg(F.percentile_approx(kd, probs, acc).alias("b")).collect()[0]
    if row["b"] is None:  # pathological: sample drew zero rows
        row = df.agg(F.percentile_approx(kd, probs, acc).alias("b")).collect()[0]
    return [float(x) for x in row["b"]]


def _boundary_expr(key: Column, bnds) -> Column:
    """bucket(x) = smallest j with x ≤ bnds[j] (else len(bnds)) as a
    BALANCED when-tree — depth ~log2(num_ranges) comparisons per row,
    fully codegen'd. Monotone in x and a pure function of x (ties share
    a bucket). Duplicate boundary values (massive key ties) merely
    leave some buckets empty, which every consumer already tolerates.
    NULL keys take bucket 0 — the leading cell, matching the width
    arithmetic (greatest(NULL, 0) = 0) and the window's ASC-nulls-first
    order, and keeping the cell id non-null for name-based joins."""
    kd = key.cast("double")

    def build(lo_i: int, hi_i: int) -> Column:
        if lo_i == hi_i:
            return F.lit(lo_i).cast("long")
        mid = (lo_i + hi_i) // 2
        return F.when(kd <= F.lit(bnds[mid]), build(lo_i, mid)).otherwise(
            build(mid + 1, hi_i)
        )

    return F.when(kd.isNull(), F.lit(0).cast("long")).otherwise(
        build(0, len(bnds))
    )


def _cell_threshold(n: int, num_ranges: int) -> int:
    """Per-cell straggler bar: a cell is a straggler SORT task at scale
    iff its row count exceeds BOTH the absolute trigger and 4× the even
    share. Small inputs never re-split — imbalance without absolute
    size is harmless and the extra sketch pass is not free."""
    return max(SKEW_CELL_ROWS, 4 * (n // max(num_ranges, 1)))


# ---- heavy-tie splitting (round 8) ---------------------------------------
# A dominant tie VALUE defeats any monotone bucketing of the key: every
# row sharing the value must land in ONE cell (the r7 verdict directive
# #1 — 50% of a corpus at one epoch-zero/crawl-batch timestamp is one
# sort task, and the equi-depth re-split cannot help because no
# monotone function splits a tie).  But the devices already require
# tiebreak columns for a total order, and WITHIN a tie the total order
# IS the tiebreak order — so a monotone bucketing of the (numeric)
# tiebreak, applied only to rows AT the heavy value, splits the tie
# into K parallel cells while cell concatenation still reproduces the
# window bit for bit.  The cell-id space interleaves: range segments
# (the base bucketing, B ids each) alternate with tie blocks (K_i ids)
# in key order, so ids stay jointly monotone in (key, tiebreak-at-tie).


def _mono_key(df: DataFrame, t: str) -> Optional[Column]:
    """Monotone double projection of one column, or None if the type
    has no such projection here.  Numeric / timestamp: the plain
    double cast.  String: the first 6 BYTES as a 48-bit big-endian
    integer — monotone under the default UTF8-binary collation (UTF-8
    byte order == code-point order), and exact in a double (48 < 53
    bits); rows sharing the 6-byte prefix merely MERGE into one
    sub-cell, which every bucketing consumer already tolerates."""
    from pyspark.sql.types import NumericType, StringType, TimestampType

    dt = df.schema[t].dataType
    if isinstance(dt, (NumericType, TimestampType)):
        return F.col(t).cast("double")
    if isinstance(dt, StringType):
        # hex of the 6-byte binary prefix, right-padded so shorter
        # strings compare as if zero-extended (prefixes sort first),
        # then parsed base-16 — all JVM-side builtins, no UDF
        return F.conv(
            F.rpad(F.hex(F.substring(F.col(t).cast("binary"), 1, 6)), 12, "0"),
            16,
            10,
        ).cast("double")
    return None


def _tiebreak_chain(
    df: DataFrame, tiebreaks: Sequence[str]
) -> list:
    """[(name, monotone-double-expr)] for the longest ELIGIBLE PREFIX
    of the tiebreak list — the sub-bucketing keys inside a heavy tie.
    Bucketing must start at the FIRST tiebreak: intra-tie order is
    (t0, t1, ...), so bucketing by a later column reorders rows that
    differ in an earlier one (rows (t0=1, t1=9) and (t0=2, t1=0) sort
    A<B but bucket B<A).  Deeper levels apply only to heavy values
    whose earlier tiebreaks are CONSTANT inside the tie — there the
    residual order IS the next tiebreak, so the next level is
    order-safe (:func:`_tie_stats` cascades).  The chain stops at the
    first ineligible type for the same reason.  Empty chain: a heavy
    tie stays one cell (documented limitation)."""
    chain = []
    for t in tiebreaks:
        e = _mono_key(df, t)
        if e is None:
            break
        chain.append((t, e))
    return chain


def _dup_boundaries(bnds) -> set:
    """Values appearing 2+ times in an equi-depth boundary list — the
    free tie detector: percentile_approx returns observed data values,
    so a value spanning more than one bucket's share of mass MUST
    duplicate as consecutive boundaries.  This catches heavy values
    whose cell also holds a few neighbors (min < max, so the cell
    probe alone cannot see the tie)."""
    return {b for i, b in enumerate(bnds) if i and bnds[i - 1] == b}


def _tie_subcell_expr(guards, tbe, bnds) -> Column:
    """Sub-cell index inside one heavy-tie block, for a tie whose
    cascade crossed ``m = len(guards)`` constant-plus-NULL levels
    before splitting on ``tbe``'s equi-depth boundaries (``tbe=None``
    when the chain exhausted and the guards alone are the split).

    Intra-tie order is lexicographic ((g_0 null?), (g_1 null?), ...,
    t_split): at a guarded level, NULL rows sort strictly BEFORE the
    level's constant rows and rows agreeing at every guarded level
    order by the splitting tiebreak — every in-between level is
    constant by the cascade's own test.  The index mirrors that
    exactly: bit b_j = 0 (NULL) / 1 (constant) per guard, id =
    (b_0 b_1 ... b_{m-1})₂ · K + bucket(t_split) — jointly monotone,
    2^m · K sub-cells.  Multiplying the guards INTO the bucket (r9;
    the first cut gave each NULL run a single leading cell) means a
    corpus-scale NULL run — 1/3 of a 25M-row tie in the 50M
    heavy_tie_nulls leg — spreads across the same K boundary buckets
    as the constant run instead of concentrating into one sort task.
    Balance depends on the t_split distribution WITHIN each guard
    group (boundaries are global to the tie), which is the usual
    placement caveat, never a correctness one.  ``m`` is bounded by
    the eligible tiebreak chain length (in practice ≤3), so 2^m stays
    trivial."""
    if tbe is None:
        bucket, k = F.lit(0).cast("long"), 1
    else:
        bucket, k = _boundary_expr(tbe, bnds), len(bnds) + 1
    expr = bucket
    mult = k
    for g in reversed(guards):
        expr = expr + F.when(g.isNull(), F.lit(0)).otherwise(
            F.lit(mult)
        ).cast("long")
        mult *= 2
    return expr


def _tie_stats(df: DataFrame, kd: Column, values, chain, spark, thr: int):
    """Per heavy-value CANDIDATE: (value, K sub-cells, sub-cell index
    EXPRESSION) from one filtered map-side aggregate per CHAIN LEVEL
    (|candidates| rows each, candidates only shrink).  ``chain`` is
    :func:`_tiebreak_chain`.  Candidates below the straggler bar
    ``thr`` are dropped (boundary duplication flags ~1/num_ranges of
    mass, which may be harmless).  Level-j cascade cases, decided from
    the non-null count the aggregate now carries (min/max ignore
    NULLs, so ``hi <= lo`` alone cannot distinguish them — r8 ADVICE,
    high):

    - ALL NULL (count==0): the level contributes nothing to intra-tie
      order; cascade guard-free — the residual order IS level j+1.
    - constant, NO nulls (hi<=lo, count==n): classic cascade — with
      every earlier level constant the residual order is level j+1.
    - constant PLUS nulls (hi<=lo, 0<count<n): the window orders the
      NULL rows strictly BEFORE the constant rows, so bucketing the
      whole tie by level j+1 would interleave them.  The level becomes
      a GUARD BIT (NULL=0 < constant=1) that multiplies into the
      eventual bucketing — :func:`_tie_subcell_expr` composes the
      guard bits lexicographically ABOVE the splitting level's
      equi-depth buckets, so a corpus-scale NULL run spreads across
      the same K buckets as the constant run instead of concentrating
      into one cell — and the candidate cascades.
    - splittable (hi>lo): emit; NULL rows at THIS level take the
      leading boundary bucket (``_boundary_expr`` NULLS->0), matching
      NULLS FIRST among the residual.

    A candidate whose chain exhausts with guards pending still splits
    into its 2^m guard-combination cells (better than the one-cell
    fallback); only values constant-and-null-free across the WHOLE
    eligible chain remain unsplittable (true duplicate rows).  K sizes
    like the base ranges (ceil(rows/target), min 2, capped), times
    2^guards.

    Equi-depth, not equal-width: the tiebreak's VALUE distribution
    inside a tie is routinely far from uniform — the 50M heavy_tie_str
    probe showed ASCII-digit id strings concentrating the 6-byte
    monokey into ~2k-wide slivers of each 65k byte block, collapsing
    equal-width sub-cells 5M deep.  One percentile sketch per
    candidate (same filtered aggregate) fixes the placement; placement
    is correctness-neutral (any monotone bucketing of the tiebreak
    preserves intra-tie order)."""
    # grid + K cap at EQDEPTH_MAX_RANGES: the boundary when-tree stays
    # codegen-safe and the prob list bounded at any cluster width (the
    # same cap, for the same reason, as the base equi-depth re-split)
    grid = min(_max_ranges(spark), EQDEPTH_MAX_RANGES)
    probs = [i / grid for i in range(1, grid)]
    acc = max(10_000, 20 * grid)
    remaining = {float(v): [] for v in values}  # value -> [guard exprs]
    out = []
    for _name, tbd in chain:
        if not remaining:
            break
        rows = (
            df.filter(kd.isin(list(remaining)))
            .groupBy(kd.alias("_k"))
            .agg(
                F.count(F.lit(1)).alias("_n"),
                F.count(tbd).alias("_c"),
                F.min(tbd).alias("_lo"),
                F.max(tbd).alias("_hi"),
                F.percentile_approx(tbd, probs, acc).alias("_q"),
            )
            .collect()
        )
        next_remaining = {}
        for r in rows:
            v = float(r["_k"])
            guards = remaining[v]
            if int(r["_n"]) <= thr:
                continue  # not actually heavy — drop for good
            if int(r["_c"]) == 0:
                next_remaining[v] = guards  # all-null level: cascade
                continue
            if r["_hi"] <= r["_lo"]:
                if int(r["_c"]) == int(r["_n"]):
                    next_remaining[v] = guards  # constant, no nulls
                else:
                    # constant + nulls: leading guard cell, cascade rest
                    next_remaining[v] = guards + [tbd]
                continue
            k = min(grid, max(2, -(-int(r["_n"]) // TARGET_CELL_ROWS)))
            # K-1 equi-depth split points subsampled from the shared grid
            q = [float(x) for x in r["_q"]]
            bnds = [q[(j * grid) // k - 1] for j in range(1, k)]
            out.append(
                (
                    v,
                    (2 ** len(guards)) * int(k),
                    _tie_subcell_expr(guards, tbd, bnds),
                )
            )
        remaining = next_remaining
    for v, guards in remaining.items():
        if guards:  # chain exhausted, guards pending: still a split
            out.append(
                (v, 2 ** len(guards), _tie_subcell_expr(guards, None, None))
            )
    return sorted(out, key=lambda h: h[0])


def _tie_layout(B: int, heavies):
    """Ascending id-space blocks: ("range", start, B) segments of the
    base bucketing alternate with ("tie", start, K_i) blocks, one per
    heavy value in key order.  Returns (blocks, total id-space size).
    Range segment c holds base(x) + its start for every non-heavy x
    with exactly c heavies below it — base(x) < B keeps segments
    disjoint from the tie blocks between them."""
    blocks, cum = [], 0
    for i, (_v, k, _sub) in enumerate(heavies):
        blocks.append(("range", i * B + cum, B))
        blocks.append(("tie", (i + 1) * B + cum, k))
        cum += k
    blocks.append(("range", len(heavies) * B + cum, B))
    return blocks, (len(heavies) + 1) * B + cum


def _tie_cell_expr(kd: Column, base_expr: Column, B: int, heavies) -> Column:
    """Composite cell id over the :func:`_tie_layout` id space: heavy
    rows take their tie block (the :func:`_tie_stats` sub-cell
    expression — NULL-guard cells for constant-plus-NULL cascade
    levels, then EQUI-DEPTH buckets of the splitting tiebreak level —
    order-preserving inside the tie because with every earlier
    tiebreak constant the residual intra-tie order IS that tiebreak,
    and depth-balanced because the tiebreak's value distribution
    inside a tie is routinely non-uniform); every other row takes its
    base bucket shifted by the tie blocks below it.  NULL keys — and
    NULL tiebreaks at a heavy value — keep the leading cell of their
    block (window-equivalent NULLS FIRST under ASC).  Jointly monotone
    in (key, tiebreak-at-tie), so device results stay bit-identical."""
    expr = F.when(kd.isNull(), F.lit(0).cast("long"))
    cum = 0
    for i, (v, k, sub) in enumerate(heavies):
        start = (i + 1) * B + cum
        cum += k
        expr = expr.when(kd == F.lit(v), F.lit(start).cast("long") + sub)
    cum = 0
    for i, (v, k, _sub) in enumerate(heavies):
        expr = expr.when(kd < F.lit(v), base_expr + F.lit(i * B + cum).cast("long"))
        cum += k
    return expr.otherwise(base_expr + F.lit(len(heavies) * B + cum).cast("long"))


def _cell_order(blocks, ascending: bool):
    """Cell-id sort key in TRAVERSAL order for the offset accumulation:
    ascending key -> plain id order; DESC key -> descending ids, or with
    tie ``blocks`` the blocks reversed, ids descending within range
    segments but still ASCENDING within tie blocks (tiebreaks sort
    ascending under either key direction)."""
    if ascending:
        return lambda cid: cid
    if blocks is None:
        return lambda cid: -cid

    def key(cid):
        for bi, (kind, start, ln) in enumerate(blocks):
            if start <= cid < start + ln:
                minor = (cid - start) if kind == "tie" else (start + ln - 1 - cid)
                return (len(blocks) - 1 - bi, minor)
        raise AssertionError(f"cell id {cid} outside the tie layout")

    return key


def _cell_plan(
    df: DataFrame,
    key: str,
    n: int,
    lo: float,
    hi: float,
    num_ranges: int,
    *,
    groups: Sequence[str] = (),
    tiebreaks: Sequence[str] = (),
    totals: Optional[Sequence[str]] = None,
) -> dict:
    """The cells of a range device — the ONE place the bucketing policy
    lives:

    1. equal-WIDTH ranges of ``key`` over [lo, hi];
    2. a straggler cell (above :func:`_cell_threshold`) holding more
       than one key value re-splits the key on equi-depth boundaries
       (:func:`_equidepth_boundaries`, sampled sketch above
       :data:`SKETCH_SAMPLE_ROWS`) — skipped when every straggler is a
       pure tie, which the sketch cannot help;
    3. a straggler holding ONE tied value — or a value the boundaries
       duplicate (:func:`_dup_boundaries`: its cell also holds
       neighbors, so min<max hides the tie) — sub-splits on the
       tiebreak chain (:func:`_tie_stats`, :func:`_tie_cell_expr`).

    Stragglers are counted per (``groups``…, cell): that is what a
    grouped device sorts in one task.  One probe aggregate over
    (groups…, cell) yields count/min/max and, when the caller asks for
    ``totals`` (``()`` = counts only; column names = also their per-cell
    SUMs), the per-cell rows the offsets are built from.  Without
    ``totals`` only straggler rows come to the driver, and below the
    straggler bar (n ≤ :data:`SKEW_CELL_ROWS`, or a constant key) the
    width cells return with no job at all.

    Returns ``{"cell": id expression, "bnds", "heavies", "blocks",
    "size"}`` (``blocks``: the :func:`_tie_layout` when a tie split,
    else None; ``size``: the id-space size) plus, with ``totals``,
    ``"counts": {cell: rows}`` and ``"sums": [{cell: sum}]`` per total
    column — from the last probe when the bucketing did not change,
    else from one more probe of the final cells.  Memoized per frame
    under ``("cells", key, groups, tiebreak chain, num_ranges,
    totals)``: the whole eligible chain is in the key, so two calls
    sharing the first tiebreak but differing in depth never reuse each
    other's cascade plan.  Every bucketing is monotone in (key,
    tiebreak-at-tie), so the plan moves cell sizes, never results."""
    kd = F.col(key).cast("double")
    width = _range_expr(kd, lo, hi, num_ranges)
    if totals is None and (n <= SKEW_CELL_ROWS or hi == lo):
        return {
            "cell": width, "bnds": None, "heavies": [], "blocks": None,
            "size": num_ranges,
        }
    chain = _tiebreak_chain(df, [t for t in tiebreaks if t != key])
    sums = list(totals or ())
    thr = _cell_threshold(n, num_ranges)

    def probe(expr):
        q = df.groupBy(*groups, expr.alias("_cell")).agg(
            F.count(F.lit(1)).alias("_n"),
            F.min(kd).alias("_mn"),
            F.max(kd).alias("_mx"),
            *[F.sum(c).alias(f"_s{i}") for i, c in enumerate(sums)],
        )
        return (q if totals is not None else q.filter(F.col("_n") > thr)).collect()

    def stragglers(rows):  # an all-NULL-key cell has nothing to split
        return [r for r in rows if r["_n"] > thr and r["_mn"] is not None]

    def build():
        bnds, base, B = None, width, num_ranges
        rows = probe(base)
        strag = stragglers(rows)
        heavies = []
        if strag:
            vals = {float(r["_mn"]) for r in strag if r["_mn"] == r["_mx"]}
            if any(r["_mn"] < r["_mx"] for r in strag):
                bnds = _equidepth_boundaries(df, key, num_ranges, n)
                base, B = _boundary_expr(kd, bnds), len(bnds) + 1
                rows = probe(base)
                strag = stragglers(rows)
                vals |= _dup_boundaries(bnds)
                vals |= {float(r["_mn"]) for r in strag if r["_mn"] == r["_mx"]}
            if vals and chain:
                heavies = _tie_stats(df, kd, sorted(vals), chain, df.sparkSession, thr)
        plan = {
            "cell": base, "bnds": bnds, "heavies": heavies, "blocks": None,
            "size": B,
        }
        if heavies:
            plan["blocks"], plan["size"] = _tie_layout(B, heavies)
            plan["cell"] = _tie_cell_expr(kd, base, B, heavies)
            if totals is not None:
                rows = probe(plan["cell"])
        if totals is not None:
            plan["counts"] = {int(r["_cell"]): int(r["_n"]) for r in rows}
            plan["sums"] = [
                {int(r["_cell"]): r[f"_s{i}"] for r in rows} for i in range(len(sums))
            ]
        return plan

    tb = tuple(name for name, _ in chain)
    memo_key = (
        "cells", key, tuple(groups), tb, num_ranges,
        None if totals is None else tuple(sums),
    )
    return _memo_get(df, memo_key, build)


def _offset_lookup(offsets: dict, size: int, idx: Column) -> Column:
    """Per-row offset shift as a DENSE array-literal lookup — O(1) per
    row (element_at on an array literal indexes directly, where a
    create_map literal SCANS linearly per row: invisible at 64
    entries, a per-row O(num_ranges) tax at the 4×shuffle-width
    cluster cap). Ids are contiguous 0..size−1 by construction; absent
    (empty) ranges hold the running value and never match a row."""
    vals = []
    running = 0
    for i in range(size):
        running = offsets.get(i, running)  # rank offsets are ints,
        vals.append(F.lit(running))        # cumsum partials may be floats
    return F.element_at(F.array(*vals), (idx + 1).cast("int"))


# Above this id-space size the inline array literal becomes a
# plan/codegen hazard: num_ranges caps at 4× the shuffle width, so a
# real cluster (tens of thousands of shuffle partitions) would inline a
# 10⁵-node expression into every row projection — per consuming column
# (r7 verdict hazard #2).  4096 keeps the bench/test plans byte-for-
# byte on the O(1) literal path while any cluster-width sizing joins.
OFFSET_INLINE_MAX = 4096


def _shift_columns(df: DataFrame, idx_col: str, size: int, shifts) -> DataFrame:
    """``out := base + offset[idx]`` for each ``out: (base_expr,
    offsets_dict)`` in ``shifts``.  Below :data:`OFFSET_INLINE_MAX`
    ids: the dense array-literal lookup (O(1) per row, zero jobs).
    Above it: ONE broadcast join on the cell id against a
    |non-empty cells|-row offsets frame carrying one column per target
    — same values, bounded plan size at any cluster width."""
    if size <= OFFSET_INLINE_MAX:
        for out, (base, offs) in shifts.items():
            df = df.withColumn(
                out, base + _offset_lookup(offs, size, F.col(idx_col))
            )
        return df
    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    outs = list(shifts)
    # only ids present in the offsets can match a row (absent = empty
    # cell), so the frame needs |present ids| rows, not |size|
    present = sorted(set().union(*(shifts[o][1].keys() for o in outs)))
    running = {o: 0 for o in outs}
    is_int = {
        o: all(isinstance(v, int) for v in shifts[o][1].values()) for o in outs
    }
    rows = []
    for i in present:
        for o in outs:
            running[o] = shifts[o][1].get(i, running[o])
        rows.append(
            tuple(
                [int(i)]
                + [
                    int(running[o]) if is_int[o] else float(running[o])
                    for o in outs
                ]
            )
        )
    fields = [StructField(idx_col, LongType())] + [
        StructField("_sh_" + o, LongType() if is_int[o] else DoubleType())
        for o in outs
    ]
    off = df.sparkSession.createDataFrame(rows, StructType(fields))
    off = off.withColumn(idx_col, F.col(idx_col).cast(df.schema[idx_col].dataType))
    out_df = df.join(F.broadcast(off), idx_col)
    for o in outs:
        out_df = out_df.withColumn(o, shifts[o][0] + F.col("_sh_" + o)).drop(
            "_sh_" + o
        )
    return out_df


def global_row_number(
    df: DataFrame,
    key: str,
    *,
    ascending: bool = True,
    tiebreaks: Sequence[str] = (),
    out_col: str = "rn",
    num_ranges: Optional[int] = None,
    subkey: Optional[str] = None,
) -> Tuple[DataFrame, int]:
    """Exact global ROW_NUMBER() OVER (ORDER BY key [DESC], tiebreaks...)
    without a single-partition window.  ``tiebreaks`` sort ascending (the
    catalog's unique-id total-order contract).  Returns ``(frame with
    out_col, n_total)`` — ``n_total`` is free (the sum of the per-range
    counts the device already collects) and feeds :func:`ntile_expr`.

    ``num_ranges=None`` (default) sizes itself from the data —
    clamp(ceil(n/1M), 64, 4×shuffle-width) — and the per-range counts
    the device already collects double as a skew detector: a
    straggler-sized width cell (>4M rows AND >4× the even share)
    spanning MORE than one key value triggers one equi-depth re-split
    (:func:`_equidepth_boundaries`); a straggler cell collapsed to a
    SINGLE key value (a dominant tie, which no monotone bucketing can
    split) is sub-bucketed by the first tiebreak's value range
    instead (:func:`_tie_cell_expr`) — intra-tie order IS the tiebreak
    order, so either way ranks stay bit-identical.  The cells and final
    counts come from :func:`_cell_plan`; all statistics memoize per
    (frame, column) — once per session for the static scans.

    NULL keys rank FIRST under ASC and LAST under DESC, exactly like
    the plain window (they take the leading cell, which the traversal
    visits first/last respectively); an empty or all-null-key frame
    returns NULL ranks.
    """
    n_total, lo, hi = _stats(df, key)
    if lo is None:  # empty frame (or all-null key)
        out = df.withColumn(out_col, F.lit(None).cast("long"))
        return (
            _propagate_memo(df, out, {("stats", out_col): (n_total, None, None)}),
            0,
        )
    if num_ranges is None:
        num_ranges = _auto_num_ranges(n_total, df.sparkSession)
    bucket_key = key
    if hi == lo and subkey is not None:
        _, lo, hi = _stats(df, subkey)
        bucket_key = subkey
    plan = _cell_plan(
        df, bucket_key, n_total, lo, hi, num_ranges,
        # subkey fallback: near-unique, never tie-dominated
        tiebreaks=tiebreaks if bucket_key == key else (),
        totals=(),
    )
    ranged = df.withColumn("_rdrng", plan["cell"])

    # Cell ids ascend with the key; for a DESC sort the offsets
    # accumulate from the highest cell down (block-aware when tie
    # blocks exist: tiebreaks stay ASC inside a tie) so offset+local
    # stays global.  EXCEPT in the constant-key subkey fallback: a
    # constant key contributes nothing to the total order, so the
    # effective global order is subkey ASC (the tie-break contract)
    # REGARDLESS of `ascending`.
    asc_eff = ascending or bucket_key != key
    offsets, running = {}, 0
    for i in sorted(plan["counts"], key=_cell_order(plan["blocks"], asc_eff)):
        offsets[i] = running
        running += plan["counts"][i]

    order = [F.col(key).asc() if ascending else F.col(key).desc()]
    if bucket_key != key:
        order.append(F.col(bucket_key).asc())
    order += [F.col(t).asc() for t in tiebreaks if t != bucket_key]
    w = Window.partitionBy("_rdrng").orderBy(*order)
    local = ranged.withColumn("_rdlrn", F.row_number().over(w).cast("long"))
    out = _shift_columns(
        local, "_rdrng", plan["size"], {out_col: (F.col("_rdlrn"), offsets)}
    ).drop("_rdrng", "_rdlrn")
    # ranks cover exactly 1..running (every row is offset + local rank)
    _propagate_memo(
        df, out, {("stats", out_col): (running, 1.0, float(running))}
    )
    return out, running


def grouped_row_number(
    df: DataFrame,
    group_cols: Sequence[str],
    key: str,
    tiebreaks: Sequence[str] = (),
    *,
    out_col: str = "rn",
    count_col: str = "n_in_group",
    num_ranges: Optional[int] = None,
) -> DataFrame:
    """Exact ROW_NUMBER() OVER (PARTITION BY group_cols ORDER BY key,
    tiebreaks) + the per-group row count, for LOW-cardinality groups,
    without a single-task per-group sort — the grouped sibling of
    :func:`global_row_number` (the exact-median feed for per-group
    order statistics like the Theil–Sen slope).

    Same two-phase shape: value ranges of ``key`` (global bounds — one
    scalar aggregate; equal keys share a range so range order == key
    order), one explicit hash exchange on the (group, range) cell key
    that BOTH the per-cell window (in-place sort) and the sort-free
    cell-count hash agg consume, then per-cell offsets from the tiny
    cells frame.  The cells frame is |groups| x num_ranges rows,
    broadcast back — the low-cardinality contract; high-cardinality
    groups should keep the plain window, which already parallelizes.

    ``num_ranges=None`` (default) sizes itself from the row count
    (clamp(ceil(n/1M), 64, 4×shuffle-width)); above the straggler
    threshold one cheap straggler-cell probe runs, and a
    straggler-sized width cell (>4M rows AND >4× the even share)
    triggers an equi-depth re-split when it spans multiple key values,
    or a tiebreak sub-split when it is a dominant TIE (which no
    monotone key bucketing can spread) — every bucketing preserves the
    per-group total order, so results are bit-identical.  Below the
    threshold the plan is job-for-job the r6 shape.  The cells come
    from :func:`_cell_plan` (stragglers counted per (group, cell)),
    memoized per (frame, group-cols, key) — once per session for the
    static scans.

    NULL handling (r6 advice): group keys and the rank key may be
    NULL — the offset join is null-safe and a NULL key buckets into
    its own leading cell, matching the plain window exactly (NULL
    groups are their own partition; key NULLs rank first under ASC).

    Degenerate guard: a constant key lands every row in range 0 and
    the device degrades to the plain per-group window it replaces.
    """
    group_cols = list(group_cols)
    tiebreaks = [t for t in tiebreaks if t != key]
    n_total, lo, hi = _stats(df, key)
    if lo is None:  # empty frame (or all-null key: single leading cell)
        if n_total == 0:
            out = df.withColumn(out_col, F.lit(None).cast("long")).withColumn(
                count_col, F.lit(None).cast("long")
            )
            return _propagate_memo(df, out)
        lo = hi = 0.0
    if num_ranges is None:
        num_ranges = _auto_num_ranges(n_total, df.sparkSession)
    plan = _cell_plan(
        df, key, n_total, lo, hi, num_ranges, groups=group_cols, tiebreaks=tiebreaks
    )
    # 1-field struct group keys: null-safe partitioning/join for NULL
    # groups without de-attributing the offset-join condition (see
    # operators/adjacent.py with_next for the measured rationale); _grr
    # itself is always non-null (NULL keys take the leading cell in
    # every bucketing).
    gkeys = [f"_grg{i}" for i in range(len(group_cols))]
    raw = df.withColumn("_grr", plan["cell"])
    for g, c in zip(gkeys, group_cols):
        raw = raw.withColumn(g, F.struct(F.col(c)))
    # explicit hash exchange on the cell key: the window finds its
    # distribution requirement satisfied (in-place sort) and the cell
    # counts come from a sort-free hash agg over the SAME exchange
    ranged = raw.repartition(*(gkeys + ["_grr"]))
    w = Window.partitionBy(*gkeys, "_grr").orderBy(
        F.col(key).asc(), *[F.col(t).asc() for t in tiebreaks]
    )
    local = ranged.withColumn("_grl", F.row_number().over(w).cast("long"))
    cells = ranged.groupBy(*gkeys, "_grr").agg(
        F.count(F.lit(1)).cast("long").alias("_cn")
    )
    cw = (
        Window.partitionBy(*gkeys)
        .orderBy("_grr")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offs = cells.withColumn(
        "_off", F.coalesce(F.sum("_cn").over(cw), F.lit(0)).cast("long")
    ).withColumn(
        count_col,
        F.sum("_cn").over(Window.partitionBy(*gkeys)).cast("long"),
    )
    out = local.join(
        F.broadcast(offs.select(*gkeys, "_grr", "_off", count_col)),
        gkeys + ["_grr"],
    )
    out = out.withColumn(out_col, F.col("_grl") + F.col("_off"))
    return _propagate_memo(df, out.select(*df.columns, out_col, count_col))


def global_row_number_by(
    df: DataFrame,
    order_cols: Sequence[str],
    *,
    out_col: str = "rn",
    num_parts: Optional[int] = None,
) -> DataFrame:
    """Exact global ROW_NUMBER() OVER (ORDER BY order_cols) for an
    ARBITRARY orderable key tuple — strings included, where the
    numeric range-bucket device (:func:`global_row_number`) cannot
    bucket. Range-repartition on the key (contiguous ordered
    partitions), rank locally per partition, shift by broadcast
    per-partition offsets (partition ids follow range order).

    ``order_cols`` must form a TOTAL order: rank VALUES are then
    independent of where the sampled range boundaries fall, so results
    are partition-count-deterministic (the determinism gate's 7-vs-32
    contract) even though the boundaries themselves are sampled.

    The range exchange materializes at a lineage cut before the ranks
    and the per-partition counts consume it: RangePartitioner's
    boundary sampling is seeded by the RDD id, which differs per
    ACTION, so without the cut the counts job and the output job can
    range-partition DIFFERENTLY and the offsets no longer match the
    partition contents — invisible at test SF (the sampler sees every
    row, so boundaries coincide) and caught by the 50M
    `tools/stress_rankstats.py rownum_by` probe (r8).  The cut holds
    exactly the |n| rows both jobs need anyway, and flips to a durable
    checkpoint when the session has a checkpoint dir.

    Note one extra exchange versus the numeric device: the local-rank
    window hashes on the partition id (range partitioning does not
    satisfy a hash-distribution requirement); both shuffles stay
    row-proportional and no task ever sorts more than ~n/num_parts
    rows."""
    num_parts = num_parts or df.sparkSession.sparkContext.defaultParallelism
    d = df.repartitionByRange(
        num_parts, *[F.col(c).asc() for c in order_cols]
    ).lineage_cut(eager=False)
    d = d.withColumn("_rbp", F.spark_partition_id())
    w = Window.partitionBy("_rbp").orderBy(*[F.col(c).asc() for c in order_cols])
    local = d.withColumn("_rbl", F.row_number().over(w).cast("long"))
    counts = sorted(
        d.groupBy("_rbp").agg(F.count(F.lit(1)).alias("_n")).collect(),
        key=lambda r: r["_rbp"],
    )
    offsets, running = {}, 0
    for r in counts:
        offsets[r["_rbp"]] = running
        running += r["_n"]
    if not offsets:  # empty frame
        return _propagate_memo(
            df, df.withColumn(out_col, F.lit(None).cast("long"))
        )
    out = _shift_columns(
        local, "_rbp", num_parts, {out_col: (F.col("_rbl"), offsets)}
    )
    # ranks cover exactly 1..running (total order over every row)
    return _propagate_memo(
        df,
        out.select(*df.columns, out_col),
        {("stats", out_col): (running, 1.0, float(running))},
    )


def ntile_expr(rn: Column, n_total: int, k: int) -> Column:
    """SQL NTILE(k) from an exact global row number: the first
    ``n_total % k`` tiles get ``n_total//k + 1`` rows, the rest get
    ``n_total//k`` — a map-side integer formula once the global rank
    exists (no window at all)."""
    if n_total <= 0:
        return F.lit(None).cast("int")
    q, r = divmod(n_total, k)
    big = r * (q + 1)  # rows covered by the (q+1)-sized tiles
    if q == 0:
        return rn.cast("int")  # n_total < k: tile == row number
    return (
        F.when(rn <= F.lit(big), ((rn - 1) / F.lit(q + 1)).cast("int") + 1)
        .otherwise(F.lit(r) + ((rn - 1 - F.lit(big)) / F.lit(q)).cast("int") + 1)
        .cast("int")
    )


def ntile_col_expr(rn: Column, n: Column, k: int) -> Column:
    """:func:`ntile_expr` with the group size as a COLUMN — the
    per-group sibling (feeds :func:`grouped_row_number`'s count_col).
    Tile arithmetic is exact integer division (remainder subtracted
    BEFORE the decimal divide, so the quotient's fraction is exactly
    zero and the decimal result's scale-6 rounding is lossless at any
    long magnitude), centralizing the NTILE formula the query layer
    used to hand-roll."""

    def idiv(a: Column, b: Column) -> Column:
        # decimal(38,0)/decimal(20,0) resolves to decimal(38,6) and
        # HALF_UP-rounds the quotient to 6dp BEFORE floor — at tile
        # sizes >= ~2e6 the boundary row's quotient (e.g.
        # 2000000/2000001) rounds UP to the next integer and the tile
        # misassigns (r7 advice, Spark-verified).  Subtracting the
        # remainder first makes the dividend an exact multiple: the
        # fraction is exactly 0, so the scale-6 rounding is lossless
        # for any long inputs (a - a%b never overflows: |a-a%b| <= |a|).
        a = a.cast("long")
        b = b.cast("long")
        return (
            (a - F.pmod(a, b)).cast("decimal(38,0)") / b.cast("decimal(20,0)")
        ).cast("long")

    q = idiv(n, F.lit(k))
    r = n % F.lit(k)
    big = r * (q + 1)  # rows covered by the (q+1)-sized tiles
    return (
        F.when(q == F.lit(0), rn)  # n < k: tile == row number
        .when(rn <= big, idiv(rn - 1, q + 1) + 1)
        .otherwise(r + idiv(rn - 1 - big, q) + 1)
        .cast("long")
    )


def global_ntile(
    df: DataFrame,
    key: str,
    k: int,
    *,
    ascending: bool = True,
    tiebreaks: Sequence[str] = (),
    out_col: str = "tile",
    num_ranges: Optional[int] = None,
    subkey: Optional[str] = None,
) -> DataFrame:
    """NTILE(k) OVER (ORDER BY key [DESC], tiebreaks) via the two-phase
    exact rank — value-identical to the window form at any scale."""
    ranked, n = global_row_number(
        df, key, ascending=ascending, tiebreaks=tiebreaks,
        out_col="_rdgrn", num_ranges=num_ranges, subkey=subkey,
    )
    out = ranked.withColumn(out_col, ntile_expr(F.col("_rdgrn"), n, k)).drop(
        "_rdgrn"
    )
    return _propagate_memo(df, out)


def global_cumsum(
    df: DataFrame,
    order_col: str,
    sum_cols: Sequence[str],
    *,
    num_ranges: Optional[int] = None,
    prefix: str = "cum_",
) -> DataFrame:
    """Exact running SUM(col) OVER (ORDER BY order_col ROWS UNBOUNDED
    PRECEDING) for each ``sum_col`` — per-range local cumsums plus
    broadcast per-range partial-sum offsets (``num_ranges`` rows to the
    driver).  ``order_col`` is assumed unique per row (the caller
    pre-aggregates to distinct order values, as a CDF computation does);
    ties would be summed in nondeterministic intra-tie order otherwise.
    Auto-sized and skew-resilient like :func:`global_row_number` (the
    per-cell partials come from the same :func:`_cell_plan` probe that
    counts rows to detect a straggler cell).
    """
    n_total, lo, hi = _stats(df, order_col)
    if lo is None:
        out = df
        for c in sum_cols:
            out = out.withColumn(prefix + c, F.col(c))
        return _propagate_memo(df, out)
    if num_ranges is None:
        num_ranges = _auto_num_ranges(n_total, df.sparkSession)
    plan = _cell_plan(df, order_col, n_total, lo, hi, num_ranges, totals=sum_cols)
    ranged = df.withColumn("_rdrng", plan["cell"])
    w = Window.partitionBy("_rdrng").orderBy(F.col(order_col).asc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    local = ranged
    for c in sum_cols:
        local = local.withColumn(prefix + c, F.sum(c).over(w))
    shifts = {}
    for c, sums in zip(sum_cols, plan["sums"]):
        offsets, running = {}, 0
        for i in sorted(sums):
            offsets[i] = running
            running += sums[i] or 0
        shifts[prefix + c] = (F.col(prefix + c), offsets)
    out = _shift_columns(local, "_rdrng", plan["size"], shifts).drop("_rdrng")
    return _propagate_memo(df, out)

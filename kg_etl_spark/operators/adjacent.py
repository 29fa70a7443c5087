"""Scale-safe LEAD() over LOW-cardinality stream partitions.

``Window.partitionBy(group).orderBy(...)`` with a bounded-cardinality
group key (the catalog's event streams: ``event_type`` has ~5 values)
sorts n/|groups| rows in ONE task — the same single-task-sort failure
class the two-phase rank device (operators/rankdev.py) eliminates for
partition-less windows.  This module is the grouped counterpart, built
on the same range-bucketing idea:

1. the order key is bucketed into ``num_ranges`` fixed-width value
   ranges (a map-side expression; equal keys share a range, so range
   order == key order and ties never split across cells);
2. each (group, range) CELL sorts locally — |groups| x num_ranges
   parallel sorts instead of |groups| giant ones — and an ordinary
   ``lead()`` fills every row except the last of each cell;
3. the FIRST row of every cell (a ``min_by`` hash aggregate consuming
   the SAME explicit cell-key exchange the window sorts on — one
   corpus shuffle total) forms a |groups| x num_ranges-row carry
   frame; a lead over THAT tiny frame yields, per cell, the successor
   of the cell's last row, broadcast-joined back on (group, range).

The concatenation of cells in range order, each sorted by
(order, tiebreaks), IS the per-group total order — the result is
bit-identical to the single window's ``lead()`` at any scale, so the
catalog oracles (which spell the window form in SQL) keep passing
unchanged.

Contract: the group key has LOW cardinality (the carry frame,
|groups| x num_ranges rows, must broadcast — that is exactly the
regime where the plain window is a scale-killer; high-cardinality
groups should keep the plain window, which already parallelizes).
Group keys may be NULL (null-safe carry joins keep a NULL group
window-equivalent); ``order_col`` must be non-null and (order,
tiebreaks) a total order per group for a deterministic successor.

Sizing: ``num_ranges`` defaults to clamp(ceil(n / 1M), 64,
4×shuffle-width) from the row count the memoized bounds aggregate
returns for free, and the cells come from the range devices' one
bucketing policy, ``rankdev._cell_plan``: equal-width ranges, an
equi-depth re-split when a straggler's worth of rows collapses into one
(group, range) cell, and a tiebreak sub-split of a dominant tie —
placement is correctness-neutral because any monotone bucketing
preserves the per-group total order.

Degenerate guard: a constant order key lands every row in range 0 and
the device degrades to the single window it replaces (the event
streams' timestamps span the full corpus range, so this never binds).

Reference parity: the reference derives consecutive-event transitions
with a single-process pandas sort (chaayagirimon/kg-etl
etl/transform/graph.py builds edge frames in-memory); this device
exists because Spark's distributed model makes the per-stream total
order the thing you must never ask one task to produce.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from kg_etl_spark.operators.rankdev import (
    _auto_num_ranges,
    _cell_plan,
    _memo_get,
    _stats,
)

# The per-frame statistics memo lives in rankdev: the bounds aggregate
# and the cell plan (``rankdev._cell_plan`` — straggler probes,
# equi-depth boundaries, heavy-tie stats) of an immutable column are
# dataset constants, computed once per session, as are the edge cuts
# below. Weak-keyed: frames die, entries follow; callers that mutate an
# sf_dir mid-session already must clear the read memo
# (session.clear_read_memo), which drops the memoized frame and with it
# these entries. Wrong stats could only skew CELL SIZES, never results.


def with_next(
    df: DataFrame,
    group_cols: Sequence[str],
    order_col: str,
    tiebreaks: Sequence[str],
    next_cols: Sequence[str],
    *,
    num_ranges: Optional[int] = None,
    prefix: str = "next_",
) -> DataFrame:
    """LEAD(c) OVER (PARTITION BY group_cols ORDER BY order_col,
    tiebreaks) for each c in ``next_cols``, emitted as ``next_<c>`` —
    without any single-task per-group sort.  Value-identical to the
    window form (the range bucketing is a monotone function of the
    order key, so cell concatenation preserves the total order).

    ``num_ranges=None`` (default) sizes itself from the memoized row
    count (clamp(ceil(n/1M), 64, 4×shuffle-width)); bursty order-key
    distributions switch to equi-depth cells (``rankdev._cell_plan``).
    Group keys may be NULL (the carry join is null-safe, so a NULL
    group is its own stream exactly as the plain window treats it —
    r6 advice); ``order_col`` must be non-null."""
    group_cols = list(group_cols)
    tiebreaks = [t for t in tiebreaks if t != order_col]
    next_cols = list(next_cols)
    out_types = {c: df.schema[c].dataType for c in next_cols}

    n, lo, hi = _stats(df, order_col)
    if lo is None:  # empty frame
        out = df
        for c in next_cols:
            out = out.withColumn(prefix + c, F.lit(None).cast(out_types[c]))
        return out
    if num_ranges is None:
        num_ranges = _auto_num_ranges(n, df.sparkSession)

    # cast-to-double is monotone non-decreasing, so even a rounding
    # collision only MERGES adjacent keys into one cell — never reorders
    plan = _cell_plan(
        df, order_col, n, lo, hi, num_ranges, groups=group_cols, tiebreaks=tiebreaks
    )
    ranged = df.withColumn("_apr", plan["cell"])
    # group keys wrapped in 1-field structs (r6 advice): struct equality
    # treats a null FIELD as equal, so a NULL group is its own stream
    # through the partitioning, the aggregate AND the carry join —
    # window-equivalent — while the join stays a name-based
    # attribute-equality join. (Measured alternatives rejected: an
    # eqNullSafe condition join de-attributes the join condition, which
    # drops Catalyst's equi-join size estimate back to the child
    # PRODUCT — the edge frame went 8.9 KB -> 72 MB at sf0.001,
    # flipping every downstream broadcast to sort-merge and costing
    # walk_corpus ~1 s at sf0.1; a single struct-of-everything join key
    # suffers the same because CollapseProject inlines it into the
    # condition. The struct columns here sit BELOW the window and
    # aggregate, so they survive as genuine attributes.)
    gkeys = [f"_apg{i}" for i in range(len(group_cols))]
    for g, c in zip(gkeys, group_cols):
        ranged = ranged.withColumn(g, F.struct(F.col(c)))
    # explicit hash exchange on the cell key: the window below finds its
    # distribution requirement satisfied (no extra exchange + in-place
    # sort) and the carry aggregate consumes the SAME exchange as a
    # sort-free hash agg — one corpus shuffle, one sort, total
    ranged = ranged.repartition(*(gkeys + ["_apr"]))
    order = [F.col(order_col).asc()] + [F.col(t).asc() for t in tiebreaks]
    w = Window.partitionBy(*gkeys, "_apr").orderBy(*order)
    local = ranged
    for c in next_cols:
        local = local.withColumn("_apl_" + c, F.lead(c).over(w))
    # last row of its cell <=> the local lead ran off the cell
    local = local.withColumn("_aplast", F.lead(F.lit(1)).over(w).isNull())

    # first row per cell (map-side-free hash agg over the shared
    # exchange; struct min_by keys on the identical total order)
    firsts = ranged.groupBy(*gkeys, "_apr").agg(
        F.min_by(
            F.struct(*[F.col(c) for c in next_cols]),
            F.struct(F.col(order_col), *[F.col(t) for t in tiebreaks]),
        ).alias("_apf")
    )
    # per cell, the NEXT populated cell's first row = successor of this
    # cell's last row (missing/empty cells simply aren't rows here, so
    # lead skips them correctly) — |groups| x num_ranges rows total
    cw = Window.partitionBy(*gkeys).orderBy("_apr")
    carry = firsts.withColumn("_apnext", F.lead("_apf").over(cw)).select(
        *gkeys, "_apr", "_apnext"
    )

    out = local.join(F.broadcast(carry), gkeys + ["_apr"], "left")
    for c in next_cols:
        out = out.withColumn(
            prefix + c,
            F.when(F.col("_aplast"), F.col("_apnext").getField(c)).otherwise(
                F.col("_apl_" + c)
            ),
        )
    # pin the original column order (the join moved its keys first)
    return out.select(*df.columns, *[prefix + c for c in next_cols])


def stream_lead(
    ev: DataFrame,
    next_cols: Sequence[str] = ("user_id",),
    *,
    num_ranges: Optional[int] = None,
) -> DataFrame:
    """The catalog's event-stream successor: LEAD(c) OVER (PARTITION BY
    event_type ORDER BY ts, event_id) for each requested column —
    scale-safe (event_type has ~5 values; the naive window sorts n/5
    rows in one task)."""
    return with_next(
        ev, ["event_type"], "ts", ["event_id"], next_cols, num_ranges=num_ranges
    )


def transition_edges(ev: DataFrame, *, with_ts: bool = False) -> DataFrame:
    """Directed user-transition edges: u -> v when v's event directly
    follows u's within one event_type stream (ordered ts, event_id) —
    the shared derivation of the graph family, de-duplicated by the
    CALLER (some sites keep multiplicities or timestamps).  With
    ``with_ts`` the edge carries t = the successor event's epoch-micros
    (temporal-reachability grain).  NOT distinct."""
    cols = ["user_id", "ts"] if with_ts else ["user_id"]
    led = stream_lead(ev, cols)
    sel = [F.col("user_id").alias("src"), F.col("next_user_id").alias("dst")]
    if with_ts:
        sel.append(F.unix_micros("next_ts").alias("t"))
    return led.select(*sel).filter(
        F.col("dst").isNotNull() & (F.col("src") != F.col("dst"))
    )


def undirected_transition_edges(ev: DataFrame) -> DataFrame:
    """Symmetrized distinct user-transition edges (a < b) — the shared
    graph grain of the ml family."""
    e = transition_edges(ev)
    return e.select(
        F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
    ).distinct()


def transition_edges_cut(ev: DataFrame) -> DataFrame:
    """DISTINCT directed transition edges at a lazy lineage cut
    (localCheckpoint locally; reliable checkpoint when the session has
    a checkpoint dir — kg_etl_spark/cutpoint.py) —
    the multi-consumer cut for iterative kernels (scc/walks/hits/...),
    which consume the edge frame once per round: without the cut the
    whole derivation (scan + device) re-executes per action. The
    checkpoint holds |E| distinct edges — state those kernels
    materialize anyway. Use the un-checkpointed builders for
    single-pass queries (plans stay inspectable).

    MEMOIZED per source frame (the shared weak-keyed device memo): the
    edge set is a deterministic pure function of the event frame, and
    the catalog's inputs are memoized static scans — so the ~20 graph
    queries of a session share ONE materialized edge frame instead of
    re-paying the device + distinct shuffle each (the stats-memo
    discipline applied to the derivation itself). Frames die, entries
    follow; sessions that swap an sf_dir mid-run already clear the
    read memo, which drops the event frame and with it this entry.
    The cut marks itself session-shared (cutpoint.shared_lineage_cut)
    so inter-query block flushes skip its blocks — evicting a
    localCheckpoint's blocks would make the frame unrecomputable."""
    from kg_etl_spark.cutpoint import shared_lineage_cut

    return _memo_get(
        ev,
        ("trans_edges_cut",),
        lambda: shared_lineage_cut(transition_edges(ev).distinct()),
    )


def undirected_transition_edges_cut(ev: DataFrame) -> DataFrame:
    """`undirected_transition_edges` at a lineage cut — same rationale
    and per-frame memo as :func:`transition_edges_cut`."""
    from kg_etl_spark.cutpoint import shared_lineage_cut

    return _memo_get(
        ev,
        ("undirected_trans_edges_cut",),
        lambda: shared_lineage_cut(undirected_transition_edges(ev)),
    )


def with_prefix_max(
    df: DataFrame,
    group_cols: Sequence[str],
    order_col: str,
    tiebreaks: Sequence[str],
    value_col: str,
    *,
    num_ranges: Optional[int] = None,
    out_col: str = "prefix_max_excl",
) -> DataFrame:
    """EXCLUSIVE running MAX(value) OVER (PARTITION BY group ORDER BY
    order, tiebreaks ROWS UNBOUNDED PRECEDING TO 1 PRECEDING) for
    LOW-cardinality groups — the running-aggregate sibling of
    :func:`with_next`, same cells + carry shape: each (group, range)
    cell computes its local exclusive prefix max in parallel; the
    per-cell maxes (a |groups| x num_ranges frame off the same
    exchange) take an exclusive running max over cells and broadcast
    back; the row value is greatest(local, carry).  Bit-identical to
    the single window at any scale (max is associative and the cells
    concatenate in order).  NULL where no prior row exists.  Sizing,
    skew handling, and NULL-group handling as :func:`with_next`."""
    group_cols = list(group_cols)
    tiebreaks = [t for t in tiebreaks if t != order_col]
    n, lo, hi = _stats(df, order_col)
    if lo is None:
        return df.withColumn(out_col, F.lit(None).cast(df.schema[value_col].dataType))
    if num_ranges is None:
        num_ranges = _auto_num_ranges(n, df.sparkSession)
    plan = _cell_plan(
        df, order_col, n, lo, hi, num_ranges, groups=group_cols, tiebreaks=tiebreaks
    )
    ranged = df.withColumn("_apr", plan["cell"])
    # 1-field struct group keys: null-safe partitioning/join without
    # de-attributing the join condition (see the with_next note)
    gkeys = [f"_apg{i}" for i in range(len(group_cols))]
    for g, c in zip(gkeys, group_cols):
        ranged = ranged.withColumn(g, F.struct(F.col(c)))
    ranged = ranged.repartition(*(gkeys + ["_apr"]))
    order = [F.col(order_col).asc()] + [F.col(t).asc() for t in tiebreaks]
    w = (
        Window.partitionBy(*gkeys, "_apr")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local = ranged.withColumn("_apl", F.max(value_col).over(w))
    cellmax = ranged.groupBy(*gkeys, "_apr").agg(
        F.max(value_col).alias("_apm")
    )
    cw = (
        Window.partitionBy(*gkeys)
        .orderBy("_apr")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    carry = cellmax.withColumn("_apc", F.max("_apm").over(cw)).select(
        *gkeys, "_apr", "_apc"
    )
    out = local.join(F.broadcast(carry), gkeys + ["_apr"], "left")
    out = out.withColumn(
        out_col,
        F.when(
            F.col("_apl").isNotNull() & F.col("_apc").isNotNull(),
            F.greatest("_apl", "_apc"),
        ).otherwise(F.coalesce("_apl", "_apc")),
    )
    return out.select(*df.columns, out_col)

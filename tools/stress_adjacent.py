"""50M-event stress probe for the scale-safe stream lead
(operators/adjacent.py) — the r5 VERDICT directive #1 acceptance test.

Shape: 50M synthetic events over 5 event types (the catalog's exact
low-cardinality regime), so the NAIVE Window.partitionBy(event_type)
form must sort 10M rows in ONE task while with_next spreads the same
work over 5 x num_ranges cells.  The probe:

1. runs the transition-edge derivation through with_next and times it;
2. runs the naive single-window form on the same frame;
3. asserts an EXACT aggregate signature match (count + hash-sums of
   (src, dst)) — the bit-identity contract at 50x the bench SF;
4. reports both wall times (the device must not be slower than the
   straggler form even on local[32], where the naive form's single
   task still fits in memory — at cluster scale it simply dies).

Legs (r7): ``--one-type`` runs the cardinality-1 worst case (the whole
stream is one group); ``--bursty`` puts ≥90% of the events inside ONE
DAY of a 10-year timestamp span — the value-skew regime where the r6
equal-width ranges collapsed toward the naive window — and ADDITIONALLY
asserts that no (group, range) cell exceeds 2× the even share
n/num_ranges (i.e. the equi-depth re-split engaged), alongside the
usual exact-signature check.

Leg (r8): ``--heavy-tie`` puts ≥50% of the events at ONE microsecond
timestamp — the dominant-tie regime NO monotone bucketing of the key
can split (equi-depth keeps ties together), so the r7 device put half
the corpus in one sort task.  The r8 tiebreak sub-bucketing
(rankdev._cell_plan's tie split) must spread the tie: the leg asserts the same
2×-of-even-share cell bar AND the exact signature match.

Usage: python tools/stress_adjacent.py [n_events] [--one-type] [--bursty]
       [--heavy-tie]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import Window  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from kg_etl_spark.operators.adjacent import transition_edges  # noqa: E402
from kg_etl_spark.session import get_spark  # noqa: E402


def synth_events(spark, n: int, bursty: bool = False, heavy_tie: bool = False):
    # deterministic scramble: ts order differs from id order per type,
    # so the sort actually has to work; user ids collide across types
    if heavy_tie:
        # >=50% of events at ONE microsecond (epoch-zero defaults /
        # crawl batch stamps); the rest spread over a 10-year span
        ts = F.when(
            F.col("id") % 2 == 0, F.timestamp_micros(F.lit(86_400_000_000))
        ).otherwise(
            F.timestamp_micros(
                ((F.col("id") * 1315423911) % 315_360_000_000_000).cast("long")
            )
        )
    elif bursty:
        # ≥90% of events inside one day (86 400 s) of a 10-year span
        # (315 360 000 s); sub-second micros keep keys near-unique
        sec = (
            F.when(F.col("id") % 10 < 9, (F.col("id") * 1315423911) % 86_400)
            .otherwise((F.col("id") * 2654435761) % 315_360_000)
            .cast("long")
        )
        ts = F.timestamp_micros(sec * 1_000_000 + (F.col("id") * 48271) % 1_000_000)
    else:
        ts = F.timestamp_micros((F.col("id") * 1315423911 % 4000000000).cast("long"))
    ev = spark.range(n).select(
        F.col("id").alias("event_id"),
        F.concat(F.lit("t"), (F.col("id") % 5).cast("string")).alias("event_type"),
        ((F.col("id") * 2654435761) % 1000003).alias("user_id"),
        ts.alias("ts"),
    )
    return ev


def signature(edges):
    e = edges.select(
        F.col("src").cast("long").alias("s"), F.col("dst").cast("long").alias("d")
    )
    return e.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((F.col("s") * 31 + F.col("d")) % 1000000007).alias("h1"),
        F.sum((F.col("s") + F.col("d") * 131) % 998244353).alias("h2"),
    ).collect()[0]


def cell_balance(ev, n_rows):
    """(num_ranges, max (group, range) cell rows) under the device's
    own sizing/bucketing decision (tiebreaks included, so the heavy-tie
    sub-split is visible) — the r7/r8 skew acceptance metric."""
    from kg_etl_spark.operators.rankdev import _auto_num_ranges, _cell_plan, _stats

    n, lo, hi = _stats(ev, "ts")
    num_ranges = _auto_num_ranges(n, ev.sparkSession)
    plan = _cell_plan(
        ev, "ts", n, lo, hi, num_ranges, groups=["event_type"], tiebreaks=["event_id"]
    )
    mx = (
        ev.withColumn("_apr", plan["cell"])
        .groupBy("event_type", "_apr")
        .count()
        .agg(F.max("count"))
        .collect()[0][0]
    )
    return num_ranges, int(mx)


def main():
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    n = int(args[0]) if args else 50_000_000
    one_type = "--one-type" in sys.argv
    bursty = "--bursty" in sys.argv
    heavy_tie = "--heavy-tie" in sys.argv
    spark = get_spark("stress-adjacent")
    ev = synth_events(spark, n, bursty=bursty, heavy_tie=heavy_tie).localCheckpoint(
        eager=True
    )
    if one_type:
        # worst case: the ENTIRE stream is one group (cardinality 1 —
        # the naive window would sort all n rows in a single task);
        # the device still splits into num_ranges ts cells
        ev = ev.withColumn("event_type", F.lit("t0")).localCheckpoint(eager=True)

    t0 = time.time()
    sig_dev = signature(transition_edges(ev))
    t_dev = time.time() - t0

    w = Window.partitionBy("event_type").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    naive = (
        ev.select(
            F.col("user_id").alias("src"), F.lead("user_id").over(w).alias("dst")
        )
        .filter(F.col("dst").isNotNull() & (F.col("src") != F.col("dst")))
    )
    t0 = time.time()
    sig_naive = signature(naive)
    t_naive = time.time() - t0

    assert tuple(sig_dev) == tuple(sig_naive), (
        f"signature mismatch: device={tuple(sig_dev)} naive={tuple(sig_naive)}"
    )
    label = (
        ("one-type " if one_type else "")
        + ("bursty " if bursty else "")
        + ("heavy-tie " if heavy_tie else "")
    )
    balance = ""
    if bursty or heavy_tie:
        num_ranges, max_cell = cell_balance(ev, n)
        target = n / num_ranges
        assert max_cell <= 2 * target, (
            f"skew split failed: max cell {max_cell} > 2x target {target:.0f}"
        )
        balance = f" max_cell={max_cell} (target n/num_ranges={target:.0f})"
    print(
        f"OK {label}n={n}: edges={sig_dev['n']} device={t_dev:.1f}s "
        f"naive_single_task_window={t_naive:.1f}s{balance}"
    )


if __name__ == "__main__":
    main()

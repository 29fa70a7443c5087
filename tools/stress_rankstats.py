"""10x-scale probes for the rank-device statistics family: the
doubled-rank Spearman and the cumsum-device exact quantiles, each
against a planted shape with a PROVABLE exact answer (the SCALE.md
measured-not-guessed discipline).

Usage: python tools/stress_rankstats.py [spearman|quantiles ...]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from kg_etl_spark.session import get_spark  # noqa: E402


def stress_spearman(spark):
    # 10M rows, heavy ties (x takes 1M distinct values, 10 rows each),
    # y = 2x + 7: tie groups align exactly, so Spearman rho == 1.0
    # EXACTLY — any rank-device bucketing/offset error breaks the bit.
    from kg_etl_spark.operators.rankdev import global_cumsum

    n, dup = 10_000_000, 10
    rows = spark.range(n).select(
        (F.col("id") % (n // dup)).alias("x")
    ).withColumn("y", F.col("x") * 2 + 7)

    def doubled(col):
        per = rows.groupBy(col).agg(F.count(F.lit(1)).alias("_n"))
        cum = global_cumsum(per, col, ["_n"])
        return cum.select(col, (F.lit(2) * F.col("cum__n") - F.col("_n") + 1).alias(f"r2_{col}"))

    t0 = time.time()
    ranked = rows.join(doubled("x"), "x").join(doubled("y"), "y")
    DEC = "decimal(38,0)"
    rx, ry = F.col("r2_x").cast(DEC), F.col("r2_y").cast(DEC)
    a = ranked.agg(
        F.count(F.lit(1)).cast(DEC).alias("n"),
        F.sum(rx).alias("sx"), F.sum(ry).alias("sy"),
        F.sum(rx * ry).alias("sxy"),
        F.sum(rx * rx).alias("sxx"), F.sum(ry * ry).alias("syy"),
    ).collect()[0]
    dt = time.time() - t0
    num = a["n"] * a["sxy"] - a["sx"] * a["sy"]
    dxx = a["n"] * a["sxx"] - a["sx"] * a["sx"]
    dyy = a["n"] * a["syy"] - a["sy"] * a["sy"]
    # perfect monotone with aligned ties: numerator² == dxx·dyy EXACTLY
    assert num > 0 and num * num == dxx * dyy, (num, dxx, dyy)
    return f"spearman: {n} rows ({dup}x ties) in {dt:.1f}s (rho == 1 exact in integers)"


def stress_quantiles(spark):
    # 10M values 0..9_999_999 shuffled by a bijective affine map: the
    # p-quantile is EXACTLY ceil(p*n/100) - 1 (values are 0-based ranks)
    from kg_etl_spark.operators.rankdev import global_cumsum

    n = 10_000_000
    vals = spark.range(n).select(((F.col("id") * 7_368_787 + 11) % n).alias("v"))
    t0 = time.time()
    per = vals.groupBy("v").agg(F.count(F.lit(1)).alias("c"))
    cum = global_cumsum(per, "v", ["c"])
    tot = cum.agg(F.sum("c").alias("n"))
    j = cum.crossJoin(F.broadcast(tot))
    ps = F.explode(F.array(F.lit(50), F.lit(90), F.lit(99))).alias("p")
    hit = (
        j.select("v", "c", "cum_c", "n", ps)
        .withColumn("k", F.expr("(p * n + 99) div 100"))
        .filter((F.col("cum_c") >= F.col("k")) & (F.col("cum_c") - F.col("c") < F.col("k")))
        .collect()
    )
    dt = time.time() - t0
    got = {r["p"]: r["v"] for r in hit}
    expect = {p: (p * n + 99) // 100 - 1 for p in (50, 90, 99)}
    assert got == expect, (got, expect)
    return f"quantiles: {n} distinct values in {dt:.1f}s (3 exact order stats)"


def stress_theilsen_pairs(spark):
    # 10-year daily series (3650 days x 5 types -> ~6.66M slope pairs
    # PER TYPE, ~33M total): the grouped rank device must produce the
    # exact per-type median with no single-task sort of the pair frame,
    # matching the naive per-type window bit for bit.
    from pyspark.sql import Window

    from kg_etl_spark.operators.rankdev import grouped_row_number

    days = 3650
    daily = spark.range(days * 5).select(
        F.concat(F.lit("t"), (F.col("id") % 5).cast("string")).alias("event_type"),
        (F.col("id") / 5).cast("long").alias("day"),
        ((F.col("id") * 48271) % 997).alias("c"),
    ).localCheckpoint(eager=True)
    a = daily.select("event_type", F.col("day").alias("d1"), F.col("c").alias("c1"))
    b = daily.select("event_type", F.col("day").alias("d2"), F.col("c").alias("c2"))
    pairs = (
        a.join(b, "event_type")
        .filter(F.col("d1") < F.col("d2"))
        .withColumn(
            "slope",
            (F.col("c2") - F.col("c1")).cast("double")
            / (F.col("d2") - F.col("d1")).cast("double"),
        )
    )

    def median_of(ranked):
        return {
            r["event_type"]: (r["np"], round(r["slope"], 6))
            for r in ranked.filter(F.col("rn") == F.expr("(np + 1) div 2")).collect()
        }

    t0 = time.time()
    got = median_of(
        grouped_row_number(
            pairs, ["event_type"], "slope", ["d1", "d2"], out_col="rn", count_col="np"
        )
    )
    dt = time.time() - t0
    w = Window.partitionBy("event_type").orderBy(
        F.col("slope").asc(), F.col("d1").asc(), F.col("d2").asc()
    )
    wn = Window.partitionBy("event_type")
    t1 = time.time()
    want = median_of(
        pairs.withColumn("rn", F.row_number().over(w).cast("long")).withColumn(
            "np", F.count(F.lit(1)).over(wn).cast("long")
        )
    )
    dt_naive = time.time() - t1
    assert got == want, (got, want)
    n_pairs = next(iter(got.values()))[0] * 5
    return (
        f"theilsen_pairs: {n_pairs} pairs (3650-day x 5 types) device {dt:.1f}s "
        f"vs naive single-task window {dt_naive:.1f}s (medians exact-equal)"
    )


def stress_grouped_bursty(spark):
    # r7 skew leg for the GROUPED rank device at scale: 20M rows where
    # 90% land in ONE group AND inside one sliver of a huge value span
    # (a flood event). The naive per-group window sorts the 18M-row hot
    # group in ONE task; equal-width cells would ALSO collapse (same
    # sliver) — the count-probe + equi-depth re-split must spread the
    # flood across cells and stay bit-identical to the naive window on
    # the per-group median check.
    from pyspark.sql import Window

    from kg_etl_spark.operators.rankdev import grouped_row_number

    n = 20_000_000
    df = spark.range(n).select(
        F.when(F.col("id") % 10 < 9, F.lit("g0"))
        .otherwise(F.concat(F.lit("g"), (1 + F.col("id") % 4).cast("string")))
        .alias("g"),
        F.when(
            F.col("id") % 10 < 9, ((F.col("id") * 131) % 86_400).cast("double")
        )
        .otherwise(((F.col("id") * 7919) % 315_360_000).cast("double"))
        .alias("k"),
        F.col("id").alias("tb"),
    ).localCheckpoint(eager=True)

    t0 = time.time()
    ranked = grouped_row_number(df, ["g"], "k", ["tb"], out_col="rn", count_col="np")
    med = ranked.filter(F.col("rn") == F.expr("(np + 1) div 2"))
    got = {r["g"]: (r["np"], r["k"], r["tb"]) for r in med.collect()}
    dt = time.time() - t0

    w = Window.partitionBy("g").orderBy(F.col("k").asc(), F.col("tb").asc())
    wn = Window.partitionBy("g")
    t1 = time.time()
    naive = (
        df.withColumn("rn", F.row_number().over(w).cast("long"))
        .withColumn("np", F.count(F.lit(1)).over(wn).cast("long"))
        .filter(F.col("rn") == F.expr("(np + 1) div 2"))
    )
    want = {r["g"]: (r["np"], r["k"], r["tb"]) for r in naive.collect()}
    dt_naive = time.time() - t1
    assert got == want, (got, want)
    return (
        f"grouped_bursty: n={n} 90%-one-group-one-day device {dt:.1f}s "
        f"vs naive single-task window {dt_naive:.1f}s (medians exact-equal)"
    )


def stress_heavy_tie(spark):
    # r8 leg: 50M rows, 50% at ONE key value — the dominant-tie regime
    # no monotone key bucketing can split (equi-depth keeps ties
    # together), previously one 25M-row sort task. The tiebreak
    # sub-bucketing must spread it (no cell >2x the even share) while
    # the rank signature matches the naive single-task window exactly.
    from pyspark.sql import Window

    from kg_etl_spark.operators.rankdev import (
        _auto_num_ranges,
        _memo,
        global_row_number,
    )

    n = 50_000_000
    df = spark.range(n).select(
        F.when(F.col("id") % 2 == 0, F.lit(86_400.0))
        .otherwise(((F.col("id") * 1315423911) % 315_360_000).cast("double"))
        .alias("k"),
        F.col("id").alias("tb"),
    ).localCheckpoint(eager=True)

    def signature(ranked):
        return tuple(
            ranked.agg(
                F.count(F.lit(1)).alias("n"),
                F.sum((F.col("rn") * 31 + F.col("tb")) % 1000000007).alias("h1"),
                F.sum((F.col("rn") + F.col("tb") * 131) % 998244353).alias("h2"),
            ).collect()[0]
        )

    t0 = time.time()
    ranked, n_tot = global_row_number(df, "k", tiebreaks=["tb"], out_col="rn")
    sig_dev = signature(ranked)
    dt = time.time() - t0
    num_ranges = _auto_num_ranges(n_tot, spark)
    plan = _memo(df)[("cells", "k", (), ("tb",), num_ranges, ())]
    assert plan["heavies"], "tie split did not engage"
    mx = max(plan["counts"].values())
    target = n / num_ranges
    assert mx <= 2 * target, f"max cell {mx} > 2x target {target:.0f}"

    w = Window.orderBy(F.col("k").asc(), F.col("tb").asc())
    t1 = time.time()
    sig_naive = signature(
        df.withColumn("rn", F.row_number().over(w).cast("long"))
    )
    dt_naive = time.time() - t1
    assert sig_dev == sig_naive, (sig_dev, sig_naive)
    return (
        f"heavy_tie: n={n} 50%-one-value device {dt:.1f}s "
        f"vs naive single-task window {dt_naive:.1f}s "
        f"(signatures exact-equal, max cell {mx} <= 2x target {target:.0f})"
    )


def stress_heavy_tie_nulls(spark):
    # r9 leg: the dominant-tie regime where the FIRST tiebreak is one
    # constant value PLUS NULLs inside the tie (a crawl batch where
    # some records lost their source tag) — the r8 ADVICE high case.
    # The guard-bit cascade must order every NULL-t0 row before the
    # constant run while BOTH runs spread across the t1 equi-depth
    # buckets (the guard multiplies into the bucketing — a 1/3-null
    # tie must not concentrate its null run into one sort cell),
    # exact against the naive single-task window.
    from pyspark.sql import Window

    from kg_etl_spark.operators.rankdev import (
        _auto_num_ranges,
        _memo,
        global_row_number,
    )

    n = 50_000_000
    df = spark.range(n).select(
        F.when(F.col("id") % 2 == 0, F.lit(86_400.0))
        .otherwise(((F.col("id") * 1315423911) % 315_360_000).cast("double"))
        .alias("k"),
        F.when(
            F.col("id") % 2 == 0,
            F.when(F.col("id") % 6 == 0, F.lit(None).cast("string")).otherwise(
                F.lit("common-crawl")
            ),
        )
        .otherwise(F.concat(F.lit("src"), (F.col("id") % 7).cast("string")))
        .alias("s"),
        F.col("id").alias("tb"),
    ).localCheckpoint(eager=True)

    def signature(ranked):
        return tuple(
            ranked.agg(
                F.count(F.lit(1)).alias("n"),
                F.sum((F.col("rn") * 31 + F.col("tb")) % 1000000007).alias("h1"),
                F.sum((F.col("rn") + F.col("tb") * 131) % 998244353).alias("h2"),
            ).collect()[0]
        )

    t0 = time.time()
    ranked, n_tot = global_row_number(df, "k", tiebreaks=["s", "tb"], out_col="rn")
    sig_dev = signature(ranked)
    dt = time.time() - t0
    num_ranges = _auto_num_ranges(n_tot, spark)
    plan = _memo(df)[("cells", "k", (), ("s", "tb"), num_ranges, ())]
    assert plan["heavies"], "mixed-null tie split did not engage"
    mx = max(plan["counts"].values())
    target = n / num_ranges
    assert mx <= 2 * target, f"max cell {mx} > 2x target {target:.0f}"
    w = Window.orderBy(
        F.col("k").asc(), F.col("s").asc_nulls_first(), F.col("tb").asc()
    )
    t1 = time.time()
    sig_naive = signature(
        df.withColumn("rn", F.row_number().over(w).cast("long"))
    )
    dt_naive = time.time() - t1
    assert sig_dev == sig_naive, (sig_dev, sig_naive)
    return (
        f"heavy_tie_nulls: n={n} 50%-one-value constant+NULL-t0 device "
        f"{dt:.1f}s vs naive single-task window {dt_naive:.1f}s "
        f"(signatures exact-equal, max cell {mx} <= 2x target {target:.0f})"
    )


def stress_heavy_tie_str(spark):
    # r8 follow-up: the dominant-tie regime where the ONLY tiebreak is
    # a STRING (user/doc ids — common in real corpora). The 6-byte
    # binary-prefix sub-bucketing (rankdev._tiebreak_chain) must spread
    # the tie (no cell > 2x the even share) while the rank signature
    # stays exactly the naive single-task window's.
    from pyspark.sql import Window

    from kg_etl_spark.operators.rankdev import (
        _auto_num_ranges,
        _memo,
        global_row_number,
    )

    n = 50_000_000
    sfx = F.lpad(((F.col("id") * 2654435761) % n).cast("string"), 10, "0")
    df = spark.range(n).select(
        F.when(F.col("id") % 2 == 0, F.lit(86_400.0))
        .otherwise(((F.col("id") * 1315423911) % 315_360_000).cast("double"))
        .alias("k"),
        F.concat(F.lit("u"), sfx).alias("s"),
    ).localCheckpoint(eager=True)

    def signature(ranked):
        h = F.abs(F.xxhash64("s"))
        return tuple(
            ranked.agg(
                F.count(F.lit(1)).alias("n"),
                F.sum((F.col("rn") * 31 + h % 1000003) % 1000000007).alias("h1"),
                F.sum((F.col("rn") + (h % 9973) * 131) % 998244353).alias("h2"),
            ).collect()[0]
        )

    t0 = time.time()
    ranked, n_tot = global_row_number(df, "k", tiebreaks=["s"], out_col="rn")
    sig_dev = signature(ranked)
    dt = time.time() - t0
    num_ranges = _auto_num_ranges(n_tot, spark)
    plan = _memo(df)[("cells", "k", (), ("s",), num_ranges, ())]
    assert plan["heavies"], "string tie split did not engage"
    mx = max(plan["counts"].values())
    target = n / num_ranges
    assert mx <= 2 * target, f"max cell {mx} > 2x target {target:.0f}"

    w = Window.orderBy(F.col("k").asc(), F.col("s").asc())
    t1 = time.time()
    sig_naive = signature(
        df.withColumn("rn", F.row_number().over(w).cast("long"))
    )
    dt_naive = time.time() - t1
    assert sig_dev == sig_naive, (sig_dev, sig_naive)
    return (
        f"heavy_tie_str: n={n} 50%-one-value STRING-tiebreak device {dt:.1f}s "
        f"vs naive single-task window {dt_naive:.1f}s "
        f"(signatures exact-equal, max cell {mx} <= 2x target {target:.0f})"
    )


def stress_rownum_by(spark, skewed_prefix: bool):
    # r8 directive #6: the STRING-key global rank
    # (repartitionByRange sampling + double exchange) at 50M, in a
    # uniform leg and a skewed-prefix leg (90% of keys share one long
    # constant prefix — range-boundary sampling sees nearly identical
    # leading bytes). Keys are unique (a bijective affine scramble
    # keyed into the suffix), so rank values are sampling-independent.
    from pyspark.sql import Window

    from kg_etl_spark.operators.rankdev import global_row_number_by

    n = 50_000_000
    sfx = F.lpad(((F.col("id") * 2654435761) % n).cast("string"), 10, "0")
    if skewed_prefix:
        key = F.when(
            F.col("id") % 10 < 9,
            F.concat(F.lit("a" * 32 + "_"), sfx),
        ).otherwise(F.concat(F.lit("zz_"), sfx))
    else:
        key = F.concat(F.lit("k"), sfx)
    df = spark.range(n).select(
        key.alias("k"), F.col("id").alias("tb")
    ).localCheckpoint(eager=True)

    def signature(ranked):
        h = F.abs(F.xxhash64("k"))
        return tuple(
            ranked.agg(
                F.count(F.lit(1)).alias("n"),
                F.sum((F.col("rn") * 31 + h % 1000003) % 1000000007).alias("h1"),
                F.sum((F.col("rn") + (h % 9973) * 131) % 998244353).alias("h2"),
            ).collect()[0]
        )

    t0 = time.time()
    sig_dev = signature(global_row_number_by(df, ["k"], out_col="rn"))
    dt = time.time() - t0
    w = Window.orderBy(F.col("k").asc())
    t1 = time.time()
    sig_naive = signature(
        df.withColumn("rn", F.row_number().over(w).cast("long"))
    )
    dt_naive = time.time() - t1
    assert sig_dev == sig_naive, (sig_dev, sig_naive)
    leg = "skewed-prefix" if skewed_prefix else "uniform"
    return (
        f"rownum_by[{leg}]: n={n} string keys device {dt:.1f}s "
        f"vs naive single-task window {dt_naive:.1f}s (signatures exact-equal)"
    )


STRESSES = {
    "spearman": stress_spearman,
    "quantiles": stress_quantiles,
    "theilsen_pairs": stress_theilsen_pairs,
    "grouped_bursty": stress_grouped_bursty,
    "heavy_tie": stress_heavy_tie,
    "heavy_tie_nulls": stress_heavy_tie_nulls,
    "heavy_tie_str": stress_heavy_tie_str,
    "rownum_by": lambda spark: stress_rownum_by(spark, skewed_prefix=False),
    "rownum_by_skew": lambda spark: stress_rownum_by(spark, skewed_prefix=True),
}


def main():
    names = sys.argv[1:] or list(STRESSES)
    spark = get_spark("stress_rankstats")
    for name in names:
        print(STRESSES[name](spark), flush=True)


if __name__ == "__main__":
    main()

"""Data-quality audit operators: referential-integrity (FK orphan)
checks, per-column profiling, and equi-width value histograms.

These are the health checks a 100 TB ingest runs before anything else,
so every kernel is shaped to scan each table once:

* ``fk_orphan_counts`` — each relationship is a LEFT ANTI join (the
  parent key side is dimension-scale in all TPC-H-ish FKs, so Catalyst
  broadcasts it; a huge parent degrades gracefully to a shuffled anti
  join) followed by a count; results union to one tiny frame.
* ``column_profile`` — ONE aggregate pass computes count/nulls/distinct
  for every column, then unpivots k rows. Exact multi-column distinct
  uses Spark's Expand (×n_cols row amplification before partial agg) —
  acceptable for profiling runs; swap in approx_count_distinct for
  routine monitoring at full scale.
* ``equi_width_histogram`` — global min/max is a one-row aggregate
  broadcast back over the scan; bucketing is a map-side expression and
  the final count groups on ≤ n_buckets keys.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def fk_orphan_counts(
    pairs: Sequence[tuple[str, DataFrame, str, DataFrame, str]],
) -> DataFrame:
    """For each (name, child_df, child_key, parent_df, parent_key),
    count child rows whose key has no parent (NULL keys are orphans of
    record-keeping, not referential integrity — they are excluded, as
    with SQL NOT EXISTS semantics on non-null keys)."""
    out = None
    for name, child, ck, parent, pk in pairs:
        orphans = child.filter(F.col(ck).isNotNull()).join(
            parent.select(F.col(pk).alias("__pk")).distinct(),
            F.col(ck) == F.col("__pk"),
            "left_anti",
        )
        row = orphans.agg(F.count(F.lit(1)).alias("n_orphans")).select(
            F.lit(name).alias("relationship"),
            "n_orphans",
        )
        total = child.agg(F.count(F.lit(1)).alias("n_child")).select(
            F.lit(name).alias("relationship"), "n_child"
        )
        joined = total.join(row, "relationship")
        out = joined if out is None else out.unionByName(joined)
    return out


def column_profile(df: DataFrame, columns: Sequence[str] | None = None) -> DataFrame:
    """(column_name, n_rows, n_nulls, n_distinct) per column in one
    aggregate pass + a driver-free unpivot."""
    cols = list(columns or df.columns)
    aggs = [F.count(F.lit(1)).alias("__n")]
    for c in cols:
        aggs.append(F.sum(F.col(c).isNull().cast("long")).alias(f"__null_{c}"))
        aggs.append(F.count_distinct(F.col(c)).alias(f"__dist_{c}"))
    wide = df.agg(*aggs)
    stack = ", ".join(f"'{c}', __null_{c}, __dist_{c}" for c in cols)
    return wide.selectExpr(
        "__n as n_rows",
        f"stack({len(cols)}, {stack}) as (column_name, n_nulls, n_distinct)",
    ).select("column_name", "n_rows", "n_nulls", "n_distinct")


def equi_width_histogram(
    df: DataFrame, value_col: str, n_buckets: int = 10
) -> DataFrame:
    """Equal-width histogram over [min, max]: returns (bucket, lo, hi,
    n) with bucket in [0, n_buckets) and the max value folded into the
    last bucket. Width math is plain double arithmetic so an ANSI-SQL
    oracle reproduces the exact bucket edges."""
    v = F.col(value_col).cast("double")
    stats = df.agg(
        F.min(v).alias("__lo"), F.max(v).alias("__hi")
    )
    j = df.select(v.alias("__v")).crossJoin(F.broadcast(stats))
    width = (F.col("__hi") - F.col("__lo")) / F.lit(float(n_buckets))
    bucket = F.least(
        F.floor((F.col("__v") - F.col("__lo")) / width).cast("long"),
        F.lit(n_buckets - 1).cast("long"),
    )
    return (
        j.groupBy(bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min(F.round(F.col("__lo") + bucket * width, 6)).alias("lo"),
            F.min(F.round(F.col("__lo") + (bucket + 1) * width, 6)).alias("hi"),
        )
        .select("bucket", "lo", "hi", "n")
    )


def check_expectations(
    df: DataFrame, rules: "dict[str, object]"
) -> DataFrame:
    """Data-quality gate: evaluate named boolean expectations (Column
    predicates — 'passes' means true) over a table in ONE pass and
    return per-rule violation counts plus the total row count.

    The great-expectations-shaped contract a 100-TB ingestion needs,
    without the framework: every rule is a conditional aggregate in the
    same plan, so N rules cost one scan; wire the output to block a
    pipeline stage when any n_violations > 0 (or > a tolerated rate).

    Output: (rule, n_violations, n_rows), one row per rule, ordered by
    rule name for determinism.
    """
    # NULL-evaluating predicates are VIOLATIONS (when/otherwise, not
    # sum(~pred) — sum would skip the NULL and silently pass bad rows)
    aggs = [F.count(F.lit(1)).alias("_n")] + [
        F.sum(F.when(pred, F.lit(0)).otherwise(F.lit(1))).alias(f"_v_{name}")
        for name, pred in rules.items()
    ]
    # cut the lineage at the 1-row aggregate: the per-rule selects below
    # would otherwise each re-scan the table (N rules = N scans)
    one = df.agg(*aggs).lineage_cut()
    out = None
    for name in sorted(rules):
        row = one.select(
            F.lit(name).alias("rule"),
            F.col(f"_v_{name}").alias("n_violations"),
            F.col("_n").alias("n_rows"),
        )
        out = row if out is None else out.unionByName(row)
    return out


def k_anonymity(
    df: DataFrame,
    qi_cols: Sequence[str],
    k: int = 10,
) -> DataFrame:
    """K-anonymity audit over quasi-identifier columns: every row must
    share its QI combination with at least k-1 others, or it is
    re-identifiable. Returns one row per equivalence class:
    (qi..., class_size, meets_k) — the release gate for training data
    derived from user records.

    One hash-aggregate shuffle on the QI key; class sizes are the
    aggregate's output, so the result is |classes| rows regardless of
    data size. Suppression/generalization policies compose downstream
    (join class sizes back and filter, or coarsen a QI and re-audit).
    """
    return (
        df.groupBy(*qi_cols)
        .agg(F.count(F.lit(1)).alias("class_size"))
        .withColumn("meets_k", F.col("class_size") >= k)
    )


def k_anonymity_suppress(
    df: DataFrame,
    qi_cols: Sequence[str],
    k: int = 10,
) -> DataFrame:
    """Enforcement half: drop every row whose QI equivalence class is
    smaller than k (suppression — the conservative policy). The
    passing-class frame is an unbounded-groupBy output (up to n/k rows
    — NOT model state for small k), so the semi-join is unhinted: the
    planner broadcasts it at audit-sized inputs and falls back to a
    shuffle when the class table is genuinely large."""
    classes = k_anonymity(df, qi_cols, k).filter(F.col("meets_k"))
    return df.join(classes.select(*qi_cols), list(qi_cols), "left_semi")


def quarantine_split(
    df: DataFrame, rules: "dict[str, object]"
) -> tuple[DataFrame, DataFrame]:
    """Row-level enforcement of `check_expectations` rules: returns
    (good, bad) where `bad` carries `failed_rule` — the FIRST failing
    rule in sorted-name order (deterministic; a row failing several
    rules reports one, the quarantine queue triages the rest on
    replay).

    Both frames derive from the same projection — Spark evaluates the
    rule columns once per consumed frame, map-side, no shuffle, no
    second scan of the rule logic per rule. NULL-evaluating predicates
    are failures (same contract as check_expectations).
    """
    first_fail = F.lit(None).cast("string")
    for name in sorted(rules, reverse=True):
        pred = rules[name]
        first_fail = F.when(~F.coalesce(pred, F.lit(False)), F.lit(name)).otherwise(
            first_fail
        )
    tagged = df.withColumn("failed_rule", first_fail)
    good = tagged.filter(F.col("failed_rule").isNull()).drop("failed_rule")
    bad = tagged.filter(F.col("failed_rule").isNotNull())
    return good, bad


def psi_drift(
    reference: DataFrame,
    current: DataFrame,
    value_col: str,
    n_buckets: int = 10,
) -> DataFrame:
    """Population Stability Index between two snapshots of a numeric
    column: bucket edges are the REFERENCE's exact quantiles, both
    snapshots are histogrammed against them, and
    PSI = Σ (p_cur - p_ref) · ln(p_cur / p_ref) with the standard
    half-count floor on empty buckets. PSI < 0.1 ≈ stable, > 0.25 ≈
    action — the monitoring gate between pipeline runs.

    Returns one row per bucket (edges, counts, shares, psi term) plus
    the total via SUM over the output — |buckets| rows, two scans
    (one per snapshot), no joins against data.
    """
    probs = [i / n_buckets for i in range(1, n_buckets)]
    edges = reference.agg(
        F.percentile(F.col(value_col).cast("double"), F.array(*[F.lit(p) for p in probs])).alias("e")
    ).collect()[0]["e"]
    # 6-dp edges: bucket membership must be decided on values both
    # engines agree on — raw interpolated quantiles can differ in the
    # last ulp between implementations.
    edges = [round(float(x), 6) for x in edges]

    def bucket(c):
        b = F.lit(0)
        for i, e in enumerate(edges):
            b = F.when(c > F.lit(e), F.lit(i + 1)).otherwise(b)
        return b

    def hist(snap, share_name):
        n = snap.count()
        return (
            snap.select(bucket(F.col(value_col).cast("double")).alias("bucket"))
            .groupBy("bucket")
            .agg(F.count(F.lit(1)).alias("_c"))
            .select(
                "bucket",
                # half-count floor so empty buckets don't blow up the log
                (F.greatest(F.col("_c").cast("double"), F.lit(0.5)) / F.lit(float(n))).alias(
                    share_name
                ),
            )
        )

    buckets = reference.sparkSession.range(0, n_buckets).select(
        F.col("id").cast("int").alias("bucket")
    )
    out = (
        buckets.join(hist(reference, "ref_share"), "bucket", "left")
        .join(hist(current, "cur_share"), "bucket", "left")
        .fillna({"ref_share": 0.0, "cur_share": 0.0})
    )
    # re-floor buckets absent from a snapshot entirely
    n_ref = reference.count()
    n_cur = current.count()
    ref_s = F.when(F.col("ref_share") > 0, F.col("ref_share")).otherwise(
        F.lit(0.5) / F.lit(float(max(n_ref, 1)))
    )
    cur_s = F.when(F.col("cur_share") > 0, F.col("cur_share")).otherwise(
        F.lit(0.5) / F.lit(float(max(n_cur, 1)))
    )
    term = (cur_s - ref_s) * F.log(cur_s / ref_s)
    return out.select(
        "bucket",
        F.round(ref_s, 6).alias("ref_share"),
        F.round(cur_s, 6).alias("cur_share"),
        F.round(term, 6).alias("psi_term"),
    )


def chi_square(df: DataFrame, col_a: str, col_b: str) -> DataFrame:
    """Chi-square independence statistic between two categorical
    columns — the profiling primitive behind "is this split correlated
    with that label" checks on dataset cards.

    One (a,b) cell-count aggregate; marginals derive from the cell
    frame itself (tiny — |A|×|B| rows), joined broadcast; output is ONE
    row (chi2, dof, n). Per-cell contributions are rounded to 6 dp and
    summed as DECIMAL(28,6) so the float total is order-independent
    (catalog discipline). Expected counts are IEEE divides of exact
    integers — identical in any engine.
    """
    cells = (
        df.groupBy(F.col(col_a).alias("a"), F.col(col_b).alias("b"))
        .agg(F.count(F.lit(1)).alias("obs"))
        .lineage_cut(eager=True)
    )
    row_t = cells.groupBy("a").agg(F.sum("obs").alias("rt"))
    col_t = cells.groupBy("b").agg(F.sum("obs").alias("ct"))
    n = cells.agg(
        F.sum("obs").alias("n"),
        F.count_distinct("a").alias("na"),
        F.count_distinct("b").alias("nb"),
    )
    exp = (F.col("rt") * F.col("ct")).cast("double") / F.col("n").cast("double")
    obs = F.coalesce(F.col("obs"), F.lit(0)).cast("double")
    contrib = F.round((obs - exp) * (obs - exp) / exp, 6).cast("decimal(28,6)")
    # densify: UNOBSERVED cells still contribute (0−exp)²/exp = exp, so
    # the grid is the marginals' cross product, not the observed cells
    return (
        row_t.crossJoin(col_t)
        .join(F.broadcast(cells), ["a", "b"], "left")
        .crossJoin(F.broadcast(n))
        .withColumn("_c", contrib)
        .groupBy("n", "na", "nb")
        .agg(F.round(F.sum("_c").cast("double"), 6).alias("chi2"))
        .select(
            "chi2",
            ((F.col("na") - 1) * (F.col("nb") - 1)).cast("long").alias("dof"),
            F.col("n").cast("long").alias("n"),
        )
    )


def cramers_v(df: DataFrame, col_a: str, col_b: str) -> DataFrame:
    """Cramér's V effect size (+ the Bergsma 2013 bias-corrected Ṽ)
    for two categorical columns — the companion :func:`chi_square`
    deliberately doesn't emit (its output schema is oracle-pinned):
    V = √(χ²/n / min(r−1, c−1)), Ṽ from φ̃² = max(0, φ² −
    (r−1)(c−1)/(n−1)) with the shrunken r̃/c̃. Same densified-grid
    cell construction, same 6dp-decimal contribution fold; everything
    after the fold is scalar IEEE on exact integers."""
    cells = (
        df.groupBy(F.col(col_a).alias("a"), F.col(col_b).alias("b"))
        .agg(F.count(F.lit(1)).alias("obs"))
        .lineage_cut(eager=True)
    )
    row_t = cells.groupBy("a").agg(F.sum("obs").alias("rt"))
    col_t = cells.groupBy("b").agg(F.sum("obs").alias("ct"))
    n = cells.agg(
        F.sum("obs").alias("n"),
        F.count_distinct("a").alias("na"),
        F.count_distinct("b").alias("nb"),
    )
    exp = (F.col("rt") * F.col("ct")).cast("double") / F.col("n").cast("double")
    obs = F.coalesce(F.col("obs"), F.lit(0)).cast("double")
    contrib = F.round((obs - exp) * (obs - exp) / exp, 6).cast("decimal(28,6)")
    folded = (
        row_t.crossJoin(col_t)
        .join(F.broadcast(cells), ["a", "b"], "left")
        .crossJoin(F.broadcast(n))
        .withColumn("_c", contrib)
        .groupBy("n", "na", "nb")
        .agg(F.sum("_c").cast("double").alias("chi2"))
    )
    nD = F.col("n").cast("double")
    naD, nbD = F.col("na").cast("double"), F.col("nb").cast("double")
    phi2 = F.col("chi2") / nD
    v = F.sqrt(phi2 / F.least(naD - 1.0, nbD - 1.0))
    phi2c = F.greatest(
        F.lit(0.0), phi2 - (naD - 1.0) * (nbD - 1.0) / (nD - 1.0)
    )
    rsh = naD - (naD - 1.0) * (naD - 1.0) / (nD - 1.0)
    csh = nbD - (nbD - 1.0) * (nbD - 1.0) / (nD - 1.0)
    vc = F.sqrt(phi2c / F.least(rsh - 1.0, csh - 1.0))
    return folded.select(
        F.round(F.col("chi2"), 6).alias("chi2"),
        F.col("n").cast("long").alias("n"),
        F.round(v, 6).alias("cramers_v"),
        F.round(vc, 6).alias("cramers_v_corrected"),
    )

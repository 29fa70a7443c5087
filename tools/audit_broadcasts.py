"""Broadcast-HINT gate (r9 verdict directive #2): every ``F.broadcast``
call site in the package must carry a reasoned classification, or the
paired pytest fails.

Why a SOURCE-level gate and not a plan check: a forced broadcast hint
and a planner-chosen broadcast are indistinguishable in the physical
plan — both print ``BroadcastHashJoin`` — and at bench SF the planner
usually picks BHJ anyway, so the one observable difference (the hint
overrides the 8 GiB / autoBroadcastJoinThreshold safety rails at real
scale) is invisible to every plan assertion we have.  r7 audited all
hint sites by hand and removed class-(c) hints (corpus-derived build
sides: bpe_encode's merge-ranked vocab, the PMI windowed-vocab join);
r9 reintroduced exactly one (q_pmi_collocations force-broadcasting the
Heaps'-law unigram table) and nothing caught it.  This gate makes the
classification a machine-checked invariant instead of a once-off
audit.

Mechanics: ``ast``-walk every ``kg_etl_spark`` module, collect each
``F.broadcast(...)`` / bare ``broadcast(...)`` call with its enclosing
``module::qualname`` and the unparsed first argument.  Each distinct
site key ``module::qualname::arg`` must appear in :data:`ALLOWED`
tagged with one of the legal classes:

- ``dim``       fixed-size dimension table (region/nation/config CSV —
                cardinality bounded by the schema, not the corpus)
- ``model``     model-sized aggregate (centroids, codebooks, quantiles,
                per-group offsets, df-ranks over a CAPPED vocab, sketch
                parameters — rows bounded by k/bands/buckets, not n)
- ``probe``     query/probe set (user-supplied ids, planted needles,
                top-k seeds — bounded by the caller's argument)
- ``scalar``    1-row (or per-group <= |groups|-row) scalar frame from
                a full aggregate (totals, counts, mins/maxes)
- ``bounded``   frequency/threshold-bounded frame (e.g. cab >= k
                filtered bigrams, df > max_df stop-shingles: row count
                shrinks as corpus grows or is capped by construction)

What can NEVER be allowlisted (the class-(c) definition, enforced by
review): a frame derived from a corpus-column explode or an unbounded
groupBy — token/shingle/ngram vocabularies, per-doc frames, join
results of corpus tables.  If a new site legitimately needs one of
those, the answer is an unhinted equi-join (the planner broadcasts it
at small SF anyway), not an allowlist entry.

Usage: python tools/audit_broadcasts.py   # prints sites + verdict
"""

from __future__ import annotations

import ast
import os
import sys

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "kg_etl_spark")

LEGAL_CLASSES = {"dim", "model", "probe", "scalar", "bounded"}


def _qualname_stack(stack: list) -> str:
    names = [n.name for n in stack if isinstance(n, (ast.FunctionDef,
                                                     ast.AsyncFunctionDef,
                                                     ast.ClassDef))]
    return ".".join(names) if names else "<module>"


def _is_broadcast_call(node: ast.Call) -> bool:
    f = node.func
    if isinstance(f, ast.Attribute) and f.attr == "broadcast":
        # F.broadcast / functions.broadcast — NOT sc.broadcast (pickle
        # broadcast variables carry driver-side config, a different
        # mechanism with its own size discipline) and NOT
        # spark.sparkContext.broadcast
        if isinstance(f.value, ast.Name) and f.value.id in ("F", "funcs", "fn"):
            return True
        return False
    if isinstance(f, ast.Name) and f.id == "broadcast":
        return True
    return False


def scan_sites(pkg_dir: str = PKG):
    """Yield (key, lineno) for every F.broadcast call site in the
    package; key = relpath::qualname::arg (arg = unparsed first
    positional argument, whitespace-normalized)."""
    out = []
    for root, _dirs, files in os.walk(pkg_dir):
        if "__pycache__" in root:
            continue
        for fname in sorted(files):
            if not fname.endswith(".py"):
                continue
            path = os.path.join(root, fname)
            rel = os.path.relpath(path, os.path.dirname(pkg_dir))
            with open(path, encoding="utf-8") as fh:
                tree = ast.parse(fh.read(), filename=path)
            # manual walk that tracks the enclosing def/class stack
            stack: list = []

            def visit(node):
                is_scope = isinstance(node, (ast.FunctionDef,
                                             ast.AsyncFunctionDef,
                                             ast.ClassDef))
                if is_scope:
                    stack.append(node)
                if isinstance(node, ast.Call) and _is_broadcast_call(node):
                    arg = ast.unparse(node.args[0]) if node.args else "?"
                    arg = " ".join(arg.split())
                    key = f"{rel}::{_qualname_stack(stack)}::{arg}"
                    out.append((key, node.lineno))
                for child in ast.iter_child_nodes(node):
                    visit(child)
                if is_scope:
                    stack.pop()

            visit(tree)
    return out


# Every current F.broadcast site, classified.  Key -> (class, reason).
# A NEW broadcast hint fails tests/test_broadcast_gate.py until it is
# added here with a class from LEGAL_CLASSES — and review rejects any
# entry whose frame is corpus-explode- or unbounded-groupBy-derived
# (those get an unhinted join instead; see module docstring).
#
# r10 note: building this list removed 13 hints the r7 hand audit
# missed or that re-entered after it — q_pmi_collocations' unigram
# vocab (x2, the r9 verdict's scale-killer), q_doc_keywords' per-term
# df table (same Heaps'-law class), q_expectations_lineitem's full
# orders keyset, q_small_quantity_revenue's brand-part slices (x3),
# q_association_rules' |parts|-row count table (x2),
# q_overstock_suppliers' per-part sums, q_apriori_triples' L1 set
# (absolute >= 5-basket threshold -> ~|part| at 100 TB),
# q_supplier_link_prediction's degree tables (x2),
# q_revenue_concentration's supplier dim, and k_anonymity_suppress's
# passing-class frame (<= n/k rows).  All verified plan-compatible at
# bench SF (planner still picks BHJ or AQE re-plans) and oracle-green.
ALLOWED: dict[str, tuple[str, str]] = {
    # --- config / fixed-size dimensions -------------------------------
    "kg_etl_spark/diagnostics.py::suggest_aliases::centers":
        ("dim", "cities-config centers table (JSON config, schema-bounded)"),
    "kg_etl_spark/operators/cityassign.py::assign_city::c":
        ("dim", "cities config frame (|cities| rows)"),
    "kg_etl_spark/queries/events.py::q_global_type_transitions::dom":
        ("dim", "event_type domain (enum-bounded)"),
    "kg_etl_spark/queries/relational.py::q_cheapest_supplier_per_part::nation":
        ("dim", "nation (25 rows, scale-invariant)"),
    "kg_etl_spark/queries/relational.py::q_important_parts::nation":
        ("dim", "nation (25 rows)"),
    "kg_etl_spark/queries/relational.py::q_market_share::cnation":
        ("dim", "nation (25 rows)"),
    "kg_etl_spark/queries/relational.py::q_market_share::region":
        ("dim", "region (5 rows)"),
    "kg_etl_spark/queries/relational.py::q_market_share::snation":
        ("dim", "nation (25 rows)"),
    "kg_etl_spark/queries/relational.py::q_multi_hop_revenue::nation":
        ("dim", "nation (25 rows)"),
    "kg_etl_spark/queries/relational.py::q_multi_hop_revenue::region":
        ("dim", "region (5 rows)"),
    "kg_etl_spark/queries/relational.py::q_nation_pair_trade::cust_nation":
        ("dim", "nation (25 rows)"),
    "kg_etl_spark/queries/relational.py::q_nation_pair_trade::supp_nation":
        ("dim", "nation (25 rows)"),
    "kg_etl_spark/queries/relational.py::q_product_profit::nation":
        ("dim", "nation (25 rows)"),
    "kg_etl_spark/queries/relational.py::q_returned_item_customers::nation":
        ("dim", "nation (25 rows)"),
    "kg_etl_spark/sources/sqlite_src.py::load_reviews_joined::places":
        ("dim", "Yelp places dim (~150k businesses, real-world bounded; "
                "mirrors the reference's merge onto the review stream)"),
    # --- 1-row (or 2-row) scalar aggregates ---------------------------
    "kg_etl_spark/operators/audit.py::chi_square::n":
        ("scalar", "1-row grand total"),
    "kg_etl_spark/operators/audit.py::cramers_v::n":
        ("scalar", "1-row grand total"),
    "kg_etl_spark/operators/audit.py::equi_width_histogram::stats":
        ("scalar", "1-row global min/max"),
    "kg_etl_spark/operators/centrality.py::hits_scores::tot":
        ("scalar", "1-row normalization constant"),
    "kg_etl_spark/operators/spectral.py::spectral_bisection::mnum":
        ("scalar", "1-row iteration scalar"),
    "kg_etl_spark/operators/spectral.py::spectral_bisection::mx":
        ("scalar", "1-row max scalar"),
    "kg_etl_spark/operators/spectral.py::spectral_bisection::tot":
        ("scalar", "1-row total scalar"),
    "kg_etl_spark/queries/analytic.py::q_autocorrelation::stats":
        ("scalar", "1-row mean/var frame"),
    "kg_etl_spark/queries/analytic.py::q_benford_audit::tot":
        ("scalar", "1-row total"),
    "kg_etl_spark/queries/analytic.py::q_betweenness_star_recall::mx":
        ("scalar", "1-row max centrality scalar"),
    "kg_etl_spark/queries/analytic.py::q_bh_fdr_nations::glob":
        ("scalar", "1-row global stats"),
    "kg_etl_spark/queries/analytic.py::q_holm_bonferroni_nations::glob":
        ("scalar", "1-row grand totals"),
    "kg_etl_spark/queries/analytic.py::q_cuped_adjustment::day0":
        ("scalar", "1-row min-day scalar"),
    "kg_etl_spark/queries/analytic.py::q_exact_global_quantiles::n":
        ("scalar", "1-row count"),
    "kg_etl_spark/queries/analytic.py::q_kaplan_meier_retention::max_day":
        ("scalar", "1-row max day"),
    "kg_etl_spark/queries/analytic.py::q_kaplan_meier_retention::tot":
        ("scalar", "1-row cohort size"),
    "kg_etl_spark/queries/analytic.py::q_friedman_priority_months::k1":
        ("scalar", "1-row global treatment count"),
    "kg_etl_spark/queries/textq.py::q_ngram_novelty_curve::mx":
        ("scalar", "1-row max doc id"),
    "kg_etl_spark/queries/analytic.py::q_log_rank_test::max_day":
        ("scalar", "1-row max day"),
    "kg_etl_spark/queries/analytic.py::q_kruskal_wallis_spend::ties":
        ("scalar", "1-row tie-correction sum"),
    "kg_etl_spark/queries/analytic.py::q_ks_two_sample::tot":
        ("scalar", "1-row per-sample totals"),
    "kg_etl_spark/queries/analytic.py::q_anderson_darling_two_sample::tot":
        ("scalar", "1-row per-sample totals"),
    "kg_etl_spark/queries/analytic.py::q_loo_group_influence::tot":
        ("scalar", "1-row grand totals"),
    "kg_etl_spark/queries/analytic.py::q_lorenz_curve::tot":
        ("scalar", "1-row revenue total"),
    "kg_etl_spark/queries/analytic.py::q_nelson_aalen_hazard::max_day":
        ("scalar", "1-row max day"),
    "kg_etl_spark/queries/analytic.py::q_nelson_aalen_hazard::tot":
        ("scalar", "1-row cohort size"),
    "kg_etl_spark/queries/analytic.py::q_rfm_segments::mx":
        ("scalar", "1-row max day"),
    "kg_etl_spark/queries/analytic.py::q_walk_skipgram_pmi::tot":
        ("scalar", "1-row pair total (the |V| margins are deliberately "
                   "UNHINTED — see the in-code comment)"),
    "kg_etl_spark/queries/analytic.py::q_welch_t_test::b":
        ("scalar", "2-row per-branch moments"),
    "kg_etl_spark/queries/analytic.py::q_ab_test_proportions::b":
        ("scalar", "2-row per-branch counts"),
    "kg_etl_spark/queries/analytic.py::q_woe_binning::tot":
        ("scalar", "1-row pos/neg totals"),
    "kg_etl_spark/queries/analytic.py::q_sprt_conversion::crossing":
        ("scalar", "1-row first-boundary-crossing aggregate"),
    "kg_etl_spark/queries/analytic.py::q_rdd_effect::hi":
        ("scalar", "1-row right-side OLS fit (a, b, n)"),
    "kg_etl_spark/queries/analytic.py::q_t_closeness_audit::mm":
        ("scalar", "1-row global min/max balance"),
    "kg_etl_spark/queries/analytic.py::q_t_closeness_audit::glob_tot":
        ("scalar", "1-row corpus total + max bin"),
    "kg_etl_spark/queries/analytic.py::q_t_closeness_audit::glob_bin.select('_b')":
        ("model", "<=10-row bin-id frame (fixed bin geometry)"),
    "kg_etl_spark/queries/analytic.py::q_t_closeness_audit::bins":
        ("model", "<=10-row bin-id frame (triangular cum join side)"),
    "kg_etl_spark/queries/events.py::q_cusum_drift::stats":
        ("scalar", "1-row mean/std of the daily-aggregate frame"),
    "kg_etl_spark/queries/events.py::q_heavy_key_profile::total":
        ("scalar", "1-row total"),
    "kg_etl_spark/queries/ml.py::louvain_moves_from_edges::two_m":
        ("scalar", "1-row 2m edge-weight total"),
    "kg_etl_spark/queries/ml.py::q_conformal_spend_bound::nk":
        ("scalar", "1-row calibration count"),
    "kg_etl_spark/queries/ml.py::q_conformal_spend_bound::qhat":
        ("scalar", "1-row conformal quantile"),
    "kg_etl_spark/queries/ml.py::q_cv_fold_metrics::tot":
        ("scalar", "1-row grand power sums"),
    "kg_etl_spark/queries/ml.py::q_decision_stump::best":
        ("scalar", "1-row argmin split"),
    "kg_etl_spark/queries/ml.py::q_huber_location::m":
        ("scalar", "1-row IRLS location estimate"),
    "kg_etl_spark/queries/ml.py::q_mutual_info_features.mi_for::tot":
        ("scalar", "1-row total"),
    "kg_etl_spark/queries/quality.py::q_mad_outliers::mad":
        ("scalar", "1-row MAD scalar"),
    "kg_etl_spark/queries/quality.py::q_mad_outliers::med":
        ("scalar", "1-row median"),
    "kg_etl_spark/queries/quality.py::q_winsorize::pct":
        ("scalar", "1-row percentile bounds"),
    "kg_etl_spark/queries/relational.py::q_association_rules::n_orders":
        ("scalar", "1-row distinct-order count"),
    "kg_etl_spark/queries/relational.py::q_idle_rich_customers::thr":
        ("scalar", "1-row balance threshold"),
    "kg_etl_spark/queries/relational.py::q_important_parts::total":
        ("scalar", "1-row revenue total"),
    "kg_etl_spark/queries/relational.py::q_top_supplier_revenue::mx":
        ("scalar", "1-row max revenue"),
    "kg_etl_spark/queries/sketchq.py::q_cms_join_size::exact":
        ("scalar", "1-row exact join size (parity check side)"),
    "kg_etl_spark/queries/textq.py::q_doc_keywords::ndocs":
        ("scalar", "1-row doc count (the per-term df table is "
                   "deliberately UNHINTED — r10 fix)"),
    "kg_etl_spark/queries/textq.py::q_pmi_collocations::totals":
        ("scalar", "1-row T/B totals (the vocab joins are deliberately "
                   "UNHINTED — r10 fix of the r9 scale-killer)"),
    "kg_etl_spark/queries/textq.py::q_source_js_divergence::tot":
        ("scalar", "1-row global total"),
    "kg_etl_spark/queries/textq.py::q_filter_yield_curve::tot":
        ("scalar", "1-row corpus doc/token totals"),
    "kg_etl_spark/queries/textq.py::q_split_lm_eval::consts":
        ("scalar", "1-row (denom, T, V) train-LM constants — the "
                   "train-vocab JOIN itself is deliberately unhinted"),
    "kg_etl_spark/queries/textq.py::q_vocab_growth_curve::n_docs":
        ("scalar", "1-row max-doc-id scalar (decile denominator)"),
    "kg_etl_spark/queries/textq.py::q_source_js_divergence::tot_s":
        ("model", "per-source totals (|sources| rows)"),
    # --- model-sized aggregates (|groups| / cells / capped frames) ----
    "kg_etl_spark/operators/adjacent.py::with_next::carry":
        ("model", "<= |range partitions| carry rows"),
    "kg_etl_spark/operators/adjacent.py::with_prefix_max::carry":
        ("model", "<= |range partitions| carry rows"),
    "kg_etl_spark/operators/audit.py::chi_square::cells":
        ("model", "|dom(x)| x |dom(y)| contingency cells"),
    "kg_etl_spark/operators/audit.py::cramers_v::cells":
        ("model", "|dom(x)| x |dom(y)| contingency cells"),
    "kg_etl_spark/operators/datapipe.py::dsir_weights::ratios":
        ("model", "2^n_buckets hashed-feature ratio table (fixed)"),
    "kg_etl_spark/operators/pq.py::pq_ann_topk::luts":
        ("model", "per-query m x k LUT (|queries| x m x k floats)"),
    "kg_etl_spark/operators/pq.py::pq_encode::_books_df(spark, codebooks)":
        ("model", "m x k x (d/m) codebook"),
    "kg_etl_spark/operators/pq.py::pq_train_codebooks::_books_df(spark, books)":
        ("model", "m x k x (d/m) codebook (training iteration)"),
    "kg_etl_spark/operators/rankdev.py::_shift_columns::off":
        ("model", "per-cell offset frame (|groups| x num_ranges)"),
    "kg_etl_spark/operators/rankdev.py::grouped_row_number::offs.select(*gkeys, '_grr', '_off', count_col)":
        ("model", "per-cell offset frame (|groups| x num_ranges)"),
    "kg_etl_spark/operators/search.py::bm25_topk::stats":
        ("scalar", "1-row corpus stats over the FIXED query terms"),
    "kg_etl_spark/operators/search.py::tfidf_topk::stats":
        ("scalar", "1-row corpus stats over the FIXED query terms"),
    "kg_etl_spark/operators/sketches.py::cms_estimate::sketch":
        ("model", "d x w CMS cells (fixed sketch geometry)"),
    "kg_etl_spark/operators/textquality.py::unigram_surprisal::vocab":
        ("model", "TakeOrdered-capped vocab (vocab_size rows, NOT the "
                  "full Heaps'-law vocabulary)"),
    "kg_etl_spark/queries/analytic.py::q_cohort_ltv::sizes":
        ("model", "per-cohort sizes (|months| rows)"),
    "kg_etl_spark/queries/analytic.py::q_ipw_ate::rates":
        ("model", "per-segment rates (5 rows)"),
    "kg_etl_spark/queries/analytic.py::q_lorenz_curve::cum":
        ("model", "10-row cumulative decile frame"),
    "kg_etl_spark/queries/analytic.py::q_lorenz_curve::per_d.select('decile')":
        ("model", "10-row decile frame (triangular self-join side)"),
    "kg_etl_spark/queries/analytic.py::q_target_encode_loo::seg":
        ("model", "per-segment stats (5 rows)"),
    "kg_etl_spark/queries/analytic.py::q_target_encode_loo::seg_fold":
        ("model", "|segments| x |folds| stats (25 rows)"),
    "kg_etl_spark/queries/ml.py::q_mutual_info_features.mi_for::margx":
        ("model", "fixed-bucket feature margin"),
    "kg_etl_spark/queries/ml.py::q_mutual_info_features.mi_for::margy":
        ("model", "fixed-bucket feature margin"),
    "kg_etl_spark/queries/ml.py::q_naive_bayes_segment::cls":
        ("model", "per-class priors (|classes| rows)"),
    "kg_etl_spark/queries/ml.py::q_naive_bayes_segment::consts":
        ("model", "1-row smoothing constants"),
    "kg_etl_spark/queries/ml.py::q_naive_bayes_segment::f1c":
        ("model", "|classes| x |feature values| likelihoods"),
    "kg_etl_spark/queries/ml.py::q_naive_bayes_segment::f2c":
        ("model", "|classes| x |feature values| likelihoods"),
    "kg_etl_spark/queries/quality.py::q_lang_mix_divergence::glob":
        ("model", "per-lang global mix (|langs| rows)"),
    "kg_etl_spark/queries/quality.py::q_lang_mix_divergence::per_source":
        ("model", "|sources| x |langs| mix"),
    "kg_etl_spark/queries/vector.py::q_pca_power_top::means":
        ("scalar", "1-row d-dim mean vector"),
    # --- query / probe sets -------------------------------------------
    "kg_etl_spark/operators/datapipe.py::benchmark_contamination::probes":
        ("probe", "benchmark probe set (caller-bounded eval suite)"),
    "kg_etl_spark/operators/datapipe.py::bloom_ngram_contamination::bench_grams":
        ("probe", "benchmark n-gram set (eval suite, corpus-independent)"),
    "kg_etl_spark/operators/datapipe.py::ngram_contamination::bench_grams":
        ("probe", "benchmark n-gram set (eval suite, corpus-independent)"),
    "kg_etl_spark/operators/similarity.py::brute_force_topk::q":
        ("probe", "query-vector set (caller-bounded)"),
    "kg_etl_spark/operators/similarity.py::ivf_topk::probed":
        ("probe", "query x nprobe centroid assignments"),
    "kg_etl_spark/queries/pipeline.py::_planted_contaminated::probes":
        ("probe", "planted benchmark probes"),
    "kg_etl_spark/queries/pipeline.py::q_contamination::bench.withColumnRenamed('bench_id', '_b')":
        ("probe", "benchmark table (eval suite, corpus-independent)"),
    "kg_etl_spark/queries/vector.py::q_negative_samples::anchors":
        ("probe", "anchor sample (fixed-size draw)"),
    "kg_etl_spark/queries/vector.py::q_matryoshka_recall::qf":
        ("probe", "query-vector set (_MRL_QUERIES-bounded id filter)"),
    "kg_etl_spark/operators/pq.py::pq_ann_topk::qv":
        ("probe", "query-vector frame (caller-bounded)"),
    # --- threshold/cap-bounded skew frames -----------------------------
    # (anti-join build sides that EXCLUDE heavy hitters: row count is
    #  <= occurrences/cap, and the catalog callers sit behind the
    #  size-adaptive dispatch whose scale branch is the prefix ssjoin)
    "kg_etl_spark/operators/dedup.py::minhash_lsh_pairs::over":
        ("bounded", "overloaded (band,bh) buckets: <= n_docs*bands/"
                    "max_bucket rows of two longs — ~320 MB even at "
                    "1e10 docs x cap 500, Zipf-head far smaller"),
    "kg_etl_spark/operators/dedup.py::minhash_lsh_pairs_incremental::over":
        ("bounded", "overloaded bucket ids, <= rows/max_bucket (same "
                    "bound as the batch variant)"),
    "kg_etl_spark/operators/dedup.py::_sized_shingle_stream::dfreq.filter(F.col('_df') > max_df)":
        ("bounded", "stop-shingles with df > max_df; shared by the "
                    "SMALL-CORPUS branches of ngram_jaccard_pairs_adaptive "
                    "and ngram_containment_pairs_adaptive (< "
                    "PREFIX_JOIN_MIN_DOCS docs by dispatch — large corpora "
                    "route to the prefix x full ssjoin)"),
    "kg_etl_spark/operators/dedup.py::ngram_containment_pairs_prefix::dfreq.filter(F.col('_df') > max_df)":
        ("bounded", "stop-shingles with df > max_df: <= occurrences/"
                    "max_df distinct hashes excluded via anti-join "
                    "(Zipf head in practice)"),
    "kg_etl_spark/operators/dedup.py::simhash_pairs::over":
        ("bounded", "overloaded simhash buckets: <= n/max_bucket rows"),
    "kg_etl_spark/operators/dedup.py::winnowing_pairs::hot":
        ("bounded", "hot fingerprints with df > max_df: <= selected "
                    "fingerprints/max_df rows"),
    "kg_etl_spark/operators/filters.py::pareto_frontier_2d::frontier_q":
        ("bounded", "pareto frontier survivors (O(log n) expected under "
                    "exchangeable order; documented in SCALE.md r7)"),
    "kg_etl_spark/operators/similarity.py::hyperplane_lsh_neardup_pairs::over":
        ("bounded", "overloaded hyperplane buckets: <= n/max_bucket rows"),
}


def audit():
    """Returns (unlisted, stale): sites found but not allowlisted, and
    allowlist keys that no longer match any site."""
    sites = scan_sites()
    found = {k for k, _ in sites}
    unlisted = sorted(found - set(ALLOWED))
    stale = sorted(set(ALLOWED) - found)
    bad_class = sorted(k for k, (c, _r) in ALLOWED.items()
                       if c not in LEGAL_CLASSES)
    return unlisted, stale, bad_class


def main() -> None:
    sites = scan_sites()
    for k, line in sorted(sites):
        mark = "  " if k in ALLOWED else "!!"
        print(f"{mark} {k}  (line {line})")
    unlisted, stale, bad_class = audit()
    print(f"\n{len(sites)} sites, {len(unlisted)} unlisted, "
          f"{len(stale)} stale, {len(bad_class)} bad-class")
    if unlisted or stale or bad_class:
        sys.exit(1)
    print("BROADCAST GATE CLEAN")


if __name__ == "__main__":
    main()

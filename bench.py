"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is executed to completion (count triggers the full plan;
results are not collected to the driver). A short warmup query spins up
the JVM/codegen so timings reflect steady-state execution.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# The bench session executes the whole headline set (warmup + 2 timed
# runs each) in ONE JVM; at 69 queries the 16g default heap runs hot
# enough that full-GC pauses land mid-query and amplify the box's
# stall bursts into 8-10x single-row outliers (r9: the same rows
# re-measured at par in short A/B sessions, and a 32g run removed the
# catastrophic tail on the same box minutes apart). Scale the default
# with the catalog; an explicit env still wins.
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "32g")

from kg_etl_spark.queries import QUERIES  # noqa: E402
from kg_etl_spark.session import get_spark  # noqa: E402

# Headline set: one per capability family (relational agg, multi-hop
# join, window/top-k, z-score, spatial blocking, NN join, components,
# ER chain, text dedup x2, similarity search, sessionization).
HEADLINE = [
    "pricing_summary",
    "multi_hop_revenue",
    "topk_per_group",
    "zscore_bucket",
    "blocked_spatial_pairs",
    "nearest_supplier",
    "spatial_components",
    "er_canonical",
    "exact_dedup",
    "ngram_jaccard_dedup",
    "minhash_lsh_dedup",
    "embedding_topk",
    "embedding_neardup",
    "media_features",
    "sessionize",
    # round 2: packing / corpus-hygiene families
    "line_dedup",
    "pack_sequences",
    "quantize_embeddings",
    "blamed_suppliers",
    # round 3: data-selection / quality-scoring families
    "unigram_surprisal",
    "dsir_weights",
    # round 3: corpus filters, verifiable sketches, hybrid retrieval
    "gopher_quality",
    "hybrid_rrf_search",
    "hll_distinct_users",
    # round 3 (continued): analytic-SQL breadth, feature engineering,
    # graph-ML corpus prep
    "char_entropy",
    "activity_streaks",
    "rolling_correlation",
    "target_encode_loo",
    "walk_corpus",
    # round 4: ex-single-partition-window analytics now on the two-phase
    # exact rank device (operators/rankdev.py) — in the set so the
    # regression guard covers the scale-safe forms
    "surprisal_buckets",
    "rfm_segments",
    "revenue_gini",
    # round 4: second-order walks, link analysis, exact-oracle PCA
    "node2vec_corpus",
    "hits_scores",
    "pca_power_top",
    # round 5 (r4 directive #6): the remaining iterative graph ops and
    # the two re-shaped pair generators join the regression guard
    "betweenness_sampled",
    "ktruss_spatial",
    "modularity_nations",
    "fellegi_sunter_em",
    "multi_touch_attribution",
    # round 5: classical-ML family + spectral + basket mining
    "naive_bayes_segment",
    "huber_location",
    "spectral_split_users",
    "apriori_triples",
    # round 5 (cont.): rank-device AUC, robust trend, link prediction,
    # Louvain gain scan
    "roc_auc_price",
    "theil_sen_trend",
    "user_link_prediction",
    "louvain_move_scan",
    # round 5 (cont.): rank-device statistics, vector eval, sequence
    # mining over events
    "spearman_balance_spend",
    "matryoshka_recall",
    "sequential_patterns",
    # round 6 (r5 directive #6): GNN-prep and experimentation families
    # get round-over-round coverage
    "walk_skipgram_pmi",
    "gnn_prep_manifest",
    "bootstrap_ci_mean",
    # round 7 (r6 directive #5): the round-6 families enter regression
    # coverage — sorted-neighborhood linkage, GNN edge features, the
    # incremental transition grain, containment dedup, causal IPW
    "snm_links",
    "edge_jaccard_features",
    "global_type_transitions",
    "containment_dedup",
    "ipw_ate",
    # round 7: new diagnostics/order-statistics families enter coverage
    # in the round they ship
    "event_gap_quantiles",
    "heavy_key_profile",
    "equidepth_histogram",
    "zipf_tail_fit",
    "type_burstiness",
    # round 8: substring-dedup excision (r7 directive #5) enters
    # coverage in the round it ships
    "remove_dup_spans",
    # round 8: near-dup cluster canonicalization (components over the
    # pair stream, keep-one policy)
    "doc_dup_groups",
    # round 9: longest-duplicated-run curation profile (r8 directive #5),
    # adjacent-bigram PMI collocations, span-DF histogram
    "dup_span_profile",
    "pmi_collocations",
    "span_df_histogram",
    # round 10: CDC chunk dedup profile, split-leakage audit, held-out
    # LM eval, Heaps' vocab growth, Mann-Whitney U
    "cdc_chunk_stats",
    "split_leakage_audit",
    "split_lm_eval",
    "vocab_growth_curve",
    "mann_whitney_u",
    "sprt_conversion",
    "trimmed_mean_segment",
    "rdd_effect",
    "markov_top1_accuracy",
    "filter_yield_curve",
    "dup_span_source_attribution",
    "unigram_lm_char_boundary",
    "t_closeness_audit",
    # round 11: the tokenizer families feed packing end-to-end (r10
    # directive #4) — dedup → quality → split → unigram-LM encode →
    # pack-by-pieces as one DAG
    "training_pipeline_tokenized_e2e",
    # round 11: classical-statistics completions (ANOVA F, median
    # Levene, Kendall tau-b, Friedman blocks) and curation planning
    # (UniMax waterfilling, dedup threshold sweep)
    "anova_oneway_balance",
    "brown_forsythe_balance",
    "kendall_tau_daily",
    "friedman_priority_months",
    "token_budget_unimax",
    "dedup_threshold_curve",
    # round 11 (cont.): effect size, corpus novelty, duplication
    # provenance
    "cramers_v_segment_nation",
    "ngram_novelty_curve",
    "dup_cluster_size_histogram",
    "source_overlap_matrix",
    # round 11 (cont.): survival comparison + tail-sensitive
    # distribution test on the cumsum device
    "log_rank_test",
    "anderson_darling_two_sample",
    "holm_bonferroni_nations",
    "durbin_watson_daily",
]


WARMUP_SF_DIR = "/root/testdata/sf0.001"

# CONTROL queries (already in the headline set): stable plans that no
# round's device work touches, so their round-over-round ratio
# measures the BOX, not the code.  Emitting their ratio against the
# previous round's bench file makes every BENCH_r{N}.json
# self-deflating — readers divide raw deltas by control_ratio_vs_prev
# instead of re-deriving "the box was 1.4x slower" from scratch each
# round (r8 verdict directive #2).  Three map-side sub-0.4s controls
# price steady per-core speed; minhash_lsh_dedup (~1.5-2.5s, code
# untouched since r6) prices BURST stalls — this box's noise arrives
# as multi-second pauses that a 0.3s control dodges (min-of-2 catches
# a clean attempt) while every >=1s query eats one, so short controls
# alone under-deflate exactly the runs that need deflating most
# (observed r9: three same-day benches totalling 93/126/107s with the
# short controls swinging 0.25-0.63s between them).
CONTROLS = [
    "gopher_quality",
    "exact_dedup",
    "char_entropy",
    "minhash_lsh_dedup",
]


def _control_ratio_vs_prev(timings: dict[str, float]) -> dict:
    """Median ratio of this run's control timings over the newest
    BENCH_r{N}.json found next to this script (controls block if
    present, else its queries map). Never raises — telemetry only."""
    import glob
    import re
    import statistics

    here = os.path.dirname(os.path.abspath(__file__))
    prev_file, prev_n = None, -1
    for p in glob.glob(os.path.join(here, "BENCH_r*.json")):
        m = re.search(r"BENCH_r(\d+)\.json$", p)
        if m and int(m.group(1)) > prev_n:
            prev_n, prev_file = int(m.group(1)), p
    if prev_file is None:
        return {"control_ratio_vs_prev": None, "control_prev_file": None}
    try:
        with open(prev_file) as f:
            prev = json.load(f)
        # the driver wraps the bench's JSON line under "parsed"
        prev = prev.get("parsed", prev) or {}
        prev_q = prev.get("controls") or prev.get("queries") or {}
        ratios = [
            timings[c] / prev_q[c]
            for c in CONTROLS
            if timings.get(c, -1) > 0 and prev_q.get(c, -1) > 0
        ]
        if not ratios:
            return {
                "control_ratio_vs_prev": None,
                "control_prev_file": os.path.basename(prev_file),
            }
        return {
            "control_ratio_vs_prev": round(statistics.median(ratios), 3),
            "control_prev_file": os.path.basename(prev_file),
        }
    except Exception:  # noqa: BLE001 - telemetry must never fail the bench
        return {"control_ratio_vs_prev": None, "control_prev_file": None}


ESCALATE_SECS = 1.0
ESCALATE_SPREAD = 1.5
ESCALATE_LOAD = 36.0  # bench's own 32 threads + headroom


def should_escalate(attempts: "list[float]", load_1m: float) -> bool:
    """Third-attempt rule (r9 verdict directive #5): a >=1s query whose
    two attempts disagree by >=1.5x ate a burst on at least one of
    them, and one whose window ran under co-tenant load (beyond the
    bench's own ~32-thread footprint) may have eaten one on BOTH — the
    case min-of-2 cannot reject.  Sub-second rows never escalate:
    min-of-2 dodges bursts at that duration and a third run would just
    stretch the bench."""
    if not attempts or min(attempts) < ESCALATE_SECS:
        return False
    return (
        max(attempts) / min(attempts) >= ESCALATE_SPREAD
        or load_1m >= ESCALATE_LOAD
    )


_SPARK = None


def _drop_query_state() -> None:
    """Release per-query executor state between timed queries.

    Several operators localCheckpoint at multi-consumer cuts; the
    checkpointed RDD blocks stay pinned until the Python DataFrame
    object is garbage-collected AND the JVM ContextCleaner runs. With
    21 queries in one session the blocks accumulate in the shared
    local-mode heap and multi-second GC/eviction pauses land on
    whichever query happens to be running — measured as a 2.6s query
    ballooning to 14s mid-bench, with the spike rotating between runs.

    Three-step flush, all outside the timed window: drop Python refs
    (gc.collect), explicitly unpersist every still-persisted RDD (the
    checkpoint blocks of COMPLETED queries — nothing else persists
    across catalog queries), and absorb the JVM GC pause here rather
    than inside the next query's timing."""
    import gc

    from kg_etl_spark.cutpoint import is_shared_cut

    gc.collect()
    if _SPARK is not None:
        try:
            sc = _SPARK.sparkContext
            jmap = sc._jsc.getPersistentRDDs()
            for jid, jrdd in jmap.items():
                # session-shared memoized cuts (e.g. the transition-edge
                # frame ~20 graph queries reuse) hold localCheckpoint
                # blocks with TRUNCATED lineage — evicting them would
                # make the shared frame unrecomputable, and they are
                # model-sized by contract
                if is_shared_cut(jrdd):
                    continue
                jrdd.unpersist(False)
            _SPARK.sparkContext._jvm.System.gc()
        except Exception:  # noqa: BLE001 - cleanup must never fail the bench
            pass


def _wait_for_quiet_box(threshold: float = 2.0, max_wait_s: float = 300.0) -> str:
    """Gate the bench on 1-minute load average (r5 lesson: the r5 bench
    ran at load 7.54 and inflated every cross-round comparison by up to
    1.7x). Wait up to max_wait_s for load < threshold; if the box never
    quiets, run anyway but stamp the gate result into the JSON so the
    reader knows the numbers are noise-suspect. Override the threshold
    with SPARK_GRAFT_LOAD_GATE (<=0 disables)."""
    threshold = float(os.environ.get("SPARK_GRAFT_LOAD_GATE", threshold))
    if threshold <= 0:
        return "disabled"
    t0 = time.time()
    while time.time() - t0 < max_wait_s:
        load = os.getloadavg()[0]
        if load < threshold:
            return "passed"
        print(
            f"# load_avg_1m {load:.2f} >= {threshold} — waiting for a quiet box",
            file=sys.stderr,
        )
        time.sleep(20)
    return "timeout"


def _next_round() -> int:
    """Round number for the tracked BENCH_LOCAL twin: one past the
    newest official BENCH_r{N}.json next to this script (the driver
    writes the official AFTER the build turn, so during round N the
    newest on disk is N-1)."""
    import glob
    import re

    here = os.path.dirname(os.path.abspath(__file__))
    best = 0
    for p in glob.glob(os.path.join(here, "BENCH_r*.json")):
        m = re.search(r"BENCH_r(\d+)\.json$", p)
        if m:
            best = max(best, int(m.group(1)))
    return best + 1


def _time_headline(spark, sf_dir: str) -> "tuple[dict[str, float], dict[str, dict]]":
    """One full timed pass over HEADLINE: per query, min of 2 attempts
    escalating to 3 (should_escalate), state flush between attempts.

    A row is FAILED (-1) only when it produced NO successful attempt
    (r10 ADVICE: a transient error on the escalated third run must not
    void an otherwise valid min-of-2 measurement — a failed extra
    attempt is simply 'no third sample')."""
    timings: dict[str, float] = {}
    noise: dict[str, dict] = {}
    for name in HEADLINE:
        attempts: list[float] = []
        errors = 0
        n = 0
        load_pre = os.getloadavg()[0]

        def _run_once() -> bool:
            nonlocal n, errors
            t0 = time.time()
            try:
                n = QUERIES[name](spark, sf_dir).count()
            except Exception as exc:  # noqa: BLE001 - one bad query must not void the bench
                print(f"# {name}: attempt FAILED after {time.time()-t0:.3f}s: {exc}", file=sys.stderr)
                errors += 1
                return False
            attempts.append(round(time.time() - t0, 3))
            _drop_query_state()
            return True

        for _attempt in range(2):
            if not _run_once():
                break
        if attempts and should_escalate(attempts, os.getloadavg()[0]):
            _run_once()
        best = min(attempts) if attempts else -1.0
        timings[name] = best
        if best >= 0:
            noise[name] = {
                "attempts": len(attempts),
                "spread": round(max(attempts) / max(best, 1e-9), 2),
                "load1m": [round(load_pre, 2), round(os.getloadavg()[0], 2)],
            }
            if errors:
                noise[name]["attempt_errors"] = errors
            print(
                f"# {name}: {n} rows in {best}s (min of {len(attempts)}, "
                f"spread {noise[name]['spread']})",
                file=sys.stderr,
            )
    return timings, noise


def main() -> None:
    import argparse

    parser = argparse.ArgumentParser(description=__doc__)
    parser.add_argument(
        "--runs",
        type=int,
        default=int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "1")),
        help="repeat the whole timed headline loop N times and report "
        "per-row minima across runs (burst-free numbers from ONE "
        "artifact instead of N same-day artifacts read together)",
    )
    cli = parser.parse_args()
    runs = max(1, cli.runs)

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0
    load_gate = _wait_for_quiet_box()
    _load_start = os.getloadavg()[0]
    spark = get_spark("bench")
    global _SPARK
    _SPARK = spark

    # Warmup so timings reflect steady-state execution, not one-time
    # JVM/Janino costs: run every headline query once at the tiny SF
    # first. Spark caches generated code by source, so each query's
    # codegen + JIT is paid here (measured ~50% of a cold first run)
    # and the timed loop below measures actual data processing.
    warm_dir = WARMUP_SF_DIR if os.path.isdir(WARMUP_SF_DIR) else sf_dir
    QUERIES["filter_project"](spark, warm_dir).count()
    for name in HEADLINE:
        try:
            QUERIES[name](spark, warm_dir).count()
        except Exception as exc:  # noqa: BLE001 - warmup must never fail the bench
            print(f"# warmup {name} failed: {exc}", file=sys.stderr)
        _drop_query_state()

    # Timed protocol: each query runs TWICE at the target SF with a
    # state flush between runs; the reported figure is the MINIMUM —
    # steady-state execution cost rather than whichever run a JVM GC
    # pause or first-touch page-cache miss happened to land on
    # (observed single-run variance on this box: the same query
    # swinging 1.9s↔10s with an unchanged plan). Best-of-N is the
    # standard variance-robust protocol; N=2 keeps total bench wall
    # time near one minute.
    # r9 verdict directive #5: min-of-2 cannot reject a stall that hits
    # both attempts, and the cross-round reader had to commission fresh
    # A/Bs to adjudicate suspect rows.  Two structural hardenings:
    # (a) every query's JSON row carries its own noise context —
    #     attempt count, attempt spread (worst/best: >~1.5 means a
    #     burst landed on at least one attempt), and the 1-minute load
    #     around the timed window — so a hot row can be adjudicated
    #     from the artifact alone;
    # (b) >=1s queries escalate to a THIRD attempt when the first two
    #     disagree by >=1.5x or the load shows co-tenant pressure above
    #     the bench's own ~32-thread footprint (sub-second rows dodge
    #     bursts via min-of-2 already; the multi-second rows are where
    #     a double-stall min lands in the artifact).
    # r10 verdict directive #5: --runs N repeats the WHOLE timed loop N
    # times in the same session and reports per-row minima across runs
    # — the cross-run-min protocol judges previously reconstructed from
    # several same-day artifacts, now carried by ONE artifact.  Runs
    # are whole-loop interleaved (run 1 of every query, then run 2 of
    # every query) so a co-tenant burst window hits DIFFERENT queries
    # in different runs instead of all attempts of one query.
    run_results: list[tuple[dict[str, float], dict[str, dict]]] = []
    for r in range(runs):
        if runs > 1:
            print(f"# ---- timed run {r + 1}/{runs} ----", file=sys.stderr)
        run_results.append(_time_headline(spark, sf_dir))

    timings = {}
    noise = {}
    for name in HEADLINE:
        goods = [t[name] for t, _ in run_results if t.get(name, -1) >= 0]
        timings[name] = min(goods) if goods else -1.0
        per_run_noise = [nz[name] for _, nz in run_results if name in nz]
        if per_run_noise:
            noise[name] = per_run_noise[0] if runs == 1 else {
                "runs": len(per_run_noise),
                "run_mins": [t.get(name, -1.0) for t, _ in run_results],
                "per_run": per_run_noise,
            }

    total = round(sum(t for t in timings.values() if t >= 0), 3)
    payload = {
                "metric": "headline_queries_total_wall",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                "protocol": (
                    "per-query min of 2 runs (escalating to 3 when a "
                    ">=1s query's attempts spread >=1.5x or the box "
                    "shows co-tenant load), state flush between"
                    + (f"; min over {runs} whole-loop runs" if runs > 1 else "")
                ),
                "runs": runs,
                # per-query noise context (r9 directive #5): attempts
                # taken, worst/best attempt spread, and the 1-minute
                # load immediately before/after the timed window —
                # spread >~1.5 or a load jump marks the row as
                # burst-suspect without commissioning a fresh A/B
                "query_noise": noise,
                # box-noise telemetry: totals on this machine swing up
                # to ~1.7x with co-tenant load (measured 47.3s vs 88.1s
                # for the identical commit); read cross-round deltas
                # against the load the run saw
                "load_avg_1m": round(_load_start, 2),
                # end-of-run load: the bench's own 32 threads push this
                # to ~4-5 by themselves; a LARGE gap between start and
                # end on an otherwise-idle box is normal, but a high
                # START load or untouched map-side queries inflating
                # 3-4x mid-run are the co-tenant-noise tells
                "load_avg_1m_end": round(os.getloadavg()[0], 2),
                # load gate result at start: passed / timeout (box never
                # quieted within 5 min — numbers are noise-suspect) /
                # disabled (SPARK_GRAFT_LOAD_GATE<=0)
                "load_gate": load_gate,
                # self-deflation block (r8 verdict directive #2): the
                # map-side control queries' own times, plus the median
                # ratio of those times against the previous round's
                # bench file — divide raw cross-round deltas by this
                # to remove box speed from the comparison
                "controls": {
                    c: timings.get(c, -1.0) for c in CONTROLS
                },
                **_control_ratio_vs_prev(timings),
    }

    # r10 verdict directive #1: the official artifact was parsed:null
    # two rounds running because Spark's shutdown WARN lines landed
    # AFTER the final JSON and the driver keeps only a 2000-char tail.
    # Stop the session FIRST (absorbing its shutdown chatter), flush
    # both streams, then emit the JSON as the genuinely last line —
    # and write the same object to a tracked BENCH_LOCAL twin so the
    # per-query timings survive any tail truncation.
    # r11 verdict directive #5: the twin filename used to be just
    # BENCH_LOCAL_r{N}.json, so a driver re-run (or a second builder
    # run) clobbered the committed artifact of the same round. The name
    # now carries the run configuration ({cpus}c_{runs}r) and, if that
    # exact file already exists, a numeric suffix — the writer never
    # overwrites an existing artifact.
    _SPARK = None  # _drop_query_state must not touch the stopped session
    try:
        spark.stop()
    except Exception:  # noqa: BLE001 - shutdown hiccups must not void the artifact
        pass
    line = json.dumps(payload)
    try:
        here = os.path.dirname(os.path.abspath(__file__))
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        base = f"BENCH_LOCAL_r{_next_round()}_{cpus}c_{runs}r"
        twin = os.path.join(here, f"{base}.json")
        k = 2
        while os.path.exists(twin):
            twin = os.path.join(here, f"{base}_{k}.json")
            k += 1
        with open(twin, "w") as f:
            f.write(line + "\n")
    except Exception:  # noqa: BLE001 - the stdout line is the primary artifact
        pass
    sys.stderr.flush()
    sys.stdout.flush()
    print(line, flush=True)


if __name__ == "__main__":
    main()

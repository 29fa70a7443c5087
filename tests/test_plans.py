"""Physical-plan assertions (SURVEY §4 discipline): pushdown, pruning,
and broadcast choices must actually appear in the optimized plans —
regressions here are silent at small scale and fatal at 100 TB."""

from __future__ import annotations

from pyspark.sql import functions as F

from kg_etl_spark.plans import (
    has_broadcast_join,
    has_pushed_filters,
    has_whole_stage_codegen,
    physical_plan,
)
from kg_etl_spark.queries import QUERIES

SF = "/root/testdata/sf0.001"


def test_filter_pushdown_reaches_scan(spark):
    df = QUERIES["filter_project"](spark, SF)
    assert has_pushed_filters(df)


def test_column_pruning(spark):
    df = QUERIES["pricing_summary"](spark, SF)
    plan = physical_plan(df)
    # lineitem has 7 columns; the scan must not read orderkey
    assert "l_orderkey" not in plan.split("ReadSchema")[1][:400]


def test_dim_joins_broadcast(spark):
    assert has_broadcast_join(QUERIES["multi_hop_revenue"](spark, SF))
    assert has_broadcast_join(QUERIES["broadcast_dim_join"](spark, SF))


def test_no_python_in_relational_hot_paths(spark):
    for name in ("pricing_summary", "multi_hop_revenue", "zscore_bucket", "sessionize",
                 "blocked_spatial_pairs", "nearest_supplier"):
        plan = physical_plan(QUERIES[name](spark, SF))
        assert "EvalPython" not in plan, f"{name} has a Python UDF in the plan"


def test_whole_stage_codegen_present(spark):
    assert has_whole_stage_codegen(QUERIES["pricing_summary"](spark, SF))


def test_no_cartesian_anywhere_in_pair_generators(spark):
    # blocking/LSH/inverted-index pair generation must stay equi-join
    # shaped; a CartesianProduct or BroadcastNestedLoopJoin here is the
    # O(n²) failure mode these operators exist to avoid.
    for name in ("blocked_spatial_pairs", "nearest_supplier", "er_links",
                 "ngram_jaccard_dedup", "ngram_jaccard_capped",
                 "minhash_lsh_dedup", "simhash_dedup"):
        plan = physical_plan(QUERIES[name](spark, SF))
        assert "CartesianProduct" not in plan, f"{name} plans a cartesian product"
        assert "BroadcastNestedLoopJoin" not in plan, f"{name} plans a nested-loop join"


def test_partition_col_in_blocking_join_key(spark):
    # the partition column must be part of the equi-join key (hashed
    # into the shuffle), not a post-join filter — spreads hot bins
    # shared across partitions over reducers.
    from kg_etl_spark.operators.blocking import blocked_pairs
    from kg_etl_spark.operators.nearest import radius_join

    df = spark.createDataFrame(
        [("a", 1.0, 1.0, "x"), ("b", 1.0001, 1.0001, "x"), ("c", 1.0, 1.0, "y")],
        "id string, lat double, lon double, part string",
    )
    for pairs in (
        blocked_pairs(df, id_col="id", partition_col="part"),
        radius_join(df, df.withColumnRenamed("id", "rid"), "id", "rid", 300.0,
                    partition_col="part"),
    ):
        plan = physical_plan(pairs)
        # the join key column _jp appears inside the hash-partitioning /
        # join condition, and no post-join equality filter on part remains
        assert "_jp" in plan
    # cross-partition co-located points must not pair
    bp = blocked_pairs(df, id_col="id", partition_col="part").collect()
    assert {(r["a_id"], r["b_id"]) for r in bp} == {("a", "b")}


def test_ivf_corpus_assignment_is_map_side(spark):
    # corpus→bucket assignment must be a pure projection: the only
    # shuffles allowed in the IVF plan are the final top-k window and
    # aggregations of tiny (centroid-count) data. No Exchange may sit
    # between the corpus scan and the probe join.
    from kg_etl_spark.session import read_table
    from kg_etl_spark.operators.similarity import kmeans_like_centroids

    emb = read_table(spark, SF, "embeddings")
    cents = kmeans_like_centroids(emb, "embedding", 8, "vec_id")
    # centroid agg: one partial-agg shuffle, no explode
    cplan = physical_plan(cents)
    assert "Generate" not in cplan, "centroid computation explodes vectors"


def test_graph_operators_use_equi_joins_only(spark):
    # PageRank/triangles/LPA/BFS must lower to hash/sort-merge equi
    # joins — a cartesian or nested-loop join here is quadratic at scale
    for name in ("pagerank", "triangle_counts", "label_communities", "bfs_distances"):
        plan = physical_plan(QUERIES[name](spark, SF))
        assert "CartesianProduct" not in plan, f"{name} has a cartesian join"
        assert "BroadcastNestedLoopJoin" not in plan, f"{name} has a nested-loop join"


def test_unpivot_is_expand_only(spark):
    # native melt must lower to a map-side Expand: no shuffle, no UDF
    plan = physical_plan(QUERIES["part_metrics_unpivot"](spark, SF))
    assert "Expand" in plan
    assert "Exchange" not in plan, f"unpivot shuffles:\n{plan}"
    assert "EvalPython" not in plan


def test_cube_is_single_expand_aggregate(spark):
    # CUBE = one Expand feeding one partial+final aggregate pair, not a
    # union of four scans (the plan has exactly one parquet scan)
    plan = physical_plan(QUERIES["status_priority_cube"](spark, SF))
    assert "Expand" in plan
    assert "Union" not in plan, f"cube unions grains:\n{plan}"
    assert plan.count("Location: InMemoryFileIndex") == 1, f"cube re-scans the input:\n{plan}"


def test_link_prediction_stays_equi_join(spark):
    plan = physical_plan(QUERIES["supplier_link_prediction"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_new_window_family_has_no_python(spark):
    for name in ("dod_change", "gapfill_locf", "range_frame_sum",
                 "session_stats", "active_sessions_per_hour",
                 "customer_deciles", "measure_correlations"):
        plan = physical_plan(QUERIES[name](spark, SF))
        assert "EvalPython" not in plan, f"{name} has a Python UDF in the plan"


def test_dynamic_partition_pruning_fires(spark, tmp_path):
    # Hive-style partitioned layout + selective broadcast dim join →
    # the scan must carry a dynamicpruningexpression PartitionFilter
    # (only matching partitions are read — the 100-TB point of
    # partitioned layouts)
    orders = spark.read.parquet(SF + "/orders.parquet")
    path = str(tmp_path / "orders_by_status")
    orders.write.partitionBy("o_orderstatus").parquet(path)
    fact = spark.read.parquet(path)
    dim = spark.createDataFrame([("F", 1)], ["status", "x"])
    j = fact.join(dim, fact.o_orderstatus == dim.status).where(F.col("x") == 1)
    plan = physical_plan(j)
    assert "dynamicpruning" in plan.lower(), f"no DPP in:\n{plan}"
    assert j.count() > 0


def test_q21_shape_decorrelated_single_agg_pass(spark):
    # blamed_suppliers: the EXISTS/NOT-EXISTS pair must be served by ONE
    # per-order aggregate — lineitem appears at most twice in the plan
    # (agg pass + returned-lines pass), never per-candidate, and the
    # joins stay hash/broadcast equi-joins.
    plan = physical_plan(QUERIES["blamed_suppliers"](spark, SF))
    assert plan.count("lineitem.parquet") <= 2, plan
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan


def test_q22_shape_anti_join_and_scalar_broadcast(spark):
    # idle_rich_customers: NOT EXISTS must plan as a left_anti hash join
    # (not a per-row probe), and the scalar threshold as a broadcast.
    plan = physical_plan(QUERIES["idle_rich_customers"](spark, SF))
    assert "LeftAnti" in plan, plan
    assert "CartesianProduct" not in plan


def test_packing_family_native_and_bounded(spark):
    # chunking is map-side (no Exchange); packing/shard manifests stay
    # JVM-native end to end.
    from kg_etl_spark.operators.packing import chunk_documents, shard_manifest

    docs = spark.read.parquet(SF + "/documents.parquet")
    chunk_plan = physical_plan(chunk_documents(docs))
    assert "Exchange" not in chunk_plan
    assert "EvalPython" not in chunk_plan
    shard_plan = physical_plan(shard_manifest(docs))
    assert "EvalPython" not in shard_plan


def test_q7_q9_shapes_broadcast_dims(spark):
    # all dim joins must be broadcast (no fact shuffle except the final
    # aggregate) and the plans stay Python-free
    for name in ("nation_pair_trade", "product_profit"):
        plan = physical_plan(QUERIES[name](spark, SF))
        assert "BroadcastHashJoin" in plan, name
        assert "SortMergeJoin" not in plan, f"{name} shuffles a dim join"
        assert "EvalPython" not in plan


def test_shuffle_budgets_hold(spark):
    # Pin the shuffle counts PLANS.md records for key queries — a new
    # Exchange sneaking into these plans is a silent 100-TB regression
    # even when results stay correct.
    import re

    def n_exchanges(name):
        plan = physical_plan(QUERIES[name](spark, SF))
        return len(set(re.findall(r"\((\d+)\) Exchange", plan)))

    budgets = {
        "pricing_summary": 1,
        "multi_hop_revenue": 1,
        "exact_dedup": 1,
        "chunk_documents": 0,
        "quantize_embeddings": 0,
        "shard_manifest": 1,
        "pack_sequences": 1,
        "morton_cells": 1,
        "nation_pair_trade": 1,
        "product_profit": 1,
        "promo_revenue_share": 1,
        "disjunctive_revenue": 1,
        "priority_shipping_buckets": 1,
        "line_dedup": 4,
        "forecast_revenue": 1,
        "geohash_cells": 1,
        # corpus filters: document scoring must stay at scan speed —
        # zero Exchanges — and the rest within their audited budgets
        "gopher_quality": 0,
        "c4_line_filter": 0,
        "dup_span_flags": 2,
        # r6: grouped_topk tournament = one corpus-scale exchange on
        # (source, partition-id) + one SURVIVORS-sized exchange
        # (<= cap x num_partitions rows) for the final window
        "source_cap": 2,
        "surprisal_buckets": 2,
        # sketches + governance: fixed-size aggregates and projections
        "jl_projection": 0,
        "html_strip_urls": 0,
        "cms_heavy_hitters": 3,
        "hll_distinct_users": 4,
        "k_anonymity": 1,
        # round-3 analytics batch
        "copurchase_pairs": 1,
        "temperature_mixture": 1,
        "quarantine_split": 2,
        "variant_props_stats": 1,
        "time_weighted_avg": 1,
        "last_touch_attribution": 1,
        "changepoint_scores": 2,
        "dbscan_lite": 8,
        # round-3 continued: temporal/incremental join ops
        "interval_overlap": 0,   # cell-blocked equi-join broadcasts at this SF
        "delta_join_view": 1,    # three delta joins broadcast; one agg shuffle
        # round-3 continued: ordering / sketch / propagation ops
        "epoch_shuffle": 1,      # per-(epoch,shard) window is the only shuffle
        "qdigest_exact_state": 2,  # histogram agg + state-sized applyInPandas
        "qdigest_quantile_bound": 1,  # bound check is one scan-agg
        "feature_propagation": 5,  # 2 rounds x (join+agg) over node-keyed data
    }
    actual = {name: n_exchanges(name) for name in budgets}
    over = {
        name: (actual[name], budget)
        for name, budget in budgets.items()
        if actual[name] > budget
    }
    assert not over, f"shuffle budgets exceeded (actual, budget): {over}"


def test_tpch_completion_shapes(spark):
    # market_share: every dim join broadcast, fact never sort-merge
    # joined; custdist LEFT join; overstock/cheapest cartesian-free.
    plan = physical_plan(QUERIES["market_share"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan, "market_share shuffles a dim join"
    plan = physical_plan(QUERIES["custdist"](spark, SF))
    assert "LeftOuter" in plan or "BroadcastHashJoin" in plan
    for name in ("cheapest_supplier_per_part", "overstock_suppliers", "important_parts"):
        plan = physical_plan(QUERIES[name](spark, SF))
        assert "CartesianProduct" not in plan, name
        assert "EvalPython" not in plan, name


def test_new_pipeline_ops_plan_shapes(spark):
    # bloom_contamination: the corpus-side bitmap probe must be a pure
    # map-side Filter (no join before the filter eliminates ~all grams),
    # and nothing in the operator goes through Python.
    plan = physical_plan(QUERIES["bloom_contamination"](spark, SF))
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan
    # unigram_surprisal: vocab arrives by broadcast, the token stream is
    # never sort-merge-joined.
    plan = physical_plan(QUERIES["unigram_surprisal"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "EvalPython" not in plan
    # semantic_dedup: pair generation is the cluster-keyed equi-join,
    # never a cartesian (components' applyInPandas cutover is the only
    # Python site).
    plan = physical_plan(QUERIES["semantic_dedup"](spark, SF))
    assert "CartesianProduct" not in plan


def test_filter_pack_plan_shapes(spark):
    # Gopher/C4 scoring runs over EVERY document of the corpus: the
    # plans must be pure projections — no shuffle, no Python, no join.
    for name in ("gopher_quality", "c4_line_filter"):
        plan = physical_plan(QUERIES[name](spark, SF))
        assert "Exchange" not in plan, f"{name} shuffles a pure per-doc filter"
        assert "EvalPython" not in plan, name
        assert "Join" not in plan, name
    # dup-span flags: inverted-index shape, cartesian-free, native.
    plan = physical_plan(QUERIES["dup_span_flags"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan
    # hybrid RRF: the only nested-loop is the intended 1-row corpus-stat
    # broadcast inside BM25; pair generation is never cartesian.
    plan = physical_plan(QUERIES["hybrid_rrf_search"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan


def test_q6_pushdown_full(spark):
    # all three range predicates must reach the parquet scan
    import re

    plan = physical_plan(QUERIES["forecast_revenue"](spark, SF))
    m = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    assert m, plan
    pushed = m.group(1)
    for col in ("l_discount", "l_quantity"):
        assert col in pushed, f"{col} not pushed: {pushed}"


def test_ml_family_model_state_broadcasts(spark):
    # naive Bayes / stump / conformal: every model-state attach must be
    # a broadcast join (never a shuffle of the corpus side), and the
    # fellegi/pair-free queries must not plan a corpus-scale cartesian.
    assert has_broadcast_join(QUERIES["naive_bayes_segment"](spark, SF))
    assert has_broadcast_join(QUERIES["conformal_spend_bound"](spark, SF))
    # huber's per-iteration center attach is broadcast too
    assert has_broadcast_join(QUERIES["huber_location"](spark, SF))


def test_fellegi_pairs_stay_equijoin(spark):
    plan = physical_plan(QUERIES["fellegi_sunter_em"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_event_derivation_has_no_low_cardinality_window(spark):
    # r5 directive #1 regression guard: the event-stream edge
    # derivations must never plan a window partitioned by the raw
    # cardinality-5 event_type alone (that sorts n/5 rows in ONE task
    # at scale) — every window spec that mentions event_type must also
    # carry the range-bucket column _apr (operators/adjacent.py).
    # Queries that localCheckpoint their edge cut are asserted on the
    # pre-checkpoint derivation frames instead (the checkpoint truncates
    # the returned plan).
    import re

    def assert_no_low_card_window(plan, label):
        for m in re.finditer(r"windowspecdefinition\(([^)]*)", plan):
            spec = m.group(1)
            if "event_type" in spec:
                assert "_apr" in spec, f"{label}: low-cardinality window:\n{spec}"

    for name in ("interarrival_stats", "degree_assortativity",
                 "four_cycle_count", "hits_scores", "louvain_move_scan",
                 "scc_user_transitions", "mis_user_graph"):
        assert_no_low_card_window(physical_plan(QUERIES[name](spark, SF)), name)
    from kg_etl_spark.operators.adjacent import (
        transition_edges,
        undirected_transition_edges,
    )

    ev = spark.read.parquet(SF + "/events.parquet")
    assert_no_low_card_window(
        physical_plan(transition_edges(ev, with_ts=True)), "transition_edges"
    )
    assert_no_low_card_window(
        physical_plan(undirected_transition_edges(ev)), "undirected_transition_edges"
    )


def test_attribution_join_keys_on_bucket(spark):
    # r4 directive #1 regression guard: the purchases x clicks join must
    # key on (user_id, bucket), not user_id alone — the bucket column
    # must appear in the join-key expressions of the plan.
    plan = physical_plan(QUERIES["multi_touch_attribution"](spark, SF))
    assert "_bk" in plan, "attribution lost its hour-bucket join key"
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan

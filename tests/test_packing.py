"""Packing/sharding/mixing operator tests (packing.py): chunk window
semantics, concat-and-chunk prefix-sum correctness vs a serial oracle,
shard-manifest bijectivity, mixture proportions and determinism."""

from __future__ import annotations

from pyspark.sql import functions as F

from kg_etl_spark.operators.packing import (
    chunk_documents,
    dataset_mixture,
    pack_concat_chunk,
    shard_manifest,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string, source string")


def test_chunk_documents_windows_and_tail(spark):
    df = _docs(spark, [(1, "a b c d e f g", "s"), (2, "  x  y ", "s"), (3, "", "s"), (4, "one", "s")])
    out = {
        (r["doc_id"], r["chunk_id"]): (r["chunk_text"], r["n_tokens"])
        for r in chunk_documents(df, window=3, stride=2).collect()
    }
    assert out[(1, 0)] == ("a b c", 3)
    assert out[(1, 1)] == ("c d e", 3)
    assert out[(1, 3)] == ("g", 1)  # short tail kept
    assert out[(2, 0)] == ("x y", 2)  # whitespace hygiene
    assert (4, 0) in out and not any(k[0] == 3 for k in out)  # empty doc → no rows


def test_chunk_documents_no_shuffle(spark):
    df = _docs(spark, [(1, "a b c", "s")])
    plan = chunk_documents(df, window=2, stride=1)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # map-side only


def test_pack_concat_chunk_matches_serial_oracle(spark):
    # irregular sizes incl. a doc spanning multiple bins
    rows = [(i, " ".join(["t"] * n), "s") for i, n in enumerate([7, 2, 0, 1, 5, 13, 4], start=1)]
    df = _docs(spark, rows)
    got = {r["doc_id"]: r for r in pack_concat_chunk(df, cap=5, num_partitions=3).collect()}
    cum = 0
    for i, n in enumerate([7, 2, 0, 1, 5, 13, 4], start=1):
        if n == 0:
            assert i not in got
            continue
        r = got[i]
        assert (r["n_tokens"], r["first_bin"], r["last_bin"], r["offset_in_bin"]) == (
            n, cum // 5, (cum + n - 1) // 5, cum % 5
        )
        cum += n
    # partition-count independence: the two-pass prefix sum is exact for
    # any range width
    again = {r["doc_id"]: r for r in pack_concat_chunk(df, cap=5, num_partitions=1).collect()}
    assert {k: tuple(v) for k, v in got.items()} == {k: tuple(v) for k, v in again.items()}


def test_shard_manifest_bijective_positions(spark):
    df = spark.range(0, 1000).withColumnRenamed("id", "doc_id")
    out = shard_manifest(df, n_shards=4).collect()
    assert len(out) == 1000
    per_shard = {}
    for r in out:
        per_shard.setdefault(r["shard"], []).append(r["position"])
    assert set(per_shard) == {0, 1, 2, 3}
    for shard, pos in per_shard.items():
        assert sorted(pos) == list(range(len(pos)))  # dense 0..n-1
        assert 150 < len(pos) < 350  # pseudo-uniform


def test_dataset_mixture_hits_proportions(spark):
    rows = [(i, "t", "web" if i < 6000 else ("books" if i < 9000 else "junk")) for i in range(10_000)]
    df = _docs(spark, rows)
    kept = dataset_mixture(df, "source", {"web": 0.5, "books": 0.5})
    per = {r["source"]: r["n"] for r in kept.groupBy("source").agg(F.count("*").alias("n")).collect()}
    assert "junk" not in per  # unweighted source dropped
    # books (3000 docs) binds at weight 0.5 → kept whole; web thinned to ~3000
    assert per["books"] == 3000
    assert 2700 < per["web"] <= 3300
    # determinism: rerun identical
    again = {r["source"]: r["n"] for r in dataset_mixture(df, "source", {"web": 0.5, "books": 0.5}).groupBy("source").agg(F.count("*").alias("n")).collect()}
    assert per == again


def test_quantize_embeddings_unit_norm_and_clamp(spark):
    from kg_etl_spark.operators.similarity import quantize_embeddings

    df = spark.createDataFrame(
        [(1, [3.0, 4.0]), (2, [0.0, 0.0]), (3, [-1.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    out = {r["vec_id"]: r for r in quantize_embeddings(df).collect()}
    assert 2 not in out  # zero vector dropped
    assert out[1]["l2_norm"] == 5.0
    assert out[1]["qvec"] == [76, 102]  # floor(0.6*127+.5), floor(0.8*127+.5)
    assert out[3]["qvec"] == [-127, 0]


def test_check_expectations_nulls_are_violations(spark):
    from kg_etl_spark.operators.audit import check_expectations
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(1, 10.0), (2, None), (3, -5.0)], "id long, v double"
    )
    out = {r["rule"]: r["n_violations"] for r in check_expectations(
        df, {"v_positive": F.col("v") > 0}
    ).collect()}
    assert out["v_positive"] == 2  # NULL row counts as a violation


def test_temperature_mixture_flattens_proportions(spark):
    from kg_etl_spark.operators.packing import temperature_mixture

    rows = [(i, "big" if i < 900 else "small") for i in range(1000)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    kept = temperature_mixture(df, "lang", alpha=0.5)
    by = {r["lang"]: r["n"] for r in kept.groupBy("lang").agg(
        __import__("pyspark.sql.functions", fromlist=["count"]).count("*").alias("n")
    ).collect()}
    # natural ratio 9:1; alpha=0.5 targets 3:1 — the small source is
    # binding (kept whole), big thinned to ~3x small
    assert by["small"] == 100
    assert 250 < by["big"] < 350
    # alpha=1.0 degenerates to keep-everything
    kept_all = temperature_mixture(df, "lang", alpha=1.0)
    assert kept_all.count() == 1000

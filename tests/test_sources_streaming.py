"""Sources (CSV repair, JSONL, SQLite, Wikivoyage XML), multimodal
plumbing, and foreachBatch runs of the batch operators (SCD2, filter
pack, incremental dedup, MinHash index)."""

from __future__ import annotations

import os
import sqlite3

from pyspark.sql import functions as F
from pyspark.sql import types as T

from kg_etl_spark.operators.multimodal import attach_binary_payload, extract_features
from kg_etl_spark.schemas import REVIEWS, normalize_columns
from kg_etl_spark.sources.csvsrc import read_csv, read_csv_repaired
from kg_etl_spark.sources.jsonl import read_jsonl, write_jsonl, write_partitioned_parquet
from kg_etl_spark.sources.sqlite_src import load_pois, load_reviews_joined
from kg_etl_spark.sources.xml_wikivoyage import load_wikivoyage_listings, parse_page


def test_read_csv_id_canonicalization(spark, tmp_path):
    p = tmp_path / "l_listings.csv"
    p.write_text("listing_id,name\n123.0,Flat A\n456,Flat B\n")
    df = read_csv(spark, str(p), id_cols=("listing_id",), required=("listing_id", "name"))
    assert {r["listing_id"] for r in df.collect()} == {"123", "456"}


def test_read_csv_repaired(spark, tmp_path):
    p = tmp_path / "broken.csv"
    p.write_text('id,txt\r\n1,"hello" ,\r\n'.replace('" ,', '" ,'))
    schema = T.StructType([T.StructField("id", T.StringType()), T.StructField("txt", T.StringType())])
    df = read_csv_repaired(spark, str(p), schema)
    rows = df.collect()
    assert rows[0]["id"] == "1"


def test_jsonl_roundtrip_and_partitioned_parquet(spark, tmp_path):
    df = spark.createDataFrame(
        [("r1", "yelp", "p1", 4.0, "good", "2024-01-01", "alpha")], REVIEWS
    )
    out = str(tmp_path / "reviews_jsonl")
    write_jsonl(df, out)
    back = read_jsonl(spark, out, REVIEWS)
    assert back.count() == 1
    pq = str(tmp_path / "reviews_pq")
    write_partitioned_parquet(df, pq)
    write_partitioned_parquet(df.withColumn("review_id", F.lit("r2")), pq, mode="append")
    assert spark.read.parquet(pq).count() == 2
    assert os.path.isdir(os.path.join(pq, "city_slug=alpha"))


def test_normalize_columns_aliases(spark):
    raw = spark.createDataFrame(
        [("r1", "yelp", "p1", "4.5", "ok", "2024", "Alpha", "ignored")],
        "review_id string, source string, placeid string, rating string, text string, scraped_at string, city string, junk string",
    )
    norm = normalize_columns(raw, REVIEWS)
    r = norm.collect()[0]
    assert r["place_id"] == "p1" and r["city_slug"] == "Alpha" and r["rating"] == 4.5


def test_sqlite_sources(spark, tmp_path):
    db = str(tmp_path / "t.db")
    with sqlite3.connect(db) as c:
        c.execute("CREATE TABLE biz (business_id TEXT, name TEXT, latitude REAL, longitude REAL)")
        c.execute("INSERT INTO biz VALUES ('b1','Cafe',50.0,8.0), ('b2','NoCoords',NULL,NULL)")
        c.execute("CREATE TABLE rev (business_id TEXT, rating REAL, review_text TEXT)")
        c.execute("INSERT INTO rev VALUES ('b1', 5.0, 'great'), ('b1', 'bad', 'junk rating')")
    pois = load_pois(spark, db, "biz", "business_id", "yelp", "name")
    rows = pois.collect()
    assert len(rows) == 1 and rows[0]["place_id"] == "yelp:b1"  # NULL-pruned
    joined = load_reviews_joined(spark, db, "rev", "biz", "business_id", "yelp")
    got = {r["text"]: r["rating"] for r in joined.collect()}
    assert got["great"] == 5.0 and got["junk rating"] is None  # try_cast


WIKI_XML = """<mediawiki>
<page><title>Alpha</title><ns>0</ns><revision><text>
{{see|name=Old Tower|lat=50.1|long=8.1|content=A tower.}}
{{eat|name=Best Cafe|lat=48.2°N|long=8.2|address=Main St 1}}
{{infobox|name=Not a listing}}
</text></revision></page>
<page><title>Redirected</title><ns>0</ns><redirect title="Alpha"/><revision><text>
{{see|name=Should Skip|lat=1|long=2}}
</text></revision></page>
<page><title>Talk:Alpha</title><ns>1</ns><revision><text>
{{see|name=Wrong NS|lat=1|long=2}}
</text></revision></page>
</mediawiki>"""


def test_parse_page_unit():
    rows = parse_page(WIKI_XML.split("</page>")[0] + "</page>")
    assert [r["name"] for r in rows] == ["Old Tower", "Best Cafe"]
    assert rows[1]["lat"] == 48.2  # messy float
    assert rows[1]["address"] == "Main St 1"


def test_load_wikivoyage_listings(spark, tmp_path):
    p = tmp_path / "dump.xml"
    p.write_text(WIKI_XML)
    df = load_wikivoyage_listings(spark, str(p))
    rows = df.collect()
    assert {r["name"] for r in rows} == {"Old Tower", "Best Cafe"}  # ns/redirect filtered
    assert all(r["page_title"] == "Alpha" for r in rows)


def test_multimodal_plumbing(spark):
    docs = spark.createDataFrame([(1, "hello"), (2, "world")], "doc_id long, text string")
    media = attach_binary_payload(docs, "text", "doc_id")
    feats = extract_features(media, fake=True, dim=4).collect()
    assert len(feats) == 2
    by = {r["media_id"]: r for r in feats}
    assert by["1"]["n_bytes"] == 5 and len(by["1"]["feature"]) == 4
    # deterministic
    feats2 = extract_features(media, fake=True, dim=4).collect()
    assert sorted(map(str, feats)) == sorted(map(str, feats2))
    try:
        extract_features(media, fake=False)
        raise AssertionError("expected NotImplementedError")
    except NotImplementedError:
        pass


def test_streaming_scd2_upsert_foreachbatch(spark, tmp_path):
    # lakehouse MERGE pattern: a stream of dimension updates folds into
    # an SCD2 table inside foreachBatch, checkpoint carrying batch ids
    # across restarts
    from kg_etl_spark.operators.scd import scd2_apply, scd2_init

    src = tmp_path / "scd_src"; src.mkdir()
    ckpt = str(tmp_path / "scd_ckpt")
    init = spark.createDataFrame([(1, 10.0), (2, 20.0)], ["k", "v"])
    state = {"dim": scd2_init(init, "k", ["v"], batch_id=0)}

    def apply_batch(batch_df, bid):
        state["dim"] = scd2_apply(
            state["dim"], batch_df, "k", ["v"], batch_id=int(bid) + 1
        ).localCheckpoint(eager=True)

    def drain():
        q = (
            spark.readStream.schema("k long, v double").json(str(src))
            .writeStream.foreachBatch(apply_batch)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    (src / "b1.json").write_text('{"k": 1, "v": 11.0}\n{"k": 3, "v": 30.0}')
    drain()
    (src / "b2.json").write_text('{"k": 1, "v": 12.0}')
    drain()

    rows = {(r["k"], r["valid_from"], r["valid_to"]): r["v"] for r in state["dim"].collect()}
    assert rows[(1, 0, 1)] == 10.0    # expired by batch 1
    assert rows[(1, 1, 2)] == 11.0    # expired by batch 2
    assert rows[(1, 2, None)] == 12.0 # current
    assert rows[(2, 0, None)] == 20.0 # never touched
    assert rows[(3, 1, None)] == 30.0 # inserted in batch 1


def test_streaming_stateless_filter_pack(spark, tmp_path):
    # Corpus filters are stateless projections, so they lift to
    # Structured Streaming unchanged — the same operator object runs on
    # a readStream frame with no watermark/state plumbing.
    import json as _json

    from kg_etl_spark.operators.filters import gopher_quality_flags

    src = tmp_path / "docs_in"
    src.mkdir()
    rows = [
        {"doc_id": 1, "text": " ".join(["the", "cats", "and", "dogs", "ran"] * 12)},
        {"doc_id": 2, "text": "too short"},
    ]
    (src / "a.json").write_text("\n".join(_json.dumps(r) for r in rows))

    stream = spark.readStream.schema("doc_id long, text string").json(str(src))
    q = (
        gopher_quality_flags(stream)
        .select("doc_id", "n_words", "pass_gopher")
        .writeStream.format("memory")
        .queryName("gopher_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r["doc_id"]: r for r in spark.sql("SELECT * FROM gopher_stream").collect()}
    batch = {
        r["doc_id"]: r
        for r in gopher_quality_flags(
            spark.read.schema("doc_id long, text string").json(str(src))
        ).collect()
    }
    assert got[1]["pass_gopher"] == batch[1]["pass_gopher"] is True
    assert got[2]["pass_gopher"] == batch[2]["pass_gopher"] is False


def test_python_datasource_sqlite_partitioned(spark, tmp_path):
    # Spark 4 Python DataSource API: rowid-range partitions read in
    # executors; results and partitioning both verified.
    import sqlite3

    db = tmp_path / "t.db"
    with sqlite3.connect(db) as conn:
        conn.execute("CREATE TABLE pois (id INTEGER, name TEXT, score REAL)")
        conn.executemany(
            "INSERT INTO pois VALUES (?, ?, ?)",
            [(i, f"poi{i}", i / 4.0) for i in range(100)],
        )

    from kg_etl_spark.sources.pyds_sqlite import SQLiteDataSource

    try:
        spark.dataSource.register(SQLiteDataSource)
    except Exception as e:  # pragma: no cover - double-register in one session
        if "already" not in str(e).lower():
            raise
    df = (
        spark.read.format("sqlite_rows")
        .option("path", str(db))
        .option("table", "pois")
        .option("numPartitions", "5")
        .load()
    )
    assert df.rdd.getNumPartitions() == 5
    rows = sorted((r["id"], r["name"], r["score"]) for r in df.collect())
    assert len(rows) == 100
    assert rows[0] == (0, "poi0", 0.0)
    assert rows[99] == (99, "poi99", 24.75)
    assert dict(df.dtypes) == {"id": "bigint", "name": "string", "score": "double"}


def test_synthdocs_datasource_deterministic(spark):
    from kg_etl_spark.sources.synthdocs import SynthDocsDataSource, synth_doc

    try:
        spark.dataSource.register(SynthDocsDataSource)
    except Exception as e:
        if "already" not in str(e).lower():
            raise
    df = (
        spark.read.format("synthdocs")
        .option("rows", "1000")
        .option("numPartitions", "7")
        .load()
    )
    assert df.count() == 1000
    assert df.rdd.getNumPartitions() == 7
    # content is a pure function of doc_id — cross-check one row
    row = df.filter("doc_id = 123").collect()[0]
    assert tuple(row) == synth_doc(123)
    # different partitioning, identical rows
    df2 = (
        spark.read.format("synthdocs")
        .option("rows", "1000")
        .option("numPartitions", "3")
        .load()
    )
    assert sorted(map(tuple, df.collect())) == sorted(map(tuple, df2.collect()))


def test_streaming_incremental_dedup_foreachbatch(spark, tmp_path):
    # foreachBatch + the incremental fingerprint store = streaming
    # exact dedup with replay-safe first-seen-wins semantics.
    import json as _json

    from pyspark.sql import functions as F

    from kg_etl_spark.operators.incremental import incremental_exact_dedup

    src = tmp_path / "docs_stream"
    src.mkdir()
    (src / "a.json").write_text(
        "\n".join(
            _json.dumps(r)
            for r in [
                {"doc_id": 1, "text": "alpha beta"},
                {"doc_id": 2, "text": "gamma delta"},
                {"doc_id": 3, "text": "alpha  beta"},  # in-batch dup of 1
            ]
        )
    )
    (src / "b.json").write_text(
        "\n".join(
            _json.dumps(r)
            for r in [
                {"doc_id": 10, "text": "ALPHA beta"},  # dup of batch-a keeper
                {"doc_id": 11, "text": "epsilon zeta"},  # fresh
            ]
        )
    )
    store = str(tmp_path / "fp_store")
    sink = str(tmp_path / "kept")
    spark.createDataFrame([], "fp string").write.mode("overwrite").parquet(store)

    def on_batch(batch_df, batch_id):
        seen = batch_df.sparkSession.read.parquet(store)
        fresh, new_fps = incremental_exact_dedup(batch_df, seen)
        fresh.write.mode("append").parquet(sink)
        new_fps.write.mode("append").parquet(store)

    q = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)  # force per-file micro-batches
        .json(str(src))
        .writeStream.foreachBatch(on_batch)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    kept = sorted(r["doc_id"] for r in spark.read.parquet(sink).collect())
    # one keeper per distinct normalized text, first batch wins
    assert kept == [1, 2, 11]
    assert spark.read.parquet(store).distinct().count() == 3


def test_streaming_incremental_minhash_foreachbatch(spark, tmp_path):
    # foreachBatch + the persistent LSH index = streaming NEAR-dup
    # detection: each micro-batch is banded once, probed against the
    # stored band table, then appended to it — the stored corpus is
    # never re-shingled (operators/dedup.py minhash_lsh_pairs_incremental).
    import json as _json

    from kg_etl_spark.operators.dedup import (
        LSH_FAMILY,
        minhash_index,
        minhash_lsh_pairs,
        minhash_lsh_pairs_incremental,
    )

    base = " ".join(f"tok{i}" for i in range(30))
    near = base.replace("tok29", "tokX")
    other = " ".join(f"misc{i}" for i in range(30))
    rows_a = [
        {"doc_id": 1, "text": base},
        {"doc_id": 2, "text": other},
        {"doc_id": 3, "text": near},  # in-batch near-dup of 1
    ]
    rows_b = [
        {"doc_id": 10, "text": base.replace("tok28", "tokY")},  # near-dup of 1 & 3
        {"doc_id": 11, "text": " ".join(f"fresh{i}" for i in range(30))},
    ]
    src = tmp_path / "nd_stream"
    src.mkdir()
    (src / "a.json").write_text("\n".join(_json.dumps(r) for r in rows_a))
    (src / "b.json").write_text("\n".join(_json.dumps(r) for r in rows_b))

    banded_store = str(tmp_path / "nd_banded")
    shingle_store = str(tmp_path / "nd_shingles")
    sink = str(tmp_path / "nd_pairs")
    spark.createDataFrame([], "_id long, band int, bh long").write.parquet(banded_store)
    spark.createDataFrame([], "_id long, _shh array<bigint>").write.parquet(shingle_store)

    def on_batch(batch_df, batch_id):
        s = batch_df.sparkSession
        index = {
            "banded": s.read.parquet(banded_store),
            "shingles": s.read.parquet(shingle_store),
            "family": LSH_FAMILY,
        }
        pairs = minhash_lsh_pairs_incremental(batch_df, index, "doc_id", threshold=0.5)
        pairs.write.mode("append").parquet(sink)
        fresh = minhash_index(batch_df, "doc_id")
        fresh["banded"].write.mode("append").parquet(banded_store)
        fresh["shingles"].write.mode("append").parquet(shingle_store)

    q = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
        .writeStream.foreachBatch(on_batch)
        .option("checkpointLocation", str(tmp_path / "nd_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {
        (r["a_id"], r["b_id"]) for r in spark.read.parquet(sink).collect()
    }
    # union of per-batch incremental outputs == full-corpus pairs
    # (every pair is reported exactly when its LATER member arrives)
    all_rows = rows_a + rows_b
    full_df = spark.createDataFrame([(r["doc_id"], r["text"]) for r in all_rows],
                                    "doc_id long, text string")
    want = {
        (r["a_id"], r["b_id"])
        for r in minhash_lsh_pairs(full_df, "doc_id", threshold=0.5).collect()
    }
    assert got == want
    assert (1, 3) in got and (1, 10) in got and (3, 10) in got

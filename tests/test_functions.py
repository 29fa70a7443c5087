"""Unit tests for the scalar kernels (geo/text/ids/stats)."""

from __future__ import annotations

import difflib
import math

from pyspark.sql import functions as F

from kg_etl_spark.functions.geo import equirect_m, haversine_m, in_bbox, point_in_polygon
from kg_etl_spark.functions.ids import canonical_id_str, prefixed_id, sha1_id
from kg_etl_spark.functions.stats import bucket, group_zscore
from kg_etl_spark.functions.text import (
    content_tokens,
    fuzzy_ratio_udf,
    jaccard,
    normalize_name,
    slugify,
    sorted_token_substring,
    tokens,
    word_shingles,
)
from kg_etl_spark.operators.textquality import ws_tokens


def test_haversine_known_distance(spark):
    # Paris → London ≈ 343-344 km
    df = spark.range(1).select(
        haversine_m(F.lit(48.8566), F.lit(2.3522), F.lit(51.5074), F.lit(-0.1278)).alias("m")
    )
    m = df.collect()[0]["m"]
    assert 342_000 < m < 345_000


def test_equirect_close_to_haversine_short_range(spark):
    df = spark.range(1).select(
        haversine_m(F.lit(50.0), F.lit(8.0), F.lit(50.001), F.lit(8.001)).alias("h"),
        equirect_m(F.lit(50.0), F.lit(8.0), F.lit(50.001), F.lit(8.001)).alias("e"),
    )
    r = df.collect()[0]
    assert abs(r["h"] - r["e"]) < 0.5  # sub-meter agreement under 2 km


def test_bbox_buffer(spark):
    df = spark.createDataFrame([(50.0, 8.0)], "lat double, lon double")
    inside = df.select(
        in_bbox(F.col("lat"), F.col("lon"), F.lit(50.005), F.lit(8.0), F.lit(50.01), F.lit(8.01),
                buffer_km=1.0).alias("x")
    ).collect()[0]["x"]
    assert inside  # 50.005 south edge buffered ~0.009° past 50.0


def test_point_in_polygon(spark):
    square = [(0.0, 0.0), (0.0, 10.0), (10.0, 10.0), (10.0, 0.0)]
    df = spark.createDataFrame(
        [(5.0, 5.0, True), (15.0, 5.0, False), (None, 5.0, False)],
        "lat double, lon double, expect boolean",
    )
    poly = F.array(*[F.struct(F.lit(a).alias("lat"), F.lit(b).alias("lon")) for a, b in square])
    rows = df.select(
        point_in_polygon(F.col("lat"), F.col("lon"), poly).alias("got"), "expect"
    ).collect()
    assert all(r["got"] == r["expect"] for r in rows)


def test_text_kernels(spark):
    df = spark.createDataFrame([("Große Str. Café!!",)], "s string")
    r = df.select(
        normalize_name(F.col("s")).alias("n"), slugify(F.col("s")).alias("slug")
    ).collect()[0]
    assert "strasse" in r["n"] and " " in r["n"]
    assert r["slug"] == "groe-str-caf"  # non-ascii stripped, spaces dashed


def test_tokens_stemming(spark):
    # F4: ≥3-char tokens, light plural stemming — ies→y, Xes→X, Xs→X.
    df = spark.createDataFrame([("Berries boxes towers of it",)], "s string")
    r = df.select(tokens(F.col("s")).alias("t")).collect()[0]
    assert r["t"] == ["berry", "box", "tower"]  # 'of'/'it' dropped (<3 chars)


def test_content_tokens_stopwords(spark):
    # F5: stopwords removed after stemming; dedup preserves content set.
    df = spark.createDataFrame([("The Towers and the tower",)], "s string")
    r = df.select(content_tokens(F.col("s")).alias("t")).collect()[0]
    assert r["t"] == ["tower"]


def test_jaccard_and_substring(spark):
    df = spark.createDataFrame([("red widget deluxe", "red widget")], "a string, b string")
    r = df.select(
        jaccard(ws_tokens(F.col("a")), ws_tokens(F.col("b"))).alias("j"),
        sorted_token_substring(ws_tokens(F.col("a")), ws_tokens(F.col("b"))).alias("sub"),
    ).collect()[0]
    assert abs(r["j"] - 2 / 3) < 1e-12


def test_fuzzy_ratio_is_difflib_ratio(spark):
    # X1 scorer: difflib SequenceMatcher.ratio in every environment; a
    # NULL side scores 0.0 instead of raising.
    pairs = [(1, "Old Tower Cafe", "Old Tower Café"), (2, "red widget", "widget red"), (3, "Alpha", None)]
    df = spark.createDataFrame(pairs, "k int, a string, b string")
    got = {
        r["k"]: r["sim"]
        for r in df.select("k", fuzzy_ratio_udf()(F.col("a"), F.col("b")).alias("sim")).collect()
    }
    want = {k: difflib.SequenceMatcher(None, a, b).ratio() if b is not None else 0.0 for k, a, b in pairs}
    assert got == want
    assert got[3] == 0.0 and 0.0 < got[2] < got[1] < 1.0


def test_word_shingles(spark):
    df = spark.createDataFrame([("a b c d",), ("a b",)], "s string")
    rows = df.select(word_shingles(ws_tokens(F.col("s")), 3).alias("sh")).collect()
    assert sorted(rows[0]["sh"]) == ["a b c", "b c d"]
    assert rows[1]["sh"] == []


def test_ids(spark):
    df = spark.createDataFrame([("42.0", "biz1")], "raw string, bid string")
    r = df.select(
        canonical_id_str(F.col("raw")).alias("cid"),
        prefixed_id("yelp", F.col("bid")).alias("pid"),
        sha1_id(F.col("bid"), F.lit("x" * 600), text_trunc=512).alias("h1"),
        sha1_id(F.col("bid"), F.lit("x" * 512), text_trunc=512).alias("h2"),
    ).collect()[0]
    assert r["cid"] == "42"
    assert r["pid"] == "yelp:biz1"
    assert r["h1"] == r["h2"]  # truncation applied before hashing


def test_group_zscore_sigma_zero(spark):
    df = spark.createDataFrame(
        [("a", 1.0), ("a", 1.0), ("b", 1.0), ("b", 3.0)], "g string, v double"
    )
    rows = group_zscore(df, "g", "v").select("g", "v", "z").collect()
    za = [r["z"] for r in rows if r["g"] == "a"]
    zb = sorted(r["z"] for r in rows if r["g"] == "b")
    assert za == [0.0, 0.0]  # σ=0 → z=0
    assert abs(zb[0] + math.sqrt(0.5)) < 1e-9 and abs(zb[1] - math.sqrt(0.5)) < 1e-9


def test_bucket(spark):
    df = spark.createDataFrame([(1.5,), (0.2,), (-0.1,)], "z double")
    got = [r["t"] for r in df.select(bucket(F.col("z")).alias("t")).collect()]
    assert got == ["high", "medium", "low"]


def test_title_candidates(spark):
    from kg_etl_spark.functions.text import title_candidates

    df = spark.createDataFrame(
        [("Paris/1st arrondissement",), ("Porto (Portugal)",), ("Rome/Trevi",), ("Tuscany region",)],
        "t string",
    )
    got = [r["c"] for r in df.select(title_candidates(F.col("t")).alias("c")).collect()]
    assert got[0] == ["paris/1st arrondissement", "paris"]
    assert got[1] == ["porto (portugal)", "porto"]
    assert got[2] == ["rome/trevi", "rome"]
    assert got[3] == ["tuscany region", "tuscany"]


def test_coerce_kernels(spark):
    from kg_etl_spark.functions.coerce import coerce_double, empty_to_null, parse_bool, parse_price

    df = spark.createDataFrame(
        [("$1,234.50 /n", "TRUE", "12.5", "  "), ("oops", "no", "abc", "x")],
        "p string, b string, d string, e string",
    )
    rows = df.select(
        parse_price(F.col("p")).alias("p"),
        parse_bool(F.col("b")).alias("b"),
        coerce_double(F.col("d")).alias("d"),
        empty_to_null(F.col("e")).alias("e"),
    ).collect()
    assert rows[0]["p"] == 1234.5 and rows[0]["b"] is True and rows[0]["d"] == 12.5 and rows[0]["e"] is None
    assert rows[1]["p"] is None and rows[1]["b"] is False and rows[1]["d"] is None and rows[1]["e"] == "x"


def test_geohash_known_vectors(spark):
    from kg_etl_spark.functions.geo import geohash
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(57.64911, 10.40744), (0.0, 0.0), (-25.382708, -49.265506), (90.0, 180.0)],
        "lat double, lon double",
    )
    got = [r["gh"] for r in df.select(geohash(F.col("lat"), F.col("lon"), 6).alias("gh")).collect()]
    # canonical vectors (geohash.org); the poles/antimeridian edge clamps
    # into the top cell
    assert got[0] == "u4pruy"
    assert got[1] == "s00000"
    assert got[2] == "6gkzwg"
    assert got[3] == "zzzzzz"


def test_monge_elkan_kernel_semantics(spark):
    from pyspark.sql import functions as F

    from kg_etl_spark.functions.text import monge_elkan

    df = spark.createDataFrame(
        [
            (1, ["acme", "labs"], ["acme", "labs"]),          # identical -> 1.0
            (2, ["acme", "labs"], ["acme", "lab"]),           # near miss
            (3, ["acme", "labs"], ["zzz", "qqq"]),            # unrelated
            (4, ["acme", "labs", "inc"], ["labs", "acme"]),   # order-free
        ],
        "id long, a array<string>, b array<string>",
    )
    got = {r["id"]: r["s"] for r in df.select("id", F.round(monge_elkan("a", "b"), 6).alias("s")).collect()}
    assert got[1] == 1.0
    # "labs" vs "lab": lev 1, maxlen 4 -> 0.75; directed means (1+0.75)/2 both ways
    assert got[2] == 0.875
    assert got[3] < 0.4
    # order-free on the shared tokens; the unmatched "inc" (lev 4 to
    # both B tokens -> term 0) dilutes A->B to 2/3, sym (2/3 + 1)/2
    assert got[4] == 0.833333

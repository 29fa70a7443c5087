"""End-to-end KG pipeline integration test (SURVEY §3 lifecycle):
stage → ER → reviews → NEAR → analytics → contract exports, on a
hand-built fixture with known clusters, then re-read every export and
check the contracts hold."""

from __future__ import annotations

import csv
import json
import os

import pytest

from kg_etl_spark.pipelines import run_kg_pipeline
from kg_etl_spark.schemas import CITIES
from kg_etl_spark.sinks import write_contract_csv


def _cities(spark):
    rows = [
        (
            "alpha", "Alpha City", "XX", ["alphatown"],
            50.0, 8.0, 10.0,
            49.9, 7.9, 50.1, 8.1,
            [(49.95, 7.95), (49.95, 8.05), (50.05, 8.05), (50.05, 7.95)],
        ),
        (
            "beta", "Beta City", "XX", [],
            52.0, 9.0, 10.0,
            51.9, 8.9, 52.1, 9.1,
            None,
        ),
    ]
    return spark.createDataFrame(rows, CITIES)


def _places(spark):
    # alpha: p1/p2 duplicates (~44 m, same tokens), p3 distinct near them
    # beta: p4 lone place; p5 unassignable (far from both cities)
    rows = [
        ("p1", "yelp", "central cafe", 50.0000, 8.0000, None),
        ("p2", "wikivoyage", "cafe central", 50.0004, 8.0000, None),
        ("p3", "yelp", "city museum", 50.0004, 8.0002, None),
        ("p4", "reddit", "beta gardens", 52.0, 9.0, None),
        ("p5", "yelp", "nowhere bar", 10.0, 10.0, None),
    ]
    return spark.createDataFrame(
        rows, "place_id string, source string, name string, lat double, lon double, city_hint string"
    )


def _reviews(spark):
    rows = [
        ("yelp", "p1", 5.0, "great coffee and cake", "2024-01-01"),
        ("yelp", "p1", 4.0, "nice place", "2024-01-02"),
        ("wikivoyage", "p2", None, "historic cafe in the center", "2024-01-03"),
        ("yelp", "p3", 3.0, "", "2024-01-04"),          # empty text → dropped
        ("reddit", "p4", 4.0, "lovely park", "2024-01-05"),
        ("yelp", "p9", 1.0, "orphan review", "2024-01-06"),  # unknown place → dropped
    ]
    return spark.createDataFrame(
        rows, "source string, place_id string, rating double, text string, scraped_at string"
    )


def _listings(spark):
    rows = [
        ("l1", 50.0001, 8.0001, "$1,250.00 night", "h1", "Ana", "t"),   # ~13 m from p1 → NEAR p1
        ("l2", 50.03, 8.03, "80", "h2", "Bo", "FALSE"),                 # >300 m → no NEAR
        ("l3", 50.031, 8.031, "no price", "h2", "Bo", ""),              # same host, null bool
    ]
    return spark.createDataFrame(
        rows,
        "listing_id string, lat double, lon double, price string, "
        "host_id string, host_name string, host_is_superhost string",
    )


def _build(spark, out_dir):
    return run_kg_pipeline(
        spark,
        _places(spark),
        _cities(spark),
        reviews_raw=_reviews(spark),
        listings=_listings(spark),
        out_dir=out_dir,
    )


def test_pipeline_end_to_end(spark, tmp_path):
    out_dir = str(tmp_path / "exports")
    res = _build(spark, out_dir)

    # staging dropped the unassignable place
    staged_ids = {r["place_id"] for r in res["staged_places"].collect()}
    assert staged_ids == {"p1", "p2", "p3", "p4"}

    # ER: p1+p2 one cluster, p3/p4 singletons
    asg = {r["place_id"]: r["place_canonical_id"] for r in res["places"].collect()}
    assert asg["p1"] == asg["p2"] and asg["p3"] != asg["p1"] and asg["p4"] != asg["p1"]

    # reviews: orphan + empty-text dropped; lifting maps p2's review to
    # the p1/p2 canonical id
    lifted = res["lifted_reviews"].collect()
    assert len(lifted) == 4
    by_place = {r["place_id"]: r["canonical_id"] for r in lifted}
    assert by_place["p2"] == asg["p1"]

    # NEAR: l1→p1 only
    near = {(r["listing_id"], r["place_id"]) for r in res["listing_near_place"].collect()}
    assert near == {("l1", "p1")}

    # listing staging: price parse, superhost parse, hosts distinct
    lst = {r["listing_id"]: r for r in res["staged_listings"].collect()}
    assert lst["l1"]["price"] == 1250.0 and lst["l2"]["price"] == 80.0
    assert lst["l3"]["price"] is None
    assert lst["l1"]["host_is_superhost"] is True
    assert lst["l2"]["host_is_superhost"] is False
    assert lst["l3"]["host_is_superhost"] is None
    hosts = {r["host_id"] for r in res["hosts"].collect()}
    assert hosts == {"h1", "h2"}
    lc = {r["listing_id"]: r["city_slug"] for r in res["listing_city"].collect()}
    assert lc == {"l1": "alpha", "l2": "alpha", "l3": "alpha"}

    # analytics: canonical table has coords, counts, z, flag
    canon = {r["canonical_id"]: r for r in res["canonical_places"].collect()}
    cluster = canon[asg["p1"]]
    assert cluster["reviews_count"] == 3 and cluster["listings_nearby"] == 1
    assert cluster["flag"] in ("high", "medium", "low")
    # canonical coords: yelp priority → p1's exact coords (not the avg)
    assert abs(cluster["canonical_lat"] - 50.0) < 1e-6

    # -- contract files ------------------------------------------------
    with open(os.path.join(out_dir, "places.csv")) as f:
        rows = list(csv.DictReader(f))
    assert len(rows) == 4
    assert list(rows[0].keys()) == [
        "place_id", "source", "name", "lat", "lon", "city_slug", "place_canonical_id",
    ]
    # deterministic order: (city_slug, place_id)
    assert [r["place_id"] for r in rows] == ["p1", "p2", "p3", "p4"]

    # place_links.csv carries the reference's 7-column link contract
    # (etl/er.py links_all / schemas.PLACE_LINKS)
    with open(os.path.join(out_dir, "place_links.csv")) as f:
        lrows = list(csv.DictReader(f))
    assert list(lrows[0].keys()) == [
        "a", "b", "src_a", "src_b", "name_sim", "meters", "city_slug",
    ]
    assert {(r["a"], r["b"]) for r in lrows} == {("p1", "p2")}
    assert lrows[0]["src_a"] == "yelp" and lrows[0]["src_b"] == "wikivoyage"
    assert lrows[0]["city_slug"] == "alpha"

    with open(os.path.join(out_dir, "place_canonical_map.csv")) as f:
        cmap = list(csv.DictReader(f))
    assert {r["source_place_id"] for r in cmap} == {"p1", "p2", "p3", "p4"}

    # nested POI cards parse as JSON and contain quotes for the cluster
    card_dir = os.path.join(out_dir, "poi_cards.json")
    cards = []
    for name in os.listdir(card_dir):
        if name.startswith("part-"):
            with open(os.path.join(card_dir, name)) as f:
                cards += [json.loads(line) for line in f if line.strip()]
    parsed = {c["canonical_id"]: json.loads(c["card"]) for c in cards}
    assert parsed[asg["p1"]]["name"] in ("central cafe", "cafe central")
    assert len(parsed[asg["p1"]]["quotes"]) == 3


def _cached_rdd_ids(spark) -> set[int]:
    """Ids of persisted RDDs that are DataFrame caches; local checkpoints
    (lineage cuts, released when their frames are collected) are left
    out."""
    return {
        int(k)
        for k, v in spark.sparkContext._jsc.getPersistentRDDs().items()
        if not v.rdd().isLocallyCheckpointed()
    }


def test_pipeline_releases_its_caches(spark, tmp_path):
    # Two builds into the same directory, as a long-lived session
    # rebuilds: neither may leave a DataFrame cache behind.
    before = _cached_rdd_ids(spark)
    for build in (1, 2):
        res = _build(spark, str(tmp_path / "exports"))
        assert [k for k, df in res.items() if df.is_cached] == []
        assert not _cached_rdd_ids(spark) - before, f"build {build}"
        for df in res.values():
            df.collect()

    # An export that fails (its directory is a regular file) propagates,
    # and the frames persisted for the exports are released anyway.
    blocker = tmp_path / "not_a_dir"
    blocker.write_text("")
    with pytest.raises(Exception):
        _build(spark, str(blocker))
    assert not _cached_rdd_ids(spark) - before


def test_pipeline_job_budget(spark, tmp_path):
    # Spark jobs of one fixture build with exports, counted under a job
    # group (the export threads inherit it). Measured on a 4-vCPU host:
    # 80-81 jobs when each shared frame was recomputed per export and the
    # exports ran one after another with a global sort each; 60-62 with
    # shared frames persisted once and single-partition export sorts.
    # AQE can move the count by a job or two; the ceiling is the highest
    # count measured, so a change that adds serial rounds fails here.
    sc = spark.sparkContext
    group = "test_pipeline_job_budget"
    sc.setJobGroup(group, "fixture KG build")
    try:
        _build(spark, str(tmp_path / "exports"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert 0 < jobs <= 62, jobs


def test_contract_csv_empty_with_header(spark, tmp_path):
    df = spark.createDataFrame([], "a string, b double")
    path = str(tmp_path / "empty.csv")
    write_contract_csv(df, path)
    with open(path) as f:
        assert f.read().strip() == "a,b"


def test_span_corruption_plan_nonoverlapping_and_budgeted(spark):
    from kg_etl_spark.queries.pipeline import _SPAN_LEN, q_span_corruption_plan

    SF = "/root/testdata/sf0.001"
    rows = q_span_corruption_plan(spark, SF).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert by_doc, "no spans planned"
    for doc, spans in by_doc.items():
        spans.sort(key=lambda r: r["span_id"])
        n = spans[0]["n_tokens"]
        assert len(spans) == spans[0]["n_spans"]
        prev_end = -1
        for r in spans:
            assert 0 <= r["start"] and r["start"] + r["span_len"] <= n
            assert 1 <= r["span_len"] <= _SPAN_LEN
            assert r["start"] > prev_end, (doc, r)  # non-overlapping
            prev_end = r["start"] + r["span_len"] - 1
        # corruption budget: ~15% of tokens, never more than 2x over
        masked = sum(r["span_len"] for r in spans)
        assert masked <= max(_SPAN_LEN, 0.30 * n)

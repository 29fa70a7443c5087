"""End-to-end KG pipeline (SURVEY §3 lifecycle, Spark-first).

The reference runs this as four sequential processes with CSV/Parquet
file handoffs (`scripts/run_all.py`, `scripts/run_airbnb.py`, then the
01-99 Cypher sequence). Here the whole thing is ONE DataFrame DAG per
stage; the file handoffs remain only as *export contracts*, not as the
IR between stages — Catalyst sees each stage end-to-end.

Stages (reference mapping):
  1. stage     — coerce + city-assignment cascade + guard
                 (`etl/staging.py:22-83`, `etl/utils.py:163-207`)
  2. er        — blocked candidate pairs → accept rule → components →
                 canonical representative (`etl/er.py:152-248`)
  3. reviews   — semi-join valid places, surrogate ids, lift to
                 canonical (`etl/reviews_jsonl.py`, cypher 13)
  4. near      — listing → nearest place ≤ threshold
                 (`scripts/run_airbnb.py:33-71`, cypher 08/10)
  5. analytics — canonical coords, listings_nearby (A16), review
                 counts, per-city z-scores + blend + bucket, POI cards
                 (cypher 11/12/13b/20)

Shared outputs are materialized once. The pipeline persists each frame
that feeds more than one export or aggregate: the staged places, the
ER assignments (`variant_of`), the lifted reviews, the staged listings,
the NEAR edges and the scored canonical table. The canonical table is
one aggregation over the resolved places (each canonical id has one
name and one city, since ER is partitioned by city). The exports are
then submitted together from a thread pool on the same session, so
their small jobs overlap instead of running one after another; the
pipeline waits for every export, re-raises the first error, and
releases every frame it persisted before it returns, whether or not
the exports succeeded. The returned frames are therefore lazy and
recompute when the caller runs them.

At 100 TB: every stage shuffles at most once on its natural key
(place_id / canonical_id / city_slug+grid-bin); the cities table is
broadcast; exports that must be single-file are export-sized by
construction (canonical places, links) and sorted inside one partition,
which is right for export-sized outputs only, while row-scale outputs
(reviews) go to partitioned Parquet/JSONL.
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager
from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.util import inheritable_thread_target

from kg_etl_spark.functions.coerce import parse_bool, parse_price
from kg_etl_spark.functions.ids import sha1_id
from kg_etl_spark.operators.cityassign import assign_city, geometry_guard
from kg_etl_spark.operators.er import resolve_entities
from kg_etl_spark.operators.graph import (
    lift_reviews,
    listings_nearby_counts,
    poi_cards,
    popularity_scores,
    priority_coalesced_coords,
)
from kg_etl_spark.operators.nearest import nearest_within
from kg_etl_spark.sinks import write_contract_csv, write_jsonl, write_nested_json


@contextmanager
def _scoped_persist():
    """Yields ``shared(df)``, which persists a frame several exports or
    aggregates consume; every frame it persisted is released on exit."""
    persisted: list[DataFrame] = []

    def shared(df: DataFrame) -> DataFrame:
        persisted.append(df.persist())
        return df

    try:
        yield shared
    finally:
        for df in persisted:
            df.unpersist()


def run_kg_pipeline(
    spark: SparkSession,
    places_raw: DataFrame,
    cities: DataFrame,
    reviews_raw: DataFrame | None = None,
    listings: DataFrame | None = None,
    out_dir: str | None = None,
    near_threshold_m: float = 300.0,
    max_city_km: float = 80.0,
) -> dict[str, DataFrame]:
    """Run the full pipeline; returns every intermediate as a DataFrame.

    places_raw: place_id, source, name, lat, lon[, city_hint, address, type]
    cities:     slug, name, aliases, center_lat, center_lon, radius_km,
                bbox_south/west/north/east, polygon (array<struct<lat,lon>>)
    reviews_raw: source, place_id, rating, text, scraped_at[, review_id]
    listings:   listing_id, lat, lon[, ...props]

    When out_dir is set, the reference's export contracts are written:
    places.csv, place_links.csv, place_canonical_map.csv,
    listing_near_place.csv, listing_city.csv, hosts.csv,
    place_reviews.jsonl, poi_cards.json. Frames persisted for the
    exports are released before this returns, also when an export fails.
    """
    out: dict[str, DataFrame] = {}
    with _scoped_persist() as shared:
        # -- 1. stage: coerce, assign, guard ------------------------------
        hint = "city_hint" if "city_hint" in places_raw.columns else None
        staged = (
            places_raw.withColumn("lat", F.col("lat").cast("double"))
            .withColumn("lon", F.col("lon").cast("double"))
            .filter(F.col("name").isNotNull())
        )
        staged = assign_city(staged, cities, hint_col=hint, max_km=max_city_km)
        if hint:
            staged = geometry_guard(staged.withColumnRenamed(hint, "_hint"), "_hint").drop("_hint")
        staged = shared(staged.filter(F.col("city_slug").isNotNull()))
        out["staged_places"] = staged

        # -- 2. entity resolution per city --------------------------------
        links, assignments = resolve_entities(
            staged,
            id_col="place_id",
            name_col="name",
            partition_col="city_slug",
            # carried through the pair join so place_links.csv can emit the
            # reference's 7-column contract (schemas.PLACE_LINKS).
            carry_cols=("source", "city_slug"),
        )
        variant_of = shared(
            assignments.select(
                F.col("id").alias("source_place_id"), "canonical_id", "canonical_name"
            )
        )
        places_out = staged.join(
            variant_of.withColumnRenamed("source_place_id", "place_id").withColumnRenamed(
                "canonical_id", "place_canonical_id"
            ),
            "place_id",
        )
        out["links"] = links
        out["places"] = places_out

        # -- 3. reviews: semi-join valid places, ids, lift ----------------
        lifted = None
        if reviews_raw is not None:
            # No broadcast hint: staged places are export-scale here but
            # unbounded in general, and a forced hint overrides Catalyst even
            # when the side is huge. AQE picks broadcast when it is small.
            valid = staged.select("place_id", "city_slug")
            revs = reviews_raw.join(valid, "place_id", "inner")
            if "review_id" not in revs.columns:
                revs = revs.withColumn(
                    "review_id",
                    sha1_id(F.col("source"), F.col("place_id"), F.col("text"), text_trunc=512),
                )
            revs = revs.filter(F.col("text").isNotNull() & (F.trim("text") != ""))
            lifted = shared(lift_reviews(revs, variant_of))
            out["reviews"] = revs
            out["lifted_reviews"] = lifted

        # -- 4. listings: stage (messy-field coercion F15/F24), city attach,
        #       hosts distinct, NEAR join -----------------------------------
        near = None
        hosts = None
        listing_city = None
        if listings is not None:
            lst = (
                listings.withColumn("lat", F.col("lat").cast("double"))
                .withColumn("lon", F.col("lon").cast("double"))
                .na.drop(subset=["lat", "lon"])
            )
            if "price" in lst.columns:
                lst = lst.withColumn("price", parse_price(F.col("price")))
            if "host_is_superhost" in lst.columns:
                lst = lst.withColumn("host_is_superhost", parse_bool(F.col("host_is_superhost")))
            lst = shared(
                assign_city(lst, cities, id_col="listing_id", hint_col=None, max_km=max_city_km)
            )
            listing_city = lst.filter(F.col("city_slug").isNotNull()).select(
                "listing_id", "city_slug"
            )
            if "host_id" in lst.columns:
                host_cols = [
                    c for c in ("host_id", "host_name", "host_is_superhost") if c in lst.columns
                ]
                hosts = lst.select(*host_cols).dropDuplicates(["host_id"])
                out["hosts"] = hosts
            out["staged_listings"] = lst
            out["listing_city"] = listing_city
            near = shared(
                nearest_within(
                    lst,
                    staged.select("place_id", "lat", "lon"),
                    left_id="listing_id",
                    right_id="place_id",
                    threshold_m=near_threshold_m,
                )
            )
            out["listing_near_place"] = near

        # -- 5. graph analytics -------------------------------------------
        # One aggregation over the resolved places: canonical_name and
        # city_slug are functions of the canonical id (ER pairs never cross
        # a city), so they ride in the grouping key.
        canon = priority_coalesced_coords(
            places_out,
            canonical_col="place_canonical_id",
            carry_cols=("city_slug", "canonical_name"),
        ).withColumnRenamed("place_canonical_id", "canonical_id")
        nearby = (
            listings_nearby_counts(near, variant_of)
            if near is not None
            else spark.createDataFrame([], "canonical_id string, listings_nearby long")
        )
        rc = (
            lifted.groupBy("canonical_id").agg(F.count(F.lit(1)).alias("reviews_count"))
            if lifted is not None
            else spark.createDataFrame([], "canonical_id string, reviews_count long")
        )
        canon = (
            canon.join(nearby, "canonical_id", "left")
            .join(rc, "canonical_id", "left")
            .na.fill({"listings_nearby": 0, "reviews_count": 0})
        )
        canon = shared(popularity_scores(canon))
        out["canonical_places"] = canon

        if lifted is not None:
            cards = poi_cards(canon, lifted.select("canonical_id", "review_id", "source", "text"))
            out["poi_cards"] = cards

        # -- exports: all submitted at once, each from shared outputs ---
        if out_dir:
            exports = [
                partial(
                    write_contract_csv,
                    places_out.select(
                        "place_id", "source", "name", "lat", "lon", "city_slug",
                        "place_canonical_id",
                    ),
                    os.path.join(out_dir, "places.csv"),
                    order_by=["city_slug", "place_id"],
                ),
                partial(
                    write_contract_csv,
                    links.select(
                        F.col("a_id").alias("a"),
                        F.col("b_id").alias("b"),
                        F.col("a_source").alias("src_a"),
                        F.col("b_source").alias("src_b"),
                        F.col("name_jac").alias("name_sim"),
                        F.round("meters", 2).alias("meters"),
                        F.col("a_city_slug").alias("city_slug"),
                    ),
                    os.path.join(out_dir, "place_links.csv"),
                    order_by=["a", "b"],
                ),
                partial(
                    write_contract_csv,
                    places_out.select(
                        F.col("place_id").alias("source_place_id"),
                        F.col("place_canonical_id").alias("canonical_id"),
                        "canonical_name",
                        "city_slug",
                    ),
                    os.path.join(out_dir, "place_canonical_map.csv"),
                    order_by=["city_slug", "source_place_id"],
                ),
            ]
            if near is not None:
                exports.append(partial(
                    write_contract_csv,
                    near.select("listing_id", "place_id", F.round("meters", 2).alias("meters")),
                    os.path.join(out_dir, "listing_near_place.csv"),
                    order_by=["listing_id"],
                ))
                exports.append(partial(
                    write_contract_csv,
                    listing_city,
                    os.path.join(out_dir, "listing_city.csv"),
                    order_by=["listing_id"],
                ))
                if hosts is not None:
                    exports.append(partial(
                        write_contract_csv, hosts, os.path.join(out_dir, "hosts.csv"),
                        order_by=["host_id"],
                    ))
            if lifted is not None:
                exports.append(partial(
                    write_jsonl,
                    lifted.select(
                        "review_id", "source", "place_id", "canonical_id", "rating", "text",
                        "city_slug",
                    ),
                    os.path.join(out_dir, "place_reviews.jsonl"),
                ))
                exports.append(partial(
                    write_nested_json,
                    cards.select("canonical_id", "card"),
                    os.path.join(out_dir, "poi_cards.json"),
                    order_by=["canonical_id"],
                ))
            _write_concurrently(spark, exports)
    return out


def _write_concurrently(spark: SparkSession, exports: list) -> None:
    """Run every export at once on the shared session, one thread each
    (with the caller's Spark local properties), wait for all of them and
    re-raise the first error in submission order."""
    with ThreadPoolExecutor(max_workers=len(exports)) as pool:
        futures = [pool.submit(inheritable_thread_target(spark)(write)) for write in exports]
    errors = [e for e in (f.exception() for f in futures) if e is not None]
    if errors:
        raise errors[0]

"""Property-graph layer: node/edge DataFrames + the reference's Cypher
analytics as deterministic DataFrame jobs (SURVEY §7.2 step 8).

Graph state = node tables (id + props) and edge tables (src, dst,
props). MERGE-style idempotent upserts become dedup-union with
conditional-coalesce property update; multi-hop traversals are chained
joins; the whole 01–99 cypher sequence collapses into one DAG Catalyst
optimizes jointly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from kg_etl_spark.functions.stats import blend, bucket, group_zscore


def merge_upsert(existing: DataFrame, incoming: DataFrame, key: str) -> DataFrame:
    """Cypher MERGE ≈ upsert: incoming wins per key, but NULL incoming
    props keep the existing value (the null-clobber-avoiding
    FOREACH…CASE pattern of 02_load_cities.cypher:28-37)."""
    cols = [c for c in existing.columns if c != key]
    e = existing.select(key, *[F.col(c).alias(f"_old_{c}") for c in cols])
    i = incoming.select(key, *cols)
    merged = i.join(e, key, "full_outer")
    return merged.select(
        key,
        *[F.coalesce(F.col(c), F.col(f"_old_{c}")).alias(c) for c in cols],
    )


def validate_unique_keys(nodes: DataFrame, key: str) -> None:
    """Uniqueness constraint (01_constraints.cypher) as a fail-fast
    assertion."""
    dup = nodes.groupBy(key).count().filter(F.col("count") > 1).limit(1).count()
    if dup:
        raise ValueError(f"uniqueness constraint violated on {key}")


def multi_hop(
    start: DataFrame, hops: list[tuple[DataFrame, str, str]], how: str = "inner"
) -> DataFrame:
    """Chained edge-table joins: each hop is (edges, src_col, dst_col).
    `Listing-[:NEAR]->SourcePlace-[:VARIANT_OF]->CanonicalPlace` becomes
    two joins (reference 08:46-60, 11:26-29)."""
    out = start
    for edges, src_col, dst_col in hops:
        out = out.join(edges, on=src_col, how=how)
    return out


def priority_coalesced_coords(
    places: DataFrame,
    canonical_col: str = "canonical_id",
    source_col: str = "source",
    priority: tuple[str, ...] = ("yelp", "wikivoyage", "reddit"),
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Canonical coords: per canonical place, avg(lat/lon) from the
    first source (by priority) that has members; falls back to
    any-source avg (11_canonicalize_coords_and_lift_reviews.cypher:1-24).

    carry_cols (e.g. the canonical name and city) join the grouping key,
    so they must be functionally dependent on the canonical id; the
    canonical table then comes out of this one aggregation instead of
    joins back to the member rows."""

    def src_avg(col: str, src: str):
        dec = F.when(F.col(source_col) == src, F.col(col).cast("decimal(18,6)"))
        n = F.count(dec)
        return F.when(n > 0, F.sum(dec).cast("double") / n)

    def any_avg(col: str):
        dec = F.col(col).cast("decimal(18,6)")
        return F.sum(dec).cast("double") / F.count(dec)

    aggs = []
    for col in ("lat", "lon"):
        aggs.append(
            F.coalesce(*[src_avg(col, s) for s in priority], any_avg(col)).alias(f"canonical_{col}")
        )
    return places.groupBy(canonical_col, *carry_cols).agg(*aggs)


def lift_reviews(
    reviews: DataFrame, variant_of: DataFrame, review_place_col: str = "place_id"
) -> DataFrame:
    """Review lifting: SourcePlace-[:VARIANT_OF]->CanonicalPlace ⋈
    HAS_REVIEW (13_compute…:1-5): attach canonical_id to every review."""
    return reviews.join(
        variant_of.select(
            F.col("source_place_id").alias(review_place_col), "canonical_id"
        ),
        review_place_col,
        "inner",
    )


def popularity_scores(
    canon: DataFrame,
    group_col: str = "city_slug",
    listings_col: str = "listings_nearby",
    reviews_col: str = "reviews_count",
) -> DataFrame:
    """Per-city z-scores of listing density and review count, blended
    0.6/0.4 and bucketed (12_mirror…, 13b_compute_popularity_blended)."""
    df = group_zscore(canon, group_col, listings_col, out_col="z_listings")
    df = group_zscore(df, group_col, reviews_col, out_col="z_reviews")
    df = df.withColumn("popularity", blend(F.col("z_listings"), F.col("z_reviews")))
    return df.withColumn("flag", bucket(F.col("popularity")))


def listings_nearby_counts(
    near_edges: DataFrame, variant_of: DataFrame
) -> DataFrame:
    """A16 — the stat the reference reads but never computes: distinct
    NEAR listings per canonical place (near ⋈ variant_of → countDistinct)."""
    return (
        near_edges.join(
            variant_of.select(F.col("source_place_id").alias("place_id"), "canonical_id"),
            "place_id",
        )
        .groupBy("canonical_id")
        .agg(F.countDistinct("listing_id").alias("listings_nearby"))
    )


def poi_cards(
    canon: DataFrame,
    reviews: DataFrame,
    k_quotes: int = 4,
    quote_len: int = 220,
) -> DataFrame:
    """K6 nested-document export: one JSON-able struct per canonical
    place with top-k shortest-first quotes (20_export_poi_cards.cypher)."""
    w = Window.partitionBy("canonical_id").orderBy(
        F.length("text").asc(), F.col("review_id").asc()
    )
    quotes = (
        reviews.filter(F.col("text").isNotNull() & (F.trim(F.col("text")) != ""))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k_quotes)
        .groupBy("canonical_id")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("_rn").alias("rank"),
                        F.col("source").alias("src"),
                        F.substring("text", 1, quote_len).alias("txt"),
                    )
                )
            ).alias("quotes")
        )
    )
    return canon.join(quotes, "canonical_id", "left").withColumn(
        "card",
        F.to_json(
            F.struct(
                F.col("canonical_id").alias("id"),
                F.col("canonical_name").alias("name"),
                F.col("city_slug").alias("city"),
                F.col("popularity").alias("popularity_z"),
                F.col("flag"),
                F.col("quotes"),
            )
        ),
    )

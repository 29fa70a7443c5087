"""City assignment as a join cascade (reference X4:
`etl/utils.py:163-207` — the reference's scalability hotspot, a row-wise
df.apply over an O(cities) Python loop; here one broadcast join).

Priority (reference order, enforced by a rank column):
  1. polygon containment (when the city has a polygon)
  2. bbox containment
  3. within radius_km of center (nearest center wins)
  4. normalized alias match on the city hint — only for coordless rows

Then the strict geometry guard (P7: recomputed slug must match any
pre-existing hint or the row is dropped) and the too-far filter
(P8: > max_km from the assigned center → drop) are plain filters.

cities: the flattened CITIES schema (kg_etl_spark.schemas.CITIES) —
small config data, always broadcast.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from kg_etl_spark.functions.geo import haversine_m, in_bbox, point_in_polygon
from kg_etl_spark.functions.text import normalize_name


def assign_city(
    places: DataFrame,
    cities: DataFrame,
    id_col: str = "place_id",
    lat_col: str = "lat",
    lon_col: str = "lon",
    hint_col: str | None = "city_hint",
    max_km: float = 80.0,
) -> DataFrame:
    """Adds `city_slug` (NULL when unassignable). One broadcast
    cross-join against the small cities table; best (priority, distance)
    candidate per place via a window — no Python in the loop."""
    lat, lon = F.col(lat_col), F.col(lon_col)
    has_coords = lat.isNotNull() & lon.isNotNull()

    # prefix every city column so the cross join can't collide with
    # place columns (both sides naturally carry `name`)
    c = cities.select(*[F.col(col).alias(f"_ct_{col}") for col in cities.columns])
    cand = places.crossJoin(F.broadcast(c))
    dist = haversine_m(lat, lon, F.col("_ct_center_lat"), F.col("_ct_center_lon"))
    poly_hit = has_coords & point_in_polygon(lat, lon, F.col("_ct_polygon"))
    bbox_hit = has_coords & in_bbox(
        lat, lon,
        F.col("_ct_bbox_south"), F.col("_ct_bbox_west"),
        F.col("_ct_bbox_north"), F.col("_ct_bbox_east"),
    )
    radius_hit = has_coords & (dist <= F.col("_ct_radius_km") * 1000.0)
    if hint_col:
        hint_norm = normalize_name(F.col(hint_col))
        alias_hit = (~has_coords) & (
            (hint_norm == normalize_name(F.col("_ct_name")))
            | (hint_norm == normalize_name(F.col("_ct_slug")))
            | F.exists(F.col("_ct_aliases"), lambda a: normalize_name(a) == hint_norm)
        )
    else:
        alias_hit = F.lit(False)

    priority = (
        F.when(poly_hit, 1)
        .when(bbox_hit, 2)
        .when(radius_hit, 3)
        .when(alias_hit, 4)
        .otherwise(F.lit(None))
    )
    scored = cand.withColumn("_prio", priority).withColumn("_dist_m", dist).filter(
        F.col("_prio").isNotNull()
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("_prio").asc(), F.col("_dist_m").asc_nulls_last(), F.col("_ct_slug").asc()
    )
    best = (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .filter((F.col("_dist_m").isNull()) | (F.col("_dist_m") <= max_km * 1000.0))
        .select(F.col(id_col).alias("_aid"), F.col("_ct_slug").alias("city_slug"))
    )
    return places.join(best, places[id_col] == F.col("_aid"), "left").drop("_aid")


def geometry_guard(assigned: DataFrame, hint_slug_col: str) -> DataFrame:
    """P7: drop rows whose recomputed slug contradicts a pre-existing
    one."""
    mismatch = (
        F.col(hint_slug_col).isNotNull()
        & F.col("city_slug").isNotNull()
        & (F.col(hint_slug_col) != F.col("city_slug"))
    )
    return assigned.filter(~mismatch)

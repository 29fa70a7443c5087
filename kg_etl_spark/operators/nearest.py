"""The grid-blocked spatial join and its nearest-neighbor form
(reference J5/J9/W1: `scripts/run_airbnb.py:40-58`, Cypher 08:82-103;
J6: `etl/er.py:164-194`).

The reference loops every left row against ALL right rows per city.
Here: both sides get a grid key, the left side explodes to its 3×3
neighborhood, and one equi-join on the key (one shuffle) meets each
left row with only the right rows near it. `nearest_within` then keeps
rank 1 under a total tie-break (meters, then right id) — deterministic
where np.argmin was order-dependent. `blocking.blocked_pairs` is the
same join of a frame with itself.

The grid is derived from the radius alone. Latitude bands are
`r_deg` = radius (plus 5% slack) tall, so a pair in range sits in the
same or an adjacent band. Each band's longitude bins are as wide as the
radius at the most poleward latitude of the band and its two
neighbors, which holds the pair's mean latitude. Coverage is therefore
exact at every latitude up to the cosine clamp (cos ≥ 0.01, the
reference's F11 clamp, i.e. |lat| ≲ 89.4°): the join returns exactly
the pairs within the radius, each once.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from kg_etl_spark.functions.geo import DEG_KM, equirect_m
from kg_etl_spark.operators.util import spread


def _lon_bin(band: Column, lon: Column, r_deg: float) -> Column:
    """Longitude bin of `lon` in latitude band `band`."""
    poleward = F.least(F.lit(90.0), F.greatest(F.abs(band - 1), F.abs(band + 2)) * r_deg)
    width = F.lit(r_deg) / F.greatest(F.cos(F.radians(poleward)), F.lit(0.01))
    return F.floor(lon / width).cast("long")


def radius_join(
    left: DataFrame,
    right: DataFrame,
    left_id: str,
    right_id: str,
    threshold_m: float,
    lat_col: str = "lat",
    lon_col: str = "lon",
    partition_col: str | None = None,
) -> DataFrame:
    """All (left, right) pairs with equirect distance ≤ threshold, and
    only pairs in the same `partition_col` value when one is given.

    Output: every column of `left`, then of `right`, except the
    coordinates and `partition_col`, then meters. The carried names must
    differ between the sides; select and rename before the join.
    """
    r_deg = threshold_m / 1000.0 / DEG_KM * 1.05
    geo = {lat_col, lon_col, partition_col}
    carry_l = [c for c in left.columns if c not in geo]
    carry_r = [c for c in right.columns if c not in geo]
    jp = ["_jp"] if partition_col else []
    part = [F.col(partition_col).alias("_jp")] if partition_col else []

    # spread the exploded/streamed side: single-split inputs would
    # otherwise run the whole pair-filter pass in one task
    left = spread(left, F.col(left_id))
    band = F.floor(F.col(lat_col) / r_deg).cast("long")
    # the left row's 3×3 neighborhood: its band and the two beside it,
    # then in each of those bands its lon bin and the two beside it
    lft = left.select(
        *carry_l,
        F.col(lat_col).alias("_llat"),
        F.col(lon_col).alias("_llon"),
        *part,
        F.explode(F.array(band - 1, band, band + 1)).alias("_jb_lat"),
    )
    lon_bin = _lon_bin(F.col("_jb_lat"), F.col("_llon"), r_deg)
    lft = lft.select(
        *carry_l,
        "_llat",
        "_llon",
        *jp,
        "_jb_lat",
        F.explode(F.sequence(lon_bin - 1, lon_bin + 1)).alias("_jb_lon"),
    )
    rgt = right.select(
        *carry_r,
        F.col(lat_col).alias("_rlat"),
        F.col(lon_col).alias("_rlon"),
        *part,
        band.alias("_jb_lat"),
        _lon_bin(band, F.col(lon_col), r_deg).alias("_jb_lon"),
    )

    # partition_col is part of the equi-join key: the shuffle hashes on
    # (partition, bin) so a hot bin shared by many partitions spreads
    # across reducers instead of post-join filtering one fat bucket.
    # Each right row has one key and each left row nine distinct ones,
    # so every pair meets at most once: no dedup needed.
    on = jp + ["_jb_lat", "_jb_lon"]
    joined = lft.join(rgt, on, "inner")
    return (
        joined.withColumn(
            "meters", equirect_m(F.col("_llat"), F.col("_llon"), F.col("_rlat"), F.col("_rlon"))
        )
        .filter(F.col("meters") <= threshold_m)
        .select(*carry_l, *carry_r, "meters")
    )


def nearest_within(
    left: DataFrame,
    right: DataFrame,
    left_id: str,
    right_id: str,
    threshold_m: float = 300.0,
    lat_col: str = "lat",
    lon_col: str = "lon",
    partition_col: str | None = None,
) -> DataFrame:
    """For each left row, the single nearest right row ≤ threshold.
    Output: <left_id>, <right_id>, meters."""
    geo = [lat_col, lon_col, *([partition_col] if partition_col else [])]
    pairs = radius_join(
        left.select(left_id, *geo),
        right.select(right_id, *geo),
        left_id,
        right_id,
        threshold_m,
        lat_col,
        lon_col,
        partition_col,
    )
    w = Window.partitionBy(left_id).orderBy(F.col("meters").asc(), F.col(right_id).asc())
    return (
        pairs.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )

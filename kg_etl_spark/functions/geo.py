"""Geospatial kernel — native column expressions (no UDFs in hot paths).

Capability parity with the reference's geo helpers (haversine
`etl/utils.py:62-66`, equirectangular `etl/er.py:146-150`, km→deg buffer
`etl/utils.py:237-246`, bbox containment `etl/utils.py:259-313`,
ray-cast point-in-polygon `etl/utils.py:134-151`), re-expressed as
Catalyst-codegen-able expressions: everything stays JVM-side, including
point-in-polygon (ray casting with higher-order array functions).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

EARTH_RADIUS_M = 6371000.0
DEG_KM = 111.32  # km per degree latitude


def haversine_m(lat1: Column, lon1: Column, lat2: Column, lon2: Column) -> Column:
    """Exact great-circle distance in meters (pure column math)."""
    rlat1, rlat2 = F.radians(lat1), F.radians(lat2)
    dlat = F.radians(lat2 - lat1)
    dlon = F.radians(lon2 - lon1)
    a = (
        F.sin(dlat / 2) * F.sin(dlat / 2)
        + F.cos(rlat1) * F.cos(rlat2) * F.sin(dlon / 2) * F.sin(dlon / 2)
    )
    return F.lit(2.0 * EARTH_RADIUS_M) * F.asin(F.sqrt(a))


def equirect_m(lat1: Column, lon1: Column, lat2: Column, lon2: Column) -> Column:
    """Fast equirectangular distance in meters (good under ~2 km).

    This is the hot-loop distance for blocking joins and NN search —
    cheaper than haversine, same choice the reference makes.
    """
    mean_lat = F.radians((lat1 + lat2) / 2.0)
    dx = F.radians(lon2 - lon1) * F.cos(mean_lat)
    dy = F.radians(lat2 - lat1)
    return F.lit(EARTH_RADIUS_M) * F.sqrt(dx * dx + dy * dy)


def km_to_deg_lat(km: Column | float) -> Column:
    km = F.lit(km) if not isinstance(km, Column) else km
    return km / F.lit(DEG_KM)


def km_to_deg_lon(km: Column | float, at_lat: Column) -> Column:
    """Longitude degrees per km shrink with cos(lat); clamped like the
    reference to avoid blowups near the poles."""
    km = F.lit(km) if not isinstance(km, Column) else km
    cos_lat = F.greatest(F.cos(F.radians(at_lat)), F.lit(0.01))
    return km / (F.lit(DEG_KM) * cos_lat)


def in_bbox(
    lat: Column,
    lon: Column,
    south: Column,
    west: Column,
    north: Column,
    east: Column,
    buffer_km: float = 0.0,
) -> Column:
    """BBox containment with optional km buffer (per-row cos-lat lon scaling)."""
    if buffer_km:
        dlat = km_to_deg_lat(buffer_km)
        dlon = km_to_deg_lon(buffer_km, lat)
        south, north = south - dlat, north + dlat
        west, east = west - dlon, east + dlon
    return (lat >= south) & (lat <= north) & (lon >= west) & (lon <= east)


def point_in_polygon(lat: Column, lon: Column, poly: Column) -> Column:
    """Ray-casting point-in-polygon over an ``array<struct<lat,lon>>``
    polygon column (a column or an ``F.array`` of ``F.struct``
    literals), with native higher-order functions: count the edges a
    ray from the point crosses via ``aggregate`` over the vertex index.
    NULL or NaN coordinates are outside (FALSE, never NULL)."""
    n = F.size(poly)
    idx = F.sequence(F.lit(0), n - 1)

    def crossing(i):
        vi = F.element_at(poly, i + 1)
        vj = F.element_at(poly, F.when(i == 0, n).otherwise(i))
        yi, xi = vi["lat"], vi["lon"]
        yj, xj = vj["lat"], vj["lon"]
        return F.when(
            ((xi > lon) != (xj > lon))
            & (lat < (yj - yi) * (lon - xi) / (xj - xi) + yi),
            1,
        ).otherwise(0)

    crossings = F.aggregate(idx, F.lit(0), lambda acc, i: acc + crossing(i))
    return F.coalesce((n >= 3) & (crossings % 2 == 1), F.lit(False))


_GEOHASH32 = "0123456789bcdefghjkmnpqrstuvwxyz"


def geohash(lat, lon, precision: int = 6):
    """Standard base32 geohash string (native bit arithmetic, no UDF).

    Closed form instead of the textbook bisection loop: quantize lon to
    ceil(5p/2) bits and lat to floor(5p/2) bits of their ranges, then
    interleave MSB-first starting with lon — bit-identical to the
    iterative halving definition. Each 5-bit group indexes the geohash
    alphabet. All integer/bit ops after two float quantizations, so an
    engine oracle can mirror it exactly.
    """
    from pyspark.sql import functions as F

    total = 5 * precision
    lon_bits = (total + 1) // 2
    lat_bits = total // 2
    qlon = F.floor((lon + 180.0) / 360.0 * (1 << lon_bits)).cast("long")
    qlat = F.floor((lat + 90.0) / 180.0 * (1 << lat_bits)).cast("long")
    # clamp the lat==90/lon==180 edge into the top cell
    qlon = F.least(qlon, F.lit((1 << lon_bits) - 1))
    qlat = F.least(qlat, F.lit((1 << lat_bits) - 1))
    key = F.lit(0).cast("long")
    for i in range(total):
        # even interleave positions (0,2,..) take lon MSB-first
        if i % 2 == 0:
            src, nbits, idx = qlon, lon_bits, i // 2
        else:
            src, nbits, idx = qlat, lat_bits, i // 2
        bit = F.shiftright(src, nbits - 1 - idx).bitwiseAND(F.lit(1))
        key = key.bitwiseOR(F.shiftleft(bit, total - 1 - i))
    chars = [
        F.substring(
            F.lit(_GEOHASH32),
            (F.shiftright(key, 5 * (precision - 1 - c)).bitwiseAND(F.lit(31)) + 1).cast("int"),
            1,
        )
        for c in range(precision)
    ]
    return F.concat(*chars)


def geohash_sql(lat_expr: str, lon_expr: str, precision: int = 6) -> str:
    """DuckDB SQL mirroring `geohash` bit-for-bit (generated, same ops)."""
    total = 5 * precision
    lon_bits = (total + 1) // 2
    lat_bits = total // 2
    qlon = f"least(CAST(floor(({lon_expr} + 180.0) / 360.0 * {1 << lon_bits}) AS BIGINT), {(1 << lon_bits) - 1})"
    qlat = f"least(CAST(floor(({lat_expr} + 90.0) / 180.0 * {1 << lat_bits}) AS BIGINT), {(1 << lat_bits) - 1})"
    terms = []
    for i in range(total):
        if i % 2 == 0:
            src, nbits, idx = qlon, lon_bits, i // 2
        else:
            src, nbits, idx = qlat, lat_bits, i // 2
        terms.append(f"((({src} >> {nbits - 1 - idx}) & 1) << {total - 1 - i})")
    key = "(" + " | ".join(terms) + ")"
    chars = [
        f"substring('{_GEOHASH32}', CAST((({key} >> {5 * (precision - 1 - c)}) & 31) + 1 AS INT), 1)"
        for c in range(precision)
    ]
    return "(" + " || ".join(chars) + ")"

"""Contract schemas for every dataset the engine ingests/exports
(SURVEY §1.3 — the reference's stable export contracts, made explicit).

The reference asserts required columns per file (`etl/airbnb/staging.py:12-13,
26-28`, `etl/er.py:283-286`); here each contract is a StructType and the
normalizer handles case/alias-tolerant resolution
(`etl/reviews_jsonl.py:98-118`) plus empty-string→NULL hygiene.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _s(name: str, dtype=T.StringType(), nullable: bool = True) -> T.StructField:
    return T.StructField(name, dtype, nullable)


D = T.DoubleType()

# places.csv contract (etl/er.py:324-327)
PLACES = T.StructType([
    _s("place_id", nullable=False), _s("source"), _s("name"),
    _s("lat", D), _s("lon", D), _s("city_slug"), _s("place_canonical_id"),
    _s("address"), _s("type"),
])

# place_links.csv contract (etl/er.py:161,198)
PLACE_LINKS = T.StructType([
    _s("a"), _s("b"), _s("src_a"), _s("src_b"),
    _s("name_sim", D), _s("meters", D), _s("city_slug"),
])

# place_canonical_map.csv contract (etl/er.py:331-338)
CANONICAL_MAP = T.StructType([
    _s("source_place_id"), _s("canonical_id"), _s("canonical_name"), _s("city_slug"),
])

# review JSONL contract (etl/reviews_jsonl.py:229-237)
REVIEWS = T.StructType([
    _s("review_id", nullable=False), _s("source"), _s("place_id"),
    _s("rating", D), _s("text"), _s("scraped_at"), _s("city_slug"),
])

# airbnb review JSONL adds listing fields (etl/airbnb/reviews_jsonl.py:144-156)
AIRBNB_REVIEWS = T.StructType(
    REVIEWS.fields
    + [_s("listing_id"), _s("date"), _s("reviewer_id"), _s("reviewer_name")]
)

# airbnb listings staging contract (etl/airbnb/staging.py:164-183)
LISTINGS = T.StructType([
    _s("listing_id", nullable=False), _s("name"), _s("lat", D), _s("lon", D),
    _s("price", D), _s("bedrooms", D), _s("bathrooms", D),
    _s("accommodates", T.IntegerType()), _s("host_id"), _s("host_name"),
    _s("host_is_superhost", T.BooleanType()), _s("city_slug"),
])

# city config, flattened for broadcast join (etl/config_loader.py:5-12,
# etl/utils.py:103-132)
CITIES = T.StructType([
    _s("slug", nullable=False), _s("name"), _s("country"),
    _s("aliases", T.ArrayType(T.StringType())),
    _s("center_lat", D), _s("center_lon", D), _s("radius_km", D),
    _s("bbox_south", D), _s("bbox_west", D), _s("bbox_north", D), _s("bbox_east", D),
    _s("polygon", T.ArrayType(T.StructType([_s("lat", D), _s("lon", D)]))),
])

# column alias resolution: canonical name → accepted aliases
COLUMN_ALIASES = {
    "city_slug": ["city_slug", "city"],
    "lat": ["lat", "latitude"],
    "lon": ["lon", "longitude", "lng"],
    "place_id": ["place_id", "placeid", "id"],
}


def normalize_columns(df: DataFrame, contract: T.StructType) -> DataFrame:
    """Case-insensitive/alias-tolerant rename to contract names, add
    missing nullable columns as NULL, empty-string→NULL on strings,
    try_cast to contract types. Fails fast if a non-nullable contract
    column cannot be resolved."""
    lower_map = {c.lower(): c for c in df.columns}
    selected = []
    for field in contract.fields:
        cands = COLUMN_ALIASES.get(field.name, [field.name])
        src = next((lower_map[c.lower()] for c in cands if c.lower() in lower_map), None)
        if src is None:
            if not field.nullable:
                raise ValueError(f"required column {field.name!r} not found in {df.columns}")
            selected.append(F.lit(None).cast(field.dataType).alias(field.name))
            continue
        col = F.col(src)
        if isinstance(field.dataType, T.StringType):
            col = F.nullif(F.trim(col.cast("string")), F.lit(""))
        else:
            # try_cast: NULL on garbage (ANSI-safe numeric coercion, F14)
            col = col.try_cast(field.dataType)
        selected.append(col.alias(field.name))
    return df.select(*selected)

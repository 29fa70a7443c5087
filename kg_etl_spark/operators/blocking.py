"""Grid-blocked spatial self-join — the J6 pattern (reference
`etl/er.py:164-194`), re-expressed as a pure DataFrame plan.

The reference loops bins in Python per city. Here it is the self-join
form of `nearest.radius_join`: the frame joined with itself on the grid
key derived from the radius, keeping the upper triangle (a < b).
Catalyst turns that into one shuffle on the bin key; AQE handles skewed
bins. Scales linearly with data (bins bound candidate pairs), which is
exactly why it survives 100 TB while a cross join would not.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kg_etl_spark.operators.nearest import radius_join


def blocked_pairs(
    df: DataFrame,
    id_col: str,
    lat_col: str = "lat",
    lon_col: str = "lon",
    partition_col: str | None = None,
    max_dist_m: float = 250.0,
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Pairs (a_id < b_id) within max_dist_m, via grid blocking.

    Returns columns a_<id>, a_<carry>, b_<id>, b_<carry>, meters.
    """
    geo = [lat_col, lon_col, *([partition_col] if partition_col else [])]

    def side(prefix: str) -> DataFrame:
        keep = [F.col(c).alias(f"{prefix}_{c}") for c in (id_col, *carry_cols)]
        return df.select(*keep, *geo)

    a_id, b_id = f"a_{id_col}", f"b_{id_col}"
    pairs = radius_join(
        side("a"), side("b"), a_id, b_id, max_dist_m, lat_col, lon_col, partition_col
    )
    return pairs.filter(F.col(a_id) < F.col(b_id))

"""Geospatial operator catalog (SURVEY §2: P5–P8, F9–F11, J5/J6/J9,
A16, X2) with DuckDB oracles.

The testdata has no coordinates, so every query derives deterministic
synthetic WGS84 coords from integer keys — identical integer+double
arithmetic on both engines, so inputs are bit-exact. Trig (sin/cos/asin)
can differ between JVM Math and libm in the last ulp, so distance
outputs are rounded coarsely and thresholds sit far from representable
boundary values.

Oracles are brute-force O(n²) cross joins — same *semantics*, while the
Spark side uses the scalable grid-blocked plans from
`kg_etl_spark.operators`.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from kg_etl_spark.functions.geo import haversine_m, in_bbox, point_in_polygon
from kg_etl_spark.operators.blocking import blocked_pairs
from kg_etl_spark.operators.components import connected_components
from kg_etl_spark.operators.nearest import nearest_within, radius_join
from kg_etl_spark.session import read_table

# Synthetic coordinate grid: ~300×307 cells of 0.001° over a ~33 km
# box. Keys are scrambled with a multiply + double-mod (large prime,
# then grid size) — a plain linear-congruential map puts all points on
# a sparse lattice with no close pairs; the second mod breaks the
# linearity so near-neighbor pairs exist at every scale factor.
_LAT0, _LON0, _STEP = 50.0, 8.0, 0.001
_MIX_A, _PRIME_A, _CELLS_LAT = 2654435761, 1000003, 300
_MIX_B, _PRIME_B, _CELLS_LON = 2246822519, 1000033, 307


def synth_lat(key: Column) -> Column:
    return F.lit(_LAT0) + (key * _MIX_A % _PRIME_A % _CELLS_LAT) * F.lit(_STEP)


def synth_lon(key: Column) -> Column:
    return F.lit(_LON0) + (key * _MIX_B % _PRIME_B % _CELLS_LON) * F.lit(_STEP)


# CAST the step to DOUBLE: DuckDB would otherwise do DECIMAL arithmetic
# (its float literals are decimals) and disagree with Spark's doubles.
def _sql_lat(key: str) -> str:
    return f"({_LAT0} + ((({key} * {_MIX_A}) % {_PRIME_A}) % {_CELLS_LAT}) * CAST({_STEP} AS DOUBLE))"


def _sql_lon(key: str) -> str:
    return f"({_LON0} + ((({key} * {_MIX_B}) % {_PRIME_B}) % {_CELLS_LON}) * CAST({_STEP} AS DOUBLE))"


def _with_coords(df: DataFrame, key: str) -> DataFrame:
    return df.withColumn("lat", synth_lat(F.col(key))).withColumn("lon", synth_lon(F.col(key)))


_SQL_EQUIRECT = (
    "6371000.0 * sqrt("
    "(radians({lon2} - {lon1}) * cos(radians(({lat1} + {lat2}) / 2))) * (radians({lon2} - {lon1}) * cos(radians(({lat1} + {lat2}) / 2)))"
    " + radians({lat2} - {lat1}) * radians({lat2} - {lat1}))"
)


def _sql_cust_coords(alias: str = "customer") -> str:
    return (
        f"SELECT c_custkey, {_sql_lat('c_custkey')} AS lat, {_sql_lon('c_custkey')} AS lon FROM {alias}"
    )


# --- haversine distance join (F9, J1-shape) ---------------------------


def q_haversine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _with_coords(read_table(spark, sf_dir, "customer"), "c_custkey").select(
        "c_custkey", "c_nationkey", F.col("lat").alias("c_lat"), F.col("lon").alias("c_lon")
    )
    supp = _with_coords(read_table(spark, sf_dir, "supplier"), "s_suppkey").select(
        "s_suppkey", "s_nationkey", F.col("lat").alias("s_lat"), F.col("lon").alias("s_lon")
    )
    return (
        cust.join(supp, cust.c_nationkey == supp.s_nationkey)
        .select(
            "c_custkey",
            "s_suppkey",
            F.round(
                haversine_m(F.col("c_lat"), F.col("c_lon"), F.col("s_lat"), F.col("s_lon")), 0
            ).alias("dist_m"),
        )
    )


ORACLE_HAVERSINE = f"""
WITH c AS (SELECT c_custkey, c_nationkey, {_sql_lat('c_custkey')} AS lat, {_sql_lon('c_custkey')} AS lon FROM customer),
     s AS (SELECT s_suppkey, s_nationkey, {_sql_lat('s_suppkey')} AS lat, {_sql_lon('s_suppkey')} AS lon FROM supplier)
SELECT c.c_custkey, s.s_suppkey,
       ROUND(12742000.0 * asin(sqrt(
         sin(radians(s.lat - c.lat) / 2) * sin(radians(s.lat - c.lat) / 2)
         + cos(radians(c.lat)) * cos(radians(s.lat)) * sin(radians(s.lon - c.lon) / 2) * sin(radians(s.lon - c.lon) / 2)
       )), 0) AS dist_m
FROM c JOIN s ON c.c_nationkey = s.s_nationkey
"""


# --- bbox containment filter with buffer (P5, F11) ---------------------


def q_bbox_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _with_coords(read_table(spark, sf_dir, "customer"), "c_custkey")
    return cust.filter(
        in_bbox(
            F.col("lat"), F.col("lon"),
            F.lit(50.05), F.lit(8.05), F.lit(50.25), F.lit(8.25),
            buffer_km=1.0,
        )
    ).select("c_custkey", "lat", "lon")


ORACLE_BBOX = f"""
WITH c AS ({_sql_cust_coords()})
SELECT c_custkey, lat, lon FROM c
WHERE lat >= 50.05 - 1.0 / CAST(111.32 AS DOUBLE) AND lat <= 50.25 + 1.0 / CAST(111.32 AS DOUBLE)
  AND lon >= 8.05 - 1.0 / (CAST(111.32 AS DOUBLE) * greatest(cos(radians(lat)), 0.01))
  AND lon <= 8.25 + 1.0 / (CAST(111.32 AS DOUBLE) * greatest(cos(radians(lat)), 0.01))
"""


# --- grid-blocked spatial self-join (J6) -------------------------------


def q_blocked_spatial_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _with_coords(read_table(spark, sf_dir, "customer"), "c_custkey")
    pairs = blocked_pairs(cust, id_col="c_custkey", max_dist_m=250.0)
    return pairs.select(
        F.col("a_c_custkey").alias("a_id"),
        F.col("b_c_custkey").alias("b_id"),
        F.round("meters", 1).alias("meters"),
    )


ORACLE_BLOCKED_PAIRS = f"""
WITH c AS ({_sql_cust_coords()})
SELECT a.c_custkey AS a_id, b.c_custkey AS b_id,
       ROUND({_SQL_EQUIRECT.format(lat1='a.lat', lon1='a.lon', lat2='b.lat', lon2='b.lon')}, 1) AS meters
FROM c a JOIN c b ON a.c_custkey < b.c_custkey
WHERE {_SQL_EQUIRECT.format(lat1='a.lat', lon1='a.lon', lat2='b.lat', lon2='b.lon')} <= 250.0
"""


# --- nearest-neighbor within threshold (J5/J9/W1) ----------------------


def q_nearest_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _with_coords(read_table(spark, sf_dir, "customer"), "c_custkey")
    supp = _with_coords(read_table(spark, sf_dir, "supplier"), "s_suppkey")
    nn = nearest_within(cust, supp, "c_custkey", "s_suppkey", threshold_m=5000.0)
    return nn.select("c_custkey", "s_suppkey", F.round("meters", 1).alias("meters"))


_D_CS = _SQL_EQUIRECT.format(lat1="c.lat", lon1="c.lon", lat2="s.lat", lon2="s.lon")
ORACLE_NEAREST = f"""
WITH c AS ({_sql_cust_coords()}),
     s AS (SELECT s_suppkey, {_sql_lat('s_suppkey')} AS lat, {_sql_lon('s_suppkey')} AS lon FROM supplier),
     d AS (SELECT c.c_custkey, s.s_suppkey, {_D_CS} AS m FROM c, s WHERE {_D_CS} <= 5000.0)
SELECT c_custkey, s_suppkey, ROUND(m, 1) AS meters FROM (
  SELECT c_custkey, s_suppkey, m, ROW_NUMBER() OVER (PARTITION BY c_custkey ORDER BY m ASC, s_suppkey ASC) AS rn FROM d
) WHERE rn = 1
"""


# --- connected components over spatial links (A7/X6) -------------------


def q_spatial_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _with_coords(read_table(spark, sf_dir, "customer"), "c_custkey")
    edges = blocked_pairs(cust, id_col="c_custkey", max_dist_m=150.0).select(
        F.col("a_c_custkey").alias("src"), F.col("b_c_custkey").alias("dst")
    )
    return connected_components(edges).select("node", "comp")


ORACLE_COMPONENTS = f"""
WITH RECURSIVE c AS ({_sql_cust_coords()}),
pairs AS (
  SELECT a.c_custkey AS a_id, b.c_custkey AS b_id
  FROM c a JOIN c b ON a.c_custkey < b.c_custkey
  WHERE {_SQL_EQUIRECT.format(lat1='a.lat', lon1='a.lon', lat2='b.lat', lon2='b.lon')} <= 150.0
),
edges AS (SELECT a_id AS s, b_id AS d FROM pairs UNION ALL SELECT b_id, a_id FROM pairs),
reach(node, r) AS (
  SELECT DISTINCT s, s FROM edges
  UNION
  SELECT e.d, reach.r FROM reach JOIN edges e ON e.s = reach.node
)
SELECT node, MIN(r) AS comp FROM reach GROUP BY node
"""


def q_triangle_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts on the 800 m customer proximity graph —
    degree-oriented distributed enumeration (operators/triangles.py),
    oracled by plain a<b SQL enumeration (result is orientation-
    independent)."""
    from kg_etl_spark.operators.triangles import triangle_counts

    cust = _with_coords(read_table(spark, sf_dir, "customer"), "c_custkey")
    pairs = blocked_pairs(cust, id_col="c_custkey", max_dist_m=800.0).select(
        F.col("a_c_custkey").alias("a_id"), F.col("b_c_custkey").alias("b_id")
    )
    return triangle_counts(pairs)


ORACLE_TRIANGLES = f"""
WITH c AS ({_sql_cust_coords()}),
pairs AS (
  SELECT a.c_custkey AS a_id, b.c_custkey AS b_id
  FROM c a JOIN c b ON a.c_custkey < b.c_custkey
  WHERE {_SQL_EQUIRECT.format(lat1='a.lat', lon1='a.lon', lat2='b.lat', lon2='b.lon')} <= 800.0
),
tri AS (
  SELECT e1.a_id AS x, e1.b_id AS y, e2.b_id AS z
  FROM pairs e1 JOIN pairs e2 ON e1.a_id = e2.a_id AND e1.b_id < e2.b_id
  JOIN pairs e3 ON e3.a_id = e1.b_id AND e3.b_id = e2.b_id
),
n AS (SELECT x AS node FROM tri UNION ALL SELECT y FROM tri UNION ALL SELECT z FROM tri)
SELECT node, count(*) AS n_triangles FROM n GROUP BY node
"""


def q_label_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-round deterministic label propagation on the 800 m customer
    proximity graph (operators/communities.py) — integer-only, so the
    unrolled SQL oracle matches exactly."""
    from kg_etl_spark.operators.communities import label_propagation

    cust = _with_coords(read_table(spark, sf_dir, "customer"), "c_custkey")
    pairs = blocked_pairs(cust, id_col="c_custkey", max_dist_m=800.0).select(
        F.col("a_c_custkey").alias("a_id"), F.col("b_c_custkey").alias("b_id")
    )
    return label_propagation(pairs, iterations=2)


def _lpa_oracle(iterations: int = 2) -> str:
    head = f"""
WITH c AS ({_sql_cust_coords()}),
pairs AS (
  SELECT a.c_custkey AS a_id, b.c_custkey AS b_id
  FROM c a JOIN c b ON a.c_custkey < b.c_custkey
  WHERE {_SQL_EQUIRECT.format(lat1='a.lat', lon1='a.lon', lat2='b.lat', lon2='b.lon')} <= 800.0
),
edges AS (SELECT a_id AS u, b_id AS v FROM pairs UNION ALL SELECT b_id, a_id FROM pairs),
l0 AS (SELECT DISTINCT u AS node, u AS label FROM edges)"""
    steps = []
    for i in range(1, iterations + 1):
        steps.append(f""",
n{i} AS (
  SELECT e.u AS n, l.label, count(*) AS cnt
  FROM edges e JOIN l{i-1} l ON e.v = l.node
  GROUP BY e.u, l.label
),
l{i} AS (
  SELECT n AS node, label FROM (
    SELECT n, label, ROW_NUMBER() OVER (PARTITION BY n ORDER BY cnt DESC, label ASC) AS rn
    FROM n{i}
  ) WHERE rn = 1
)""")
    return head + "".join(steps) + f"""
SELECT node, label FROM l{iterations}
"""


ORACLE_LPA = _lpa_oracle(2)


def q_kcore_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-core of the 800 m proximity graph (operators/kcore.py).
    Rows-only by design: the peel runs to a fixpoint, which ANSI SQL's
    recursion rules can't express — the operator is property-tested
    (core uniqueness makes results deterministic regardless)."""
    from kg_etl_spark.operators.kcore import kcore

    cust = _with_coords(read_table(spark, sf_dir, "customer"), "c_custkey")
    pairs = blocked_pairs(cust, id_col="c_custkey", max_dist_m=800.0).select(
        F.col("a_c_custkey").alias("a_id"), F.col("b_c_custkey").alias("b_id")
    )
    return kcore(pairs, k=3)


def q_kcore_planted_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Planted-provable twin of `kcore_customers` (the
    minhash_identical_recall pattern): a graph whose 3-core is known by
    construction AND whose peel is a genuine one-node-per-round
    cascade. Customers 1..8 form a K8 clique; customers 9..20 form a
    double-linked caterpillar (edges i→i+1 and i→i+2) bridged to clique
    nodes 1 and 2, so interior chain nodes START at degree 4 ≥ 3 and
    only drop below 3 when their upper neighbors peel: round 1 removes
    only node 20 (degree 2), which drops 19 to degree 2 for round 2,
    and so on — ~12 cascade rounds through the fixpoint loop (a
    single-round bulk peel would leave chain nodes behind and fail the
    hash). Provably no chain node can sit in ANY subgraph of min-degree
    3: the highest chain node in a candidate set has ≤ 2 in-set
    neighbors. The unique 3-core is therefore {1..8}, every node at
    in-core degree 7, SQL-enumerable."""
    from kg_etl_spark.operators.kcore import kcore

    ids = (
        read_table(spark, sf_dir, "customer")
        .select(F.col("c_custkey").alias("id"))
        .filter(F.col("id") <= 20)
    )
    a = ids.select(F.col("id").alias("a_id"))
    b = ids.select(F.col("id").alias("b_id"))
    clique = (
        a.filter(F.col("a_id").between(1, 8))
        .join(b.filter(F.col("b_id").between(1, 8)), F.col("a_id") < F.col("b_id"))
    )
    chain1 = ids.filter((F.col("id") >= 9) & (F.col("id") <= 19)).select(
        F.col("id").alias("a_id"), (F.col("id") + 1).alias("b_id")
    )
    chain2 = ids.filter((F.col("id") >= 9) & (F.col("id") <= 18)).select(
        F.col("id").alias("a_id"), (F.col("id") + 2).alias("b_id")
    )
    bridges = ids.filter(F.col("id").isin(1, 2)).select(
        F.col("id").alias("a_id"), F.lit(9).cast("long").alias("b_id")
    )
    edges = clique.unionByName(chain1).unionByName(chain2).unionByName(bridges)
    return kcore(edges, k=3)


ORACLE_KCORE_PLANTED = """
SELECT c_custkey AS node, CAST(7 AS BIGINT) AS degree
FROM customer WHERE c_custkey BETWEEN 1 AND 8
"""


def q_bfs_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS (≤3 hops) on the 800 m proximity graph from
    every 500th customer (operators/bfs.py)."""
    from kg_etl_spark.operators.bfs import bfs_hops

    cust = _with_coords(read_table(spark, sf_dir, "customer"), "c_custkey")
    pairs = blocked_pairs(cust, id_col="c_custkey", max_dist_m=800.0).select(
        F.col("a_c_custkey").alias("a_id"), F.col("b_c_custkey").alias("b_id")
    )
    sources = cust.filter(F.col("c_custkey") % 500 == 0).select(
        F.col("c_custkey").alias("node")
    )
    return bfs_hops(pairs, sources, max_hops=3)


def _bfs_oracle(max_hops: int = 3) -> str:
    head = f"""
WITH c AS ({_sql_cust_coords()}),
pairs AS (
  SELECT a.c_custkey AS a_id, b.c_custkey AS b_id
  FROM c a JOIN c b ON a.c_custkey < b.c_custkey
  WHERE {_SQL_EQUIRECT.format(lat1='a.lat', lon1='a.lon', lat2='b.lat', lon2='b.lon')} <= 800.0
),
edges AS (SELECT a_id AS u, b_id AS v FROM pairs UNION ALL SELECT b_id, a_id FROM pairs),
d0 AS (SELECT c_custkey AS node, CAST(0 AS BIGINT) AS dist FROM customer WHERE c_custkey % 500 = 0)"""
    steps = []
    for h in range(1, max_hops + 1):
        prev_f = f"d{h-1}" if h == 1 else f"f{h-1}"
        steps.append(f""",
n{h} AS (
  SELECT DISTINCT e.v AS node, CAST({h} AS BIGINT) AS dist
  FROM edges e JOIN {prev_f} f ON e.u = f.node
),
d{h} AS (
  SELECT node, MIN(dist) AS dist FROM (
    SELECT * FROM d{h-1} UNION ALL SELECT * FROM n{h}
  ) GROUP BY node
),
f{h} AS (SELECT node, dist FROM d{h} WHERE dist = {h})""")
    return head + "".join(steps) + f"""
SELECT node, dist FROM d{max_hops}
"""


ORACLE_BFS = _bfs_oracle(3)


# --- count-within-radius per entity (A16) ------------------------------


def q_near_count_per_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    supp = _with_coords(read_table(spark, sf_dir, "supplier"), "s_suppkey")
    cust = _with_coords(read_table(spark, sf_dir, "customer"), "c_custkey")
    pairs = radius_join(supp, cust, "s_suppkey", "c_custkey", threshold_m=2000.0)
    return pairs.groupBy("s_suppkey").agg(F.countDistinct("c_custkey").alias("n_near"))


_D_SC = _SQL_EQUIRECT.format(lat1="s.lat", lon1="s.lon", lat2="c.lat", lon2="c.lon")
ORACLE_NEAR_COUNT = f"""
WITH c AS ({_sql_cust_coords()}),
     s AS (SELECT s_suppkey, {_sql_lat('s_suppkey')} AS lat, {_sql_lon('s_suppkey')} AS lon FROM supplier)
SELECT s.s_suppkey, COUNT(DISTINCT c.c_custkey) AS n_near
FROM s JOIN c ON {_D_SC} <= 2000.0
GROUP BY s.s_suppkey
"""


# --- point-in-polygon (X2/P6) ------------------------------------------

# Diamond (convex) polygon centered off the coordinate grid so no point
# sits on the boundary; the oracle uses the equivalent L1 half-plane
# test, the Spark side runs the general ray-casting kernel.
_DIAMOND = [(50.2504, 8.1501), (50.1501, 8.2504), (50.0498, 8.1501), (50.1501, 8.0498)]


def q_point_in_polygon(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _with_coords(read_table(spark, sf_dir, "customer"), "c_custkey")
    poly = F.array(
        *[F.struct(F.lit(a).alias("lat"), F.lit(b).alias("lon")) for a, b in _DIAMOND]
    )
    return cust.select(
        "c_custkey", point_in_polygon(F.col("lat"), F.col("lon"), poly).alias("inside")
    )


ORACLE_PIP = f"""
WITH c AS ({_sql_cust_coords()})
SELECT c_custkey, (abs(lat - 50.1501) + abs(lon - 8.1501)) < 0.1003 AS inside FROM c
"""


def q_supplier_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common-neighbors link prediction on the customer↔supplier
    bipartite graph: supplier pairs ranked by shared customers +
    Jaccard over their customer sets. The pair generator is an
    inverted-index self-join on customer (deg² per customer), bounded
    by a degree cap exactly like the dedup family's max_df — hub
    customers that connect to >64 suppliers are dropped from PAIRING
    (not from the per-supplier degree denominators). One co-purchase
    edge scan, two aggregates, one capped self-join — no all-pairs."""
    max_deg = 64
    min_common = 3
    orders = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    edges = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(F.col("o_custkey").alias("cust"), F.col("l_suppkey").alias("supp"))
        .distinct()
    )
    sdeg = edges.groupBy("supp").agg(F.count(F.lit(1)).alias("deg"))
    ok_cust = (
        edges.groupBy("cust")
        .agg(F.count(F.lit(1)).alias("cdeg"))
        .filter(F.col("cdeg") <= max_deg)
        .select("cust")
    )
    e = edges.join(ok_cust, "cust", "left_semi")
    a, b = e.alias("a"), e.alias("b")
    common = (
        a.join(b, (F.col("a.cust") == F.col("b.cust")) & (F.col("a.supp") < F.col("b.supp")))
        .groupBy(F.col("a.supp").alias("s1"), F.col("b.supp").alias("s2"))
        .agg(F.count(F.lit(1)).alias("n_common"))
        .filter(F.col("n_common") >= min_common)
    )
    d1 = sdeg.select(F.col("supp").alias("s1"), F.col("deg").alias("deg1"))
    d2 = sdeg.select(F.col("supp").alias("s2"), F.col("deg").alias("deg2"))
    # degree tables are |V|-row frames (the degree_assortativity class
    # the r7 audit unhinted): planner choice only — BHJ at bench SF,
    # row-proportional shuffle at 100 TB supplier cardinality
    return (
        common.join(d1, "s1")
        .join(d2, "s2")
        .select(
            "s1",
            "s2",
            "n_common",
            F.round(
                F.col("n_common").cast("double")
                / (F.col("deg1") + F.col("deg2") - F.col("n_common")).cast("double"),
                6,
            ).alias("jaccard"),
        )
    )


ORACLE_LINK_PREDICTION = """
WITH edges AS (
  SELECT DISTINCT o_custkey AS cust, l_suppkey AS supp
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
sdeg AS (SELECT supp, COUNT(*) AS deg FROM edges GROUP BY supp),
ok AS (SELECT cust FROM edges GROUP BY cust HAVING COUNT(*) <= 64),
e AS (SELECT edges.cust, edges.supp FROM edges JOIN ok ON edges.cust = ok.cust),
common AS (
  SELECT a.supp AS s1, b.supp AS s2, COUNT(*) AS n_common
  FROM e a JOIN e b ON a.cust = b.cust AND a.supp < b.supp
  GROUP BY a.supp, b.supp HAVING COUNT(*) >= 3
)
SELECT s1, s2, n_common,
       ROUND(CAST(n_common AS DOUBLE) / CAST(d1.deg + d2.deg - n_common AS DOUBLE), 6) AS jaccard
FROM common JOIN sdeg d1 ON s1 = d1.supp JOIN sdeg d2 ON s2 = d2.supp
"""


QUERIES = {
    "haversine_pairs": q_haversine_pairs,
    "bbox_filter": q_bbox_filter,
    "blocked_spatial_pairs": q_blocked_spatial_pairs,
    "nearest_supplier": q_nearest_supplier,
    "spatial_components": q_spatial_components,
    "near_count_per_supplier": q_near_count_per_supplier,
    "point_in_polygon": q_point_in_polygon,
    "triangle_counts": q_triangle_counts,
    "label_communities": q_label_communities,
    "bfs_distances": q_bfs_distances,
    "kcore_customers": q_kcore_customers,
    # kcore_customers: unbounded fixpoint — rows-only; its planted twin
    # below carries the value-hash oracle for the peel machinery
    "kcore_planted_recall": q_kcore_planted_recall,
    "supplier_link_prediction": q_supplier_link_prediction,
}

ORACLES = {
    "haversine_pairs": ORACLE_HAVERSINE,
    "bbox_filter": ORACLE_BBOX,
    "blocked_spatial_pairs": ORACLE_BLOCKED_PAIRS,
    "nearest_supplier": ORACLE_NEAREST,
    "spatial_components": ORACLE_COMPONENTS,
    "near_count_per_supplier": ORACLE_NEAR_COUNT,
    "point_in_polygon": ORACLE_PIP,
    "triangle_counts": ORACLE_TRIANGLES,
    "label_communities": ORACLE_LPA,
    "bfs_distances": ORACLE_BFS,
    "kcore_planted_recall": ORACLE_KCORE_PLANTED,
    "supplier_link_prediction": ORACLE_LINK_PREDICTION,
}


# --- Morton (Z-order) spatial cells ------------------------------------

_MORTON_BITS = 9  # grid indices < 512
_MORTON_COARSE = 4  # keep top (bits-4) per axis → 32×32 cells


def q_morton_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial-index cell statistics: customers quantized to the synth
    grid, bit-interleaved into a Morton key (sinks.zorder_key — the
    same kernel the z-ordered export sorts by), rolled up to 32×32
    coarse cells with per-cell key ranges. The [min_key, max_key] span
    per cell is exactly the parquet row-group stat a z-ordered layout
    prunes 2-D range scans with — this query IS the pruning math,
    oracle-checked bit-for-bit."""
    from kg_etl_spark.sinks import zorder_key

    cust = read_table(spark, sf_dir, "customer")
    lat_idx = F.col("c_custkey") * _MIX_A % _PRIME_A % _CELLS_LAT
    lon_idx = F.col("c_custkey") * _MIX_B % _PRIME_B % _CELLS_LON
    key = zorder_key(lat_idx, lon_idx, bits=_MORTON_BITS)
    shift = 2 * _MORTON_COARSE
    return (
        cust.select(F.shiftright(key, shift).alias("cell"), key.alias("_k"))
        .groupBy("cell")
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            F.min("_k").alias("min_key"),
            F.max("_k").alias("max_key"),
        )
    )


def _morton_sql(c1: str, c2: str, bits: int) -> str:
    terms = []
    for i in range(bits):
        terms.append(f"((({c1} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({c2} >> {i}) & 1) << {2 * i + 1})")
    return " | ".join(terms)


ORACLE_MORTON_CELLS = f"""
WITH idx AS (
  SELECT ((c_custkey * {_MIX_A}) % {_PRIME_A}) % {_CELLS_LAT} AS li,
         ((c_custkey * {_MIX_B}) % {_PRIME_B}) % {_CELLS_LON} AS lo
  FROM customer
), keys AS (
  SELECT ({_morton_sql('li', 'lo', _MORTON_BITS)}) AS k FROM idx
)
SELECT k >> {2 * _MORTON_COARSE} AS cell,
       COUNT(*) AS n_points, MIN(k) AS min_key, MAX(k) AS max_key
FROM keys GROUP BY cell
"""

QUERIES["morton_cells"] = q_morton_cells
ORACLES["morton_cells"] = ORACLE_MORTON_CELLS


def q_geohash_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geohash encoding + prefix rollup: customers on the synth grid get
    6-char geohashes (native bit arithmetic, no UDF); counts per 4-char
    prefix cell — the join key format external spatial systems speak.
    Map-side encode, one aggregate."""
    from kg_etl_spark.functions.geo import geohash

    cust = _with_coords(read_table(spark, sf_dir, "customer"), "c_custkey")
    enc = cust.select(
        "c_custkey",
        geohash(F.col("lat"), F.col("lon"), 6).alias("gh6"),
    )
    return enc.groupBy(F.substring("gh6", 1, 4).alias("gh4")).agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.min("gh6").alias("min_gh6"),
        F.max("gh6").alias("max_gh6"),
    )


def _geohash_oracle() -> str:
    from kg_etl_spark.functions.geo import geohash_sql

    gh6 = geohash_sql(_sql_lat("c_custkey"), _sql_lon("c_custkey"), 6)
    return f"""
WITH enc AS (SELECT c_custkey, {gh6} AS gh6 FROM customer)
SELECT substring(gh6, 1, 4) AS gh4, COUNT(*) AS n_customers,
       MIN(gh6) AS min_gh6, MAX(gh6) AS max_gh6
FROM enc GROUP BY substring(gh6, 1, 4)
"""


QUERIES["geohash_cells"] = q_geohash_cells
ORACLES["geohash_cells"] = _geohash_oracle()


def q_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient on the 800 m proximity graph:
    c(v) = 2·T(v) / (d(v)·(d(v)−1)) from the per-node triangle counts
    plus degrees — the closure measure community detection calibrates
    against. Degree-join composes the existing triangle operator; one
    extra per-node aggregate."""
    from kg_etl_spark.operators.triangles import triangle_counts

    cust = _with_coords(read_table(spark, sf_dir, "customer"), "c_custkey")
    # multi-consumer cut: degrees + the 3-way triangle self-join would
    # otherwise each re-derive the blocking join (132 static Exchanges)
    pairs = blocked_pairs(cust, id_col="c_custkey", max_dist_m=800.0).select(
        F.col("a_c_custkey").alias("a_id"), F.col("b_c_custkey").alias("b_id")
    ).lineage_cut(eager=True)
    deg = (
        pairs.select(F.col("a_id").alias("node"))
        .unionAll(pairs.select(F.col("b_id").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    tri = triangle_counts(pairs)
    return (
        deg.join(tri, "node", "left")
        .select(
            "node",
            "degree",
            F.coalesce(F.col("n_triangles"), F.lit(0)).cast("long").alias("n_triangles"),
            F.round(
                F.when(
                    F.col("degree") >= 2,
                    (2 * F.coalesce(F.col("n_triangles"), F.lit(0))).cast("double")
                    / (F.col("degree") * (F.col("degree") - 1)).cast("double"),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("clustering_coef"),
        )
    )


ORACLE_CLUSTERING_COEF = f"""
WITH c AS ({{cust}}),
pairs AS (
  SELECT a.c_custkey AS a_id, b.c_custkey AS b_id
  FROM c a JOIN c b ON a.c_custkey < b.c_custkey
  WHERE {{equirect}} <= 800.0
),
deg AS (
  SELECT node, COUNT(*) AS degree FROM (
    SELECT a_id AS node FROM pairs UNION ALL SELECT b_id FROM pairs
  ) GROUP BY node
),
tri AS (
  SELECT e1.a_id AS x, e1.b_id AS y, e2.b_id AS z
  FROM pairs e1 JOIN pairs e2 ON e1.a_id = e2.a_id AND e1.b_id < e2.b_id
  JOIN pairs e3 ON e3.a_id = e1.b_id AND e3.b_id = e2.b_id
),
tcnt AS (
  SELECT node, COUNT(*) AS n_triangles FROM (
    SELECT x AS node FROM tri UNION ALL SELECT y FROM tri UNION ALL SELECT z FROM tri
  ) GROUP BY node
)
SELECT d.node, d.degree,
       CAST(COALESCE(t.n_triangles, 0) AS BIGINT) AS n_triangles,
       ROUND(CASE WHEN d.degree >= 2
                  THEN CAST(2 * COALESCE(t.n_triangles, 0) AS DOUBLE)
                       / (d.degree * (d.degree - 1))
                  ELSE 0.0 END, 6) AS clustering_coef
FROM deg d LEFT JOIN tcnt t ON d.node = t.node
"""

QUERIES["clustering_coefficient"] = q_clustering_coefficient
ORACLES["clustering_coefficient"] = ORACLE_CLUSTERING_COEF.format(
    cust=_sql_cust_coords(),
    equirect=_SQL_EQUIRECT.format(lat1="a.lat", lon1="a.lon", lat2="b.lat", lon2="b.lon"),
)


_DBSCAN_EPS_M = 300.0
_DBSCAN_MINPTS = 4  # neighbors (excl. self) to qualify as core


def q_dbscan_lite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Density-based spatial clustering (DBSCAN, deterministic
    variant): core points have >= minPts neighbors within eps; clusters
    are connected components over CORE-CORE edges (min-id labels);
    border points adopt the smallest cluster label among their core
    neighbors (a total rule where classic DBSCAN is order-dependent);
    everything else is noise (cluster -1).

    Composed entirely from audited pieces: the grid-blocked pair join
    (never all-pairs), one degree aggregate, the size-adaptive
    components operator. One extra semi-join prunes non-core edges."""
    from kg_etl_spark.operators.components import connected_components

    cust = _with_coords(read_table(spark, sf_dir, "customer"), "c_custkey")
    pairs = blocked_pairs(cust, id_col="c_custkey", max_dist_m=_DBSCAN_EPS_M).select(
        F.col("a_c_custkey").alias("a_id"), F.col("b_c_custkey").alias("b_id")
    ).lineage_cut(eager=True)  # consumed 4× below

    und = pairs.select(F.col("a_id").alias("node"), F.col("b_id").alias("nbr")).unionAll(
        pairs.select(F.col("b_id").alias("node"), F.col("a_id").alias("nbr"))
    )
    deg = und.groupBy("node").agg(F.count(F.lit(1)).alias("n_nbrs"))
    cores = deg.filter(F.col("n_nbrs") >= _DBSCAN_MINPTS).select("node")

    core_edges = (
        pairs.join(cores.withColumnRenamed("node", "a_id"), "a_id", "left_semi")
        .join(cores.withColumnRenamed("node", "b_id"), "b_id", "left_semi")
        .select(F.col("a_id").alias("src"), F.col("b_id").alias("dst"))
    )
    comp = connected_components(core_edges)  # (node, comp) for cores in edges

    # isolated cores (no core neighbor) form their own singleton cluster
    core_lbl = cores.join(comp, "node", "left").select(
        "node", F.coalesce(F.col("comp"), F.col("node")).alias("cluster")
    )
    # border: non-core with >= 1 core neighbor -> min core-neighbor label
    border = (
        und.join(core_lbl.withColumnRenamed("node", "nbr"), "nbr")
        .join(cores, "node", "left_anti")
        .groupBy("node")
        .agg(F.min("cluster").alias("cluster"))
    )
    all_nodes = cust.select(F.col("c_custkey").alias("node"))
    out = (
        all_nodes.join(core_lbl.withColumnRenamed("cluster", "_cc"), "node", "left")
        .join(border.withColumnRenamed("cluster", "_bc"), "node", "left")
        .select(
            "node",
            F.when(F.col("_cc").isNotNull(), F.lit("core"))
            .when(F.col("_bc").isNotNull(), F.lit("border"))
            .otherwise(F.lit("noise"))
            .alias("role"),
            F.coalesce(F.col("_cc"), F.col("_bc"), F.lit(-1)).cast("long").alias("cluster"),
        )
    )
    return out


ORACLE_DBSCAN = f"""
WITH RECURSIVE c AS ({{cust}}),
pairs AS (
  SELECT a.c_custkey AS a_id, b.c_custkey AS b_id
  FROM c a JOIN c b ON a.c_custkey < b.c_custkey
  WHERE {{equirect}} <= {_DBSCAN_EPS_M!r}
),
und AS (SELECT a_id AS node, b_id AS nbr FROM pairs UNION ALL SELECT b_id, a_id FROM pairs),
deg AS (SELECT node, COUNT(*) AS n_nbrs FROM und GROUP BY node),
cores AS (SELECT node FROM deg WHERE n_nbrs >= {_DBSCAN_MINPTS}),
ce AS (
  SELECT p.a_id, p.b_id FROM pairs p
  JOIN cores x ON p.a_id = x.node JOIN cores y ON p.b_id = y.node
),
cedges AS (SELECT a_id AS s, b_id AS d FROM ce UNION ALL SELECT b_id, a_id FROM ce),
reach(node, r) AS (
  SELECT DISTINCT s, s FROM cedges
  UNION
  SELECT e.d, reach.r FROM reach JOIN cedges e ON e.s = reach.node
),
comp AS (SELECT node, MIN(r) AS comp FROM reach GROUP BY node),
core_lbl AS (
  SELECT cores.node, COALESCE(comp.comp, cores.node) AS cluster
  FROM cores LEFT JOIN comp ON cores.node = comp.node
),
border AS (
  SELECT u.node, MIN(cl.cluster) AS cluster
  FROM und u JOIN core_lbl cl ON u.nbr = cl.node
  WHERE u.node NOT IN (SELECT node FROM cores)
  GROUP BY u.node
)
SELECT cu.c_custkey AS node,
       CASE WHEN k.cluster IS NOT NULL THEN 'core'
            WHEN b.cluster IS NOT NULL THEN 'border'
            ELSE 'noise' END AS role,
       CAST(COALESCE(k.cluster, b.cluster, -1) AS BIGINT) AS cluster
FROM c cu
LEFT JOIN core_lbl k ON cu.c_custkey = k.node
LEFT JOIN border b ON cu.c_custkey = b.node
"""

QUERIES["dbscan_lite"] = q_dbscan_lite
ORACLES["dbscan_lite"] = ORACLE_DBSCAN.format(
    cust=_sql_cust_coords(),
    equirect=_SQL_EQUIRECT.format(lat1="a.lat", lon1="a.lon", lat2="b.lat", lon2="b.lon"),
)


def q_weighted_sssp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted shortest paths (≤3 edges, Bellman-Ford rounds) over the
    800 m proximity graph from every 500th customer, path cost = summed
    edge meters (operators/bfs.py `sssp_rounds`).

    Float discipline: edge weights are rounded to 3 dp BEFORE any
    summation (both engines), so libm last-ulp noise in cos/sqrt can
    never flip a min between two near-equal paths; every candidate path
    cost is then the same IEEE sum in both engines."""
    from kg_etl_spark.operators.bfs import sssp_rounds

    cust = _with_coords(read_table(spark, sf_dir, "customer"), "c_custkey")
    pairs = blocked_pairs(cust, id_col="c_custkey", max_dist_m=800.0).select(
        F.col("a_c_custkey").alias("a_id"),
        F.col("b_c_custkey").alias("b_id"),
        F.round("meters", 3).alias("w"),
    )
    sources = cust.filter(F.col("c_custkey") % 500 == 0).select(
        F.col("c_custkey").alias("node")
    )
    out = sssp_rounds(pairs, sources, rounds=3)
    return out.select("node", F.round("dist", 6).alias("dist"))


def _sssp_oracle(rounds: int = 3) -> str:
    head = f"""
WITH c AS ({_sql_cust_coords()}),
pairs AS (
  SELECT a.c_custkey AS a_id, b.c_custkey AS b_id,
         ROUND({_SQL_EQUIRECT.format(lat1='a.lat', lon1='a.lon', lat2='b.lat', lon2='b.lon')}, 3) AS w
  FROM c a JOIN c b ON a.c_custkey < b.c_custkey
  WHERE {_SQL_EQUIRECT.format(lat1='a.lat', lon1='a.lon', lat2='b.lat', lon2='b.lon')} <= 800.0
),
edges AS (SELECT a_id AS u, b_id AS v, w FROM pairs UNION ALL SELECT b_id, a_id, w FROM pairs),
d0 AS (SELECT c_custkey AS node, CAST(0.0 AS DOUBLE) AS dist FROM customer WHERE c_custkey % 500 = 0)"""
    steps = []
    for k in range(1, rounds + 1):
        steps.append(f""",
d{k} AS (
  SELECT node, MIN(dist) AS dist FROM (
    SELECT node, dist FROM d{k-1}
    UNION ALL
    SELECT e.v AS node, d.dist + e.w AS dist FROM d{k-1} d JOIN edges e ON e.u = d.node
  ) GROUP BY node
)""")
    return head + "".join(steps) + f"""
SELECT node, ROUND(dist, 6) AS dist FROM d{rounds}
"""


ORACLE_WEIGHTED_SSSP = _sssp_oracle(3)

QUERIES["weighted_sssp"] = q_weighted_sssp
ORACLES["weighted_sssp"] = ORACLE_WEIGHTED_SSSP


def q_harmonic_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Landmark-sampled harmonic centrality over the 800 m proximity
    graph (operators/bfs.py `harmonic_centrality`; sources = every
    500th customer, 3 relaxation rounds)."""
    from kg_etl_spark.operators.bfs import harmonic_centrality

    cust = _with_coords(read_table(spark, sf_dir, "customer"), "c_custkey")
    pairs = blocked_pairs(cust, id_col="c_custkey", max_dist_m=800.0).select(
        F.col("a_c_custkey").alias("a_id"),
        F.col("b_c_custkey").alias("b_id"),
        F.round("meters", 3).alias("w"),
    )
    sources = cust.filter(F.col("c_custkey") % 500 == 0).select(
        F.col("c_custkey").alias("node")
    )
    return harmonic_centrality(pairs, sources, rounds=3)


def _harmonic_oracle(rounds: int = 3) -> str:
    head = f"""
WITH c AS ({_sql_cust_coords()}),
pairs AS (
  SELECT a.c_custkey AS a_id, b.c_custkey AS b_id,
         ROUND({_SQL_EQUIRECT.format(lat1='a.lat', lon1='a.lon', lat2='b.lat', lon2='b.lon')}, 3) AS w
  FROM c a JOIN c b ON a.c_custkey < b.c_custkey
  WHERE {_SQL_EQUIRECT.format(lat1='a.lat', lon1='a.lon', lat2='b.lat', lon2='b.lon')} <= 800.0
),
edges AS (SELECT a_id AS u, b_id AS v, w FROM pairs UNION ALL SELECT b_id, a_id, w FROM pairs),
d0 AS (SELECT c_custkey AS source, c_custkey AS node, CAST(0.0 AS DOUBLE) AS dist
       FROM customer WHERE c_custkey % 500 = 0)"""
    steps = []
    for k in range(1, rounds + 1):
        steps.append(f""",
d{k} AS (
  SELECT source, node, MIN(dist) AS dist FROM (
    SELECT source, node, dist FROM d{k-1}
    UNION ALL
    SELECT d.source, e.v AS node, d.dist + e.w AS dist
    FROM d{k-1} d JOIN edges e ON e.u = d.node
  ) GROUP BY source, node
)""")
    return head + "".join(steps) + f"""
SELECT node, CAST(COUNT(*) AS BIGINT) AS n_reached_from,
       ROUND(CAST(SUM(CAST(ROUND(1.0 / dist, 9) AS DECIMAL(28,9))) AS DOUBLE), 6) AS harmonic
FROM d{rounds} WHERE dist > 0.0 GROUP BY node
"""


ORACLE_HARMONIC = _harmonic_oracle(3)

QUERIES["harmonic_centrality"] = q_harmonic_centrality
ORACLES["harmonic_centrality"] = ORACLE_HARMONIC


# --- k-truss decomposition (cohesive-subgraph family) -------------------


def q_ktruss_spatial(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-truss of the 800 m customer-proximity graph: the maximal
    subgraph where every edge closes >= 1 triangle
    (operators/ktruss.py — support peel over the degree-oriented edge
    iterator). Iterative peel is not SQL-expressible → rows-only; the
    planted twin below value-checks the peel semantics."""
    from kg_etl_spark.operators.ktruss import ktruss

    cust = _with_coords(read_table(spark, sf_dir, "customer"), "c_custkey")
    pairs = blocked_pairs(cust, id_col="c_custkey", max_dist_m=800.0).select(
        F.col("a_c_custkey").alias("a_id"), F.col("b_c_custkey").alias("b_id")
    )
    return ktruss(pairs, k=3)


def q_ktruss_planted_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Planted-provable twin for `ktruss_spatial` (the
    kcore_planted_recall pattern): K5 on custkeys 1..5 (every edge in
    3 triangles), a triangle strip on 6..12 (edges (i,i+1) and
    (i,i+2): interior short edges sit in exactly 2 triangles, long
    edges in 1), and a triangle-free bridge (1,6). The 4-truss peel
    needs support >= 2, so it must cascade: round 1 removes the
    support-1 long edges and the support-0 bridge, which strands the
    short path edges at support 0 for round 2, and only then does the
    probe see a clean frame — a bulk one-shot support filter would
    leave the strip's short edges behind and fail the hash. Unique
    4-truss: the K5, every edge at in-truss support 3."""
    from kg_etl_spark.operators.ktruss import ktruss

    ids = (
        read_table(spark, sf_dir, "customer")
        .select(F.col("c_custkey").alias("id"))
        .filter(F.col("id") <= 12)
    )
    a = ids.select(F.col("id").alias("a_id"))
    b = ids.select(F.col("id").alias("b_id"))
    clique = a.filter(F.col("a_id").between(1, 5)).join(
        b.filter(F.col("b_id").between(1, 5)), F.col("a_id") < F.col("b_id")
    )
    short = ids.filter((F.col("id") >= 6) & (F.col("id") <= 11)).select(
        F.col("id").alias("a_id"), (F.col("id") + 1).alias("b_id")
    )
    long_ = ids.filter((F.col("id") >= 6) & (F.col("id") <= 10)).select(
        F.col("id").alias("a_id"), (F.col("id") + 2).alias("b_id")
    )
    bridge = ids.filter(F.col("id") == 1).select(
        F.col("id").alias("a_id"), F.lit(6).cast(ids.schema["id"].dataType).alias("b_id")
    )
    edges = clique.unionByName(short).unionByName(long_).unionByName(bridge)
    return ktruss(edges, k=4)


ORACLE_KTRUSS_PLANTED = """
SELECT a.c_custkey AS u, b.c_custkey AS v, CAST(3 AS BIGINT) AS support
FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey
WHERE a.c_custkey BETWEEN 1 AND 5 AND b.c_custkey BETWEEN 1 AND 5
"""

QUERIES["ktruss_spatial"] = q_ktruss_spatial
QUERIES["ktruss_planted_recall"] = q_ktruss_planted_recall
ORACLES["ktruss_planted_recall"] = ORACLE_KTRUSS_PLANTED


# --- modularity of a community assignment -------------------------------


def q_modularity_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the NATION partition over the 800 m
    customer-proximity graph (operators/communities.py `modularity`):
    per-nation contribution rows + the community=NULL grand total. The
    synthetic coordinate scramble is nation-independent, so Q should
    sit near 0 — the value check is exact either way (pure integer
    aggregates into one rounded division)."""
    from kg_etl_spark.operators.communities import modularity

    cust = _with_coords(read_table(spark, sf_dir, "customer"), "c_custkey")
    pairs = blocked_pairs(cust, id_col="c_custkey", max_dist_m=800.0).select(
        F.col("a_c_custkey").alias("a_id"), F.col("b_c_custkey").alias("b_id")
    )
    asg = read_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("node"), F.col("c_nationkey").alias("community")
    )
    return modularity(pairs, asg)


_D_MOD = _SQL_EQUIRECT.format(lat1="a.lat", lon1="a.lon", lat2="b.lat", lon2="b.lon")
ORACLE_MODULARITY = f"""
WITH c AS ({_sql_cust_coords()}),
e AS (
  SELECT a.c_custkey AS a_id, b.c_custkey AS b_id
  FROM c a JOIN c b ON a.c_custkey < b.c_custkey
  WHERE {_D_MOD} <= 800.0
),
m AS (SELECT COUNT(*) AS m FROM e),
t AS (
  SELECT ca.c_nationkey AS ca_n, cb.c_nationkey AS cb_n
  FROM e JOIN customer ca ON ca.c_custkey = e.a_id
         JOIN customer cb ON cb.c_custkey = e.b_id
),
deg AS (
  SELECT community, COUNT(*) AS degree_sum FROM (
    SELECT ca_n AS community FROM t UNION ALL SELECT cb_n FROM t
  ) GROUP BY community
),
intra AS (
  SELECT ca_n AS community, COUNT(*) AS intra_edges FROM t
  WHERE ca_n = cb_n GROUP BY ca_n
),
per_c AS (
  SELECT d.community,
         CAST(COALESCE(i.intra_edges, 0) AS BIGINT) AS intra_edges,
         CAST(d.degree_sum AS BIGINT) AS degree_sum,
         ROUND(
           COALESCE(i.intra_edges, 0) / CAST(m.m AS DOUBLE)
           - (d.degree_sum / CAST(2 * m.m AS DOUBLE)) * (d.degree_sum / CAST(2 * m.m AS DOUBLE)), 6
         ) AS contribution
  FROM deg d LEFT JOIN intra i USING (community), m
)
SELECT community, intra_edges, degree_sum, contribution FROM per_c
UNION ALL
SELECT NULL,
       CAST(SUM(intra_edges) AS BIGINT),
       CAST(SUM(degree_sum) AS BIGINT),
       ROUND(
         CAST(CAST(SUM(intra_edges) AS HUGEINT) AS DOUBLE) / CAST(m.m AS DOUBLE)
         - CAST(SUM(CAST(degree_sum AS HUGEINT) * degree_sum) AS DOUBLE)
           / (CAST(2 * m.m AS DOUBLE) * CAST(2 * m.m AS DOUBLE)), 6
       )
FROM per_c, m GROUP BY m.m
"""

QUERIES["modularity_nations"] = q_modularity_nations
ORACLES["modularity_nations"] = ORACLE_MODULARITY

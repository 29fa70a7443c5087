"""Entity-resolution catalog: the reference's centerpiece pipeline
(blocking → scoring → accept → components → canonical representative)
run over `part` rows with synthetic coordinates.

The oracle-checked variant uses a single accept band (meters ≤ 250 AND
token-Jaccard ≥ 0.25) so the DuckDB mirror stays tractable; the
fuzzy-scored variant (difflib ratio) is Spark-only (rows-only check).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kg_etl_spark.operators.er import candidate_links, resolve_entities
from kg_etl_spark.queries.geo import _sql_lat, _sql_lon, _SQL_EQUIRECT, synth_lat, synth_lon
from kg_etl_spark.session import read_table

_ACCEPT_M = 250.0
_ACCEPT_JAC = 0.25
_BANDS = [(_ACCEPT_M, _ACCEPT_JAC)]

_SQL_TOKS = "list_filter(string_split_regex(trim(lower({c})), '\\s+'), x -> len(x) > 0)"
_SQL_JAC = (
    "CASE WHEN len(list_distinct(list_intersect({a}, {b}))) + len(list_distinct(list_concat({a}, {b}))) > 0 "
    "THEN CAST(len(list_distinct(list_intersect({a}, {b}))) AS DOUBLE) / len(list_distinct(list_concat({a}, {b}))) "
    "ELSE 0.0 END"
)


def _parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = read_table(spark, sf_dir, "part")
    return p.withColumn("lat", synth_lat(F.col("p_partkey"))).withColumn(
        "lon", synth_lon(F.col("p_partkey"))
    )


_SQL_PARTS = (
    f"SELECT p_partkey, p_name, {_sql_lat('p_partkey')} AS lat, {_sql_lon('p_partkey')} AS lon FROM part"
)
_D_AB = _SQL_EQUIRECT.format(lat1="a.lat", lon1="a.lon", lat2="b.lat", lon2="b.lon")
_J_AB = _SQL_JAC.format(a="a.toks", b="b.toks")

_SQL_LINKS = f"""
WITH p AS ({_SQL_PARTS}),
t AS (SELECT p_partkey, p_name, lat, lon, {_SQL_TOKS.format(c='p_name')} AS toks FROM p),
cand AS (
  SELECT a.p_partkey AS a_id, b.p_partkey AS b_id, a.p_name AS a_name, b.p_name AS b_name,
         {_D_AB} AS meters, {_J_AB} AS name_jac
  FROM t a JOIN t b ON a.p_partkey < b.p_partkey
  WHERE {_D_AB} <= {_ACCEPT_M}
)
SELECT a_id, b_id, a_name, b_name, ROUND(meters, 1) AS meters, ROUND(name_jac, 6) AS name_jac
FROM cand WHERE name_jac >= {_ACCEPT_JAC}
"""


def q_er_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    parts = _parts(spark, sf_dir)
    links = candidate_links(parts, "p_partkey", "p_name").filter(
        (F.col("meters") <= _ACCEPT_M) & (F.col("name_jac") >= _ACCEPT_JAC)
    )
    return links.select(
        "a_id", "b_id", "a_name", "b_name",
        F.round("meters", 1).alias("meters"),
        F.round("name_jac", 6).alias("name_jac"),
    )


ORACLE_ER_LINKS = _SQL_LINKS


def q_er_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    parts = _parts(spark, sf_dir)
    _links, assignments = resolve_entities(
        parts, "p_partkey", "p_name", bands=_BANDS, sim_col="name_jac"
    )
    return assignments.select("id", "canonical_id", "canonical_name", "n_members")


ORACLE_ER_CANONICAL = f"""
WITH RECURSIVE p AS ({_SQL_PARTS}),
t AS (SELECT p_partkey, p_name, lat, lon, {_SQL_TOKS.format(c='p_name')} AS toks FROM p),
links AS (
  SELECT a.p_partkey AS a_id, b.p_partkey AS b_id
  FROM t a JOIN t b ON a.p_partkey < b.p_partkey
  WHERE {_D_AB} <= {_ACCEPT_M} AND {_J_AB} >= {_ACCEPT_JAC}
),
edges AS (SELECT a_id AS s, b_id AS d FROM links UNION ALL SELECT b_id, a_id FROM links),
reach(node, r) AS (
  SELECT DISTINCT s, s FROM edges
  UNION
  SELECT e.d, reach.r FROM reach JOIN edges e ON e.s = reach.node
),
comp AS (SELECT node, MIN(r) AS comp FROM reach GROUP BY node),
asg AS (
  SELECT p.p_partkey AS id, p.p_name AS name, COALESCE(c.comp, p.p_partkey) AS canonical_id
  FROM p LEFT JOIN comp c ON c.node = p.p_partkey
),
rep AS (
  SELECT canonical_id, name AS canonical_name FROM (
    SELECT canonical_id, name,
           ROW_NUMBER() OVER (PARTITION BY canonical_id ORDER BY LENGTH(name) DESC, name ASC, id ASC) AS rn
    FROM asg
  ) WHERE rn = 1
),
members AS (SELECT canonical_id, COUNT(*) AS n_members FROM asg GROUP BY canonical_id)
SELECT a.id, a.canonical_id, r.canonical_name, m.n_members
FROM asg a JOIN rep r USING (canonical_id) JOIN members m USING (canonical_id)
"""


def q_er_fuzzy_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy-scored candidate pairs (X1 pandas UDF, difflib
    `SequenceMatcher.ratio`; the reference's rapidfuzz scorer waits
    until rapidfuzz is in the environment) — Spark-only."""
    parts = _parts(spark, sf_dir)
    links = candidate_links(parts, "p_partkey", "p_name", use_fuzzy=True).filter(
        (F.col("meters") <= _ACCEPT_M) & (F.col("fuzzy_sim") >= 0.5)
    )
    return links.select(
        "a_id", "b_id", F.round("meters", 1).alias("meters"), F.round("fuzzy_sim", 3).alias("fuzzy_sim")
    )


def q_levenshtein_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance candidate links between supplier names, blocked by
    nation (native F.levenshtein — JVM-side, no UDF; complements the
    Jaccard/fuzzy-ratio legs of the ER family). Nation blocking bounds the
    pair count the same way the geo grid does for spatial ER."""
    s = read_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name", "s_nationkey")
    a = s.select(
        F.col("s_suppkey").alias("a_id"), F.col("s_name").alias("a_name"), F.col("s_nationkey").alias("nk")
    )
    b = s.select(
        F.col("s_suppkey").alias("b_id"), F.col("s_name").alias("b_name"), F.col("s_nationkey").alias("nk")
    )
    return (
        a.join(b, "nk")
        .filter(F.col("a_id") < F.col("b_id"))
        .withColumn("lev", F.levenshtein("a_name", "b_name"))
        .filter(F.col("lev") <= 2)
        .select("a_id", "b_id", "lev")
    )


ORACLE_LEVENSHTEIN = """
SELECT a.s_suppkey AS a_id, b.s_suppkey AS b_id,
       CAST(levenshtein(a.s_name, b.s_name) AS INTEGER) AS lev
FROM supplier a JOIN supplier b
  ON a.s_nationkey = b.s_nationkey AND a.s_suppkey < b.s_suppkey
WHERE levenshtein(a.s_name, b.s_name) <= 2
"""


QUERIES = {
    "er_links": q_er_links,
    "er_canonical": q_er_canonical,
    "er_fuzzy_links": q_er_fuzzy_links,
    "levenshtein_links": q_levenshtein_links,
}

ORACLES = {
    "er_links": ORACLE_ER_LINKS,
    "er_canonical": ORACLE_ER_CANONICAL,
    "levenshtein_links": ORACLE_LEVENSHTEIN,
}


def q_er_fuzzy_identical_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Planted-provable twin of `er_fuzzy_links` (the
    minhash_identical_recall pattern): copies of the first 50 parts are
    planted at the SAME coordinates with the SAME name, so the fuzzy
    kernel must score exactly 1.0 (identical strings — true for any
    sane similarity) and distance exactly 0.0 — every planted pair
    passes the accept filter independent of the difflib ratio's
    mid-range behavior, giving the fuzzy ER leg (blocking, pairing,
    UDF plumbing, filter) a full value-hash CORRECTNESS row."""
    parts = _parts(spark, sf_dir)
    copies = parts.filter(F.col("p_partkey") < 50).select(
        (F.col("p_partkey") + 1_000_000).alias("p_partkey"),
        "p_name",
        "lat",
        "lon",
    )
    corpus = parts.select("p_partkey", "p_name", "lat", "lon").unionByName(copies)
    links = candidate_links(corpus, "p_partkey", "p_name", use_fuzzy=True).filter(
        (F.col("meters") <= _ACCEPT_M) & (F.col("fuzzy_sim") >= 0.5)
    )
    return links.filter(F.col("b_id") == F.col("a_id") + 1_000_000).select(
        "a_id",
        "b_id",
        F.round("meters", 1).alias("meters"),
        F.round("fuzzy_sim", 3).alias("fuzzy_sim"),
    )


ORACLE_ER_FUZZY_IDENTICAL = """
SELECT p_partkey AS a_id, p_partkey + 1000000 AS b_id,
       0.0 AS meters, 1.0 AS fuzzy_sim
FROM part WHERE p_partkey < 50
"""

QUERIES["er_fuzzy_identical_recall"] = q_er_fuzzy_identical_recall
ORACLES["er_fuzzy_identical_recall"] = ORACLE_ER_FUZZY_IDENTICAL


def q_monge_elkan_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monge-Elkan name similarity (normalized-Levenshtein inner
    kernel, symmetric) over nation-blocked customer pairs with close
    ids (functions/text.py `monge_elkan` — nested native HOFs over
    `levenshtein`, zero Python). The blocked candidate set keeps the
    O(|A|·|B|)-per-pair kernel off the cross product."""
    from kg_etl_spark.functions.text import monge_elkan

    cust = read_table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_nationkey",
        F.filter(
            F.split(F.replace(F.lower(F.trim("c_name")), F.lit("#"), F.lit(" ")), " "),
            lambda t: F.length(t) > 0,
        ).alias("_t"),
    )
    a = cust.select(
        F.col("c_custkey").alias("a_id"), F.col("c_nationkey").alias("nk"),
        F.col("_t").alias("a_t"),
    )
    b = cust.select(
        F.col("c_custkey").alias("b_id"), F.col("c_nationkey").alias("nk"),
        F.col("_t").alias("b_t"),
    )
    pairs = a.join(b, "nk").filter(
        (F.col("a_id") < F.col("b_id")) & (F.col("b_id") <= F.col("a_id") + 3)
    )
    return pairs.select(
        "a_id", "b_id", F.round(monge_elkan(F.col("a_t"), F.col("b_t")), 6).alias("me_sim")
    )


ORACLE_MONGE_ELKAN = """
WITH c AS (
  SELECT c_custkey, c_nationkey,
         list_filter(string_split(replace(lower(trim(c_name)), '#', ' '), ' '),
                     x -> len(x) > 0) AS t
  FROM customer
)
SELECT a.c_custkey AS a_id, b.c_custkey AS b_id,
       ROUND((
         list_sum(list_transform(a.t, x -> list_max(list_transform(b.t,
           y -> 1.0 - CAST(levenshtein(x, y) AS DOUBLE) / CAST(greatest(length(x), length(y)) AS DOUBLE)
         )))) / len(a.t)
         +
         list_sum(list_transform(b.t, x -> list_max(list_transform(a.t,
           y -> 1.0 - CAST(levenshtein(x, y) AS DOUBLE) / CAST(greatest(length(x), length(y)) AS DOUBLE)
         )))) / len(b.t)
       ) / 2.0, 6) AS me_sim
FROM c a JOIN c b
  ON a.c_nationkey = b.c_nationkey
 AND a.c_custkey < b.c_custkey AND b.c_custkey <= a.c_custkey + 3
"""

QUERIES["monge_elkan_links"] = q_monge_elkan_links
ORACLES["monge_elkan_links"] = ORACLE_MONGE_ELKAN


# --- Sorted-neighborhood (SNM) blocking -----------------------------------


_SNM_W = 5


def q_snm_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood record linkage (Hernández & Stolfo, SIGMOD
    1995): rank suppliers by the (s_name, s_suppkey) sort key — a
    STRING key, so the rank rides `global_row_number_by`
    (operators/rankdev.py), range-repartitioned, never one task — and
    pair every record with its ≤ w−1 = 4 successors in rank order.
    Candidates score native `levenshtein` on the name; pairs with
    distance ≤ 10 survive. A third blocking strategy beside the
    grid-spatial and token-inverted-index blockers.

    Pair generation is an equi-join on the rank BUCKET (rank div w)
    with each record probing its own + previous bucket — the
    multi_touch_attribution band pattern, never a rank-range theta
    join.

    100 TB shape: two row-proportional shuffles for the rank, one
    bucket-keyed equi-join with fan-out ≤ 2w per record, map-side
    levenshtein. At w=5 the candidate count is 4n — linear, the whole
    point of SNM."""
    from kg_etl_spark.operators.rankdev import global_row_number_by

    sup = read_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name"
    )
    ranked = global_row_number_by(sup, ["s_name", "s_suppkey"], out_col="rk")
    a = ranked.select(
        F.col("s_suppkey").alias("a_id"),
        F.col("s_name").alias("a_name"),
        F.col("rk").alias("a_rk"),
        (F.col("rk") / _SNM_W).cast("long").alias("_bk"),
    )
    b = ranked.select(
        F.col("s_suppkey").alias("b_id"),
        F.col("s_name").alias("b_name"),
        F.col("rk").alias("b_rk"),
        (F.col("rk") / _SNM_W).cast("long").alias("_bk0"),
    )
    probe = b.select(
        "b_id", "b_name", "b_rk", F.explode(F.array(F.col("_bk0"), F.col("_bk0") - 1)).alias("_bk")
    )
    pairs = (
        a.join(probe, "_bk")
        .filter(
            (F.col("b_rk") > F.col("a_rk"))
            & (F.col("b_rk") - F.col("a_rk") <= _SNM_W - 1)
        )
        .select(
            "a_id",
            "b_id",
            (F.col("b_rk") - F.col("a_rk")).alias("rank_dist"),
            F.levenshtein("a_name", "b_name").alias("lev"),
        )
        .filter(F.col("lev") <= 10)
    )
    return pairs.select("a_id", "b_id", "rank_dist", F.col("lev").cast("long").alias("lev"))


ORACLE_SNM = f"""
WITH ranked AS (
  SELECT s_suppkey, s_name,
         ROW_NUMBER() OVER (ORDER BY s_name, s_suppkey) AS rk
  FROM supplier
)
SELECT a.s_suppkey AS a_id, b.s_suppkey AS b_id,
       CAST(b.rk - a.rk AS BIGINT) AS rank_dist,
       CAST(levenshtein(a.s_name, b.s_name) AS BIGINT) AS lev
FROM ranked a JOIN ranked b
  ON b.rk > a.rk AND b.rk - a.rk <= {_SNM_W - 1}
WHERE levenshtein(a.s_name, b.s_name) <= 10
"""

QUERIES["snm_links"] = q_snm_links
ORACLES["snm_links"] = ORACLE_SNM

"""The benchmark's workloads: what one operation is, and how its output
is checked.

* ``KgBuild`` — one operation is a full ``run_kg_pipeline`` build with
  exports into a fresh directory.
* ``QueryMix`` — one operation is one catalog query, computed to
  completion by a one-row digest aggregate over every output column.
"""

from __future__ import annotations

import contextlib
import csv
import glob
import hashlib
import math
import os
import shutil
import threading

# Catalog queries in the analyst mix, covering the relational, geo, ER,
# text, vector, events, analytic and filter query modules.
# `user_link_prediction` is left out: one run costs more than the rest
# of the mix together and would dominate it.
MIX = (
    "pricing_summary", "multi_hop_revenue", "topk_per_group", "zscore_bucket",
    "blocked_spatial_pairs", "nearest_supplier", "spatial_components", "er_canonical",
    "exact_dedup", "minhash_lsh_dedup", "ngram_jaccard_dedup", "embedding_topk",
    "sessionize", "rfm_segments", "hits_scores", "gopher_quality", "hybrid_rrf_search",
)
# The serving mix: MIX without its heaviest queries (er_canonical, the
# two near-duplicate detectors, hits_scores) and two that repeat an
# operator the mix already covers (multi_hop_revenue,
# blocked_spatial_pairs), so the four clients of serve_small run whole
# passes in a few seconds. It keeps a query with eager jobs before its
# action (rfm_segments) and one with lineage cuts (spatial_components).
SERVE_MIX = (
    "pricing_summary", "topk_per_group", "zscore_bucket", "nearest_supplier",
    "spatial_components", "exact_dedup", "embedding_topk", "sessionize", "rfm_segments",
    "gopher_quality", "hybrid_rrf_search",
)
# Oracles too slow to run after every benchmark run (DuckDB takes from
# 20 s to minutes on them); the goldens cover them for the default seed.
SLOW_ORACLES = ("er_canonical", "ngram_jaccard_dedup")

TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings")


class CheckFailed(Exception):
    """An operation completed but its output is wrong."""


# --- query mix ----------------------------------------------------------


def digest_frame(df):
    """One-row aggregate (rows, hash) over every column of ``df``.

    The hash is a sum of per-row xxhash64 values, so it does not depend
    on row order or partitioning. Floating columns are rounded to 6
    decimals and nested ones serialized to JSON first. Every output
    column feeds the hash, so none can be pruned away."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    cols = []
    for f in df.schema.fields:
        c = df[f"`{f.name}`"]
        if isinstance(f.dataType, (T.DoubleType, T.FloatType)):
            c = F.round(c, 6)
        elif isinstance(f.dataType, (T.ArrayType, T.MapType, T.StructType)):
            c = F.to_json(c)
        cols.append(c)
    h = F.xxhash64(*cols) if cols else F.lit(0)
    return df.select(h.alias("_h")).agg(
        F.count(F.lit(1)).alias("rows"),
        F.coalesce(F.sum(F.pmod("_h", F.lit(2147483647))), F.lit(0)).alias("hash"),
    )


def _norm_cell(v) -> str:
    """Type-faithful string form of one result cell (floats at 6 dp)."""
    import numpy as np
    import pandas as pd

    if v is None or v is pd.NaT:
        return "NULL"
    if isinstance(v, (bool, np.bool_)):
        return str(bool(v)).lower()
    if isinstance(v, (float, np.floating)):
        v = float(v)
        return "NaN" if math.isnan(v) else f"{v:.6f}"
    if isinstance(v, np.integer):
        return str(int(v))
    if isinstance(v, (np.ndarray, list, tuple)):
        items = v.tolist() if isinstance(v, np.ndarray) else v
        return "[" + ", ".join(_norm_cell(x) for x in items) + "]"
    return str(v)


def frame_digest(pdf) -> tuple[int, str]:
    """(rows, sha256) of a pandas result, insensitive to row and column
    order — the form stored in the goldens and compared with DuckDB."""
    cols = sorted(pdf.columns)
    rows = sorted(
        "\x1f".join(_norm_cell(v) for v in r)
        for r in pdf[cols].itertuples(index=False, name=None)
    )
    h = hashlib.sha256("\x1e".join(cols).encode())
    for r in rows:
        h.update(b"\x1e" + r.encode())
    return len(rows), h.hexdigest()


class QueryMix:
    """Runs catalog queries over one generated data directory."""

    def __init__(self, spark, data_dir: str, names: tuple[str, ...]):
        from kg_etl_spark.queries import ORACLES, QUERIES

        self.spark = spark
        self.data_dir = data_dir
        self.queries = {n: QUERIES[n] for n in names}
        self.oracles = {n: ORACLES[n] for n in names if n in ORACLES}
        self.fast_oracles = {n: q for n, q in self.oracles.items() if n not in SLOW_ORACLES}
        self.reference: dict[str, tuple[int, str]] = {}
        self.expected: dict[str, tuple[int, int]] = {}
        self._lock = threading.Lock()
        # span factory; the tracer replaces it to time the three phases
        self.span = lambda name: contextlib.nullcontext()

    def build(self, name: str):
        return self.queries[name](self.spark, self.data_dir)

    def prime(self, name: str) -> None:
        """First run of a query: collect it and keep the digest of the
        rows, which the goldens and the DuckDB oracles are compared with."""
        self.reference[name] = frame_digest(self.build(name).toPandas())

    def run(self, name: str) -> None:
        """One operation: build the query, plan it and compute it to
        completion."""
        with self.span("queries.build"):
            df = self.build(name)
        action = digest_frame(df)
        with self.span("queries.plan"):
            action._jdf.queryExecution().executedPlan()
        with self.span("queries.exec"):
            row = action.collect()[0]
        self.check(name, row["rows"], row["hash"])

    def check(self, name: str, rows: int, h: int) -> None:
        """The first run's digest must match the collected row count; every
        later run must reproduce the first run's digest."""
        with self._lock:
            want = self.expected.setdefault(name, (rows, h))
        if rows != self.reference[name][0] or (rows, h) != want:
            raise CheckFailed(f"{name}: got rows={rows} hash={h}, expected rows="
                              f"{self.reference[name][0]} digest={want}")

    def check_oracles(self, names=None) -> list[str]:
        """Compare the primed results with their DuckDB oracles (the fast
        ones unless ``names`` is given); returns the names that disagree."""
        import duckdb

        con = duckdb.connect()
        try:
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"read_parquet('{self.data_dir}/{t}.parquet')")
            return [n for n in (self.fast_oracles if names is None else names)
                    if n in self.reference
                    and frame_digest(con.execute(self.oracles[n]).df()) != self.reference[n]]
        finally:
            con.close()


# --- knowledge-graph build ----------------------------------------------

EXPORTS = ("places.csv", "place_links.csv", "place_canonical_map.csv",
           "listing_near_place.csv", "listing_city.csv", "hosts.csv",
           "place_reviews.jsonl", "poi_cards.json")


def export_files(path: str) -> list[str]:
    """Files of one export: the file itself, or the part files of a
    directory."""
    return [path] if os.path.isfile(path) else sorted(
        f for f in glob.glob(os.path.join(path, "part-*")) if not f.endswith(".crc"))


def export_lines(path: str) -> list[str]:
    """Lines of one export."""
    lines: list[str] = []
    for f in export_files(path):
        with open(f, encoding="utf-8") as fh:
            lines.extend(fh.read().splitlines())
    return lines


def export_digests(out_dir: str) -> dict[str, str]:
    """Order-insensitive digest of every export: the sum of the sha256
    values of its lines, streamed so checking a build holds one line in
    memory at a time."""
    out = {}
    for name in EXPORTS:
        total = 0
        for f in export_files(os.path.join(out_dir, name)):
            with open(f, "rb") as fh:
                for line in fh:
                    total += int.from_bytes(hashlib.sha256(line.rstrip(b"\r\n")).digest(), "big")
        out[name] = f"{total % 2**256:064x}"
    return out


class KgBuild:
    """Runs ``run_kg_pipeline`` over the generated Parquet inputs."""

    def __init__(self, spark, in_dir: str, truth: dict):
        self.spark = spark
        self.in_dir = in_dir
        self.truth = truth
        self.expected: dict[str, str] | None = None

    def run(self, out_dir: str) -> dict:
        """One operation: read the inputs, build, write every export."""
        from kg_etl_spark.pipelines import run_kg_pipeline

        read = self.spark.read.parquet
        return run_kg_pipeline(
            self.spark,
            read(os.path.join(self.in_dir, "places.parquet")),
            read(os.path.join(self.in_dir, "cities.parquet")),
            reviews_raw=read(os.path.join(self.in_dir, "reviews.parquet")),
            listings=read(os.path.join(self.in_dir, "listings.parquet")),
            out_dir=out_dir,
        )

    def check_semantics(self, res: dict, out_dir: str) -> None:
        """Checks against the planted truth (first build only)."""
        from pyspark.sql import functions as F

        with open(os.path.join(out_dir, "places.csv"), newline="") as f:
            canon = {r["place_id"]: r["place_canonical_id"] for r in csv.DictReader(f)}
        t = self.truth
        if len(canon) != t["staged_places"]:
            raise CheckFailed(f"staged {len(canon)} places, expected {t['staged_places']}")
        for triple in t["triples"]:
            if len({canon.get(p) for p in triple}) != 1 or None in {canon.get(p) for p in triple}:
                raise CheckFailed(f"duplicate triple {triple} not merged")
        n_canon = len(set(canon.values()))
        want = t["staged_places"] - 2 * len(t["triples"])
        if n_canon != want:
            raise CheckFailed(f"{n_canon} canonical places, expected {want}")
        lifted = len(export_lines(os.path.join(out_dir, "place_reviews.jsonl")))
        if lifted != t["valid_reviews"]:
            raise CheckFailed(f"lifted {lifted} reviews, expected {t['valid_reviews']}")
        near_rows = len(export_lines(os.path.join(out_dir, "listing_near_place.csv"))) - 1
        nearby = res["canonical_places"].agg(F.sum("listings_nearby")).collect()[0][0]
        if near_rows <= 0 or nearby != near_rows:
            raise CheckFailed(f"sum(listings_nearby)={nearby} != NEAR rows {near_rows}")

    def check(self, res: dict, out_dir: str) -> None:
        digests = export_digests(out_dir)
        if self.expected is None:
            self.check_semantics(res, out_dir)
            self.expected = digests
        elif digests != self.expected:
            bad = sorted(k for k in digests if digests[k] != self.expected[k])
            raise CheckFailed(f"exports differ from the first build: {bad}")

    @staticmethod
    def release(res: dict, out_dir: str) -> None:
        """Drop what one build left behind: its cached staging frame and
        its export directory."""
        res["staged_places"].unpersist()
        shutil.rmtree(out_dir, ignore_errors=True)

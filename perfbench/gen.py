"""Seeded input generators for the benchmark.

Two families, both written with pyarrow (no Spark) so set-up cost does
not depend on the engine under test, and both byte-identical for a
given seed:

* ``write_tables`` — the TPC-H-like star schema plus the ``events``,
  ``documents`` and ``embeddings`` tables the query catalog reads, one
  Parquet file per table, with the value domains of the catalog's test
  data (names, segments, vocabularies, date ranges).
* ``write_kg_inputs`` — places, cities, reviews and listings for
  ``pipelines.run_kg_pipeline``, with planted structure the checks
  verify: 3-way duplicate clusters, singletons, three kinds of city
  geometry, orphan and empty-text reviews, messy listing prices.
"""

from __future__ import annotations

import hashlib
import math
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --- catalog tables ------------------------------------------------------

# Row counts per table for each scale. `customer` is kept large enough at
# the small scale that the spatial queries (keys hashed onto a ~33 km
# grid) find close pairs.
SCALES = {
    "small": dict(customer=600, supplier=20, part=400, orders=3000, lineitem=12000,
                  events=2000, users=30, documents=1000, embeddings=1000),
    "medium": dict(customer=3000, supplier=200, part=4000, orders=30000, lineitem=120000,
                   events=20000, users=300, documents=3000, embeddings=2000),
}

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
_EMB_DIM = 64
_DAY_US = 86_400_000_000


def _ts(days_from: str, us: np.ndarray) -> pa.Array:
    """Timestamps ``us`` microseconds after ``days_from``, stored as
    TIMESTAMP(NANOS) like the catalog's test data (pandas' default), so
    ``read_table``'s nanosecond conversion is part of every scan."""
    base = np.datetime64(days_from, "us").astype(np.int64)
    return pa.array((base + us.astype(np.int64)) * 1000, pa.timestamp("ns"))


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def write_tables(out_dir: str, seed: int, scale: str) -> dict[str, int]:
    """Write every catalog table under ``out_dir`` as ``<name>.parquet``;
    returns the row count per table."""
    n = SCALES[scale]
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    tables: dict[str, pa.Table] = {}

    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": _REGIONS,
    })
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })

    nc = n["customer"]
    tables["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, nc), 2),
        "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, nc)].tolist(),
    })

    ns = n["supplier"]
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, ns), 2),
    })

    npart = n["part"]
    adj = rng.integers(0, len(_PART_ADJ), npart)
    noun = rng.integers(0, len(_PART_NOUN), npart)
    tables["part"] = pa.table({
        "p_partkey": pa.array(np.arange(npart), pa.int64()),
        "p_name": [f"{_PART_ADJ[a]} {_PART_NOUN[b]}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
        "p_type": np.array(_PART_TYPES)[rng.integers(0, 6, npart)].tolist(),
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(npart) % 200) * 0.1, 1),
    })

    no = n["orders"]
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, no)].tolist(),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, no), 2),
        "o_orderdate": _ts("1995-01-01", rng.integers(0, 2404, no) * _DAY_US),
        "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, no)].tolist(),
    })

    nl = n["lineitem"]
    qty = rng.integers(1, 51, nl).astype(np.float64)
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, nl), 2),
        "l_discount": np.round(rng.integers(0, 11, nl) * 0.01, 2),
        "l_tax": np.round(rng.integers(0, 9, nl) * 0.01, 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)].tolist(),
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)].tolist(),
        "l_shipdate": _ts("1995-01-02", rng.integers(0, 2498, nl) * _DAY_US),
    })

    ne = n["events"]
    ts = np.sort(rng.integers(0, 30 * _DAY_US, ne))
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": _ts("2024-01-01", ts),
        "user_id": pa.array(rng.integers(0, n["users"], ne), pa.int64()),
        "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, ne)].tolist(),
        "value": np.round(rng.exponential(60.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })

    nd = n["documents"]
    texts: list[str] = []
    for i in range(nd):
        if i >= 20 and i % 20 == 11:
            # near-duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i >= 20 and i % 97 == 5:
            texts.append(texts[int(rng.integers(0, i))])  # exact duplicate
        else:
            words = np.array(_VOCAB)[rng.integers(0, len(_VOCAB), int(rng.integers(10, 100)))]
            texts.append(" ".join(words.tolist()))
    tables["documents"] = pa.table({
        "doc_id": pa.array(np.arange(nd), pa.int64()),
        "text": texts,
        "lang": np.array(_LANGS)[rng.choice(5, nd, p=_LANG_P)].tolist(),
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })

    nv = n["embeddings"]
    vecs = rng.normal(size=(nv, _EMB_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(nv), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nv), pa.int32()),
    })

    for name, t in tables.items():
        _write(t, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


# --- knowledge-graph inputs ---------------------------------------------

KG_SIZES = dict(cities=40, entities=3200, reviews_per_place=5, listings=2400)

_SYLL = [c + v for c in "bdfgklmnprstvz" for v in "aeiou"]  # 70 syllables
_SOURCES = ["yelp", "wikivoyage", "reddit"]
_CITY_KINDS = ("polygon", "bbox", "radius")
_M_PER_DEG = 111_320.0
_CITY_HALF_KM = 4.0  # places lie within this distance of the center


def _word(k: int) -> str:
    """Distinct pronounceable token for every non-negative k."""
    out = []
    while True:
        out.append(_SYLL[k % len(_SYLL)])
        k //= len(_SYLL)
        if k == 0:
            return "".join(out)


def _offset(lat: float, lon: float, dn_m: float, de_m: float) -> tuple[float, float]:
    return (
        lat + dn_m / _M_PER_DEG,
        lon + de_m / (_M_PER_DEG * math.cos(math.radians(lat))),
    )


def _city_rows(n_cities: int) -> list[dict]:
    rows = []
    for c in range(n_cities):
        lat0 = 40.0 + 3.0 * (c % 6)
        lon0 = -4.0 + 3.0 * (c // 6)
        kind = _CITY_KINDS[c % 3]
        half = _CITY_HALF_KM + 1.0
        dlat = half * 1000.0 / _M_PER_DEG
        dlon = half * 1000.0 / (_M_PER_DEG * math.cos(math.radians(lat0)))
        row = {
            "slug": f"city-{c:02d}", "name": f"City {_word(c + 100).title()}", "country": "ZZ",
            "aliases": [f"{_word(c + 100)}town"], "center_lat": lat0, "center_lon": lon0,
            "radius_km": None, "bbox_south": None, "bbox_west": None, "bbox_north": None,
            "bbox_east": None, "polygon": None,
        }
        if kind == "polygon":
            # octagon circumscribing the place disc
            r = half * 1000.0 / math.cos(math.pi / 8)
            row["polygon"] = [
                dict(zip(("lat", "lon"), _offset(lat0, lon0, r * math.sin(a), r * math.cos(a))))
                for a in (2 * math.pi * i / 8 + math.pi / 8 for i in range(8))
            ]
        elif kind == "bbox":
            row.update(bbox_south=lat0 - dlat, bbox_west=lon0 - dlon,
                       bbox_north=lat0 + dlat, bbox_east=lon0 + dlon)
        else:
            row["radius_km"] = half
        rows.append(row)
    return rows


def write_kg_inputs(out_dir: str, seed: int) -> dict:
    """Write places/cities/reviews/listings Parquet of ``KG_SIZES`` under
    ``out_dir``.

    Returns the planted truth the output checks need: the duplicate
    triples, how many places must stage, and how many reviews must be
    lifted.
    """
    s = KG_SIZES
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out_dir, exist_ok=True)
    cities = _city_rows(s["cities"])

    place_rows: list[tuple] = []
    triples: list[list[str]] = []
    for e in range(s["entities"]):
        city = cities[int(rng.integers(0, len(cities)))]
        r = _CITY_HALF_KM * 1000.0 * math.sqrt(rng.uniform())
        a = rng.uniform(0, 2 * math.pi)
        lat, lon = _offset(city["center_lat"], city["center_lon"], r * math.sin(a), r * math.cos(a))
        # two tokens unique to this entity: names of different entities
        # share no token, so only planted duplicates can match
        toks = [_word(2 * e + 5000), _word(2 * e + 5001)]
        if e % 4 == 0:  # planted duplicate triple, one row per source
            ids = []
            for k, src in enumerate(_SOURCES):
                jitter = rng.uniform(-15.0, 15.0, 2)
                plat, plon = _offset(lat, lon, jitter[0], jitter[1])
                name = " ".join(toks if k != 1 else toks[::-1])
                name = name.title() if k == 2 else name
                pid = f"{src[:2]}-{e:06d}"
                ids.append(pid)
                place_rows.append((pid, src, name, round(plat, 7), round(plon, 7)))
            triples.append(ids)
        else:
            src = _SOURCES[e % 3]
            place_rows.append((f"{src[:2]}-{e:06d}", src, " ".join(toks), round(lat, 7), round(lon, 7)))
    staged = place_rows[:]
    # unassignable places: far from every city, dropped at staging
    for u in range(max(1, s["entities"] // 100)):
        place_rows.append((f"xx-{u:06d}", "yelp", f"{_word(u + 900000)} nowhere",
                           round(rng.uniform(-10, 10), 7), round(rng.uniform(100, 120), 7)))

    # reviews: Poisson many per staged place, 3% with empty text (dropped
    # when lifted), then 2% orphans naming unknown places, shuffled
    owner = np.repeat(np.arange(len(staged)), rng.poisson(s["reviews_per_place"], len(staged)))
    nr = len(owner)
    roll = rng.uniform(size=nr)
    ratings = rng.integers(1, 6, nr).astype(np.float64)
    months, days = rng.integers(1, 13, nr), rng.integers(1, 29, nr)
    ends = np.cumsum(rng.integers(3, 40, nr))
    words = np.array([_word(k) for k in range(400)], dtype=object)[rng.integers(0, 400, int(ends[-1]))]
    review_rows: list[tuple] = []
    for i in range(nr):
        text = ("" if roll[i] < 0.015 else "   " if roll[i] < 0.03
                else " ".join(words[ends[i - 1] if i else 0:ends[i]]))
        pid, src = staged[owner[i]][:2]
        review_rows.append((src, pid, float(ratings[i]), text, f"2024-{months[i]:02d}-{days[i]:02d}"))
    n_valid_reviews = int((roll >= 0.03).sum())
    for o in range(max(1, nr // 50)):
        review_rows.append(("yelp", f"zz-{o:06d}", 3.0, "orphan review text", "2024-01-01"))
    review_rows = [review_rows[i] for i in rng.permutation(len(review_rows))]

    listing_rows: list[tuple] = []
    anchors = staged[:: max(1, len(staged) // 997)]
    for li in range(s["listings"]):
        if li % 3 == 0:  # near a place: a NEAR edge candidate
            p = anchors[int(rng.integers(0, len(anchors)))]
            lat, lon = _offset(p[3], p[4], *rng.uniform(-150.0, 150.0, 2))
        else:
            city = cities[int(rng.integers(0, len(cities)))]
            r = _CITY_HALF_KM * 1000.0 * math.sqrt(rng.uniform())
            a = rng.uniform(0, 2 * math.pi)
            lat, lon = _offset(city["center_lat"], city["center_lon"], r * math.sin(a), r * math.cos(a))
        price = int(rng.integers(30, 3000))
        form = li % 4
        price_s = (f"${price:,}.00" if form == 0 else f"{price}" if form == 1
                   else f"${price:,}.50 / night" if form == 2 else "ask host")
        host = int(rng.integers(0, max(1, s["listings"] // 3)))
        listing_rows.append((f"l-{li:06d}", round(lat, 7), round(lon, 7), price_s, f"h-{host:05d}",
                             f"Host {_word(host)}", ["t", "f", "", "TRUE"][li % 4]))

    _write(pa.table({
        "place_id": [r[0] for r in place_rows], "source": [r[1] for r in place_rows],
        "name": [r[2] for r in place_rows], "lat": [r[3] for r in place_rows],
        "lon": [r[4] for r in place_rows],
    }), os.path.join(out_dir, "places.parquet"))
    city_schema = pa.schema([
        ("slug", pa.string()), ("name", pa.string()), ("country", pa.string()),
        ("aliases", pa.list_(pa.string())),
        *[(c, pa.float64()) for c in ("center_lat", "center_lon", "radius_km", "bbox_south",
                                      "bbox_west", "bbox_north", "bbox_east")],
        ("polygon", pa.list_(pa.struct([("lat", pa.float64()), ("lon", pa.float64())]))),
    ])
    _write(pa.Table.from_pylist(cities, schema=city_schema), os.path.join(out_dir, "cities.parquet"))
    _write(pa.table({
        "source": [r[0] for r in review_rows], "place_id": [r[1] for r in review_rows],
        "rating": [r[2] for r in review_rows], "text": [r[3] for r in review_rows],
        "scraped_at": [r[4] for r in review_rows],
    }), os.path.join(out_dir, "reviews.parquet"))
    _write(pa.table({
        k: [r[i] for r in listing_rows]
        for i, k in enumerate(("listing_id", "lat", "lon", "price", "host_id", "host_name",
                               "host_is_superhost"))
    }), os.path.join(out_dir, "listings.parquet"))
    return {
        "triples": triples,
        "staged_places": len(staged),
        "valid_reviews": n_valid_reviews,
        "listings": len(listing_rows),
    }


def dir_digest(path: str) -> str:
    """sha256 over the (name, bytes) of every file under ``path``."""
    h = hashlib.sha256()
    for root, dirs, files in os.walk(path):
        dirs.sort()
        for f in sorted(files):
            p = os.path.join(root, f)
            h.update(os.path.relpath(p, path).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


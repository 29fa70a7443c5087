"""Tests for the benchmark's own helpers: seeded generators, the tail
percentile rule, self-time arithmetic and the result digests.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from gen import KG_SIZES, dir_digest, write_kg_inputs, write_tables  # noqa: E402
from spans import Span, self_times  # noqa: E402
from stats import percentile, tail  # noqa: E402
from workloads import frame_digest  # noqa: E402


def test_tables_same_seed_same_bytes(tmp_path):
    write_tables(str(tmp_path / "a"), 7, "small")
    write_tables(str(tmp_path / "b"), 7, "small")
    write_tables(str(tmp_path / "c"), 8, "small")
    assert dir_digest(str(tmp_path / "a")) == dir_digest(str(tmp_path / "b"))
    assert dir_digest(str(tmp_path / "a")) != dir_digest(str(tmp_path / "c"))


def test_kg_inputs_same_seed_same_bytes(tmp_path):
    ta = write_kg_inputs(str(tmp_path / "a"), 7)
    tb = write_kg_inputs(str(tmp_path / "b"), 7)
    write_kg_inputs(str(tmp_path / "c"), 8)
    assert ta == tb
    assert dir_digest(str(tmp_path / "a")) == dir_digest(str(tmp_path / "b"))
    assert dir_digest(str(tmp_path / "a")) != dir_digest(str(tmp_path / "c"))


def test_kg_inputs_planted_structure(tmp_path):
    d = str(tmp_path / "kg")
    truth = write_kg_inputs(d, 3)
    places = pd.read_parquet(os.path.join(d, "places.parquet")).set_index("place_id")
    assert len(truth["triples"]) == len(range(0, KG_SIZES["entities"], 4))
    for triple in truth["triples"]:
        rows = places.loc[triple]
        assert rows["source"].nunique() == 3
        assert len({frozenset(n.lower().split()) for n in rows["name"]}) == 1
    # the 40 cities take the three kinds in turn: polygon, bbox-only, radius-only
    cities = pd.read_parquet(os.path.join(d, "cities.parquet"))
    assert len(cities) == 40
    assert cities["polygon"].notna().sum() == 14
    assert cities["bbox_south"].notna().sum() == 13
    assert cities["radius_km"].notna().sum() == 13
    reviews = pd.read_parquet(os.path.join(d, "reviews.parquet"))
    assert (reviews["text"].str.strip() == "").any()
    assert (~reviews["place_id"].isin(places.index)).any()
    listings = pd.read_parquet(os.path.join(d, "listings.parquet"))
    assert listings["price"].str.contains(r"\$\d{1,3},\d{3}").any()


def test_percentile_nearest_rank():
    xs = list(range(1, 101))
    assert percentile(xs, 50) == 50
    assert percentile(xs, 90) == 90
    assert percentile([5.0], 90) == 5.0


def test_tail_withheld_below_ten_beyond():
    assert tail(list(range(1, 100)), 90) is None  # 9 samples above p90
    assert tail(list(range(1, 101)), 90) == 90  # exactly 10 above
    assert tail([], 90) is None


def test_self_time_subtracts_merged_children():
    spans = [
        Span("root", 0.0, 10.0, id=1),
        Span("a", 1.0, 3.0, id=2, parent=1),
        Span("b", 2.0, 5.0, id=3, parent=1),  # overlaps a: covered once
        Span("c", 7.0, 8.0, id=4, parent=1),
        Span("c.child", 7.25, 7.75, id=5, parent=4),
    ]
    st = self_times(spans)
    assert st[1] == pytest.approx(10.0 - 4.0 - 1.0)
    assert st[2] == pytest.approx(2.0)
    assert st[3] == pytest.approx(3.0)
    assert st[4] == pytest.approx(0.5)
    assert st[5] == pytest.approx(0.5)


def test_self_time_of_leaf_is_duration():
    assert self_times([Span("x", 1.0, 4.5, id=9)]) == {9: pytest.approx(3.5)}


def test_frame_digest_ignores_row_and_column_order():
    a = pd.DataFrame({"k": [1, 2, 3], "v": [0.1, 0.2, None]})
    b = pd.DataFrame({"v": [None, 0.1, 0.2], "k": [3, 1, 2]})
    assert frame_digest(a) == frame_digest(b)
    assert frame_digest(a) != frame_digest(a.assign(v=[0.1, 0.2, 0.3]))
    assert frame_digest(a)[0] == 3

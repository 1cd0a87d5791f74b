"""The generated tables have the shapes measured on the sf0.01 tables."""

from __future__ import annotations

import pyarrow.parquet as pq
import pytest

from perfbench.datagen import _tables
from perfbench.shapes import SF001_SHAPES, measure

# Counts a seed may move a little; every other integer must match exactly.
_SLACK = {"doc_near_dup_pairs": 3, "doc_words_max": 1}
_REL = 0.1


@pytest.fixture(scope="module")
def generated(tmp_path_factory) -> dict:
    out = tmp_path_factory.mktemp("tables")
    for name, tbl in _tables(7).items():
        pq.write_table(tbl, out / f"{name}.parquet")
    return measure(str(out))


def test_row_counts_are_sf001s(generated):
    assert generated["rows"] == SF001_SHAPES["rows"]


@pytest.mark.parametrize("name", [k for k in SF001_SHAPES if k != "rows"])
def test_shape_matches_sf001(generated, name):
    want, got = SF001_SHAPES[name], generated[name]
    if isinstance(want, int):
        assert abs(got - want) <= _SLACK.get(name, 0), (name, got, want)
    elif want == 0:
        assert got == 0, (name, got)
    else:
        assert got == pytest.approx(want, rel=_REL), (name, got, want)


def test_same_seed_same_tables():
    a, b = _tables(3), _tables(3)
    assert all(a[name].equals(b[name]) for name in a)

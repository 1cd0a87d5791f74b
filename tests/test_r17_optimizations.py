"""Focused pins for the r17 optimization-round internals.

Covers the manifest-derived MERGE range layout (`_murmur3_long` /
`_partition_tokens` / `_mixture_bounds` and the bounds path through
`_write_data_files`) and the bench-integrity memo clear. Each test pins the
property the optimization's correctness rests on, not the speed.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from iot_data_pipeline_spark.sources.acid_table import (
    _mixture_bounds,
    _murmur3_long,
    _partition_tokens,
)


def test_murmur3_long_matches_spark_hash(spark):
    """_murmur3_long must be bit-identical to F.hash on a BIGINT column —
    the whole manual-range-partition trick rests on this equality."""
    vals = [
        0, 1, -1, 42, -42, 63, 64, 2**31, -(2**31), 2**53 + 7,
        -(2**53) - 7, 2**63 - 1, -(2**63), 123456789012345,
    ]
    df = spark.createDataFrame([(v,) for v in vals], "v BIGINT")
    got = {r["v"]: r["h"] for r in df.select("v", F.hash("v").alias("h")).collect()}
    for v in vals:
        assert got[v] == _murmur3_long(v), v


def test_partition_tokens_place_rows_exactly(spark):
    """Rows tagged with token[p] must land in shuffle partition p under
    repartition(n, token) — the exact-placement contract."""
    for n in (2, 4, 7):
        toks = _partition_tokens(n)
        assert len(set(toks)) == n
        df = spark.createDataFrame(
            [(p, t) for p, t in enumerate(toks)], "p INT, tok BIGINT"
        ).repartition(n, "tok")
        rows = df.select("p", F.spark_partition_id().alias("pid")).collect()
        assert all(r["p"] == r["pid"] for r in rows), (n, rows)


def test_mixture_bounds_properties():
    # single uniform segment splits near-evenly
    b = _mixture_bounds([(0, 99, 100)], 4)
    assert len(b) == 3 and b == sorted(b) and all(0 <= x <= 99 for x in b)
    # disjoint segments: first bound inside the first segment
    b = _mixture_bounds([(0, 9, 100), (1000, 1009, 100)], 2)
    assert len(b) == 1 and 0 <= b[0] < 1000
    # point masses, negative keys (xxhash64 surrogate domain)
    assert _mixture_bounds([(-5, -5, 50), (7, 7, 50)], 2) == [-5]
    # degenerate inputs never raise, only shrink
    assert _mixture_bounds([], 4) == []
    assert _mixture_bounds([(3, 3, 10)], 4) == [3]
    assert _mixture_bounds([(0, 99, 100)], 1) == []
    assert _mixture_bounds([(None, None, 0)], 4) == []


def test_merge_bounds_layout_matches_sampled_layout(spark, tmp_path):
    """MERGE with manifest-derived bounds must commit the same snapshot
    CONTENT as before and keep producing multiple range-disjoint files
    (the pruning substrate) when the key space spreads."""
    from iot_data_pipeline_spark.sources import acid_table

    path = str(tmp_path / "t")
    base = spark.range(0, 4000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("val")
    )
    acid_table.create(base, path, "k", n_files=4)
    src = spark.range(100, 3000, 7).select(
        F.col("id").alias("k"), F.lit(-1).cast("bigint").alias("val")
    )
    acid_table.merge(spark, src, path, n_files=4)
    snap = {(r["k"], r["val"]) for r in acid_table.snapshot(spark, path).collect()}
    expect = {
        (k, -1 if (k >= 100 and k < 3000 and (k - 100) % 7 == 0) else k * 2)
        for k in range(4000)
    }
    assert snap == expect
    st = acid_table._state(path)
    added = [f for f in st["live"]]
    # multiple files, ranges ordered and non-degenerate
    assert len(added) >= 2
    for f in added:
        assert f["min_key"] <= f["max_key"]


def test_merge_key_named_path_no_collision(spark, tmp_path):
    """ADVICE r16: a merge key literally named 'path' must not collide
    with the stats frame's columns in the fused summary join."""
    from iot_data_pipeline_spark.sources import acid_table

    p = str(tmp_path / "t2")
    base = spark.range(0, 20).select(
        F.col("id").alias("path"), F.col("id").alias("v")
    )
    acid_table.create(base, p, "path", n_files=2)
    src = spark.range(5, 10).select(
        F.col("id").alias("path"), F.lit(99).cast("bigint").alias("v")
    )
    acid_table.merge(spark, src, p, n_files=2)
    got = {
        (r["path"], r["v"])
        for r in acid_table.snapshot(spark, p).collect()
    }
    assert got == {(k, 99 if 5 <= k < 10 else k) for k in range(20)}


def test_merge_duplicate_source_key_still_rejected(spark, tmp_path):
    from iot_data_pipeline_spark.sources import acid_table

    p = str(tmp_path / "t3")
    acid_table.create(
        spark.range(0, 10).select(F.col("id").alias("k"), F.col("id").alias("v")),
        p,
        "k",
        n_files=1,
    )
    dup = spark.createDataFrame([(3, 1), (3, 2)], "k BIGINT, v BIGINT")
    with pytest.raises(ValueError, match="at most one source row"):
        acid_table.merge(spark, dup, p)


def test_kmeans_codebook_memo_clear():
    from iot_data_pipeline_spark import harness
    from iot_data_pipeline_spark.operators import llm

    llm._KMEANS_CODEBOOK_MEMO[("x",)] = ("cent", "counts")
    harness.reset_process_state()
    assert llm._KMEANS_CODEBOOK_MEMO == {}

"""Reference-quirk fixtures (FIXTURES.md §1) for the IoT transforms, plus
property-based parity between the Catalyst expression and the Python replica.
"""

from __future__ import annotations

import math

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import Row
from pyspark.sql import functions as F

from iot_data_pipeline_spark.functions.transforms import (
    blank_to_null,
    duration_to_seconds,
    duration_to_seconds_strict,
    flag_to_bool,
    flag_to_bool_strict,
    normalize_columns,
    transform_iot,
)
from iot_data_pipeline_spark.operators.udfs import _duration_to_seconds_py

DURATION_CASES = [
    ("0 days 00:00:03.000123", 3.000123),
    ("1 days 02:03:04.500000", 93784.5),
    ("0 days 00:00:03", None),  # quirk 2: no fractional dot → NULL
    ("0 days 00:00:03.5", 3.000005),  # quirk 1: ".5" → 5/1e6
    ("3.12", 3.12),
    (None, None),
]


def _durations(spark, values):
    df = spark.createDataFrame(
        [Row(id=i, duration=v) for i, v in enumerate(values)],
        "id INT, duration STRING",
    )
    out = df.select(
        "id", duration_to_seconds(F.col("duration")).alias("sec")
    ).collect()
    return [r["sec"] for r in sorted(out, key=lambda r: r["id"])]


def test_duration_quirks(spark):
    got = _durations(spark, [c for c, _ in DURATION_CASES])
    for (raw, want), actual in zip(DURATION_CASES, got):
        if want is None:
            assert actual is None, f"{raw!r} → {actual}, want NULL"
        else:
            assert actual == pytest.approx(want, rel=1e-6), f"{raw!r}"


def test_duration_strict_variant(spark):
    df = spark.createDataFrame(
        [Row(id=0, duration="0 days 00:00:03"), Row(id=1, duration="0 days 00:00:03.5")],
        "id INT, duration STRING",
    )
    out = {
        r["id"]: r["sec"]
        for r in df.select(
            "id", duration_to_seconds_strict(F.col("duration")).alias("sec")
        ).collect()
    }
    assert out[0] == pytest.approx(3.0)  # corrected: no fraction is fine
    assert out[1] == pytest.approx(3.5)  # corrected: fraction scaled by digits


def test_flag_quirk(spark):
    df = spark.createDataFrame(
        [Row(id=0, f="T"), Row(id=1, f="F"), Row(id=2, f=""), Row(id=3, f=None)],
        "id INT, f STRING",
    )
    out = {
        r["id"]: (r["b"], r["bs"])
        for r in df.select(
            "id",
            flag_to_bool(F.col("f")).alias("b"),
            flag_to_bool_strict(F.col("f")).alias("bs"),
        ).collect()
    }
    # quirk 3: "F" → True under reference semantics.
    assert out[0] == (True, True)
    assert out[1] == (True, False)
    assert out[2] == (False, None)
    assert out[3] == (False, None)


def test_blank_to_null_and_normalize(spark):
    df = spark.createDataFrame(
        [Row(**{"a.b": "x", "c-d": ""})],
    )
    normed = normalize_columns(df)
    assert normed.columns == ["a_b", "c_d"]
    row = normed.select(blank_to_null(F.col("c_d")).alias("v")).first()
    assert row["v"] is None


def test_transform_iot_shape(spark):
    df = spark.createDataFrame(
        [("u1", "", "3.5", "F", None)],
        "uid STRING, service STRING, duration STRING,"
        " local_orig STRING, local_resp STRING",
    )
    out = transform_iot(df)
    assert set(out.columns) == {
        "uid",
        "service",
        "duration_sec",
        "local_orig_bool",
        "local_resp_bool",
    }
    r = out.first()
    assert r["service"] is None
    assert r["duration_sec"] == pytest.approx(3.5)
    assert r["local_orig_bool"] is True and r["local_resp_bool"] is False


@settings(max_examples=30, deadline=None)
@given(
    st.lists(
        st.one_of(
            st.builds(
                lambda d, h, m, s, f: f"{d} days {h:02d}:{m:02d}:{s:02d}.{f:06d}",
                st.integers(0, 400),
                st.integers(0, 23),
                st.integers(0, 59),
                st.integers(0, 59),
                st.integers(0, 999999),
            ),
            st.builds(lambda x: f"{x:.4f}", st.floats(0, 1e6)),
            st.just("0 days 00:00:03"),
            st.none(),
        ),
        min_size=1,
        max_size=8,
    )
)
def test_duration_expression_matches_python(spark, durations):
    got = _durations(spark, durations)
    for raw, actual in zip(durations, got):
        want = _duration_to_seconds_py(raw)
        if want is None:
            assert actual is None, raw
        else:
            # expression path computes in float32 terms; allow that tolerance.
            assert actual == pytest.approx(want, rel=1e-5, abs=1e-4), raw

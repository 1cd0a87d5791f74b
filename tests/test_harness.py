"""The one harness: sessions are built in one place, session confs are
scoped, and the process-state reset matches the benchmark's classification
of the package's memos."""

from __future__ import annotations

import ast
import importlib
import os
import re

import pytest

from iot_data_pipeline_spark import harness
from iot_data_pipeline_spark.cache_tracker import tracked_cache
from iot_data_pipeline_spark.session import scoped_conf

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Files that may build a session by hand -> the one function in them that
# may (None: anywhere). session.py is the engine's builder; the smoke test
# runs a session the package did not build, as an outside driver would.
# perfbench/ is skipped: the benchmark builds its session from outside.
BUILDER_ALLOWED = {
    os.path.join("iot_data_pipeline_spark", "session.py"): None,
    os.path.join(
        "tests", "test_robustness.py"
    ): "test_python_workers_import_package_from_foreign_cwd",
}
_BUILDER = re.compile(r"SparkSession\s*\.\s*builder")


def test_scoped_conf_restores_on_exception(spark):
    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    with pytest.raises(RuntimeError):
        with scoped_conf(spark, **{key: "7"}):
            assert spark.conf.get(key) == "7"
            raise RuntimeError
    assert spark.conf.get(key) == before


def test_scoped_conf_unsets_a_key_that_was_unset(spark):
    key = "spark.sql.mapKeyDedupPolicy"
    assert key not in spark.conf.getAll
    with scoped_conf(spark, **{key: "LAST_WIN"}):
        assert spark.conf.get(key) == "LAST_WIN"
    assert key not in spark.conf.getAll


def test_reset_clears_result_memos_and_keeps_fixtures(spark):
    from perfbench.reset import FIXTURE, MEMOS, RESULT

    memos = {key: getattr(importlib.import_module(key[0]), key[1]) for key in MEMOS}
    tracked_cache(spark.range(1))
    for memo in memos.values():
        if isinstance(memo, dict):
            memo[("probe",)] = "x"
    try:
        harness.reset_process_state()
        for key, kind in MEMOS.items():
            if kind == RESULT:
                assert not memos[key], key
            else:
                assert kind == FIXTURE and ("probe",) in memos[key], key
    finally:
        for memo in memos.values():
            if isinstance(memo, dict):
                memo.pop(("probe",), None)


def test_sessions_are_built_only_by_session_py():
    offenders = []
    for dirpath, dirs, files in os.walk(ROOT):
        rel_dir = os.path.relpath(dirpath, ROOT)
        dirs[:] = [
            d
            for d in dirs
            if not d.startswith(".") and (rel_dir, d) != (".", "perfbench")
        ]
        for fname in files:
            if not fname.endswith(".py"):
                continue
            rel = os.path.normpath(os.path.join(rel_dir, fname))
            with open(os.path.join(ROOT, rel), encoding="utf-8") as fh:
                src = fh.read()
            lines = [src.count("\n", 0, m.start()) + 1 for m in _BUILDER.finditer(src)]
            if rel in BUILDER_ALLOWED:
                fn = BUILDER_ALLOWED[rel]
                spans = [
                    (n.lineno, n.end_lineno)
                    for n in ast.walk(ast.parse(src))
                    if isinstance(n, ast.FunctionDef) and n.name == fn
                ]
                lines = [
                    line
                    for line in lines
                    if fn is not None and not any(a <= line <= b for a, b in spans)
                ]
            offenders += [f"{rel}:{line}" for line in lines]
    assert not offenders, (
        f"sessions built by hand at {offenders}; use harness.session"
        " (or session.build_session)"
    )

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


# Threads a query may not start: every operator runs its jobs on the
# caller's thread, so a failure propagates at once and no job escapes the
# caller's job group.
_THREAD_MODULES = ("threading", "concurrent.futures")
_THREAD_NAMES = {"InheritableThread", "inheritable_thread_target"}


def test_package_starts_no_threads():
    offenders = []
    pkg = os.path.join(ROOT, "iot_data_pipeline_spark")
    for dirpath, _, files in os.walk(pkg):
        for fname in files:
            if not fname.endswith(".py"):
                continue
            path = os.path.join(dirpath, fname)
            with open(path, encoding="utf-8") as fh:
                tree = ast.parse(fh.read())
            for node in ast.walk(tree):
                if isinstance(node, ast.Import):
                    mods = [a.name for a in node.names]
                    names = []
                elif isinstance(node, ast.ImportFrom):
                    mods = [node.module or ""]
                    mods += [f"{node.module}.{a.name}" for a in node.names]
                    names = [a.name for a in node.names]
                elif isinstance(node, ast.Attribute):
                    mods, names = [], [node.attr]
                else:
                    continue
                if _THREAD_NAMES.intersection(names) or any(
                    m == t or m.startswith(t + ".")
                    for m in mods
                    for t in _THREAD_MODULES
                ):
                    rel = os.path.relpath(path, ROOT)
                    offenders.append(f"{rel}:{node.lineno}")
    assert not offenders, f"thread imports at {offenders}"


# The ACID table writes every file (data, CDC journal, deletion vectors,
# Bloom sidecars) through Spark's parquet writer in one staging helper;
# no source writes parquet from a Python worker.
_SOURCES = os.path.join(ROOT, "iot_data_pipeline_spark", "sources")
_STAGER = "_stage_parquet"
_PY_WRITERS = re.compile(r"\bmapInArrow\b|\bParquetWriter\b")


def _match_lines(pattern, text: str) -> list[int]:
    return [text.count("\n", 0, m.start()) + 1 for m in re.finditer(pattern, text)]


def test_acid_table_writes_only_through_its_staging_helper():
    offenders = []
    for dirpath, _, files in os.walk(_SOURCES):
        for fname in files:
            if fname.endswith(".py"):
                with open(os.path.join(dirpath, fname), encoding="utf-8") as fh:
                    src = fh.read()
                rel = os.path.relpath(os.path.join(dirpath, fname), _SOURCES)
                offenders += [f"{rel}:{n}" for n in _match_lines(_PY_WRITERS, src)]
    fname = "acid_table.py"
    with open(os.path.join(_SOURCES, fname), encoding="utf-8") as fh:
        src = fh.read()
    spans = [
        (n.lineno, n.end_lineno)
        for n in ast.walk(ast.parse(src))
        if isinstance(n, ast.FunctionDef) and n.name == _STAGER
    ]
    assert spans, f"{fname} has no {_STAGER}"
    offenders += [
        f"{fname}:{n}"
        for n in _match_lines(r"\.write\.", src)
        if not any(a <= n <= b for a, b in spans)
    ]
    assert not offenders, f"parquet written outside acid_table.{_STAGER} at {offenders}"


# Every commit of the ACID table goes through one commit helper, the
# only caller of the log publish.
_COMMITTER = "_commit"
_PUBLISH_CALL = r"(?<!def )\b_publish\("


def test_acid_table_publishes_only_through_its_commit_helper():
    package = os.path.join(ROOT, "iot_data_pipeline_spark")
    offenders = []
    calls = 0
    for dirpath, _, files in os.walk(package):
        for fname in files:
            if not fname.endswith(".py"):
                continue
            full = os.path.join(dirpath, fname)
            with open(full, encoding="utf-8") as fh:
                src = fh.read()
            spans = [
                (n.lineno, n.end_lineno)
                for n in ast.walk(ast.parse(src))
                if isinstance(n, ast.FunctionDef) and n.name == _COMMITTER
            ]
            in_acid_table = full == os.path.join(_SOURCES, "acid_table.py")
            for n in _match_lines(_PUBLISH_CALL, src):
                if in_acid_table and any(a <= n <= b for a, b in spans):
                    calls += 1
                else:
                    offenders.append(f"{os.path.relpath(full, ROOT)}:{n}")
    assert calls == 1, f"acid_table.{_COMMITTER} publishes {calls} times"
    assert not offenders, f"_publish called outside acid_table.{_COMMITTER} at {offenders}"


# Both change feeds plan a commit range through acid_table's one planner:
# the streaming source reads no manifest and lists no log itself, and the
# ops whose added files are inserts are spelled once.
_FEED_OPS = ("create", "append", "stream-append", "clone")


def test_cdf_source_reads_the_log_only_through_the_feed_planner():
    with open(os.path.join(_SOURCES, "acid_cdf_stream.py"), encoding="utf-8") as fh:
        src = fh.read()
    calls = _match_lines(r"\b_read_manifest\(|\b_list_log\(", src)
    assert not calls, f"acid_cdf_stream.py reads the log itself at lines {calls}"


def test_feed_op_tuple_is_spelled_once():
    package = os.path.join(ROOT, "iot_data_pipeline_spark")
    spelled = []
    for dirpath, _, files in os.walk(package):
        for fname in files:
            if not fname.endswith(".py"):
                continue
            full = os.path.join(dirpath, fname)
            with open(full, encoding="utf-8") as fh:
                tree = ast.parse(fh.read())
            spelled += [
                f"{os.path.relpath(full, ROOT)}:{n.lineno}"
                for n in ast.walk(tree)
                if isinstance(n, ast.Tuple)
                and all(isinstance(e, ast.Constant) for e in n.elts)
                and tuple(e.value for e in n.elts) == _FEED_OPS
            ]
    assert len(spelled) == 1, f"the feed-op tuple is spelled at {spelled}"

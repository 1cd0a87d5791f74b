"""Manifest-log ACID table format: commit atomicity, optimistic
concurrency, stats-based file pruning, time travel (SURVEY.md §2L)."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from iot_data_pipeline_spark.operators._util import table
from iot_data_pipeline_spark.sources import acid_table


def _target(spark, sf_dir):
    return (
        table(spark, sf_dir, "orders")
        .filter(F.pmod("o_orderkey", F.lit(4)) != 0)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
    )


def test_create_append_snapshot_and_time_travel(spark, sf_dir, tmp_path):
    path = str(tmp_path / "t")
    t = _target(spark, sf_dir)
    acid_table.create(t, path, "o_orderkey", n_files=8)
    n0 = t.count()
    assert acid_table.snapshot(spark, path).count() == n0

    delta = (
        table(spark, sf_dir, "orders")
        .filter(
            (F.pmod("o_orderkey", F.lit(4)) == 0)
            & (F.pmod("o_orderkey", F.lit(3)) != 0)
        )
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
    )
    acid_table.append(delta, path)
    assert acid_table.snapshot(spark, path).count() == n0 + delta.count()
    # time travel: version 0 still reads the pre-append table
    assert acid_table.snapshot(spark, path, version=0).count() == n0
    assert [m["version"] for m in acid_table.history(path)] == [0, 1]


def test_merge_prunes_untouched_files_and_matches_logical_merge(
    spark, sf_dir, tmp_path
):
    """The pruning claim, checked structurally AND value-for-value: a
    source confined to a narrow key range must leave most range-
    partitioned files carried by reference (same path, same file), and
    the post-merge snapshot must equal the logical full-outer MERGE."""
    path = str(tmp_path / "t")
    t = _target(spark, sf_dir)
    acid_table.create(t, path, "o_orderkey", n_files=8)
    live_before = {
        f["path"]: f for f in acid_table._live_files(acid_table.history(path), None)
    }
    max_key = t.agg(F.max("o_orderkey")).first()[0]
    bound = max_key // 10  # bottom decile of the key space
    source = (
        table(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderkey") <= bound)
            & (F.pmod("o_orderkey", F.lit(3)) == 0)
        )
        .select(
            "o_orderkey",
            F.lit("U").alias("o_orderstatus"),
            (F.col("o_totalprice") * 1.1).alias("o_totalprice"),
        )
    )
    res = acid_table.merge(spark, source, path)
    assert res["carried"] > 0, "narrow merge must not rewrite the table"
    assert res["rewritten"] < len(live_before)
    live_after = {
        f["path"] for f in acid_table._live_files(acid_table.history(path), None)
    }
    carried = set(live_before) & live_after
    assert len(carried) == res["carried"]

    got = {
        (r["o_orderkey"], r["o_orderstatus"], r["o_totalprice"])
        for r in acid_table.snapshot(spark, path).collect()
    }
    tt = t.select(
        "o_orderkey",
        F.col("o_orderstatus").alias("t_s"),
        F.col("o_totalprice").alias("t_p"),
    )
    ss = source.select(
        F.col("o_orderkey").alias("sk"),
        F.col("o_orderstatus").alias("s_s"),
        F.col("o_totalprice").alias("s_p"),
    )
    expected = {
        (
            r["o_orderkey"] if r["o_orderkey"] is not None else r["sk"],
            r["s_s"] if r["s_s"] is not None else r["t_s"],
            r["s_p"] if r["s_p"] is not None else r["t_p"],
        )
        for r in tt.join(ss, tt.o_orderkey == ss.sk, "full_outer").collect()
    }
    assert got == expected


def test_uncommitted_data_files_are_invisible(spark, sf_dir, tmp_path):
    """Crash between data write and manifest publish: the orphaned data
    files exist on disk but no reader sees them — only the log names
    files."""
    path = str(tmp_path / "t")
    t = _target(spark, sf_dir)
    acid_table.create(t, path, "o_orderkey", n_files=4)
    n0 = acid_table.snapshot(spark, path).count()
    # simulate the crash: files land in data/, no manifest follows
    orphan = acid_table._write_data_files(t.limit(100), path, "o_orderkey", 2)
    assert orphan  # the "crashed" writer did write something
    assert acid_table.snapshot(spark, path).count() == n0
    assert len(acid_table.history(path)) == 1


def test_concurrent_version_commit_raises(spark, sf_dir, tmp_path):
    path = str(tmp_path / "t")
    acid_table.create(_target(spark, sf_dir), path, "o_orderkey", n_files=2)
    with pytest.raises(RuntimeError, match="concurrent commit"):
        acid_table._publish(
            path,
            {"version": 0, "op": "create", "key": "o_orderkey", "add": [], "remove": []},
        )
    with pytest.raises(RuntimeError, match="already exists"):
        acid_table.create(_target(spark, sf_dir), path, "o_orderkey")


def test_create_refuses_empty_table(spark, sf_dir, tmp_path):
    path = str(tmp_path / "t")
    with pytest.raises(ValueError, match="empty"):
        acid_table.create(
            _target(spark, sf_dir).limit(0), path, "o_orderkey"
        )


def test_delete_rewrites_only_files_containing_matches(spark, sf_dir, tmp_path):
    """DELETE prunes by actual match location (input_file_name detection):
    a predicate confined to a narrow key range leaves the other key-range
    files carried by reference, and the snapshot equals the filter."""
    path = str(tmp_path / "t")
    t = _target(spark, sf_dir)
    acid_table.create(t, path, "o_orderkey", n_files=8)
    n_live = len(acid_table._live_files(acid_table.history(path), None))
    max_key = t.agg(F.max("o_orderkey")).first()[0]
    bound = max_key // 10
    res = acid_table.delete(spark, path, f"o_orderkey <= {bound}")
    assert res["carried"] > 0
    assert res["rewritten"] < n_live
    assert res["deleted_rows"] == t.filter(
        F.col("o_orderkey") <= bound
    ).count()
    got = acid_table.snapshot(spark, path).count()
    assert got == t.count() - res["deleted_rows"]
    # predicate matching nothing: zero commits, zero rewrites
    v = len(acid_table.history(path))
    res2 = acid_table.delete(spark, path, "o_orderkey < 0")
    assert res2 == {"rewritten": 0, "carried": res2["carried"], "deleted_rows": 0}
    assert len(acid_table.history(path)) == v


def test_compact_preserves_snapshot_and_shrinks_files(spark, sf_dir, tmp_path):
    path = str(tmp_path / "t")
    t = _target(spark, sf_dir)
    acid_table.create(t, path, "o_orderkey", n_files=16)
    before = {
        tuple(r)
        for r in acid_table.snapshot(spark, path).collect()
    }
    res = acid_table.compact(spark, path, n_files=2)
    assert res["rewritten"] == res["files_before"] >= 8
    live = acid_table._live_files(acid_table.history(path), None)
    assert len(live) <= 2
    after = {tuple(r) for r in acid_table.snapshot(spark, path).collect()}
    assert after == before
    # already compact -> no-op, no commit
    v = len(acid_table.history(path))
    assert acid_table.compact(spark, path, n_files=2)["rewritten"] == 0
    assert len(acid_table.history(path)) == v


def test_append_exactly_once_skips_committed_versions(spark, sf_dir, tmp_path):
    path = str(tmp_path / "t")
    t = _target(spark, sf_dir).limit(500)
    assert acid_table.append_exactly_once(t, path, 0, "o_orderkey") is True
    n0 = acid_table.snapshot(spark, path).count()
    # redelivery of the same epoch: no write, no new commit
    assert acid_table.append_exactly_once(t, path, 0, "o_orderkey") is False
    assert acid_table.snapshot(spark, path).count() == n0
    assert len(acid_table.history(path)) == 1


def test_snapshot_data_skipping_prunes_files_and_stays_exact(
    spark, sf_dir, tmp_path
):
    """key_between prunes files from the MANIFEST stats before Spark lists
    them (inputFiles() shrinks), and the surviving-file row filter keeps
    the result exact — equal to the plain range filter on the full table."""
    path = str(tmp_path / "t")
    t = _target(spark, sf_dir)
    acid_table.create(t, path, "o_orderkey", n_files=8)
    full = acid_table.snapshot(spark, path)
    max_key = t.agg(F.max("o_orderkey")).first()[0]
    lo, hi = 1, max_key // 10
    pruned = acid_table.snapshot(spark, path, key_between=(lo, hi))
    assert len(pruned.inputFiles()) < len(full.inputFiles())
    got = {r["o_orderkey"] for r in pruned.collect()}
    expected = {
        r["o_orderkey"]
        for r in t.filter(
            (F.col("o_orderkey") >= lo) & (F.col("o_orderkey") <= hi)
        ).collect()
    }
    assert got == expected


def test_append_exactly_once_survives_losing_a_publish_race(
    spark, sf_dir, tmp_path, monkeypatch
):
    """A writer that passes the advisory pre-check but loses the os.link
    publish race must report False (already committed), not raise — an
    error would make the streaming sink retry an epoch the winner already
    applied. Simulated by committing the version between the pre-check
    and the publish."""
    path = str(tmp_path / "t")
    t = _target(spark, sf_dir).limit(200)
    real_publish = acid_table._publish

    def commit_then_publish(p, manifest):
        # the "concurrent winner": same version lands first
        real_publish(p, dict(manifest, op="winner"))
        return real_publish(p, manifest)

    monkeypatch.setattr(acid_table, "_publish", commit_then_publish)
    assert acid_table.append_exactly_once(t, path, 0, "o_orderkey") is False
    monkeypatch.undo()
    assert len(acid_table.history(path)) == 1
    assert acid_table.history(path)[0]["op"] == "winner"


def test_create_rejects_non_integral_key(spark, sf_dir, tmp_path):
    path = str(tmp_path / "t")
    bad = _target(spark, sf_dir).select(
        F.col("o_orderstatus").alias("k"), "o_totalprice"
    )
    with pytest.raises(TypeError, match="integral"):
        acid_table.create(bad, path, "k")


def test_long_log_replay_and_duckdb_interop(spark, sf_dir, tmp_path):
    """Two claims at once: (1) snapshot stays correct as the commit log
    grows (20 appends -> 21 manifests replayed), and (2) the format is
    engine-portable — DuckDB serves the same snapshot from the live-file
    list (plain JSON manifests + plain parquet), which is what makes this
    a table FORMAT rather than a Spark-private layout."""
    import duckdb

    path = str(tmp_path / "t")
    t = _target(spark, sf_dir)
    base = t.limit(1000)
    acid_table.create(base, path, "o_orderkey", n_files=2)
    expected = base.count()
    chunk = t.limit(50)
    per_chunk = chunk.count()
    for _ in range(20):
        acid_table.append(chunk, path, n_files=1)
        expected += per_chunk
    assert len(acid_table.history(path)) == 21
    acid_table._MANIFEST_READS = 0
    assert acid_table.snapshot(spark, path).count() == expected
    # r12: the 21-commit replay now starts at the v20 checkpoint — zero
    # manifest files opened for the latest snapshot (was O(commits))
    assert acid_table._MANIFEST_READS == 0

    live = acid_table._live_files(acid_table.history(path), None)
    files = [os.path.join(path, f["path"]) for f in live]
    duck_n = duckdb.sql(
        "SELECT COUNT(*) FROM read_parquet($files)", params={"files": files}
    ).fetchone()[0]
    assert duck_n == expected


def test_merge_raises_on_duplicate_source_keys(spark, sf_dir, tmp_path):
    """Delta-semantics guard (ADVICE r11 medium): a source with multiple
    rows per merge key would fan out the full_outer join and silently
    duplicate target rows — merge must refuse it instead."""
    path = str(tmp_path / "t")
    t = _target(spark, sf_dir)
    acid_table.create(t, path, "o_orderkey", n_files=4)
    one = t.limit(1)
    dup_source = one.unionByName(one)
    with pytest.raises(ValueError, match="one source row per"):
        acid_table.merge(spark, dup_source, path)
    # the failed merge must not have committed anything
    assert [m["version"] for m in acid_table.history(path)] == [0]


def _small_target(spark, path, files):
    """An acid table keyed on ``k`` with one data file per list of
    ``(k, v)`` rows in ``files`` (a create, then appends)."""
    schema = "k BIGINT, v BIGINT"
    acid_table.create(spark.createDataFrame(files[0], schema), path, "k", 1)
    for rows in files[1:]:
        acid_table.append(spark.createDataFrame(rows, schema), path, 1)


def _values(spark, rows):
    """``(k, v)`` rows as a VALUES relation, which the optimizer sizes
    exactly; a Python-list ``createDataFrame`` is an RDD of unknown size,
    so a MERGE of it never takes the small-target path."""
    if not rows:
        return spark.sql("SELECT 1L AS k, 1L AS v").limit(0)
    vals = ", ".join(f"({k}L, {v}L)" for k, v in rows)
    return spark.sql(f"SELECT * FROM VALUES {vals} AS t(k, v)")


def _logical_merge(target, source):
    """The plain upsert over Python rows: every target copy of a matched
    key takes the source row, unmatched rows of either side carry."""
    src = dict(source)
    keys = {k for k, _ in target}
    out = [(k, src.get(k, v)) for k, v in target]
    return sorted(out + [(k, v) for k, v in source if k not in keys])


_SMALL_TARGETS = {
    "one-file": [[(1, 10), (4, 40), (6, 60)]],
    "dup-keys-in-file": [[(1, 10), (2, 20), (2, 21), (5, 50)]],
    "three-files-dup-across": [
        [(1, 10), (2, 20), (5, 50)],
        [(7, 70), (9, 90)],
        [(9, 91)],
    ],
}
_SMALL_SOURCES = {
    "matched": [(2, 200), (9, 900)],
    "unmatched": [(3, 300), (11, 1100)],
    "mixed": [(1, 100), (4, 400)],
    "empty": [],
}


@pytest.mark.parametrize("source_name", sorted(_SMALL_SOURCES))
@pytest.mark.parametrize("target_name", sorted(_SMALL_TARGETS))
def test_small_target_merge_rewrites_everything_in_one_file(
    spark, tmp_path, target_name, source_name
):
    """A target below _MIN_ROWS_PER_FILE rows and a plan-small source take
    the one-plan MERGE: no summary job, so no file prune (every live file
    rewritten, none carried) and one output file, and the snapshot is the
    logical full-outer MERGE, duplicate target keys included."""
    files, source = _SMALL_TARGETS[target_name], _SMALL_SOURCES[source_name]
    path = str(tmp_path / "t")
    _small_target(spark, path, files)
    res = acid_table.merge(spark, _values(spark, source), path)
    assert res == {"rewritten": len(files), "carried": 0}
    assert len(acid_table._live_files(acid_table.history(path), None)) == 1
    got = sorted(
        (r["k"], r["v"]) for r in acid_table.snapshot(spark, path).collect()
    )
    assert got == _logical_merge([r for f in files for r in f], source)


def test_large_source_into_small_target_takes_the_summary_path(
    spark, tmp_path
):
    """A source the optimizer sizes above the broadcast threshold (a
    filtered 2M-row range: 16 MB by plan statistics, 2 rows in fact)
    keeps the summary job and its file prune, even into a small target."""
    files = [[(k, k) for k in range(i * 10, i * 10 + 10)] for i in range(3)]
    path = str(tmp_path / "t")
    _small_target(spark, path, files)
    source = spark.range(0, 2_000_000).filter("id % 1000000 = 5").select(
        F.col("id").alias("k"), F.lit(-1).cast("bigint").alias("v")
    )
    res = acid_table.merge(spark, source, path)
    assert res == {"rewritten": 1, "carried": 2}
    got = sorted(
        (r["k"], r["v"]) for r in acid_table.snapshot(spark, path).collect()
    )
    expected = _logical_merge(
        [r for f in files for r in f], [(5, -1), (1_000_005, -1)]
    )
    assert got == expected


@pytest.mark.parametrize("writer", ["merge", "cdc", "dv"])
def test_failed_write_leaves_no_trace(spark, tmp_path, writer):
    """A failed write leaves neither a commit nor a staging dir behind:
    the one-plan MERGE's in-plan duplicate guard fails the rewrite with
    the summary path's ValueError, and a CDC journal or deletion-vector
    write whose tasks fail stages through the same writer."""
    path = str(tmp_path / "t")
    _small_target(spark, path, [[(1, 10), (3, 30)]])
    before = acid_table.history(path)
    if writer == "merge":
        dup = _values(spark, [(3, 1), (3, 2), (4, 4)])
        with pytest.raises(
            ValueError,
            match=r"^merge source holds 2 rows for k=3: MERGE requires at "
            r"most one source row per merge key \(dedup the source first\)$",
        ):
            acid_table.merge(spark, dup, path)
    else:
        bad = spark.range(3).select(
            F.lit("f").alias("file_key"),
            F.expr("if(id >= 0, raise_error('task failed'), id)").alias("pos"),
        )
        with pytest.raises(Exception, match="task failed"):
            if writer == "cdc":
                acid_table._write_cdc_files(
                    bad.withColumn("change_type", F.lit("insert")), path
                )
            else:
                acid_table._write_dv_file(bad, path)
    assert acid_table.history(path) == before
    assert not [n for n in os.listdir(path) if "stage-" in n]


def test_delete_handles_uri_hostile_table_paths(spark, sf_dir, tmp_path):
    """ADVICE r11: input_file_name() returns percent-encoded URIs, so a
    table path containing a space and a '%' must still map back to its
    manifest entries during DELETE's hit-file detection."""
    path = str(tmp_path / "odd dir %41" / "t")
    t = _target(spark, sf_dir)
    acid_table.create(t, path, "o_orderkey", n_files=4)
    before = acid_table.snapshot(spark, path).count()
    res = acid_table.delete(spark, path, "pmod(o_orderkey, 7) = 1")
    assert res["deleted_rows"] > 0
    after = acid_table.snapshot(spark, path)
    assert after.count() == before - res["deleted_rows"]
    assert after.filter("pmod(o_orderkey, 7) = 1").count() == 0


def test_empty_snapshot_schema_ignores_orphaned_data_files(
    spark, sf_dir, tmp_path
):
    """ADVICE r11: the zero-row fallback schema must come from a COMMITTED
    live file, not from listing data/ — which may hold drifted-schema
    orphans from a crashed writer (allowed by the commit protocol)."""
    path = str(tmp_path / "t")
    t = _target(spark, sf_dir)
    acid_table.create(t, path, "o_orderkey", n_files=2)
    # crashed writer: an uncommitted parquet file with a DIFFERENT schema
    orphan = spark.range(3).select(
        F.col("id").alias("o_orderkey"), F.lit(True).alias("drifted_col")
    )
    orphan.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "o"))
    import glob
    import shutil

    src = glob.glob(str(tmp_path / "o" / "part-*.parquet"))[0]
    shutil.copy(src, os.path.join(path, "data", "zzzz-orphan.parquet"))
    empty = acid_table.snapshot(
        spark, path, key_between=(-10, -1)
    )  # prunes every live file
    assert empty.count() == 0
    assert empty.columns == ["o_orderkey", "o_orderstatus", "o_totalprice"]


def test_checkpoint_bounds_manifest_replay(spark, sf_dir, tmp_path):
    """VERDICT r11 item 1: snapshot cost must be O(checkpoint window), not
    O(commits). A 101-commit table (create + 100 no-op commits published
    through the real protocol) has a checkpoint at v100, so reading the
    latest version opens ZERO manifest files, and time travel to v95 opens
    exactly the 5 tail manifests after the v90 checkpoint."""
    path = str(tmp_path / "t")
    t = _target(spark, sf_dir).limit(200)
    acid_table.create(t, path, "o_orderkey", n_files=1)
    n0 = t.count()
    for v in range(1, 101):
        acid_table._publish(
            path,
            {"version": v, "op": "noop", "key": "o_orderkey",
             "add": [], "remove": []},
        )
    mans, cps = acid_table._list_log(path)
    assert len(mans) == 101
    assert cps == list(range(10, 101, 10))

    acid_table._MANIFEST_READS = 0
    assert acid_table.snapshot(spark, path).count() == n0
    assert acid_table._MANIFEST_READS == 0, "latest read must hit cp100 only"

    acid_table._MANIFEST_READS = 0
    assert acid_table.snapshot(spark, path, version=95).count() == n0
    assert acid_table._MANIFEST_READS == 5, "v95 = cp90 + manifests 91..95"


def test_vacuum_reclaims_orphans_and_expired_files(spark, sf_dir, tmp_path):
    """VERDICT r11 item 2: vacuum deletes (a) files removed beyond the
    retention window and (b) orphans from crashed/race-losing writers,
    while every RETAINED version's snapshot stays byte-for-byte intact."""
    path = str(tmp_path / "t")
    t = _target(spark, sf_dir)
    acid_table.create(t, path, "o_orderkey", n_files=8)       # v0
    acid_table.delete(spark, path, "pmod(o_orderkey, 3) = 0", n_files=4)  # v1
    assert acid_table.compact(spark, path, n_files=2)["rewritten"] > 0   # v2
    # simulated lost race / crashed writer: data files, no manifest
    orphan_adds = acid_table._write_data_files(
        t.limit(50), path, "o_orderkey", 2
    )
    assert orphan_adds
    data_dir = os.path.join(path, "data")
    files_before = set(os.listdir(data_dir))

    def rows(v):
        return sorted(
            tuple(r) for r in acid_table.snapshot(spark, path, version=v).collect()
        )

    keep_v1, keep_v2 = rows(1), rows(2)
    res = acid_table.vacuum(path, retain_versions=2, orphan_grace_seconds=0)
    assert res["retained_versions"] == [1, 2]
    assert res["orphans_deleted"] == len(orphan_adds)
    # v0 was created with 8 files, all removed by the delete+compact chain
    # and none live in v1/v2 — they must be gone from disk
    assert res["removed_beyond_retention"] > 0
    assert files_before - set(os.listdir(data_dir))
    # retained versions read back identically
    assert rows(1) == keep_v1
    assert rows(2) == keep_v2
    # beyond-retention time travel is gone (files deleted), as documented
    with pytest.raises(Exception):
        acid_table.snapshot(spark, path, version=0).collect()
    # vacuum with a grace period must NOT sweep fresh orphans
    acid_table._write_data_files(t.limit(10), path, "o_orderkey", 1)
    res2 = acid_table.vacuum(path, retain_versions=2)
    assert res2["orphans_deleted"] == 0


def test_schema_evolution_widening_append_null_fills_old_files(
    spark, sf_dir, tmp_path
):
    """Widening append: a new column appends to the recorded schema, OLD
    files NULL-fill it on read, time travel serves each version with its
    own schema, and copy-on-write maintenance (compact, delete, merge)
    preserves the evolved schema instead of resolving a mixed-schema live
    set to an arbitrary file's footer."""
    path = str(tmp_path / "t")
    t = _target(spark, sf_dir).filter("o_orderkey <= 200")
    acid_table.create(t, path, "o_orderkey", n_files=2)
    n0 = t.count()

    wide = (
        _target(spark, sf_dir)
        .filter("o_orderkey > 200 AND o_orderkey <= 400")
        .withColumn("priority", F.lit("hi"))
    )
    acid_table.append(wide, path, n_files=2)
    snap = acid_table.snapshot(spark, path)
    assert snap.columns == [
        "o_orderkey",
        "o_orderstatus",
        "o_totalprice",
        "priority",
    ]
    # pre-evolution rows NULL-fill, post-evolution rows keep their value
    assert snap.filter("o_orderkey <= 200 AND priority IS NULL").count() == n0
    assert (
        snap.filter("o_orderkey > 200 AND priority = 'hi'").count()
        == wide.count()
    )
    # time travel reads version 0 with version 0's schema
    assert acid_table.snapshot(spark, path, version=0).columns == [
        "o_orderkey",
        "o_orderstatus",
        "o_totalprice",
    ]

    before = sorted(tuple(r) for r in snap.collect())
    acid_table.compact(spark, path, n_files=1)
    after_compact = acid_table.snapshot(spark, path)
    assert sorted(tuple(r) for r in after_compact.collect()) == before

    acid_table.delete(spark, path, "o_orderkey = 201")
    assert acid_table.snapshot(spark, path).filter(
        "priority IS NOT NULL"
    ).count() == wide.count() - 1

    src = spark.createDataFrame(
        [(202, "X", 1.0, "lo")],
        "o_orderkey LONG, o_orderstatus STRING, o_totalprice DOUBLE,"
        " priority STRING",
    )
    acid_table.merge(spark, src, path)
    got = acid_table.snapshot(spark, path).filter("o_orderkey = 202").first()
    assert (got["o_orderstatus"], got["priority"]) == ("X", "lo")


def test_schema_evolution_rejects_narrowing_type_change_and_merge(
    spark, sf_dir, tmp_path
):
    path = str(tmp_path / "t")
    t = _target(spark, sf_dir).filter("o_orderkey <= 200")
    acid_table.create(t, path, "o_orderkey", n_files=1)
    with pytest.raises(ValueError, match="missing table column"):
        acid_table.append(t.drop("o_totalprice"), path)
    with pytest.raises(TypeError, match="changed type"):
        acid_table.append(
            t.withColumn("o_totalprice", F.col("o_totalprice").cast("int")),
            path,
        )
    with pytest.raises(ValueError, match="merge cannot evolve"):
        acid_table.merge(
            spark,
            spark.createDataFrame(
                [(1, "X", 1.0, "new")],
                "o_orderkey LONG, o_orderstatus STRING,"
                " o_totalprice DOUBLE, extra STRING",
            ),
            path,
        )
    # nothing above committed: the table is still at version 0
    assert [m["version"] for m in acid_table.history(path)] == [0]


def test_schema_evolution_survives_checkpoint_rollup(spark, sf_dir, tmp_path):
    """The recorded schema must replay through a checkpoint: widen early,
    then append past the checkpoint cadence so a later snapshot starts
    from the rolled-up checkpoint rather than the evolving manifests."""
    path = str(tmp_path / "t")
    t = _target(spark, sf_dir).filter("o_orderkey <= 100")
    acid_table.create(t, path, "o_orderkey", n_files=1)
    acid_table.append(
        t.withColumn("priority", F.lit("hi")).withColumn(
            "o_orderkey", F.col("o_orderkey") + 1000
        ),
        path,
        n_files=1,
    )
    for i in range(acid_table._CHECKPOINT_EVERY + 1):
        acid_table.append(
            t.withColumn("priority", F.lit(f"p{i}")).withColumn(
                "o_orderkey", F.col("o_orderkey") + 2000 + 1000 * i
            ),
            path,
            n_files=1,
        )
    reads0 = acid_table._MANIFEST_READS
    snap = acid_table.snapshot(spark, path)
    # replay really did start from the checkpoint...
    assert acid_table._MANIFEST_READS - reads0 <= acid_table._CHECKPOINT_EVERY
    # ...and the schema survived the rollup
    assert snap.columns[-1] == "priority"
    assert snap.filter("priority IS NULL").count() == t.count()


def test_append_with_retry_survives_version_race(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Blind appends never logically conflict: when a competitor takes the
    version between state-read and publish, the retry re-publishes the
    SAME already-written data files at the next version — no rewrite, no
    lost rows. The race is injected deterministically: the competitor
    commits while the victim is between its data write and its publish."""
    path = str(tmp_path / "t")
    t = _target(spark, sf_dir).filter("o_orderkey <= 100")
    acid_table.create(t, path, "o_orderkey", n_files=1)
    n0 = t.count()

    mine = t.withColumn("o_orderkey", F.col("o_orderkey") + 1000)
    competitor = t.withColumn("o_orderkey", F.col("o_orderkey") + 2000)

    real_write = acid_table._write_data_files
    state = {"fired": False}

    def racing_write(df, p, key, n, **kw):
        adds = real_write(df, p, key, n, **kw)
        if not state["fired"]:
            state["fired"] = True
            acid_table.append(competitor, path, n_files=1)  # steals v1
        return adds

    monkeypatch.setattr(acid_table, "_write_data_files", racing_write)
    v = acid_table.append(mine, path, n_files=1)
    assert v == 2  # lost v1 to the competitor, committed at v2
    assert acid_table.snapshot(spark, path).count() == 3 * n0
    assert [m["op"] for m in acid_table.history(path)] == [
        "create",
        "append",
        "append",
    ]


def test_append_with_retry_surfaces_concurrent_widening(
    spark, sf_dir, tmp_path, monkeypatch
):
    """The one real append conflict: a competitor widens the table while
    our (narrower) append is in flight. Retrying would re-record the
    narrow schema and drop the new column for every later reader, so the
    retry loop re-runs the widening check and raises instead."""
    path = str(tmp_path / "t")
    t = _target(spark, sf_dir).filter("o_orderkey <= 100")
    acid_table.create(t, path, "o_orderkey", n_files=1)
    mine = t.withColumn("o_orderkey", F.col("o_orderkey") + 1000)
    wide = t.withColumn("o_orderkey", F.col("o_orderkey") + 2000).withColumn(
        "priority", F.lit("hi")
    )

    real_write = acid_table._write_data_files
    state = {"fired": False}

    def racing_write(df, p, key, n, **kw):
        adds = real_write(df, p, key, n, **kw)
        if not state["fired"]:
            state["fired"] = True
            acid_table.append(wide, path, n_files=1)
        return adds

    monkeypatch.setattr(acid_table, "_write_data_files", racing_write)
    with pytest.raises(ValueError, match="missing table column"):
        acid_table.append(mine, path, n_files=1)


def test_append_with_retry_parallel_writers_all_commit(
    spark, sf_dir, tmp_path
):
    """Six genuinely concurrent writers (threads sharing the session) all
    commit through the retry loop; the final snapshot holds every row and
    the six commits take six distinct consecutive versions."""
    from concurrent.futures import ThreadPoolExecutor

    path = str(tmp_path / "t")
    t = _target(spark, sf_dir).filter("o_orderkey <= 50")
    acid_table.create(t, path, "o_orderkey", n_files=1)
    n0 = t.count()

    def write(i: int) -> int:
        return acid_table.append(
            t.withColumn("o_orderkey", F.col("o_orderkey") + 1000 * (i + 1)),
            path,
            n_files=1,
        )

    with ThreadPoolExecutor(max_workers=6) as ex:
        versions = sorted(ex.map(write, range(6)))
    assert versions == [1, 2, 3, 4, 5, 6]
    assert acid_table.snapshot(spark, path).count() == 7 * n0


def test_duckdb_interop_survives_schema_evolution(spark, sf_dir, tmp_path):
    """Engine portability must hold AFTER widening: the live set mixes
    3-column and 4-column parquet files, and DuckDB — steered only by the
    manifest's recorded schema and live-file list, both plain JSON — must
    serve the same snapshot Spark does (union_by_name NULL-fills the
    pre-evolution files, exactly like the Spark read through the recorded
    schema)."""
    import json as _json

    import duckdb

    path = str(tmp_path / "t")
    t = _target(spark, sf_dir).filter("o_orderkey <= 300")
    acid_table.create(t, path, "o_orderkey", n_files=2)
    wide = (
        _target(spark, sf_dir)
        .filter("o_orderkey > 300 AND o_orderkey <= 600")
        .withColumn("priority", F.lit("hi"))
    )
    acid_table.append(wide, path, n_files=2)

    st = acid_table._state(path)
    cols = [f["name"] for f in _json.loads(st["schema"])["fields"]]
    assert cols[-1] == "priority"
    files = [os.path.join(path, f["path"]) for f in st["live"]]
    duck = duckdb.sql(
        f"SELECT {', '.join(cols)} FROM"
        " read_parquet($files, union_by_name=true)",
        params={"files": files},
    ).fetchall()
    got = sorted(tuple(r) for r in duck)
    want = sorted(
        tuple(r) for r in acid_table.snapshot(spark, path).collect()
    )
    assert got == want


def test_table_changes_matches_snapshot_diff_and_prunes_carried_files(
    spark, sf_dir, tmp_path
):
    """CDF semantics pinned against a brute-force snapshot diff over the
    create -> append -> merge -> delete trajectory, then the FILE-DIFF
    pruning claim pinned structurally: a data file live in BOTH endpoint
    versions is physically deleted from disk, and table_changes must still
    answer (it never reads carried files) while a full snapshot read of
    either endpoint now fails."""
    path = str(tmp_path / "t")
    t = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    k = F.col("o_orderkey")
    acid_table.create(
        t.filter(F.pmod(k, F.lit(4)) != 0), path, "o_orderkey", n_files=8
    )
    max_key = t.agg(F.max("o_orderkey")).first()[0]
    bound = max_key // 10  # keep merge + delete inside the bottom decile
    acid_table.append(
        t.filter((F.pmod(k, F.lit(4)) == 0) & (F.pmod(k, F.lit(3)) != 0)),
        path,
    )
    acid_table.merge(
        spark,
        t.filter((F.pmod(k, F.lit(3)) == 0) & (k <= bound)).select(
            "o_orderkey",
            F.lit("U").alias("o_orderstatus"),
            (F.col("o_totalprice") * 1.1).alias("o_totalprice"),
        ),
        path,
    )
    acid_table.delete(
        spark, path, f"o_orderkey % 7 = 0 AND o_orderkey <= {bound}"
    )
    head = len(acid_table.history(path)) - 1

    old = {
        r["o_orderkey"]: r
        for r in acid_table.snapshot(spark, path, version=0).collect()
    }
    new = {
        r["o_orderkey"]: r
        for r in acid_table.snapshot(spark, path, version=head).collect()
    }
    expected: list[tuple] = []
    for key in set(old) | set(new):
        o_, n_ = old.get(key), new.get(key)
        if o_ is None:
            expected.append(tuple(n_) + ("insert",))
        elif n_ is None:
            expected.append(tuple(o_) + ("delete",))
        elif tuple(o_) != tuple(n_):
            expected.append(tuple(o_) + ("update_preimage",))
            expected.append(tuple(n_) + ("update_postimage",))
    got = sorted(
        tuple(r) for r in acid_table.table_changes(spark, path, 0, head).collect()
    )
    assert got == sorted(expected)
    # every change class is actually exercised by this trajectory
    kinds = {r[-1] for r in got}
    assert kinds == {"insert", "delete", "update_preimage", "update_postimage"}

    # structural pruning pin: kill a carried file (live at BOTH endpoints)
    from_paths = {f["path"] for f in acid_table._state(path, 0)["live"]}
    to_paths = {f["path"] for f in acid_table._state(path, head)["live"]}
    carried = sorted(from_paths & to_paths)
    assert carried, "fixture must carry at least one file for this pin"
    os.unlink(os.path.join(path, carried[0]))
    again = sorted(
        tuple(r) for r in acid_table.table_changes(spark, path, 0, head).collect()
    )
    assert again == got
    with pytest.raises(Exception):
        acid_table.snapshot(spark, path, version=head).count()


def test_timestamp_time_travel(spark, sf_dir, tmp_path):
    """timestampAsOf semantics: each commit stamps its wall-clock publish
    time; a timestamp between two commits resolves to the earlier version,
    one at/after the head resolves to the head, one before the first
    commit raises. Non-monotonic stamps (clock skew) resolve through the
    running max, so a commit is never considered earlier than its
    predecessor."""
    import json as _json
    import time as _time

    path = str(tmp_path / "t")
    t = _target(spark, sf_dir).filter("o_orderkey <= 100")
    acid_table.create(t, path, "o_orderkey", n_files=1)
    _time.sleep(0.05)
    between_01 = _time.time()
    _time.sleep(0.05)
    acid_table.append(
        t.withColumn("o_orderkey", F.col("o_orderkey") + 1000), path
    )
    hist = acid_table.history(path)
    assert all("ts" in m for m in hist)
    assert acid_table.version_at_timestamp(path, between_01) == 0
    assert acid_table.version_at_timestamp(path, _time.time()) == 1
    with pytest.raises(ValueError, match="predates"):
        acid_table.version_at_timestamp(path, hist[0]["ts"] - 10.0)
    assert (
        acid_table.snapshot(spark, path, timestamp=between_01).count()
        == t.count()
    )
    with pytest.raises(ValueError, match="not both"):
        acid_table.snapshot(spark, path, version=0, timestamp=between_01)

    # clock skew: rewrite v1's stamp EARLIER than v0's. The running max
    # canonicalizes the skewed commit to its predecessor's time (Delta's
    # rule — a commit is never earlier than what it follows), so v1's
    # effective time collapses to v0's stamp: v0's own stamp now resolves
    # to version 1, while anything before v0 still predates the table.
    m1_path = os.path.join(path, "_log", f"{1:020d}.json")
    m1 = _json.load(open(m1_path))
    m1["ts"] = hist[0]["ts"] - 5.0
    os.unlink(m1_path)
    _json.dump(m1, open(m1_path, "w"))
    assert acid_table.version_at_timestamp(path, _time.time()) == 1
    assert acid_table.version_at_timestamp(path, hist[0]["ts"]) == 1
    with pytest.raises(ValueError, match="predates"):
        acid_table.version_at_timestamp(path, hist[0]["ts"] - 0.001)


def test_legacy_table_append_does_not_adopt_appended_schema(
    spark, sf_dir, tmp_path
):
    """Review finding (r12): on a LEGACY table (manifests predating the
    schema field) an append must NOT record the appended frame's schema —
    adopting it would make every later read go through it and silently
    drop any existing column the one frame lacks. Legacy tables keep
    parquet-inference reads; schema recording starts with tables this
    code creates."""
    import json as _json

    path = str(tmp_path / "t")
    t = _target(spark, sf_dir).filter("o_orderkey <= 200")
    acid_table.create(t, path, "o_orderkey", n_files=1)
    # simulate a legacy log: strip the schema field from every manifest
    log_dir = os.path.join(path, "_log")
    for name in os.listdir(log_dir):
        p = os.path.join(log_dir, name)
        m = _json.load(open(p))
        m.pop("schema", None)
        os.unlink(p)
        _json.dump(m, open(p, "w"))
    assert acid_table._state(path)["schema"] is None
    # same-shape append: still no recorded schema, reads unchanged
    acid_table.append(
        t.withColumn("o_orderkey", F.col("o_orderkey") + 1000), path
    )
    assert acid_table._state(path)["schema"] is None
    snap = acid_table.snapshot(spark, path)
    assert snap.columns == ["o_orderkey", "o_orderstatus", "o_totalprice"]
    assert snap.count() == 2 * t.count()
    # a NARROWER append must not hide o_totalprice behind a recorded
    # 2-column schema (the legacy read stays parquet-inference)
    acid_table.append(
        t.select("o_orderkey", "o_orderstatus").withColumn(
            "o_orderkey", F.col("o_orderkey") + 2000
        ),
        path,
    )
    assert acid_table._state(path)["schema"] is None


# ---------------------------------------------------------------------------
# Write-time CDC journal (r13): per-commit feed under duplicate keys
# ---------------------------------------------------------------------------


def _dup_key_frame(spark, sf_dir):
    """lineitem keyed by l_orderkey — DUPLICATED across line numbers, the
    case the read-side file-diff feed cannot serve."""
    return (
        table(spark, sf_dir, "lineitem")
        .filter("l_orderkey % 5 = 0")
        .select("l_orderkey", "l_linenumber", "l_quantity")
    )


def test_cdc_journal_delete_under_duplicate_keys(spark, sf_dir, tmp_path):
    """A journaled DELETE's feed reproduces exactly the removed rows —
    including multiple rows per key — and the journal files live outside
    the snapshot read path (snapshot is unchanged in shape)."""
    path = str(tmp_path / "t")
    t = _dup_key_frame(spark, sf_dir)
    acid_table.create(t, path, "l_orderkey", n_files=4)
    stats = acid_table.delete(
        spark, path, "l_quantity >= 40", n_files=2, cdc=True
    )
    feed = acid_table.table_changes_journal(spark, path, 0, 1)
    expected = t.filter("l_quantity >= 40")
    assert stats["deleted_rows"] == expected.count()
    assert feed.count() == expected.count()
    assert feed.select("change_type").distinct().collect()[0][0] == "delete"
    assert (feed.select("commit_version").distinct().collect()[0][0]) == 1
    # multiset equality over the duplicated key space
    assert (
        feed.select("l_orderkey", "l_linenumber", "l_quantity")
        .exceptAll(expected)
        .count()
        == 0
    )
    assert (
        expected.exceptAll(
            feed.select("l_orderkey", "l_linenumber", "l_quantity")
        ).count()
        == 0
    )
    # the snapshot never sees cdc/ files
    assert acid_table.snapshot(spark, path).count() == t.count() - stats[
        "deleted_rows"
    ]


def test_cdc_journal_merge_duplicate_target_keys(spark, sf_dir, tmp_path):
    """MERGE journaling under duplicate TARGET keys: every matched copy is
    an update_preimage, the source row appears once per matched copy as
    the postimage (the exact committed outcome of the copy-on-write
    rewrite), and unmatched source keys are inserts."""
    path = str(tmp_path / "t")
    t = _dup_key_frame(spark, sf_dir)
    acid_table.create(t, path, "l_orderkey", n_files=4)
    source = (
        t.filter("l_orderkey % 3 = 0")
        .select("l_orderkey")
        .distinct()
        .select(
            "l_orderkey",
            F.lit(-1).cast("int").alias("l_linenumber"),
            F.lit(99.0).alias("l_quantity"),
        )
    )
    # one key that is NOT in the table -> must journal as insert
    missing_key = t.agg(F.max("l_orderkey")).first()[0] + 5
    source = source.unionByName(
        spark.createDataFrame(
            [(missing_key, -1, 99.0)],
            "l_orderkey BIGINT, l_linenumber INT, l_quantity DOUBLE",
        )
    )
    acid_table.merge(spark, source, path, cdc=True)
    feed = acid_table.table_changes_journal(spark, path, 0, 1)
    matched = t.filter("l_orderkey % 3 = 0")
    n_matched = matched.count()
    by_type = {
        r["change_type"]: r["n"]
        for r in feed.groupBy("change_type").agg(F.count("*").alias("n")).collect()
    }
    assert by_type.get("update_preimage") == n_matched
    assert by_type.get("update_postimage") == n_matched
    assert by_type.get("insert") == 1
    # preimages are exactly the matched copies (duplicates preserved)
    pre = feed.filter("change_type = 'update_preimage'").select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )
    assert pre.exceptAll(matched).count() == 0
    assert matched.exceptAll(pre).count() == 0
    # the committed snapshot holds one source copy per matched line
    snap = acid_table.snapshot(spark, path)
    assert snap.filter("l_linenumber = -1").count() == n_matched + 1


def test_cdc_journal_raises_on_unjournaled_rewrite(spark, sf_dir, tmp_path):
    """A delete committed WITHOUT cdc=True cannot be served from the
    journal: the feed must refuse loudly and name the fallback, never
    silently skip the commit's changes."""
    path = str(tmp_path / "t")
    t = _dup_key_frame(spark, sf_dir)
    acid_table.create(t, path, "l_orderkey", n_files=2)
    acid_table.delete(spark, path, "l_quantity >= 40", cdc=False)
    with pytest.raises(ValueError, match="without\\s+.?cdc=True"):
        acid_table.table_changes_journal(spark, path, 0, 1)


def test_cdc_journal_retention_rides_vacuum_window(spark, sf_dir, tmp_path):
    """Compaction contributes no feed rows; VACUUM keeps journal files of
    RETAINED commits (the feed still serves after the pre-compaction data
    files are physically gone) and reclaims them beyond the window — a
    continuous journaled stream's cdc/ footprint is bounded by retention,
    not lifetime (Delta's _change_data rule)."""
    path = str(tmp_path / "t")
    t = _dup_key_frame(spark, sf_dir)
    acid_table.create(t, path, "l_orderkey", n_files=4)
    acid_table.delete(spark, path, "l_quantity >= 40", n_files=4, cdc=True)
    acid_table.compact(spark, path, n_files=1)
    n_del = t.filter("l_quantity >= 40").count()
    feed_before = acid_table.table_changes_journal(spark, path, 0, 2)
    assert feed_before.count() == n_del  # compact added nothing
    # retention window covers the journaled delete (v1): journal kept,
    # feed identical even though v0's data files are gone
    stats = acid_table.vacuum(path, retain_versions=2, orphan_grace_seconds=0.0)
    assert stats["cdc_deleted"] == 0
    feed_after = acid_table.table_changes_journal(spark, path, 0, 2)
    assert feed_after.count() == n_del
    assert feed_after.filter("change_type = 'delete'").count() == n_del
    # shrink retention below the journaled commit: its cdc files are
    # reclaimed and the directory is empty — bounded forever
    stats2 = acid_table.vacuum(
        path, retain_versions=1, orphan_grace_seconds=0.0
    )
    assert stats2["cdc_deleted"] > 0
    assert os.listdir(os.path.join(path, "cdc")) == []


def test_duckdb_serves_identical_cdc_journal_feed(spark, sf_dir, tmp_path):
    """Engine portability extends to the journal: DuckDB, steered only by
    the manifests' plain-JSON cdc lists and the append's add lists, must
    serve the identical per-commit feed Spark does — change files are
    plain parquet like everything else in the format."""
    import json as _json

    import duckdb

    path = str(tmp_path / "t")
    t = _dup_key_frame(spark, sf_dir)
    acid_table.create(t, path, "l_orderkey", n_files=2)
    acid_table.append(
        t.withColumn("l_orderkey", F.col("l_orderkey") + 1_000_000), path, 1
    )
    acid_table.delete(spark, path, "l_quantity >= 40", cdc=True)
    spark_feed = sorted(
        tuple(r)
        for r in acid_table.table_changes_journal(spark, path, 0, 2)
        .select(
            "l_orderkey", "l_linenumber", "l_quantity",
            "change_type", "commit_version",
        )
        .collect()
    )
    parts = []
    for m in acid_table.history(path):
        v = m["version"]
        if not 0 < v <= 2:
            continue
        if m.get("cdc"):
            files = ", ".join(f"'{os.path.join(path, p)}'" for p in m["cdc"])
            parts.append(
                f"SELECT l_orderkey, l_linenumber, l_quantity, change_type,"
                f" CAST({v} AS BIGINT) AS commit_version"
                f" FROM read_parquet([{files}])"
            )
        elif m["op"] in ("create", "append", "stream-append") and m["add"]:
            files = ", ".join(
                f"'{os.path.join(path, a['path'])}'" for a in m["add"]
            )
            parts.append(
                f"SELECT l_orderkey, l_linenumber, l_quantity,"
                f" 'insert' AS change_type,"
                f" CAST({v} AS BIGINT) AS commit_version"
                f" FROM read_parquet([{files}])"
            )
    duck_feed = sorted(
        tuple(r) for r in duckdb.sql(" UNION ALL ".join(parts)).fetchall()
    )
    assert spark_feed == duck_feed


def test_delete_keeps_null_predicate_rows_and_journals_consistently(
    spark, sf_dir, tmp_path
):
    """SQL DELETE semantics under NULLs (review finding, r13): rows where
    the predicate evaluates NULL are KEPT — and the snapshot, the
    deleted_rows count, and the CDC journal must agree exactly (the naive
    NOT(cond) rewrite silently dropped NULL rows without counting or
    journaling them)."""
    path = str(tmp_path / "t")
    t = _target(spark, sf_dir).withColumn(
        "v",
        F.when(F.pmod("o_orderkey", F.lit(3)) == 0, F.lit(None)).otherwise(
            F.col("o_totalprice")
        ),
    )
    acid_table.create(t, path, "o_orderkey", n_files=2)
    n_null = t.filter("v IS NULL").count()
    n_true = t.filter("v >= 1000").count()
    assert n_null > 0 and n_true > 0
    stats = acid_table.delete(spark, path, "v >= 1000", cdc=True)
    assert stats["deleted_rows"] == n_true
    snap = acid_table.snapshot(spark, path)
    # NULL-predicate rows survive; only IS TRUE rows are gone
    assert snap.count() == t.count() - n_true
    assert snap.filter("v IS NULL").count() == n_null
    feed = acid_table.table_changes_journal(spark, path, 0, 1)
    assert feed.count() == n_true
    assert feed.filter("v IS NULL").count() == 0


def test_vacuum_sweeps_crashed_staging_dirs(spark, sf_dir, tmp_path):
    """Crashed writers' .stage-*/.cdc-stage-* staging directories under
    the table root are reclaimed by vacuum with the orphan grace (review
    finding, r13 — the one leak path no sweep covered)."""
    path = str(tmp_path / "t")
    acid_table.create(
        _target(spark, sf_dir).limit(200), path, "o_orderkey", n_files=1
    )
    for d in (".stage-deadbeef", ".cdc-stage-deadbeef"):
        os.makedirs(os.path.join(path, d))
        with open(os.path.join(path, d, "part-0.parquet"), "w") as fh:
            fh.write("junk")
    # inside the grace window: kept (an in-flight writer looks identical)
    stats = acid_table.vacuum(
        path, retain_versions=1, orphan_grace_seconds=3600.0
    )
    assert stats["staging_deleted"] == 0
    assert os.path.isdir(os.path.join(path, ".stage-deadbeef"))
    # beyond the grace: swept
    stats = acid_table.vacuum(
        path, retain_versions=1, orphan_grace_seconds=0.0
    )
    assert stats["staging_deleted"] == 2
    assert not os.path.isdir(os.path.join(path, ".stage-deadbeef"))
    assert not os.path.isdir(os.path.join(path, ".cdc-stage-deadbeef"))


# ---------------------------------------------------------------------------
# Multi-column data skipping (r13)
# ---------------------------------------------------------------------------


def _banded_target(spark, sf_dir):
    return (
        table(spark, sf_dir, "orders")
        .select(
            "o_orderkey",
            "o_orderstatus",
            "o_totalprice",
            F.expr("o_orderkey div 1024").alias("ok_band"),
        )
    )


def test_column_stats_recorded_and_skipping_is_structural(
    spark, sf_dir, tmp_path
):
    """Manifests record per-file [min, max] for numeric columns (strings
    deliberately excluded); skip_where pruning is STRUCTURAL — a file
    whose recorded range misses the predicate can be physically deleted
    and the pruned read still answers exactly, while an unpruned read of
    the same version fails."""
    path = str(tmp_path / "t")
    t = _banded_target(spark, sf_dir)
    acid_table.create(t, path, "o_orderkey", n_files=8)
    live = acid_table._state(path)["live"]
    assert all("cols" in f for f in live)
    assert all("ok_band" in f["cols"] for f in live)
    assert all("o_totalprice" in f["cols"] for f in live)
    # strings are excluded by design (truncated binary min/max hazard)
    assert all("o_orderstatus" not in f["cols"] for f in live)
    lo, hi = 3, 5
    pruned_out = [
        f
        for f in live
        if f["cols"]["ok_band"][1] < lo or f["cols"]["ok_band"][0] > hi
    ]
    assert pruned_out, "the key-monotone band must prune some files"
    os.unlink(os.path.join(path, pruned_out[0]["path"]))
    got = acid_table.snapshot(
        spark, path, skip_where={"ok_band": (lo, hi)}
    )
    expected = t.filter(f"ok_band BETWEEN {lo} AND {hi}")
    assert got.count() == expected.count()
    assert got.exceptAll(expected).count() == 0
    with pytest.raises(Exception):
        acid_table.snapshot(spark, path).count()  # unpruned read: file gone


def test_skip_where_is_conservative_on_stats_free_manifests(
    spark, sf_dir, tmp_path
):
    """Legacy manifests (no "cols") must never be skipped: strip the
    recorded stats from the on-disk manifest (plain JSON, simulating a
    pre-r13 table) and the same skip_where must read EVERY file —
    conservative, exact, just unpruned."""
    import json as _json

    path = str(tmp_path / "t")
    t = _banded_target(spark, sf_dir)
    acid_table.create(t, path, "o_orderkey", n_files=4)
    man = os.path.join(path, "_log", f"{0:020d}.json")
    with open(man) as fh:
        m = _json.load(fh)
    for a in m["add"]:
        a.pop("cols", None)
    os.unlink(man)  # tests may rewrite fixtures directly; the format
    # itself never mutates a published manifest
    with open(man, "w") as fh:
        _json.dump(m, fh)
    got = acid_table.snapshot(spark, path, skip_where={"ok_band": (3, 5)})
    expected = t.filter("ok_band BETWEEN 3 AND 5")
    assert got.count() == expected.count()
    # every file was read (nothing skipped): the plan lists all 4 files
    live = acid_table._state(path)["live"]
    assert len(live) == 4


def test_journal_feed_beyond_vacuum_retention_raises_curated_error(
    spark, sf_dir, tmp_path
):
    """ADVICE r13: vacuum reclaims below-retention CDC journal files but
    manifests keep their "cdc" entries — a feed window touching a
    vacuumed commit must raise the explicit beyond-retention error naming
    vacuum, not a raw Spark path-not-found."""
    path = str(tmp_path / "t")
    t = _target(spark, sf_dir).limit(400)
    acid_table.create(t, path, "o_orderkey", n_files=2)
    acid_table.delete(spark, path, "o_orderkey % 5 = 0", cdc=True)  # v1
    acid_table.compact(spark, path, n_files=1)  # v2
    acid_table.append(t.limit(0), path)  # v3 (empty append, cheap head bump)
    acid_table.compact(spark, path, n_files=1)  # no-op (already 1 file)
    acid_table.append(
        t.withColumn("o_orderkey", F.col("o_orderkey") + 10_000_000), path, 1
    )  # v4
    # retention keeps the last 2 versions -> v1's journal file goes
    res = acid_table.vacuum(path, retain_versions=2, orphan_grace_seconds=0)
    assert res["cdc_deleted"] >= 1
    with pytest.raises(ValueError, match="vacuum reclaimed"):
        acid_table.table_changes_journal(spark, path, 0, 4)
    # a window that avoids the vacuumed commit still serves
    assert acid_table.table_changes_journal(spark, path, 3, 4).count() > 0


def test_staging_sweep_keeps_inflight_writer_by_subtree_mtime(
    spark, sf_dir, tmp_path
):
    """ADVICE r13: Spark task output lands in _temporary subtrees and only
    bumps the top-level staging dir mtime at task commit — liveness must
    be judged by the NEWEST mtime in the subtree, or a long-running
    in-flight write gets rmtree'd mid-write."""
    import time

    path = str(tmp_path / "t")
    acid_table.create(
        _target(spark, sf_dir).limit(100), path, "o_orderkey", n_files=1
    )
    stage = os.path.join(path, ".stage-inflight")
    tmpdir = os.path.join(stage, "_temporary", "0")
    os.makedirs(tmpdir)
    old = time.time() - 7200
    os.utime(stage, (old, old))
    os.utime(os.path.join(stage, "_temporary"), (old, old))
    os.utime(tmpdir, (old, old))
    # a task is writing RIGHT NOW deep in the subtree
    with open(os.path.join(tmpdir, "part-0"), "w") as fh:
        fh.write("active")
    stats = acid_table.vacuum(
        path, retain_versions=1, orphan_grace_seconds=3600.0
    )
    assert stats["staging_deleted"] == 0
    assert os.path.isdir(stage)
    # once the whole subtree is old, it sweeps
    for dirpath, dirnames, filenames in os.walk(stage):
        for n in dirnames + filenames:
            os.utime(os.path.join(dirpath, n), (old, old))
    stats = acid_table.vacuum(
        path, retain_versions=1, orphan_grace_seconds=3600.0
    )
    assert stats["staging_deleted"] == 1
    assert not os.path.isdir(stage)


# ---------------------------------------------------------------------------
# Merge-on-read deletion vectors (r14)
# ---------------------------------------------------------------------------


def _file_digests(path):
    import hashlib

    out = {}
    data_dir = os.path.join(path, "data")
    for name in sorted(os.listdir(data_dir)):
        with open(os.path.join(data_dir, name), "rb") as fh:
            out[name] = hashlib.sha1(fh.read()).hexdigest()
    return out


def test_dv_delete_leaves_data_files_byte_untouched(spark, sf_dir, tmp_path):
    """The structural claim DVs exist for: a DV-mode DELETE writes only a
    position sidecar — every committed data file is BYTE-IDENTICAL after
    the delete, yet the snapshot no longer serves the deleted rows."""
    path = str(tmp_path / "t")
    t = _target(spark, sf_dir).limit(2000)
    acid_table.create(t, path, "o_orderkey", n_files=8)
    before = _file_digests(path)
    res = acid_table.delete(spark, path, "o_orderkey % 5 = 0", mode="dv")
    assert res["rewritten"] == 0
    assert res["dv_files"] >= 1
    assert res["deleted_rows"] == t.filter("o_orderkey % 5 = 0").count()
    assert _file_digests(path) == before  # not a byte moved
    assert os.path.isdir(os.path.join(path, "dv"))
    snap = acid_table.snapshot(spark, path)
    assert snap.count() == t.filter("o_orderkey % 5 <> 0").count()
    assert snap.filter("o_orderkey % 5 = 0").count() == 0
    # time travel: v0 still serves every row (the files are untouched and
    # v0's live entries carry no vector)
    assert acid_table.snapshot(spark, path, version=0).count() == t.count()


def test_dv_matches_cow_and_second_delete_supersedes(spark, sf_dir, tmp_path):
    """DV-mode snapshot hash-equals the copy-on-write result after a
    two-delete chain, and the second vector SUPERSEDES the first with the
    union of positions (one sidecar pointer per live file)."""
    t = _target(spark, sf_dir).limit(2000)

    def rows(path):
        return sorted(
            tuple(r) for r in acid_table.snapshot(spark, path).collect()
        )

    pc = str(tmp_path / "cow")
    acid_table.create(t, pc, "o_orderkey", n_files=8)
    acid_table.delete(spark, pc, "o_orderkey % 5 = 0", mode="cow")
    acid_table.delete(spark, pc, "o_totalprice > 200000", mode="cow")
    pd_ = str(tmp_path / "dv")
    acid_table.create(t, pd_, "o_orderkey", n_files=8)
    acid_table.delete(spark, pd_, "o_orderkey % 5 = 0", mode="dv")
    acid_table.delete(spark, pd_, "o_totalprice > 200000", mode="dv")
    assert rows(pc) == rows(pd_)
    live = acid_table._state(pd_)["live"]
    dv_paths = {e["dv"]["path"] for e in live if e.get("dv")}
    # files both deletes hit point at the SECOND commit's sidecar, and
    # its recorded row count is the union of both deletes' positions
    mans = acid_table.history(pd_)
    dv1 = {i["path"] for i in mans[1]["dv"].values()}
    dv2 = {i["path"] for i in mans[2]["dv"].values()}
    assert dv1 != dv2
    both = set(mans[1]["dv"]) & set(mans[2]["dv"])
    assert both, "fixture must have files hit by both deletes"
    for p in both:
        assert mans[2]["dv"][p]["rows"] > 0
        assert mans[2]["dv"][p]["rows"] >= mans[1]["dv"][p]["rows"]
        # the live entry points at the superseding sidecar
        e = next(e for e in live if e["path"] == p)
        assert e["dv"]["path"] in dv2
    assert dv_paths <= (dv1 | dv2)


def test_dv_null_predicate_rows_are_kept_and_not_journaled(
    spark, sf_dir, tmp_path
):
    """SQL DELETE semantics hold in DV mode too: rows where the predicate
    evaluates NULL are kept, never counted, never journaled."""
    path = str(tmp_path / "t")
    t = _target(spark, sf_dir).limit(1000).withColumn(
        "v",
        F.when(F.col("o_orderkey") % 3 == 0, F.lit(None)).otherwise(
            F.col("o_totalprice")
        ),
    )
    n_null = t.filter("v IS NULL").count()
    n_true = t.filter("v >= 1000").count()
    acid_table.create(t, path, "o_orderkey", n_files=2)
    res = acid_table.delete(spark, path, "v >= 1000", mode="dv", cdc=True)
    assert res["deleted_rows"] == n_true
    snap = acid_table.snapshot(spark, path)
    assert snap.count() == t.count() - n_true
    assert snap.filter("v IS NULL").count() == n_null
    feed = acid_table.table_changes_journal(spark, path, 0, 1)
    assert feed.count() == n_true
    assert feed.filter("v IS NULL").count() == 0


def test_dv_second_delete_never_recounts_already_deleted_rows(
    spark, sf_dir, tmp_path
):
    """A row a previous vector removed is not logically in the table: a
    second DV delete whose predicate also matches it must not re-count,
    re-journal, or re-delete it."""
    path = str(tmp_path / "t")
    t = _target(spark, sf_dir).limit(1000)
    acid_table.create(t, path, "o_orderkey", n_files=2)
    acid_table.delete(spark, path, "o_orderkey % 10 = 0", mode="dv")
    # superset predicate: %5 covers every %10 row already deleted
    res = acid_table.delete(
        spark, path, "o_orderkey % 5 = 0", mode="dv", cdc=True
    )
    only_new = t.filter(
        "o_orderkey % 5 = 0 AND o_orderkey % 10 <> 0"
    ).count()
    assert res["deleted_rows"] == only_new
    feed = acid_table.table_changes_journal(spark, path, 1, 2)
    assert feed.count() == only_new
    assert (
        acid_table.snapshot(spark, path).count()
        == t.filter("o_orderkey % 5 <> 0").count()
    )


def test_optimize_materializes_deletion_vectors_away(spark, sf_dir, tmp_path):
    """compact() applies and retires vectors: post-OPTIMIZE live entries
    carry no dv, the snapshot is unchanged, and a below-target-file-count
    table WITH vectors still compacts (materialization is the point)."""
    path = str(tmp_path / "t")
    t = _target(spark, sf_dir).limit(1000)
    acid_table.create(t, path, "o_orderkey", n_files=2)
    acid_table.delete(spark, path, "o_orderkey % 5 = 0", mode="dv")
    before = sorted(
        tuple(r) for r in acid_table.snapshot(spark, path).collect()
    )
    res = acid_table.compact(spark, path, n_files=2)  # not under target,
    # but carries vectors -> must still rewrite
    assert res["rewritten"] == 2
    live = acid_table._state(path)["live"]
    assert not any(e.get("dv") for e in live)
    after = sorted(
        tuple(r) for r in acid_table.snapshot(spark, path).collect()
    )
    assert after == before


def test_dv_file_diff_feed_and_merge_respect_vectors(spark, sf_dir, tmp_path):
    """table_changes diffs on (path, dv) identity — a DV commit's deletes
    appear in the file-diff feed though no file path changed — and MERGE
    reading DV'd hit files never resurrects deleted rows."""
    path = str(tmp_path / "t")
    t = _target(spark, sf_dir).limit(1000)
    acid_table.create(t, path, "o_orderkey", n_files=4)
    acid_table.delete(spark, path, "o_orderkey % 5 = 0", mode="dv")
    feed = acid_table.table_changes(spark, path, 0, 1)
    got = {
        (r["o_orderkey"], r["change_type"]) for r in feed.collect()
    }
    exp = {
        (r["o_orderkey"], "delete")
        for r in t.filter("o_orderkey % 5 = 0").collect()
    }
    assert got == exp
    src = t.filter("o_orderkey % 7 = 0").select(
        "o_orderkey",
        F.lit("U").alias("o_orderstatus"),
        (F.col("o_totalprice") * 1.1).alias("o_totalprice"),
    )
    acid_table.merge(spark, src, path)
    snap = acid_table.snapshot(spark, path)
    # %5-deleted rows stay gone unless the merge re-inserted their key
    assert (
        snap.filter("o_orderkey % 5 = 0 AND o_orderkey % 7 <> 0").count()
        == 0
    )
    assert snap.filter("o_orderkey % 7 = 0").count() == t.filter(
        "o_orderkey % 7 = 0"
    ).count()


def test_vacuum_honors_dv_sidecar_retention(spark, sf_dir, tmp_path):
    """A sidecar a retained version's live set points at survives vacuum
    (its snapshot must stay byte-exact); superseded sidecars beyond
    retention are reclaimed; dv-dir orphans honor the mtime grace."""
    path = str(tmp_path / "t")
    t = _target(spark, sf_dir).limit(1000)
    acid_table.create(t, path, "o_orderkey", n_files=2)
    acid_table.delete(spark, path, "o_orderkey % 10 = 0", mode="dv")  # v1
    acid_table.delete(spark, path, "o_orderkey % 5 = 0", mode="dv")  # v2
    acid_table.append(
        t.withColumn("o_orderkey", F.col("o_orderkey") + 1_000_000), path
    )  # v3
    mans = acid_table.history(path)
    dv1 = next(iter(mans[1]["dv"].values()))["path"]
    dv2 = next(iter(mans[2]["dv"].values()))["path"]
    # plant an orphan sidecar (crashed dv writer)
    orphan = os.path.join(path, "dv", "zzzz-orphan.parquet")
    with open(orphan, "w") as fh:
        fh.write("junk")
    expected = sorted(
        tuple(r) for r in acid_table.snapshot(spark, path).collect()
    )
    res = acid_table.vacuum(path, retain_versions=2, orphan_grace_seconds=0)
    # v1's superseded sidecar is beyond retention (v2, v3 retained): gone
    assert not os.path.exists(os.path.join(path, dv1))
    # v2's sidecar is live in both retained versions: kept, still serving
    assert os.path.exists(os.path.join(path, dv2))
    assert not os.path.exists(orphan)
    assert res["dv_deleted"] == 2
    after = sorted(
        tuple(r) for r in acid_table.snapshot(spark, path).collect()
    )
    assert after == expected
    # fresh orphans inside the grace window survive
    with open(orphan, "w") as fh:
        fh.write("junk")
    res = acid_table.vacuum(
        path, retain_versions=2, orphan_grace_seconds=3600.0
    )
    assert res["dv_deleted"] == 0
    assert os.path.exists(orphan)


def test_dv_respects_stats_pruning_and_checkpoint_rollup(
    spark, sf_dir, tmp_path
):
    """key_between pruning stays exact over DV'd files (vectors only
    shrink a file's true range — recorded stats are conservative), and
    checkpoints roll the dv pointers up with the live entries (a replay
    from the checkpoint alone still applies the vectors)."""
    path = str(tmp_path / "t")
    t = _target(spark, sf_dir).limit(2000)
    acid_table.create(t, path, "o_orderkey", n_files=4)
    acid_table.delete(spark, path, "o_orderkey % 5 = 0", mode="dv")
    max_key = t.agg(F.max("o_orderkey")).first()[0]
    lo, hi = 10, max_key // 3
    got = acid_table.snapshot(spark, path, key_between=(lo, hi))
    exp = t.filter(
        f"o_orderkey BETWEEN {lo} AND {hi} AND o_orderkey % 5 <> 0"
    )
    assert got.count() == exp.count()
    # drive to the checkpoint boundary (v10)
    for i in range(2, 11):
        acid_table.append(
            t.limit(50).withColumn(
                "o_orderkey", F.col("o_orderkey") + 1_000_000 * i
            ),
            path,
            1,
        )
    cp = os.path.join(path, "_log", f"{10:020d}.checkpoint.json")
    assert os.path.exists(cp)
    import json as _json

    with open(cp) as fh:
        cp_live = _json.load(fh)["live"]
    assert any(e.get("dv") for e in cp_live)
    # a snapshot served from the checkpoint window still applies vectors
    assert (
        acid_table.snapshot(spark, path)
        .filter("o_orderkey < 1000000 AND o_orderkey % 5 = 0")
        .count()
        == 0
    )


# ---------------------------------------------------------------------------
# String-column data skipping with truncated prefix bounds (r14)
# ---------------------------------------------------------------------------


def test_string_skipping_is_structural_and_engine_computed(
    spark, sf_dir, tmp_path
):
    """String columns record 32-char prefix bounds in "scols", taken from
    the string min/max in the parquet footers, and skip_where pruning on a
    string range is STRUCTURAL: a file whose recorded bounds miss the
    predicate can be physically deleted and the pruned read still answers
    exactly."""
    path = str(tmp_path / "t")
    t = (
        table(spark, sf_dir, "orders")
        .select(
            "o_orderkey",
            "o_totalprice",
            F.concat(
                F.lit("b"),
                F.lpad(
                    F.expr("cast(o_orderkey div 1024 as string)"), 6, "0"
                ),
            ).alias("sband"),
        )
    )
    acid_table.create(t, path, "o_orderkey", n_files=8)
    live = acid_table._state(path)["live"]
    assert all("sband" in (f.get("scols") or {}) for f in live)
    # short strings: untruncated, upper == true max, truncated flag False
    assert all(f["scols"]["sband"][2] is False for f in live)
    lo, hi = "b000003", "b000005"
    pruned_out = [
        f
        for f in live
        if f["scols"]["sband"][1] < lo or f["scols"]["sband"][0] > hi
    ]
    assert pruned_out, "key-monotone string bands must prune files"
    os.unlink(os.path.join(path, pruned_out[0]["path"]))
    got = acid_table.snapshot(spark, path, skip_where={"sband": (lo, hi)})
    exp = t.filter(f"sband BETWEEN '{lo}' AND '{hi}'")
    assert got.count() == exp.count()
    assert got.exceptAll(exp).count() == 0
    with pytest.raises(Exception):
        acid_table.snapshot(spark, path).count()  # unpruned read: file gone


def test_string_skipping_truncation_and_non_ascii_edges(spark, tmp_path):
    """Long strings truncate to a 32-char prefix with a successor-
    incremented EXCLUSIVE upper bound; pruning via the truncated bound is
    conservative but sound (a predicate inside the prefix range keeps the
    file; one above the successor prunes it); non-ASCII code points and
    the no-successor (all-U+10FFFF) edge behave."""
    # successor unit edges
    assert acid_table._str_successor("abc") == "abd"
    assert acid_table._str_successor("ab" + chr(0x10FFFF)) == "ac"
    assert acid_table._str_successor(chr(0x10FFFF) * 3) is None
    # surrogate gap is skipped, not entered
    assert acid_table._str_successor(chr(0xD7FF)) == chr(0xE000)
    # é (U+00E9) increments to U+00EA
    assert acid_table._str_successor("café") == "cafê"
    long_lo = "k" * 40  # truncates: prefix 'k'*32, successor 'k'*31 + 'l'
    rows = [
        (1, long_lo),
        (2, "k" * 35),
        (1001, "zz-café-" + "x" * 40),
        (1002, "zz-nächste"),
    ]
    df = spark.createDataFrame(rows, "k LONG, s STRING")
    path = str(tmp_path / "t")
    acid_table.create(df, path, "k", n_files=2)
    live = sorted(
        acid_table._state(path)["live"], key=lambda e: e["min_key"]
    )
    assert len(live) == 2
    lo_bounds = live[0]["scols"]["s"]
    assert lo_bounds[0] == "k" * 32  # prefix_min
    assert lo_bounds[1] == "k" * 31 + "l"  # successor of the prefix
    assert lo_bounds[2] is True
    hi_bounds = live[1]["scols"]["s"]
    # min is the long café string (prefix-truncated to 32 chars); max is
    # the SHORT 'zz-nächste' — so the upper bound is exact, untruncated
    assert hi_bounds[0] == "zz-café-" + "x" * (32 - 8)
    assert hi_bounds[1] == "zz-nächste"
    assert hi_bounds[2] is False
    # a range ABOVE the low file's successor prunes it (sound: true max
    # k*40 < k*31+'l'); a range at the prefix itself conservatively keeps
    got = acid_table.snapshot(spark, path, skip_where={"s": ("m", "n")})
    assert got.count() == 0  # both files pruned or filtered — exact
    kept = acid_table.snapshot(
        spark, path, skip_where={"s": ("k" * 32, "k" * 33)}
    )
    assert kept.count() == df.filter(
        f"s BETWEEN '{'k' * 32}' AND '{'k' * 33}'"
    ).count()
    # non-ASCII range: only the zz file matches
    za = acid_table.snapshot(
        spark, path, skip_where={"s": ("zz-a", "zz-z")}
    )
    assert za.count() == 2


def test_footer_string_stats_limit_records_no_bounds(spark, tmp_path):
    """Spark's parquet writer drops a row group's string min/max when they
    reach 4 KiB together, so that column records no "scols" in that file,
    while a short string column in the same file still does; a skip_where
    on the long column keeps the file and answers exactly."""
    rows = [(1, "a" * 2100, "x"), (2, "b" * 2100, "y"), (3, "c" * 2100, "z")]
    df = spark.createDataFrame(rows, "k LONG, s STRING, t STRING")
    path = str(tmp_path / "t")
    acid_table.create(df, path, "k", n_files=1)
    (entry,) = acid_table._state(path)["live"]
    assert "s" not in entry["scols"]
    assert entry["scols"]["t"] == ["x", "z", False]
    for lo, hi in (("b", "bz"), ("d", "e"), ("a", "c")):
        got = acid_table.snapshot(spark, path, skip_where={"s": (lo, hi)})
        exp = df.filter(F.col("s").between(lo, hi))
        assert sorted(got.collect()) == sorted(exp.collect())


def test_string_skipping_legacy_manifests_never_skip(spark, sf_dir, tmp_path):
    """Manifests without "scols" (pre-r14 tables) must never be skipped —
    strip the recorded string stats and the same skip_where reads every
    file: conservative, exact, just unpruned."""
    import json as _json

    path = str(tmp_path / "t")
    t = (
        table(spark, sf_dir, "orders")
        .limit(2000)
        .select(
            "o_orderkey",
            F.concat(
                F.lit("b"),
                F.lpad(
                    F.expr("cast(o_orderkey div 256 as string)"), 6, "0"
                ),
            ).alias("sband"),
        )
    )
    acid_table.create(t, path, "o_orderkey", n_files=4)
    man = os.path.join(path, "_log", f"{0:020d}.json")
    with open(man) as fh:
        m = _json.load(fh)
    for a in m["add"]:
        a.pop("scols", None)
    os.unlink(man)  # fixture surgery; the format never mutates manifests
    with open(man, "w") as fh:
        _json.dump(m, fh)
    got = acid_table.snapshot(
        spark, path, skip_where={"sband": ("b000001", "b000002")}
    )
    exp = t.filter("sband BETWEEN 'b000001' AND 'b000002'")
    assert got.count() == exp.count()


# ---------------------------------------------------------------------------
# Z-order OPTIMIZE (r14 stretch)
# ---------------------------------------------------------------------------


def test_zorder_compact_prunes_second_dimension_snapshot_unchanged(
    spark, sf_dir, tmp_path
):
    """OPTIMIZE ZORDER BY as table maintenance: before the re-cluster the
    key-range layout gives every file the FULL custkey range (a custkey
    predicate prunes nothing from recorded stats); after
    compact(zorder_by=[o_custkey, o_day]) a second-dimension box prunes
    ≥ half the files at metadata time — and the snapshot is value-
    identical (layout moved, data did not). Also pins that a DV present
    before the zorder compact is materialized through it."""
    path = str(tmp_path / "t")
    o = table(spark, sf_dir, "orders")
    base = o.select(
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        F.datediff(
            F.to_date("o_orderdate"), F.lit("1992-01-01").cast("date")
        ).alias("o_day"),
    )
    acid_table.create(base, path, "o_orderkey", n_files=16)
    acid_table.delete(spark, path, "o_orderkey % 97 = 0", mode="dv")
    max_ck = base.agg(F.max("o_custkey")).first()[0]
    # a box spanning ~1/16 of the custkey domain, off-center so it sits
    # inside one z-band instead of straddling a band boundary (scale-
    # relative: the prune claim must hold at every SF)
    box = (max_ck // 8, max_ck // 8 + max(1, max_ck // 16))

    def pruned_files(live, col, lo, hi):
        return [
            f
            for f in live
            if (f.get("cols") or {}).get(col) is not None
            and (f["cols"][col][1] < lo or f["cols"][col][0] > hi)
        ]

    live0 = acid_table._state(path)["live"]
    assert len(pruned_files(live0, "o_custkey", *box)) == 0  # key layout:
    # every file spans the full custkey range — second dim never prunes
    before = sorted(
        tuple(r) for r in acid_table.snapshot(spark, path).collect()
    )
    res = acid_table.compact(
        spark, path, n_files=16, zorder_by=["o_custkey", "o_day"]
    )
    assert res["rewritten"] == 16
    live1 = acid_table._state(path)["live"]
    assert not any(e.get("dv") for e in live1)  # vectors materialized
    pruned = pruned_files(live1, "o_custkey", *box)
    assert len(pruned) >= len(live1) // 2, (
        f"only {len(pruned)}/{len(live1)} files prune on the second "
        "dimension after ZORDER"
    )
    after = sorted(
        tuple(r) for r in acid_table.snapshot(spark, path).collect()
    )
    assert after == before
    # the pruned 2-D box read is exact AND structural: delete a file the
    # box prunes, the skip_where read still answers
    os.unlink(os.path.join(path, pruned[0]["path"]))
    day_box = (1800, 2200)
    got = acid_table.snapshot(
        spark, path, skip_where={"o_custkey": box, "o_day": day_box}
    )
    exp = base.filter(
        f"o_custkey BETWEEN {box[0]} AND {box[1]}"
        f" AND o_day BETWEEN {day_box[0]} AND {day_box[1]}"
        " AND NOT (o_orderkey % 97 = 0)"
    )
    assert got.count() == exp.count()
    assert got.exceptAll(exp).count() == 0


def test_epoch_appends_record_string_stats(spark, sf_dir, tmp_path):
    """The per-epoch streaming append records string prefix bounds like
    every other write: they come from the parquet footers, at no extra
    job. A string skip_where on its files answers exactly, and so does
    the OPTIMIZE rewrite's."""
    path = str(tmp_path / "t")
    t = _target(spark, sf_dir).limit(400)
    assert (
        acid_table.append_exactly_once(t, path, 0, "o_orderkey", n_files=2)
        is True
    )
    live = acid_table._state(path)["live"]
    assert all("scols" in f and "o_orderstatus" in f["scols"] for f in live)
    got = acid_table.snapshot(
        spark, path, skip_where={"o_orderstatus": ("O", "O")}
    )
    assert got.count() == t.filter("o_orderstatus = 'O'").count()
    acid_table.compact(spark, path, n_files=1)
    live = acid_table._state(path)["live"]
    assert all("scols" in f and "o_orderstatus" in f["scols"] for f in live)
    got = acid_table.snapshot(
        spark, path, skip_where={"o_orderstatus": ("O", "O")}
    )
    assert got.count() == t.filter("o_orderstatus = 'O'").count()


def test_zorder_by_rejects_non_integral_columns(spark, sf_dir, tmp_path):
    """zorder_by on a double/string column raises the curated TypeError
    (the 16-bit cell scaling is integer arithmetic; derive a band first)."""
    path = str(tmp_path / "t")
    acid_table.create(
        _target(spark, sf_dir).limit(300), path, "o_orderkey", n_files=2
    )
    with pytest.raises(TypeError, match="must be integral"):
        acid_table.compact(
            spark, path, zorder_by=["o_orderkey", "o_totalprice"]
        )
    with pytest.raises(TypeError, match="must be integral"):
        acid_table.compact(
            spark, path, zorder_by=["o_orderstatus", "o_orderkey"]
        )


def test_duckdb_serves_identical_dv_snapshot(spark, sf_dir, tmp_path):
    """Engine-portability extends to DELETION VECTORS: DuckDB reconstructs
    the exact DV-applied snapshot from the plain artifacts alone — JSON
    manifests (live files + dv pointers), parquet sidecars (file_key,
    pos), and `read_parquet(..., file_row_number=true, filename=true)`
    for the per-file row positions — no Spark, no private state. This is
    what makes dv-mode a FORMAT feature, not a Spark-reader trick."""
    import duckdb

    path = str(tmp_path / "t")
    t = _target(spark, sf_dir).limit(2000)
    acid_table.create(t, path, "o_orderkey", n_files=4)
    acid_table.delete(spark, path, "o_orderkey % 5 = 0", mode="dv")
    acid_table.delete(spark, path, "o_totalprice > 200000", mode="dv")
    expected = sorted(
        tuple(r)
        for r in acid_table.snapshot(spark, path)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .collect()
    )
    live = acid_table._state(path)["live"]
    plain = [
        os.path.join(path, e["path"]) for e in live if not e.get("dv")
    ]
    dved = [e for e in live if e.get("dv")]
    parts = []
    params: dict = {}
    if plain:
        params["plain"] = plain
        parts.append(
            "SELECT o_orderkey, o_orderstatus, o_totalprice"
            " FROM read_parquet($plain)"
        )
    for i, e in enumerate(dved):
        params[f"d{i}"] = os.path.join(path, e["path"])
        params[f"v{i}"] = os.path.join(path, e["dv"]["path"])
        params[f"k{i}"] = os.path.basename(e["path"])
        parts.append(
            f"SELECT o_orderkey, o_orderstatus, o_totalprice FROM ("
            f" SELECT t.*, t.file_row_number AS pos FROM"
            f"  read_parquet($d{i}, file_row_number=true) t"
            f") WHERE pos NOT IN ("
            f" SELECT pos FROM read_parquet($v{i})"
            f" WHERE file_key = $k{i})"
        )
    duck = sorted(
        tuple(r)
        for r in duckdb.sql(" UNION ALL ".join(parts), params=params)
        .fetchall()
    )
    assert duck == expected


def test_dv_merge_equals_cow_merge_including_duplicate_keys(
    spark, sf_dir, tmp_path
):
    """merge(mode="dv") must land the EXACT copy-on-write result — on the
    duplicate-key lineitem fixture (multiple target copies per merge key:
    each copy becomes one replacement source-row copy) — while every hit
    data file stays byte-untouched, only files with ACTUAL matches gain a
    vector, and the journal feed is identical to the COW journal."""
    li = (
        table(spark, sf_dir, "lineitem")
        .filter("l_orderkey % 5 = 0")
        .limit(3000)
        .select("l_orderkey", "l_linenumber", "l_quantity")
    )
    source = (
        li.filter("l_orderkey % 3 = 0")
        .select("l_orderkey")
        .distinct()
        .select(
            "l_orderkey",
            F.lit(-1).cast("int").alias("l_linenumber"),
            F.lit(99.0).alias("l_quantity"),
        )
    )

    def rows(path):
        return sorted(
            tuple(r) for r in acid_table.snapshot(spark, path).collect()
        )

    pc = str(tmp_path / "cow")
    acid_table.create(li, pc, "l_orderkey", n_files=4)
    acid_table.merge(spark, source, pc, cdc=True)
    pd_ = str(tmp_path / "dv")
    acid_table.create(li, pd_, "l_orderkey", n_files=4)
    before = _file_digests(pd_)
    res = acid_table.merge(spark, source, pd_, cdc=True, mode="dv")
    assert res["rewritten"] == 0
    assert res["dv_files"] >= 1
    assert res["inserted_files"] >= 1
    # original files byte-untouched; only NEW files appended
    after = _file_digests(pd_)
    assert all(after[k] == v for k, v in before.items())
    assert len(after) > len(before)
    assert rows(pc) == rows(pd_)
    # journal parity: same per-commit feed, modulo commit numbering
    fc = acid_table.table_changes_journal(spark, pc, 0, 1).drop(
        "commit_version"
    )
    fd = acid_table.table_changes_journal(spark, pd_, 0, 1).drop(
        "commit_version"
    )
    assert fc.exceptAll(fd).count() == 0 and fd.exceptAll(fc).count() == 0
    # file-diff feed across the dv-merge window also serves (dv identity)
    tc = acid_table.table_changes(spark, pd_, 0, 1)
    # keys are DUPLICATED in this fixture, so the file-diff feed is
    # documented-unsupported; just check it doesn't crash structurally
    assert tc.columns[-1] == "change_type"
    # OPTIMIZE materializes the merge vectors away, snapshot unchanged
    want = rows(pd_)
    acid_table.compact(spark, pd_, n_files=2)
    assert not any(
        e.get("dv") for e in acid_table._state(pd_)["live"]
    )
    assert rows(pd_) == want


def test_dv_merge_without_matches_is_pure_append(spark, sf_dir, tmp_path):
    """A dv-mode merge whose source hits file RANGES but no actual keys
    gains NO vectors (range-conservative candidates stay carried clean)
    and lands pure inserts."""
    t = _target(spark, sf_dir).limit(1000).filter("o_orderkey % 2 = 0")
    path = str(tmp_path / "t")
    acid_table.create(t, path, "o_orderkey", n_files=2)
    odd = (
        _target(spark, sf_dir)
        .limit(1000)
        .filter("o_orderkey % 2 = 1")  # inside ranges, zero matches
    )
    res = acid_table.merge(spark, odd, path, mode="dv")
    assert res["dv_files"] == 0
    assert not any(e.get("dv") for e in acid_table._state(path)["live"])
    assert (
        acid_table.snapshot(spark, path).count()
        == t.count() + odd.count()
    )


# ---------------------------------------------------------------------------
# RESTORE (r14)
# ---------------------------------------------------------------------------


def test_restore_rewinds_data_dvs_and_schema_metadata_only(
    spark, sf_dir, tmp_path
):
    """RESTORE to v0 after append → DV delete → merge → widening append:
    one metadata-only commit (no data file written or copied — data/
    digests unchanged except files the interim commits added), the
    restored snapshot is byte-for-byte v0 (schema included: the widened
    column is gone), interim versions stay time-travelable, and the
    restore is itself undoable (restore forward again)."""
    path = str(tmp_path / "t")
    t = _target(spark, sf_dir).limit(1500)
    acid_table.create(t, path, "o_orderkey", n_files=4)
    v0_rows = sorted(tuple(r) for r in acid_table.snapshot(spark, path).collect())
    acid_table.append(
        t.limit(200).withColumn("o_orderkey", F.col("o_orderkey") + 1_000_000),
        path,
        1,
    )  # v1
    acid_table.delete(spark, path, "o_orderkey % 5 = 0", mode="dv")  # v2
    acid_table.merge(
        spark,
        t.limit(50).select(
            "o_orderkey",
            F.lit("U").alias("o_orderstatus"),
            (F.col("o_totalprice") * 1.1).alias("o_totalprice"),
        ),
        path,
    )  # v3
    head_rows = sorted(tuple(r) for r in acid_table.snapshot(spark, path).collect())
    digests_before = _file_digests(path)
    res = acid_table.restore(path, 0)
    assert res["new_version"] == 4
    assert res["readded"] > 0 and res["removed"] > 0
    # metadata-only: every pre-restore data file byte-identical, none added
    assert _file_digests(path) == digests_before
    assert (
        sorted(tuple(r) for r in acid_table.snapshot(spark, path).collect())
        == v0_rows
    )
    # live set carries no vectors (v0 had none; the merge rewrote the
    # dv'd files at v3 so no clear was needed — structural sanity)
    assert not any(e.get("dv") for e in acid_table._state(path)["live"])
    # history preserved: interim + pre-restore head still readable
    assert (
        sorted(
            tuple(r)
            for r in acid_table.snapshot(spark, path, version=3).collect()
        )
        == head_rows
    )
    # undo the undo: restore forward to v3's state
    acid_table.restore(path, 3)
    assert (
        sorted(tuple(r) for r in acid_table.snapshot(spark, path).collect())
        == head_rows
    )


def test_restore_reattaches_and_clears_deletion_vectors(
    spark, sf_dir, tmp_path
):
    """A file live in BOTH versions whose VECTOR differs: restoring to
    the pre-delete version CLEARS the vector (dv: None replay); restoring
    back re-points it — both ways value-exact."""
    path = str(tmp_path / "t")
    t = _target(spark, sf_dir).limit(1000)
    acid_table.create(t, path, "o_orderkey", n_files=2)  # v0, no dvs
    acid_table.delete(spark, path, "o_orderkey % 5 = 0", mode="dv")  # v1
    v1_rows = sorted(tuple(r) for r in acid_table.snapshot(spark, path).collect())
    res = acid_table.restore(path, 0)  # v2: clears vectors on live files
    assert res["dv_changed"] >= 1
    assert not any(e.get("dv") for e in acid_table._state(path)["live"])
    assert acid_table.snapshot(spark, path).count() == t.count()
    res = acid_table.restore(path, 1)  # v3: re-points the old vectors
    assert res["dv_changed"] >= 1
    assert any(e.get("dv") for e in acid_table._state(path)["live"])
    assert (
        sorted(tuple(r) for r in acid_table.snapshot(spark, path).collect())
        == v1_rows
    )


def test_restore_beyond_vacuum_retention_raises_curated_error(
    spark, sf_dir, tmp_path
):
    """Restore reaches exactly as far back as vacuum retention: a target
    whose files were reclaimed raises the curated error naming vacuum."""
    path = str(tmp_path / "t")
    t = _target(spark, sf_dir).limit(800)
    acid_table.create(t, path, "o_orderkey", n_files=2)
    acid_table.delete(spark, path, "o_orderkey % 2 = 0")  # v1 rewrites all
    acid_table.compact(spark, path, n_files=1)  # v2
    acid_table.append(t.limit(10), path, 1)  # v3
    acid_table.vacuum(path, retain_versions=2, orphan_grace_seconds=0)
    with pytest.raises(ValueError, match="vacuum reclaimed"):
        acid_table.restore(path, 0)
    # inside the window still restores
    assert acid_table.restore(path, 2)["new_version"] == 4


def test_restore_preserves_exactly_once_txn_watermarks(
    spark, sf_dir, tmp_path
):
    """txn watermarks are NOT rewound by restore (Delta's rule): a
    redelivered epoch after a restore must still no-op — rewinding would
    double-commit the stream."""
    path = str(tmp_path / "t")
    t = _target(spark, sf_dir).limit(500)
    assert acid_table.append_exactly_once(t, path, 0, "o_orderkey") is True
    e1 = t.withColumn("o_orderkey", F.col("o_orderkey") + 1_000_000)
    assert acid_table.append_exactly_once(e1, path, 1, "o_orderkey") is True
    acid_table.restore(path, 0)
    # epoch 1 redelivered after the restore: STILL a no-op
    assert acid_table.append_exactly_once(e1, path, 1, "o_orderkey") is False
    assert acid_table.snapshot(spark, path).count() == t.count()
    # the journal feed refuses across the restore, naming the right tool
    with pytest.raises(ValueError, match="RESTORE"):
        acid_table.table_changes_journal(
            spark, path, 0, acid_table.head(path)
        )
    # ...and the file-diff feed nets the append out (v0 -> v2 identical)
    assert acid_table.table_changes(spark, path, 0, 2).count() == 0


def test_reserved_column_names_rejected_at_create_and_append(
    spark, sf_dir, tmp_path
):
    """__file_key/__pos (DV scan scratch) and change_type/commit_version
    (CDC feed tags) are reserved: a user column of those names would be
    clobbered by the position-carrying read or duplicated in every feed's
    output — refused at create AND at widening appends."""
    t = _target(spark, sf_dir).limit(100)
    for bad in ("__file_key", "__pos", "change_type", "commit_version"):
        with pytest.raises(ValueError, match="reserved"):
            acid_table.create(
                t.withColumn(bad, F.lit(1)),
                str(tmp_path / f"c_{bad}"),
                "o_orderkey",
                n_files=1,
            )
    path = str(tmp_path / "t")
    acid_table.create(t, path, "o_orderkey", n_files=1)
    with pytest.raises(ValueError, match="reserved"):
        acid_table.append(
            t.withColumn("change_type", F.lit("x")), path, 1
        )


def test_randomized_trajectory_matches_model(spark, tmp_path):
    """MODEL-BASED trajectory check over the whole format: three seeded
    random interleavings of append / DELETE (cow|dv) / MERGE (cow|dv) /
    OPTIMIZE (plain|zorder) / RESTORE, each step checked against an
    in-memory dict model, plus time travel back to three random recorded
    versions at the end. Individual ops are pinned above; this catches
    INTERACTION bugs between them (the class the r13 review's DELETE
    NULL-semantics bug lived in)."""
    import random

    for seed in (11, 23, 47):
        rng = random.Random(seed)
        path = str(tmp_path / f"t{seed}")
        keyspace = list(range(0, 4000, 4))
        rng.shuffle(keyspace)
        fresh = iter(keyspace)

        def batch(n):
            return [(k, float(k % 97) + 0.25) for k in
                    (next(fresh) for _ in range(n))]

        rows0 = batch(60)
        model = {k: v for k, v in rows0}
        acid_table.create(
            spark.createDataFrame(rows0, "k LONG, v DOUBLE"),
            path,
            "k",
            n_files=3,
        )
        history = {0: dict(model)}
        version = 0
        for step in range(10):
            op = rng.choice(
                ["append", "delete", "merge", "compact", "restore"]
            )
            if op == "append":
                rows = batch(rng.randint(10, 40))
                model.update(rows)
                acid_table.append(
                    spark.createDataFrame(rows, "k LONG, v DOUBLE"),
                    path,
                    rng.randint(1, 3),
                )
                version += 1
            elif op == "delete":
                m, r = rng.randint(3, 9), rng.randint(0, 2)
                mode = rng.choice(["cow", "dv"])
                hit = {k for k in model if k % m == r}
                res = acid_table.delete(
                    spark, path, f"k % {m} = {r}", mode=mode,
                    cdc=rng.random() < 0.5,
                )
                if hit:
                    assert res["deleted_rows"] == len(hit)
                    for k in hit:
                        del model[k]
                    version += 1
                else:
                    assert res["deleted_rows"] == 0  # no commit happened
            elif op == "merge":
                upd = rng.sample(
                    sorted(model), min(len(model), rng.randint(5, 25))
                )
                ins = batch(rng.randint(0, 15))
                src = [(k, model[k] + 1000.0) for k in upd] + ins
                if not src:
                    continue
                mode = rng.choice(["cow", "dv"])
                acid_table.merge(
                    spark,
                    spark.createDataFrame(src, "k LONG, v DOUBLE"),
                    path,
                    n_files=rng.randint(1, 3),
                    cdc=rng.random() < 0.5,
                    mode=mode,
                )
                model.update(src)
                version += 1
            elif op == "compact":
                zo = rng.random() < 0.4
                res = acid_table.compact(
                    spark,
                    path,
                    n_files=rng.randint(1, 3),
                    zorder_by=["k", "k"] if zo else None,
                )
                if res["rewritten"] > 0:
                    version += 1
            else:  # restore
                target = rng.randint(0, version)
                res = acid_table.restore(path, target)
                if res["new_version"] != version:
                    version = res["new_version"]
                    model = dict(history[target])
            history[version] = dict(model)
            got = {
                r["k"]: r["v"]
                for r in acid_table.snapshot(spark, path).collect()
            }
            assert got == model, f"seed {seed} step {step} op {op}"
        # time travel: three random recorded versions replay exactly
        for v in rng.sample(sorted(history), min(3, len(history))):
            got = {
                r["k"]: r["v"]
                for r in acid_table.snapshot(spark, path, version=v).collect()
            }
            assert got == history[v], f"seed {seed} time travel v{v}"


def test_randomized_trajectory_with_evolution_and_epochs(spark, tmp_path):
    """Second model-based trajectory: adds WIDENING SCHEMA EVOLUTION
    (appends may introduce new nullable columns; older rows NULL-fill),
    EXACTLY-ONCE epoch appends with random redelivery (must no-op), and
    RESTORE rewinding the schema along with the data — against a model
    of per-row column dicts. Pins the format's deepest interaction
    surface: evolution × DV deletes × restore × txn watermarks."""
    import random

    for seed in (5, 31):
        rng = random.Random(seed)
        path = str(tmp_path / f"t{seed}")
        keyspace = list(range(0, 6000, 4))
        rng.shuffle(keyspace)
        fresh = iter(keyspace)
        extra_pool = ["w1", "w2", "w3"]

        def frame(rows, cols):
            ddl = "k LONG, v DOUBLE" + "".join(
                f", {c} DOUBLE" for c in cols
            )
            return spark.createDataFrame(rows, ddl)

        def batch(n, cols):
            out = []
            for _ in range(n):
                k = next(fresh)
                out.append(
                    tuple(
                        [k, float(k % 89)]
                        + [float(k % (7 + i)) for i in range(len(cols))]
                    )
                )
            return out

        cols: list[str] = []  # extra columns beyond (k, v), in order
        rows0 = batch(50, cols)
        model = {
            r[0]: {"v": r[1]} for r in rows0
        }  # key -> {col: value}; missing col == NULL
        acid_table.create(frame(rows0, cols), path, "k", n_files=2)
        history = {0: ({k: dict(d) for k, d in model.items()}, list(cols))}
        version = 0
        epoch = 0

        def record():
            history[version] = (
                {k: dict(d) for k, d in model.items()},
                list(cols),
            )

        def check(step, op):
            snap = acid_table.snapshot(spark, path)
            assert set(snap.columns) == {"k", "v", *cols}, (seed, step, op)
            got = {r["k"]: r.asDict() for r in snap.collect()}
            assert set(got) == set(model), (seed, step, op)
            for k, d in model.items():
                row = got[k]
                assert row["v"] == d["v"], (seed, step, op, k)
                for c in cols:
                    assert row[c] == d.get(c), (seed, step, op, k, c)

        for step in range(12):
            op = rng.choice(
                ["append", "evolve", "epoch", "delete", "merge", "restore"]
            )
            if op == "evolve" and len(cols) < len(extra_pool):
                cols.append(extra_pool[len(cols)])
                op = "append"  # the widening travels with an append
            elif op == "evolve":
                op = "append"
            if op == "append":
                rows = batch(rng.randint(8, 25), cols)
                acid_table.append(frame(rows, cols), path, 1)
                for r in rows:
                    model[r[0]] = {"v": r[1]} | {
                        c: r[2 + i] for i, c in enumerate(cols)
                    }
                version += 1
            elif op == "epoch":
                rows = batch(rng.randint(5, 15), cols)
                assert acid_table.append_exactly_once(
                    frame(rows, cols), path, epoch, "k"
                )
                for r in rows:
                    model[r[0]] = {"v": r[1]} | {
                        c: r[2 + i] for i, c in enumerate(cols)
                    }
                version += 1
                if rng.random() < 0.6:  # random redelivery: MUST no-op
                    assert (
                        acid_table.append_exactly_once(
                            frame(rows, cols), path, epoch, "k"
                        )
                        is False
                    )
                epoch += 1
            elif op == "delete":
                m, r0 = rng.randint(3, 8), rng.randint(0, 2)
                hit = {k for k in model if k % m == r0}
                res = acid_table.delete(
                    spark,
                    path,
                    f"k % {m} = {r0}",
                    mode=rng.choice(["cow", "dv"]),
                )
                assert res["deleted_rows"] == len(hit)
                if hit:
                    for k in hit:
                        del model[k]
                    version += 1
            elif op == "merge":
                upd = rng.sample(
                    sorted(model), min(len(model), rng.randint(4, 15))
                )
                src_rows = [
                    tuple(
                        [k, model[k]["v"] + 500.0]
                        + [float(i) for i in range(len(cols))]
                    )
                    for k in upd
                ]
                if not src_rows:
                    continue
                acid_table.merge(
                    spark,
                    frame(src_rows, cols),
                    path,
                    n_files=1,
                    mode=rng.choice(["cow", "dv"]),
                )
                for r in src_rows:
                    model[r[0]] = {"v": r[1]} | {
                        c: r[2 + i] for i, c in enumerate(cols)
                    }
                version += 1
            else:  # restore
                target = rng.randint(0, version)
                res = acid_table.restore(path, target)
                if res["new_version"] != version:
                    version = res["new_version"]
                    snap_model, snap_cols = history[target]
                    model = {k: dict(d) for k, d in snap_model.items()}
                    cols = list(snap_cols)
            record()
            check(step, op)
        # epoch watermark survived every restore: replaying ALL epochs no-ops
        for past in range(epoch):
            rows = batch(3, cols)
            assert (
                acid_table.append_exactly_once(
                    frame(rows, cols), path, past, "k"
                )
                is False
            )
        check("final", "epoch-replay")


# ---------------------------------------------------------------------------
# SHALLOW CLONE (r14)
# ---------------------------------------------------------------------------


def test_shallow_clone_is_zero_copy_and_diverges_independently(
    spark, sf_dir, tmp_path
):
    """CLONE writes one manifest and zero data bytes: no local data/ dir,
    the clone serves the source snapshot exactly (deletion vectors
    included), and post-clone writes diverge independently — deletes on
    the clone land local rewrites/vectors without touching the source,
    and source appends never appear in the clone."""
    src = str(tmp_path / "src")
    t = _target(spark, sf_dir).limit(1500)
    acid_table.create(t, src, "o_orderkey", n_files=4)
    acid_table.delete(spark, src, "o_orderkey % 7 = 0", mode="dv")
    src_rows = sorted(
        tuple(r) for r in acid_table.snapshot(spark, src).collect()
    )
    dst = str(tmp_path / "dst")
    res = acid_table.clone(src, dst)
    assert res["files_referenced"] == 4
    assert res["dv_referenced"] >= 1
    assert not os.path.isdir(os.path.join(dst, "data"))  # zero bytes
    assert (
        sorted(tuple(r) for r in acid_table.snapshot(spark, dst).collect())
        == src_rows
    )
    # diverge the clone: a DV delete lands a LOCAL sidecar only
    acid_table.delete(spark, dst, "o_orderkey % 5 = 0", mode="dv")
    assert acid_table.snapshot(spark, dst).count() == t.filter(
        "o_orderkey % 7 <> 0 AND o_orderkey % 5 <> 0"
    ).count()
    assert (
        sorted(tuple(r) for r in acid_table.snapshot(spark, src).collect())
        == src_rows
    )  # source untouched
    # diverge the source: the clone never sees it
    acid_table.append(
        t.limit(100).withColumn("o_orderkey", F.col("o_orderkey") + 9_000_000),
        src,
        1,
    )
    assert acid_table.snapshot(spark, dst).filter(
        "o_orderkey >= 9000000"
    ).count() == 0
    # the clone's own vacuum never touches the source's files
    stats = acid_table.vacuum(dst, retain_versions=1, orphan_grace_seconds=0)
    assert stats["removed_beyond_retention"] == 0
    assert acid_table.snapshot(spark, src).count() == src_rows.__len__() + 100
    # clone OPTIMIZE localizes everything: data copied on rewrite only
    acid_table.compact(spark, dst, n_files=2)
    assert os.path.isdir(os.path.join(dst, "data"))
    live = acid_table._state(dst)["live"]
    assert all(not os.path.isabs(e["path"]) for e in live)


def test_clone_v0_feeds_as_inserts_and_fresh_txn_watermarks(
    spark, sf_dir, tmp_path
):
    """The clone's v0 references ARE its initial inserts for both CDC
    feeds, and txn watermarks are NOT inherited — a stream writing to
    the clone starts at epoch 0."""
    src = str(tmp_path / "src")
    t = _target(spark, sf_dir).limit(500)
    assert acid_table.append_exactly_once(t, src, 7, "o_orderkey") is True
    dst = str(tmp_path / "dst")
    acid_table.clone(src, dst)
    # the journal's (v_from, v_to] convention needs v_from committed; the
    # streaming source's (−1, 0] window is the v0-as-inserts check
    from iot_data_pipeline_spark.sources import acid_cdf_stream

    reader = acid_cdf_stream.AcidCdfStreamReader(
        acid_cdf_stream._feed_schema(dst), {"path": dst}
    )
    parts = reader.partitions({"version": -1}, {"version": 0})
    assert parts, "clone v0 must plan insert partitions"
    # fresh watermarks: epoch 7 (committed on the SOURCE) re-commits here
    assert (
        acid_table.append_exactly_once(
            t.withColumn("o_orderkey", F.col("o_orderkey") + 1_000_000),
            dst,
            7,
            "o_orderkey",
        )
        is True
    )


def test_append_exactly_once_create_branch_enforces_create_guards(
    spark, sf_dir, tmp_path
):
    """The first-epoch table-creation branch must enforce the same guards
    as create() (ADVICE r14): reserved column names raise, a non-integral
    key raises, and an EMPTY first epoch never commits a zero-file v0
    (create() refuses those as unreadable)."""
    t = _target(spark, sf_dir).limit(100)
    with pytest.raises(ValueError, match="reserved"):
        acid_table.append_exactly_once(
            t.withColumn("change_type", F.lit("x")),
            str(tmp_path / "r"),
            0,
            "o_orderkey",
        )
    with pytest.raises(TypeError, match="integral"):
        acid_table.append_exactly_once(
            t, str(tmp_path / "k"), 0, "o_orderstatus"
        )
    empty = str(tmp_path / "e")
    assert (
        acid_table.append_exactly_once(
            t.filter(F.lit(False)), empty, 0, "o_orderkey"
        )
        is False
    )
    with pytest.raises(RuntimeError, match="no table"):
        acid_table._state(empty)
    # ...and the guards did not break the normal create-by-first-epoch
    assert acid_table.append_exactly_once(
        t, empty, 0, "o_orderkey"
    ) is True


def test_zorder_normalization_survives_wide_int_domains(spark, tmp_path):
    """An INT zorder column whose span exceeds ~32767 must not overflow
    the range normalization (ADVICE r14: the old `(col - lo) * 65535`
    int multiply wrapped silently non-ANSI / errored under ANSI). The
    session runs ANSI-on, so pre-fix this compact RAISED."""
    path = str(tmp_path / "t")
    df = (
        spark.range(0, 20000)
        .select(
            F.col("id").alias("k"),
            (F.col("id") * 10).cast("int").alias("wide"),
            F.pmod(F.col("id"), 97).cast("int").alias("narrow"),
        )
    )
    assert spark.conf.get("spark.sql.ansi.enabled") == "true"
    acid_table.create(df, path, "k", n_files=8)
    before = acid_table.snapshot(spark, path).orderBy("k").collect()
    acid_table.compact(spark, path, n_files=8, zorder_by=["wide", "narrow"])
    after = acid_table.snapshot(spark, path).orderBy("k").collect()
    assert before == after
    # the wide dimension actually clusters: a 1/8-domain box touches a
    # strict subset of files (wrapped normalization degenerates this)
    snap = acid_table.snapshot(
        spark, path, skip_where={"wide": (0, 24999)}
    )
    full = acid_table.snapshot(spark, path)
    assert len(snap.inputFiles()) < len(full.inputFiles())


def test_footer_string_stats_identical_to_two_pass(
    spark, sf_dir, tmp_path
):
    """String bounds taken from the parquet footers must record
    byte-identical "scols" to a two-pass computation (a Spark min/max
    re-read of the written files grouped by file identity) — UTF-8 byte
    order equals code-point order, so the two collations agree exactly.
    Recomputed here two-pass-style over the committed data files,
    including truncation, non-ASCII, and all-NULL-column edges."""
    d = (
        _target(spark, sf_dir)
        .limit(3000)
        .withColumn(
            "long_s",
            F.when(
                F.col("o_orderkey") % 3 == 0,
                F.concat(
                    F.lit("zz-café-" + "x" * 40),
                    F.col("o_orderkey").cast("string"),
                ),
            ).otherwise(
                F.concat(F.lit("nä-"), F.col("o_orderkey").cast("string"))
            ),
        )
        .withColumn("all_null_s", F.lit(None).cast("string"))
    )
    path = str(tmp_path / "t")
    acid_table.create(d, path, "o_orderkey", n_files=5)
    live = acid_table._state(path)["live"]
    assert all("scols" in f for f in live)
    str_cols = [c for c, t in d.dtypes if t == "string"]
    two_pass = (
        spark.read.parquet(os.path.join(path, "data"))
        .groupBy(
            F.element_at(
                F.split(F.col("_metadata.file_path"), "/"), -1
            ).alias("f")
        )
        .agg(
            *[F.min(c).alias(f"mn_{i}") for i, c in enumerate(str_cols)],
            *[F.max(c).alias(f"mx_{i}") for i, c in enumerate(str_cols)],
        )
        .collect()
    )
    expected = {}
    for r in two_pass:
        per_col = {}
        for i, c in enumerate(str_cols):
            if r[f"mn_{i}"] is None:
                continue
            per_col[c] = acid_table._str_prefix_bounds(
                r[f"mn_{i}"], r[f"mx_{i}"]
            )
        expected[r["f"]] = per_col
    got = {os.path.basename(f["path"]): f["scols"] for f in live}
    assert got == expected
    assert all("all_null_s" not in sc for sc in got.values())


def _digests(path):
    import hashlib

    out = {}
    ddir = os.path.join(path, "data")
    for n in sorted(os.listdir(ddir)):
        with open(os.path.join(ddir, n), "rb") as fh:
            out[n] = hashlib.sha1(fh.read()).hexdigest()
    return out


def test_column_mapping_rename_and_drop_are_metadata_only(
    spark, sf_dir, tmp_path
):
    """RENAME and DROP COLUMN must move ZERO data bytes (sha1-pinned),
    serve the renamed view immediately, time-travel each version under
    its OWN mapping, and never resurface a dropped column — including
    after a widening re-add of the same LOGICAL name (which must get a
    fresh physical name, not the dead column's bytes)."""
    path = str(tmp_path / "t")
    t = _target(spark, sf_dir).limit(400)
    acid_table.create(t, path, "o_orderkey", n_files=3)
    before = _digests(path)
    acid_table.rename_column(path, "o_totalprice", "price")
    acid_table.drop_column(path, "o_orderstatus")
    assert _digests(path) == before  # not a byte moved
    snap = acid_table.snapshot(spark, path)
    assert snap.columns == ["o_orderkey", "price"]
    want = {
        (r["o_orderkey"], r["o_totalprice"]) for r in t.collect()
    }
    assert {(r["o_orderkey"], r["price"]) for r in snap.collect()} == want
    # per-version mappings via time travel
    v0 = acid_table.snapshot(spark, path, version=0)
    assert v0.columns == ["o_orderkey", "o_orderstatus", "o_totalprice"]
    v1 = acid_table.snapshot(spark, path, version=1)
    assert v1.columns == ["o_orderkey", "o_orderstatus", "price"]
    # re-adding the dropped LOGICAL name must NOT alias the dead bytes
    wide = (
        _target(spark, sf_dir)
        .filter("o_orderkey > 1000000")  # empty is fine; nonempty better
        .limit(0)
        .select(
            "o_orderkey",
            F.col("o_totalprice").alias("price"),
            F.lit("NEW").alias("o_orderstatus"),
        )
    )
    delta = spark.createDataFrame(
        [(9_999_991, 1.0, "NEW")], wide.schema
    )
    acid_table.append(delta, path)
    snap2 = acid_table.snapshot(spark, path)
    assert set(snap2.columns) == {"o_orderkey", "price", "o_orderstatus"}
    old_rows = snap2.filter("o_orderkey < 9999991")
    assert old_rows.count() == 400
    # dead column's values never alias in: old rows read NULL
    assert old_rows.filter("o_orderstatus IS NOT NULL").count() == 0
    cm = acid_table._state(path)["colmap"]
    assert cm["price"] == "o_totalprice"
    assert cm["o_orderstatus"] != "o_orderstatus"  # fresh physical
    # guards
    with pytest.raises(ValueError, match="already exists"):
        acid_table.rename_column(path, "price", "o_orderkey")
    with pytest.raises(ValueError, match="reserved"):
        acid_table.rename_column(path, "price", "change_type")
    with pytest.raises(ValueError, match="table key"):
        acid_table.drop_column(path, "o_orderkey")
    with pytest.raises(ValueError, match="no column"):
        acid_table.rename_column(path, "ghost", "g2")


def test_column_mapping_restore_rewinds_mapping(spark, sf_dir, tmp_path):
    """RESTORE to a pre-mapping version must rewind the mapping too (the
    restore manifest carries an EXPLICIT null; omitting the key would
    leave the newer mapping in force and serve restored files under wrong
    names), and restore to a mid-mapping version serves that version's
    names."""
    path = str(tmp_path / "t")
    t = _target(spark, sf_dir).limit(300)
    acid_table.create(t, path, "o_orderkey", n_files=2)
    acid_table.rename_column(path, "o_totalprice", "price")
    acid_table.drop_column(path, "o_orderstatus")
    acid_table.restore(path, 0)
    snap = acid_table.snapshot(spark, path)
    assert snap.columns == ["o_orderkey", "o_orderstatus", "o_totalprice"]
    assert acid_table._state(path)["colmap"] is None
    assert snap.count() == 300
    # undo the undo: restore to the renamed version
    acid_table.restore(path, 1)
    assert acid_table.snapshot(spark, path).columns == [
        "o_orderkey",
        "o_orderstatus",
        "price",
    ]


def test_column_mapping_feeds_refuse_across_mapping_changes(
    spark, sf_dir, tmp_path
):
    """Both CDC feeds refuse windows whose endpoints disagree on the
    mapping (Delta's rule), serve mapping-constant windows under the
    LOGICAL names, and the streaming CDF source raises its curated error
    when a mapping commit enters a planned range."""
    from iot_data_pipeline_spark.sources import acid_cdf_stream

    path = str(tmp_path / "t")
    t = _target(spark, sf_dir).limit(200)
    acid_table.create(t, path, "o_orderkey", n_files=2)          # v0
    acid_table.rename_column(path, "o_totalprice", "price")      # v1
    acid_table.delete(
        spark, path, "o_orderkey % 5 = 0 AND price > 0", cdc=True
    )                                                            # v2
    with pytest.raises(ValueError, match="column-mapping"):
        acid_table.table_changes(spark, path, 0, 2)
    with pytest.raises(ValueError, match="column-mapping"):
        acid_table.table_changes_journal(spark, path, 0, 2)
    # mapping-constant window serves LOGICAL names
    feed = acid_table.table_changes_journal(spark, path, 1, 2)
    assert "price" in feed.columns and "o_totalprice" not in feed.columns
    deleted = t.filter("o_orderkey % 5 = 0 AND o_totalprice > 0").count()
    assert feed.filter("change_type = 'delete'").count() == deleted
    ep = acid_table.table_changes(spark, path, 1, 2)
    assert "price" in ep.columns
    assert ep.filter("change_type = 'delete'").count() == deleted
    # streaming source: logical declared schema; mapping commit in range
    # raises the curated error
    reader = acid_cdf_stream.AcidCdfStreamReader(
        acid_cdf_stream._feed_schema(path), {"path": path}
    )
    assert "price" in acid_cdf_stream._feed_schema(path).fieldNames()
    with pytest.raises(ValueError, match="column-mapping"):
        reader.partitions({"version": 0}, {"version": 2})
    # a range past the mapping commit plans and reads under logical names
    parts = reader.partitions({"version": 1}, {"version": 2})
    assert parts
    rows = [b for p in parts for b in reader.read(p)]
    got = sum(b.num_rows for b in rows)
    assert got == deleted
    for b in rows:
        assert "price" in b.schema.names


def test_column_mapping_duckdb_interop(spark, sf_dir, tmp_path):
    """DuckDB — steered only by the manifest's recorded (physical) schema
    and colmap, both plain JSON — must reconstruct the identical logical
    snapshot: select physical columns from the live files, alias per the
    mapping."""
    import json as _json

    import duckdb

    path = str(tmp_path / "t")
    t = _target(spark, sf_dir).limit(500)
    acid_table.create(t, path, "o_orderkey", n_files=3)
    acid_table.rename_column(path, "o_totalprice", "price")
    delta = spark.createDataFrame(
        [(9_999_993, "Z", 5.5, "HI")],
        "o_orderkey LONG, o_orderstatus STRING, price DOUBLE,"
        " priority STRING",
    )
    acid_table.append(delta, path)
    acid_table.drop_column(path, "o_orderstatus")
    st = acid_table._state(path)
    cm = st["colmap"]
    phys_fields = [f["name"] for f in _json.loads(st["schema"])["fields"]]
    rev = {p: l for l, p in cm.items()}
    sel = ", ".join(f'"{p}" AS "{rev[p]}"' for p in phys_fields)
    files = [os.path.join(path, f["path"]) for f in st["live"]]
    duck = duckdb.sql(
        f"SELECT {sel} FROM read_parquet($files, union_by_name=true)",
        params={"files": files},
    ).fetchall()
    got = sorted(tuple(r) for r in duck)
    want = sorted(
        tuple(r) for r in acid_table.snapshot(spark, path).collect()
    )
    assert got == want


def test_check_constraints_semantics_and_guards(spark, sf_dir, tmp_path):
    """CHECK semantics: NULL satisfies (SQL three-valued logic — NOT
    NULL rides in as ``col IS NOT NULL``); ADD CONSTRAINT validates the
    EXISTING table; rename/drop of a referenced column are refused until
    the constraint drops; epoch appends enforce too; RESTORE rewinds the
    constraint set; CLONE inherits it."""
    path = str(tmp_path / "t")
    t = _target(spark, sf_dir).limit(200)
    acid_table.create(t, path, "o_orderkey", n_files=2)          # v0
    acid_table.add_constraint(spark, path, "pos", "o_totalprice > 0")
    # NULL satisfies
    acid_table.append(
        spark.createDataFrame(
            [(8_888_881, None, None)],
            "o_orderkey LONG, o_orderstatus STRING, o_totalprice DOUBLE",
        ),
        path,
    )
    assert (
        acid_table.snapshot(spark, path)
        .filter("o_totalprice IS NULL")
        .count()
        == 1
    )
    # add over violating data rejected; nothing committed
    head = acid_table.head(path)
    with pytest.raises(ValueError, match="rejected atomically"):
        acid_table.add_constraint(
            spark, path, "impossible", "o_totalprice > 1e18"
        )
    assert acid_table.head(path) == head
    # reference guards
    with pytest.raises(ValueError, match="referenced by CHECK"):
        acid_table.rename_column(path, "o_totalprice", "price")
    with pytest.raises(ValueError, match="referenced by CHECK"):
        acid_table.drop_column(path, "o_totalprice")
    # epoch append enforces
    bad = t.withColumn("o_totalprice", -F.col("o_totalprice")).limit(5)
    with pytest.raises(ValueError, match="rejected atomically"):
        acid_table.append_exactly_once(bad, path, 0, "o_orderkey")
    # clone inherits the constraint
    dst = str(tmp_path / "c")
    acid_table.clone(path, dst)
    with pytest.raises(ValueError, match="rejected atomically"):
        acid_table.append(bad, dst)
    # restore to v0 rewinds: the violating frame now commits
    acid_table.restore(path, 0)
    assert acid_table._state(path)["constraints"] is None
    acid_table.append(bad, path)
    assert acid_table.snapshot(spark, path).count() == 205
    # duplicate add and missing drop raise curated errors
    acid_table.add_constraint(spark, path, "k", "o_orderkey IS NOT NULL")
    with pytest.raises(ValueError, match="already exists"):
        acid_table.add_constraint(spark, path, "k", "1 = 1")
    with pytest.raises(ValueError, match="no constraint"):
        acid_table.drop_constraint(path, "ghost")


def test_merge_clauses_semantics_and_guards(spark, sf_dir, tmp_path):
    """Conditional MERGE clauses: matched-delete fires only where its
    condition IS TRUE (NULL never fires), insert=False drops source-only
    rows, not-matched-by-source delete disables file pruning (rewritten
    == all live files), clauses + mode='dv' raise, and the CDC journal
    records exactly the fired clauses' rows."""
    path = str(tmp_path / "t")
    t = _target(spark, sf_dir).limit(300)
    acid_table.create(t, path, "o_orderkey", n_files=4)
    src = t.limit(100).withColumn("o_orderstatus", F.lit("S"))
    with pytest.raises(ValueError, match="cow"):
        acid_table.merge(
            spark, src, path, mode="dv", when_matched="delete"
        )
    with pytest.raises(ValueError, match="when_matched"):
        acid_table.merge(spark, src, path, when_matched="upsert")
    # conditional matched-delete + no-insert + nmbs delete, journaled
    n0 = acid_table.snapshot(spark, path).count()
    med = t.agg(
        F.expr("percentile_approx(o_totalprice, 0.5)").alias("m")
    ).first()["m"]
    r = acid_table.merge(
        spark,
        src,
        path,
        when_matched="delete",
        matched_condition=f"tgt.o_totalprice > {med}",
        insert=False,
        not_matched_by_source="delete",
        nmbs_condition=f"tgt.o_totalprice > {med * 2}",
        cdc=True,
    )
    assert r["carried"] == 0  # nmbs clause scanned every file
    srck = {row["o_orderkey"] for row in src.collect()}
    exp_del_matched = {
        row["o_orderkey"]
        for row in t.collect()
        if row["o_orderkey"] in srck and row["o_totalprice"] > med
    }
    exp_del_nmbs = {
        row["o_orderkey"]
        for row in t.collect()
        if row["o_orderkey"] not in srck
        and row["o_totalprice"] > med * 2
    }
    snap = acid_table.snapshot(spark, path)
    assert snap.count() == n0 - len(exp_del_matched) - len(exp_del_nmbs)
    got_keys = {row["o_orderkey"] for row in snap.collect()}
    assert not (exp_del_matched | exp_del_nmbs) & got_keys
    feed = acid_table.table_changes_journal(
        spark, path, acid_table.head(path) - 1, acid_table.head(path)
    )
    assert feed.filter("change_type = 'delete'").count() == len(
        exp_del_matched
    ) + len(exp_del_nmbs)
    assert feed.filter("change_type <> 'delete'").count() == 0


def test_merge_constraints_validate_only_written_rows(
    spark, sf_dir, tmp_path
):
    """ADVICE r15: merge() enforces CHECK constraints on the rows a
    FIRING clause actually writes — not on every source row. With
    insert=False an unmatched violating source row commits fine; a
    matched_condition-gated-out violating row commits fine; a violating
    row that DOES land still rejects atomically; the plain upsert keeps
    its validate-all fast path. Clause-condition string literals
    containing 'src.'/'tgt.' are never rewritten."""
    path = str(tmp_path / "t")
    sch = "o_orderkey LONG, o_orderstatus STRING, o_totalprice DOUBLE"
    t = _target(spark, sf_dir).limit(200)
    acid_table.create(t, path, "o_orderkey", n_files=2)
    acid_table.add_constraint(spark, path, "pos", "o_totalprice > 0")
    keys = [r["o_orderkey"] for r in t.limit(2).collect()]
    # 1) unmatched VIOLATING source row + insert=False: no clause can
    # write it -> the commit must succeed (pre-fix: false rejection)
    src = spark.createDataFrame(
        [(keys[0], "S", 10.0), (8_888_999, "S", -5.0)], sch
    )
    acid_table.merge(spark, src, path, insert=False)
    snap = acid_table.snapshot(spark, path)
    assert (
        snap.filter(f"o_orderkey = {keys[0]}").first()["o_totalprice"]
        == 10.0
    )
    assert snap.filter("o_orderkey = 8888999").count() == 0
    # 2) a matched VIOLATING row gated out by matched_condition commits;
    # the condition's literal ('src.x') must survive unrewritten — the
    # clause fires exactly for the source row whose status IS 'src.x'
    v1 = acid_table.snapshot(spark, path).filter(
        f"o_orderkey = {keys[1]}"
    ).first()["o_totalprice"]
    src2 = spark.createDataFrame(
        [(keys[0], "src.x", 77.0), (keys[1], "other", -1.0)], sch
    )
    acid_table.merge(
        spark,
        src2,
        path,
        insert=False,
        matched_condition="src.o_orderstatus = 'src.x'",
    )
    snap = acid_table.snapshot(spark, path)
    assert (
        snap.filter(f"o_orderkey = {keys[0]}").first()["o_totalprice"]
        == 77.0  # fired: literal compared intact
    )
    assert (
        snap.filter(f"o_orderkey = {keys[1]}").first()["o_totalprice"]
        == v1  # gated out: violating source row exempt, target carried
    )
    # 2b) a BACKSLASH-escaped quote inside the literal must not end the
    # detected literal (review finding, r16): the clause fires exactly
    # for the row whose status IS the literal "it's src.x"
    src2b = spark.createDataFrame([(keys[0], "it's src.x", 88.0)], sch)
    acid_table.merge(
        spark,
        src2b,
        path,
        insert=False,
        matched_condition="src.o_orderstatus = 'it\\'s src.x'",
    )
    assert (
        acid_table.snapshot(spark, path)
        .filter(f"o_orderkey = {keys[0]}")
        .first()["o_totalprice"]
        == 88.0
    )
    # 3) a violating row that LANDS still rejects atomically
    head = acid_table.head(path)
    src3 = spark.createDataFrame([(keys[0], "S", -2.0)], sch)
    with pytest.raises(ValueError, match="rejected atomically"):
        acid_table.merge(spark, src3, path, insert=False)
    assert acid_table.head(path) == head
    # 4) plain upsert validates every source row (all of them land)
    with pytest.raises(ValueError, match="rejected atomically"):
        acid_table.merge(spark, src3, path)
    assert acid_table.head(path) == head


def test_bloom_skipping_prunes_structurally_and_survives_vacuum(
    spark, sf_dir, tmp_path
):
    """The bloom sidecar prunes a point lookup to (nearly) one file where
    min/max and prefix stats cannot (uniform digest column: every file's
    range covers every probe); an absent value prunes EVERY file; files
    without a bloom pointer conservatively keep; vacuum retains sidecars
    any retained version references and reclaims superseded ones; NULL
    probes raise the curated error."""
    import hashlib

    path = str(tmp_path / "t")
    t = (
        _target(spark, sf_dir)
        .limit(4000)
        .withColumn(
            "dig", F.sha2(F.col("o_orderkey").cast("string"), 256)
        )
    )
    n_rows = t.count()
    acid_table.create(t, path, "o_orderkey", n_files=6)
    acid_table.compact(spark, path, n_files=6, bloom_by=["dig"])
    keys = [r["o_orderkey"] for r in t.limit(3).collect()]
    n_all = len(acid_table.snapshot(spark, path).inputFiles())
    for k in keys:
        probe = hashlib.sha256(str(k).encode()).hexdigest()
        snap = acid_table.snapshot(spark, path, skip_equals={"dig": probe})
        assert len(snap.inputFiles()) < n_all  # pruned
        got = snap.collect()
        assert len(got) == 1 and got[0]["o_orderkey"] == k
    # prefix stats alone cannot prune these probes structurally the way
    # blooms do: absent value -> bloom prunes EVERY file
    absent = acid_table.snapshot(
        spark, path, skip_equals={"dig": "f" * 64}
    )
    assert absent.count() == 0
    with pytest.raises(ValueError, match="NULL"):
        acid_table.snapshot(spark, path, skip_equals={"dig": None})
    with pytest.raises(ValueError, match="not in table columns"):
        acid_table.snapshot(spark, path, skip_equals={"ghost": 1})
    # probing a column the sidecar does NOT index must keep every file
    # (an absent sidecar row means all-NULL only for INDEXED columns)
    probe_status = acid_table.snapshot(
        spark, path, skip_equals={"o_orderstatus": "O"}
    )
    assert len(probe_status.inputFiles()) == n_all
    assert probe_status.count() == t.filter("o_orderstatus = 'O'").count()
    # un-bloomed rewrite: conservative full keep, result exact
    acid_table.compact(spark, path, n_files=2)
    probe = hashlib.sha256(str(keys[0]).encode()).hexdigest()
    snap = acid_table.snapshot(spark, path, skip_equals={"dig": probe})
    assert snap.count() == 1
    r = acid_table.vacuum(path, retain_versions=1, orphan_grace_seconds=0)
    assert r["bloom_deleted"] == 1  # superseded sidecar reclaimed
    assert acid_table.snapshot(spark, path).count() == n_rows


def test_bloom_skipping_survives_type_widening(spark, sf_dir, tmp_path):
    """ADVICE r15 (medium): Spark's xxhash64 is type-width-sensitive
    (int and bigint hash the same value differently), so a bloom built
    while a column was int must not silently FALSE-NEGATIVE after the
    column widens to bigint. Each file's probe now hashes the literal at
    the file's recorded BUILD-TIME type; a probe value unrepresentable
    at that type is definitely absent from the file (every value in a
    bloomed file was written under the build-time schema) and prunes
    without consulting the bitset."""
    path = str(tmp_path / "t")
    t = _target(spark, sf_dir).limit(2000).withColumn(
        "c", F.col("o_orderkey").cast("int")
    )
    acid_table.create(t, path, "o_orderkey", n_files=6)
    acid_table.compact(spark, path, n_files=6, bloom_by=["c"])
    n_bloomed = len(acid_table.snapshot(spark, path).inputFiles())
    keys = [r["c"] for r in t.limit(2).collect()]
    pre = acid_table.snapshot(spark, path, skip_equals={"c": keys[0]})
    assert pre.count() == 1
    assert len(pre.inputFiles()) < n_bloomed  # pruned pre-widening
    # widen c -> bigint via an append whose new files carry no bloom
    wide = (
        _target(spark, sf_dir)
        .limit(100)
        .withColumn("o_orderkey", F.col("o_orderkey") + 10_000_000)
        .withColumn("c", F.lit(9_000_000_000).cast("bigint"))
    )
    acid_table.append(wide, path)
    snap_all = acid_table.snapshot(spark, path)
    assert dict(snap_all.dtypes)["c"] == "bigint"
    n_all = len(snap_all.inputFiles())
    n_new = n_all - n_bloomed
    assert n_new >= 1
    # THE REGRESSION: values living in old bloomed files must still be
    # found (pre-fix the probe hashed at bigint and every bloomed file
    # pruned as a false negative), and pruning must still engage
    for k in keys:
        snap = acid_table.snapshot(spark, path, skip_equals={"c": k})
        got = snap.collect()
        assert len(got) == 1 and got[0]["c"] == k
        assert len(snap.inputFiles()) < n_all
    # a probe only representable at the WIDE type deterministically
    # prunes every int-built file via the round-trip check (no bloom
    # fp possible) while keeping the unbloomed new files that hold it
    big = acid_table.snapshot(
        spark, path, skip_equals={"c": 9_000_000_000}
    )
    assert big.count() == 100
    assert len(big.inputFiles()) == n_new
    # absent narrow-representable value: bloomed files prune by bitset,
    # unbloomed conservatively keep, result exact
    absent = acid_table.snapshot(spark, path, skip_equals={"c": -12345})
    assert absent.count() == 0
    assert len(absent.inputFiles()) < n_all


def test_vacuum_dry_run_reports_without_deleting(spark, sf_dir, tmp_path):
    """VACUUM DRY RUN: identical counts to the real run, zero bytes
    touched — every file the dry pass counted still exists, every
    retained snapshot still reads, and the real run afterwards deletes
    exactly what the dry run predicted."""
    path = str(tmp_path / "t")
    t = _target(spark, sf_dir).limit(500)
    acid_table.create(t, path, "o_orderkey", n_files=4)
    acid_table.delete(spark, path, "o_orderkey % 3 = 0", cdc=True)
    acid_table.compact(spark, path, n_files=1)

    def listing():
        out = {}
        for d in ("data", "cdc", "dv", "bloom"):
            full = os.path.join(path, d)
            out[d] = sorted(os.listdir(full)) if os.path.isdir(full) else []
        return out

    before = listing()
    dry = acid_table.vacuum(
        path, retain_versions=1, orphan_grace_seconds=0, dry_run=True
    )
    assert dry["dry_run"] is True
    assert dry["removed_beyond_retention"] > 0
    assert listing() == before  # nothing touched
    assert acid_table.snapshot(spark, path).count() > 0
    real = acid_table.vacuum(
        path, retain_versions=1, orphan_grace_seconds=0
    )
    assert {k: v for k, v in dry.items() if k != "dry_run"} == {
        k: v for k, v in real.items() if k != "dry_run"
    }
    assert listing() != before
    assert acid_table.snapshot(spark, path).count() > 0


def test_partitioned_table_semantics(spark, sf_dir, tmp_path):
    """Declared partition columns (r15 verdict item 4): every data file
    holds exactly ONE partition tuple (pv recorded in its add entry);
    snapshot prunes on pv FIRST with pinned files-touched counts; writes
    (create/append/merge/delete-rewrite/compact) all preserve the
    single-pv invariant; partition evolution is refused loudly (drop of
    a partition column, frames lacking it, NULL partition values);
    RESTORE and CLONE carry the layout."""
    path = str(tmp_path / "t")
    t = _target(spark, sf_dir).limit(2000)
    n_rows = t.count()
    acid_table.create(
        t, path, "o_orderkey", n_files=4, partition_by=["o_orderstatus"]
    )
    st = acid_table._state(path)
    assert st["partition_by"] == ["o_orderstatus"]
    # single-pv invariant: every live file records exactly one tuple
    assert all(
        set(f["pv"]) == {"o_orderstatus"} for f in st["live"]
    )
    statuses = {r["o_orderstatus"] for r in t.select("o_orderstatus").distinct().collect()}
    n_all = len(acid_table.snapshot(spark, path).inputFiles())
    for s in sorted(statuses):
        snap = acid_table.snapshot(
            spark, path, skip_equals={"o_orderstatus": s}
        )
        want_files = sum(
            1 for f in st["live"] if f["pv"]["o_orderstatus"] == s
        )
        assert len(snap.inputFiles()) == want_files < n_all  # pv-pinned
        assert snap.count() == t.filter(
            f"o_orderstatus = '{s}'"
        ).count()
    # absent partition value: zero files read, exact empty result
    absent = acid_table.snapshot(
        spark, path, skip_equals={"o_orderstatus": "Z"}
    )
    assert len(absent.inputFiles()) == 0 and absent.count() == 0
    # skip_where range over a partition value prunes too
    rng = acid_table.snapshot(
        spark, path, skip_where={"o_orderstatus": ("O", "P")}
    )
    assert len(rng.inputFiles()) == sum(
        1 for f in st["live"] if "O" <= f["pv"]["o_orderstatus"] <= "P"
    )
    assert rng.count() == t.filter(
        "o_orderstatus between 'O' and 'P'"
    ).count()
    # merge + delete + compact keep the invariant and the data exact
    src = t.limit(50).withColumn("o_totalprice", F.lit(1.0))
    acid_table.merge(spark, src, path)
    acid_table.delete(spark, path, "o_orderkey % 7 = 0")
    acid_table.compact(spark, path, n_files=2)
    st2 = acid_table._state(path)
    assert all(set(f["pv"]) == {"o_orderstatus"} for f in st2["live"])
    expect = t.withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderkey").isin(
                [r["o_orderkey"] for r in src.collect()]
            ),
            1.0,
        ).otherwise(F.col("o_totalprice")),
    ).filter("o_orderkey % 7 != 0")
    got = acid_table.snapshot(spark, path)
    assert got.count() == expect.count()
    assert got.exceptAll(expect).count() == 0
    # partition evolution refused: dropping the partition column, a
    # frame lacking it, NULL partition values
    with pytest.raises(ValueError, match="partition"):
        acid_table.drop_column(path, "o_orderstatus")
    with pytest.raises(ValueError, match="missing table column"):
        # the widening-only schema guard refuses first — same loud
        # outcome; _require_partition_cols backstops rewrite paths
        acid_table.append(t.drop("o_orderstatus"), path)
    with pytest.raises(Exception, match="non-null partition"):
        acid_table.append(
            t.limit(5).withColumn(
                "o_orderstatus", F.lit(None).cast("string")
            ),
            path,
        )
    with pytest.raises(TypeError, match="JSON-scalar-safe"):
        acid_table.create(
            t,
            str(tmp_path / "bad"),
            "o_orderkey",
            partition_by=["o_totalprice"],
        )
    with pytest.raises(ValueError, match="not in the frame"):
        acid_table.create(
            t, str(tmp_path / "bad2"), "o_orderkey", partition_by=["ghost"]
        )
    # RESTORE keeps the layout; CLONE inherits it
    acid_table.restore(path, 0)
    assert acid_table._state(path)["partition_by"] == ["o_orderstatus"]
    assert (
        acid_table.snapshot(spark, path).count() == n_rows
    )
    dst = str(tmp_path / "c")
    acid_table.clone(path, dst)
    stc = acid_table._state(dst)
    assert stc["partition_by"] == ["o_orderstatus"]
    pruned_clone = acid_table.snapshot(
        spark, dst, skip_equals={"o_orderstatus": "F"}
    )
    assert len(pruned_clone.inputFiles()) < len(
        acid_table.snapshot(spark, dst).inputFiles()
    )


def test_partitioned_epoch_append_keeps_invariant(spark, sf_dir, tmp_path):
    """The streaming epoch append (string-stats-deferred hot path) must
    still split by partition value and record pv on a partitioned table;
    a redelivered epoch stays a no-op."""
    path = str(tmp_path / "t")
    t = _target(spark, sf_dir).limit(400)
    acid_table.create(
        t, path, "o_orderkey", n_files=2, partition_by=["o_orderstatus"]
    )
    nxt = t.withColumn("o_orderkey", F.col("o_orderkey") + 1_000_000)
    assert acid_table.append_exactly_once(nxt, path, 1, "o_orderkey")
    st = acid_table._state(path)
    assert all(set(f["pv"]) == {"o_orderstatus"} for f in st["live"])
    assert acid_table.snapshot(spark, path).count() == 2 * t.count()
    # redelivery no-ops
    assert not acid_table.append_exactly_once(nxt, path, 1, "o_orderkey")
    assert acid_table.snapshot(spark, path).count() == 2 * t.count()
    # pv pruning engages over epoch-appended files too
    pruned = acid_table.snapshot(
        spark, path, skip_equals={"o_orderstatus": "F"}
    )
    assert len(pruned.inputFiles()) == sum(
        1 for f in st["live"] if f["pv"]["o_orderstatus"] == "F"
    )


def test_generated_columns_semantics(spark, sf_dir, tmp_path):
    """GENERATED ALWAYS AS: absent generated columns are computed on
    every write path (create/append/merge source/epoch append); a
    present column with mismatched values rejects ATOMICALLY; a present
    column with exact values is accepted; rename/drop of the generated
    column or its referenced base columns are refused; CLONE inherits
    and RESTORE keeps the definitions; generated partition values prune
    with pinned file counts."""
    path = str(tmp_path / "t")
    t = _target(spark, sf_dir).limit(600)
    acid_table.create(
        t,
        path,
        "o_orderkey",
        n_files=2,
        partition_by=["band"],
        generated={"band": "CAST(o_totalprice >= 100000 AS STRING)"},
    )
    st = acid_table._state(path)
    assert st["generated"] == {
        "band": "CAST(o_totalprice >= 100000 AS STRING)"
    }
    snap = acid_table.snapshot(spark, path)
    assert "band" in snap.columns
    assert snap.filter(
        "band <> CAST(o_totalprice >= 100000 AS STRING)"
    ).count() == 0
    # append WITHOUT the column: computed
    acid_table.append(
        t.withColumn("o_orderkey", F.col("o_orderkey") + 1_000_000), path
    )
    # append WITH exact values: accepted
    acid_table.append(
        t.withColumn("o_orderkey", F.col("o_orderkey") + 2_000_000)
        .withColumn(
            "band", F.expr("CAST(o_totalprice >= 100000 AS STRING)")
        ),
        path,
    )
    # append WITH wrong values: atomic rejection
    head = acid_table.head(path)
    with pytest.raises(ValueError, match="GENERATED column mismatch"):
        acid_table.append(
            t.withColumn("o_orderkey", F.col("o_orderkey") + 3_000_000)
            .withColumn("band", F.lit("nope")),
            path,
        )
    assert acid_table.head(path) == head
    assert acid_table.snapshot(spark, path).count() == 3 * t.count()
    # merge source without the column: computed; upsert exact
    src = t.limit(40).withColumn("o_totalprice", F.lit(250_000.0))
    acid_table.merge(spark, src, path)
    got = acid_table.snapshot(spark, path).filter(
        F.col("o_orderkey").isin(
            [r["o_orderkey"] for r in src.collect()]
        )
    )
    assert got.count() == 40
    assert got.filter("band <> 'true'").count() == 0
    # epoch append computes too
    acid_table.append_exactly_once(
        t.withColumn("o_orderkey", F.col("o_orderkey") + 4_000_000),
        path,
        1,
        "o_orderkey",
    )
    assert (
        acid_table.snapshot(spark, path)
        .filter("band IS NULL")
        .count()
        == 0
    )
    # guards: generated col and referenced base cols are pinned
    with pytest.raises(ValueError, match="GENERATED"):
        acid_table.rename_column(path, "band", "b2")
    with pytest.raises(ValueError, match="GENERATED"):
        acid_table.drop_column(path, "o_totalprice")
    # pv pruning over generated partition values, files pinned
    st2 = acid_table._state(path)
    lo = acid_table.snapshot(spark, path, skip_equals={"band": "false"})
    assert len(lo.inputFiles()) == sum(
        1 for f in st2["live"] if f["pv"]["band"] == "false"
    )
    assert lo.count() == (
        acid_table.snapshot(spark, path)
        .filter("o_totalprice < 100000")
        .count()
    )
    # clone inherits, restore keeps
    dst = str(tmp_path / "c")
    acid_table.clone(path, dst)
    with pytest.raises(ValueError, match="GENERATED column mismatch"):
        acid_table.append(
            t.withColumn("o_orderkey", F.col("o_orderkey") + 5_000_000)
            .withColumn("band", F.lit("x")),
            dst,
        )
    acid_table.restore(path, 0)
    assert acid_table._state(path)["generated"] == st["generated"]


def test_generated_partition_filters_derive_from_base_column(
    spark, sf_dir, tmp_path
):
    """Delta's generated-column partition filters: a ``skip_where``
    range on the BASE timestamp prunes month partitions THROUGH the
    generation expression (date_format is monotone; string order ==
    chronological for yyyy-MM) — callers never name the derived column;
    files-touched pinned to the month span; the result equals the plain
    row filter."""
    import datetime as dt

    path = str(tmp_path / "t")
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_totalprice"
    )
    acid_table.create(
        o.limit(3000),
        path,
        "o_orderkey",
        n_files=2,
        partition_by=["month"],
        generated={"month": "date_format(o_orderdate, 'yyyy-MM')"},
    )
    st = acid_table._state(path)
    n_all = len(st["live"])
    lo = dt.datetime(1995, 3, 1)
    hi = dt.datetime(1995, 5, 31, 23, 59, 59)
    snap = acid_table.snapshot(
        spark, path, skip_where={"o_orderdate": (lo, hi)}
    )
    want_files = sum(
        1
        for f in st["live"]
        if "1995-03" <= f["pv"]["month"] <= "1995-05"
    )
    assert len(snap.inputFiles()) == want_files < n_all
    expect = (
        acid_table.snapshot(spark, path)
        .filter(
            (F.col("o_orderdate") >= F.lit(lo))
            & (F.col("o_orderdate") <= F.lit(hi))
        )
        .count()
    )
    assert snap.count() == expect > 0


def test_partitioning_composes_with_cdf_zorder_bloom(
    spark, sf_dir, tmp_path
):
    """Partitioning composes with the rest of the format: the streaming
    CDF source serves a partitioned table's commits unchanged; OPTIMIZE
    WHERE composes with ZORDER BY and bloom_by (clustering + sidecars
    scoped to the hot partition); pv pruning and bloom pruning then
    stack on the same snapshot."""
    from iot_data_pipeline_spark.sources import acid_cdf_stream

    path = str(tmp_path / "t")
    t = _target(spark, sf_dir).limit(1200).withColumn(
        "band", F.pmod("o_orderkey", F.lit(1000)).cast("int")
    )
    acid_table.create(
        t.filter("o_orderkey % 2 = 0"),
        path,
        "o_orderkey",
        n_files=2,
        partition_by=["o_orderstatus"],
    )
    acid_table.append(t.filter("o_orderkey % 2 = 1"), path, 2)
    # CDF streaming over the partitioned table
    acid_cdf_stream.register(spark)
    q = (
        spark.readStream.format("acid_cdf")
        .load(path)
        .writeStream.outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .format("parquet")
        .option("path", str(tmp_path / "sink"))
        .start()
    )
    q.awaitTermination()
    feed = spark.read.parquet(str(tmp_path / "sink"))
    assert feed.count() == t.count()
    assert set(feed.select("change_type").distinct().toPandas()["change_type"]) == {
        "insert"
    }
    # scoped OPTIMIZE with zorder + bloom over the hot partition only
    st0 = acid_table._state(path)
    cold0 = {
        f["path"] for f in st0["live"] if f["pv"]["o_orderstatus"] != "O"
    }
    acid_table.compact(
        spark,
        path,
        n_files=4,
        where={"o_orderstatus": "O"},
        zorder_by=["o_orderkey", "band"],
        bloom_by=["band"],
    )
    st1 = acid_table._state(path)
    assert {
        f["path"] for f in st1["live"] if f["pv"]["o_orderstatus"] != "O"
    } == cold0  # cold untouched
    hot = [f for f in st1["live"] if f["pv"]["o_orderstatus"] == "O"]
    assert all(f.get("bloom") for f in hot)  # scoped sidecars
    assert all(not f.get("bloom") for f in st1["live"] if f not in hot)
    # pv prune + bloom prune stack: probe a (status, band) point
    probe_band = t.filter("o_orderstatus = 'O'").first()["band"]
    snap = acid_table.snapshot(
        spark,
        path,
        skip_equals={"o_orderstatus": "O", "band": probe_band},
    )
    assert len(snap.inputFiles()) < len(hot)  # bloom pruned inside pv
    assert snap.count() == t.filter(
        f"o_orderstatus = 'O' AND band = {probe_band}"
    ).count()
    assert acid_table.snapshot(spark, path).count() == t.count()


def test_hot_partition_value_splits_across_tasks(spark, sf_dir, tmp_path):
    """Partition-value SKEW: clustering is (partition cols, KEY), so a
    hot partition value spreads across range-partitioner tasks — each
    writes its own single-pv file — instead of serializing the whole hot
    partition through one task/file. The skew story at 100 TB: ingest
    parallelism follows the key inside a hot partition."""
    path = str(tmp_path / "t")
    t = _target(spark, sf_dir).limit(2000).withColumn(
        "part",
        F.when(F.pmod("o_orderkey", F.lit(10)) == 0, F.lit("cold"))
        .otherwise(F.lit("hot")),  # ~90% of rows share one pv
    )
    acid_table.create(t, path, "o_orderkey", n_files=8, partition_by=["part"])
    st = acid_table._state(path)
    hot_files = [f for f in st["live"] if f["pv"]["part"] == "hot"]
    assert len(hot_files) >= 4  # the hot value parallelized
    # and files stay single-pv with disjoint-ish key ranges
    assert all(set(f["pv"]) == {"part"} for f in st["live"])
    snap = acid_table.snapshot(spark, path, skip_equals={"part": "cold"})
    assert snap.count() == t.filter("part = 'cold'").count()
    assert len(snap.inputFiles()) == len(st["live"]) - len(hot_files)


def test_partition_scoped_optimize(spark, sf_dir, tmp_path):
    """OPTIMIZE ... WHERE (r16): compact(where={pcol: v}) rewrites ONLY
    the matching partition's files — every other live file carries
    byte-identical (digest-pinned) — the snapshot is unchanged, and
    predicates off the partition columns (or on an unpartitioned table)
    are refused."""
    import hashlib

    path = str(tmp_path / "t")
    t = _target(spark, sf_dir).limit(1500)
    acid_table.create(
        t, path, "o_orderkey", n_files=2, partition_by=["o_orderstatus"]
    )
    # pile small files into ONE partition
    hot = t.filter("o_orderstatus = 'O'")
    for i in range(1, 4):
        acid_table.append(
            hot.withColumn(
                "o_orderkey", F.col("o_orderkey") + 1_000_000 * i
            ),
            path,
            2,
        )
    st = acid_table._state(path)
    hot_before = [
        f for f in st["live"] if f["pv"]["o_orderstatus"] == "O"
    ]
    cold_before = [
        f for f in st["live"] if f["pv"]["o_orderstatus"] != "O"
    ]
    assert len(hot_before) >= 4

    def digest(rel):
        with open(os.path.join(path, rel), "rb") as fh:
            return hashlib.sha1(fh.read()).hexdigest()

    cold_digests = {f["path"]: digest(f["path"]) for f in cold_before}
    n_rows = acid_table.snapshot(spark, path).count()
    r = acid_table.compact(spark, path, n_files=1, where={"o_orderstatus": "O"})
    assert r["rewritten"] == len(hot_before)
    assert r["carried"] == len(cold_before)
    st2 = acid_table._state(path)
    hot_after = [
        f for f in st2["live"] if f["pv"]["o_orderstatus"] == "O"
    ]
    cold_after = [
        f for f in st2["live"] if f["pv"]["o_orderstatus"] != "O"
    ]
    assert len(hot_after) < len(hot_before)  # compacted
    # cold partitions carried BYTE-IDENTICAL, same manifest entries
    assert {f["path"] for f in cold_after} == set(cold_digests)
    assert all(digest(p) == d for p, d in cold_digests.items())
    snap = acid_table.snapshot(spark, path)
    assert snap.count() == n_rows  # snapshot unchanged
    # pv invariant holds on the rewritten files
    assert all(set(f["pv"]) == {"o_orderstatus"} for f in st2["live"])
    with pytest.raises(ValueError, match="partition columns"):
        acid_table.compact(spark, path, where={"o_totalprice": 1.0})
    flat = str(tmp_path / "flat")
    acid_table.create(t, flat, "o_orderkey", n_files=2)
    with pytest.raises(ValueError, match="declared partition"):
        acid_table.compact(spark, flat, where={"o_orderstatus": "O"})


def test_type_widening_semantics(spark, sf_dir, tmp_path):
    """Type widening: the widening append is metadata-carrying only (no
    old file rewritten — digest-pinned); old narrow pages read through
    the widened schema; a later narrower append keeps the wide recorded
    type; time travel serves the pre-widening version under its ORIGINAL
    narrow type; unsupported changes (int→string, double→float as a
    narrowing is allowed as an incoming type — pages widen on read;
    cross-chain int→float/string raise)."""
    path = str(tmp_path / "t")
    t = (
        _target(spark, sf_dir)
        .limit(300)
        .withColumn("c", F.pmod(F.col("o_orderkey"), F.lit(1000)).cast("int"))
    )
    acid_table.create(t, path, "o_orderkey", n_files=2)
    before = _digests(path)
    wide = (
        _target(spark, sf_dir)
        .limit(300)
        .withColumn("o_orderkey", F.col("o_orderkey") + 10_000_000)
        .withColumn("c", F.lit(9_000_000_000).cast("bigint"))
    )
    acid_table.append(wide, path)
    assert all(before[k] == v for k, v in _digests(path).items() if k in before)
    snap = acid_table.snapshot(spark, path)
    assert dict(snap.dtypes)["c"] == "bigint"
    assert snap.filter("c = 9000000000").count() == 300
    assert snap.count() == 600
    # narrower incoming keeps the wide type
    acid_table.append(
        t.withColumn("o_orderkey", F.col("o_orderkey") + 20_000_000), path
    )
    assert dict(acid_table.snapshot(spark, path).dtypes)["c"] == "bigint"
    assert acid_table.snapshot(spark, path).count() == 900
    # time travel: v0 serves the original narrow type
    assert dict(acid_table.snapshot(spark, path, version=0).dtypes)["c"] == "int"
    # unsupported moves still raise
    with pytest.raises(TypeError, match="widening-only"):
        acid_table.append(
            t.withColumn("c", F.col("c").cast("string")), path
        )
    with pytest.raises(TypeError, match="widening-only"):
        # cross-chain moves (int-family -> float-family) are refused:
        # precision loss past 2^24/2^53 is not a widening
        acid_table.append(
            t.withColumn("c", F.col("c").cast("float")), path
        )
    # a NARROWER key incoming is fine — its pages widen on read
    acid_table.append(
        t.withColumn(
            "o_orderkey", (F.col("o_orderkey") + 30_000_000).cast("int")
        ),
        path,
    )
    assert (
        dict(acid_table.snapshot(spark, path).dtypes)["o_orderkey"]
        == "bigint"
    )


def test_stats_column_max_exact_and_conservative(spark, sf_dir, tmp_path):
    """r16 optimization seam: ``stats_column_max`` answers max(column)
    from manifest footer stats with ZERO Spark jobs — it must equal the
    real aggregate exactly when metadata proves it, and return None
    (caller falls back to a scan) whenever it cannot: a DV'd live file,
    a column without recorded stats, or a string column (stats live in
    the scols channel, not cols)."""
    path = str(tmp_path / "t")
    t = _target(spark, sf_dir)
    acid_table.create(t, path, "o_orderkey", n_files=4)
    real = (
        acid_table.snapshot(spark, path)
        .agg(F.max("o_totalprice"))
        .first()[0]
    )
    assert acid_table.stats_column_max(path, "o_totalprice") == real
    # a column nobody recorded stats for -> conservative None
    assert acid_table.stats_column_max(path, "no_such_column") is None
    # string columns keep their stats in scols -> None from this helper
    assert acid_table.stats_column_max(path, "o_orderstatus") is None
    # a DV on any live file voids metadata exactness (the vector could
    # have deleted the extreme rows) -> None, never a stale answer
    acid_table.delete(spark, path, "o_orderkey % 5 = 0", mode="dv")
    assert acid_table.stats_column_max(path, "o_totalprice") is None


def _range_frame(spark, lo: int, hi: int):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"),
        (F.col("id") * 2).alias("v"),
        F.concat(F.lit("s"), F.col("id").cast("string")).alias("s"),
    )


def test_commit_paths_pin_their_job_counts(spark, tmp_path, job_ids):
    """Every op commits through one commit helper and every append
    through one body; neither adds a Spark job. Pinned on ``spark.range``
    inputs: a 4-file create and a 4-file append run 3 jobs each, a
    summary-path MERGE (4000-row target) 7, an exactly-once epoch 1, and
    its redelivery none."""

    def frame(lo, hi):
        return spark.range(lo, hi).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        )

    path = str(tmp_path / "t")
    jobs = job_ids(lambda: acid_table.create(frame(0, 4000), path, "k", n_files=4))
    assert len(jobs) == 3
    jobs = job_ids(lambda: acid_table.append(frame(4000, 8000), path, n_files=4))
    assert len(jobs) == 3

    target = str(tmp_path / "m")
    acid_table.create(frame(0, 4000), target, "k", n_files=4)
    src = spark.range(100, 3000, 7).select(
        F.col("id").alias("k"), F.lit(-1).cast("bigint").alias("v")
    )
    jobs = job_ids(lambda: acid_table.merge(spark, src, target, n_files=4))
    assert len(jobs) == 7

    sink = str(tmp_path / "e")
    assert acid_table.append_exactly_once(frame(0, 100), sink, 0, "k")
    epoch = frame(100, 200)
    jobs = job_ids(lambda: acid_table.append_exactly_once(epoch, sink, 1, "k"))
    assert len(jobs) == 1
    jobs = job_ids(lambda: acid_table.append_exactly_once(epoch, sink, 1, "k"))
    assert jobs == []


def test_every_op_writes_its_manifest_fields_and_carries_key_and_schema(
    spark, tmp_path
):
    """Walk one table through every committing op and pin each manifest:
    its op name, its exact key set, its version (the one after the state
    the op read), and the ``key`` and ``schema`` it carries over from that
    state — except where the op itself sets the schema (a column drop, a
    restore). A clone's v0 carries its source's."""
    path = str(tmp_path / "t")
    base = {"version", "op", "key", "schema", "add", "remove", "ts"}
    acid_table.create(_range_frame(spark, 0, 2000), path, "k", n_files=2)
    acid_table.append(_range_frame(spark, 2000, 2100), path, n_files=1)
    acid_table.append_exactly_once(_range_frame(spark, 2100, 2200), path, 0, "k")
    acid_table.delete(spark, path, "k % 10 = 0")
    upd = _range_frame(spark, 0, 3000).filter("k % 7 = 1").withColumn(
        "v", F.lit(-1).cast("bigint")
    )
    acid_table.merge(spark, upd, path, n_files=2)
    acid_table.merge(spark, upd.withColumn("v", F.lit(-2).cast("bigint")),
                     path, n_files=2, mode="dv")
    acid_table.compact(spark, path, n_files=1)
    acid_table.add_constraint(spark, path, "nonneg", "k >= 0")
    acid_table.drop_constraint(path, "nonneg")
    acid_table.rename_column(path, "v", "w")
    acid_table.drop_column(path, "s")
    acid_table.restore(path, 3)
    expected = [
        ("create", set()),
        ("append", set()),
        ("stream-append", {"txn"}),
        ("delete", set()),
        ("merge", set()),
        ("merge-dv", {"dv"}),
        ("compact", set()),
        ("add-constraint", {"constraints"}),
        ("drop-constraint", {"constraints"}),
        ("rename-column", {"colmap"}),
        ("drop-column", {"colmap"}),
        ("restore", {"colmap", "constraints", "restored_version"}),
    ]
    ms = acid_table.history(path)
    assert [(m["op"], set(m) - base) for m in ms] == expected
    assert all(base <= set(m) for m in ms)
    assert ms[0]["key"] == "k" and ms[0]["version"] == 0
    for m in ms[1:]:
        prior = acid_table._state(path, m["version"] - 1)
        assert m["key"] == prior["key"] == "k", m["op"]
        if m["op"] == "drop-column":
            dropped = {f["name"] for f in json.loads(prior["schema"])["fields"]}
            kept = {f["name"] for f in json.loads(m["schema"])["fields"]}
            assert dropped - kept == {"s"}
        elif m["op"] == "restore":
            assert m["schema"] == acid_table._state(path, 3)["schema"]
        else:
            assert m["schema"] == prior["schema"], m["op"]
    assert ms[2]["txn"] == {"app": "stream", "version": 0}
    assert ms[-1]["restored_version"] == 3 and ms[-1]["colmap"] is None

    dst = str(tmp_path / "c")
    acid_table.clone(path, dst)
    (m,) = acid_table.history(dst)
    extra = {"colmap", "constraints", "partition_by", "generated", "source",
             "source_version"}
    assert m["op"] == "clone" and set(m) == base | extra
    src_state = acid_table._state(path)
    assert (m["version"], m["key"], m["schema"]) == (
        0, src_state["key"], src_state["schema"]
    )
    assert m["source_version"] == src_state["version"]

"""Streaming batch-equivalence and watermark semantics (SURVEY.md §5.3)."""

from __future__ import annotations

import datetime as dt
import os
import tempfile

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from iot_data_pipeline_spark.operators._util import table
from iot_data_pipeline_spark.streaming import streams


def test_tumbling_equals_batch(spark, sf_dir):
    streamed = streams.stream_tumbling_agg(spark, sf_dir)
    batch = (
        table(spark, sf_dir, "events")
        .groupBy(F.window("ts", "5 minutes"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("sum_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "event_type",
            "cnt",
            "sum_value",
        )
    )
    s = {tuple(r) for r in streamed.collect()}
    b = {tuple(r) for r in batch.collect()}
    assert s == b


def test_dedup_equals_distinct(spark, sf_dir):
    deduped = streams.stream_dedup(spark, sf_dir)
    n = table(spark, sf_dir, "events").count()
    assert deduped.count() == n
    ids = [r["event_id"] for r in deduped.select("event_id").collect()]
    assert len(set(ids)) == n


def test_dedup_does_not_contaminate_shared_staging(spark, sf_dir):
    """stream_dedup stages its duplicated chunk files in a dir of its OWN —
    it must never add them to the shared cache-keyed staging dir, or any
    default-keyed streaming query that runs AFTER it in the same process
    reads every chunk twice (order-dependent wrong answer, found by an r11
    targeted verify that happened to run dedup before ingest)."""
    streams.stream_dedup(spark, sf_dir)
    ingested = streams.stream_ingest_files(spark, sf_dir)
    assert ingested.count() == table(spark, sf_dir, "events").count()


def test_watermark_drops_late_rows(spark, tmp_path):
    """Controlled late-data fixture pinning Spark's exact watermark
    semantics: a late row arriving AFTER its window was finalized+evicted is
    dropped (a late row arriving while the window state is still live is
    merged — the watermark bounds finalization, not arrival)."""
    sdir = tempfile.mkdtemp(prefix="wm_fixture_")
    base = dt.datetime(2024, 1, 1, 0, 0, 0)

    def mk(path, rows, mtime):
        df = spark.createDataFrame(rows, streams.EVENTS_SCHEMA)
        stage = path + "_stage"
        df.coalesce(1).write.mode("overwrite").parquet(stage)
        part = next(f for f in os.listdir(stage) if f.endswith(".parquet"))
        os.rename(os.path.join(stage, part), path)
        os.utime(path, (mtime, mtime))

    def ev(i, minutes):
        return Row(
            event_id=i,
            ts=base + dt.timedelta(minutes=minutes),
            user_id=1,
            event_type="a",
            value=1.0,
            props="{}",
        )

    # batch 0: window 00:00 gets one row; max event time 02:00.
    mk(os.path.join(sdir, "00000.parquet"), [ev(1, 0), ev(2, 120)], 1_700_000_000)
    # batch 1: watermark → 01:50, finalizes + evicts window 00:00 (cnt=1).
    mk(os.path.join(sdir, "00001.parquet"), [ev(4, 150)], 1_700_000_001)
    # batch 2: event 3 @00:01 is now LATE (window already finalized) → drop.
    mk(os.path.join(sdir, "00002.parquet"), [ev(3, 1)], 1_700_000_002)
    # batch 3: advance so earlier windows flush; 05:00 stays unemitted.
    mk(os.path.join(sdir, "00003.parquet"), [ev(5, 300)], 1_700_000_003)

    stream = streams._read_stream(spark, sdir, max_files=1)
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "5 minutes"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.col("window.start").alias("ws"), "cnt")
    )
    out = streams._run_to_memory(agg, "append")
    got = {(r["ws"], r["cnt"]) for r in out.collect()}
    assert got == {
        (base, 1),  # late event 3 NOT merged — dropped after eviction
        (base + dt.timedelta(minutes=120), 1),
        (base + dt.timedelta(minutes=150), 1),
    }


def test_watermark_late_drops_late_quartile_and_replays_bitwise(spark, sf_dir):
    """stream_watermark_late on real testdata: the second time quartile
    (chunk 1) replays TWO batches after chunk 2 advanced the watermark —
    Spark's late filter uses the PREVIOUS batch's watermark, one behind
    eviction, so one-batch-late data would be silently merged (the r9
    ordering [0,2,1,3] dropped nothing; measured from query progress) —
    and must be fully dropped; the emitted counts must equal exactly the
    non-late rows in windows the final watermark finalizes. Second run is
    bit-identical (deterministic staging + watermark protocol)."""
    from pyspark.sql import Window as W

    out = streams.stream_watermark_late(spark, sf_dir)
    rows = sorted((r["window_start"], r["cnt"]) for r in out.collect())
    total_cnt = sum(c for _, c in rows)

    e = table(spark, sf_dir, "events")
    ranked = e.withColumn(
        "c", F.ntile(4).over(W.orderBy("ts", "event_id")) - 1
    ).withColumn(
        "wend_ms", (F.unix_millis("ts") - F.unix_millis("ts") % 300000) + 300000
    )
    # replay [0,2,3,1]: only chunk 1 (batch 3) sees a non-trivial late
    # watermark = max event time of chunks {0,2} (batches <= 1) - 10 min.
    wm_late = (
        ranked.filter(F.col("c").isin(0, 2))
        .agg(F.max(F.unix_millis("ts")))
        .first()[0]
        - 600_000
    )
    fwm = ranked.agg(F.max(F.unix_millis("ts"))).first()[0] - 600_000
    expected = ranked.filter(
        (
            (F.col("c") != 1) | (F.col("wend_ms") > F.lit(wm_late))
        )
        & (F.col("wend_ms") <= F.lit(fwm))
    ).count()
    dropped = ranked.filter(
        (F.col("c") == 1) & (F.col("wend_ms") <= F.lit(wm_late))
    ).count()
    assert dropped > 0, "fixture must actually exercise the late drop"
    assert total_cnt == expected
    again = sorted(
        (r["window_start"], r["cnt"])
        for r in streams.stream_watermark_late(spark, sf_dir).collect()
    )
    assert again == rows


def test_checkpoint_resume_processes_only_new_files(spark, tmp_path):
    """Exactly-once bookkeeping: restarting a stream against the same
    checkpoint must process only files that arrived since the last run —
    no reprocessing, no gaps."""
    import uuid

    sdir = str(tmp_path / "in")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    os.makedirs(sdir, exist_ok=True)
    base = dt.datetime(2024, 1, 1)

    def add_file(idx, ids):
        rows = [
            Row(event_id=i, ts=base, user_id=1, event_type="a", value=1.0, props="{}")
            for i in ids
        ]
        df = spark.createDataFrame(rows, streams.EVENTS_SCHEMA)
        stage = str(tmp_path / f"stage{idx}")
        df.coalesce(1).write.mode("overwrite").parquet(stage)
        part = next(f for f in os.listdir(stage) if f.endswith(".parquet"))
        os.rename(os.path.join(stage, part), os.path.join(sdir, f"{idx:05d}.parquet"))

    def run_once():
        q = (
            streams._read_stream(spark, sdir)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    add_file(0, [1, 2, 3])
    run_once()
    first = sorted(r["event_id"] for r in spark.read.parquet(out).collect())
    assert first == [1, 2, 3]

    add_file(1, [4, 5])
    run_once()
    second = sorted(r["event_id"] for r in spark.read.parquet(out).collect())
    # resume processed ONLY the new file: no duplicates of 1-3, plus 4-5
    assert second == [1, 2, 3, 4, 5]

    # re-running with no new data appends nothing
    run_once()
    third = sorted(r["event_id"] for r in spark.read.parquet(out).collect())
    assert third == [1, 2, 3, 4, 5]
    _ = uuid


def test_stateful_count_equals_batch(spark, sf_dir):
    out = {
        r["user_id"]: (r["n_events"], r["total_cents"])
        for r in streams.stream_stateful_count(spark, sf_dir).collect()
    }
    batch = {
        r["user_id"]: (r["n"], r["cents"])
        for r in table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)") * 100)
            .cast("long")
            .alias("cents"),
        )
        .collect()
    }
    assert out == batch


def test_transform_with_state_new_api_or_env_skip(spark, sf_dir):
    """Spark 4's transformWithStateInPandas (the successor to
    applyInPandasWithState, already covered by stream_stateful_count).
    The API needs a protobuf-served Python runner; this container ships a
    broken google.protobuf, so the query crashes at runner init with
    ImportError — an ENVIRONMENT seam, not an engine gap. If the
    environment ever gains a working protobuf, this test upgrades itself
    from documented-skip to a real value check against the old-API
    operator's semantics."""
    import pandas as pd
    import pytest
    from pyspark.sql.streaming import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    try:
        from google.protobuf import descriptor  # noqa: F401
    except ImportError:
        pytest.skip("google.protobuf broken in this container — "
                    "transformWithStateInPandas runner cannot start")

    from iot_data_pipeline_spark.streaming import streams

    class CountProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState("agg", "total LONG, cnt LONG")

        def handleInputRows(self, key, rows, timerValues):
            if self._state.exists():
                total, cnt = (int(v) for v in self._state.get())
            else:
                total, cnt = 0, 0
            for pdf in rows:
                cnt += len(pdf)
                total += int(round(pdf["value"].mul(100).sum()))
            self._state.update((total, cnt))
            yield pd.DataFrame(
                {"user_id": [key[0]], "n_events": [cnt],
                 "total_cents": [total]}
            )

        def close(self) -> None:
            pass

    stream_dir = streams._stage_event_chunks(spark, sf_dir, n_chunks=1)
    stream = streams._read_stream(spark, stream_dir)
    out = stream.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=CountProcessor(),
        outputStructType="user_id LONG, n_events LONG, total_cents LONG",
        outputMode="Update",
        timeMode="None",
    )
    got = {
        r["user_id"]: (r["n_events"], r["total_cents"])
        for r in streams._run_to_memory(out, "update").collect()
    }
    want = {
        r["user_id"]: (r["n_events"], r["total_cents"])
        for r in streams.stream_stateful_count(spark, sf_dir).collect()
    }
    assert got == want


def test_watermark_late_filter_lags_eviction_by_one_batch(spark, tmp_path):
    """PROTOCOL PIN (r10 verdict item 3): the stream_watermark_late oracle
    encodes Spark's internal one-batch lag — the late-events filter of
    batch k uses the watermark derived from batches <= k-2
    (``prevOffsetSeqMetadata``), while state eviction uses batches <= k-1.
    This test asserts the lag ITSELF from StreamingQueryProgress
    (numRowsDroppedByWatermark per batch), so a Spark upgrade that moves
    the protocol fails HERE with a named message instead of as a mystery
    oracle hash flip.

    Fixture: batch 0 raises max event time to 02:00 (watermark 01:50 once
    committed). Batch 1 replays a 00:01 row — late vs 01:50, but the lag
    means batch 1 filters with the PRE-batch-0 watermark, so it must be
    KEPT. Batch 2 replays a 00:02 row — now 01:50 is in force, so it must
    be DROPPED."""
    import json

    sdir = str(tmp_path / "wm_lag")
    os.makedirs(sdir)
    base = dt.datetime(2024, 1, 1, 0, 0, 0)

    def mk(path, rows, mtime):
        df = spark.createDataFrame(rows, streams.EVENTS_SCHEMA)
        stage = path + "_stage"
        df.coalesce(1).write.mode("overwrite").parquet(stage)
        part = next(f for f in os.listdir(stage) if f.endswith(".parquet"))
        os.rename(os.path.join(stage, part), path)
        os.utime(path, (mtime, mtime))

    def ev(i, minutes):
        return Row(
            event_id=i,
            ts=base + dt.timedelta(minutes=minutes),
            user_id=1,
            event_type="a",
            value=1.0,
            props="{}",
        )

    mk(os.path.join(sdir, "00000.parquet"), [ev(1, 0), ev(2, 120)], 1_700_000_000)
    mk(os.path.join(sdir, "00001.parquet"), [ev(3, 1)], 1_700_000_001)
    mk(os.path.join(sdir, "00002.parquet"), [ev(4, 2)], 1_700_000_002)

    stream = streams._read_stream(spark, sdir, max_files=1)
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "5 minutes"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("wm_lag_pin")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    dropped = {}
    for p in q.recentProgress:
        d = json.loads(p.json) if hasattr(p, "json") else p
        ops = d.get("stateOperators") or []
        if ops:
            dropped[d["batchId"]] = ops[0].get("numRowsDroppedByWatermark", 0)
    assert dropped.get(1) == 0, (
        "Spark changed watermark lag: the late filter of batch 1 used a "
        "watermark newer than batches <= -1 (prevOffsetSeqMetadata "
        "protocol moved) — stream_watermark_late's oracle must be "
        f"re-derived. Per-batch drops: {dropped}"
    )
    assert dropped.get(2) == 1, (
        "Spark changed watermark lag: batch 2 (two behind the advance) "
        "did not drop the late row — stream_watermark_late's oracle must "
        f"be re-derived. Per-batch drops: {dropped}"
    )


def test_stream_near_dedup_equals_greedy_batch_reference(spark, sf_dir):
    """Batch-equivalence for the incremental near-dedup: replaying the
    corpus in doc_id order through the LSH-bucket-store stream must
    reproduce a driver-side GREEDY pass over the exact n-gram ground-truth
    pairs (doc d is a dup iff some KEPT doc with lower id matches it —
    across batches or within one). Relies on LSH finding exactly the
    ngram pairs on this corpus (pinned by
    test_minhash_matches_exact_ngram); composition of the per-epoch
    store-probe + within-batch greedy is what's under test here."""
    from iot_data_pipeline_spark.operators import llm

    got = {
        r["doc_id"]: r["status"]
        for r in streams.stream_near_dedup(spark, sf_dir).collect()
    }
    pairs = sorted(
        (r["doc_a"], r["doc_b"])
        for r in llm.llm_dedup_ngram(spark, sf_dir).collect()
    )
    all_ids = [
        r["doc_id"]
        for r in table(spark, sf_dir, "documents").select("doc_id").collect()
    ]
    preds: dict[int, list[int]] = {}
    for a, b in pairs:
        preds.setdefault(b, []).append(a)
    kept: set[int] = set()
    expected: dict[int, str] = {}
    for d in sorted(all_ids):
        if any(a in kept for a in preds.get(d, [])):
            expected[d] = "dup"
        else:
            kept.add(d)
            expected[d] = "kept"
    assert set(got) == set(expected)
    for d, st in expected.items():
        if st == "kept":
            assert got[d] == "kept", (d, got[d])
        else:
            assert got[d] in ("dup_of_corpus", "dup_in_batch"), (d, got[d])
    # every dup class must actually be exercised by this corpus
    assert "dup_of_corpus" in got.values()
    assert "dup_in_batch" in got.values()


def test_near_dedup_driver_pair_budget_raises(spark, sf_dir, monkeypatch):
    """The greedy admission's driver-side collect is bounded by actual
    verified duplicate pairs (r15 verdict item 6): with the budget
    forced to 0, the first epoch that verifies a pair must raise the
    curated choke-point error naming the knob — never an unbounded
    collect."""
    monkeypatch.setattr(streams, "_NEAR_DEDUP_PAIR_BUDGET", 0)
    with pytest.raises(Exception, match="_NEAR_DEDUP_PAIR_BUDGET"):
        streams.stream_near_dedup(spark, sf_dir).collect()


def test_near_dedup_state_store_file_count_bounded(spark, tmp_path):
    """VERDICT r11 item 4: the near-dedup state stores must not accumulate
    one file set per epoch forever. Eight epoch-appends through the
    stream's own maintenance helpers (OPTIMIZE every
    _NEAR_DEDUP_COMPACT_EVERY epochs + vacuum to the latest version) must
    leave the on-disk data file count AT the compaction target — while the
    snapshot still serves every admitted row — and the count must stay
    under target+cadence at every intermediate epoch."""
    import os

    from iot_data_pipeline_spark.sources import acid_table

    store = str(tmp_path / "buckets")
    expected_rows: set[tuple[int, int, int]] = set()
    dfs = {}

    def n_data_files() -> int:
        return len(os.listdir(os.path.join(store, "data")))

    def snapshot_rows() -> set:
        return {
            (r["doc_id"], r["band_idx"], r["bucket"])
            for r in acid_table.snapshot(spark, store).collect()
        }

    for epoch in range(8):
        rows = [(epoch * 100 + i, epoch, 7 * epoch + i) for i in range(3)]
        expected_rows.update(rows)
        dfs[epoch] = spark.createDataFrame(
            rows, "doc_id LONG, band_idx INT, bucket LONG"
        )
        streams._append_state_store(dfs[epoch], store, epoch)
        if (epoch + 1) % streams._NEAR_DEDUP_COMPACT_EVERY == 0:
            streams._maintain_state_store(spark, store)
        assert n_data_files() <= (
            streams._NEAR_DEDUP_COMPACT_FILES + streams._NEAR_DEDUP_COMPACT_EVERY
        )
    assert n_data_files() <= streams._NEAR_DEDUP_COMPACT_FILES
    assert snapshot_rows() == expected_rows
    # empty-epoch appends are skipped entirely (no commit churn)
    before = len(acid_table.history(store))
    streams._append_state_store(
        spark.createDataFrame([], "doc_id LONG, band_idx INT, bucket LONG"),
        store,
        8,
    )
    assert len(acid_table.history(store)) == before
    # REDELIVERY pin (review finding, r12): re-delivering an epoch that
    # already committed — including one whose log version was displaced
    # by the interleaved OPTIMIZE/VACUUM commits — must be a no-op, not a
    # double-append (old version=epoch scheme) nor a dropped epoch.
    for epoch in (2, 7):
        streams._append_state_store(dfs[epoch], store, epoch)
    assert len(acid_table.history(store)) == before
    assert snapshot_rows() == expected_rows


def test_medallion_fold_catches_up_after_silver_crash(spark, sf_dir, tmp_path):
    """The medallion protocol's recovery guarantee: a bronze commit whose
    silver fold never ran (crash between the two) is reconciled by the
    NEXT epoch's CDF range — the watermark lags, so the range covers both
    commits and silver lands exactly the direct aggregate, with the lost
    epoch folded once, not zero or two times."""
    from iot_data_pipeline_spark.sources import acid_table

    events = table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    chunks = [
        events.filter(F.pmod("event_id", F.lit(3)) == i) for i in range(3)
    ]
    bronze = str(tmp_path / "bronze")
    silver = str(tmp_path / "silver")
    fold = streams._medallion_fold(spark, bronze, silver)

    fold(chunks[0], 0)  # normal epoch: bronze + silver
    # CRASH between bronze and silver for epoch 1: commit bronze only
    acid_table.append_exactly_once(
        chunks[1], bronze, txn_version=1, key="event_id"
    )
    assert (
        acid_table.snapshot(spark, silver).agg(F.max("as_of")).first()[0]
        < acid_table.history(bronze)[-1]["version"]
    )
    fold(chunks[2], 2)  # next epoch must fold epochs 1 AND 2

    got = {
        (r["event_type"], r["n"], round(r["total"], 2))
        for r in acid_table.snapshot(spark, silver).collect()
    }
    expected = {
        (r["event_type"], r["n"], round(r["total"], 2))
        for r in events.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("value").alias("total"),
        )
        .collect()
    }
    assert got == expected
    # and a redelivered epoch after recovery is still a no-op everywhere
    commits = (
        len(acid_table.history(bronze)),
        len(acid_table.history(silver)),
    )
    fold(chunks[2], 2)
    assert commits == (
        len(acid_table.history(bronze)),
        len(acid_table.history(silver)),
    )


def _fold_fixture(spark, sf_dir, tmp_path, monkeypatch):
    """Three event chunks, a fresh medallion fold over bronze/silver dirs
    under ``tmp_path``, and a list that records every CDF range read the
    fold makes as ``(v_from, v_to)``."""
    from iot_data_pipeline_spark.sources import acid_table

    events = table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    chunks = [
        events.filter(F.pmod("event_id", F.lit(3)) == i) for i in range(3)
    ]
    bronze = str(tmp_path / "bronze")
    silver = str(tmp_path / "silver")
    reads = []
    table_changes = acid_table.table_changes

    def spy(spark_, path, v_from, v_to):
        reads.append((v_from, v_to))
        return table_changes(spark_, path, v_from, v_to)

    monkeypatch.setattr(acid_table, "table_changes", spy)
    fold = streams._medallion_fold(spark, bronze, silver)
    return events, chunks, bronze, silver, fold, reads


def _silver_matches(spark, silver, events_in_bronze):
    from iot_data_pipeline_spark.sources import acid_table

    got = {
        (r["event_type"], r["n"], round(r["total"], 2))
        for r in acid_table.snapshot(spark, silver).collect()
    }
    expected = {
        (r["event_type"], r["n"], round(r["total"], 2))
        for r in events_in_bronze.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("value").alias("total"),
        )
        .collect()
    }
    return got == expected


def test_medallion_fold_merge_epoch_folds_its_own_rows_in_at_most_7_jobs(
    spark, sf_dir, tmp_path, monkeypatch, job_ids
):
    """An epoch whose bronze append lands right after silver's watermark
    folds its own rows (no CDF range read) and MERGEs a silver table of a
    handful of rows in one plan: at most 7 Spark jobs for the whole epoch
    (bronze append, delta, MERGE), where the CDF read-back and the
    summary-job MERGE ran 12."""
    events, chunks, _, silver, fold, reads = _fold_fixture(
        spark, sf_dir, tmp_path, monkeypatch
    )
    fold(chunks[0], 0)  # silver create
    jobs = job_ids(lambda: fold(chunks[1], 1))
    assert len(jobs) <= 7, len(jobs)
    assert reads == []
    assert _silver_matches(
        spark, silver, events.filter(F.pmod("event_id", F.lit(3)) < 2)
    )


def test_medallion_fold_redelivered_epoch_reads_the_cdf_range(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Bronze already holds epoch 1 but silver never folded it (a crash
    between the two), and epoch 1 is redelivered: the append is a no-op,
    so the epoch's own rows say nothing about the range and the fold
    reads (watermark, head] from the CDF."""
    from iot_data_pipeline_spark.sources import acid_table

    events, chunks, bronze, silver, fold, reads = _fold_fixture(
        spark, sf_dir, tmp_path, monkeypatch
    )
    fold(chunks[0], 0)
    assert acid_table.append_exactly_once(
        chunks[1], bronze, txn_version=1, key="event_id"
    )
    fold(chunks[1], 1)
    assert reads == [(0, 1)]
    assert _silver_matches(
        spark, silver, events.filter(F.pmod("event_id", F.lit(3)) < 2)
    )


def test_medallion_fold_after_foreign_bronze_commit_reads_the_cdf_range(
    spark, sf_dir, tmp_path, monkeypatch
):
    """A foreign bronze commit (OPTIMIZE) between two epochs leaves the
    watermark two versions behind the next epoch's append, so that epoch
    folds the CDF range over both commits."""
    from iot_data_pipeline_spark.sources import acid_table

    events, chunks, bronze, silver, fold, reads = _fold_fixture(
        spark, sf_dir, tmp_path, monkeypatch
    )
    fold(chunks[0], 0)
    fold(chunks[1], 1)
    assert acid_table.compact(spark, bronze, n_files=1)["rewritten"] > 0
    fold(chunks[2], 2)
    assert reads == [(1, 3)]
    assert _silver_matches(spark, silver, events)


# ---------------------------------------------------------------------------
# Streaming CDF source (r14)
# ---------------------------------------------------------------------------


def _cdf_stream_table(spark, sf_dir, tmp_path):
    from iot_data_pipeline_spark.sources import acid_table

    t = (
        table(spark, sf_dir, "orders")
        .limit(600)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
    )
    path = str(tmp_path / "t")
    acid_table.create(t.filter("o_orderkey % 2 = 0"), path, "o_orderkey", 2)
    acid_table.append(t.filter("o_orderkey % 2 = 1"), path, 2)
    acid_table.delete(spark, path, "o_orderkey % 5 = 0", cdc=True)
    return path, t


def _consume(spark, path, ckpt, name, sink_dir=None):
    """Run the CDF source to completion. Memory sink by default; pass
    ``sink_dir`` for a parquet sink (the memory sink cannot RECOVER from
    a checkpoint, so restart tests need a fault-tolerant sink)."""
    from iot_data_pipeline_spark.sources import acid_cdf_stream

    acid_cdf_stream.register(spark)
    w = (
        spark.readStream.format("acid_cdf")
        .load(path)
        .writeStream.outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", ckpt)
    )
    if sink_dir is not None:
        q = w.format("parquet").option("path", sink_dir).start()
        q.awaitTermination()
        return spark.read.parquet(sink_dir)
    q = w.format("memory").queryName(name).start()
    q.awaitTermination()
    return spark.table(name)


def _offset_log_ends(ckpt: str) -> list[int]:
    """The end offset (commit version) of every batch in the query's
    offset WAL, in batch order — the driver-visible record of how far
    each planned micro-batch advanced."""
    import json as _json

    d = os.path.join(ckpt, "offsets")
    offs = {}
    for name in os.listdir(d):
        if not name.isdigit():
            continue
        with open(os.path.join(d, name)) as fh:
            lines = [ln for ln in fh.read().splitlines() if ln.strip()]
        offs[int(name)] = _json.loads(lines[-1])["version"]
    return [offs[k] for k in sorted(offs)]


def test_cdf_admission_control_bounded_drain_and_restart(
    spark, sf_dir, tmp_path
):
    """maxCommitsPerTrigger (r15 verdict item 3): a 10-commit backlog
    drains in ≥5 micro-batches with EVERY offset-log advance ≤ 2
    commits — including across process restarts (each availableNow run
    is a clean restart; the monotone ``_admission/`` sidecar bridges the
    anchor, since the engine asks latestOffset before the reader learns
    anything else) — and exactly-once holds across a mid-drain CRASH
    (the WAL-pending batch re-plans bounded and re-anchors the clamp).
    The availableNow caveat is a pinned contract: one run advances at
    most the configured bound, so a backlog drain is a LOOP of runs."""
    from iot_data_pipeline_spark.sources import acid_cdf_stream, acid_table

    t = (
        table(spark, sf_dir, "orders")
        .limit(300)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
    )
    path = str(tmp_path / "t")
    acid_table.create(
        t.filter("o_orderkey % 10 = 0"), path, "o_orderkey", 1
    )  # v0
    for i in range(1, 10):  # v1..v9 — the 10-commit backlog
        acid_table.append(t.filter(f"o_orderkey % 10 = {i}"), path, 1)
    acid_cdf_stream.register(spark)
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def drain_once(fail: bool = False):
        state = {"calls": 0}

        def sink(df, bid):
            state["calls"] += 1
            if fail and state["calls"] == 1:
                raise RuntimeError("injected mid-drain crash")
            df.write.mode("overwrite").parquet(
                os.path.join(out, f"b{bid}")
            )

        q = (
            spark.readStream.format("acid_cdf")
            .option("maxCommitsPerTrigger", 2)
            .load(path)
            .writeStream.outputMode("append")
            .trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .foreachBatch(sink)
            .start()
        )
        try:
            q.awaitTermination()
            return None
        except Exception as ex:  # the injected crash surfaces here
            return ex

    runs = 0
    while True:
        assert drain_once() is None
        runs += 1
        ends = _offset_log_ends(ckpt)
        if ends and ends[-1] == 9:
            break
        assert runs < 12, f"drain did not converge: {ends}"
    assert runs >= 5  # 10 commits / 2 per run
    ends = _offset_log_ends(ckpt)
    assert all(b - a <= 2 for a, b in zip([-1] + ends, ends)), ends
    got = spark.read.parquet(os.path.join(out, "b*"))
    assert got.count() == t.count()  # every insert delivered
    assert (
        got.select("o_orderkey", "commit_version").distinct().count()
        == t.count()
    )  # ...exactly once
    # mid-drain crash: new backlog, first resumed batch fails AFTER its
    # offsets hit the WAL; the rerun re-plans that same bounded batch
    for i in range(4):  # v10..v13
        acid_table.append(
            t.limit(20).withColumn(
                "o_orderkey", F.col("o_orderkey") + 1_000_000 * (i + 1)
            ),
            path,
            1,
        )
    assert drain_once(fail=True) is not None  # crashed mid-drain
    runs2 = 0
    while True:
        assert drain_once() is None
        runs2 += 1
        ends = _offset_log_ends(ckpt)
        if ends[-1] == 13:
            break
        assert runs2 < 8
    ends = _offset_log_ends(ckpt)
    assert all(b - a <= 2 for a, b in zip([-1] + ends, ends)), ends
    got = spark.read.parquet(os.path.join(out, "b*"))
    assert got.count() == t.count() + 80
    assert (
        got.select("o_orderkey", "commit_version").distinct().count()
        == t.count() + 80
    )
    # option validation
    with pytest.raises(Exception, match="positive"):
        acid_cdf_stream.AcidCdfStreamReader(
            acid_cdf_stream._feed_schema(path),
            {"path": path, "maxcommitspertrigger": "0"},
        )


def test_cdf_max_bytes_per_trigger_soft_cap(spark, sf_dir, tmp_path):
    """maxBytesPerTrigger (Delta's byte-rate analogue): a 1-byte cap
    still admits one commit per batch (SOFT cap — the stream never
    stalls on an oversized commit) so the offset log advances exactly
    one version per batch; a generous cap drains everything at once;
    the delivered feed is complete and exactly-once either way; the
    0-value is refused."""
    from iot_data_pipeline_spark.sources import acid_cdf_stream, acid_table

    t = (
        table(spark, sf_dir, "orders")
        .limit(120)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
    )
    path = str(tmp_path / "t")
    acid_table.create(t.filter("o_orderkey % 6 = 0"), path, "o_orderkey", 1)
    for i in range(1, 6):  # v1..v5
        acid_table.append(t.filter(f"o_orderkey % 6 = {i}"), path, 1)
    acid_cdf_stream.register(spark)
    ckpt, sink = str(tmp_path / "ck"), str(tmp_path / "sink")
    for _ in range(8):
        q = (
            spark.readStream.format("acid_cdf")
            .option("maxBytesPerTrigger", 1)
            .load(path)
            .writeStream.outputMode("append")
            .trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .format("parquet")
            .option("path", sink)
            .start()
        )
        q.awaitTermination()
        ends = _offset_log_ends(ckpt)
        if ends and ends[-1] == 5:
            break
    assert _offset_log_ends(ckpt) == [0, 1, 2, 3, 4, 5]  # 1 commit/batch
    got = spark.read.parquet(sink)
    assert got.count() == t.count()
    assert (
        got.select("o_orderkey", "commit_version").distinct().count()
        == t.count()
    )
    # generous cap: the whole backlog in one batch
    ckpt2, sink2 = str(tmp_path / "ck2"), str(tmp_path / "sink2")
    q = (
        spark.readStream.format("acid_cdf")
        .option("maxBytesPerTrigger", 10**9)
        # own sidecar: the first drain's anchor must not mask the cap
        .option("admissionAnchorId", "generous")
        .load(path)
        .writeStream.outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", ckpt2)
        .format("parquet")
        .option("path", sink2)
        .start()
    )
    q.awaitTermination()
    assert _offset_log_ends(ckpt2) == [5]
    assert spark.read.parquet(sink2).count() == t.count()
    with pytest.raises(Exception, match="positive"):
        acid_cdf_stream.AcidCdfStreamReader(
            acid_cdf_stream._feed_schema(path),
            {"path": path, "maxbytespertrigger": "0"},
        )


def test_cdf_source_restart_from_checkpoint_zero_duplicates(
    spark, sf_dir, tmp_path
):
    """Exactly-once across restarts rides Spark's offset checkpoint: the
    first run consumes the whole feed; after NEW commits, a second run
    from the SAME checkpoint appends only the new commits' deltas — zero
    duplicates; a third run with nothing new appends nothing."""
    from iot_data_pipeline_spark.sources import acid_table

    path, t = _cdf_stream_table(spark, sf_dir, tmp_path)
    ckpt = str(tmp_path / "ckpt")
    sink = str(tmp_path / "sink")
    first = _consume(spark, path, ckpt, "", sink_dir=sink).collect()
    n_del = t.filter("o_orderkey % 5 = 0").count()
    assert len(first) == t.count() + n_del  # all inserts + delete images
    head1 = acid_table.head(path)
    # new commits: an append and a journaled delete
    acid_table.append(
        t.limit(100).withColumn(
            "o_orderkey", F.col("o_orderkey") + 1_000_000
        ),
        path,
        1,
    )
    acid_table.delete(spark, path, "o_orderkey >= 1000050", cdc=True)
    run2 = _consume(spark, path, ckpt, "", sink_dir=sink)
    got2 = [
        r for r in run2.collect() if r["commit_version"] > head1
    ]
    # the sink accumulates; everything beyond run1 is exactly the new
    # commits' deltas — and nothing at or below head1 was re-emitted
    assert run2.count() == len(first) + len(got2)
    n_new_del = sum(1 for r in got2 if r["change_type"] == "delete")
    assert sum(1 for r in got2 if r["change_type"] == "insert") == 100
    assert n_new_del > 0
    # nothing new: third run appends zero rows
    run3 = _consume(spark, path, ckpt, "", sink_dir=sink)
    assert run3.count() == run2.count()


def test_cdf_source_accumulated_feed_equals_batch_journal(
    spark, sf_dir, tmp_path
):
    """The streamed feed (from startingVersion -1) row-multiset-equals the
    batch journal feed over (-inf, head] — i.e. journal (0, head] plus
    the create commit's rows as inserts at commit_version 0."""
    from iot_data_pipeline_spark.sources import acid_table

    path, t = _cdf_stream_table(spark, sf_dir, tmp_path)
    streamed = _consume(
        spark, path, str(tmp_path / "ck2"), "cdf_eq"
    )
    head = acid_table.head(path)
    batch = acid_table.table_changes_journal(spark, path, 0, head)
    v0 = acid_table.snapshot(spark, path, version=0).select(
        "*",
        F.lit("insert").alias("change_type"),
        F.lit(0).cast("bigint").alias("commit_version"),
    )
    expected = batch.unionByName(v0).select(*streamed.columns)
    assert streamed.count() == expected.count()
    assert streamed.exceptAll(expected).count() == 0
    assert expected.exceptAll(streamed).count() == 0


def test_cdf_source_curated_errors(spark, sf_dir, tmp_path):
    """An unjournaled delete/merge in the range and a vacuumed journal
    both surface the curated errors, never a silent skip or a raw
    path-not-found."""
    import pytest as _pytest

    from iot_data_pipeline_spark.sources import acid_cdf_stream, acid_table

    path, t = _cdf_stream_table(spark, sf_dir, tmp_path)
    acid_table.delete(spark, path, "o_orderkey % 7 = 0")  # NOT journaled
    acid_cdf_stream.register(spark)
    reader = acid_cdf_stream.AcidCdfStreamReader(
        acid_cdf_stream._feed_schema(path), {"path": path}
    )
    with _pytest.raises(ValueError, match="without cdc=True"):
        reader.partitions(
            {"version": -1}, {"version": acid_table.head(path)}
        )
    # a widened feed file fails loudly at read (restart to adopt schema)
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.datasource import InputPartition

    wide = str(tmp_path / "wide.parquet")
    pq.write_table(
        pa.table(
            {
                "o_orderkey": pa.array([1], pa.int64()),
                "o_orderstatus": pa.array(["O"]),
                "o_totalprice": pa.array([1.0]),
                "surprise": pa.array([1]),
            }
        ),
        wide,
    )
    part = InputPartition(
        {
            "file": wide,
            "change_type": "insert",
            "commit_version": 99,
            "schema_json": acid_cdf_stream._feed_schema(path).json(),
        }
    )
    with _pytest.raises(ValueError, match="widened after"):
        list(reader.read(part))


def test_cdf_source_lagging_listing_fails_retryably_never_skips(
    spark, sf_dir, tmp_path
):
    """A commit hidden INSIDE a planned batch range must fail the batch
    loudly (retryable) — silently iterating the visible listing would
    drop the hidden commit's deltas from the feed forever (offsets
    advance past them)."""
    import pytest as _pytest

    from iot_data_pipeline_spark.sources import acid_cdf_stream, acid_table

    path, t = _cdf_stream_table(spark, sf_dir, tmp_path)
    head = acid_table.head(path)
    reader = acid_cdf_stream.AcidCdfStreamReader(
        acid_cdf_stream._feed_schema(path), {"path": path}
    )
    # end beyond the visible head simulates a listing that regressed
    # after latestOffset resolved it
    with _pytest.raises(RuntimeError, match="not visible"):
        reader.partitions({"version": -1}, {"version": head + 2})
    # sane range still plans
    assert reader.partitions({"version": -1}, {"version": head})


def _refused_commit(spark, path, t, kind):
    """Commit onto the _cdf_stream_table at ``path`` what the change
    feeds refuse."""
    from iot_data_pipeline_spark.sources import acid_table

    if kind == "unjournaled-delete":
        acid_table.delete(spark, path, "o_orderkey % 3 = 0")
    elif kind == "restore":
        acid_table.restore(path, 1)
    elif kind == "rename-column":
        acid_table.rename_column(path, "o_totalprice", "price")
    else:  # the v2 journal leaves the vacuum retention window
        acid_table.compact(spark, path, n_files=1)
        acid_table.append(
            t.limit(10).withColumn(
                "o_orderkey", F.col("o_orderkey") + 1_000_000
            ),
            path,
            1,
        )
        res = acid_table.vacuum(
            path, retain_versions=2, orphan_grace_seconds=0
        )
        assert res["cdc_deleted"] >= 1


@pytest.mark.parametrize(
    "kind",
    ["unjournaled-delete", "restore", "rename-column", "vacuumed-journal"],
)
def test_both_change_feeds_refuse_a_commit_alike(
    spark, sf_dir, tmp_path, kind
):
    """The batch journal feed and the streaming source plan a window
    through one planner, so a commit neither can serve raises the same
    exception, with the same message, from both."""
    from iot_data_pipeline_spark.sources import acid_cdf_stream, acid_table

    path, t = _cdf_stream_table(spark, sf_dir, tmp_path)
    reader = acid_cdf_stream.AcidCdfStreamReader(
        acid_cdf_stream._feed_schema(path), {"path": path}
    )
    _refused_commit(spark, path, t, kind)
    head = acid_table.head(path)
    with pytest.raises(Exception) as batch:
        acid_table.table_changes_journal(spark, path, 1, head)
    with pytest.raises(Exception) as stream:
        reader.partitions({"version": 1}, {"version": head})
    assert batch.type is stream.type is ValueError
    assert str(batch.value) == str(stream.value)


def test_both_change_feeds_refuse_a_hidden_middle_version(
    spark, sf_dir, tmp_path
):
    """A listing that hides a version inside the window (both ends
    visible) fails both feeds retryably; neither silently skips the
    hidden commit's deltas."""
    from iot_data_pipeline_spark.sources import acid_cdf_stream, acid_table

    class HideOneLogStore(acid_table.PosixLinkLogStore):
        hide: set[str] = set()

        def list(self, log_dir: str) -> list[str]:
            return [n for n in super().list(log_dir) if n not in self.hide]

    path, _ = _cdf_stream_table(spark, sf_dir, tmp_path)  # head = 2
    reader = acid_cdf_stream.AcidCdfStreamReader(
        acid_cdf_stream._feed_schema(path), {"path": path}
    )
    store = HideOneLogStore()
    prev = acid_table.set_log_store(store)
    try:
        store.hide = {"00000000000000000001.json"}
        with pytest.raises(RuntimeError, match="not visible"):
            acid_table.table_changes_journal(spark, path, 0, 2)
        with pytest.raises(RuntimeError, match="not visible"):
            reader.partitions({"version": 0}, {"version": 2})
    finally:
        acid_table.set_log_store(prev)


def test_cdf_source_plans_a_batch_from_one_read_per_manifest(
    spark, sf_dir, tmp_path
):
    """Once the reader's rename map is resolved, planning a batch of N
    commits reads exactly N manifests."""
    from iot_data_pipeline_spark.sources import acid_cdf_stream, acid_table

    path, t = _cdf_stream_table(spark, sf_dir, tmp_path)
    acid_table.compact(spark, path, n_files=1)
    acid_table.append(
        t.limit(10).withColumn("o_orderkey", F.col("o_orderkey") + 10**6),
        path,
        1,
    )
    head = acid_table.head(path)  # 4
    reader = acid_cdf_stream.AcidCdfStreamReader(
        acid_cdf_stream._feed_schema(path), {"path": path}
    )
    assert reader.partitions({"version": -1}, {"version": 0})
    acid_table._MANIFEST_READS = 0
    parts = reader.partitions({"version": 0}, {"version": head})
    assert acid_table._MANIFEST_READS == head
    assert {p.value["commit_version"] for p in parts} == {1, 2, 4}


def test_cdf_source_starting_version_skips_earlier_commits(
    spark, sf_dir, tmp_path
):
    """startingVersion=v consumes only (v, head] — the create and any
    commits at or below v never enter the feed."""
    from iot_data_pipeline_spark.sources import acid_cdf_stream

    path, t = _cdf_stream_table(spark, sf_dir, tmp_path)  # head = 2
    acid_cdf_stream.register(spark)
    q = (
        spark.readStream.format("acid_cdf")
        .option("startingVersion", 1)
        .load(path)
        .writeStream.format("memory")
        .queryName("cdf_sv")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ck_sv"))
        .start()
    )
    q.awaitTermination()
    got = spark.table("cdf_sv").collect()
    assert got, "the delete commit's journal must flow"
    assert {r["commit_version"] for r in got} == {2}
    assert all(r["change_type"] == "delete" for r in got)


def test_cdf_latest_offset_propagates_store_faults_never_regresses(
    spark, sf_dir, tmp_path, monkeypatch
):
    """latestOffset must only treat the GENUINE no-table case as nothing
    to consume (ADVICE r14, medium): a torn/lagging-listing RuntimeError
    from _state must PROPAGATE so the trigger retries — swallowing it
    returned an offset below the checkpointed end, Spark committed an
    empty batch at the regressed offset, and the next batch replayed
    already-delivered commits (duplicates in an exactly-once feed)."""
    import pytest as _pytest

    from iot_data_pipeline_spark.sources import acid_cdf_stream, acid_table

    path, t = _cdf_stream_table(spark, sf_dir, tmp_path)
    reader = acid_cdf_stream.AcidCdfStreamReader(
        acid_cdf_stream._feed_schema(path), {"path": path}
    )
    head = acid_table.head(path)
    assert reader.latestOffset() == {"version": head}
    # genuinely-no-table: start sentinel, no error
    empty = acid_cdf_stream.AcidCdfStreamReader(
        acid_cdf_stream._feed_schema(path), {"path": str(tmp_path / "no")}
    )
    assert empty.latestOffset() == {"version": -1}
    # torn listing (non-empty log, _state raises retryably): propagate
    def torn_state(p, version=None):
        raise RuntimeError(f"gap in commit log listing of {p}: retry")

    monkeypatch.setattr(acid_table, "_state", torn_state)
    with _pytest.raises(RuntimeError, match="gap in commit log"):
        reader.latestOffset()
    monkeypatch.undo()
    # belt-and-braces: a head below startingVersion is clamped up
    late = acid_cdf_stream.AcidCdfStreamReader(
        acid_cdf_stream._feed_schema(path),
        {"path": path, "startingversion": str(head + 5)},
    )
    assert late.latestOffset() == {"version": head + 5}


def test_acid_replicate_incremental_and_no_reapply(spark, sf_dir, tmp_path):
    """CDC replication pins: run 2 applies ONLY the new commits (the
    target's commit count grows by exactly the net-effect applications),
    and a third run from the same checkpoint applies NOTHING (no new
    target commit, snapshot unchanged) — exactly-once rides the source's
    offset checkpoint; net-effect application is idempotent by design."""
    from iot_data_pipeline_spark.sources import acid_cdf_stream, acid_table
    from iot_data_pipeline_spark.streaming import streams

    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    ).limit(400)
    src = str(tmp_path / "src")
    tgt = str(tmp_path / "tgt")
    acid_table.create(o, src, "o_orderkey", n_files=2)
    acid_cdf_stream.register(spark)
    ckpt = str(tmp_path / "ckpt")
    apply = streams._replicate_epoch(spark, tgt, "o_orderkey")

    def run():
        q = (
            spark.readStream.format("acid_cdf")
            .load(src)
            .writeStream.foreachBatch(apply)
            .trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.awaitTermination()

    run()
    n1 = acid_table.snapshot(spark, tgt).count()
    assert n1 == 400
    h1 = acid_table.head(tgt)
    acid_table.delete(spark, src, "o_orderkey % 7 = 0", cdc=True)
    run()
    want = o.filter("o_orderkey % 7 <> 0").count()
    assert acid_table.snapshot(spark, tgt).count() == want
    h2 = acid_table.head(tgt)
    assert h2 > h1
    # third run: nothing new — no commit, snapshot identical
    run()
    assert acid_table.head(tgt) == h2
    assert acid_table.snapshot(spark, tgt).count() == want


def test_derived_state_partitions_walks_nested_staging(spark, tmp_path, monkeypatch):
    """The state-partition count sizes every parquet file under the staged
    dir, nested ones included; non-parquet files do not count."""
    monkeypatch.setattr(streams, "_STATE_PARTITION_BYTES", 1000)
    (tmp_path / "a" / "b").mkdir(parents=True)
    (tmp_path / "top.parquet").write_bytes(b"x" * 900)
    (tmp_path / "a" / "mid.parquet").write_bytes(b"x" * 800)
    (tmp_path / "a" / "b" / "deep.parquet").write_bytes(b"x" * 800)
    (tmp_path / "a" / "b" / "deep.parquet.crc").write_bytes(b"x" * 5000)
    # 2500 parquet bytes at 1000 per partition, under the ambient cap of 4
    assert int(spark.conf.get("spark.sql.shuffle.partitions")) >= 3
    assert streams._derived_state_partitions(spark, str(tmp_path)) == "3"


def test_derived_state_partitions_rejects_empty_staging(spark, tmp_path):
    """A staged dir with no parquet bytes (empty, or missing) raises instead
    of silently sizing the state at the floor."""
    (tmp_path / "empty").mkdir()
    (tmp_path / "empty" / "_SUCCESS").write_bytes(b"")
    for d in (tmp_path / "empty", tmp_path / "missing"):
        with pytest.raises(ValueError, match="no parquet bytes"):
            streams._derived_state_partitions(spark, str(d))

"""Benchmark driver: headline queries at $SPARK_GRAFT_SF_DIR on
local[$SPARK_GRAFT_CPUS]; prints ONE JSON line with per-query seconds.

Each query is forced with a noop-format write (full computation, no driver
collect, no sink I/O) so the number measures the engine, not the harness.
"""

from __future__ import annotations

import json
import os
import sys
import time

_REPO_ROOT = os.path.dirname(os.path.abspath(__file__))
if _REPO_ROOT not in sys.path:
    sys.path.insert(0, _REPO_ROOT)

# Headline set: one representative per operator family, weighted toward the
# shuffle/join/agg-heavy plans that dominate at scale.
HEADLINE = [
    "project_cast_arith",
    "sql_entry_tpch_q3",
    "join_multiway",
    "join_asof_event",
    "agg_groupby_label",
    "win_topk_per_group",
    "sort_limit",
    "udtf_explode",
    "llm_dedup_exact",
    "llm_dedup_near",
    "llm_sim_topk",
    "mm_feature_extract",
    "stream_tumbling_agg",
    "win_sessionize",
    "iot_anomaly",
    "evt_retention",
    "source_iot_sim",
    # r2 breadth: the heaviest §2C plans, so per-round deltas cover the
    # iterative, streaming-join, reshape, and ANSI-arith families too.
    "llm_dedup_clusters",
    "llm_tfidf",
    "stream_stream_join",
    "set_unpivot",
    "fn_try_arith",
    "llm_corpus_pipeline",
    # subquery-decorrelation suite: q18 (IN-over-HAVING) and q21 (stacked
    # semi+anti over the fact table) are the heaviest multi-pass plans.
    "sql_entry_tpch_q18",
    "sql_entry_tpch_q21",
    # r4 scale-shape fixes, tracked so they can't regress: interpolation's
    # reversed running frame (was O(rows²) per partition) and the banded
    # bucket theta join (was per-brand all-pairs).
    "iot_interpolate",
    "join_theta_range",
    # r5: the heaviest Python-decode path (pure-Python baseline JPEG inside
    # mapInPandas), registered this round — tracked so codec throughput
    # can't silently regress.
    "mm_decode_jpeg",
    # r5 continuation: the 6-way snowflake (broadcast-chain dims + one big
    # fact-fact shuffle pair) is the widest join plan in the registry.
    "sql_entry_tpch_q5",
    # r6: the derived-partsupp profit query — the fact joined through a
    # two-column-keyed derived dimension (the shape TPC-H Q9 exists for).
    "sql_entry_tpch_q9",
    # r7: the two deepest ANN plans (round-6 verdict item 1) — IVF+PQ ADC
    # refinement and the graph beam search — tracked so ANN regressions
    # show up round-over-round.
    "llm_sim_pq",
    "llm_sim_hnsw",
    # r7 continuation: the runtime Bloom prefilter join — the explicit
    # shuffle-reduction pattern, tracked so the bitset-build constant and
    # the prefiltered join can't silently regress.
    "join_bloom_prefilter",
    # r11: the two new heavyweight shapes — the iterative driver-loop BPE
    # trainer (24 pair-count rounds + argmax collects; tracked so the
    # per-round constant can't creep) and the ACID MERGE write path
    # (key-range rewrite + manifest commit; tracked so the stats-prune and
    # two-phase commit overhead stay bounded).
    "llm_bpe_train",
    "acid_merge_snapshot",
    # r12: the production BPE path (one distributed word count + bounded
    # vocab collect + in-memory merge loop to exhaustion; tracked so the
    # collect and loop constants can't creep) and the widening-append
    # lifecycle (create -> evolved append -> OPTIMIZE through the recorded
    # schema; tracked so schema-threading overhead stays bounded).
    "llm_bpe_train_full",
    "acid_schema_evolution",
    # r13: the two r12 curation heavies get permanent bands (verdict item
    # 4) — the NB classifier's shared token frame + weight join, and the
    # bigram-LM perplexity scorer whose build already caught one measured
    # 5x regression-class bug (the lambda-CSE O(tokens²)); plus the
    # medallion capstone (bronze exactly-once commits -> CDF-incremental
    # silver fold), tracked so the per-epoch fold overhead can't creep.
    "llm_quality_classifier",
    "llm_lm_perplexity",
    "stream_acid_cdf_agg",
    # r15: the two new heaviest shapes — ExactSubstr dedup (the
    # Ω(corpus-positions) digest shuffle pair + per-doc islands merge;
    # tracked so the gram-explosion constant can't creep) and the
    # full-clause MERGE whose not-matched-by-source branch rewrites the
    # whole table (the unpruned write path, tracked separately from the
    # pruned acid_merge_snapshot).
    "llm_substring_dedup",
    "acid_merge_clauses",
    # r16: the declared-partition write path (range+sort clustering, pv
    # run-splitting Arrow writer, pv-first pruning reads — tracked so the
    # per-file split constant can't creep) and the byte-level BPE trainer
    # (hex-byte vocabulary is ~3x the char-level symbol stream; tracked
    # like llm_bpe_train so the per-round constant can't creep).
    "acid_partition_pruning",
    "llm_bpe_bytelevel",
]

# Queries whose single-rep time exceeds ~1.5 s at sf0.1 get a third rep:
# one contended rep can no longer dominate the committed number (round-5
# verdict item 5). Cheap queries stay at 2 reps to keep the suite short.
BEST_OF_3 = {
    "llm_dedup_clusters",
    "llm_corpus_pipeline",
    "mm_decode_jpeg",
    "stream_stream_join",
    "llm_sim_hnsw",
    "join_bloom_prefilter",
    "llm_bpe_train",
    "acid_merge_snapshot",
    "llm_lm_perplexity",
    "stream_acid_cdf_agg",
    "llm_substring_dedup",
    "acid_merge_clauses",
    "acid_partition_pruning",
    "llm_bpe_bytelevel",
}


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    sf = float(os.path.basename(sf_dir.rstrip("/")).removeprefix("sf") or "0.1")

    import __spark_entry__ as entrymod
    from iot_data_pipeline_spark import harness

    spark = harness.session(cpus, **{"spark.driver.memory": "16g"})

    qs = entrymod.queries()
    # Warmup at the smallest SF: spins up the Python-worker pool, compiles
    # codegen templates, and primes the file-listing caches so the measured
    # numbers are engine throughput, not JVM cold-start.
    warm_dir = "/root/testdata/sf0.001"
    for name in HEADLINE:
        try:
            harness.timed_noop(qs[name], spark, warm_dir)
        except Exception:
            pass

    # Best-of-2 per query: the host shows heavy transient I/O contention
    # (identical runs vary up to 4×); the faster run is the engine's number.
    # Every rep starts from a reset: it pays its own cache fill and trains
    # its own BPE rules and codebook, never timing a memo lookup.
    timings: dict[str, float] = {}
    for name in HEADLINE:
        best = None
        for _ in range(3 if name in BEST_OF_3 else 2):
            harness.reset_process_state()
            secs = harness.timed_noop(qs[name], spark, sf_dir)
            best = secs if best is None or secs < best else best
        timings[name] = round(best, 3)
    harness.reset_process_state()

    etl_mb_per_s = _etl_throughput(spark, sf_dir)

    total = round(sum(timings.values()), 3)
    out = {
        "metric": "headline_suite_wall_seconds",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "etl_mb_per_s": etl_mb_per_s,
    }
    out.update(_band_check(timings, etl_mb_per_s, sf))
    print(json.dumps(out))
    spark.stop()


def _band_check(timings: dict, etl_mb_per_s: float, sf: float) -> dict:
    """Mechanical per-query regression gate (round-9 verdict item 6):
    BENCH_BANDS.json commits a quiet-host reference wall per query;
    a query regresses when its best-of-N wall exceeds ref*1.5 + 0.3 s —
    generous enough for run-to-run jitter, tight enough that a 2x slowdown
    of any multi-second query always trips. ``host_contended`` (measured
    ETL below HALF the reference throughput — identical code has shown
    uniform ~2x walls under transient host I/O contention, NOTES_r09) is
    reported alongside so a contended run is adjudicated by rerun, not
    hand-waved; band_ok stays strict either way. Bands only apply at the
    reference scale (sf0.1)."""
    bands_path = os.path.join(_REPO_ROOT, "BENCH_BANDS.json")
    if abs(sf - 0.1) > 1e-9 or not os.path.exists(bands_path):
        return {}
    with open(bands_path) as fh:
        bands = json.load(fh)
    refs = bands.get("ref", {})
    regressions = {}
    for name, secs in timings.items():
        ref = refs.get(name)
        if ref is not None and secs > ref * 1.5 + 0.3:
            regressions[name] = {"ref": ref, "got": secs}
    etl_ref = bands.get("etl_ref_mb_per_s")
    contended = bool(etl_ref) and etl_mb_per_s < 0.5 * etl_ref
    return {
        "regressions": regressions,
        "band_ok": not regressions,
        "host_contended": contended,
    }


def _etl_throughput(spark, sf_dir: str) -> float:
    """Reference-comparable metric: the reference's only published number is
    ~33-43 MB/s for its CSV→Parquet ETL on local[*] (BASELINE.md). Stage an
    IoT-23-shaped CSV from the events table, then time the engine's
    schema-enforced scan → normalize → quirk transforms → parquet write."""
    import glob
    import tempfile

    from pyspark.sql import functions as F

    from iot_data_pipeline_spark.functions.transforms import (
        normalize_columns,
        transform_iot,
    )
    from iot_data_pipeline_spark.sources.readers import IOT_SCHEMA, read_iot_csv
    from iot_data_pipeline_spark.sources.readers import load_table

    e = load_table(spark, sf_dir, "events")
    # expand events into 22-column Zeek-shaped flow records (~10x rows).
    rep = spark.range(10).select(F.col("id").alias("rep"))
    raw = e.crossJoin(rep).select(
        F.concat(F.lit("C"), F.col("event_id"), F.lit("x"), F.col("rep")).alias("uid"),
        F.concat(F.lit("10.0."), (F.col("user_id") % 256).cast("string"), F.lit(".1")).alias("id.orig_h"),
        (F.col("event_id") % 65535).cast("int").alias("id.orig_p"),
        F.lit("10.1.0.2").alias("id.resp_h"),
        F.lit(443).cast("int").alias("id.resp_p"),
        F.lit("tcp").alias("proto"),
        F.lit("http").alias("service"),
        F.concat(F.lit("0 days 00:00:"), F.lpad((F.col("event_id") % 60).cast("string"), 2, "0"), F.lit("."), F.lpad(((F.col("event_id") * 7919) % 1000000).cast("string"), 6, "0")).alias("duration"),
        (F.col("event_id") % 100000).alias("orig_bytes"),
        (F.col("event_id") % 50000).alias("resp_bytes"),
        F.lit("SF").alias("conn_state"),
        F.lit("T").alias("local_orig"),
        F.lit("-").alias("local_resp"),
        F.lit(0).cast("long").alias("missed_bytes"),
        F.lit("ShADad").alias("history"),
        (F.col("event_id") % 100).alias("orig_pkts"),
        (F.col("event_id") % 10000).alias("orig_ip_bytes"),
        (F.col("event_id") % 90).alias("resp_pkts"),
        (F.col("event_id") % 9000).alias("resp_ip_bytes"),
        F.lit("-").alias("tunnel_parents"),
        F.when(F.col("event_id") % 3 == 0, "Malicious").otherwise("Benign").alias("label"),
        F.lit("PartOfAHorizontalPortScan").alias("detailed-label"),
    )
    csv_dir = tempfile.mkdtemp(prefix="etl_csv_") + "/flows"
    # 32 files so the timed scan parallelizes across all cores even though
    # the staged corpus is only ~150 MB (one 128 MB split otherwise).
    raw.repartition(32).write.mode("overwrite").option("header", True).csv(csv_dir)
    n_bytes = sum(
        os.path.getsize(p) for p in glob.glob(csv_dir + "/*.csv")
    )
    # Best of 3: the pipeline is deterministic, so the fastest run is the
    # engine's steady-state throughput; slower runs reflect transient I/O
    # contention on the host, not the engine. This is the one number
    # compared against the reference baseline, so it gets an extra rep
    # (~3 s) that the 26 per-query timings don't.
    import shutil

    best = None
    outs = []
    for _ in range(3):
        out_root = tempfile.mkdtemp(prefix="etl_out_")
        outs.append(out_root)
        t0 = time.time()
        df = read_iot_csv(spark, csv_dir, schema=IOT_SCHEMA)
        transform_iot(normalize_columns(df)).write.mode("overwrite").parquet(
            out_root + "/parquet"
        )
        secs = time.time() - t0
        best = secs if best is None or secs < best else best
    for d in outs + [os.path.dirname(csv_dir)]:
        shutil.rmtree(d, ignore_errors=True)
    return round(n_bytes / 1e6 / best, 1)


if __name__ == "__main__":
    main()

"""Per-query cache tracking.

Operators that cache an intermediate frame (win_ntile_dist's ranked frame,
graph_pagerank's out_edges, the LLM shingle frames) register it here so
whoever runs queries can evict exactly what a query pinned once its result
is materialized: verify_local calls :func:`evict_tracked` between queries,
and ``harness.reset_process_state`` calls it before every timed rep of
bench.py, the pressure probe and the harness CLI. This replaces a global
``spark.catalog.clearCache()`` sweep (round-3 ADVICE:
repeated registry sweeps in one session otherwise accumulate cached
relations and perturb other queries' plans).

The registry is deliberately process-local and append-only between evicts:
``queries()`` callables stay lazy, so an operator can never unpersist its
own cache — the harness calls :func:`evict_tracked` after collecting.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel

_TRACKED: list[DataFrame] = []


def tracked_cache(df: DataFrame, level: StorageLevel | None = None) -> DataFrame:
    """``df.cache()`` (or ``persist(level)``) that the harness can later evict.

    Pass ``StorageLevel.DISK_ONLY`` for CORPUS-SCALE intermediates (e.g. the
    dedup family's shingle frames): the default MEMORY_AND_DISK level pins
    in-memory blocks inside the protected storage region
    (``spark.memory.storageFraction``), which at memory-starved executor
    sizings starves the same stage's hash aggregations into
    AGGREGATE_OUT_OF_MEMORY (observed by the r10 LLM-family pressure probe
    at 1g-heap/4-slot on 625k docs). A corpus-scale intermediate could never
    fit executor memory at 100 TB anyway — DISK_ONLY is its honest level;
    dimension-scale frames keep the default. The distinction is REUSE
    CLASS, not just size: a scanned-a-few-times-then-discarded INTERMEDIATE
    (the shingle frames) belongs on disk, while a hot INDEX an operator
    re-probes many times per run (the HNSW graph cache inside the
    beam-search loop) legitimately stays memory-first — at production scale
    that role is a distributed in-memory ANN serving tier, not an
    executor-storage pin."""
    cached = df.persist(level) if level is not None else df.cache()
    _TRACKED.append(cached)
    return cached


def _session_stopped(df: DataFrame) -> bool:
    """True only when the owning session is PROVABLY stopped. If the
    liveness introspection itself fails (private-API drift, Spark
    Connect), return False so the caller re-raises the original
    unpersist error instead of silently skipping eviction."""
    try:
        sc = df.sparkSession.sparkContext
        return sc._jsc is None or sc._jsc.sc().isStopped()
    except Exception:
        return False


def evict_tracked() -> int:
    """Unpersist every tracked frame; returns how many were evicted.

    Only the stopped-session case is swallowed (nothing left to evict);
    any other unpersist failure propagates — a silently pinned frame
    would perturb the next query's plan in bench/verify (ADVICE r4).
    The liveness check runs AFTER a failed unpersist, not before, so a
    session stopping mid-sweep is still treated as benign rather than
    racing the check."""
    n = 0
    while _TRACKED:
        df = _TRACKED.pop()
        try:
            df.unpersist()
            n += 1
        except Exception:
            if _session_stopped(df):
                continue
            raise
    return n


def release(df: DataFrame) -> None:
    """Early-release a tracked frame: unpersist it AND drop it from the
    tracker, so a later :func:`evict_tracked` sweep neither re-unpersists
    it (harmless no-op) nor counts it in its returned eviction total — the
    count is what the harnesses log, and an operator that already released
    its corpus-scale intermediate (llm_dedup_clusters' shingle cache)
    should not inflate it (r10 ADVICE). Releasing a frame that was never
    tracked is an error: it means the caller bypassed tracked_cache."""
    for i, tracked in enumerate(_TRACKED):
        if tracked is df:
            del _TRACKED[i]
            df.unpersist()
            return
    raise ValueError("release() called on a frame not registered via tracked_cache")

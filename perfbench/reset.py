"""Process state the benchmark resets before every op.

The package keeps module-level memos. A *result* memo holds something an op
computes (a cached frame, trained rules, a codebook, a filter); serving it to
a later op would time a dict lookup instead of the work, so it is cleared
before every op. A *fixture* memo holds staged input that every user of the
engine pays for once per process; it may persist, and is filled during the
warm-up pass.

Other process state the package keeps holds no op's result; ``NOT_MEMOS``
names it with the reason, and the reset leaves it alone.

``perfbench/tests/test_reset.py`` scans the package for module-level memos,
rebound globals and state kept on objects, and fails on any that neither
``MEMOS`` nor ``NOT_MEMOS`` classifies.
"""

from __future__ import annotations

import importlib

RESULT = "result"
FIXTURE = "fixture"

# (module, name) -> class
MEMOS: dict[tuple[str, str], str] = {
    ("iot_data_pipeline_spark.cache_tracker", "_TRACKED"): RESULT,
    ("iot_data_pipeline_spark.operators.llm", "_BPE_RULES_MEMO"): RESULT,
    ("iot_data_pipeline_spark.operators.llm", "_KMEANS_CODEBOOK_MEMO"): RESULT,
    ("iot_data_pipeline_spark.sources.acid_table", "_BLOOM_CACHE"): RESULT,
    ("iot_data_pipeline_spark.sources.acid_table", "_PARTITION_TOKEN_MEMO"): RESULT,
    ("iot_data_pipeline_spark.streaming.streams", "_STAGED_DIRS"): FIXTURE,
}

# (module, name) -> why it is not a memo; ``function:target`` names state
# a function keeps on an object (see test_reset.py)
NOT_MEMOS: dict[tuple[str, str], str] = {
    ("iot_data_pipeline_spark.sources.acid_table", "_LOG_STORE"): (
        "configuration: the commit-log storage backend that set_log_store swaps"
    ),
    ("iot_data_pipeline_spark.sources.acid_table", "_MANIFEST_READS"): (
        "a counter of manifest reads for tests; no op reads it"
    ),
    (
        "iot_data_pipeline_spark.session",
        "_ship_package_to_workers:setattr(sc)",
    ): "marks a SparkContext whose Python workers already have the package",
    (
        "iot_data_pipeline_spark.sources.acid_cdf_stream",
        "register:spark._acid_cdf_registered",
    ): "marks a session where the change-feed data source is registered",
    (
        "iot_data_pipeline_spark.operators.multimodal",
        "_encode_jpeg:bw.out",
    ): "the output buffer of a bit writer that lives for one call",
}


def reset_process_state() -> None:
    """Clear every result memo. ``_TRACKED`` holds persisted frames, so it
    goes through ``evict_tracked`` to unpersist them; the rest are plain
    containers."""
    from iot_data_pipeline_spark.cache_tracker import evict_tracked

    evict_tracked()
    for (module, name), kind in MEMOS.items():
        if kind == RESULT and name != "_TRACKED":
            getattr(importlib.import_module(module), name).clear()

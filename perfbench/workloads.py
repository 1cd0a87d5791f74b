"""The benchmark's workloads: a fixed op list per pass.

Every op but ``etl_ingest_csv`` is a registry id of
``__spark_entry__.queries()``; ``etl_ingest_csv`` is the reference's own
CSV -> Parquet job through ``Engine.ingest_csv``. The seed permutes the op
order of each pass; the lists themselves never change.

The lists are trimmed so that a run (set-up, one cold checked pass, then
several timed passes) takes about a minute on a 4-core host: every op is
overhead-bound at this input size, so a heavy op costs the same seconds
whatever the data. README.md names the ops and the workload left out, and why.
"""

from __future__ import annotations

ETL_OP = "etl_ingest_csv"

WORKLOADS: dict[str, dict] = {
    "llm_curation": {
        "why": (
            "LLM curation operators: eager driver-side jobs and Arrow Python"
            " workers, led by the HNSW graph build"
        ),
        "ops": [
            "llm_sim_hnsw",
            "llm_dedup_exact",
            "llm_tfidf",
            "llm_sim_topk",
            "mm_feature_extract",
        ],
    },
    "ingest": {
        "why": (
            "the write path: CSV ETL, availableNow streams and ACID MERGE"
            " through readers, transforms, sinks, streams and acid_table"
        ),
        "ops": [
            ETL_OP,
            "stream_tumbling_agg",
            "stream_acid_cdf_agg",
        ],
    },
}

# Expected columns of the ETL output, written from the reference's output
# DDL (FIXTURES.md section 2), not from the engine's code.
ETL_COLUMNS = [
    "uid",
    "id_orig_h",
    "id_orig_p",
    "id_resp_h",
    "id_resp_p",
    "proto",
    "service",
    "orig_bytes",
    "resp_bytes",
    "conn_state",
    "missed_bytes",
    "history",
    "orig_pkts",
    "orig_ip_bytes",
    "resp_pkts",
    "resp_ip_bytes",
    "tunnel_parents",
    "label",
    "detailed_label",
    "duration_sec",
    "local_orig_bool",
    "local_resp_bool",
]

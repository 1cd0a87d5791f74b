"""iot_data_pipeline_spark — a PySpark-native analytics engine.

A brand-new engine providing the query and data-processing capabilities of the
reference pipeline ``0x22B9/iot_data_pipeline`` (see ``SURVEY.md``), built
Spark-first: DataFrame / Spark SQL / Catalyst / Structured Streaming. The
physical strategy (join selection, partial aggregation, pushdown, AQE re-plan)
is delegated to Catalyst; this package declares logical plans and adds the
operators Spark lacks (as-of joins, MinHash dedup, embedding similarity,
multimodal plumbing) as compositions of built-in operators or Arrow-batched
Pandas UDFs.

Layout:
    session     — SparkSession builder (config passthrough, AQE, UTC),
                  prepare() for outside sessions, scoped_conf().
    harness     — local session, memo reset and timed noop run for scripts.
    sources     — readers (CSV w/ IoT-23 contract, parquet tables) and sinks.
    functions   — scalar-expression libraries (IoT transforms, text, vectors).
    operators   — relational + LLM-data operators as (spark, sf_dir) queries.
    streaming   — Structured Streaming operators (windows, watermark, dedup).
    plans       — plan-inspection helpers used by tests/bench.
"""

__version__ = "0.1.0"

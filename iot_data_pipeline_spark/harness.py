"""The one harness for scripts that run registered queries: a local
session, a reset of the process memos, and a timed noop run.

As a command, run from the repository root (it imports
``__spark_entry__``) on ``local[$SPARK_GRAFT_CPUS]`` (default 32)::

    python -m iot_data_pipeline_spark.harness plan SF_DIR OUT_DIR QUERY...
    python -m iot_data_pipeline_spark.harness time SF_DIR REPS QUERY...

``plan`` writes each query's ``explain("formatted")`` to
``OUT_DIR/<query>.txt``. ``time`` runs each query once untimed, then REPS
timed noop runs, each after :func:`reset_process_state`, and prints the
best and every run.
"""

from __future__ import annotations

import argparse
import os
import time
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from iot_data_pipeline_spark.cache_tracker import evict_tracked
from iot_data_pipeline_spark.operators import llm
from iot_data_pipeline_spark.session import build_session
from iot_data_pipeline_spark.sources import acid_table

Query = Callable[[SparkSession, str], DataFrame]


def session(cpus: int | str, **conf: str) -> SparkSession:
    """The engine session (``session.build_session``) on ``local[cpus]``,
    with one shuffle partition per core, the UI off and ERROR logging.
    ``conf`` holds Spark conf names, passed as ``**{"spark.x": "v"}``; they
    win over these settings."""
    spark = build_session(
        master=f"local[{cpus}]",
        conf={
            "spark.sql.shuffle.partitions": str(cpus),
            "spark.ui.enabled": "false",
            **conf,
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def reset_process_state() -> None:
    """Clear every memo that holds a query's result, so the next run
    computes it rather than timing a lookup: tracked cached frames
    (unpersisted), BPE rules, k-means codebooks, Bloom filters and
    partition tokens. The staged stream replay dirs stay; they are input
    that every user of the engine stages once per process.

    Call it before every timed rep. A sweep that checks results may reuse
    memos across queries; it calls ``evict_tracked`` only."""
    evict_tracked()
    for memo in (
        llm._BPE_RULES_MEMO,
        llm._KMEANS_CODEBOOK_MEMO,
        acid_table._BLOOM_CACHE,
        acid_table._PARTITION_TOKEN_MEMO,
    ):
        memo.clear()


def timed_noop(fn: Query, spark: SparkSession, sf_dir: str) -> float:
    """Seconds to build ``fn(spark, sf_dir)`` and run it to a noop sink:
    the full computation, with no collect to the driver and no sink I/O."""
    t0 = time.perf_counter()
    fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def _plan(spark: SparkSession, qs: dict[str, Query], args) -> None:
    os.makedirs(args.out_dir, exist_ok=True)
    for name in args.queries:
        reset_process_state()
        df = qs[name](spark, args.sf_dir)
        txt = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(args.out_dir, f"{name}.txt")
        with open(path, "w") as fh:
            fh.write(txt)
        print(f"wrote {path} ({len(txt.splitlines())} lines)")


def _time(spark: SparkSession, qs: dict[str, Query], args) -> None:
    for name in args.queries:
        timed_noop(qs[name], spark, args.sf_dir)  # warm-up
        walls = []
        for _ in range(args.reps):
            reset_process_state()
            walls.append(timed_noop(qs[name], spark, args.sf_dir))
        runs = " ".join(f"{w:.3f}" for w in walls)
        print(f"{name}: best={min(walls):.3f}  runs=[{runs}]")


def main() -> None:
    ap = argparse.ArgumentParser(prog="python -m iot_data_pipeline_spark.harness")
    modes = ap.add_subparsers(dest="mode", required=True)
    plan = modes.add_parser("plan", help="dump formatted physical plans")
    plan.add_argument("sf_dir")
    plan.add_argument("out_dir")
    plan.add_argument("queries", nargs="+")
    plan.set_defaults(run=_plan)
    timing = modes.add_parser("time", help="best of REPS timed noop runs")
    timing.add_argument("sf_dir")
    timing.add_argument("reps", type=int)
    timing.add_argument("queries", nargs="+")
    timing.set_defaults(run=_time)
    args = ap.parse_args()

    import __spark_entry__ as entrymod

    spark = session(
        os.environ.get("SPARK_GRAFT_CPUS", "32"), **{"spark.driver.memory": "16g"}
    )
    try:
        args.run(spark, entrymod.queries(), args)
    finally:
        spark.stop()


if __name__ == "__main__":
    main()

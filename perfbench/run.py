"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 16 --trace 0

Run from the root of a checkout. The run:

1. makes the seeded inputs and DuckDB's oracle answers in a child process
   (``generate_s``, not gated);
2. starts one SparkSession on ``local[nproc]`` (``session_start_s``);
3. runs two warm-up passes, the first of which checks every op's output
   against its oracle (``warm_pass_s``; ``setup_s`` = session start +
   warm-up);
4. runs timed passes, each op once per pass in a seeded order, until
   ``--seconds`` have gone by and at least two passes have run:
   ``pass_s``, ``op_geomean_s``;
5. with ``--trace 1``, restarts the SparkContext in the same JVM with the
   event log on, runs timed passes again for ``--seconds`` and prints the
   per-layer numbers read from the log instead.

A single closed-loop client: each op starts when the previous one ended.
Everything the run writes stays under ``.perfbench_work/`` (removed at the
end) and ``perfbench_results/`` (one JSON file per run, with the host state
and per-op detail) in the checkout.
"""

from __future__ import annotations

import argparse
import contextlib
import glob
import json
import math
import os
import random
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import host  # noqa: E402
from perfbench.workloads import ETL_COLUMNS, ETL_OP, WORKLOADS  # noqa: E402

# The ETL op still gets faster on its third run in a fresh JVM, so the
# timed passes start after the checked pass and one more warm-up pass.
MIN_PASSES = 2

END_TO_END_UNITS = {
    "pass_s": "s",
    "op_geomean_s": "s",
    "setup_s": "s",
    "peak_rss_mb": "MB",
}
# name -> (unit, OpCounters field, scale to the unit); summed per pass
_COUNTER_METRICS = {
    "build_jobs": ("count", "build_jobs", 1),
    "jobs": ("count", "jobs", 1),
    "stages": ("count", "stages", 1),
    "tasks": ("count", "tasks", 1),
    "untagged_jobs": ("count", "untagged_jobs", 1),
    "executor_run_s": ("s", "executor_run_ms", 1e-3),
    "executor_cpu_s": ("s", "executor_cpu_ns", 1e-9),
    "jvm_gc_s": ("s", "jvm_gc_ms", 1e-3),
    "shuffle_write_mb": ("MB", "shuffle_write_bytes", 1e-6),
    "shuffle_read_mb": ("MB", "shuffle_read_bytes", 1e-6),
    "fetch_wait_s": ("s", "fetch_wait_ms", 1e-3),
    "spill_mb": ("MB", "spill_bytes", 1e-6),
    "python_run_s": ("s", "python_run_ms", 1e-3),
    "python_start_s": ("s", "python_start_ms", 1e-3),
    "python_sent_mb": ("MB", "python_sent_bytes", 1e-6),
    "python_returned_mb": ("MB", "python_returned_bytes", 1e-6),
    "input_mb": ("MB", "input_bytes", 1e-6),
    "output_mb": ("MB", "output_bytes", 1e-6),
    "stream_batches": ("count", "stream_batches", 1),
    "stream_noop_batches": ("count", "stream_noop_batches", 1),
    "stream_add_batch_ms": ("ms", "stream_add_batch_ms", 1),
    "stream_planning_ms": ("ms", "stream_planning_ms", 1),
    "stream_commit_ms": ("ms", "stream_commit_ms", 1),
    "state_rows": ("count", "state_rows", 1),
    "state_commit_ms": ("ms", "state_commit_ms", 1),
}
PER_LAYER_UNITS = {
    "build_s": "s",
    "exec_s": "s",
    **{name: unit for name, (unit, _f, _k) in _COUNTER_METRICS.items()},
    "core_busy_share": "ratio",
    "output_bytes_per_input_byte": "ratio",
    "stream_useful_batch_ratio": "ratio",
    "session_start_s": "s",
    "warm_pass_s": "s",
    "generate_s": "s",
    "trace_overhead_s": "s",
    "etl_mb_per_s": "MB/s",
    "error_rate": "ratio",
}


def _driver_memory() -> str:
    """A quarter of the host's memory, between 1 and 4 GiB: the machine is
    shared, and no op at this input size needs more."""
    gib = host.mem_total_bytes() // 4 // 2**30
    return f"{max(1, min(4, gib))}g"


def _session(cores: int, memory: str, work: str, event_log: str | None):
    from pyspark.sql import SparkSession

    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.driver.memory", memory)
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", os.path.join(work, "local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config(
            "spark.driver.extraJavaOptions",
            f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}"
            f" -Dderby.system.home={work}",
        )
    )
    if event_log:
        b = (
            b.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", event_log)
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_jvm() -> None:
    """Close the Py4J gateway and wait for the JVM to exit (it exits when
    its stdin closes); the Python workers are the JVM's and stop with it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


class Ops:
    """Builds and runs the workload's ops on one SparkSession."""

    def __init__(self, spark, table_dir: str, inputs: dict, work: str):
        import __spark_entry__ as entrymod
        from iot_data_pipeline_spark.engine import Engine

        self.spark = spark
        self.engine = Engine(spark)
        self.registry = entrymod.queries()
        self.table_dir = table_dir
        self.inputs = inputs
        self.etl_out = os.path.join(work, "etl_out")

    def build(self, op: str):
        """Driver-side construction: the registry call (eager jobs included).
        The ETL op has none; its whole cost is the write."""
        if op == ETL_OP:
            return None
        return self.registry[op](self.spark, self.table_dir)

    def execute(self, op: str, df) -> None:
        if op == ETL_OP:
            self.engine.ingest_csv(self.inputs["csv_dir"], self.etl_out)
        else:
            df.write.format("noop").mode("overwrite").save()

    def check(self, op: str, oracle: dict) -> str | None:
        """Run ``op`` once and compare its output; returns the mismatch."""
        from verify_local import _rows_multiset

        if op == ETL_OP:
            import pyarrow.parquet as pq

            self.execute(op, None)
            ds = pq.ParquetDataset(self.etl_out)
            rows = sum(f.metadata.num_rows for f in ds.fragments)
            if rows != self.inputs["csv_rows"]:
                return f"ETL rows {rows} != CSV rows {self.inputs['csv_rows']}"
            if ds.schema.names != ETL_COLUMNS:
                return f"ETL columns {ds.schema.names}"
            return None
        df = self.build(op)
        cols = df.columns
        rows = [tuple(r) for r in df.collect()]
        want = oracle.get(op)
        if want is None:  # rows-only id: no portable oracle
            return None if rows else "rows-only op returned no rows"
        if len(rows) != len(want["rows"]):
            return f"rowcount {len(rows)} != oracle {len(want['rows'])}"
        if sorted(c.lower() for c in cols) != sorted(c.lower() for c in want["cols"]):
            return f"columns {cols} != oracle {want['cols']}"
        got = [list(r) for r in _rows_multiset(cols, rows)]
        if got != want["rows"]:
            n = sum(a != b for a, b in zip(got, want["rows"]))
            return f"values differ in {n} of {len(got)} rows"
        return None


def _check_pass(ops: Ops, names: list[str], oracle: dict, tally: dict) -> dict:
    from perfbench.reset import reset_process_state

    results = {}
    for op in names:
        reset_process_state()
        ops.spark.sparkContext.setJobGroup(f"check:{op}", op)
        tally["attempted"] += 1
        t = time.perf_counter()
        try:
            problem = ops.check(op, oracle)
        except Exception:
            traceback.print_exc()
            problem = "raised"
        if problem:
            tally["failed"] += 1
            print(f"perfbench: {op} FAILED check: {problem}", file=sys.stderr)
        results[op] = {"result": problem or "ok", "wall_s": time.perf_counter() - t}
    return results


def _timed_passes(
    ops: Ops,
    names: list[str],
    seconds: float,
    rng: random.Random,
    tally: dict,
    label: str,
    min_passes: int = MIN_PASSES,
) -> list[dict]:
    """Passes until ``seconds`` have gone by and at least ``min_passes``
    have run; one record per op execution, with epoch-ms spans for the
    trace. The floor keeps a median over several passes when a slow host
    stretches them."""
    from perfbench.reset import reset_process_state

    sc = ops.spark.sparkContext
    records, deadline, pass_no = [], time.perf_counter() + seconds, 0
    while pass_no < min_passes or time.perf_counter() < deadline:
        order = names[:]
        rng.shuffle(order)
        for op in order:
            reset_process_state()
            tag = f"{label}{pass_no}:{op}"
            sc.setJobGroup(tag, op)
            tally["attempted"] += 1
            t0, w0 = time.perf_counter(), time.time()
            try:
                df = ops.build(op)
                t1, w1 = time.perf_counter(), time.time()
                ops.execute(op, df)
                ok = True
            except Exception:
                traceback.print_exc()
                tally["failed"] += 1
                t1, w1, ok = time.perf_counter(), time.time(), False
            t2, w2 = time.perf_counter(), time.time()
            records.append(
                {
                    "op": op,
                    "pass": pass_no,
                    "tag": tag,
                    "ok": ok,
                    "build_s": t1 - t0,
                    "exec_s": t2 - t1,
                    "wall_s": t2 - t0,
                    "span_ms": [w0 * 1e3, w1 * 1e3, w2 * 1e3],
                }
            )
        pass_no += 1
    return records


def _pass_walls(records: list[dict]) -> list[float]:
    walls: dict[int, float] = {}
    for r in records:
        walls[r["pass"]] = walls.get(r["pass"], 0.0) + r["wall_s"]
    return [walls[p] for p in sorted(walls)]


def _op_medians(records: list[dict]) -> dict[str, float]:
    by_op: dict[str, list[float]] = {}
    for r in records:
        by_op.setdefault(r["op"], []).append(r["wall_s"])
    return {op: statistics.median(v) for op, v in by_op.items()}


def _layers(records: list[dict], log_path: str, cores: int) -> tuple[dict, dict]:
    """Per-pass sums of the log's counters -> median over passes, plus the
    per-op detail for the trace file."""
    from perfbench.trace import Span, attribute, read_event_log

    spans = [Span(r["tag"], *r["span_ms"]) for r in records]
    counters = attribute(read_event_log(log_path), spans)
    per_pass: dict[int, dict[str, float]] = {}
    detail: dict[str, list[dict]] = {}
    for r in records:
        c = counters[r["tag"]]
        row = {"build_s": r["build_s"], "exec_s": r["exec_s"], "wall_s": r["wall_s"]}
        for name, (_unit, field, scale) in _COUNTER_METRICS.items():
            row[name] = getattr(c, field) * scale
        detail.setdefault(r["op"], []).append({"pass": r["pass"], **row})
        acc = per_pass.setdefault(r["pass"], {})
        for k, v in row.items():
            acc[k] = acc.get(k, 0.0) + v
    for acc in per_pass.values():
        acc["core_busy_share"] = acc["executor_run_s"] / (acc["wall_s"] * cores)
        acc["output_bytes_per_input_byte"] = (
            acc["output_mb"] / acc["input_mb"] if acc["input_mb"] else 0.0
        )
        acc["stream_useful_batch_ratio"] = (
            1 - acc["stream_noop_batches"] / acc["stream_batches"]
            if acc["stream_batches"]
            else 0.0
        )
    names = [n for n in PER_LAYER_UNITS if n in next(iter(per_pass.values()))]
    metrics = {n: statistics.median(p[n] for p in per_pass.values()) for n in names}
    return metrics, detail


def run(args, work: str) -> tuple[dict, dict]:
    spec = WORKLOADS[args.workload]
    names = spec["ops"]
    rng = random.Random(args.seed)
    cores = len(os.sched_getaffinity(0))
    memory = _driver_memory()
    report: dict = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "host": {"nproc": cores, "driver_memory": memory, "python": sys.version},
        "host_start": host.snapshot(),
    }

    data_dir = os.path.join(work, "data")
    t = time.perf_counter()
    subprocess.run(
        [sys.executable, "-m", "perfbench.datagen", "--out", data_dir,
         "--seed", str(args.seed), "--workload", args.workload],
        cwd=ROOT,
        check=True,
        stdout=sys.stderr,
    )
    generate_s = time.perf_counter() - t
    with open(os.path.join(data_dir, "inputs.json")) as fh:
        inputs = json.load(fh)
    with open(os.path.join(data_dir, "oracle.json")) as fh:
        oracle = json.load(fh)
    table_dir = os.path.join(data_dir, "tables")

    tally = {"attempted": 0, "failed": 0}
    with host.RssSampler(os.getpid()) as rss:
        t = time.perf_counter()
        spark = _session(cores, memory, work, None)
        import pyspark

        ops = Ops(spark, table_dir, inputs, work)
        session_start_s = time.perf_counter() - t
        report["host"]["spark"] = pyspark.__version__

        t = time.perf_counter()
        report["check"] = _check_pass(ops, names, oracle, tally)
        check_pass_s = time.perf_counter() - t
        _timed_passes(ops, names, 0, rng, tally, "w", min_passes=1)
        warm_pass_s = time.perf_counter() - t

        t = time.perf_counter()
        timed = _timed_passes(ops, names, args.seconds, rng, tally, "p")
        timed_s = time.perf_counter() - t
    walls = _pass_walls(timed)
    op_medians = _op_medians(timed)
    end_to_end = {
        "pass_s": statistics.median(walls),
        "op_geomean_s": math.exp(
            statistics.fmean(math.log(v) for v in op_medians.values())
        ),
        "setup_s": session_start_s + warm_pass_s,
        "peak_rss_mb": rss.peak_bytes / 1e6,
    }
    report["rss_at_peak_mb"] = {
        f"{pid}:{comm}": b / 1e6 for pid, (comm, b) in rss.at_peak.items()
    }
    etl = [r["wall_s"] for r in timed if r["op"] == ETL_OP and r["ok"]]
    etl_mb_per_s = (
        inputs["csv_bytes"] / 1e6 / statistics.median(etl) if etl else 0.0
    )
    report["phases_s"] = {
        "generate": generate_s,
        "session_start": session_start_s,
        "check_pass": check_pass_s,
        "warm_passes": warm_pass_s,
        "timed": timed_s,
    }
    report.update(
        inputs=inputs,
        pass_walls_s=walls,
        op_median_s=op_medians,
        records=timed,
        end_to_end=end_to_end,
    )

    metrics = end_to_end
    if args.trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir)
        spark.stop()
        spark = _session(cores, memory, work, log_dir)
        ops = Ops(spark, table_dir, inputs, work)
        traced = _timed_passes(ops, names, args.seconds, rng, tally, "t")
        spark.stop()
        (log_path,) = glob.glob(os.path.join(log_dir, "*"))
        layers, detail = _layers(traced, log_path, cores)
        layers.update(
            session_start_s=session_start_s,
            warm_pass_s=warm_pass_s,
            generate_s=generate_s,
            trace_overhead_s=statistics.median(_pass_walls(traced))
            - end_to_end["pass_s"],
            etl_mb_per_s=etl_mb_per_s,
            error_rate=tally["failed"] / tally["attempted"],
        )
        metrics = layers
        report.update(per_layer=layers, per_op=detail, traced_records=traced)
    else:
        spark.stop()
    t = time.perf_counter()
    _stop_jvm()
    report["phases_s"]["stop_jvm"] = time.perf_counter() - t

    report["host_end"] = host.snapshot()
    report["host"]["cpu_steal_share"] = host.steal_share(
        report["host_start"], report["host_end"]
    )
    report.update(tally, error_rate=tally["failed"] / tally["attempted"],
                  etl_mb_per_s=etl_mb_per_s)
    units = PER_LAYER_UNITS if args.trace else END_TO_END_UNITS
    result = {
        "correct": tally["failed"] == 0,
        "attempted": tally["attempted"],
        "failed": tally["failed"],
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }
    return result, report


def _summary(report: dict) -> str:
    e = report["end_to_end"]
    parts = [f"{k}={v:.4f}{END_TO_END_UNITS[k]}" for k, v in e.items()]
    parts.append(f"error_rate={report['error_rate']:.4f}")
    if report["etl_mb_per_s"]:
        parts.append(f"etl_mb_per_s={report['etl_mb_per_s']:.2f}MB/s")
    parts.append(f"passes={len(report['pass_walls_s'])}")
    return f"perfbench {report['workload']} seed={report['seed']}: " + " ".join(parts)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    missing = [
        p for p in ("__spark_entry__.py", "verify_local.py", "iot_data_pipeline_spark")
        if not os.path.exists(os.path.join(ROOT, p))
    ]
    if missing:
        print(f"perfbench: not a checkout of the engine, missing {missing}",
              file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # Everything the engine stages (tempfile, Spark scratch, Python workers)
    # stays inside the checkout.
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # The JVMs would otherwise keep their perf counters in /tmp/hsperfdata_*.
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    try:
        result, report = run(args, work)
    finally:
        _stop_jvm()  # no-op once run() has stopped it
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))

    out_dir = os.path.join(ROOT, "perfbench_results")
    os.makedirs(out_dir, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(out_dir, name), "w") as fh:
        json.dump(report, fh, indent=1)
    print(_summary(report), file=sys.stderr)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

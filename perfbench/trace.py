"""Per-layer numbers read from outside the engine.

Two sources, both Spark's own:

- the event log (``spark.eventLog.enabled``, uncompressed, not rolled):
  jobs, stages and task metrics, including the SQL metrics of the Python
  runners (``data sent to Python workers`` and friends);
- the ``StreamingQueryListener`` progress events, which Spark's listener
  bus writes into the same log (``QueryProgressEvent``).

Each timed op execution is a ``Span`` with a job-group tag the benchmark
set with ``setJobGroup`` before calling the op. A job is attributed to the
span its group names; a job with no such group (one started from a thread
the op created, where the group does not follow) falls back to the span
whose time interval holds its submission time, and counts in
``untagged_jobs``. Stages and tasks follow their job; streaming progress
follows the span that holds its trigger time. Jobs outside every span (the
warm-up pass, set-up) are ignored.
"""

from __future__ import annotations

import bisect
import dataclasses
import datetime as dt
import json
from collections.abc import Iterable, Iterator

PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"
PY_START = ("time to start Python workers", "time to initialize Python workers")
PY_RUN = "time to run Python workers"


@dataclasses.dataclass(frozen=True)
class Span:
    """One timed op execution; times are epoch milliseconds."""

    tag: str
    start_ms: float
    build_end_ms: float
    end_ms: float


@dataclasses.dataclass
class OpCounters:
    """What the log says one op execution did. Raw units: ms, ns, bytes."""

    jobs: int = 0
    build_jobs: int = 0
    untagged_jobs: int = 0
    stages: int = 0
    tasks: int = 0
    executor_run_ms: int = 0
    executor_cpu_ns: int = 0
    jvm_gc_ms: int = 0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    fetch_wait_ms: int = 0
    spill_bytes: int = 0
    input_bytes: int = 0
    output_bytes: int = 0
    python_run_ms: int = 0
    python_start_ms: int = 0
    python_sent_bytes: int = 0
    python_returned_bytes: int = 0
    stream_batches: int = 0
    stream_noop_batches: int = 0
    stream_add_batch_ms: int = 0
    stream_planning_ms: int = 0
    stream_commit_ms: int = 0
    state_rows: int = 0
    state_commit_ms: int = 0


def read_event_log(path: str) -> Iterator[dict]:
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            if line.strip():
                yield json.loads(line)


class _SpanIndex:
    def __init__(self, spans: Iterable[Span]):
        self.spans = sorted(spans, key=lambda s: s.start_ms)
        self.starts = [s.start_ms for s in self.spans]
        self.by_tag = {s.tag: s for s in self.spans}

    def at(self, t_ms: float) -> Span | None:
        i = bisect.bisect_right(self.starts, t_ms) - 1
        if i >= 0 and t_ms <= self.spans[i].end_ms:
            return self.spans[i]
        return None


def _iso_ms(stamp: str) -> float:
    return dt.datetime.fromisoformat(stamp.replace("Z", "+00:00")).timestamp() * 1e3


def _progress(c: OpCounters, p: dict) -> None:
    c.stream_batches += 1
    if sum(s.get("numInputRows", 0) for s in p.get("sources", [])) == 0:
        c.stream_noop_batches += 1
    d = p.get("durationMs", {})
    c.stream_add_batch_ms += d.get("addBatch", 0)
    c.stream_planning_ms += d.get("queryPlanning", 0)
    c.stream_commit_ms += d.get("walCommit", 0) + d.get("commitOffsets", 0)
    ops = p.get("stateOperators", [])
    c.state_rows = max(c.state_rows, sum(o.get("numRowsTotal", 0) for o in ops))
    c.state_commit_ms += sum(o.get("commitTimeMs", 0) for o in ops)


def _task(c: OpCounters, e: dict) -> None:
    m = e.get("Task Metrics") or {}
    c.tasks += 1
    c.executor_run_ms += m.get("Executor Run Time", 0)
    c.executor_cpu_ns += m.get("Executor CPU Time", 0)
    c.jvm_gc_ms += m.get("JVM GC Time", 0)
    c.spill_bytes += m.get("Disk Bytes Spilled", 0)
    read = m.get("Shuffle Read Metrics", {})
    c.shuffle_read_bytes += read.get("Remote Bytes Read", 0) + read.get(
        "Local Bytes Read", 0
    )
    c.fetch_wait_ms += read.get("Fetch Wait Time", 0)
    c.shuffle_write_bytes += m.get("Shuffle Write Metrics", {}).get(
        "Shuffle Bytes Written", 0
    )
    c.input_bytes += m.get("Input Metrics", {}).get("Bytes Read", 0)
    c.output_bytes += m.get("Output Metrics", {}).get("Bytes Written", 0)
    for acc in e.get("Task Info", {}).get("Accumulables", []):
        name, update = acc.get("Name"), acc.get("Update")
        if update is None:
            continue
        if name == PY_RUN:
            c.python_run_ms += int(update)
        elif name in PY_START:
            c.python_start_ms += int(update)
        elif name == PY_SENT:
            c.python_sent_bytes += int(update)
        elif name == PY_RETURNED:
            c.python_returned_bytes += int(update)


def attribute(events: Iterable[dict], spans: Iterable[Span]) -> dict[str, OpCounters]:
    """Counters per span tag, from the events of one application's log."""
    index = _SpanIndex(spans)
    out = {s.tag: OpCounters() for s in index.spans}
    stage_span: dict[int, Span] = {}
    for e in events:
        kind = e.get("Event", "")
        if kind == "SparkListenerJobStart":
            group = (e.get("Properties") or {}).get("spark.jobGroup.id")
            t = e.get("Submission Time", 0)
            span = index.by_tag.get(group)
            untagged = span is None
            if span is None:
                span = index.at(t)
            if span is None:
                continue
            c = out[span.tag]
            c.jobs += 1
            c.untagged_jobs += untagged
            c.build_jobs += t < span.build_end_ms
            for sid in e.get("Stage IDs", []):
                stage_span.setdefault(sid, span)
        elif kind == "SparkListenerStageCompleted":
            span = stage_span.get(e["Stage Info"]["Stage ID"])
            if span is not None:
                out[span.tag].stages += 1
        elif kind == "SparkListenerTaskEnd":
            span = stage_span.get(e.get("Stage ID"))
            if span is not None:
                _task(out[span.tag], e)
        elif kind.endswith("StreamingQueryListener$QueryProgressEvent"):
            p = e["progress"]
            span = index.at(_iso_ms(p["timestamp"]))
            if span is not None:
                _progress(out[span.tag], p)
    return out

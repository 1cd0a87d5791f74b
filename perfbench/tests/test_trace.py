"""Pins the event-log and streaming-progress attribution on a tiny log.

``fixtures/eventlog_tiny.jsonl`` holds, in Spark 4.1's event-log format:
a warm-up job before any span, two jobs tagged with op A's group (one in
its build phase, one reusing a stage), an untagged job and a foreign-group
job inside op B's span (the thread-pool case), two progress events of one
stream inside op B (one with no input), one progress event and one job after
every span.
"""

from __future__ import annotations

import dataclasses
import os

from perfbench.trace import OpCounters, Span, attribute, read_event_log

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures", "eventlog_tiny.jsonl")
SPANS = [
    Span("t0:opA", 1000.0, 1500.0, 3000.0),
    Span("t0:opB", 3000.0, 3100.0, 6000.0),
]


def _counters() -> dict[str, OpCounters]:
    return attribute(read_event_log(FIXTURE), SPANS)


def test_tagged_jobs_stages_and_tasks():
    assert dataclasses.asdict(_counters()["t0:opA"]) == dict(
        dataclasses.asdict(OpCounters()),
        jobs=2,
        build_jobs=1,
        stages=2,
        tasks=3,
        executor_run_ms=1400,
        executor_cpu_ns=1_000_000_000,
        jvm_gc_ms=40,
        shuffle_write_bytes=2000,
        shuffle_read_bytes=1000,
        fetch_wait_ms=7,
        spill_bytes=300,
        input_bytes=4000,
        output_bytes=500,
    )


def test_untagged_jobs_fall_back_to_the_time_span():
    b = _counters()["t0:opB"]
    assert (b.jobs, b.untagged_jobs, b.build_jobs, b.stages, b.tasks) == (2, 2, 0, 2, 1)


def test_python_runner_metrics():
    b = _counters()["t0:opB"]
    assert (b.python_run_ms, b.python_start_ms) == (40, 15)
    assert (b.python_sent_bytes, b.python_returned_bytes) == (4096, 1024)


def test_streaming_progress():
    b = _counters()["t0:opB"]
    assert (b.stream_batches, b.stream_noop_batches) == (2, 1)
    assert (b.stream_add_batch_ms, b.stream_planning_ms, b.stream_commit_ms) == (23, 9, 8)
    assert (b.state_rows, b.state_commit_ms) == (7, 4)


def test_events_outside_every_span_are_dropped():
    c = _counters()
    assert sum(x.jobs for x in c.values()) == 4
    assert sum(x.stream_batches for x in c.values()) == 2

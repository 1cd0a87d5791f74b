"""Registry-wide plan lint: every non-executing query's physical plan is
built at sf0.001 and scanned for scale-killers.

- ``CartesianProduct`` is banned outright: an unconstrained N×M join is
  never the intended plan for any registered operator.
- ``BroadcastNestedLoopJoin`` is allowed only where the broadcast side is
  a bounded scalar/spine table (row counts independent of data scale), and
  each such query is listed with its justification — a new unlisted
  occurrence fails the suite and forces the author to justify or fix it.
- Building a query leaves the session confs as it found them: the session
  is shared, so a leaked conf changes every later query.

Streaming/sink/source queries execute work when called, so they are
covered by their own tests instead of this sweep.
"""

from __future__ import annotations

import importlib.util
import os
import sys

import pytest

from iot_data_pipeline_spark.session import prepare

_ENTRY_PATH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "__spark_entry__.py",
)

_SKIP_PREFIXES = ("stream_", "sink_", "source_")

# query id -> why a nested-loop join with a broadcast side is fine here
BNLJ_BOUNDED = {
    "dq_audit": "joins the 1-row all-metrics aggregate to per-check rows",
    "geo_nearest_hub": "5-row hub table broadcast to every device (linear scan)",
    "iot_gap_fill": "calendar hour spine (global bounds row -> sequence) "
    "broadcast-crossed against devices: linear in devices",
    "iot_interpolate": "same broadcast calendar-spine cross as iot_gap_fill",
    "join_cross": "the declared cross-join operator (25x5 dimension tables)",
    "win_ntile_dist": "1-row n_total aggregate joined to every ranked row",
    "llm_tfidf": "1-row corpus-count aggregate broadcast-crossed into the"
    " scoring projection (keeps plan-build lazy; no driver action)",
    "llm_lm_perplexity": "1-row vocabulary-size aggregate broadcast-"
    "crossed into the bigram weight projection (lazy plan build, same"
    " pattern as llm_tfidf); the bigram count/weight joins are plain"
    " equi-joins",
    "llm_dsir_select": "1-row corpus-statistics aggregate (bigram masses +"
    " distinct count) broadcast-crossed into the importance-weight"
    " projection — the llm_tfidf/llm_lm_perplexity lazy-plan-build"
    " pattern; the vocabulary-scale weight join is a plain equi-join,"
    " and the 1-row n_total cross comes from dist_global_rank",
    "llm_quality_classifier": "two 1-row statistics aggregates (class"
    " totals+vocab size; log-prior) broadcast-crossed into the weight"
    " projection and the final score — same lazy-plan-build pattern as"
    " llm_tfidf; the vocabulary-scale weight JOIN itself is a plain"
    " equi-join with no forced hint",
    # the derived-partsupp TPC-H entries: partsupp is part broadcast-crossed
    # with a 1-row supplier-count aggregate and a 4-row stripe spine (both
    # scale-independent build sides) — linear in part at any scale
    "sql_entry_tpch_q2": "derived-partsupp spine (1-row count x 4-row stripes)",
    "sql_entry_tpch_q9": "derived-partsupp spine (1-row count x 4-row stripes)",
    "sql_entry_tpch_q11": "derived-partsupp spine, plus the 1-row total-value"
    " aggregate the HAVING threshold joins against",
    "sql_entry_tpch_q16": "derived-partsupp spine (1-row count x 4-row stripes)",
    "sql_entry_tpch_q20": "derived-partsupp spine (1-row count x 4-row stripes)",
}


def _entry_module():
    spec = importlib.util.spec_from_file_location(
        "__spark_entry_lint__", _ENTRY_PATH
    )
    mod = importlib.util.module_from_spec(spec)
    sys.modules.setdefault("__spark_entry_lint__", mod)
    spec.loader.exec_module(mod)
    return mod


def _registry():
    return _entry_module().queries()


# Row-at-a-time Python evaluation is the declared slow tier; everything
# else that crosses into Python must be Arrow-batched (ArrowEvalPython /
# MapInPandas / FlatMapGroupsInPandas / AggregateInPandas).
ROW_PYTHON_OK = {
    "udf_scalar": "the declared row-at-a-time UDF tier demo",
    "udtf_python_lateral": "Python UDTFs are row-oriented by API design",
}


# query id -> why a Sort/Window fed by an Exchange SinglePartition is fine
# here: the exchanged frame is provably BOUNDED (scale-independent row
# count), so one task sorting it is metadata work, not a corpus funnel.
# Frames ordered on the synthetic `_pid` key (dist_global_rank's
# numPartitions-row counts table) are auto-allowed structurally and need
# no entry. VERDICT r12: llm_lm_perplexity shipped a corpus-scale
# single-task NTILE precisely because no lint covered this class.
SINGLE_PARTITION_SORT_OK = {
    "llm_domain_mix": "global window over per-source counts (rows = number"
    " of distinct sources, scale-independent)",
    "evt_cumulative_users": "prefix sum over the DAY SPINE — one row per"
    " calendar day (a century is ~37k rows); the operator's docstring"
    " declares the serial tail scales with the calendar, and the per-user"
    " corpus-scale work is aggregated away before this window",
}


def test_no_cartesian_unjustified_nested_loop_or_row_python(spark, sf_dir):
    qs = _registry()
    offenders: dict[str, str] = {}
    prepare(spark)
    confs = dict(spark.conf.getAll)
    for name, fn in sorted(qs.items()):
        if name.startswith(_SKIP_PREFIXES):
            continue
        plan = fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        leaked = dict(spark.conf.getAll).items() ^ confs.items()
        assert not leaked, f"{name} changed session confs: {sorted(leaked)}"
        if "CartesianProduct" in plan:
            offenders[name] = "CartesianProduct"
        elif "BroadcastNestedLoopJoin" in plan and name not in BNLJ_BOUNDED:
            offenders[name] = "unjustified BroadcastNestedLoopJoin"
        elif "BatchEvalPython" in plan and name not in ROW_PYTHON_OK:
            offenders[name] = "row-at-a-time Python outside the declared tier"
        elif _has_quadratic_window_frame(plan):
            # frames ending at unboundedfollowing that do NOT span the
            # whole partition are recomputed from scratch per row —
            # O(rows²) per partition (iot_interpolate cost 5× its own
            # runtime this way in round 4). Express a forward carry as a
            # reversed running frame instead.
            offenders[name] = "O(rows^2) unbounded-following window frame"
        else:
            hits = _single_partition_sort_window(plan)
            if hits and name not in SINGLE_PARTITION_SORT_OK:
                offenders[name] = (
                    "unjustified single-task Sort/Window over an Exchange"
                    f" SinglePartition: {hits[0]}"
                )
    assert not offenders, offenders


def _single_partition_sort_window(plan: str) -> list[str]:
    """Occurrences of a Sort / Window / WindowGroupLimit consuming an
    ``Exchange SinglePartition`` — the whole frame through ONE task. A
    scalar aggregate's final step also exchanges to one partition, but its
    consumer is a HashAggregate, not a Sort, so it does not match. Sorts
    whose keys include the synthetic ``_pid`` column are the
    dist_global_rank prefix-sum side table (≤ numPartitions rows by
    construction) and are structurally allowed."""
    lines = plan.splitlines()

    def depth(line: str) -> int:
        i = 0
        while i < len(line) and line[i] in " :+-":
            i += 1
        return i

    import re

    # row-preserving nodes the planner freely interposes between a
    # Sort/Window and its exchange — climb through them so a Project
    # can't mask the funnel (review finding, r13)
    pass_through = ("Project", "Filter", "ColumnarToRow", "InputAdapter")

    hits: list[str] = []
    for idx, line in enumerate(lines):
        if "Exchange SinglePartition" not in line:
            continue
        d = depth(line)
        j = idx
        while True:
            j -= 1
            if j < 0:
                break
            if depth(lines[j]) >= d:
                continue
            d = depth(lines[j])
            consumer = re.sub(
                r"^\*\(\d+\)\s*", "", lines[j].strip().lstrip(":+- ")
            )
            if consumer.startswith(pass_through):
                continue  # keep climbing to the real consumer
            # "Sort [" is the SortExec node; SortAggregate(key=[]) is a
            # scalar aggregate's final step (1 output row) and
            # SortMergeJoin is not a funnel — neither matches.
            if consumer.startswith(
                ("Sort [", "Window")
            ) and "_pid#" not in consumer:
                hits.append(consumer[:120])
            break
    return hits


def test_oracled_outputs_are_driver_sortable(spark, sf_dir):
    """Canonicalization parity with the driver (round-4 verdict item 3):
    the driver sorts both result sets with pandas ``sort_values`` over all
    columns before hashing, and array/map/struct cells (numpy arrays,
    dicts, Rows) are unhashable there — the query is scored FAIL no matter
    how correct the values are (``llm_embed_quantize`` r4). Any
    oracle-checked query must therefore emit only scalar columns; emit
    long form or ``array_join`` instead. Streaming/sink/source queries
    execute work when built, so the verify_local sweep (which runs them
    anyway) applies the identical check there."""
    # reuse verify_local's helper so the banned-type set cannot drift
    # between the pytest gate and the verify gate
    vl_spec = importlib.util.spec_from_file_location(
        "_vl_lint",
        os.path.join(os.path.dirname(_ENTRY_PATH), "verify_local.py"),
    )
    vl = importlib.util.module_from_spec(vl_spec)
    vl_spec.loader.exec_module(vl)

    mod = _entry_module()
    qs, oracles = mod.queries(), mod.oracle_sql()
    offenders: dict[str, list[str]] = {}
    for name, fn in sorted(qs.items()):
        if name.startswith(_SKIP_PREFIXES) or name not in oracles:
            continue
        bad = vl._driver_unsortable_cols(fn(spark, sf_dir).schema)
        if bad:
            offenders[name] = bad
    assert not offenders, offenders


def _has_quadratic_window_frame(plan: str) -> bool:
    import re

    # the frame spec contains `$()`-suffixed tokens, so the match must
    # tolerate one level of nested empty parens
    for m in re.finditer(r"specifiedwindowframe\((?:[^()]|\(\))*\)", plan):
        spec = m.group(0)
        if "unboundedfollowing$()" in spec and "unboundedpreceding$()" not in spec:
            return True
    return False


def test_single_partition_detector_classification():
    """The detector must flag exactly the Sort/Window-over-SinglePartition
    shapes (including r12's shipped llm_lm_perplexity NTILE plan, its
    motivating miss) and pass scalar-aggregate final exchanges and the
    dist_global_rank bounded ``_pid`` side-frame."""
    # the exact shape llm_lm_perplexity shipped in r12 (PLANS.md:1104)
    r12_ntile = (
        "Window [ntile(3) windowspecdefinition(avg_logprob_i#82L DESC)]\n"
        "+- Sort [avg_logprob_i#82L DESC NULLS LAST, doc_id#0L ASC], false\n"
        "   +- Exchange SinglePartition, ENSURE_REQUIREMENTS, [plan_id=1]\n"
        "      +- HashAggregate(keys=[doc_id#0L], functions=[sum(wi#77L)])"
    )
    assert _single_partition_sort_window(r12_ntile), "must catch r12's miss"
    # codegen-starred Sort consumer
    starred = (
        "*(4) Sort [x#1L ASC NULLS FIRST], true, 0\n"
        "+- Exchange SinglePartition, ENSURE_REQUIREMENTS, [plan_id=2]"
    )
    assert _single_partition_sort_window(starred)
    # scalar aggregate: consumer is a HashAggregate — not flagged
    scalar = (
        "*(2) HashAggregate(keys=[], functions=[count(1)])\n"
        "+- Exchange SinglePartition, ENSURE_REQUIREMENTS, [plan_id=3]\n"
        "   +- *(1) HashAggregate(keys=[], functions=[partial_count(1)])"
    )
    assert not _single_partition_sort_window(scalar)
    # scalar SortAggregate final step (meta_profile's shape): 1 output
    # row — not a funnel, not flagged
    sort_agg = (
        "SortAggregate(key=[], functions=[first(count(1)#1L, true)])\n"
        "+- Exchange SinglePartition, ENSURE_REQUIREMENTS, [plan_id=6]\n"
        "   +- SortAggregate(key=[], functions=[partial_first(count(1)#1L)])"
    )
    assert not _single_partition_sort_window(sort_agg)
    # dist_global_rank's numPartitions-row counts frame: bounded by
    # construction, keyed on the synthetic _pid column — not flagged
    bounded = (
        "Window [sum(_pn#5L) windowspecdefinition(_pid#4 ASC)]\n"
        "+- Sort [_pid#4 ASC NULLS FIRST], false, 0\n"
        "   +- Exchange SinglePartition, ENSURE_REQUIREMENTS, [plan_id=4]\n"
        "      +- HashAggregate(keys=[_pid#4], functions=[count(1)])"
    )
    assert not _single_partition_sort_window(bounded)
    # nested: the exchange's parent is found by indent, not adjacency
    nested = (
        ":- Window [row_number() windowspecdefinition(a#1 ASC)]\n"
        ":  +- Exchange SinglePartition, ENSURE_REQUIREMENTS, [plan_id=5]\n"
        ":     +- Project [a#1]"
    )
    assert _single_partition_sort_window(nested)
    # a planner-interposed Project between Sort and Exchange must not
    # mask the funnel (review finding, r13)
    masked = (
        "*(3) Sort [x#1L ASC NULLS FIRST], true, 0\n"
        "+- *(3) Project [x#1L, y#2]\n"
        "   +- Exchange SinglePartition, ENSURE_REQUIREMENTS, [plan_id=7]"
    )
    assert _single_partition_sort_window(masked)
    # ...but a Project under a scalar aggregate still passes
    masked_ok = (
        "*(2) HashAggregate(keys=[], functions=[count(1)])\n"
        "+- *(2) Project [x#1L]\n"
        "   +- Exchange SinglePartition, ENSURE_REQUIREMENTS, [plan_id=8]"
    )
    assert not _single_partition_sort_window(masked_ok)


def test_quadratic_frame_detector_classification():
    """The detector must flag exactly the non-entire-partition frames that
    end at unboundedFollowing (Spark recomputes those per row, O(rows²))
    and pass running and entire-partition frames."""
    bad = [
        "specifiedwindowframe(RowFrame, currentrow$(), unboundedfollowing$())",
        "specifiedwindowframe(RangeFrame, -2, unboundedfollowing$())",
    ]
    good = [
        "specifiedwindowframe(RowFrame, unboundedpreceding$(), currentrow$())",
        "specifiedwindowframe(RowFrame, unboundedpreceding$(),"
        " unboundedfollowing$())",
        "specifiedwindowframe(RowFrame, -1, 1)",
    ]
    for spec in bad:
        assert _has_quadratic_window_frame(f"Window [x {spec}]"), spec
    for spec in good:
        assert not _has_quadratic_window_frame(f"Window [x {spec}]"), spec

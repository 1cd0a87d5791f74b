"""Streaming Change-Data-Feed SOURCE over the manifest-log ACID table —
Delta's streaming CDF source re-derived on the Python DataSource API
(VERDICT r13 item 4).

The batch feeds (:func:`acid_table.table_changes_journal` /
``table_changes``) answer "what changed between two versions"; the
streaming source turns the same journal into a CONTINUOUS consumer
surface: ``spark.readStream.format("acid_cdf").load(table_path)`` emits
every commit's row-level deltas tagged (``change_type``,
``commit_version``), with Spark's own offset checkpointing providing
exactly-once across restarts.

Micro-batch = COMMIT RANGE: offsets are ``{"version": v}`` (the last
commit consumed), ``latestOffset`` is the checkpoint-bounded
``acid_table.head``, and ``partitions(start, end)`` turns
``acid_table._feed_plan`` of the range ``(start, end]`` — the same plan
the batch ``table_changes_journal`` reads — into ONE INPUT PARTITION PER
FILE: journal slivers for cdc-journaled commits, the added data files for
appends (their files ARE the inserts — Delta's dataChange rule),
nothing for compactions. Executors read each file directly with pyarrow
(no SparkSession on that side; the DataSource API's contract) and emit
Arrow RecordBatches aligned to the declared schema, so the per-batch
cost is the touched slivers — never a table scan, and the work
parallelizes file-per-task exactly like the batch feed.

Schema evolution: the declared schema is fixed at stream start (Spark
streaming schemas are static); files from BEFORE a widening NULL-fill
the later columns, and a widening DURING the stream surfaces as a loud
error telling the operator to restart the stream — Delta's streaming
behavior for additive schema changes.

Admission control (r16): ``.option("maxCommitsPerTrigger", N)`` bounds
how many commits one micro-batch may span — Delta's
``maxFilesPerTrigger`` analogue in this source's natural unit — and
``.option("maxBytesPerTrigger", N)`` soft-caps the feed-file bytes per
batch (always admits ≥1 commit), so a post-downtime catch-up drains a
backlog in bounded batches instead of one unbounded batch. See
``AcidCdfStreamReader.__init__`` for the anchor protocol (in-memory +
a monotone ``_admission/`` sidecar) and the availableNow caveat.
``.option("admissionAnchorId", ...)`` separates sidecar anchors when
several rate-limited streams consume one table.

Failure semantics: the plan is the batch feed's, so a commit in the
range written without ``cdc=True`` (unjournaled delete/merge), a restore,
a column-mapping change, a feed file vacuum already reclaimed and a
commit the listing hides raise exactly the batch feed's errors — the
source never silently skips deltas.

WORKER-PROCESS DELIVERY: Spark's ``PythonStreamingSourceRunner`` (the
driver-side planner worker that unpickles the DataSource and runs
initialOffset/latestOffset/partitions) does NOT inherit the session's
``addPyFile`` includes the way task workers do — so :func:`register`
registers this module for cloudpickle BY-VALUE serialization, and every
method that needs the package at runtime first re-inserts the pickled
repo root into ``sys.path`` (:func:`_ensure_pkg`). That makes the source
work from any cwd on any shared-filesystem deployment (local mode, the
target env); a multi-node cluster ships the package with ``--py-files``,
which puts it on every worker's PYTHONPATH anyway. One consequence of
the separate planner process: a CUSTOM LogStore bound via
``set_log_store`` in the driver is not visible there — the source reads
the log through the default POSIX store; custom-store deployments must
bind their store in worker processes (e.g. a sitecustomize hook).
"""

from __future__ import annotations

import json
import os
import sys
from collections.abc import Iterator, Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import LongType, StringType, StructField, StructType

# Repo root containing the package — captured at import time (driver),
# re-inserted into sys.path inside the data-source worker processes.
_PKG_PARENT = os.path.dirname(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)


def _ensure_pkg(pkg_parent: str) -> None:
    """Make the package importable in a data-source worker process (see
    module docstring: the planner worker lacks the addPyFile includes)."""
    try:
        import iot_data_pipeline_spark  # noqa: F401

        return
    except ModuleNotFoundError:
        pass
    if os.path.isdir(pkg_parent) and pkg_parent not in sys.path:
        sys.path.insert(0, pkg_parent)


def _table_path(options: dict) -> str:
    """The table path option: ``.load(path)`` or ``tablePath``."""
    path = options.get("path") or options.get("tablepath")
    if not path:
        raise ValueError(
            "acid_cdf source needs the table path: "
            ".load(<table_path>) or .option('tablePath', ...)"
        )
    return path


def _feed_schema(table_path: str) -> StructType:
    """Declared source schema: the table's RECORDED schema (the format
    records it per commit; tables created by this code always have one)
    under its LOGICAL column names (column-mapped tables rename at this
    boundary; feed files stay physical and read() translates), plus the
    two feed tag columns."""
    from iot_data_pipeline_spark.sources import acid_table

    st = acid_table._state(table_path)
    sch = acid_table._schema_of(st)
    if sch is None:
        raise ValueError(
            f"acid_cdf streaming source requires a recorded table schema; "
            f"the table at {table_path} predates schema recording"
        )
    cm = st.get("colmap")
    fields = list(sch.fields)
    if cm:
        rev = {p: l for l, p in cm.items()}
        fields = [
            StructField(rev.get(f.name, f.name), f.dataType, f.nullable)
            for f in fields
        ]
    return StructType(
        fields
        + [
            StructField("change_type", StringType(), False),
            StructField("commit_version", LongType(), False),
        ]
    )


class AcidCdfStreamReader(DataSourceStreamReader):
    def __init__(self, schema: StructType, options: dict) -> None:
        self._path = _table_path(options)
        self._schema = schema
        self._pkg_parent = _PKG_PARENT
        # feed window starts AFTER this version ((v, head] ranges);
        # -1 means "from the create commit"
        self._start = int(options.get("startingversion", -1))
        # ADMISSION CONTROL (r15 verdict item 3 — Delta's
        # maxFilesPerTrigger analogue in this source's natural unit):
        # bound how many COMMITS a single micro-batch may span, so a
        # stream catching up after downtime drains a backlog in bounded
        # batches instead of planning one unbounded catch-up batch (at
        # 100 TB the difference between a restartable drain and an OOM).
        #
        # The Python DataSource API's latestOffset() receives no start
        # offset (unlike Scala's SupportsAdmissionControl), and the
        # engine calls it BEFORE initialOffset/partitions on a fresh or
        # cleanly-restarted run (probed empirically), so an in-memory
        # anchor alone cannot bound the first batch — exactly the
        # post-downtime batch this feature exists for. The clamp anchor
        # is therefore (a) in-memory: the max end seen by partitions()
        # or commit() this run — exact and per-stream; (b) across
        # process restarts: a tiny MONOTONE sidecar
        # ``<table>/_admission/<admissionAnchorId>.json`` written
        # (os.replace-atomic, only-ever-increasing) at every plan and
        # commit. Safety: a batch can only COMMIT at offset C after
        # partitions() planned C, which persisted anchor ≥ C first —
        # so the persisted anchor can never sit below Spark's committed
        # offset and the clamp can never regress it (the r14 duplicate
        # hazard). A RECYCLED anchor id (new checkpoint, old table)
        # merely loosens the clamp until caught up — never regresses.
        #
        # Caveat, pinned in tests: Trigger.AvailableNow captures ONE
        # latestOffset at query start (this API has no
        # SupportsTriggerAvailableNow), so an availableNow run with
        # maxCommitsPerTrigger advances at most that many commits and
        # terminates — loop it to drain a backlog; use a processingTime
        # trigger for a continuous bounded drain.
        mct = options.get("maxcommitspertrigger")
        self._max_commits = int(mct) if mct is not None else None
        if self._max_commits is not None and self._max_commits < 1:
            raise ValueError(
                "maxCommitsPerTrigger must be a positive integer, got "
                f"{self._max_commits}"
            )
        # maxBytesPerTrigger (Delta's byte-rate analogue): a SOFT cap on
        # the feed-file bytes one micro-batch spans — the advance always
        # admits at least one commit (a single oversized commit still
        # flows; the stream never stalls), then stops before the commit
        # that would cross the cap. Sizing walks the candidate commits'
        # manifests and stats their feed files — metadata-scale, bounded
        # by the commits admitted. Composes with maxCommitsPerTrigger
        # (both clamps apply; the tighter one wins).
        mbt = options.get("maxbytespertrigger")
        self._max_bytes = int(mbt) if mbt is not None else None
        if self._max_bytes is not None and self._max_bytes < 1:
            raise ValueError(
                "maxBytesPerTrigger must be a positive integer, got "
                f"{self._max_bytes}"
            )
        self._anchor_id = options.get("admissionanchorid", "default")
        self._last_end: int | None = None
        # physical→logical rename map, resolved ONCE per reader: a
        # mapping change mid-stream ALWAYS surfaces as the curated
        # rename/drop-commit error in partitions() (restart to adopt),
        # so the map at first use stays valid for the reader's lifetime.
        # Re-resolving per batch cost a full _state replay per
        # micro-batch in the planner worker — a measured 3x wall on the
        # per-epoch medallion pipeline (r15 bench trip).
        self._rename_ready = False
        self._rename = None

    def _anchor_file(self) -> str:
        return os.path.join(
            self._path, "_admission", f"{self._anchor_id}.json"
        )

    def _load_anchor(self) -> int | None:
        try:
            with open(self._anchor_file()) as fh:
                return int(json.load(fh)["anchor"])
        except (OSError, ValueError, KeyError, TypeError):
            return None

    def _note_end(self, v: int) -> None:
        """Re-anchor admission control at a planned/committed batch end:
        in-memory max, plus the monotone persisted sidecar (atomic
        replace; never decreases) so a restarted planner process clamps
        its FIRST batch too."""
        if self._last_end is None or v > self._last_end:
            self._last_end = v
        if self._max_commits is None and self._max_bytes is None:
            # no admission control configured: keep the no-sidecar
            # contract (the source writes nothing for plain streams)
            return
        cur = self._load_anchor()
        if cur is not None and cur >= v:
            return
        d = os.path.join(self._path, "_admission")
        os.makedirs(d, exist_ok=True)
        tmp = self._anchor_file() + f".tmp-{os.getpid()}"
        with open(tmp, "w") as fh:
            json.dump({"anchor": int(v)}, fh)
        os.replace(tmp, self._anchor_file())

    def initialOffset(self) -> dict:
        # a fresh stream anchors admission control at its start (the
        # engine may still ask latestOffset first — the persisted-anchor
        # fallback there covers that ordering)
        if self._last_end is None or self._start > self._last_end:
            self._last_end = self._start
        return {"version": self._start}

    def latestOffset(self) -> dict:
        _ensure_pkg(self._pkg_parent)
        from iot_data_pipeline_spark.sources import acid_table

        # Only the GENUINE no-table case means "nothing to consume".
        # head also raises RuntimeError for torn/lagging listings —
        # those are retryable store faults; swallowing them here would
        # return an offset BELOW the checkpointed end, Spark would plan
        # and commit an empty batch ending at the regressed offset, and
        # the next batch would replay commits already delivered —
        # duplicates in an exactly-once feed (ADVICE r14, medium). Let
        # them propagate so the trigger retries; and belt-and-braces,
        # never report a head below the configured start.
        if not acid_table._exists(self._path):
            return {"version": int(self._start)}
        head = max(acid_table.head(self._path), self._start)
        if self._max_commits is not None or self._max_bytes is not None:
            anchor = self._last_end
            if anchor is None:
                # first call of this planner process (the engine asks
                # latestOffset before initialOffset/partitions): bridge
                # through the persisted anchor, falling back to the
                # configured start for a table never streamed under
                # this anchor id (a genuinely fresh stream)
                persisted = self._load_anchor()
                anchor = persisted if persisted is not None else self._start
                self._last_end = anchor
            # the anchor is ≥ the checkpointed end (see __init__), so
            # the clamps can never regress below Spark's committed offset
            if self._max_commits is not None:
                head = min(head, anchor + self._max_commits)
            if self._max_bytes is not None and head > anchor:
                v, total = anchor, 0
                while v < head:
                    b = self._commit_feed_bytes(v + 1)
                    if total > 0 and total + b > self._max_bytes:
                        break  # soft cap: first commit always admits
                    total += b
                    v += 1
                head = max(v, anchor + 1)
        return {"version": int(head)}

    def _commit_feed_bytes(self, v: int) -> int:
        """Total on-disk bytes of one commit's feed files
        (``acid_table._commit_feed``; metadata-only commits are zero).
        Sizing only: a commit the feed refuses or cannot read counts as
        zero, so the advance still reaches it and partitions() raises."""
        from iot_data_pipeline_spark.sources import acid_table

        try:
            files, _ = acid_table._commit_feed(self._path, v)
            return sum(os.path.getsize(f) for f in files)
        except (OSError, ValueError):
            return 0

    def partitions(
        self, start: dict, end: dict
    ) -> Sequence[InputPartition]:
        _ensure_pkg(self._pkg_parent)
        from iot_data_pipeline_spark.sources import acid_table

        v_from, v_to = int(start["version"]), int(end["version"])
        # every planned batch re-anchors admission control — including
        # the WAL-pending batch a restarted query re-plans before its
        # first latestOffset, which is how a mid-drain restart resumes
        # BOUNDED instead of planning the whole remaining backlog
        self._note_end(v_to)
        # v_to came from a previous latestOffset, but an eventually-
        # consistent listing may REGRESS between calls: the plan raises
        # retryably rather than drop the hidden commits' deltas
        plan = acid_table._feed_plan(self._path, v_from, v_to)
        # physical→logical rename executors apply to each feed file: the
        # range is mapping-constant (a rename/drop commit in range raises
        # in the plan), so the once-resolved mapping serves every batch
        if not self._rename_ready:
            cm = acid_table._state(self._path, v_to).get("colmap")
            self._rename = (
                {p: l for l, p in cm.items()} if cm else None
            )
            self._rename_ready = True
        schema_json = self._schema.json()
        return [
            InputPartition(
                {
                    "file": f,
                    "change_type": tag,  # None: the tag travels in the file
                    "commit_version": v,
                    "schema_json": schema_json,
                    "rename": self._rename,
                }
            )
            for v, files, tag in plan
            for f in files
        ]

    def read(self, partition: InputPartition) -> Iterator:
        """Executor-side: read one feed file with pyarrow and yield Arrow
        RecordBatches aligned to the declared schema — files from before
        a widening NULL-fill the later columns; an UNDECLARED data column
        (a widening after stream start) fails loudly (restart the stream
        to adopt the wider schema)."""
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import to_arrow_schema
        from pyspark.sql.types import StructType as _St

        spec = partition.value
        declared = _St.fromJson(json.loads(spec["schema_json"]))
        target = to_arrow_schema(declared)
        t = pq.read_table(spec["file"])
        rename = spec.get("rename")
        if rename:
            # column-mapped table: feed files are physical; translate to
            # the logical names the declared schema speaks BEFORE the
            # undeclared-column check and the field alignment below
            t = t.rename_columns(
                [rename.get(n, n) for n in t.column_names]
            )
        data_names = [
            f.name
            for f in declared.fields
            if f.name not in ("change_type", "commit_version")
        ]
        extra = [
            n
            for n in t.column_names
            if n not in data_names and n != "change_type"
        ]
        if extra:
            raise ValueError(
                f"feed file {spec['file']} carries columns {extra} not in "
                "the stream's declared schema — the table widened after "
                "stream start; restart the stream to adopt the new schema"
            )
        n = len(t)
        arrays = []
        for field in target:
            if field.name == "commit_version":
                arrays.append(
                    pa.array([spec["commit_version"]] * n, field.type)
                )
            elif field.name == "change_type" and spec["change_type"]:
                arrays.append(pa.array([spec["change_type"]] * n, field.type))
            elif field.name in t.column_names:
                arrays.append(t[field.name].combine_chunks().cast(field.type))
            else:
                arrays.append(pa.nulls(n, field.type))
        aligned = pa.table(arrays, schema=target)
        yield from aligned.to_batches()

    def commit(self, end: dict) -> None:
        # exactly-once offsets live in Spark's own streaming checkpoint
        # (restart-safety is pinned in tests); the committed end only
        # re-anchors admission control — the one sidecar this source
        # keeps is the monotone clamp anchor, which is advisory for
        # batch SIZING and never consulted for batch CONTENT
        self._note_end(int(end["version"]))


class AcidCdfDataSource(DataSource):
    """``spark.readStream.format("acid_cdf").load(table_path)``."""

    @classmethod
    def name(cls) -> str:
        return "acid_cdf"

    def schema(self) -> StructType:
        _ensure_pkg(_PKG_PARENT)
        return _feed_schema(_table_path(self.options))

    def streamReader(self, schema: StructType) -> AcidCdfStreamReader:
        return AcidCdfStreamReader(schema, dict(self.options))


def register(spark) -> None:
    """Idempotent per-session registration of the source format. Also
    registers this module for cloudpickle BY-VALUE serialization: the
    planner worker that unpickles the DataSource lacks the addPyFile
    includes (module docstring), so the class must travel with the
    pickle, and its methods re-insert the repo root before importing
    the package at runtime."""
    registered = getattr(spark, "_acid_cdf_registered", False)
    if not registered:
        from pyspark import cloudpickle

        cloudpickle.register_pickle_by_value(sys.modules[__name__])
        spark.dataSource.register(AcidCdfDataSource)
        spark._acid_cdf_registered = True

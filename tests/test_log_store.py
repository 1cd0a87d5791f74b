"""LogStore contract tests (VERDICT r12 item 3).

The ACID format's guarantees must rest on the three-primitive LogStore
CONTRACT, not on POSIX link(2): these tests (a) pin the POSIX store's
atomicity under genuinely concurrent duplicate publishers, and (b) drive
real commits through a deliberately RACY fake — an object-store simulator
whose list() lags publishes (rename-visible-late) — and prove exactly-once
appends and linear versions still hold, because every writer that acts on
stale state loses the put_if_absent race and retries against fresher state.
"""

from __future__ import annotations

import os
import threading
from concurrent.futures import ThreadPoolExecutor

import pytest
from pyspark.sql import functions as F

from iot_data_pipeline_spark.sources import acid_table
from iot_data_pipeline_spark.sources.readers import load_table


def _target(spark, sf_dir):
    return load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )


class RacyLogStore(acid_table.LogStore):
    """Object-store simulator honoring ONLY the documented contract:

    - ``put_if_absent`` is atomic (lock-guarded name check) — the arbiter;
    - ``list`` LAGS: a published name becomes listable only after ``lag``
      further store operations (eventual consistency / rename-visible-
      late). Visibility is publish-ordered, so a listing is always a
      PREFIX of the publish history — lagging, never gapped;
    - ``read`` is read-your-writes: published-but-unlisted names resolve.

    Writers on stale listings compute already-taken versions, lose the
    put race (counted in ``conflicts``), and must win through retries.
    """

    def __init__(self, lag: int = 3):
        self._lock = threading.Lock()
        self._data: dict[tuple[str, str], str] = {}
        self._visible_at: dict[tuple[str, str], int] = {}
        self._op = 0
        self._lag = lag
        self.conflicts = 0

    def put_if_absent(self, log_dir: str, name: str, data: str) -> bool:
        with self._lock:
            self._op += 1
            k = (log_dir, name)
            if k in self._data:
                self.conflicts += 1
                return False
            self._data[k] = data
            self._visible_at[k] = self._op + self._lag
            return True

    def list(self, log_dir: str) -> list[str]:
        with self._lock:
            self._op += 1
            return [
                n
                for (d, n), vis in self._visible_at.items()
                if d == log_dir and vis <= self._op
            ]

    def read(self, log_dir: str, name: str) -> str:
        with self._lock:
            self._op += 1
            return self._data[(log_dir, name)]


@pytest.fixture
def racy_store():
    store = RacyLogStore(lag=3)
    prev = acid_table.set_log_store(store)
    try:
        yield store
    finally:
        acid_table.set_log_store(prev)


def _settle(path: str, version: int) -> None:
    """Spin until the lagging listing shows ``version`` (every probe is a
    store operation, so progress is guaranteed)."""
    for _ in range(200):
        try:
            if acid_table.head(path) >= version:
                return
        except RuntimeError:
            pass
    raise AssertionError(f"store never settled to v{version}")


def test_posix_duplicate_publishers_exactly_one_wins(tmp_path):
    """The arbiter primitive itself: 32 threads racing one name — exactly
    one True, the winner's content is what every reader sees, and the
    staging temp names never leak into listings."""
    store = acid_table.PosixLinkLogStore()
    d = str(tmp_path / "_log")
    barrier = threading.Barrier(32)

    def publish(i: int) -> bool:
        barrier.wait()
        return store.put_if_absent(d, "00000000000000000001.json", f"w{i}")

    with ThreadPoolExecutor(max_workers=32) as ex:
        wins = list(ex.map(publish, range(32)))
    assert sum(wins) == 1
    winner = wins.index(True)
    assert store.read(d, "00000000000000000001.json") == f"w{winner}"
    assert store.list(d) == ["00000000000000000001.json"]
    assert not [n for n in os.listdir(d) if n.startswith(".tmp-")]


def test_racy_store_parallel_writers_linear_versions(
    spark, sf_dir, tmp_path, racy_store
):
    """Six concurrent blind appends through a store whose listings lag:
    every writer commits, the committed versions are exactly 1..6 (linear,
    no holes, no doubles), the snapshot holds every row once, and the lag
    actually bit (at least one put conflict was exercised)."""
    path = str(tmp_path / "t")
    t = _target(spark, sf_dir).filter("o_orderkey <= 50")
    acid_table.create(t, path, "o_orderkey", n_files=1)
    _settle(path, 0)
    n0 = t.count()

    def write(i: int) -> int:
        return acid_table.append(
            t.withColumn("o_orderkey", F.col("o_orderkey") + 1000 * (i + 1)),
            path,
            n_files=1,
        )

    with ThreadPoolExecutor(max_workers=6) as ex:
        versions = sorted(ex.map(write, range(6)))
    assert versions == [1, 2, 3, 4, 5, 6]
    _settle(path, 6)
    assert acid_table.snapshot(spark, path).count() == 7 * n0
    assert racy_store.conflicts > 0, "the lag never produced a race"


def test_racy_store_epoch_redelivery_exactly_once(
    spark, sf_dir, tmp_path, racy_store
):
    """Exactly-once epoch appends survive the racy store: a redelivered
    epoch — even one whose first pre-check reads a STALE state that does
    not yet show the committed txn — must no-op (the stale writer computes
    a taken version, loses the put race, re-reads, and sees the txn),
    including across an interleaved maintenance commit."""
    path = str(tmp_path / "t")
    t = _target(spark, sf_dir).filter("o_orderkey <= 50")
    n0 = t.count()
    assert acid_table.append_exactly_once(t, path, 0, "o_orderkey") is True
    _settle(path, 0)
    e1 = t.withColumn("o_orderkey", F.col("o_orderkey") + 1000)
    assert acid_table.append_exactly_once(e1, path, 1, "o_orderkey") is True
    # redeliver epoch 1 IMMEDIATELY: the lagging list may still hide its
    # commit from the pre-check — exactly-once must hold anyway.
    assert acid_table.append_exactly_once(e1, path, 1, "o_orderkey") is False
    _settle(path, 1)
    acid_table.compact(spark, path, n_files=1)  # maintenance takes v2
    _settle(path, 2)
    # redelivery across the maintenance commit is still a no-op
    assert acid_table.append_exactly_once(e1, path, 1, "o_orderkey") is False
    snap = acid_table.snapshot(spark, path)
    assert snap.count() == 2 * n0
    # o_orderkey starts at 0 in the testdata, so the shifted epoch's keys
    # begin at exactly 1000
    assert snap.filter("o_orderkey >= 1000").count() == n0


def test_racy_store_snapshot_is_consistent_prefix(
    spark, sf_dir, tmp_path, racy_store
):
    """A reader on a lagging listing serves an OLDER snapshot, never a
    torn one: whatever head it resolves corresponds exactly to the rows of
    the commits it can list."""
    path = str(tmp_path / "t")
    t = _target(spark, sf_dir).filter("o_orderkey <= 50")
    acid_table.create(t, path, "o_orderkey", n_files=1)
    _settle(path, 0)
    n0 = t.count()
    acid_table.append(
        t.withColumn("o_orderkey", F.col("o_orderkey") + 1000), path, 1
    )
    # read immediately: the resolved head may be 0 (lag) or 1 — the rows
    # served must match exactly the version resolved, never a torn middle
    # (the version is pinned because each store call advances visibility)
    st = acid_table._state(path)
    assert acid_table.snapshot(
        spark, path, version=st["version"]
    ).count() == (n0 if st["version"] == 0 else 2 * n0)


def test_gapped_listing_fails_loudly_never_serves_a_tear(
    spark, sf_dir, tmp_path
):
    """A store that violates prefix-consistent listing (shows v2 while
    hiding v1) must make _state FAIL LOUDLY — replaying across the hole
    would skip v1's remove list and serve a snapshot that never existed
    (review finding, r13: the contract property is load-bearing)."""

    class GappedLogStore(acid_table.PosixLinkLogStore):
        def __init__(self):
            self.hide: set[str] = set()

        def list(self, log_dir: str) -> list[str]:
            return [
                n for n in super().list(log_dir) if n not in self.hide
            ]

    store = GappedLogStore()
    prev = acid_table.set_log_store(store)
    try:
        path = str(tmp_path / "t")
        t = _target(spark, sf_dir).filter("o_orderkey <= 50")
        acid_table.create(t, path, "o_orderkey", n_files=1)
        acid_table.append(
            t.withColumn("o_orderkey", F.col("o_orderkey") + 1000), path, 1
        )
        acid_table.append(
            t.withColumn("o_orderkey", F.col("o_orderkey") + 2000), path, 1
        )
        assert acid_table.head(path) == 2  # sane listing: all good
        store.hide = {"00000000000000000001.json"}  # v2 visible, v1 hidden
        with pytest.raises(RuntimeError, match="prefix-consistent"):
            acid_table._state(path)
    finally:
        acid_table.set_log_store(prev)


class HideLatestLogStore(acid_table.PosixLinkLogStore):
    """Lagging-but-prefix-consistent store: listings hide every manifest
    at or above ``hide_from`` (a publish-order suffix) — the exact shape
    of an eventually-consistent object-store listing right after a
    publish. ``None`` = healthy."""

    def __init__(self, hide_from: int | None = None):
        self.hide_from = hide_from

    def list(self, log_dir: str) -> list[str]:
        names = super().list(log_dir)
        if self.hide_from is None:
            return names
        hidden = {
            n
            for n in names
            if n.endswith(".json")
            and not n.endswith(".checkpoint.json")
            and n[:-5].isdigit()
            and int(n[:-5]) >= self.hide_from
        }
        return [n for n in names if n not in hidden]


def test_explicit_version_read_on_lagging_listing_fails_loudly(
    spark, sf_dir, tmp_path
):
    """ADVICE r13 (read path): an explicit time-travel read of a version
    the lagging listing hides must RAISE (retryable), never serve older
    state silently labeled with the requested version."""
    store = HideLatestLogStore()
    prev = acid_table.set_log_store(store)
    try:
        path = str(tmp_path / "t")
        t = _target(spark, sf_dir).filter("o_orderkey <= 50")
        acid_table.create(t, path, "o_orderkey", n_files=1)
        acid_table.append(
            t.withColumn("o_orderkey", F.col("o_orderkey") + 1000), path, 1
        )
        store.hide_from = 1  # v1 published but not yet listable
        with pytest.raises(RuntimeError, match="not visible"):
            acid_table._state(path, 1)
        with pytest.raises(RuntimeError, match="not visible"):
            acid_table.snapshot(spark, path, version=1).count()
        # implicit (latest) reads still serve the lagging prefix: v0
        assert acid_table._state(path)["version"] == 0
        store.hide_from = None
        assert acid_table.snapshot(spark, path, version=1).count() > 0
    finally:
        acid_table.set_log_store(prev)


def test_checkpoint_on_lagging_listing_is_skipped_never_stale(
    spark, sf_dir, tmp_path
):
    """ADVICE r13 (high): _write_checkpoint builds its rollup via
    _state(path, v) for the version _publish just committed. On a store
    whose listing lags that publish, the old code silently rolled up
    v-lag state under the name v — later replays starting from that
    checkpoint would permanently drop the hidden commits. Now _state
    raises, _publish degrades to a SKIPPED checkpoint, and the table
    stays correct; once the listing heals, the next boundary writes a
    good checkpoint."""
    store = HideLatestLogStore()
    prev = acid_table.set_log_store(store)
    try:
        path = str(tmp_path / "t")
        t = _target(spark, sf_dir).filter("o_orderkey <= 50")
        n0 = t.count()
        acid_table.create(t, path, "o_orderkey", n_files=1)
        # commits 1..9 under a healthy listing
        for i in range(1, 10):
            acid_table.append(
                t.withColumn("o_orderkey", F.col("o_orderkey") + 1000 * i),
                path,
                1,
            )
        store.hide_from = 10  # v10's own publish will not be listable
        acid_table.append(
            t.withColumn("o_orderkey", F.col("o_orderkey") + 10000), path, 1
        )
        log_dir = os.path.join(path, "_log")
        cps = [
            n
            for n in os.listdir(log_dir)
            if n.endswith(".checkpoint.json")
        ]
        assert cps == [], f"stale checkpoint was written: {cps}"
        store.hide_from = None
        # table intact: every commit's rows readable
        assert acid_table.snapshot(spark, path).count() == 11 * n0
        # the next boundary (v20) checkpoints fine under a healed listing
        for i in range(11, 21):
            acid_table.append(
                t.withColumn("o_orderkey", F.col("o_orderkey") + 1000 * i),
                path,
                1,
            )
        cps = [
            n
            for n in os.listdir(log_dir)
            if n.endswith(".checkpoint.json")
        ]
        assert cps == [f"{20:020d}.checkpoint.json"]
        assert acid_table.snapshot(spark, path).count() == 21 * n0
    finally:
        acid_table.set_log_store(prev)


def test_constraint_rejection_is_atomic_through_racy_store(
    spark, sf_dir, racy_store, tmp_path
):
    """A CHECK-violating append through the racy store must leave ZERO
    trace: no manifest version consumed, no data file moved under data/,
    and a concurrent valid append landing right after sees a clean
    table. Also: the constraint-change abort rule — an append that loses
    its publish race to a concurrent ADD CONSTRAINT must abort rather
    than commit unvalidated data."""
    path = str(tmp_path / "t")
    t = _target(spark, sf_dir).limit(300)
    acid_table.create(t, path, "o_orderkey", n_files=2)
    _settle(path, 0)
    acid_table.add_constraint(spark, path, "pos", "o_totalprice > 0")
    _settle(path, 1)
    n_data = len(os.listdir(os.path.join(path, "data")))
    bad = t.withColumn("o_totalprice", -F.col("o_totalprice")).limit(10)
    with pytest.raises(ValueError, match="rejected atomically"):
        acid_table.append(bad, path)
    assert acid_table.head(path) == 1
    assert len(os.listdir(os.path.join(path, "data"))) == n_data
    # valid append still lands through the lagging listing
    v = acid_table.append(
        t.withColumn("o_orderkey", F.col("o_orderkey") + 10_000_000),
        path,
    )
    assert v == 2
    _settle(path, 2)
    assert acid_table.snapshot(spark, path).count() == 600
    # lost-race-to-constraint-change aborts: simulate by committing an
    # ADD CONSTRAINT between this append's validation and its publish
    real_publish = acid_table._publish
    state = {"fired": False}

    def constraint_then_publish(p, manifest):
        if not state["fired"] and manifest.get("op") == "append":
            state["fired"] = True
            _settle(p, 2)
            st = acid_table._state(p)
            real_publish(
                p,
                {
                    "version": st["version"] + 1,
                    "op": "add-constraint",
                    "key": st["key"],
                    "schema": st.get("schema"),
                    "constraints": {
                        **(st.get("constraints") or {}),
                        "tight": "o_totalprice > 1e18",
                    },
                    "add": [],
                    "remove": [],
                },
            )
        return real_publish(p, manifest)

    acid_table.set_log_store(racy_store)  # keep store; patch publish
    import unittest.mock as _mock

    with _mock.patch.object(
        acid_table, "_publish", side_effect=constraint_then_publish
    ):
        with pytest.raises(RuntimeError, match="constraint change"):
            acid_table.append(
                t.withColumn(
                    "o_orderkey", F.col("o_orderkey") + 20_000_000
                ),
                path,
            )


def test_conflict_matrix_maintenance_ops_abort_and_rerun(
    spark, sf_dir, tmp_path
):
    """WriteSerializable conflict matrix (VERDICT r14 item 6) for every
    ordered pair of {DELETE, MERGE, OPTIMIZE, RESTORE} racing on one
    table. The documented semantics (Delta's rule for derived-state
    commits): these four ops do NOT retry — their rewrite decisions are
    derived from the live-file set they read, so losing the version race
    invalidates the decision itself. Pinned per cell: (1) the loser
    RAISES (RuntimeError version race, never a silent wrong commit);
    (2) the winner's commit is intact and the snapshot readable; (3) the
    loser's orphaned files are invisible to readers; (4) RE-RUNNING the
    loser against fresh state succeeds (or no-ops legitimately). Blind
    appends are the one retrying op (see the append race tests)."""
    import unittest.mock as mock

    def fresh_table(name):
        path = str(tmp_path / name)
        t = _target(spark, sf_dir).limit(400)
        acid_table.create(t, path, "o_orderkey", n_files=4)
        # a journaled baseline delete gives RESTORE a real rewind target
        acid_table.delete(spark, path, "o_orderkey % 17 = 0")
        return path

    def op_delete(path):
        return acid_table.delete(spark, path, "o_orderkey % 5 = 0")

    def op_merge(path):
        src = (
            _target(spark, sf_dir)
            .limit(50)
            .withColumn("o_orderstatus", F.lit("U"))
        )
        return acid_table.merge(spark, src, path)

    def op_compact(path):
        return acid_table.compact(spark, path, n_files=1)

    def op_restore(path):
        return acid_table.restore(path, 0)

    ops = {
        "delete": op_delete,
        "merge": op_merge,
        "compact": op_compact,
        "restore": op_restore,
    }
    for loser_name, loser in ops.items():
        for winner_name, winner in ops.items():
            path = fresh_table(f"{loser_name}_vs_{winner_name}")
            head0 = acid_table.head(path)
            real_publish = acid_table._publish
            state = {"armed": True}

            def winner_then_publish(p, manifest, _w=winner):
                if state["armed"]:
                    state["armed"] = False  # the winner publishes clean
                    _w(p)
                return real_publish(p, manifest)

            with mock.patch.object(
                acid_table, "_publish", side_effect=winner_then_publish
            ):
                with pytest.raises(RuntimeError):
                    loser(path)
            # winner intact, exactly one commit past baseline
            assert acid_table.head(path) == head0 + 1, (
                f"{loser_name} vs {winner_name}"
            )
            assert acid_table.snapshot(spark, path).count() > 0
            # loser re-runs clean against fresh state; the table stays
            # readable and the log advances only by committed versions
            loser(path)
            assert acid_table.snapshot(spark, path).count() > 0
            assert acid_table.head(path) >= head0 + 1

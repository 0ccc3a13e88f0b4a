"""Ports of RunsTest.scala and RunsStatusTest.scala against both ledger
backends (Parquet, and Derby over JDBC), including the upsert-on-conflict
semantics and the RunStatus started/ended reset; then the Parquet
backend's concurrency and CAS commit protocol."""

from __future__ import annotations


# integration-style tier: excluded from the default fast gate run
# (pytest.ini); the full suite runs with -m "slow or not slow"
import pytest

pytestmark = pytest.mark.slow

from datetime import datetime, timedelta


from dig_aggregator_core_spark.plans.inputs import Input
from dig_aggregator_core_spark.plans.ledger import RunsLedger, RunStatusLedger
from dig_aggregator_core_spark.sources.jdbcio import (
    JdbcRunsLedger,
    JdbcRunStatusLedger,
    derby_url,
    scratch_db,
    table_exists,
)

T0 = datetime(2026, 1, 1, 0, 0, 0)


def inp(name: str, offset_s: int = 0) -> Input:
    return Input(name, T0 + timedelta(seconds=offset_s))


# the reference ports run on every backend; the rest of the module is
# about the Parquet backend, the default
BACKENDS = pytest.mark.parametrize("backend", ["parquet", "derby"], indirect=True)
_JDBC = {RunsLedger: JdbcRunsLedger, RunStatusLedger: JdbcRunStatusLedger}


@pytest.fixture()
def backend(request):
    return getattr(request, "param", "parquet")


@pytest.fixture()
def ledger(backend, spark, tmp_path):
    """`ledger(cls)` builds a `cls` ledger of ("test", "TestMethod") on
    `backend`: Parquet under tmp_path, or a table in a Derby database,
    dropped at teardown."""
    url = derby_url(scratch_db("ledger_ports"))
    made = {}

    def make(cls):
        if backend == "parquet":
            return cls(spark, str(tmp_path / cls.NAME), "test", "TestMethod")
        made[cls.NAME] = _JDBC[cls](spark, url, "test", "TestMethod")
        return made[cls.NAME]

    yield make
    for name, db in made.items():
        if table_exists(spark, url, name):
            db.drop()


@pytest.fixture()
def runs(ledger):
    return ledger(RunsLedger)


@pytest.fixture()
def status(ledger):
    return ledger(RunStatusLedger)


# --- RunsTest.scala ---


@BACKENDS
def test_runs_migrate(runs):
    runs.migrate()
    assert runs.all() == []
    runs.migrate()  # idempotent
    assert runs.all() == []


@BACKENDS
def test_runs_insert_delete_single(runs):
    runs.migrate()
    runs.insert("TestStage", "o1", [inp("i1")])
    assert len(runs.all()) == 1
    assert runs.delete("TestStage", "o1") == 1
    assert runs.all() == []


@BACKENDS
def test_runs_insert_delete_multiple(runs):
    inputs = [inp(str(n), n) for n in range(1, 7)]
    runs.migrate()
    runs.insert("TestStage", "o1", inputs[:3])
    runs.insert("TestStage", "o2", inputs[3:])

    results = runs.of("TestStage").collect()
    assert len(results) == 6
    i1 = {(r.input, r.version) for r in results if r.output == "o1"}
    i2 = {(r.input, r.version) for r in results if r.output == "o2"}
    assert i1 == {(i.key, i.version) for i in inputs[:3]}
    assert i2 == {(i.key, i.version) for i in inputs[3:]}

    runs.delete("TestStage", "o1")
    runs.delete("TestStage", "o2")
    assert runs.all() == []


@BACKENDS
def test_runs_upsert_same_key_new_version(runs):
    """RunsTest 'update output with changed inputs': re-inserting the same
    (input, output) key with a new version REPLACES the row."""
    inputs = [inp(str(n), n) for n in range(1, 4)]
    runs.migrate()
    runs.insert("TestStage", "o", inputs)
    assert {(r.input, r.version) for r in runs.all()} == {
        (i.key, i.version) for i in inputs
    }

    new_inputs = [inp(str(n), n) for n in range(4, 7)]
    runs.insert("TestStage", "o", new_inputs)
    assert {(r.input, r.version) for r in runs.all()} == {
        (i.key, i.version) for i in inputs + new_inputs
    }

    updated = [inp(i.key, 100) for i in inputs]  # same keys, newer versions
    runs.insert("TestStage", "o", updated)
    assert {(r.input, r.version) for r in runs.all()} == {
        (i.key, i.version) for i in new_inputs + updated
    }
    assert len(runs.all()) == 6  # upsert, not append

    runs.delete("TestStage", "o")
    assert runs.all() == []


@BACKENDS
def test_runs_scoped_to_project_method_stage(runs, ledger):
    runs.migrate()
    runs.insert("TestStage", "o1", [inp("i1")])
    other = ledger(RunsLedger)
    assert other.of("OtherStage").count() == 0
    assert other.of("TestStage").count() == 1


# --- RunsStatusTest.scala ---


@BACKENDS
def test_status_migrate(status):
    status.migrate()
    assert status.all() == []


@BACKENDS
def test_status_insert_delete(status):
    status.migrate()
    status.insert("TestStage", "o1")
    assert len(status.all()) == 1
    status.delete("TestStage", "o1")
    assert status.all() == []

    status.insert("TestStage", "o1")
    status.insert("TestStage", "o2")
    results = status.of("TestStage").collect()
    assert len(results) == 2
    assert len([r for r in results if r.output == "o1"]) == 1
    assert len([r for r in results if r.output == "o2"]) == 1
    status.delete("TestStage", "o1")
    status.delete("TestStage", "o2")
    assert status.all() == []


@BACKENDS
def test_status_lifecycle_and_reset(status):
    """RunsStatusTest 'update output, removing start / end': re-insert of
    the same key blanks started/ended (RunStatus.scala:79-83)."""
    status.migrate()
    status.insert("TestStage", "o")
    (row,) = status.of("TestStage").collect()
    assert row.started is None and row.ended is None

    status.start("TestStage", "o")
    (row,) = status.of("TestStage").collect()
    assert row.started is not None and row.ended is None

    status.end("TestStage", "o")
    (row,) = status.of("TestStage").collect()
    assert row.started is not None and row.ended is not None

    status.insert("TestStage", "o")  # re-insert resets
    (row,) = status.of("TestStage").collect()
    assert row.started is None and row.ended is None
    assert len(status.all()) == 1

    status.delete("TestStage", "o")
    assert status.all() == []


# --- concurrent-writer safety (reference gets this from MySQL's
# ON DUPLICATE KEY UPDATE, Runs.scala:93-102; the Parquet ledger gets it
# from the flock around each read-merge-write cycle) ---


def test_runs_concurrent_upserts_lose_nothing(runs):
    """Two writers upserting simultaneously: both writers' rows must land
    (no lost update from both merging the same stale snapshot), and the
    one overlapping key must resolve to exactly one of the two versions —
    RunsTest.scala's upsert semantics, under concurrency."""
    import threading

    runs.migrate()
    barrier = threading.Barrier(2)
    errors: list[BaseException] = []

    def writer(tag: str) -> None:
        try:
            barrier.wait(timeout=30)
            for n in range(3):
                runs.insert(
                    "TestStage",
                    f"out_{tag}_{n}",
                    [inp(f"in_{tag}_{n}", n)],
                )
            # both writers also hit ONE shared key with different versions
            runs.insert("TestStage", "shared_out", [inp("shared_in", 99)])
        except BaseException as e:  # noqa: BLE001
            errors.append(e)

    ts = [threading.Thread(target=writer, args=(t,)) for t in ("a", "b")]
    for t in ts:
        t.start()
    for t in ts:
        t.join(timeout=300)
    assert not errors, errors

    rows = runs.all()
    outputs = {r["output"] for r in rows}
    expected = {f"out_{t}_{n}" for t in ("a", "b") for n in range(3)}
    assert expected <= outputs, expected - outputs
    # upsert-on-conflict: the shared key exists exactly once
    shared = [r for r in rows if r["output"] == "shared_out"]
    assert len(shared) == 1
    assert len(rows) == 7


def test_status_concurrent_inserts_lose_nothing(status):
    import threading

    status.migrate()
    barrier = threading.Barrier(2)
    errors: list[BaseException] = []

    def writer(tag: str) -> None:
        try:
            barrier.wait(timeout=30)
            status.insert_many("TestStage", [f"o_{tag}_{n}" for n in range(3)])
            status.end("TestStage", f"o_{tag}_0")
        except BaseException as e:  # noqa: BLE001
            errors.append(e)

    ts = [threading.Thread(target=writer, args=(t,)) for t in ("a", "b")]
    for t in ts:
        t.start()
    for t in ts:
        t.join(timeout=300)
    assert not errors, errors

    rows = {r["output"]: r for r in status.all()}
    assert set(rows) == {f"o_{t}_{n}" for t in ("a", "b") for n in range(3)}
    assert rows["o_a_0"]["ended"] is not None
    assert rows["o_b_0"]["ended"] is not None


# --- CAS publish path: the object-store-portable protocol (flock disabled) ---


@pytest.fixture()
def runs_no_flock(runs, monkeypatch):
    """The same ledger with the flock fast path turned OFF, so writer
    safety rests ENTIRELY on the stage-then-atomic-publish CAS loop —
    the protocol an object-store deployment (conditional put) relies on,
    where flock does not exist."""
    from contextlib import contextmanager

    from dig_aggregator_core_spark.plans import ledger as ledger_mod

    @contextmanager
    def no_lock(self):
        import os

        os.makedirs(self.path, exist_ok=True)
        yield

    monkeypatch.setattr(ledger_mod._VersionedTable, "locked", no_lock)
    return runs


def test_cas_publish_rejects_stale_version(runs_no_flock):
    """A staged commit whose base version was superseded must LOSE the
    publish race (rename onto the existing non-empty version dir fails)
    and be cleaned up — the primitive the retry loop is built on."""
    import os

    runs = runs_no_flock
    runs.migrate()
    t = runs.table
    staged = t._stage(t.snapshot())  # snapshot at v=0, would publish as v=1
    runs.insert("TestStage", "winner", [inp("w", 1)])  # commits v=1 first
    assert t._publish(staged, 1) is False
    assert not os.path.exists(staged)  # loser's staging cleaned up
    assert {r["output"] for r in runs.all()} == {"winner"}


def test_cas_concurrent_upserts_lose_nothing_without_flock(runs_no_flock):
    """Concurrent writers with NO lock at all: every commit built on a
    stale snapshot loses the atomic publish and re-merges, so no writer's
    rows are lost — MySQL ON DUPLICATE KEY UPDATE semantics
    (Runs.scala:93-102) from optimistic concurrency alone."""
    import threading

    runs = runs_no_flock
    runs.migrate()
    barrier = threading.Barrier(3)
    errors: list[BaseException] = []

    def writer(tag: str) -> None:
        try:
            barrier.wait(timeout=30)
            for n in range(2):
                runs.insert(
                    "TestStage", f"out_{tag}_{n}", [inp(f"in_{tag}_{n}", n)]
                )
            runs.insert("TestStage", "shared_out", [inp("shared_in", 99)])
        except BaseException as e:  # noqa: BLE001
            errors.append(e)

    ts = [threading.Thread(target=writer, args=(t,)) for t in ("a", "b", "c")]
    for t in ts:
        t.start()
    for t in ts:
        t.join(timeout=300)
    assert not errors, errors

    rows = runs.all()
    outputs = {r["output"] for r in rows}
    expected = {f"out_{t}_{n}" for t in ("a", "b", "c") for n in range(2)}
    assert expected <= outputs, expected - outputs
    shared = [r for r in rows if r["output"] == "shared_out"]
    assert len(shared) == 1
    assert len(rows) == 7


def test_cas_retries_when_pinned_snapshot_expires(runs_no_flock):
    """If the pinned v=base snapshot is GC'd between pin and stage (other
    writers committed and collected it), the cycle fails with a
    missing-file error — the loop must treat that as a lost race and
    re-merge, not surface an error (the expired-snapshot shape every
    versioned table format has)."""
    runs = runs_no_flock
    runs.migrate()
    t = runs.table
    real_stage = type(t)._stage
    calls = {"n": 0}

    def flaky_stage(self, table):
        calls["n"] += 1
        if calls["n"] == 1:
            raise FileNotFoundError(2, "Failed to open local file", "v=0")
        return real_stage(self, table)

    import pytest as _pytest

    mp = _pytest.MonkeyPatch()
    try:
        mp.setattr(type(t), "_stage", flaky_stage)
        runs.insert("TestStage", "after_expiry", [inp("i", 1)])
    finally:
        mp.undo()
    assert calls["n"] == 2  # first attempt lost, second committed
    assert {r["output"] for r in runs.all()} == {"after_expiry"}


@pytest.mark.parametrize("when", ["before_read", "after_read"])
def test_cas_retries_when_pinned_version_is_really_removed(
    runs_no_flock, spark, monkeypatch, when
):
    """Other writers commit three versions while one writer's cycle is
    between pinning v=base and staging, so _gc really removes v=base:
    before the eager snapshot read (the read finds no file) or after it
    (the publish onto base+1 loses). Either way the writer re-merges onto
    the newest version and no row is lost."""
    import os

    runs = runs_no_flock
    runs.migrate()
    runs.insert("TestStage", "first", [inp("f", 1)])  # v=1
    t = runs.table
    other = RunsLedger(spark, t.path, "test", "TestMethod")
    real_read = type(t)._read_arrow
    pinned: list[int] = []

    def interlude(v):
        pinned.append(v)
        for n in range(3):
            other.insert("TestStage", f"other_{n}", [inp(f"o{n}", n)])
        assert not os.path.exists(f"{t.path}/v={v}")  # really gone

    def racing_read(self, v):
        if self is not t or pinned:
            return real_read(self, v)
        if when == "before_read":
            interlude(v)
            return real_read(self, v)
        table = real_read(self, v)
        interlude(v)
        return table

    monkeypatch.setattr(type(t), "_read_arrow", racing_read)
    runs.insert("TestStage", "racer", [inp("r", 1)])
    assert pinned == [1]
    assert {r["output"] for r in runs.all()} == {
        "first", "other_0", "other_1", "other_2", "racer"
    }
    assert t._versions()[-1] == 5


def test_cas_publish_propagates_real_failures(runs_no_flock, monkeypatch):
    """A non-contention OSError out of the rename (EACCES, ENOSPC, EXDEV)
    is a genuine failure and must PROPAGATE — treating it as a lost race
    silently skipped CREATE in migrate() and burned all 16 retries into a
    misleading 'lost races' error in the commit loop (ADVICE r7)."""
    import errno
    import os as _os

    runs = runs_no_flock
    runs.migrate()
    t = runs.table

    def denied(src, dst):
        raise OSError(errno.EACCES, "Permission denied", dst)

    staged = t._stage(t.snapshot())
    monkeypatch.setattr(_os, "rename", denied)
    with pytest.raises(OSError) as ei:
        t._publish(staged, 1)
    assert ei.value.errno == errno.EACCES
    monkeypatch.undo()
    assert not _os.path.exists(staged)  # still cleaned up


def test_cas_publish_enoent_source_is_lost_race(runs_no_flock):
    """ENOENT on the rename SOURCE means a peer's _gc reaped our staged
    dir (stage-to-publish window exceeded the orphan grace, or cross-node
    clock skew on a shared filesystem). The staged data is gone, so the
    correct move is a lost race — return False so the commit loop
    re-merges and re-stages — not a hard failure (ADVICE r8)."""
    import shutil

    runs = runs_no_flock
    runs.migrate()
    t = runs.table

    staged = t._stage(t.snapshot())
    shutil.rmtree(staged)  # simulate a peer's orphan reaper
    assert t._publish(staged, 1) is False


def test_gc_reaps_stale_staged_orphans(runs):
    """A writer that crashes between stage and publish leaves a
    .staged-<uuid> dir; version GC never matched it, so it accumulated
    forever on the shared ledger path. _gc must reap orphans older than
    the grace period and leave fresh (possibly live) ones alone."""
    import os
    import time

    runs.migrate()
    t = runs.table
    old = os.path.join(t.path, ".staged-deadbeef")
    fresh = os.path.join(t.path, ".staged-cafebabe")
    os.makedirs(old)
    os.makedirs(fresh)
    past = time.time() - t._STAGED_ORPHAN_GRACE_S - 60
    os.utime(old, (past, past))
    runs.insert("TestStage", "o1", [inp("i1")])  # commit path runs _gc
    assert not os.path.exists(old), "stale orphan must be reaped"
    assert os.path.exists(fresh), "fresh staged dir may belong to a live writer"


_CAS_WORKER = r"""
import sys
from datetime import datetime
from contextlib import contextmanager

repo, tag, path = sys.argv[1], sys.argv[2], sys.argv[3]
sys.path.insert(0, repo)

from pyspark.sql import SparkSession
from dig_aggregator_core_spark.plans import ledger as ledger_mod
from dig_aggregator_core_spark.plans.inputs import Input
from dig_aggregator_core_spark.plans.ledger import RunsLedger


@contextmanager
def no_lock(self):
    import os
    os.makedirs(self.path, exist_ok=True)
    yield


# CAS only: flock OFF, so nothing serializes these PROCESSES but the
# stage-then-atomic-publish protocol itself
ledger_mod._VersionedTable.locked = no_lock

spark = (
    SparkSession.builder.master("local[2]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "2")
    .appName(f"cas-worker-{tag}")
    .getOrCreate()
)
runs = RunsLedger(spark, path, "test", "TestMethod")
runs.migrate()
for n in range(2):
    runs.insert(
        "TestStage", f"out_{tag}_{n}", [Input(f"in_{tag}_{n}", datetime(2026, 1, 1))]
    )
runs.insert("TestStage", "shared_out", [Input("shared_in", datetime(2026, 1, 1))])
spark.stop()
"""


def test_cas_multiprocess_writers_lose_nothing(runs, tmp_path):
    """TRUE multi-process CAS contention (VERDICT r7 task 7): the threaded
    tests above share one interpreter, where flock's same-fd semantics and
    the GIL can mask races. Spawn separate interpreter PROCESSES — each
    with its own SparkSession and flock disabled — upserting disjoint and
    overlapping keys onto one ledger path; the atomic-rename publish is
    the only serialization. Every disjoint row must survive and the
    overlapping key must upsert to exactly one row."""
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = tmp_path / "cas_worker.py"
    script.write_text(_CAS_WORKER)
    tags = ("p1", "p2", "p3")
    procs = [
        subprocess.Popen(
            [sys.executable, str(script), repo, tag, runs.table.path],
            stdout=subprocess.PIPE,
            stderr=subprocess.PIPE,
            text=True,
        )
        for tag in tags
    ]
    outs = [p.communicate(timeout=600) for p in procs]
    for p, (out, err) in zip(procs, outs):
        assert p.returncode == 0, f"worker failed:\n{out}\n{err[-3000:]}"

    rows = runs.all()
    outputs = {r["output"] for r in rows}
    expected = {f"out_{t}_{n}" for t in tags for n in range(2)}
    assert expected <= outputs, expected - outputs
    assert len([r for r in rows if r["output"] == "shared_out"]) == 1
    assert len(rows) == 7

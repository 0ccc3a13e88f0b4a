"""The ledger's Arrow path in the fast tier: merges on the driver (upsert,
delete, the RunStatus reset), exact timestamp round trips through Spark,
versions Spark wrote as INT96, a no-op Stage.run that launches no Spark
job, per-output job groups, and what a stage commits when a job raises."""

from __future__ import annotations

import os
import threading
import time
from datetime import datetime, timedelta

import pyarrow.parquet as pq
import pytest

from dig_aggregator_core_spark.plans.context import Context
from dig_aggregator_core_spark.plans.inputs import Input, Source
from dig_aggregator_core_spark.plans.ledger import (
    RUNS_SCHEMA,
    TS,
    RunsLedger,
    RunStatusLedger,
    fresh,
)
from dig_aggregator_core_spark.plans.opts import Opts
from dig_aggregator_core_spark.plans.outputs import Named
from dig_aggregator_core_spark.plans.stage import Stage

T0 = datetime(2026, 1, 1, 0, 0, 0)
# sub-millisecond digits: a lossy conversion anywhere shows here
US = datetime(2026, 3, 4, 5, 6, 7, 891011)


def at(seconds: float) -> datetime:
    return T0 + timedelta(seconds=seconds)


def rows(table, *cols) -> list[tuple]:
    """Sorted tuples of `cols`, timestamps as naive UTC datetimes."""
    out = []
    for r in table.select(list(cols)).to_pylist():
        out.append(
            tuple(
                v.replace(tzinfo=None) if isinstance(v, datetime) else v
                for v in r.values()
            )
        )
    return sorted(out, key=repr)


@pytest.fixture()
def runs(spark, tmp_path):
    r = RunsLedger(spark, str(tmp_path / "runs"), "test", "TestMethod")
    r.migrate()
    return r


@pytest.fixture()
def status(spark, tmp_path):
    s = RunStatusLedger(spark, str(tmp_path / "runstatus"), "test", "TestMethod")
    s.migrate()
    return s


# --- merge semantics on the Arrow path ---


def test_upsert_replaces_key_and_keeps_the_rest(runs):
    runs.insert("S", "o1", [Input("a", at(1)), Input("b", at(2))], now=at(10))
    runs.insert("S", "o2", [Input("a", at(1))], now=at(10))
    runs.insert("T", "o1", [Input("a", at(1))], now=at(10))
    # same (stage, input, output) key: version and timestamp replaced
    runs.insert("S", "o1", [Input("a", at(5))], now=at(20))

    assert rows(runs.snapshot("S"), "output", "input", "timestamp") == [
        ("o1", "a", at(20)),
        ("o1", "b", at(10)),
        ("o2", "a", at(10)),
    ]
    assert rows(runs.snapshot("T"), "output", "input", "timestamp") == [
        ("o1", "a", at(10))
    ]
    assert runs.table.snapshot().num_rows == 4  # upsert, not append
    assert rows(runs.table.snapshot().filter(
        runs._scope("S")), "input", "version", "output"
    ) == [("a", at(1), "o2"), ("a", at(5), "o1"), ("b", at(2), "o1")]


def test_delete_counts_and_scopes(runs):
    runs.insert("S", "o1", [Input("a", T0), Input("b", T0)])
    runs.insert("S", "o2", [Input("a", T0)])
    runs.insert("T", "o1", [Input("a", T0)])
    before = runs.table._versions()

    assert runs.delete("S", "nope") == 0
    assert runs.table._versions() == before  # nothing matched: no new version

    assert runs.delete("S", "o1") == 2
    assert rows(runs.snapshot("S"), "output", "input") == [("o2", "a")]
    assert rows(runs.snapshot("T"), "output", "input") == [("o1", "a")]


def test_runstatus_lifecycle_and_reset(status):
    status.insert_many("S", ["o1", "o2"], now=at(1))
    status.start_many("S", ["o1", "o2"], now=at(2))
    status.end("S", "o1", now=at(3))

    def state():
        return rows(status.table.snapshot(), "output", "started", "ended", "created")

    assert state() == [("o1", at(2), at(3), at(1)), ("o2", at(2), None, at(1))]

    status.insert("S", "o1", now=at(4))  # re-insert RESETS started/ended
    assert state() == [("o1", None, None, at(4)), ("o2", at(2), None, at(1))]

    status.start("T", "o2", now=at(5))  # another stage's key: untouched
    assert state() == [("o1", None, None, at(4)), ("o2", at(2), None, at(1))]


# --- exact timestamps through Spark ---


def test_spark_reads_back_exact_naive_datetimes(runs, status):
    runs.insert("S", "o", [Input("k", US)], now=US + timedelta(microseconds=1))
    (row,) = runs.of("S").collect()
    assert row.version == US
    assert row.timestamp == US + timedelta(microseconds=1)
    assert [tuple(r) for r in runs.all()] == [
        ("test", "TestMethod", "S", "k", US, "o", US + timedelta(microseconds=1))
    ]

    status.insert("S", "o", now=US)
    status.start("S", "o", now=US + timedelta(microseconds=2))
    status.end("S", "o", now=US + timedelta(microseconds=3))
    (row,) = status.of("S").collect()
    assert (row.created, row.started, row.ended) == (
        US,
        US + timedelta(microseconds=2),
        US + timedelta(microseconds=3),
    )


@pytest.fixture()
def new_york(monkeypatch):
    """The process zone as US Eastern with DST (a POSIX rule, no tzdata)."""
    monkeypatch.setenv("TZ", "EST+5EDT,M3.2.0,M11.1.0")
    time.tzset()
    yield
    monkeypatch.undo()
    time.tzset()


def test_non_utc_process_zone_matches_spark(spark, runs, new_york):
    summer = datetime(2026, 7, 4, 5, 6, 7, 891011)  # DST; US is not
    runs.insert("S", "o", [Input("w", US), Input("s", summer)], now=summer)
    assert sorted(
        (r.input, r.version, r.timestamp) for r in runs.of("S").collect()
    ) == [("s", summer, summer), ("w", US, summer)]

    # the stored instants are the ones Spark derives from the same values
    built = spark.createDataFrame(
        [
            ("test", "TestMethod", "S", "s", summer, "o", summer),
            ("test", "TestMethod", "S", "w", US, "o", summer),
        ],
        RUNS_SCHEMA,
    ).toArrow()
    ours = runs.table.snapshot()
    for col in ("version", "timestamp"):
        assert sorted(ours[col].to_pylist()) == sorted(
            built[col].cast(TS).to_pylist()
        )

    # equal version: fresh; one microsecond earlier: covered — against the
    # Arrow snapshot and a Spark-read one alike
    pairs = [("o", "s", summer), ("o", "w", summer - timedelta(microseconds=1))]
    assert fresh(runs.snapshot("S"), pairs) == [0]
    spark_read = runs.of("S").select("output", "input", "timestamp").toArrow()
    assert fresh(spark_read, pairs) == [0]


# --- a version written by the earlier Spark write path ---


class OneOutput(Stage):
    sources = [Source("d/*/", "*")]

    def __init__(self, context, job=None):
        super().__init__(context)
        self.ran: list[str] = []
        self.job = job

    def rules(self, input_):
        return Named(self.sources[0].captures(input_)[0])

    def make(self, output):
        def job(ctx):
            if self.job is not None:
                self.job(ctx)
            self.ran.append(output)

        return job


def make_context(spark, tmp_path, listing) -> Context:
    ctx = Context(
        spark=spark,
        project="test",
        method_name="TestMethod",
        warehouse=str(tmp_path),
        lister=lambda prefix: [kv for kv in listing if kv[0].startswith(prefix)],
    )
    ctx.runs.migrate()
    ctx.runstatus.migrate()
    return ctx


def test_spark_written_int96_version_merges_and_antijoins(spark, tmp_path):
    listing = [("d/x/same", US), ("d/x/later", US), ("d/y/new", US)]
    ctx = make_context(spark, tmp_path, listing)
    # v=1 as the Spark write path left it: coalesce(1).write, INT96
    old = [
        ("test", "TestMethod", "OneOutput", "d/x/same", US, "x", US),  # equal: fresh
        ("test", "TestMethod", "OneOutput", "d/x/later", US, "x", US + timedelta(microseconds=1)),
        ("test", "TestMethod", "T", "d/y/new", US, "y", US + timedelta(days=1)),
    ]
    v1 = f"{ctx.runs.table.path}/v=1"
    spark.createDataFrame(old, RUNS_SCHEMA).coalesce(1).write.parquet(v1)
    (part,) = [f for f in os.listdir(v1) if f.endswith(".parquet")]
    physical = pq.ParquetFile(os.path.join(v1, part)).schema.column(4).physical_type
    assert physical == "INT96"

    stage = OneOutput(ctx)
    work = stage.get_work(Opts())
    assert {o: {i.key for i in s} for o, s in work.items()} == {
        "x": {"d/x/same"},
        "y": {"d/y/new"},  # the ledger row is another stage's
    }

    # an Arrow merge over the INT96 version keeps every old value exact
    ctx.runs.insert("OneOutput", "y", [Input("d/y/new", US)], now=US + timedelta(seconds=1))
    assert sorted(tuple(r) for r in ctx.runs.all()) == sorted(
        old + [("test", "TestMethod", "OneOutput", "d/y/new", US, "y", US + timedelta(seconds=1))]
    )
    work = stage.get_work(Opts())
    assert {o: {i.key for i in s} for o, s in work.items()} == {"x": {"d/x/same"}}


# --- Spark jobs a run launches ---


def job_ids(spark, group=None) -> set[int]:
    return set(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


def test_noop_run_launches_no_spark_job_and_jobs_are_tagged(spark, tmp_path):
    listing = [("d/x/a", T0), ("d/y/b", T0)]
    ctx = make_context(spark, tmp_path, listing)
    stage = OneOutput(ctx, job=lambda c: c.spark.range(3).count())
    stage.run(Opts(yes=True))
    assert sorted(stage.ran) == ["x", "y"]
    # each output's payload ran in its own method/stage/output job group
    for o in ("x", "y"):
        assert job_ids(spark, f"TestMethod/OneOutput/{o}"), o

    sc = spark.sparkContext
    sc.setJobGroup("noop-probe", "no-op Stage.run")
    try:
        spark.range(3).count()  # the probe sees this thread's jobs
        before = job_ids(spark, "noop-probe")
        assert before
        ungrouped = job_ids(spark)
        stage.run(Opts(yes=True))
        assert sorted(stage.ran) == ["x", "y"]  # nothing re-ran
        assert job_ids(spark, "noop-probe") == before
        assert job_ids(spark) == ungrouped
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


# --- failure semantics: all or nothing ---


def test_failed_job_commits_nothing(spark, tmp_path):
    listing = [("d/a/1", T0), ("d/m/1", T0), ("d/z/1", T0)]
    ctx = make_context(spark, tmp_path, listing)
    finished: list[str] = []
    lock = threading.Lock()

    def job(c):
        if c.output == "a":
            raise RuntimeError("job a failed")
        time.sleep(0.2)  # still running when a's error is raised
        with lock:
            finished.append(c.output)

    stage = OneOutput(ctx, job=job)
    succeeded: list[str] = []
    stage.success = succeeded.append
    with pytest.raises(RuntimeError, match="job a failed"):
        stage.run(Opts(yes=True, max_clusters=3))

    # the pool drained before the error propagated
    assert sorted(finished) == ["m", "z"]
    assert succeeded == []
    # no provenance for any output, not even the finished ones
    assert ctx.runs.snapshot("OneOutput").num_rows == 0
    # every output stays started, never ended
    assert rows(ctx.runstatus.table.snapshot(), "output") == [("a",), ("m",), ("z",)]
    for r in ctx.runstatus.table.snapshot().to_pylist():
        assert r["started"] is not None and r["ended"] is None
    # so the next run redoes the whole delta
    stage.job = None
    stage.ran.clear()
    stage.run(Opts(yes=True))
    assert sorted(stage.ran) == ["a", "m", "z"]

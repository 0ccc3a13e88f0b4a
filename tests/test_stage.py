"""Port of StageTest.scala (rules routing, buildOutputMap, ALL-propagation)
plus end-to-end incremental semantics the reference validates operationally:
delta anti-join freshness (strict isAfter), missed-input validation,
only/exclude filtering, --insert-runs / --no-insert-runs modes."""

from __future__ import annotations


# integration-style tier: excluded from the default fast gate run
# (pytest.ini); the full suite runs with -m "slow or not slow"
import pytest

pytestmark = pytest.mark.slow

import os
from datetime import datetime, timedelta
from types import SimpleNamespace

from dig_aggregator_core_spark.plans.context import Context, local_lister
from dig_aggregator_core_spark.plans.inputs import Input, Source
from dig_aggregator_core_spark.plans.method import Method
from dig_aggregator_core_spark.plans.opts import Opts
from dig_aggregator_core_spark.plans.outputs import ALL, NULL, Named
from dig_aggregator_core_spark.plans.stage import Stage

T0 = datetime(2026, 1, 1, 0, 0, 0)


def inp(name: str, offset_s: int = 0) -> Input:
    return Input(name, T0 + timedelta(seconds=offset_s))


# the TestMethod.scala fixture: route by first captured path segment
class TestStage(Stage):
    source_a = Source("a/*/", "*")
    source_b = Source("b/*/", "*")
    sources: list[Source] = []
    ran: list[str]

    def __init__(self, context):
        super().__init__(context)
        self.ran = []

    def rules(self, input_):
        caps = self.source_a.captures(input_)
        if caps is not None:
            return Named(caps[0])
        caps = self.source_b.captures(input_)
        if caps is not None:
            return Named(caps[0])
        return ALL

    def make(self, output):
        return lambda ctx: self.ran.append(output)


@pytest.fixture()
def context(spark, tmp_path):
    return Context(
        spark=spark,
        project="test",
        method_name="TestMethod",
        warehouse=str(tmp_path),
        lister=lambda prefix: [],
    )


@pytest.fixture()
def stage(context):
    s = TestStage(context)
    context.runs.migrate()
    context.runstatus.migrate()
    return s


OPTS = Opts()

A1 = inp("a/foo/bar")
A2 = inp("a/foo/baz")
B1 = inp("b/bar/wow")
B2 = inp("b/bar/ack")
C1 = inp("c/any/all")


def test_input_to_outputs(stage):
    assert stage.rules(A1) == Named("foo")
    assert stage.rules(A2) == Named("foo")
    assert stage.rules(B1) == Named("bar")
    assert stage.rules(B2) == Named("bar")


def test_all_outputs(stage):
    assert stage.rules(C1) is ALL


def test_simple_output_map(stage):
    m = stage.build_output_map([A1, A2, B1, B2], OPTS)
    assert set(m) == {"foo", "bar"}
    assert m["foo"] == {A1, A2}
    assert m["bar"] == {B1, B2}


def test_all_output_map(stage):
    m = stage.build_output_map([A1, B1, C1], OPTS)
    assert set(m) == {"foo", "bar"}
    assert C1 in m["foo"] and C1 in m["bar"]


def test_missed_input_aborts(context):
    """Inputs claimed by no output and not NULL-routed => empty map
    (Stage.scala:195-210)."""

    class S(TestStage):
        def rules(self, input_):
            if input_.key.startswith("a/"):
                return Named("foo")
            if input_.key.startswith("c/"):
                return NULL
            return Named()  # zero named outputs: claimed nowhere, not ignored

    s = S(context)
    assert s.build_output_map([A1, B1], OPTS) == {}
    # NULL-routed inputs are fine
    assert set(s.build_output_map([A1, inp("c/x/y")], OPTS)) == {"foo"}


def test_only_exclude_filters(stage):
    m = stage.build_output_map([A1, B1], Opts(only="f*"))
    assert set(m) == {"foo"}
    m = stage.build_output_map([A1, B1], Opts(exclude="f*"))
    assert set(m) == {"bar"}
    m = stage.build_output_map([A1, B1], Opts(only="foo,bar", exclude="b*"))
    assert set(m) == {"foo"}


def test_get_work_delta_strict_freshness(context):
    """The ledger anti-join uses STRICTLY-after (Stage.scala:256): a ledger
    timestamp EQUAL to the input version means the input is still fresh."""
    listing = [("a/foo/bar", T0 + timedelta(seconds=50))]
    context.lister = lambda prefix: listing

    class S(TestStage):
        sources = [Source("a/*/", "*")]

    s = S(context)
    context.runs.migrate()
    context.runstatus.migrate()

    # nothing processed -> all work
    work = s.get_work(Opts())
    assert set(work) == {"foo"}

    # processed at EXACTLY the input version -> still work (strict >)
    context.runs.insert(
        "S", "foo", [inp("a/foo/bar", 50)], now=T0 + timedelta(seconds=50)
    )
    assert set(s.get_work(Opts())) == {"foo"}

    # processed strictly after -> up to date
    context.runs.insert(
        "S", "foo", [inp("a/foo/bar", 50)], now=T0 + timedelta(seconds=51)
    )
    assert s.get_work(Opts()) == {}

    # input updated beyond the processed timestamp -> work again
    listing[0] = ("a/foo/bar", T0 + timedelta(seconds=60))
    assert set(s.get_work(Opts())) == {"foo"}

    # --reprocess ignores the ledger entirely
    context.runs.insert(
        "S", "foo", [inp("a/foo/bar", 60)], now=T0 + timedelta(seconds=100)
    )
    assert s.get_work(Opts()) == {}
    assert set(s.get_work(Opts(reprocess=True))) == {"foo"}


def test_same_input_multiple_outputs_delta(context):
    """An input in several outputs is tracked per (output, input) pair —
    the reference's 'don't simplify without care' note (Stage.scala:244)."""
    context.lister = lambda prefix: [
        ("a/foo/x", T0),
        ("b/bar/y", T0),
        ("c/all/z", T0),
    ]

    class S(TestStage):
        sources = [Source("a/*/", "*"), Source("b/*/", "*"), Source("c/*/", "*")]

        def rules(self, input_):
            if input_.key.startswith("c/"):
                return ALL
            return super().rules(input_)

    s = S(context)
    context.runs.migrate()

    # the ALL input was committed for foo but not bar
    context.runs.insert(
        "S", "foo", [inp("a/foo/x"), inp("c/all/z")], now=T0 + timedelta(seconds=1)
    )
    work = s.get_work(Opts())
    assert set(work) == {"bar"}
    assert {i.key for i in work["bar"]} == {"b/bar/y", "c/all/z"}


def test_run_commits_and_second_run_noop(context):
    context.lister = lambda prefix: [
        ("a/foo/bar", T0),
        ("a/whee/x", T0),
        ("b/bar/wow", T0),
    ]

    class S(TestStage):
        sources = [Source("a/*/", "*"), Source("b/*/", "*")]

    s = S(context)
    context.runs.migrate()
    context.runstatus.migrate()

    s.run(Opts(yes=True))
    assert sorted(s.ran) == ["bar", "foo", "whee"]
    # committed: runs rows per (output, input); statuses ended
    assert len(context.runs.of("S").collect()) == 3
    for row in context.runstatus.of("S").collect():
        assert row.started is not None and row.ended is not None

    # second run: everything fresh -> no jobs
    s.ran.clear()
    s.run(Opts(yes=True))
    assert s.ran == []


def test_run_insert_runs_mode_skips_jobs(context):
    context.lister = lambda prefix: [("a/foo/bar", T0)]

    class S(TestStage):
        sources = [Source("a/*/", "*")]

    s = S(context)
    context.runs.migrate()
    context.runstatus.migrate()

    s.run(Opts(yes=True, insert_runs=True))
    assert s.ran == []  # no jobs executed
    assert len(context.runs.of("S").collect()) == 1  # but provenance committed


def test_run_no_insert_runs_mode_runs_without_commit(context):
    context.lister = lambda prefix: [("a/foo/bar", T0)]

    class S(TestStage):
        sources = [Source("a/*/", "*")]

    s = S(context)
    context.runs.migrate()
    context.runstatus.migrate()

    s.run(Opts(yes=True, no_insert_runs=True))
    assert s.ran == ["foo"]  # job executed
    assert context.runs.of("S").count() == 0  # nothing committed
    # so the next run repeats the work
    s.run(Opts(yes=True, no_insert_runs=True))
    assert s.ran == ["foo", "foo"]


def test_method_stage_filtering_and_showwork(context):
    class M(Method):
        def init_stages(self, ctx):
            self.add_stage(TestStage(ctx))

    m = M()
    m.init_stages(context)
    assert m.get_stage("TestStage") is m.stages[0]
    with pytest.raises(KeyError):
        m.get_stage("Nope")
    with pytest.raises(KeyError):
        m.filter_stages(Opts(stage="Nope"))
    assert m.filter_stages(Opts(stage="TestStage")) == m.stages
    # showWork on an empty-source stage: no work, no error
    m.show_work(Opts())


def test_job_context_prefix_and_test_mode(context):
    context.lister = lambda prefix: [("a/foo/bar", T0)]
    seen = {}

    class S(TestStage):
        sources = [Source("a/*/", "*")]

        def make(self, output):
            return lambda ctx: seen.update(
                prefix=ctx.prefix, dryrun=ctx.dryrun, output=ctx.output
            )

    s = S(context)
    context.runs.migrate()
    context.runstatus.migrate()
    s.run(Opts(yes=True, test=True, no_insert_runs=True))
    assert seen["prefix"] == "test/TestMethod/S"
    assert seen["dryrun"] is True
    assert seen["output"] == "foo"


def test_get_work_lists_each_prefix_once_per_call(context):
    """Sources sharing a common prefix share one LIST within a get_work;
    the next get_work lists again, so it sees new objects."""
    listing = [("a/foo/bar", T0), ("a/foo/metadata", T0)]
    calls = []

    def lister(prefix):
        calls.append(prefix)
        return [kv for kv in listing if kv[0].startswith(prefix)]

    context.lister = lister

    class S(TestStage):
        sources = [Source("a/*/", "bar"), Source("a/*/", "metadata")]

    s = S(context)
    context.runs.migrate()
    assert {i.key for i in s.get_work(Opts())["foo"]} == {
        "a/foo/bar",
        "a/foo/metadata",
    }
    assert calls == ["a/"]
    listing.append(("a/whee/bar", T0))
    assert set(s.get_work(Opts())) == {"foo", "whee"}
    assert calls == ["a/", "a/"]


def test_non_utf8_junk_key_changes_no_work(context, tmp_path):
    """A non-UTF-8 file name reaches Python surrogate-escaped, which an
    Arrow string cannot hold; the sources match it as before: junk that
    no glob accepts leaves the work unchanged."""
    data = tmp_path / "data"
    for key in ["cat/g0/part-00000", "cat/g0/metadata", "cat/g1/part-00000"]:
        (data / key).parent.mkdir(parents=True, exist_ok=True)
        (data / key).write_text("")
    context.lister = local_lister(str(data))

    class S(TestStage):
        part = Source("cat/*/", "part-*")
        sources = [part, Source("cat/*/", "metadata")]

        def rules(self, input_):
            caps = self.part.captures(input_)
            return Named(caps[0]) if caps else ALL

    s = S(context)
    context.runs.migrate()
    before = s.get_work(Opts())
    assert set(before) == {"g0", "g1"}
    with open(os.fsencode(data / "cat" / "g0") + b"/\xff.tmp", "wb"):
        pass
    assert "cat/g0/\udcff.tmp" in {k for k, _ in context.lister("cat/")}
    assert s.get_work(Opts()) == before
    # a junk name a glob does accept is matched, as by Source.matches
    junk = [("cat/\udcff/part-1", T0), ("cat/g0/part-1", T0)]
    assert S.part.inputs(SimpleNamespace(lister=lambda p: junk)) == [
        Input(k, v) for k, v in junk
    ]

"""The two orchestrator workloads: incremental `Stage.run`s over a seeded
on-disk layout, cold, no-op and delta.

Layers are timed from outside the package: the benchmark hands the
`Context` a wrapping lister and timed ledger subclasses, gives the stage
wrapping sources, and overrides the stage's public steps only to call
`super()` inside a span. The job callables are the benchmark's own.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import statistics
import threading
import time
from datetime import datetime, timezone

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from dig_aggregator_core_spark.operators.frequency import calc_freq
from dig_aggregator_core_spark.plans.context import Context, local_lister
from dig_aggregator_core_spark.plans.inputs import Source
from dig_aggregator_core_spark.plans.ledger import RunsLedger, RunStatusLedger
from dig_aggregator_core_spark.plans.opts import Opts
from dig_aggregator_core_spark.plans.outputs import ALL, Named
from dig_aggregator_core_spark.plans.stage import Stage

from . import datagen
from .metrics import PER_CHANGE, PER_PHASE, PER_RUN, PHASES, SELF_TIME
from .trace import Tracer, covered, descendants, self_times

PROJECT = "perfbench"


# ------------------------------------------------------- timed boundaries


def timed_lister(lister, tracer: Tracer):
    def ls(prefix):
        with tracer.span("plans.context.list"):
            out = lister(prefix)
        tracer.count("plans.context.listed", len(out))
        return out

    return ls


class TimedSource:
    """Stands in for a `Source` in `Stage.sources`; the stage only calls
    `inputs(context)`."""

    def __init__(self, source: Source, tracer: Tracer) -> None:
        self.source = source
        self.tracer = tracer

    def inputs(self, context):
        with self.tracer.span("plans.inputs.match"):
            out = self.source.inputs(context)
        self.tracer.count("plans.inputs.matched", len(out))
        return out


class TimedRunsLedger(RunsLedger):
    def __init__(self, tracer: Tracer, *args) -> None:
        super().__init__(*args)
        self.tracer = tracer

    def insert_many(self, stage, outputs_map, now=None) -> None:
        rows = sum(len(v) for v in outputs_map.values())
        self.tracer.count("plans.ledger.rows_inserted", rows)
        with self.tracer.span("plans.ledger.runs_upsert"):
            super().insert_many(stage, outputs_map, now)


class TimedRunStatusLedger(RunStatusLedger):
    def __init__(self, tracer: Tracer, *args) -> None:
        super().__init__(*args)
        self.tracer = tracer
        self.started_at = 0.0  # end of the last start_many: jobs queue from here

    def insert_many(self, stage, outputs, now=None) -> None:
        with self.tracer.span("plans.ledger.runstatus_write"):
            super().insert_many(stage, outputs, now)

    def start_many(self, stage, outputs, now=None) -> None:
        with self.tracer.span("plans.ledger.runstatus_write"):
            super().start_many(stage, outputs, now)
        self.started_at = time.perf_counter()

    def end_many(self, stage, outputs, now=None) -> None:
        with self.tracer.span("plans.ledger.runstatus_write"):
            super().end_many(stage, outputs, now)


def make_context(spark, tracer: Tracer, data_root: str, warehouse: str, method: str):
    ctx = Context(
        spark=spark,
        project=PROJECT,
        method_name=method,
        warehouse=warehouse,
        lister=timed_lister(local_lister(data_root), tracer),
        _runs=TimedRunsLedger(tracer, spark, f"{warehouse}/runs", PROJECT, method),
        _status=TimedRunStatusLedger(
            tracer, spark, f"{warehouse}/runstatus", PROJECT, method
        ),
    )
    ctx.runs.migrate()
    ctx.runstatus.migrate()
    return ctx


class BenchStage(Stage):
    """Times the stage's public steps and records the jobs it ran."""

    source_specs: list[Source] = []

    def __init__(self, context, tracer: Tracer) -> None:
        super().__init__(context)
        self.tracer = tracer
        self.sources = [TimedSource(s, tracer) for s in self.source_specs]
        self._lock = threading.Lock()
        self._dispatch_span = None
        self.reset_jobs()

    def reset_jobs(self) -> None:
        self.jobs_run: list[str] = []
        self.job_times: list[float] = []
        self.job_waits: list[float] = []

    def build_output_map(self, inputs, opts):
        with self.tracer.span("plans.stage.route"):
            out = super().build_output_map(inputs, opts)
        self.tracer.count("plans.stage.pairs", sum(len(s) for s in out.values()))
        return out

    def get_work(self, opts):
        with self.tracer.span("plans.stage.get_work"):
            out = super().get_work(opts)
        self.tracer.count("plans.stage.fresh_pairs", sum(len(s) for s in out.values()))
        return out

    def process_outputs(self, output_map, opts) -> None:
        with self.tracer.span("plans.stage.process_outputs"):
            self._dispatch_span = self.tracer.current()
            super().process_outputs(output_map, opts)

    def insert_runs(self, output_map) -> None:
        with self.tracer.span("plans.stage.insert_runs"):
            super().insert_runs(output_map)

    def run(self, opts) -> None:
        with self.tracer.span("plans.stage.run"):
            super().run(opts)

    def make(self, output: str):
        def job(ctx) -> None:
            t0 = time.perf_counter()
            wait = t0 - self.context.runstatus.started_at
            with self.tracer.span("plans.stage.job", parent=self._dispatch_span):
                ctx.spark.sparkContext.setJobGroup(
                    f"{ctx.stage}/{ctx.output}", f"{ctx.method} {ctx.stage} {ctx.output}"
                )
                self.job_body(ctx)
            with self._lock:
                self.jobs_run.append(output)
                self.job_times.append(time.perf_counter() - t0)
                self.job_waits.append(wait)

        return job

    def job_body(self, ctx) -> None:
        raise NotImplementedError


class CatalogStage(BenchStage):
    part_src = Source("cat/*/*/", "part-*")
    meta_src = Source("cat/*/*/", "metadata")
    source_specs = [part_src, meta_src]

    def rules(self, input_):
        caps = self.part_src.captures(input_) or self.meta_src.captures(input_)
        return Named(caps[0])  # first '*' = group

    def job_body(self, ctx) -> None:
        pass  # no payload: orchestration is all there is to time


class FrequencyStage(BenchStage):
    """The reference's frequency-analysis stage: part files route to their
    ancestry's output, metadata files to every output."""

    part_src = Source("variants/*/*/", "part-*")
    meta_src = Source("variants/*/*/", "metadata")
    source_specs = [part_src, meta_src]
    VARIANTS = "varId string, dataset string, ancestry string, eaf double, maf double"
    META = "name string, samples double"

    def __init__(self, context, tracer, data_root: str, out_root: str) -> None:
        super().__init__(context, tracer)
        self.data_root = data_root
        self.out_root = out_root

    def rules(self, input_):
        if input_.basename == "metadata":
            return ALL
        return Named(self.part_src.captures(input_)[0])

    def job_body(self, ctx) -> None:
        spark = ctx.spark
        variants = (
            spark.read.schema(self.VARIANTS)
            .json(f"{self.data_root}/variants/*/*/part-*")
            .withColumnRenamed("varId", "var_id")
        )
        weights = (
            spark.read.schema(self.META)
            .json(f"{self.data_root}/variants/*/*/metadata")
            .select(F.col("name").alias("dataset"), F.col("samples").alias("w"))
            .groupBy("dataset")
            .agg(F.max("w").alias("n"))
        )
        result = calc_freq(variants, weights, ctx.output)
        result.write.mode("overwrite").json(f"{self.out_root}/{ctx.output}")


# ------------------------------------------------------------- ledger I/O


def _versions(table: str) -> list[int]:
    if not os.path.isdir(table):
        return []
    return sorted(int(m[1]) for d in os.listdir(table) if (m := re.fullmatch(r"v=(\d+)", d)))


def ledger_state(warehouse: str) -> dict:
    """Newest version number of each ledger table, the row count of the
    newest `runs` version, and the bytes on disk."""
    out = {}
    for t in ("runs", "runstatus"):
        vs = _versions(os.path.join(warehouse, t))
        out[t] = vs[-1] if vs else -1
    newest = os.path.join(warehouse, "runs", f"v={out['runs']}")
    out["runs_rows"] = sum(
        pq.ParquetFile(os.path.join(newest, f)).metadata.num_rows
        for f in (os.listdir(newest) if os.path.isdir(newest) else [])
        if f.endswith(".parquet")
    )
    out["bytes"] = sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(warehouse)
        for f in files
    )
    return out


# ------------------------------------------------------------- the phases


class PhaseLog:
    """Wall time, layer samples and failures of every phase run."""

    def __init__(self) -> None:
        self.walls: dict[str, list[float]] = {p: [] for p in PHASES}
        self.untraced_warm: list[float] = []
        self.attempted = 0
        self.failures: list[str] = []
        # one entry per traced phase run: (phase, root span, epoch interval, samples)
        self.instances: list[tuple[str, object, tuple[float, float], dict]] = []
        self.ledger_bytes: list[float] = []

    @property
    def intervals(self) -> dict[str, list[tuple[float, float]]]:
        """Epoch intervals of the traced phase runs, by phase."""
        out: dict[str, list] = {}
        for phase, _, iv, _ in self.instances:
            out.setdefault(phase, []).append(iv)
        return out

    def run(self, phase, stage, check, tag: str, traced: bool = True) -> None:
        """One `Stage.run` as `phase`; `check` runs after the timing."""
        tracer = stage.tracer
        on = tracer.enabled
        tracer.enabled = on and traced
        self.attempted += 1
        stage.reset_jobs()
        wh = stage.context.warehouse
        before = ledger_state(wh) if tracer.enabled else None
        counts = dict(tracer.counters)
        e0, t0 = time.time(), time.perf_counter()
        try:
            with tracer.span("phase"):
                stage.run(Opts(yes=True))
        except Exception as e:  # noqa: BLE001 - a failed phase is counted, not fatal
            self.failures.append(f"{tag}: {type(e).__name__}: {e}"[:400])
            return
        finally:
            wall, e1 = time.perf_counter() - t0, time.time()
            tracer.enabled = on
        (self.untraced_warm if on and not traced else self.walls[phase]).append(wall)
        if on and traced:
            self.instances.append(
                (phase, tracer.spans[-1], (e0, e1), self._samples(stage, before, counts))
            )
        problem = check()
        if problem:
            self.failures.append(f"{tag}: {problem}")

    @staticmethod
    def _samples(stage, before: dict, counts: dict) -> dict:
        tracer = stage.tracer
        d = {k: v - counts.get(k, 0) for k, v in tracer.counters.items()}
        after = ledger_state(stage.context.warehouse)
        written = after["runs"] - before["runs"] + after["runstatus"] - before["runstatus"]
        inserted = d.get("plans.ledger.rows_inserted", 0)
        pairs = d.get("plans.stage.pairs", 0)
        times = sorted(stage.job_times)
        return {
            "plans.context.listed": d.get("plans.context.listed", 0),
            "plans.inputs.matched": d.get("plans.inputs.matched", 0),
            "plans.stage.pairs": pairs,
            "plans.stage.fresh_pairs": d.get("plans.stage.fresh_pairs", 0),
            "plans.stage.fresh_ratio": d.get("plans.stage.fresh_pairs", 0) / pairs if pairs else 0.0,
            "plans.ledger.versions_written": float(written),
            # rows in the newest runs version per row the phase committed:
            # 1 for a delta-sized write, ledger size / delta for a rewrite
            "plans.ledger.rows_rewritten_per_row": after["runs_rows"] / inserted if inserted else 0.0,
            "plans.stage.job_s.p50": statistics.median(times) if times else 0.0,
            "plans.stage.job_s.max": times[-1] if times else 0.0,
            "plans.stage.job_wait_s": sum(stage.job_waits),
        }


def _ledger_pairs(ctx, stage_name: str) -> dict:
    return {(r.output, r.input): r.version for r in ctx.runs.of(stage_name).collect()}


def _expect_jobs(stage, expected: set[str]) -> str | None:
    ran = sorted(stage.jobs_run)
    if ran != sorted(expected):
        return f"ran {len(ran)} jobs {ran[:4]}, expected {len(expected)} {sorted(expected)[:4]}"
    return None


def _mtime_version(path: str) -> datetime:
    m = datetime.fromtimestamp(os.path.getmtime(path), tz=timezone.utc).replace(tzinfo=None)
    return m.replace(microsecond=m.microsecond // 1000 * 1000)


def run_catalog(bench, sizes: dict) -> PhaseLog:
    """Cycles of cold -> no-op -> delta (a seeded 1% of keys touched) ->
    2 no-ops, each cycle on a fresh ledger, while the measuring window
    lasts. The ledger is checked after all but the first no-op."""
    root = os.path.join(bench.work, "catalog")
    cat = datagen.write_catalog(root, bench.seed, sizes["keys"], sizes["groups"])
    bench.sizes.update(inputs=len(cat.keys), outputs=len(cat.groups))
    pairs = {(cat.group_of(k), k) for k in cat.keys}
    groups = {cat.group_of(k) for k in cat.keys}
    log = PhaseLog()

    for cycle in bench.cycles():
        wh = os.path.join(bench.work, f"wh-cat-{cycle}")
        ctx = make_context(bench.spark, bench.tracer, root, wh, "CatalogMethod")
        stage = CatalogStage(ctx, bench.tracer)
        touched_versions: dict = {}

        def ledger_problem():
            got = _ledger_pairs(ctx, stage.name)
            if set(got) != pairs:
                return f"ledger holds {len(got)} pairs, expected {len(pairs)}"
            stale = [k for k, v in touched_versions.items() if got[(cat.group_of(k), k)] != v]
            return f"ledger versions not updated for {stale[:3]}" if stale else None

        def check(expected_groups, ledger=True):
            return lambda: _expect_jobs(stage, expected_groups) or (
                ledger_problem() if ledger else None
            )

        log.run("cold", stage, check(groups), f"c{cycle}.cold")
        # in the traced run the first no-op runs untraced: the tracing overhead
        log.run("warm", stage, check(set(), False), f"c{cycle}.noop1", traced=cycle > 0)
        touched = datagen.touch_fraction(cat, bench.seed, cycle, sizes["delta_frac"], time.time())
        touched_versions.update({k: _mtime_version(os.path.join(root, k)) for k in touched})
        log.run("partial", stage, check({cat.group_of(k) for k in touched}), f"c{cycle}.delta")
        log.run("warm", stage, check(set()), f"c{cycle}.noop2")
        log.run("warm", stage, check(set()), f"c{cycle}.noop3")
        log.ledger_bytes.append(float(ledger_state(wh)["bytes"]))
    return log


def _read_json_dir(path: str) -> dict[str, tuple]:
    out = {}
    for name in os.listdir(path):
        if name.startswith("part-"):
            with open(os.path.join(path, name)) as fh:
                for line in fh:
                    r = json.loads(line)
                    out[r["var_id"]] = (r.get("eaf"), r.get("maf"))
    return out


def freq_problem(out_root: str, data_root: str, ancestries) -> str | None:
    """Every output equals the pure-Python weighted average to 1e-6."""
    rows, weights = datagen.read_variants(data_root)
    for a in sorted(ancestries):
        want = datagen.reference_freq(rows, weights, a)
        got = _read_json_dir(os.path.join(out_root, a))
        if set(got) != set(want):
            return f"{a}: {len(got)} variants, expected {len(want)}"
        for var, (e, m) in want.items():
            ge, gm = got[var]
            if (e is None) != (ge is None) or abs(gm - m) > 1e-6 or (
                e is not None and abs(ge - e) > 1e-6
            ):
                return f"{a}/{var}: got {(ge, gm)}, expected {(e, m)}"
    return None


def run_frequency(bench, sizes: dict) -> PhaseLog:
    """Cycles of cold -> 3 no-ops -> delta (one new dataset lands in one
    ancestry; the ALL-routed metadata re-runs every ancestry)."""
    template = os.path.join(bench.work, "variants-template")
    datagen.write_variants(template, bench.seed, sizes["datasets"], sizes["rows"], sizes["variants"])
    every = set(datagen.ANCESTRIES)
    bench.sizes.update(
        ancestries=len(every), datasets=len(every) * sizes["datasets"], rows=sizes["rows"]
    )
    log = PhaseLog()

    for cycle in bench.cycles():
        data = os.path.join(bench.work, f"freq-data-{cycle}")
        out = os.path.join(bench.work, f"freq-out-{cycle}")
        wh = os.path.join(bench.work, f"wh-freq-{cycle}")
        shutil.copytree(template, data)
        ctx = make_context(bench.spark, bench.tracer, data, wh, "FrequencyMethod")
        stage = FrequencyStage(ctx, bench.tracer, data, out)

        def ran_all():
            return _expect_jobs(stage, every) or freq_problem(out, data, every)

        def ran_none():
            return _expect_jobs(stage, set())

        log.run("cold", stage, ran_all, f"c{cycle}.cold")
        # in the traced run the first no-op runs untraced: the tracing overhead
        log.run("warm", stage, ran_none, f"c{cycle}.noop1", traced=cycle > 0)
        log.run("warm", stage, ran_none, f"c{cycle}.noop2")
        log.run("warm", stage, ran_none, f"c{cycle}.noop3")
        datagen.add_variants_dataset(data, bench.seed, sizes["rows"], sizes["variants"])
        log.run("partial", stage, ran_all, f"c{cycle}.delta")
        log.ledger_bytes.append(float(ledger_state(wh)["bytes"]))
    return log


# ----------------------------------------------------- per-layer numbers

def layer_metrics(log: PhaseLog, spans) -> dict[str, float]:
    """Median over the traced runs of each phase of every layer number,
    keyed `<phase>.<metric>`, plus per-run counts."""
    selfs = self_times(spans)
    samples: dict[str, list[float]] = {}
    for phase, root, _, extra in log.instances:
        tree = descendants(spans, root.id)
        m = dict.fromkeys(SELF_TIME.values(), 0.0)
        for s in tree:
            if s.name in SELF_TIME:
                m[SELF_TIME[s.name]] += selfs[s.id]
        m["plans.stage.jobs_s"] = covered(
            [(s.start, s.end) for s in tree if s.name == "plans.stage.job"]
        )
        m["plans.stage.remainder_s"] = root.duration - sum(m.values())
        keep = PER_PHASE + (PER_CHANGE if phase != "warm" else ()) + (
            PER_RUN if phase == "cold" else ()
        )
        m.update(extra)
        for k, v in m.items():
            if k not in keep:
                continue
            name = k if k in PER_RUN else f"{phase}.{k}"
            samples.setdefault(name, []).append(v)
    out = {k: statistics.median(v) for k, v in samples.items()}
    if log.ledger_bytes:
        out["plans.ledger.bytes"] = statistics.median(log.ledger_bytes)
    return out

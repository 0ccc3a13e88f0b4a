"""Stage: the unit of incremental dataflow (reference Stage.scala:10-318).

A stage declares `sources` (input families), `rules` (input -> Outputs
routing), and `make(output)` (the job). Running a stage:

1. discovers inputs (lister under each source's common prefix, each prefix
   listed once per run; the keys are glob-matched in Arrow),
2. builds the output map — rules, inversion, grouping, ALL-propagation,
   missed-input validation, only/exclude filtering (Stage.scala:168-216),
3. computes the DELTA of work as a left-anti join against the runs ledger
   with a STRICT freshness inequality (ledger.timestamp > input.version —
   Stage.scala:249-266; the join runs in Arrow on the driver against the
   ledger's snapshot, so a no-op run launches no Spark job),
4. executes jobs in-process with bounded parallelism (ThreadPoolExecutor,
   the reference's maxParallel cluster cap — Stage.scala:157), and
5. commits provenance (insertRuns + RunStatus lifecycle — Stage.scala:270).

Execution modes ported 1:1: --insert-runs (commit without running),
--no-insert-runs (run without committing), --test (redirect output prefix,
set dryrun), --only/--exclude, --reprocess (Stage.scala:298-318).
"""

from __future__ import annotations

import logging
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, replace
from functools import cache
from typing import Callable, Optional

from .context import Context
from .inputs import Input, Source
from .ledger import fresh
from .opts import Opts
from .outputs import ALL, NULL, Named
from .util import time_block

logger = logging.getLogger(__name__)

OutputMap = dict[str, set[Input]]


@dataclass(frozen=True)
class JobContext:
    """Everything a job callable gets — the env-var contract of the
    reference (JOB_METHOD/JOB_STAGE/JOB_PREFIX/JOB_DRYRUN, Stage.scala:
    122-138) as an explicit dataclass."""

    spark: object
    method: str
    stage: str
    output: str
    prefix: str  # out/<method>/<stage> (or test/... under --test)
    dryrun: bool
    # the runs ledger, so a JOB can commit provenance itself (the
    # reference ships commitRun.py to the cluster for exactly this);
    # None for contexts constructed outside a stage run
    runs: object = None

    def commit_runs(self, inputs: list[Input]) -> None:
        """Job-side provenance commit (reference commitRun.py:24-71): a
        job upserts (input, version) -> output rows for ITS OWN output
        mid-run, instead of waiting for the driver-side batched
        Stage.insert_runs at the end. Guarded by dryrun exactly like the
        reference's JOB_DRYRUN env check (commitRun.py:76-77): under
        --test the call is a no-op. Same upsert key as the driver path
        (RunsLedger.insert), so a later insert_runs for the same output
        is idempotent, not duplicating."""
        if self.dryrun:
            return
        if self.runs is None:
            raise RuntimeError(
                "commit_runs needs a runs ledger; this JobContext was "
                "built without one"
            )
        self.runs.insert(self.stage, self.output, list(inputs))


# a job is a callable taking the JobContext; its effects are its own
Job = Callable[[JobContext], None]


class Stage:
    """Subclass and define `sources`, `rules`, and `make`."""

    sources: list[Source] = []

    def __init__(self, context: Context) -> None:
        self.context = context

    @property
    def name(self) -> str:
        """Stage name defaults to the class name (Stage.scala:22)."""
        return type(self).__name__

    # -- user surface ----------------------------------------------------

    def rules(self, input_: Input):
        """Route an input to Outputs (Named/ALL/NULL). Reference
        Stage.scala:73."""
        raise NotImplementedError

    def make(self, output: str) -> Job:
        """Build the job for an output (Stage.scala:78)."""
        raise NotImplementedError

    def prepare_job(self, output: str) -> None:  # Stage.scala:84
        pass

    def success(self, output: str) -> None:  # Stage.scala:89
        pass

    # -- output-map algebra (Stage.scala:168-216) ------------------------

    def build_output_map(self, inputs: list[Input], opts: Opts) -> OutputMap:
        routed = [(i, self.rules(i)) for i in inputs]

        output_map: OutputMap = {}
        for i, out in routed:
            if isinstance(out, Named):
                for name in out.names:
                    output_map.setdefault(name, set()).add(i)
        ignored = {i for i, out in routed if out is NULL}
        in_all = {i for i, out in routed if out is ALL}

        # ALL-inputs propagate into every named output (Stage.scala:186-192)
        final_map = {o: s | in_all for o, s in output_map.items()}

        # validation: every input not present in any output must have been
        # explicitly NULL-routed, else NO work happens (Stage.scala:195-210)
        covered = set().union(*final_map.values()) if final_map else set()
        missed = [i for i in inputs if i not in covered]
        if not all(i in ignored for i in missed):
            for i in missed:
                if i not in ignored:
                    logger.error("input not represented in outputs: %s", i.key)
            return {}

        # --only / --exclude glob filters on OUTPUT names (Stage.scala:213)
        only, excl = opts.only_globs, opts.exclude_globs
        return {
            o: s
            for o, s in final_map.items()
            if (only is None or any(g.matches(o) for g in only))
            and not (excl is not None and any(g.matches(o) for g in excl))
        }

    # -- incremental delta (Stage.scala:221-267) -------------------------

    def get_work(self, opts: Opts) -> OutputMap:
        """Discover inputs, build the output map, and subtract
        already-processed work via the ledger anti-join."""
        # sources sharing a common prefix share one LIST per call
        context = replace(self.context, lister=cache(self.context.lister))
        inputs: list[Input] = []
        for source in self.sources:
            inputs.extend(source.inputs(context))

        output_map = self.build_output_map(inputs, opts)

        if not inputs:
            logger.warning("no new or updated inputs found")
        elif opts.show_inputs:
            for i in inputs:
                logger.info("...found input %s", i.key)

        if opts.reprocess or not output_map:
            return {o: s for o, s in output_map.items() if s}

        # THE incremental core: anti-join candidate (output, input, version)
        # rows against the ledger on (output, input) where the ledger
        # timestamp is STRICTLY after the input version (Stage.scala:256).
        # The same input may appear under multiple outputs — the key is the
        # pair, never the input alone.
        pairs = [(o, i) for o, s in output_map.items() for i in s]
        out: OutputMap = {}
        for pos in fresh(
            self.context.runs.snapshot(self.name),
            [(o, i.key, i.version) for o, i in pairs],
        ):
            o, i = pairs[pos]
            out.setdefault(o, set()).add(i)
        return out

    # -- execution (Stage.scala:110-162, 270-318) ------------------------

    def _prefix(self, opts: Opts) -> str:
        root = "test" if opts.test else "out"
        return f"{root}/{self.context.method_name}/{self.name}"

    def process_outputs(self, output_map: OutputMap, opts: Opts) -> None:
        """Run every output's job, at most `opts.max_clusters` at a time.

        All or nothing, like the reference: if any job raises, the other
        jobs still run to completion (the pool drains), then the error of
        the first failed output, in sorted order, propagates. No output of
        the run then gets `runs` provenance — not even the ones whose jobs
        finished — and every output's `runstatus` row stays started with
        `ended` NULL, so the next run redoes the whole delta.

        Each job's Spark work runs in the job group
        `<method>/<stage>/<output>`, so event logs attribute it per output.
        """
        if not output_map:
            return
        jobs = {o: self.make(o) for o in output_map}
        for o in output_map:
            self.prepare_job(o)
        # one versioned write each for the whole run, not one per output
        self.context.runstatus.insert_many(self.name, sorted(output_map))
        self.context.runstatus.start_many(self.name, sorted(output_map))
        spark, method = self.context.spark, self.context.method_name

        def run_job(o: str) -> None:
            spark.sparkContext.setJobGroup(
                f"{method}/{self.name}/{o}", f"{method} {self.name} {o}"
            )
            with time_block(f"output {o} of stage {self.name}"):
                jobs[o](
                    JobContext(
                        spark=spark,
                        method=method,
                        stage=self.name,
                        output=o,
                        prefix=self._prefix(opts),
                        dryrun=opts.test,
                        runs=self.context.runs,
                    )
                )

        # bounded parallelism = the reference's maxParallel cluster cap;
        # concurrent jobs share the Spark scheduler (FAIR pools apply)
        with ThreadPoolExecutor(max_workers=opts.max_clusters) as ex:
            list(ex.map(run_job, sorted(output_map)))

        for o in output_map:
            self.success(o)

    def insert_runs(self, output_map: OutputMap) -> None:
        """Commit provenance, deterministically ordered (Stage.scala:270) —
        ONE batched runs upsert + ONE runstatus end write for the run."""
        for output in sorted(output_map):
            logger.info(
                "updating output %s for %s (%d inputs)",
                output,
                self.name,
                len(output_map[output]),
            )
        self.context.runs.insert_many(
            self.name, {o: list(s) for o, s in output_map.items()}
        )
        self.context.runstatus.end_many(self.name, sorted(output_map))

    def show_work(self, opts: Opts) -> bool:
        output_map = self.get_work(opts)
        if not output_map:
            logger.info("stage %s is up to date", self.name)
        for o, inputs in output_map.items():
            logger.info("output %s has %d new/updated inputs", o, len(inputs))
        return bool(output_map)

    def run(self, opts: Opts) -> None:
        output_map = self.get_work(opts)
        if not output_map:
            return
        if opts.insert_runs:
            # commit without running (Stage.scala:304-308)
            self.context.runstatus.insert_many(self.name, sorted(output_map))
            self.context.runstatus.start_many(self.name, sorted(output_map))
            self.insert_runs(output_map)
            for o in output_map:
                self.success(o)
        else:
            self.process_outputs(output_map, opts)
            if not opts.no_insert_runs:
                self.insert_runs(output_map)

"""The operator-mix workload: registry queries over seeded fixture tables,
no orchestrator.

Passes run the same fixed query list in order, each query built
(`fn(spark, sf_dir)`, which for some queries already runs Spark jobs) and
then forced through a noop sink:

- cold: a fresh process, empty session memos, fresh scratch directory;
- warm: the first session again, so session memos and on-disk build-once
  dirs are hit;
- partial: a new session on the same context, so session-keyed memos miss
  while the on-disk build-once dirs still hit.

After the passes every query's result from the last pass is compared
with its DuckDB oracle (`tests.oracle.compare`), outside the timings.
"""

from __future__ import annotations

import os
import time

from dig_aggregator_core_spark import registry

from . import datagen
from .metrics import PHASES
from .trace import parse_event_log

QUERIES = (
    "flagship_frequency",
    "q1_pricing_summary",
    "asof_join",
    "dedup_minhash_lsh",
    "stream_stateful_user_stats",
    "tokenizer_unigram_viterbi",
)


def family(name: str) -> str:
    """The query fn's module below the package, e.g. `operators.relational`."""
    return registry.QUERIES[name].__module__.split(".", 1)[1]


class MixLog:
    def __init__(self) -> None:
        self.walls: dict[str, list[float]] = {p: [] for p in PHASES}
        self.untraced_warm: list[float] = []
        self.attempted = 0
        self.failures: list[str] = []
        # every pass: (pass, {query: build plus action seconds})
        self.passes: list[tuple[str, dict[str, float]]] = []
        # (pass, family, "build"|"action", seconds, epoch interval) per query run
        self.parts: list[tuple[str, str, str, float, tuple[float, float]]] = []
        self.intervals: dict[str, list[tuple[float, float]]] = {}  # epoch, per pass


def run_pass(log: MixLog, name: str, spark, sf_dir: str, record: bool = True):
    """Build and noop-write every query once; returns ({query: frame},
    {query: seconds}). A query that raises is counted as failed and
    skipped. With `record` false the pass is the untraced twin that
    measures tracing overhead."""
    frames, secs = {}, {}
    p0 = time.time()
    for q in QUERIES:
        log.attempted += 1
        fam = family(q)
        try:
            e0, t0 = time.time(), time.perf_counter()
            df = registry.QUERIES[q](spark, sf_dir)
            e1, t1 = time.time(), time.perf_counter()
            df.write.mode("overwrite").format("noop").save()
            e2, t2 = time.time(), time.perf_counter()
        except Exception as e:  # noqa: BLE001 - a failed query is counted, not fatal
            log.failures.append(f"{name}/{q}: {type(e).__name__}: {str(e)[:300]}")
            continue
        secs[q] = t2 - t0
        frames[q] = df
        if record:
            log.parts.append((name, fam, "build", t1 - t0, (e0, e1)))
            log.parts.append((name, fam, "action", t2 - t1, (e1, e2)))
    if record:
        log.passes.append((name, secs))
        log.intervals.setdefault(name, []).append((p0, time.time()))
    else:
        log.untraced_warm.append(sum(secs.values()))
    return frames, secs


def check_oracles(log: MixLog, frames: dict, sf_dir: str) -> None:
    from tests.oracle import compare, duck_con

    con = duck_con(sf_dir)
    try:
        for q in QUERIES:
            if q not in frames:
                continue
            try:
                compare(frames[q], con, registry.ORACLES[q])
            except Exception as e:  # noqa: BLE001 - assertion or engine error alike
                log.failures.append(f"oracle/{q}: {type(e).__name__}: {str(e)[:300]}")
    finally:
        con.close()


def run_mix(bench, sizes: dict) -> MixLog:
    """A cold pass, then cycles of two warm passes and a pass in a new
    session while the measuring window lasts.

    Passes keep getting faster for a while after the cold one, as the JVM
    compiles more of Spark. A cycle's warm time therefore sums, query by
    query, the faster of its two warm runs, and a stall of the host in one
    of them does not count."""
    sf_dir = os.path.join(bench.work, "sf")
    bench.sizes.update(datagen.write_tables(sf_dir, bench.seed, sizes["scale"]))
    bench.sizes["queries"] = len(QUERIES)
    log = MixLog()
    spark = bench.spark
    _, cold = run_pass(log, "cold", spark, sf_dir)
    log.walls["cold"].append(sum(cold.values()))
    if bench.trace:
        with bench.untraced(spark):
            run_pass(log, "warm", spark, sf_dir, record=False)
    for _ in bench.cycles():
        _, warm1 = run_pass(log, "warm", spark, sf_dir)
        _, warm2 = run_pass(log, "warm", spark, sf_dir)
        frames, partial = run_pass(log, "partial", bench.new_session(spark), sf_dir)
        log.walls["warm"].append(sum(min(t, warm2.get(q, t)) for q, t in warm1.items()))
        log.walls["partial"].append(sum(partial.values()))
    # the last pass's results: nothing has rewritten their scratch since
    check_oracles(log, frames, sf_dir)
    return log


def layer_metrics(log: MixLog, event_log: str | None) -> dict[str, float]:
    """Build and action seconds per query family and pass (cold, warm), and
    the Spark jobs each launched in the cold pass."""
    out: dict[str, float] = {}
    runs = {p: max(1, len(log.intervals.get(p, ()))) for p in PHASES}
    for p, fam, kind, secs, _ in log.parts:
        if p in ("cold", "warm"):
            key = f"{p}.{fam}.{kind}_s"
            out[key] = out.get(key, 0.0) + secs / runs[p]
    if event_log:
        ivs: dict[str, list] = {}
        for p, fam, kind, _, iv in log.parts:
            if p == "cold":
                ivs.setdefault(f"cold.{fam}.{kind}_jobs", []).append(iv)
        for key, totals in parse_event_log(event_log, ivs).items():
            out[key] = totals["jobs"]
    return out

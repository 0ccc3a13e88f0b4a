"""One benchmark run in this process: set up, run a workload, check its
outputs, stamp and write the full record, return the result line.

`python3 perfbench/run.py` is the entry point; it prepares an isolated run
directory and environment, then runs `python3 -m perfbench.harness` in a
child process group.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import json
import os
import resource
import signal
import statistics
import subprocess
import sys
import tempfile
import time

from . import methods, metrics, mix
from .trace import ProgressCollector, Tracer, parse_event_log

# inputs per workload; chosen so that every run, set-up included, ends well
# inside the run budget on a 4-core host
SIZES = {
    "orchestrator_catalog": {"keys": 4000, "groups": 50, "delta_frac": 0.01},
    "frequency_method": {"datasets": 6, "rows": 800, "variants": 1000},
    "operator_mix": {"scale": 0.001},
}
WORKLOADS = {
    "orchestrator_catalog": methods.run_catalog,
    "frequency_method": methods.run_frequency,
    "operator_mix": mix.run_mix,
}
METHOD_WORKLOADS = ("orchestrator_catalog", "frequency_method")


class Bench:
    """What a workload gets: the session, its seed and scratch directory,
    the tracer and the measuring window."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool, work: str):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work = work
        self.tracer = Tracer(enabled=trace, run_id=f"{workload}-{seed}")
        self.sizes: dict = {}
        self.spark = None
        self.listener = ProgressCollector() if trace else None

    def cycles(self):
        """Yield cycle numbers while another cycle fits in the window; the
        first cycle always runs."""
        start = time.perf_counter()
        k, last = 0, 0.0
        while k == 0 or time.perf_counter() - start + last <= self.seconds:
            t = time.perf_counter()
            yield k
            last = time.perf_counter() - t
            k += 1

    def new_session(self, spark):
        s = spark.newSession()
        if self.listener is not None:
            s.streams.addListener(self.listener)
        return s

    @contextlib.contextmanager
    def untraced(self, spark):
        """Spans and the streaming listener off for the block."""
        self.tracer.enabled = False
        if self.listener is not None:
            spark.streams.removeListener(self.listener)
        try:
            yield
        finally:
            self.tracer.enabled = self.trace
            if self.listener is not None:
                spark.streams.addListener(self.listener)


# ------------------------------------------------------------------ stamps


def cpu_stat() -> list[int]:
    """Aggregate /proc/stat cpu jiffies, [] where absent."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return []


def steal_pct(before: list[int], after: list[int]) -> float | None:
    """Share of CPU time the hypervisor withheld over the window (field 8)."""
    if len(before) < 8 or len(after) < 8:
        return None
    total = sum(a - b for a, b in zip(after, before))
    return round(100.0 * (after[7] - before[7]) / total, 2) if total > 0 else None


def _hwm_kb(pid: int | str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _children() -> list[int]:
    """Pids whose parent is this process (the JVM)."""
    out = []
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[1]) == os.getpid():
            out.append(int(pid))
    return out


def peak_rss_mb() -> float:
    """Peak RSS of this process plus its JVM child."""
    kb = _hwm_kb(os.getpid()) or resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (kb + sum(_hwm_kb(pid) for pid in _children())) / 1024.0


def stop_jvm() -> None:
    """End the JVM child and reap it, so that it is gone, not a zombie,
    when this process exits."""
    for pid in _children():
        os.kill(pid, signal.SIGTERM)
        deadline = time.monotonic() + 10.0
        while not os.waitpid(pid, os.WNOHANG)[0]:
            if time.monotonic() > deadline:
                os.kill(pid, signal.SIGKILL)
                os.waitpid(pid, 0)
                break
            time.sleep(0.05)


def code_identity(root: str) -> dict:
    """The commit when the tree is a git checkout, and always a digest of
    the package and benchmark sources."""
    h = hashlib.sha256()
    for top in ("dig_aggregator_core_spark", "perfbench"):
        for d, dirs, files in sorted(os.walk(os.path.join(root, top))):
            dirs.sort()
            for f in sorted(files):
                if f.endswith(".py"):
                    h.update(f.encode())
                    with open(os.path.join(d, f), "rb") as fh:
                        h.update(fh.read())
    commit = None
    if os.path.isdir(os.path.join(root, ".git")):
        r = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=root, capture_output=True, text=True
        )
        commit = r.stdout.strip() or None
    return {"commit": commit, "source_sha256": h.hexdigest()}


# --------------------------------------------------------------------- run


def setup(bench: Bench) -> float:
    """Session start, registry load, warm-up and, for the workloads with a
    ledger, a ledger migrate; returns its seconds. Data generation is not
    part of it."""
    from pyspark.sql import functions as F

    from dig_aggregator_core_spark import registry
    from dig_aggregator_core_spark.plans.ledger import RunsLedger, RunStatusLedger
    from dig_aggregator_core_spark.session import get_spark

    conf = {
        "spark.sql.warehouse.dir": os.path.join(bench.work, "spark-warehouse"),
        # a fixed-size, pre-touched heap: peak RSS then does not hang on
        # when the heap happened to grow or which pages it happened to use
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tempfile.gettempdir()} -XX:+AlwaysPreTouch "
            f"-Xms{os.environ.get('SPARK_GRAFT_DRIVER_MEM', '1g')}"
        ),
        "spark.ui.showConsoleProgress": "false",
    }
    if bench.trace:
        log_dir = os.path.join(bench.work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{log_dir}",
            "spark.eventLog.compress": "false",
        })
    t0 = time.perf_counter()
    registry.load_all()
    spark = get_spark(app_name=f"perfbench-{bench.workload}", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    # the first jobs pay codegen, shuffle and Python-to-JVM start-up: take
    # it here, on the shape of the ledger anti-join
    cand = spark.createDataFrame([(f"k{i}", i) for i in range(5000)], "k string, v long")
    cand.join(cand.filter(F.col("v") % 2 == 0), "k", "left_anti").collect()
    if bench.workload in METHOD_WORKLOADS:
        wh = os.path.join(bench.work, "wh-setup")
        RunsLedger(spark, f"{wh}/runs", "perfbench", "setup").migrate()
        RunStatusLedger(spark, f"{wh}/runstatus", "perfbench", "setup").migrate()
    if bench.listener is not None:
        spark.streams.addListener(bench.listener)
    bench.spark = spark
    return time.perf_counter() - t0


def _median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def run(workload: str, seed: int, seconds: float, trace: bool, work: str,
        sizes: dict | None = None, root: str = ".", spans_path: str | None = None) -> dict:
    """One run; returns the full record (the result line is its `result`).
    A traced run writes its spans to `spans_path`."""
    bench = Bench(workload, seed, seconds, trace, work)
    os.makedirs(work, exist_ok=True)
    setup_s = setup(bench)
    stat0 = cpu_stat()
    try:
        log = WORKLOADS[workload](bench, sizes or SIZES[workload])
    finally:
        stat1 = cpu_stat()
        rss = peak_rss_mb()
        bench.spark.stop()

    e2e = {
        "setup_s": setup_s,
        "cold_s": _median(log.walls["cold"]),
        "warm_s": _median(log.walls["warm"]),
        "partial_s": _median(log.walls["partial"]),
        "peak_rss_mb": rss,
    }
    record = {
        "workload": workload,
        "seed": seed,
        "seconds": seconds,
        "trace": trace,
        "sizes": bench.sizes,
        "cpus": int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or None,
        "driver_memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM"),
        "steal_pct": steal_pct(stat0, stat1),
        **code_identity(root),
        "python": sys.version.split()[0],
        "walls": log.walls,
        "untraced_warm": log.untraced_warm,
        "passes": getattr(log, "passes", None),
        "failures": log.failures,
        "end_to_end": e2e,
    }
    if trace:
        record["per_layer"] = layer_numbers(bench, log)
        if spans_path:
            bench.tracer.write(spans_path)
    failed = len(log.failures)
    attempted = max(log.attempted, failed, 1)
    record["failed_frac"] = failed / attempted
    shown = metrics.per_layer_units() if trace else metrics.END_TO_END
    values = record["per_layer"] if trace else e2e
    record["result"] = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            name: {"value": float(values.get(name, 0.0)), "unit": unit}
            for name, unit in shown.items()
        },
    }
    return record


def layer_numbers(bench: Bench, log) -> dict[str, float]:
    """Per-layer numbers of a traced run: orchestrator self times, Spark
    task totals per phase, query families, streaming micro-batches and the
    tracing overhead."""
    event_log = os.path.join(bench.work, "eventlog")
    if isinstance(log, methods.PhaseLog):
        out = methods.layer_metrics(log, bench.tracer.spans)
    else:
        out = mix.layer_metrics(log, event_log)
    intervals = log.intervals
    for phase, totals in parse_event_log(event_log, intervals).items():
        for k, v in totals.items():
            out[f"{phase}.spark.{k}"] = v / len(intervals[phase])
    for k, v in bench.listener.totals().items():
        out[f"streaming.{k}"] = v
    if isinstance(log, mix.MixLog):
        traced = [sum(secs.values()) for p, secs in log.passes if p == "warm"]
    else:
        traced = log.walls["warm"]
    if log.untraced_warm and traced:
        out["trace.overhead_s"] = _median(traced) - _median(log.untraced_warm)
    return out


def main(argv=None) -> int:
    p = argparse.ArgumentParser(prog="perfbench.harness")
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--work", required=True)
    p.add_argument("--records", required=True)
    p.add_argument("--result", required=True)
    a = p.parse_args(argv)
    os.makedirs(a.records, exist_ok=True)
    stem = os.path.join(a.records, f"{a.workload}-seed{a.seed}-trace{a.trace}")
    record = run(a.workload, a.seed, a.seconds, bool(a.trace), a.work,
                 root=os.getcwd(), spans_path=stem + ".spans.jsonl")
    with open(stem + ".json", "w") as fh:
        json.dump(record, fh, indent=1, sort_keys=True)
    with open(a.result, "w") as fh:
        json.dump(record["result"], fh)
    stop_jvm()
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""Per-phase floor of the streaming ops, from the runner's own records.

For each streaming query of bench.HEADLINE (or the names given), runs
fn(spark, sf_dir) --runs times and keeps the fastest run's `stream_run`
records, which streaming.stateful.run_available_now logs after every
query. Prints one markdown row per op, seconds:

  build      fn(spark, sf_dir) wall, which runs the stream to idle
  q          streaming queries the op ran, and their batches
  parts      state partitions per state operator
  latest..commit  durationMs phases summed over all batches
  in-query   query wall (start() to termination) minus those phases:
             start(), getBatch, stream thread start/stop
  outside    build minus the query walls: construction, drains, the
             op's own Spark jobs before and after its streams

Usage: python tools/streamfloor.py --sf-dir DIR [names ...] [--runs N]
"""

from __future__ import annotations

import argparse
import json
import logging
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from dig_aggregator_core_spark import registry
from dig_aggregator_core_spark.session import get_spark
from dig_aggregator_core_spark.streaming import stateful

PHASES = ("latestOffset", "queryPlanning", "addBatch", "walCommit", "commitOffsets")


def _line(name: str, row: dict, head: list[str]) -> str:
    cells = [name] + [
        f"{row[k]:.2f}" if k not in ("q", "batches", "parts") else str(row[k])
        for k in head[1:]
    ]
    return "| " + " | ".join(cells) + " |"


class _Records(logging.Handler):
    def __init__(self):
        super().__init__(logging.INFO)
        self.runs: list[dict] = []

    def emit(self, record):
        msg = record.getMessage()
        if '"stream_run"' in msg:
            self.runs.append(json.loads(msg))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*")
    ap.add_argument("--sf-dir", required=True, help="fixture tables dir")
    ap.add_argument("--runs", type=int, default=2)
    args = ap.parse_args()
    sf_dir = args.sf_dir
    names = args.names
    if not names:
        from bench import HEADLINE

        names = [n for n in HEADLINE if n.startswith("stream")]

    registry.load_all()
    spark = get_spark(app_name="streamfloor")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    log = logging.getLogger(stateful.__name__)
    log.setLevel(logging.INFO)
    rec = _Records()
    log.addHandler(rec)

    head = ["op", "build", "q", "batches", "parts", *PHASES, "in-query", "outside"]
    print("| " + " | ".join(head) + " |")
    print("|" + "---|" * len(head))
    tot = dict.fromkeys(head[1:], 0)
    for name in names:
        best = None
        for _ in range(args.runs):
            rec.runs.clear()
            t0 = time.perf_counter()
            registry.QUERIES[name](spark, sf_dir)
            build = time.perf_counter() - t0
            if best is None or build < best[0]:
                best = (build, list(rec.runs))
        build, runs = best
        batches = [d for r in runs for d in r["durationMs"]]
        ph = {p: sum(d.get(p, 0) for d in batches) / 1000 for p in PHASES}
        wall = sum(r["wall_ms"] for r in runs) / 1000
        row = {
            "build": build,
            "q": len(runs),
            "batches": len(batches),
            **ph,
            "in-query": wall - sum(ph.values()),
            "outside": build - wall,
        }
        parts = {o["numShufflePartitions"] for r in runs for o in r["stateOperators"]}
        for k, v in row.items():
            tot[k] += v
        row["parts"] = "/".join(map(str, sorted(parts))) or "-"
        print(_line(name, row, head), flush=True)
    tot["parts"] = ""
    print(_line("total", tot, head))
    spark.stop()


if __name__ == "__main__":
    main()

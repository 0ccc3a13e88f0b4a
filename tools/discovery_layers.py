"""Per-layer seconds of `Stage.get_work` on a catalog of N keys.

Builds the catalog stage of perfbench's `orchestrator_catalog` workload
(`cat/<group>/<dataset>/part-*` + `metadata`, 50 groups, one named output
per group) over a fresh Arrow ledger and times one `get_work` per phase:

  cold   empty ledger (every pair is work); its map is then committed
  noop   everything committed (median of --noop-reps calls)
  delta  1% of the keys get a newer version

Layers, timed around the public calls only:

  list       the context lister's own time
  match      `Source.inputs` minus listing
  route      `build_output_map`
  anti-join  the rest of `get_work`: runs snapshot, candidate pairs,
             `ledger.fresh`

On disk the keys are empty files under --work (built once, reused) and
listed with `local_lister`; with --in-memory the lister returns a list
held in memory, so listing is excluded. No Spark session is started.
--tree points at the checkout to measure (default: this one), so one
copy of this script times two commits alike. Prints one JSON line.

Usage: python tools/discovery_layers.py --keys N --work DIR
           [--in-memory] [--noop-reps R] [--tree CHECKOUT]
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import sys
import time
from datetime import datetime, timedelta, timezone


def catalog_keys(n: int, groups: int = 50) -> list[str]:
    rng = random.Random(1)
    keys: list[str] = []
    d = 0
    while len(keys) < n:
        prefix = f"cat/g{d % groups:02d}/ds{d:06d}"
        keys += [f"{prefix}/part-{p:05d}" for p in range(rng.randint(4, 16))]
        keys.append(f"{prefix}/metadata")
        d += 1
    return sorted(keys)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--keys", type=int, required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--in-memory", action="store_true")
    ap.add_argument("--noop-reps", type=int, default=3)
    ap.add_argument(
        "--tree",
        default=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    args = ap.parse_args()
    sys.path.insert(0, os.path.abspath(args.tree))

    from dig_aggregator_core_spark.plans.context import Context, local_lister
    from dig_aggregator_core_spark.plans.inputs import Source
    from dig_aggregator_core_spark.plans.opts import Opts
    from dig_aggregator_core_spark.plans.outputs import Named
    from dig_aggregator_core_spark.plans.stage import Stage

    spent = {"list": 0.0, "inputs": 0.0, "route": 0.0, "listed": 0}

    class TimedSource:
        def __init__(self, source):
            self.source = source

        def inputs(self, context):
            t = time.perf_counter()
            out = self.source.inputs(context)
            spent["inputs"] += time.perf_counter() - t
            return out

    class CatalogStage(Stage):
        part_src = Source("cat/*/*/", "part-*")
        meta_src = Source("cat/*/*/", "metadata")
        sources = [TimedSource(part_src), TimedSource(meta_src)]

        def rules(self, input_):
            caps = self.part_src.captures(input_) or self.meta_src.captures(input_)
            return Named(caps[0])

        def build_output_map(self, inputs, opts):
            t = time.perf_counter()
            out = super().build_output_map(inputs, opts)
            spent["route"] += time.perf_counter() - t
            return out

    keys = catalog_keys(args.keys)
    root = os.path.join(args.work, f"cat{args.keys}")
    listing: list = []
    if args.in_memory:
        listing = [(k, datetime(2026, 1, 1)) for k in keys]
        inner = lambda prefix: listing  # noqa: E731 - both sources list cat/
    else:
        if not os.path.exists(os.path.join(root, "_done")):
            shutil.rmtree(root, ignore_errors=True)
            for k in keys:
                os.makedirs(os.path.dirname(os.path.join(root, k)), exist_ok=True)
                open(os.path.join(root, k), "wb").close()
            open(os.path.join(root, "_done"), "wb").close()
        inner = local_lister(root)

    def lister(prefix):
        t = time.perf_counter()
        out = inner(prefix)
        spent["list"] += time.perf_counter() - t
        spent["listed"] += len(out)
        return out

    warehouse = os.path.join(args.work, f"wh-{os.getpid()}")
    ctx = Context(
        spark=None, project="p", method_name="M", warehouse=warehouse, lister=lister
    )
    ctx.runs.migrate()
    stage = CatalogStage(ctx)
    phases: dict[str, list[dict]] = {}

    def phase(name: str):
        spent.update(list=0.0, inputs=0.0, route=0.0, listed=0)
        t = time.perf_counter()
        work = stage.get_work(Opts())
        total = time.perf_counter() - t
        phases.setdefault(name, []).append(
            {
                "list": spent["list"],
                "match": spent["inputs"] - spent["list"],
                "route": spent["route"],
                "antijoin": total - spent["inputs"] - spent["route"],
                "total": total,
                "listed": spent["listed"],
                "pairs": sum(len(s) for s in work.values()),
            }
        )
        return work

    try:
        work = phase("cold")
        ctx.runs.insert_many(stage.name, {o: list(s) for o, s in work.items()})
        for _ in range(args.noop_reps):
            phase("noop")
        picked = random.Random(2).sample(range(len(keys)), max(1, len(keys) // 100))
        newer = datetime.now(timezone.utc).replace(tzinfo=None) + timedelta(days=1)
        old = {}
        for i in picked:
            if args.in_memory:
                listing[i] = (keys[i], newer)
            else:
                path = os.path.join(root, keys[i])
                old[path] = os.stat(path).st_mtime_ns
                os.utime(path, (time.time() + 86400,) * 2)
        phase("delta")
        for path, ns in old.items():
            os.utime(path, ns=(ns, ns))
    finally:
        shutil.rmtree(warehouse, ignore_errors=True)
    out = {
        name: {k: statistics.median(r[k] for r in rows) for k in rows[0]}
        for name, rows in phases.items()
    }
    print(json.dumps({"keys": args.keys, "in_memory": args.in_memory, **out}))


if __name__ == "__main__":
    main()

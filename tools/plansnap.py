"""Capture .explain("formatted") for registered queries into plans/<round>/.

Usage:
    python tools/plansnap.py before name1 name2 ...   # plans/<round>/<name>_before.txt
    python tools/plansnap.py after  name1 name2 ...   # plans/<round>/<name>_after.txt
    python tools/plansnap.py before --headline        # every bench.py HEADLINE query

``SPARK_GRAFT_PLANS_ROUND`` names the round directory (default r13) and
``SPARK_GRAFT_SF_DIR`` the data directory (default: the sf0.1 test data).

The snapshot is the analyzed/optimized physical plan BEFORE execution
(AdaptiveSparkPlan isFinalPlan=false where AQE applies) — the checkable
artifact for plan-shape claims (Exchange count, join strategy, PushedFilters,
ReadSchema, BatchEvalPython/ArrowEvalPython presence). Ids that differ from
run to run (expression ids ``#123``, ``plan_id=``, RDD numbers) are
stripped, so a before and an after snapshot of one plan diff cleanly.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from dig_aggregator_core_spark import registry  # noqa: E402
from dig_aggregator_core_spark.session import get_spark  # noqa: E402


# run-specific ids: expression/exchange ids, Spark Connect plan ids, RDD ids
_RUN_IDS = (
    (re.compile(r"#\d+"), "#"),
    (re.compile(r"plan_id=\d+"), "plan_id="),
    (re.compile(r"RDD\[\d+\]"), "RDD[]"),
)


def normalize(plan: str) -> str:
    """``plan`` with the run-specific ids stripped."""
    for pat, repl in _RUN_IDS:
        plan = pat.sub(repl, plan)
    return plan


def main() -> int:
    suffix = sys.argv[1]
    assert suffix in ("before", "after"), "first arg must be before|after"
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", os.environ.get("SPARK_GRAFT_PLANS_ROUND", "r13")
    )
    os.makedirs(out_dir, exist_ok=True)
    registry.load_all()
    if "--headline" in sys.argv[2:]:
        import bench

        names = [n for n in bench.HEADLINE if n in registry.QUERIES]
    else:
        names = sys.argv[2:]
    spark = get_spark(app_name="plansnap")
    spark.sparkContext.setLogLevel("ERROR")
    failed = []
    for name in names:
        fn = registry.QUERIES.get(name)
        if fn is None:
            failed.append((name, "not registered"))
            continue
        try:
            df = fn(spark, sf_dir)
            plan = normalize(df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            ))
        except Exception as exc:  # noqa: BLE001 - record and continue
            failed.append((name, repr(exc)[:200]))
            continue
        with open(os.path.join(out_dir, f"{name}_{suffix}.txt"), "w") as f:
            f.write(plan)
        print(f"{name}: {plan.count('Exchange')} Exchange refs -> {name}_{suffix}.txt")
    for name, err in failed:
        print(f"FAILED {name}: {err}")
    spark.stop()
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())

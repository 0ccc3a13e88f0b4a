"""The benchmark's metric names and units, as declared in BENCHMARK.json.

End-to-end metrics are printed by untraced runs, per-layer metrics by
traced runs. The phase prefixes are the same on every workload:

- `cold`: nothing reused (empty ledger; or empty memos and scratch);
- `warm`: everything reused (a no-op `Stage.run`; or a warm query pass);
- `partial`: part reused (a delta `Stage.run`; or a pass in a new session,
  where session memos miss and on-disk build-once dirs hit).
"""

from __future__ import annotations

from .trace import SPARK_KEYS, STREAM_PHASES

PHASES = ("cold", "warm", "partial")

END_TO_END = {
    "setup_s": "s",
    "cold_s": "s",
    "warm_s": "s",
    "partial_s": "s",
    "peak_rss_mb": "MB",
}


# --- orchestrator workloads

# self-time buckets: with the job time and the remainder they add up to
# the whole wall time of a phase
SELF_TIME = {
    "plans.context.list": "plans.context.list_s",
    "plans.inputs.match": "plans.inputs.match_s",
    "plans.stage.route": "plans.stage.route_s",
    "plans.stage.get_work": "plans.stage.antijoin_s",
    "plans.stage.process_outputs": "plans.stage.dispatch_s",
    "plans.stage.insert_runs": "plans.stage.commit_s",
    "plans.ledger.runs_upsert": "plans.ledger.runs_upsert_s",
    "plans.ledger.runstatus_write": "plans.ledger.runstatus_write_s",
}
PER_PHASE = (
    *SELF_TIME.values(),
    "plans.stage.remainder_s",
    "plans.stage.fresh_pairs",
    "plans.stage.fresh_ratio",
)
# cold and delta runs only: a no-op run writes and runs nothing
PER_CHANGE = (
    "plans.stage.jobs_s",
    "plans.ledger.versions_written",
    "plans.ledger.rows_rewritten_per_row",
    "plans.stage.job_s.p50",
    "plans.stage.job_s.max",
    "plans.stage.job_wait_s",
)
PER_RUN = ("plans.context.listed", "plans.inputs.matched", "plans.stage.pairs")

# --- operator mix: the query fns' modules (`mix.family`)
FAMILIES = (
    "operators.frequency",
    "operators.relational",
    "operators.aggregates",
    "operators.dedup",
    "streaming.stateful",
    "operators.training",
)


def _unit(name: str) -> str:
    if name.endswith("_s") or "job_s." in name:
        return "s"
    if name.endswith("bytes"):
        return "B"
    if name.endswith(("ratio", "per_row")):
        return "ratio"
    return "count"


def per_layer_names() -> list[str]:
    names = [f"{p}.{m}" for p in PHASES for m in PER_PHASE]
    names += [f"{p}.{m}" for p in ("cold", "partial") for m in PER_CHANGE]
    names += list(PER_RUN) + ["plans.ledger.bytes"]
    names += [f"{p}.spark.{k}" for p in PHASES for k in SPARK_KEYS]
    names += [f"{p}.{f}.{k}_s" for p in ("cold", "warm") for f in FAMILIES for k in ("build", "action")]
    names += [f"cold.{f}.{k}_jobs" for f in FAMILIES for k in ("build", "action")]
    names += ["streaming.batches", *(f"streaming.{k}" for k in STREAM_PHASES), "streaming.state_rows"]
    names += ["trace.overhead_s"]
    return names


def per_layer_units() -> dict[str, str]:
    return {n: _unit(n) for n in per_layer_names()}

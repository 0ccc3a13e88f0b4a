"""The benchmark's own tests: every workload at tiny scale reports every
declared metric with its unit, and a wrong answer makes it fail.

    python -m pytest perfbench -q -p no:cacheprovider

Run them on their own: the first test starts the JVM with this module's
environment (cores, memory, scratch dirs, PYTHONPATH for Python workers).
"""

from __future__ import annotations

import functools
import json
import os
import tempfile

import pytest

from perfbench import harness, methods, metrics, mix
from dig_aggregator_core_spark import registry

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TINY = {
    "orchestrator_catalog": {"keys": 300, "groups": 5, "delta_frac": 0.02},
    "frequency_method": {"datasets": 2, "rows": 60, "variants": 40},
    "operator_mix": {"scale": 0.0001},
}


@pytest.fixture(scope="module", autouse=True)
def bench_env(tmp_path_factory):
    tmp = str(tmp_path_factory.mktemp("perfbench-tmp"))
    saved = dict(os.environ)
    os.environ.update(
        SPARK_GRAFT_CPUS="2",
        SPARK_GRAFT_DRIVER_MEM="1g",
        SPARK_LOCAL_DIRS=tmp,
        PYTHONPATH=os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
    )
    old_tempdir, tempfile.tempdir = tempfile.tempdir, tmp
    yield
    tempfile.tempdir = old_tempdir
    os.environ.clear()
    os.environ.update(saved)


def _run(workload, tmp_path, trace, seed=3):
    return harness.run(
        workload, seed, 1.0, trace, str(tmp_path / "work"), sizes=TINY[workload], root=ROOT
    )


def _declared():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        b = json.load(f)
    e2e = {m["name"]: m["unit"] for m in b["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in b["per_layer"]}
    return b, e2e, layer


def test_benchmark_json_matches_the_metrics_the_code_reports():
    b, e2e, layer = _declared()
    assert e2e == metrics.END_TO_END
    assert layer == metrics.per_layer_units()
    assert sorted(w["name"] for w in b["workloads"]) == sorted(harness.WORKLOADS)
    registry.load_all()
    assert {mix.family(q) for q in mix.QUERIES} == set(metrics.FAMILIES)


def _assert_metrics(result, declared):
    assert set(result["metrics"]) == set(declared)
    for name, unit in declared.items():
        m = result["metrics"][name]
        assert m["unit"] == unit, name
        assert isinstance(m["value"], float), name


@pytest.mark.parametrize("workload", ["orchestrator_catalog", "frequency_method"])
def test_method_workloads_are_correct_and_report_every_metric(workload, tmp_path):
    _, e2e, layer = _declared()
    plain = _run(workload, tmp_path / "plain", False)
    assert plain["failures"] == []
    assert plain["result"]["correct"] and plain["result"]["failed"] == 0
    _assert_metrics(plain["result"], e2e)
    assert all(plain["result"]["metrics"][n]["value"] > 0 for n in e2e)

    traced = _run(workload, tmp_path / "traced", True)
    assert traced["failures"] == []
    _assert_metrics(traced["result"], layer)
    lay = traced["per_layer"]
    # the layer self times account for each phase's wall time
    for phase in ("cold", "partial"):
        parts = [k for k in lay if k.startswith(f"{phase}.plans.") and k.endswith("_s")
                 and "job_s." not in k and "job_wait" not in k]
        wall = harness._median(traced["walls"][phase])
        assert sum(lay[k] for k in parts) == pytest.approx(wall, rel=0.05)
    assert lay["cold.plans.stage.fresh_ratio"] == 1.0
    assert lay["warm.plans.stage.fresh_pairs"] == 0


def test_catalog_skipped_output_is_a_failure(tmp_path, monkeypatch):
    make = methods.CatalogStage.make

    def skipping(self, output):
        return (lambda ctx: None) if output == "g00" else make(self, output)

    monkeypatch.setattr(methods.CatalogStage, "make", skipping)
    rec = _run("orchestrator_catalog", tmp_path, False)
    assert rec["failed_frac"] > 0
    assert not rec["result"]["correct"]
    assert any("expected" in f for f in rec["failures"])


def test_frequency_perturbed_answer_is_a_failure(tmp_path, monkeypatch):
    from pyspark.sql import functions as F

    calc = methods.calc_freq

    def perturbed(variants, weights, ancestry):
        return calc(variants, weights, ancestry).withColumn("maf", F.col("maf") * 1.001)

    monkeypatch.setattr(methods, "calc_freq", perturbed)
    rec = _run("frequency_method", tmp_path, False)
    assert rec["failed_frac"] > 0
    assert any("got" in f for f in rec["failures"])


def test_operator_mix_reports_every_metric_and_catches_a_wrong_query(tmp_path, monkeypatch):
    _, e2e, layer = _declared()
    registry.load_all()
    fn = registry.QUERIES["q1_pricing_summary"]

    @functools.wraps(fn)
    def wrong(spark, sf_dir):
        return fn(spark, sf_dir).limit(1)

    monkeypatch.setitem(registry.QUERIES, "q1_pricing_summary", wrong)
    rec = _run("operator_mix", tmp_path, True)
    _assert_metrics(rec["result"], layer)
    assert set(rec["end_to_end"]) == set(e2e)
    assert all(rec["end_to_end"][n] > 0 for n in e2e)
    # only the wrong query fails, and only its oracle check
    assert [f.split(":")[0] for f in rec["failures"]] == ["oracle/q1_pricing_summary"]
    assert 0 < rec["failed_frac"] < 1
    lay = rec["per_layer"]
    assert lay["streaming.batches"] > 0
    assert lay["cold.operators.relational.action_s"] > 0

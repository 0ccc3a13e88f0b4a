"""End-to-end: every registered query matches its DuckDB oracle at sf0.001
(the driver repeats this at sf0.01). Queries without an oracle get a
rows-executable smoke check."""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

from dig_aggregator_core_spark import registry

from .oracle import compare, duck_con

registry.load_all()

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture(scope="module")
def con(sf_dir):
    c = duck_con(sf_dir)
    yield c
    c.close()


@pytest.mark.parametrize("name", sorted(registry.QUERIES))
def test_query_matches_oracle(name, spark, sf_dir, con):
    pinned = registry.ORACLE_SF_PIN.get(name)
    if pinned is not None and pinned != sf_dir:
        # file-path-bound oracle (e.g. parquet_metadata): evaluate BOTH
        # sides at the driver's contractual dir instead of skipping
        df = registry.QUERIES[name](spark, pinned)
        c2 = duck_con(pinned)
        try:
            compare(df, c2, registry.ORACLES[name])
        finally:
            c2.close()
        return
    df = registry.QUERIES[name](spark, sf_dir)
    if name in registry.ORACLES:
        compare(df, con, registry.ORACLES[name])
    else:
        # rows-only check (non-SQL-expressible op)
        assert df.count() >= 0
        assert df.schema is not None


def test_entry_smoke(spark):
    import __spark_entry__ as e

    out = e.entry(spark)
    assert out.count() > 0
    keys = set(e.queries())
    assert set(e.oracle_sql()) <= keys


def test_registry_bookkeeping_invariants():
    """The bookkeeping the driver evidence depends on, checked without
    Spark: every query carries a DuckDB oracle (a rows-only entry would
    be a silent downgrade of the hash check), and listing the queries
    starts no JVM. The order and manifest invariants live in
    test_plans.test_registry_ordering_is_a_permutation."""
    missing = (
        set(registry.QUERIES)
        - set(registry.ORACLES)
        - registry.ROWS_ONLY_BY_DESIGN
    )
    assert not missing, f"queries without an oracle: {sorted(missing)}"
    # the by-design set must stay honest: registered, and truly oracle-less
    assert registry.ROWS_ONLY_BY_DESIGN <= set(registry.QUERIES)
    assert not (registry.ROWS_ONLY_BY_DESIGN & set(registry.ORACLES))
    probe = (
        "import __spark_entry__ as e\n"
        "from pyspark import SparkContext\n"
        "assert len(e.queries()) > 0\n"
        "assert SparkContext._active_spark_context is None\n"
    )
    subprocess.run([sys.executable, "-c", probe], cwd=REPO, check=True)

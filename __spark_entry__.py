"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash → CORRECTNESS_r{N}.json).

All real logic lives in ``dig_aggregator_core_spark``; operators register
themselves with the package registry (one pair per SURVEY.md §2 row).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from dig_aggregator_core_spark import registry


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0.

    The DataFrame rewrite of the reference's frequencyAnalysis.py payload
    (weighted allele-frequency pipeline) — see
    dig_aggregator_core_spark/operators/frequency.py.
    """
    registry.load_all()
    return registry.QUERIES["flagship_frequency"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2.

    Ordered so queries whose current code has no green correctness row
    run first: each round checks only about 50 entries (see
    ``registry.ordered_queries``)."""
    return registry.ordered_queries()


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL for every SQL-expressible query."""
    registry.load_all()
    return dict(registry.ORACLES)

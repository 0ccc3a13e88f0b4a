"""Sinks (S5/S10) and columnar input discovery (S1, P5-P8): the Arrow
match in `Source.inputs` must agree with `Source.matches`, key by key.
"""

from __future__ import annotations

from datetime import datetime
from types import SimpleNamespace

from pyspark.sql import functions as F

from dig_aggregator_core_spark.plans.inputs import Input, Source
from dig_aggregator_core_spark.sources.sinks import (
    write_json_partitioned,
    write_merged_csv,
)

NOW = datetime(2026, 1, 1)

LISTING = [
    ("a/foo/bar", NOW),
    ("a/foo/baz", NOW),
    ("b/test=x/whee", NOW),
    ("b/test=y/sub/whee", NOW),
    ("c/other", NOW),
    ("variants/ds1/T2D/metadata", NOW),
    ("variants/ds1/T2D/part-00000", NOW),
]


CONTEXT = SimpleNamespace(lister=lambda prefix: LISTING)


def test_source_inputs_agree_with_matches():
    for source in [
        Source("a/*/", "*"),
        Source("b/test=*/", "whee"),
        Source("variants/*/*/", "metadata"),
        Source("variants/*/*/", "part-*"),
    ]:
        arrow_keys = {i.key for i in source.inputs(CONTEXT)}
        expected = {k for k, v in LISTING if source.matches(Input(k, v))}
        assert arrow_keys == expected, source


def test_source_inputs_captures():
    source = Source("variants/*/*/", "part-*")
    out = source.inputs(CONTEXT)
    assert len(out) == 1
    row = out[0]
    assert row == Input("variants/ds1/T2D/part-00000", NOW)
    dataset, phenotype, part = source.captures(row)
    assert (dataset, phenotype, part) == ("ds1", "T2D", "00000")


def test_write_merged_csv_single_header(spark, tmp_path):
    df = spark.range(100).select(
        F.col("id"), (F.col("id") * 2).alias("double_id")
    )
    dest = str(tmp_path / "out.csv")
    write_merged_csv(df, dest)
    lines = open(dest).read().strip().split("\n")
    assert lines[0] == "id,double_id"
    assert len(lines) == 101
    assert sum(1 for ln in lines if ln == "id,double_id") == 1


def test_write_json_partitioned(spark, tmp_path):
    df = spark.createDataFrame(
        [("EU", 1, 0.5), ("EU", 2, 0.6), ("SA", 3, 0.7)],
        "ancestry string, var_id int, eaf double",
    )
    dest = str(tmp_path / "freq")
    write_json_partitioned(df, dest, "ancestry")
    back = spark.read.json(dest)
    assert back.count() == 3
    assert set(r.ancestry for r in back.select("ancestry").collect()) == {"EU", "SA"}
    import os

    assert os.path.isdir(os.path.join(dest, "ancestry=EU"))

"""The load() scan memo (OPTIMIZATION r12): plan-object reuse only.

The memo caches the UNEXECUTED scan DataFrame per (session, dir,
listing-fingerprint, table). It must (1) serve hits without a fresh
spark.read.parquet, (2) keep same-dir sibling tables warm across a miss
on a new table name, (3) miss — and re-read — after an in-place file
mutation (the session_memo staleness contract), and (4) never change what a
query computes (values come from the parquet files on every action).
"""

import os
import shutil

import pytest

from dig_aggregator_core_spark import tables


@pytest.fixture()
def corpus(tmp_path, spark):
    src = "/root/testdata/sf0.001"
    d = tmp_path / "corpus"
    d.mkdir()
    for t in ("region", "nation"):
        shutil.copy(os.path.join(src, f"{t}.parquet"), d / f"{t}.parquet")
    return str(d)


def test_hit_returns_same_plan_object(spark, corpus):
    a = tables.load(spark, corpus, "region")
    b = tables.load(spark, corpus, "region")
    assert a is b


def test_sibling_tables_survive_new_table_miss(spark, corpus):
    a = tables.load(spark, corpus, "region")
    tables.load(spark, corpus, "nation")  # miss on a NEW name
    assert tables.load(spark, corpus, "region") is a


def test_in_place_mutation_evicts_and_rereads(spark, corpus):
    before = tables.load(spark, corpus, "region")
    n_before = before.count()
    # overwrite region.parquet with nation's file: different rows, and a
    # different (mtime, size) listing fingerprint
    shutil.copy(
        os.path.join("/root/testdata/sf0.001", "nation.parquet"),
        os.path.join(corpus, "region.parquet"),
    )
    after = tables.load(spark, corpus, "region")
    assert after is not before
    assert after.count() != n_before


def test_distinct_dirs_coexist(spark, corpus):
    a = tables.load(spark, corpus, "region")
    b = tables.load(spark, "/root/testdata/sf0.001", "region")
    assert a is not b
    assert tables.load(spark, corpus, "region") is a

"""The one AvailableNow runner (streaming.stateful.run_available_now)
and the one fixture source (streaming.stateful._fixture_stream).

Contracts pinned here:
  * state partitions are capped at the session's task slots: a fold asks
    for 16, a stream-stream join or a per-key aggregate for 4, and each
    query's own progress reports min(ask, defaultParallelism);
  * every finished query logs one JSON record (batches, input rows,
    per-batch durationMs phases, partitions and rows per state operator);
  * the query keeps the partition count set around start(), while the
    caller's session is back at its own value before any batch runs;
  * shared session conf survives concurrent callers: streaming runners
    and a dynamic-overwrite index compaction run together in threads
    return what a serial run returns, and leave
    spark.sql.shuffle.partitions and partitionOverwriteMode as they were;
  * the fixture source streams every row of events and documents, from a
    single-file table and from a multi-file ``<table>.parquet`` dir.
"""
from __future__ import annotations

import json
import logging
import os
import shutil
import sys
import threading

import pyarrow.parquet as pq
import pyspark.sql.functions as F
import pytest

from dig_aggregator_core_spark.operators.similarity import (
    _DELETED_FILTER,
    _INC_COMMIT_FILTER,
    _build_committed_index,
    _vecs,
    ann_index_append,
    ann_index_compact,
    ann_index_delete,
)
from dig_aggregator_core_spark.streaming import stateful
from dig_aggregator_core_spark.streaming.stateful import (
    stream_ewma_stateful,
    stream_stateful_user_stats,
    stream_stream_interval_join,
)
from dig_aggregator_core_spark.streaming.windows import (
    stream_tumbling_availablenow,
)
from dig_aggregator_core_spark.tables import load

_PHASES = {"latestOffset", "queryPlanning", "addBatch", "walCommit", "commitOffsets"}
_SHARED = (
    "spark.sql.shuffle.partitions",
    "spark.sql.sources.partitionOverwriteMode",
)


def _runs(caplog) -> list[dict]:
    return [
        json.loads(r.getMessage())
        for r in caplog.records
        if r.name == stateful.__name__ and '"stream_run"' in r.getMessage()
    ]


def _rows(df) -> list[tuple]:
    return sorted(tuple(r) for r in df.collect())


def _partitions(run: dict) -> set:
    return {o["numShufflePartitions"] for o in run["stateOperators"]}


def test_state_partitions_capped_at_task_slots(spark, sf_dir, caplog):
    caplog.set_level(logging.INFO, logger=stateful.__name__)
    slots = spark.sparkContext.defaultParallelism
    before = spark.conf.get("spark.sql.shuffle.partitions")
    stream_ewma_stateful(spark, sf_dir)
    stream_stream_interval_join(spark, sf_dir)
    stream_stateful_user_stats(spark, sf_dir)
    fold, join, agg = _runs(caplog)
    assert _partitions(fold) == {min(16, slots)}
    assert _partitions(join) == {min(4, slots)}
    # user stats is a built-in aggregate: a JVM state operator, join family
    assert [
        (o["operatorName"], o["numShufflePartitions"]) for o in agg["stateOperators"]
    ] == [("stateStoreSave", min(4, slots))]
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


def test_run_record_explains_the_query(spark, sf_dir, caplog):
    caplog.set_level(logging.INFO, logger=stateful.__name__)
    got = stream_ewma_stateful(spark, sf_dir)
    (run,) = _runs(caplog)
    events = load(spark, sf_dir, "events")
    assert run["batches"] == len(run["durationMs"]) >= 1
    for phases in run["durationMs"]:
        assert _PHASES <= set(phases)
    assert run["numInputRows"] == events.count()
    (op,) = run["stateOperators"]
    assert op["operatorName"] == "applyInPandasWithState"
    # one state row per user, and one emitted row per user
    assert op["numRowsTotal"] == got.count()
    assert run["wall_ms"] >= sum(d["addBatch"] for d in run["durationMs"])


def _deleted_index(spark, sf_dir, out: str) -> None:
    _build_committed_index(spark, sf_dir, out)
    ann_index_append(
        spark, out,
        _vecs(spark, sf_dir).filter(~F.expr(_INC_COMMIT_FILTER)),
    )
    ann_index_delete(
        spark, out, _vecs(spark, sf_dir).filter(F.expr(_DELETED_FILTER))
    )


def _compacted(spark, idx: str) -> list[tuple]:
    ann_index_compact(spark, idx, min_share=0.0)
    data = spark.read.parquet(os.path.join(idx, "index.parquet"))
    return _rows(data.select("vec_id", "pbucket"))


def test_session_conf_restored_before_the_query_runs(spark, sf_dir):
    """The query keeps the partition count the runner set around start();
    the caller's session is back at its own value while batches run."""
    caller = spark.conf.get("spark.sql.shuffle.partitions")
    seen = []

    def sink(batch, epoch_id):
        seen.append((
            spark.conf.get("spark.sql.shuffle.partitions"),
            batch.sparkSession.conf.get("spark.sql.shuffle.partitions"),
        ))

    stream = stateful._events_stream(spark, sf_dir).select("user_id")
    stateful.run_available_now(stream, state_partitions=3, sink=sink)
    slots = spark.sparkContext.defaultParallelism
    assert seen and set(seen) == {(caller, str(min(3, slots)))}


def test_shared_conf_survives_concurrent_runs(spark, sf_dir, tmp_path):
    """Two folds, two window aggs and an index compaction (a dynamic
    partition overwrite) on one session in more threads than cores."""
    before = {k: spark.conf.get(k) for k in _SHARED}
    serial_idx = str(tmp_path / "serial")
    threaded_idx = str(tmp_path / "threaded")
    _deleted_index(spark, sf_dir, serial_idx)
    shutil.copytree(serial_idx, threaded_idx)

    fold = lambda: _rows(stream_ewma_stateful(spark, sf_dir))  # noqa: E731
    window = lambda: _rows(stream_tumbling_availablenow(spark, sf_dir))  # noqa: E731
    want = {"fold": fold(), "window": window()}
    want["compact"] = _compacted(spark, serial_idx)
    assert {k: spark.conf.get(k) for k in _SHARED} == before

    jobs = [
        ("fold", fold),
        ("fold", fold),
        ("window", window),
        ("window", window),
        ("compact", lambda: _compacted(spark, threaded_idx)),
    ]
    got, errors = [], []
    barrier = threading.Barrier(len(jobs))

    def work(key, run):
        barrier.wait()
        try:
            got.append((key, run()))
        except Exception as e:  # surfaced below
            errors.append(e)

    drains = sum(stateful._DRAIN_STATS.values())
    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-4)
    try:
        threads = [threading.Thread(target=work, args=j) for j in jobs]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
    finally:
        sys.setswitchinterval(switch)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    assert sorted(got) == sorted((k, want[k]) for k, _ in jobs)
    # one drain per memory-sink query, none lost to a racing increment
    assert sum(stateful._DRAIN_STATS.values()) == drains + 4
    assert {k: spark.conf.get(k) for k in _SHARED} == before


@pytest.mark.parametrize("layout", ["file", "dir"])
@pytest.mark.parametrize("name", ["events", "documents"])
def test_fixture_stream_streams_every_row(spark, sf_dir, tmp_path, name, layout):
    """A multi-file dir must be streamed itself: the single-file glob over
    its parent matches no leaf file and streams zero rows."""
    src = sf_dir
    if layout == "dir":
        src = str(tmp_path)
        table = pq.read_table(f"{sf_dir}/{name}.parquet")
        os.makedirs(f"{src}/{name}.parquet")
        step = -(-table.num_rows // 3)
        for i in range(3):
            pq.write_table(
                table.slice(i * step, step), f"{src}/{name}.parquet/part-{i}.parquet"
            )
    stream = stateful._fixture_stream(spark, src, name)
    drained = stateful.run_available_now(stream.select(stream.columns[0]))
    assert drained.count() == load(spark, src, name).count() > 0

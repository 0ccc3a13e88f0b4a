"""Cross-micro-batch state accumulation: the stateful EWMA must carry its
state store across batches, not just fold within one.

The oracle-checked stream_ewma_stateful query replays the fixture in a
single AvailableNow batch, which exercises the fold but not the
state-carry. Here the events split into two files at the median
timestamp, `maxFilesPerTrigger=1` forces one batch per file (file
modification times pin the order), and the final emission must still
equal the batch recurrence over the whole history — proving the state
round-trips through the store between batches. The same split drives
the other folds, and the two per-key aggregates (user stats, cohort
days) through ``run_available_now`` in complete mode, whose drain must
hold one row per user.
"""

from __future__ import annotations

import json
import logging
import os
import shutil
import tempfile
import time

import pandas as pd
import pytest
from pyspark.sql import functions as F

from dig_aggregator_core_spark.streaming import stateful
from dig_aggregator_core_spark.streaming.stateful import (
    _EWMA_OUT,
    _EWMA_STATE,
    _ewma_fn,
)
from dig_aggregator_core_spark.tables import load
from pyspark.sql.streaming.state import GroupStateTimeout


def _two_file_stream(spark, name: str, first, second):
    """A file stream over ``first`` then ``second``, written as one
    parquet file each under a fresh scratch dir ``<tmp>/spark_graft_scratch/
    <name>`` and read one file per micro-batch (``maxFilesPerTrigger=1``).
    Returns the stream and the scratch dir."""
    base = os.path.join(tempfile.gettempdir(), "spark_graft_scratch", name)
    shutil.rmtree(base, ignore_errors=True)
    data_dir = os.path.join(base, "data")
    os.makedirs(data_dir, exist_ok=True)
    for i, half in enumerate((first, second)):
        tmp = os.path.join(base, f"half{i}")
        half.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = [f for f in os.listdir(tmp) if f.endswith(".parquet")][0]
        dest = os.path.join(data_dir, f"{chr(97 + i)}.parquet")
        shutil.copy(os.path.join(tmp, part), dest)
        # file source processes oldest-modified first under
        # maxFilesPerTrigger=1 — pin the order explicitly
        ts_file = time.time() - (10 - i)
        os.utime(dest, (ts_file, ts_file))
    stream = (
        spark.readStream.schema(first.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(data_dir)
    )
    return stream, base


def test_ewma_state_carries_across_batches(spark, sf_dir):
    ev = load(spark, sf_dir, "events").select("user_id", "ts", "value")
    # split at the row-count midpoint of the sorted ts domain so batch
    # order == event-time order (ties land entirely in the first half)
    bound = (
        ev.select("ts")
        .orderBy("ts")
        .limit(ev.count() // 2)
        .agg(F.max("ts").alias("b"))
        .collect()[0]["b"]
    )
    first = ev.filter(F.col("ts") <= F.lit(bound))
    second = ev.filter(F.col("ts") > F.lit(bound))
    assert first.count() > 0 and second.count() > 0

    stream, base = _two_file_stream(spark, "multibatch", first, second)
    out = stream.groupBy("user_id").applyInPandasWithState(
        _ewma_fn,
        outputStructType=_EWMA_OUT,
        stateStructType=_EWMA_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    sink = "multibatch_ewma_sink"
    chk = os.path.join(base, "chk")
    q = (
        out.writeStream.format("memory")
        .queryName(sink)
        .outputMode("update")
        .option("checkpointLocation", chk)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    progress = q.recentProgress
    assert len(progress) >= 2, "expected one micro-batch per file"

    from pyspark.sql import Window

    result = spark.table(sink)
    w = Window.partitionBy("user_id").orderBy(F.desc("n_events"))
    w_final = (
        result.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
    )
    got = {
        r["user_id"]: (r["n_events"], r["ewma"]) for r in w_final.collect()
    }

    # batch recurrence over the full history
    expected_df = (
        ev.groupBy("user_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("ts", F.col("value").alias("v")))
            ).alias("pairs")
        )
        .select(
            "user_id",
            F.size("pairs").alias("n_events"),
            F.round(
                F.expr(
                    "aggregate(slice(pairs, 2, size(pairs) - 1), "
                    "element_at(pairs, 1).v, "
                    "(acc, p) -> 0.3D * p.v + 0.7D * acc)"
                ),
                6,
            ).alias("ewma"),
        )
    )
    expected = {
        r["user_id"]: (r["n_events"], r["ewma"])
        for r in expected_df.collect()
    }
    assert got == expected


class _FakeState:
    """Minimal GroupState stand-in for unit-driving the folds."""

    hasTimedOut = False

    def __init__(self):
        self._v = None

    @property
    def exists(self):
        return self._v is not None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = v

    def getCurrentWatermarkMs(self):
        return 0

    def setTimeoutTimestamp(self, ms):
        pass


def _ewma_after(*vals):
    ewma = vals[0]
    for v in vals[1:]:
        ewma = 0.3 * v + 0.7 * ewma
    return ewma


_GAP = stateful._SESSTO_GAP_US
# fold, key, the key's rows in event-time order, expected emitted
# columns, expected state. Each case is order-sensitive: folding the
# later half first gives other columns or another state.
_ORDER_CASES = {
    "ewma": (
        stateful._ewma_fn,
        (7,),
        {"ts": [10, 20, 30, 40], "value": [1.0, 2.0, 3.0, 4.0]},
        {"user_id": [7], "n_events": [4], "ewma": [round(_ewma_after(1, 2, 3, 4), 6)]},
        (4, _ewma_after(1.0, 2.0, 3.0, 4.0)),
    ),
    "funnel": (
        stateful._funnel_fn,
        (7,),
        {"us": [10, 20, 30, 40], "event_type": ["view", "click", "purchase", "view"]},
        {"user_id": [7], "t1": [10], "t2": [20], "t3": [30]},
        (10, 20, 30),
    ),
    "attribution": (
        stateful._attr_fn,
        (7,),
        {
            "us": [10, 20, 30, 40],
            "event_id": [1, 2, 3, 4],
            "event_type": ["view", "purchase", "click", "purchase"],
        },
        {
            "purchase_id": [2, 4],
            "touch_id": [1, 3],
            "touch_type": ["view", "click"],
            "gap_us": [10, 10],
        },
        (30, 3, "click"),
    ),
    "zscore": (
        stateful._zanom_fn,
        (7,),
        {
            "us": [1, 2, 3, 4, 5, 6, 7],
            "event_id": [1, 2, 3, 4, 5, 6, 7],
            "xi": [0, 0, 0, 0, 0, 100, 50],
        },
        {"event_id": [6, 7], "n_prior": [5, 6], "is_anomaly": [True, False]},
        (7, 150, 12500),
    ),
    "transition": (
        stateful._transition_fn,
        (7,),
        {
            "us": [10, 20, 30, 40],
            "event_id": [1, 2, 3, 4],
            "event_type": ["view", "click", "purchase", "view"],
        },
        {"src": ["view", "click", "purchase"], "dst": ["click", "purchase", "view"]},
        ("view", 40),
    ),
    "cusum": (
        stateful._cusum_fn,
        ("click",),
        {"us": [10, 20, 30, 40], "event_id": [1, 2, 3, 4], "c": [5, -3, 7, 1]},
        {"event_type": ["click"] * 4, "rn": [1, 2, 3, 4], "cum": [5, 2, 9, 10]},
        (4, 10),
    ),
    "session_timeout": (
        stateful._session_timeout_fn,
        (7,),
        {"us": [0, _GAP // 2, 3 * _GAP, 3 * _GAP + 1]},
        {"user_id": [7], "start_us": [0], "end_us": [_GAP // 2], "n_events": [2]},
        (3 * _GAP, 3 * _GAP + 1, 2),
    ),
}


@pytest.mark.parametrize("case", list(_ORDER_CASES))
def test_fold_is_globally_ordered_across_arrow_chunks(case):
    """applyInPandasWithState delivers one key's micro-batch as an
    ITERATOR of Arrow chunks (split at arrow.maxRecordsPerBatch). Each
    ordered fold must order its rows across ALL chunks, not per chunk —
    here the later rows arrive in the FIRST chunk, so a per-chunk sort
    would fold them first and emit a different result."""
    fn, key, rows, want, want_state = _ORDER_CASES[case]
    df = pd.DataFrame(rows)
    half = len(df) // 2
    state = _FakeState()
    (out,) = list(fn(key, iter([df.iloc[half:], df.iloc[:half]]), state))
    assert {c: out[c].tolist() for c in want} == want
    assert state.get == want_state


def test_funnel_state_carries_across_batches(spark, sf_dir):
    """Same two-file replay for the stateful funnel: a user whose view
    lands in batch 1 and whose click/purchase land in batch 2 converts
    ONLY if (t1) round-tripped through the state store."""
    from dig_aggregator_core_spark.streaming.stateful import (
        _FUNNEL_OUT,
        _FUNNEL_STAGES,
        _FUNNEL_STATE,
        _funnel_fn,
    )
    from dig_aggregator_core_spark.tables import ntz_epoch_us

    ev = (
        load(spark, sf_dir, "events")
        .filter(F.col("event_type").isin(*_FUNNEL_STAGES))
        .select("user_id", ntz_epoch_us("ts").alias("us"), "event_type")
    )
    # split at a CONVERTING user's t1 so that user's later stages land in
    # batch 2 — guarantees the test exercises cross-batch conversion (an
    # arbitrary midpoint split may not, as the sf0.001 fixture showed)
    from dig_aggregator_core_spark.operators.behavioral import (
        stage_times as _stage_times,
    )

    expected = {
        r["user_id"]: (r["st"]["t1"], r["st"]["t2"], r["st"]["t3"])
        for r in _stage_times(ev).collect()
    }
    converters = {
        u: t for u, t in expected.items() if t[0] is not None and t[1] is not None
    }
    assert converters, "fixture has no converting user"
    bound = min(t[0] for t in converters.values())
    first = ev.filter(F.col("us") <= bound)
    second = ev.filter(F.col("us") > bound)
    assert first.count() > 0 and second.count() > 0

    stream, base = _two_file_stream(spark, "multibatch_funnel", first, second)
    out = stream.groupBy("user_id").applyInPandasWithState(
        _funnel_fn,
        outputStructType=_FUNNEL_OUT,
        stateStructType=_FUNNEL_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    sink = "multibatch_funnel_sink"
    q = (
        out.writeStream.format("memory")
        .queryName(sink)
        .outputMode("update")
        .option("checkpointLocation", os.path.join(base, "chk"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert len(q.recentProgress) >= 2

    # latest emission per user = most stages filled -> highest (t1,t2,t3)
    # non-null count; emissions only ever fill stages, so take the row
    # with the most non-nulls per user
    result = spark.table(sink).withColumn(
        "filled",
        F.col("t1").isNotNull().cast("int")
        + F.col("t2").isNotNull().cast("int")
        + F.col("t3").isNotNull().cast("int"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(F.desc("filled"))
    final = (
        result.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
    )
    got = {
        r["user_id"]: (r["t1"], r["t2"], r["t3"]) for r in final.collect()
    }
    assert got == expected
    # the split must actually exercise cross-batch conversion: at least
    # one user's t2 or t3 falls in the second half while t1 is in the
    # first
    crossers = [
        u
        for u, (t1, t2, t3) in expected.items()
        if t1 is not None
        and t1 <= bound
        and ((t2 is not None and t2 > bound) or (t3 is not None and t3 > bound))
    ]
    assert crossers, "fixture split produced no cross-batch conversions"


def _drained_run(spark, caplog, df, checkpoint):
    """``df`` run to idle by ``run_available_now`` in complete mode: the
    drained rows and the run's ``stream_run`` record."""
    caplog.set_level(logging.INFO, logger=stateful.__name__)
    caplog.clear()
    rows = stateful.run_available_now(df, "complete", checkpoint=checkpoint).collect()
    (run,) = [
        json.loads(r.getMessage())
        for r in caplog.records
        if '"stream_run"' in r.getMessage()
    ]
    return rows, run


def test_cohort_state_carries_across_batches(spark, sf_dir, caplog):
    """Two-file replay for the streaming cohort: a user's distinct-day SET
    must merge across batches (days from batch 1 kept when batch 2 adds
    more), and the complete-mode drain must hold each user's full set."""
    from dig_aggregator_core_spark.tables import ntz_epoch_us

    ev = load(spark, sf_dir, "events").select(
        "user_id",
        (ntz_epoch_us("ts") / F.lit(86_400_000_000))
        .cast("int")
        .alias("eday"),
    )
    # split at the median day so most users are active on BOTH sides
    days = sorted(r["eday"] for r in ev.select("eday").distinct().collect())
    bound = days[len(days) // 2]
    first = ev.filter(F.col("eday") <= bound)
    second = ev.filter(F.col("eday") > bound)
    assert first.count() > 0 and second.count() > 0

    stream, base = _two_file_stream(spark, "multibatch_cohort", first, second)
    rows, run = _drained_run(
        spark, caplog, stateful._cohort_days(stream), os.path.join(base, "chk")
    )
    assert run["batches"] >= 2

    got = {r["user_id"]: sorted(r["days"]) for r in rows}
    assert len(got) == len(rows)
    expected = {
        r["user_id"]: sorted(r["days"])
        for r in ev.groupBy("user_id")
        .agg(F.sort_array(F.collect_set("eday")).alias("days"))
        .collect()
    }
    assert got == expected
    # the split must actually exercise the cross-batch set merge
    crossers = [
        u
        for u, ds in expected.items()
        if any(d <= bound for d in ds) and any(d > bound for d in ds)
    ]
    assert crossers, "fixture split produced no cross-batch users"


def test_user_stats_state_carries_across_batches(spark, sf_dir, caplog):
    """Two-file replay for the streaming user stats: (count, sum, max)
    must merge across batches, and the complete-mode drain must hold one
    row per user equal to the batch aggregate."""
    ev = load(spark, sf_dir, "events").select("user_id", "ts", "value")
    bound = sorted(r["ts"] for r in ev.select("ts").collect())[ev.count() // 2]
    first = ev.filter(F.col("ts") <= F.lit(bound))
    second = ev.filter(F.col("ts") > F.lit(bound))
    assert first.count() > 0 and second.count() > 0

    stream, base = _two_file_stream(spark, "multibatch_user_stats", first, second)
    rows, run = _drained_run(
        spark, caplog, stateful._user_stats(stream), os.path.join(base, "chk")
    )
    assert run["batches"] >= 2

    got = {r["user_id"]: tuple(r)[1:] for r in rows}
    assert len(got) == len(rows)
    expected = {
        r["user_id"]: tuple(r)[1:] for r in stateful._user_stats(ev).collect()
    }
    assert got == expected
    # the split must actually exercise the cross-batch merge
    crossers = set(
        r["user_id"] for r in first.select("user_id").distinct().collect()
    ) & set(r["user_id"] for r in second.select("user_id").distinct().collect())
    assert crossers, "fixture split produced no cross-batch users"


def test_attribution_state_carries_across_batches(spark, sf_dir):
    """Two-file replay for online attribution: a purchase in batch 2 must
    credit a touch from batch 1 — the last-touch state has to round-trip
    through the store. Expected values come from the batch operator."""
    from dig_aggregator_core_spark.operators.behavioral import (
        attribution_last_touch,
    )
    from dig_aggregator_core_spark.streaming.stateful import (
        _ATTR_OUT,
        _ATTR_STATE,
        _attr_fn,
    )
    from dig_aggregator_core_spark.tables import ntz_epoch_us

    ev = (
        load(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("view", "click", "purchase"))
        .select(
            "user_id",
            ntz_epoch_us("ts").alias("us"),
            "event_id",
            "event_type",
        )
    )
    # split at the median us so plenty of touch->purchase pairs straddle
    bound = sorted(r["us"] for r in ev.select("us").collect())[
        ev.count() // 2
    ]
    first = ev.filter(F.col("us") <= bound)
    second = ev.filter(F.col("us") > bound)
    assert first.count() > 0 and second.count() > 0

    stream, base = _two_file_stream(spark, "multibatch_attr", first, second)
    out = stream.groupBy("user_id").applyInPandasWithState(
        _attr_fn,
        outputStructType=_ATTR_OUT,
        stateStructType=_ATTR_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    sink = "multibatch_attr_sink"
    q = (
        out.writeStream.format("memory")
        .queryName(sink)
        .outputMode("update")
        .option("checkpointLocation", os.path.join(base, "chk"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert len(q.recentProgress) >= 2

    got = {
        r["purchase_id"]: (r["touch_id"], r["touch_type"], r["gap_us"])
        for r in spark.table(sink).collect()
    }
    expected = {
        r["purchase_id"]: (r["touch_id"], r["touch_type"], r["gap_us"])
        for r in attribution_last_touch(spark, sf_dir).collect()
    }
    assert got == expected
    # at least one purchase in batch 2 attributed to a batch-1 touch
    ev_us = {r["event_id"]: r["us"] for r in ev.collect()}
    crossers = [
        p
        for p, (tid, _t, _g) in expected.items()
        if tid is not None and ev_us[p] > bound and ev_us[tid] <= bound
    ]
    assert crossers, "fixture split produced no cross-batch attributions"


def test_zscore_anomaly_state_carries_across_batches(spark, sf_dir):
    """Two-file replay for the online z-score: an event in batch 2 must be
    scored against moments accumulated in batch 1. Expected values come
    from a batch prior-only ROWS window over the same quantized ints."""
    from pyspark.sql import Window

    from dig_aggregator_core_spark.streaming.stateful import (
        _ZANOM_MIN_N,
        _ZANOM_OUT,
        _ZANOM_STATE,
        _zanom_fn,
    )
    from dig_aggregator_core_spark.tables import ntz_epoch_us

    ev = load(spark, sf_dir, "events").select(
        "user_id",
        ntz_epoch_us("ts").alias("us"),
        "event_id",
        F.floor(F.col("value") * 10000 + 0.5).cast("bigint").alias("xi"),
    )
    bound = sorted(r["us"] for r in ev.select("us").collect())[
        ev.count() // 2
    ]
    first = ev.filter(F.col("us") <= bound)
    second = ev.filter(F.col("us") > bound)
    assert first.count() > 0 and second.count() > 0

    stream, base = _two_file_stream(spark, "multibatch_zanom", first, second)
    out = stream.groupBy("user_id").applyInPandasWithState(
        _zanom_fn,
        outputStructType=_ZANOM_OUT,
        stateStructType=_ZANOM_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    sink = "multibatch_zanom_sink"
    q = (
        out.writeStream.format("memory")
        .queryName(sink)
        .outputMode("update")
        .option("checkpointLocation", os.path.join(base, "chk"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert len(q.recentProgress) >= 2

    got = {
        r["event_id"]: (r["n_prior"], r["mean_prior"], r["z"], r["is_anomaly"])
        for r in spark.table(sink).collect()
    }
    fr = (
        Window.partitionBy("user_id")
        .orderBy("us", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w = ev.select(
        "event_id",
        "us",
        "xi",
        F.count(F.lit(1)).over(fr).alias("n"),
        F.sum("xi").over(fr).alias("s"),
        F.sum(F.col("xi") * F.col("xi")).over(fr).alias("q"),
    ).filter(F.col("n") >= _ZANOM_MIN_N)
    m = F.col("s").cast("double") / F.col("n")
    var = F.col("q").cast("double") / F.col("n") - m * m
    sd = F.sqrt(F.greatest(var, F.lit(1e-6)))
    expected = {
        r["event_id"]: (r["n"], r["mean_prior"], r["z"], r["is_anomaly"])
        for r in w.select(
            "event_id",
            "n",
            (m / 10000).alias("mean_prior"),
            ((F.col("xi") - m) / sd).alias("z"),
            (F.abs(F.col("xi") - m) > 2.0 * sd).alias("is_anomaly"),
        ).collect()
    }
    assert got == expected
    # events in batch 2 scored with n_prior larger than their batch-2-only
    # history prove the moments round-tripped the store
    ev_rows = {r["event_id"]: r["us"] for r in ev.collect()}
    crossers = [
        e
        for e, (n, _m, _z, _a) in expected.items()
        if ev_rows[e] > bound and n >= _ZANOM_MIN_N
    ]
    assert crossers


def test_cdc_upsert_state_carries_across_batches(spark, sf_dir):
    """stream_cdc_upsert's merge must converge across micro-batches: two
    files (one batch each under maxFilesPerTrigger=1) must produce the
    same final table as the single-batch run, including tombstones
    arriving in a DIFFERENT batch than the change they shadow."""
    from dig_aggregator_core_spark.streaming.stateful import _cdc_apply

    ev = load(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "value", "event_type"
    )
    # split by event_id PARITY — both halves span the full time range, so
    # batch order deliberately does NOT match event-time order and the
    # (ts, event_id) last-writer rule must resolve cross-batch conflicts
    first = ev.filter(F.col("event_id") % 2 == 0)
    second = ev.filter(F.col("event_id") % 2 == 1)
    stream, base = _two_file_stream(spark, "multibatch_cdc", first, second)
    final = _cdc_apply(spark, stream, checkpoint=os.path.join(base, "chk"))
    got = {
        r["user_id"]: (round(r["last_value"], 4), r["n_changes"])
        for r in final.filter(F.col("mx.event_type") != "error")
        .select(
            "user_id",
            F.col("mx.value").alias("last_value"),
            F.col("n").cast("long").alias("n_changes"),
        )
        .collect()
    }

    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    expected_df = (
        ev.withColumn("rk", F.row_number().over(w))
        .withColumn(
            "n_changes",
            F.count(F.lit(1)).over(Window.partitionBy("user_id")),
        )
        .filter((F.col("rk") == 1) & (F.col("event_type") != "error"))
    )
    expected = {
        r["user_id"]: (round(r["value"], 4), r["n_changes"])
        for r in expected_df.collect()
    }
    assert got == expected
    assert len(got) > 0


def test_cdc_upsert_leaves_no_scratch(spark, sf_dir, tmp_path, monkeypatch):
    """stream_cdc_upsert keeps its per-epoch state versions out of the
    temp dir: once it returns, no cdc_state_* entry is left there, and
    the returned table is still readable."""
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    out = stateful.stream_cdc_upsert(spark, sf_dir)
    assert not [p.name for p in tmp_path.iterdir() if p.name.startswith("cdc_state_")]
    n_users = load(spark, sf_dir, "events").select("user_id").distinct().count()
    assert 0 < out.count() <= n_users


def test_ewma_state_survives_query_restart(spark, sf_dir):
    """Checkpointed state-store RECOVERY: run the stateful EWMA to idle
    on half the events, STOP the query, add the second half, and start a
    NEW query on the SAME checkpoint. The second run must resume from
    the stored per-user state (not refold history — file A is never
    re-read) and the final emissions must equal the batch recurrence
    over the whole history. This is the restart contract a production
    deployment relies on; the in-run multibatch test above can't see it."""
    base = os.path.join(
        tempfile.gettempdir(), "spark_graft_scratch", "restart_ewma"
    )
    shutil.rmtree(base, ignore_errors=True)
    data_dir = os.path.join(base, "data")
    chk = os.path.join(base, "chk")
    os.makedirs(data_dir, exist_ok=True)

    ev = load(spark, sf_dir, "events").select("user_id", "ts", "value")
    bound = (
        ev.select("ts")
        .orderBy("ts")
        .limit(ev.count() // 2)
        .agg(F.max("ts").alias("b"))
        .collect()[0]["b"]
    )
    halves = (
        ev.filter(F.col("ts") <= F.lit(bound)),
        ev.filter(F.col("ts") > F.lit(bound)),
    )

    emitted: list = []

    def run_once() -> None:
        # memory sink cannot recover from a checkpoint; foreachBatch can
        stream = spark.readStream.schema(ev.schema).parquet(data_dir)
        out = stream.groupBy("user_id").applyInPandasWithState(
            _ewma_fn,
            outputStructType=_EWMA_OUT,
            stateStructType=_EWMA_STATE,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )

        def sink(batch, epoch_id):
            emitted.extend(batch.collect())

        q = (
            out.writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", chk)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    for i, half in enumerate(halves):
        tmp = os.path.join(base, f"half{i}")
        half.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = [f for f in os.listdir(tmp) if f.endswith(".parquet")][0]
        shutil.copy(
            os.path.join(tmp, part),
            os.path.join(data_dir, f"{chr(97 + i)}.parquet"),
        )
        run_once()  # run 1: file a only; run 2: resumes, sees only file b

    got: dict = {}
    for r in emitted:  # later emissions (higher n_events) overwrite earlier
        cur = got.get(r["user_id"])
        if cur is None or r["n_events"] > cur[0]:
            got[r["user_id"]] = (r["n_events"], r["ewma"])
    expected_df = (
        ev.groupBy("user_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("ts", F.col("value").alias("v")))
            ).alias("pairs")
        )
        .select(
            "user_id",
            F.size("pairs").alias("n_events"),
            F.round(
                F.expr(
                    "aggregate(slice(pairs, 2, size(pairs) - 1), "
                    "element_at(pairs, 1).v, "
                    "(acc, p) -> 0.3D * p.v + 0.7D * acc)"
                ),
                6,
            ).alias("ewma"),
        )
    )
    expected = {
        r["user_id"]: (r["n_events"], r["ewma"])
        for r in expected_df.collect()
    }
    assert got == expected


def test_transition_seam_pair_across_batches(spark, sf_dir):
    """stream_transition_matrix's state must bridge batches: the pair
    (last event of batch 1, first event of batch 2) per user exists only
    if the carried (prev_type, prev_us) state survives — a within-batch
    fold would lose exactly those seam pairs. Compare total transition
    counts against the batch lag-window reference."""
    from dig_aggregator_core_spark.streaming.stateful import (
        _TRANS_OUT,
        _TRANS_STATE,
        _transition_fn,
    )

    ev = load(spark, sf_dir, "events").select(
        "user_id",
        F.unix_micros(
            F.to_timestamp(F.col("ts"))
        ).alias("us")
        if dict(load(spark, sf_dir, "events").dtypes)["ts"] == "timestamp"
        else F.expr(
            "timestampdiff(MICROSECOND,"
            " TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
        ).alias("us"),
        "event_id",
        "event_type",
    )
    bound = (
        ev.select("us")
        .orderBy("us")
        .limit(ev.count() // 2)
        .agg(F.max("us").alias("b"))
        .collect()[0]["b"]
    )
    first = ev.filter(F.col("us") <= bound)
    second = ev.filter(F.col("us") > bound)
    assert first.count() > 0 and second.count() > 0
    stream, base = _two_file_stream(spark, "multibatch_trans", first, second)
    out = stream.groupBy("user_id").applyInPandasWithState(
        _transition_fn,
        outputStructType=_TRANS_OUT,
        stateStructType=_TRANS_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    sink = "multibatch_trans_sink"
    q = (
        out.writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .option("checkpointLocation", os.path.join(base, "chk"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert len(q.recentProgress) >= 2

    got = {
        (r["src"], r["dst"]): r["n"]
        for r in spark.table(sink)
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    ref = {
        (r["src"], r["dst"]): r["n"]
        for r in ev.withColumn("prev", F.lag("event_type").over(w))
        .filter(F.col("prev").isNotNull())
        .groupBy(F.col("prev").alias("src"), F.col("event_type").alias("dst"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == ref


def test_right_outer_null_emission_across_batches(spark, sf_dir):
    """The right-outer op's orphan rows (purchase with no attributing
    click) are WATERMARK decisions that land in a later micro-batch than
    the purchase itself (maxFilesPerTrigger=2 splits the fixture into
    several batches, sentinel last). The drained orphan set must equal
    the batch RIGHT JOIN's — proving null emission survives the seams
    rather than being an end-of-query artifact."""
    from dig_aggregator_core_spark import registry

    registry.load_all()
    out = registry.QUERIES["stream_stream_right_outer_join"](spark, sf_dir)
    orphans = out.filter(F.col("click_id").isNull())
    ev = load(spark, sf_dir, "events")
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_uid"), F.col("ts").alias("c_ts")
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    batch_orphans = p.join(
        c,
        (p.user_id == c.c_uid)
        & (c.c_ts <= p.ts)
        & (p.ts <= c.c_ts + F.expr("INTERVAL 6 HOURS")),
        "left_anti",
    )
    n_stream = orphans.count()
    assert n_stream > 0, "fixture produced no orphan purchases"
    assert n_stream == batch_orphans.count()
    assert set(
        r.purchase_id for r in orphans.select("purchase_id").collect()
    ) == set(r.event_id for r in batch_orphans.select("event_id").collect())


def test_left_outer_null_emission_across_batches(spark, sf_dir):
    """Symmetric twin of the right-outer seam test: unmatched clicks
    (no purchase within the 6h forward window) are purchase-watermark
    decisions landing in later micro-batches; the drained orphan set
    must equal the batch LEFT JOIN's."""
    from dig_aggregator_core_spark import registry

    registry.load_all()
    out = registry.QUERIES["stream_stream_left_outer_join"](spark, sf_dir)
    orphans = out.filter(
        F.col("purchase_id").isNull() & (F.col("user_id") != -1)
    )
    ev = load(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_uid"), F.col("ts").alias("p_ts")
    )
    c = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    batch_orphans = c.join(
        p,
        (c.user_id == p.p_uid)
        & (p.p_ts >= c.ts)
        & (p.p_ts <= c.ts + F.expr("INTERVAL 6 HOURS")),
        "left_anti",
    )
    n_stream = orphans.count()
    assert n_stream > 0, "fixture produced no orphan clicks"
    assert n_stream == batch_orphans.count()
    assert set(
        r.click_id for r in orphans.select("click_id").collect()
    ) == set(r.event_id for r in batch_orphans.select("event_id").collect())


def test_semi_join_emits_once_across_batches(spark, sf_dir):
    """The semi join's contract has two halves the seam can break:
    (1) a click emits AT MOST ONCE even when several purchases match in
    different micro-batches, (2) a click whose first matching purchase
    arrives in a LATER batch still emits. Drained result must equal the
    batch EXISTS semantics exactly, with zero duplicate click_ids."""
    from dig_aggregator_core_spark import registry

    registry.load_all()
    out = registry.QUERIES["stream_stream_semi_join"](spark, sf_dir)
    rows = out.filter(F.col("user_id") != -1).collect()
    ids = [r.click_id for r in rows]
    assert len(ids) == len(set(ids)), "semi join emitted a click twice"
    ev = load(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_uid"), F.col("ts").alias("p_ts")
    )
    c = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    batch_semi = c.join(
        p,
        (c.user_id == p.p_uid)
        & (p.p_ts >= c.ts)
        & (p.p_ts <= c.ts + F.expr("INTERVAL 6 HOURS")),
        "left_semi",
    )
    expected = set(r.event_id for r in batch_semi.collect())
    assert expected, "fixture produced no converted clicks"
    assert set(ids) == expected


def test_session_timeout_close_across_batches(spark, sf_dir):
    """The timeout sessionizer's two seam-sensitive behaviors: a session
    spanning micro-batches must emit ONCE with the merged extent, and
    the final open sessions must be closed by the timeout batch the
    sentinel's watermark advance triggers (not by more data). Drained
    result must equal batch gaps-and-islands exactly."""
    from dig_aggregator_core_spark import registry
    from dig_aggregator_core_spark.streaming.stateful import _SESSTO_GAP_US

    registry.load_all()
    out = registry.QUERIES["stream_session_timeout_close"](spark, sf_dir)
    rows = [r for r in out.collect() if r.user_id != -1]
    from dig_aggregator_core_spark.tables import ntz_epoch_us

    ev = load(spark, sf_dir, "events").select(
        "user_id", ntz_epoch_us("ts").alias("us")
    ).collect()
    by = {}
    for r in ev:
        by.setdefault(r.user_id, []).append(r.us)
    expected = set()
    for u, uss in by.items():
        uss.sort()
        s = e = uss[0]
        n = 1
        for x in uss[1:]:
            if x - e <= _SESSTO_GAP_US:
                e, n = x, n + 1
            else:
                expected.add((u, s, e, n))
                s = e = x
                n = 1
        expected.add((u, s, e, n))
    got = set((r.user_id, r.start_us, r.end_us, r.n_events) for r in rows)
    assert got == expected
    # every user's final session closed via TIMEOUT (no later data) —
    # if the timeout batch never fired these would be missing entirely
    finals = {u: max(uss) for u, uss in by.items()}
    for u, last in finals.items():
        assert any(g[0] == u and g[2] == last for g in got)

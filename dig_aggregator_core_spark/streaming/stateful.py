"""Structured Streaming operators over the fixture tables (SURVEY.md
§2.9 GAP rows): 27 registered queries, each a REAL streaming query (file
source → Trigger.AvailableNow → memory sink or foreachBatch) whose
drained result equals a batch SQL oracle.

The reference has no streaming engine; these are the native-Spark
capabilities its batch-incremental model implies. The families:

- watermarked dedup (``dropDuplicates``, ``dropDuplicatesWithinWatermark``);
- the click→purchase interval join in every join mode (inner, left,
  right, full outer, semi), the outer/semi modes flushed by a
  far-future sentinel;
- stream-static joins and complete-mode aggregates, some finished by a
  batch finalize over the drained sink (per-user running stats, cohort
  day sets, quality drift, association rules, golden record,
  decontamination, MinHash probes);
- per-key ``applyInPandasWithState`` folds, kept where the state is not
  a monoid (EWMA, funnel, last-touch attribution, z-score, transitions,
  CUSUM, and an event-time-timeout sessionizer);
- foreachBatch engines with state held between epochs (CDC upsert to
  parquet or JDBC, incremental connected components, ANN index append).

Each recurring shape is written once: ``_fixture_stream`` opens every
fixture file stream, ``_click_purchase_join`` builds the interval join,
``_rows_in_order`` gives a fold its rows in event-time order across Arrow
chunks, ``_final_emission`` keeps each key's last update-mode emission,
and ``run_available_now`` runs a query to idle.

Scale: state is partitioned by key across the state store; watermarks
bound join and dedup state. At 100 TB the same plans run continuously
with real watermark-driven eviction.
"""

from __future__ import annotations

import itertools
import json
import logging
import os
import shutil
import tempfile
import threading
import time
from typing import Callable, Iterable, Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..operators.behavioral import _ATTR_ORACLE as _BATCH_ATTR_ORACLE
from ..operators.behavioral import _COHORT_ORACLE as _BATCH_COHORT_ORACLE
from ..operators.behavioral import ASSOC_RULES_ORACLE
from ..operators.graph import TRANSITION_ORACLE
from ..operators.timeseries import CUSUM_ORACLE
from ..operators.warehouse import GOLDEN_RECORD_ORACLE
from ..operators.warehouse import QUALITY_DRIFT_ORACLE as _QUALITY_DRIFT_ORACLE
from ..registry import query
from ..tables import build_once, load, ntz_as_utc_instant

_sink_counter = itertools.count()
_log = logging.getLogger(__name__)


def _fixture_stream(
    spark: SparkSession, sf_dir: str, name: str = "events", *, flush: bool = False
) -> DataFrame:
    """File-source stream over the fixture table ``<sf_dir>/<name>.parquet``.

    A single-file fixture streams its parent dir filtered to that file; a
    multi-file ``<name>.parquet`` dir (e.g. the scaleproof corpora) is
    streamed itself, since the single-file glob would match no leaf file
    and stream zero rows. The footer schema is session-memoized
    (tables.raw_schema, which also sets nanosAsLong): a fresh listing +
    footer read cost ~0.1 s per stream.

    Watermarks require a TIMESTAMP event-time column, so a bigint-nanos
    ``ts`` becomes a micros timestamp (as in tables.load) and a naive
    (TIMESTAMP_NTZ) one is embedded as a UTC instant — tz-proof; the
    queries either emit no ts-derived columns or invert the embedding
    with tables.instant_as_ntz before emitting.

    ``flush=True`` streams the events copy with the flush sentinel
    (``_events_with_flush_sentinel``) in several batches, sentinel file
    last (latest mtime): eviction output needs a batch boundary AFTER
    the watermark-advancing rows.
    """
    from ..tables import raw_schema

    options = {}
    if flush:
        sf_dir = _events_with_flush_sentinel(spark, sf_dir)
        options = {"maxFilesPerTrigger": 2, "latestFirst": "false"}
    src = f"{sf_dir}/{name}.parquet"
    reader = spark.readStream.schema(raw_schema(spark, sf_dir, name)).options(
        **options
    )
    if os.path.isdir(src):
        stream = reader.parquet(src)
    else:
        stream = reader.option("pathGlobFilter", f"{name}.parquet").parquet(sf_dir)
    ts_type = dict(stream.dtypes).get("ts")
    if ts_type == "bigint":
        stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif ts_type == "timestamp_ntz":
        stream = stream.withColumn("ts", ntz_as_utc_instant("ts"))
    return stream


# events is the default fixture table; tests call it by this name
_events_stream = _fixture_stream


def _events_with_flush_sentinel(spark: SparkSession, sf_dir: str) -> str:
    """Scratch dir holding events.parquet: a copy of events plus one
    far-future click+purchase pair for a sentinel user (user_id = -1).

    A finite stream's watermark stops at max(event_time) - delay, so an
    outer join can never declare the final window's rows unmatched — the
    null-emission tail stays in state forever. Production streams flush
    naturally (data keeps arriving); a run-to-idle replay must append a
    watermark-advancing sentinel past every real row's expiration. The
    sentinel pair matches only itself and is filtered from the output.
    Built once per corpus listing (tables.build_once): regenerating the
    fixture at the same path invalidates it, and two concurrent runs
    against different source contents never share a directory."""

    def build(out):
        ev = load(spark, sf_dir, "events")
        sent = (
            ev.agg(F.max("ts").alias("ts"))
            .crossJoin(spark.range(2))
            .select(
                (-1 - F.col("id")).alias("event_id"),
                F.expr("ts + INTERVAL 30 DAYS").alias("ts"),
                F.lit(-1).cast("bigint").alias("user_id"),
                F.when(F.col("id") == 0, F.lit("click"))
                .otherwise(F.lit("purchase"))
                .alias("event_type"),
                F.lit(0.0).alias("value"),
                F.lit("{}").alias("props"),
            )
        )
        data_dir = os.path.join(out, "events.parquet")
        ev.coalesce(4).write.mode("overwrite").parquet(data_dir)
        # the sentinel goes in its OWN, later file: the file source must
        # deliver it in a LATER micro-batch (maxFilesPerTrigger) so the
        # watermark advances past the real data's expiration while the
        # query is still running — in a single batch the final
        # watermark update has no subsequent batch to flush evictions
        sent.coalesce(1).write.mode("append").parquet(data_dir)

    return build_once("outer_sentinel", sf_dir, build)


# State partitions by operator family. Each family asks for its own
# count and run_available_now caps it at the session's task slots
# (defaultParallelism):
# - JVM stateful ops (stream-stream joins, per-key and window aggs,
#   dedup): the micro-batch constant is per-partition state-store commit
#   (delta file per store instance per batch; an outer join carries 4
#   store instances per partition), so fewer partitions win.
# - applyInPandasWithState folds: each partition is one Arrow-batched
#   Python worker stream, so partitions = fold parallelism, up to the
#   slots that can run them.
# A partition beyond the task slots adds a wave of Python-worker handoff
# and state-store commit but no parallelism. On local[4] (4-core VM),
# with identical results, a per-user (count, sum, max) fold over events
# took 3.1 s warm at 16 partitions and 1.7 s at 4 on the sf0.001
# benchmark fixture, and at sf0.1 5.0-6.9 s (addBatch 4.4-6.1 s) at 16
# against 3.6-3.7 s (addBatch 3.0-3.1 s) at 4.
# History: 16 (fold knee) and 4 (join) were tuned on 32 cores, uncapped.
_JOIN_STATE_PARTS = 4
_FOLD_STATE_PARTS = 16


# Drained-result handoff bound (VERDICT r11 task 2). The memory sink is
# ALWAYS dropped (the r11 OOM fix: sink tables pinned every output row
# on the driver heap for the session, and 12 ops x 3 scales of the x100
# campaign killed a 16g driver) — but the unconditional localCheckpoint
# that replaced it re-materialized even tiny drained results through a
# Spark job, a measured 1.9x on stream_interval_coalesce (1.21->2.30 s
# at sf0.1). A drained result at or under BOTH bounds is handed back as
# driver-local rows instead (LocalTableScan — zero extra jobs, and the
# rows were transiently on the driver heap in the sink anyway); anything
# bigger becomes the spillable localCheckpoint exactly as before. The
# common case — bounded windowed aggregates — is far under the bounds,
# so per-query retention stays in the repo's gated-collect size class.
_DRAIN_LOCAL_MAX_ROWS = 8192
_DRAIN_LOCAL_MAX_BYTES = 4 << 20
# test-observable drain telemetry: which leg the last drain took
_DRAIN_STATS = {"local": 0, "checkpoint": 0}

# Serializes run_available_now's start() with its save/set/restore of
# spark.sql.shuffle.partitions (Stage jobs share one session across
# threads), and the _DRAIN_STATS increments.
_RUN_LOCK = threading.RLock()


def _progress_rowcount(progress: list[dict], output_mode: str):
    """Drained-sink row count from the query's OWN progress metrics —
    zero jobs (a count() over a 92k-row sink measured ~0.5 s; the
    metrics are free). Memory-sink semantics per mode: complete
    REPLACES the table each batch (table = last batch's output rows);
    append/update ACCUMULATE (table = sum over batches). Returns None
    when any batch didn't report, and the caller falls back to count()."""
    counts = [
        int((p.get("sink") or {}).get("numOutputRows", -1)) for p in progress
    ]
    if not counts or any(c < 0 for c in counts):
        return None
    return counts[-1] if output_mode == "complete" else sum(counts)


def _drain_sink(
    spark: SparkSession, sink: str, rowcount: int | None = None
) -> DataFrame:
    # decide BEFORE moving rows: the row count comes free from query
    # progress (count() fallback), and the byte check is a 256-row
    # sample over the sink's LocalTableScan. Only a result passing both
    # bounds is collected. An earlier draft probed with
    # limit(bound+1).collect(), which shipped bound-many rows just to
    # discard them on the big path — ~0.4 s of waste per big drain.
    tbl = spark.table(sink)
    n = rowcount if rowcount is not None else tbl.count()
    small = n <= _DRAIN_LOCAL_MAX_ROWS
    if small and n:
        # byte estimate from a bounded sample — wide rows (e.g.
        # document text) must not ride the row bound onto the driver
        sample = tbl.limit(256).collect()
        est = sum(len(repr(r)) for r in sample) * n // len(sample)
        small = est <= _DRAIN_LOCAL_MAX_BYTES
    if small:
        out = spark.createDataFrame(tbl.collect(), tbl.schema)
    else:
        out = tbl.localCheckpoint()
    with _RUN_LOCK:
        _DRAIN_STATS["local" if small else "checkpoint"] += 1
    spark.catalog.dropTempView(sink)
    return out


def _log_progress(
    name: str | None, progress: list[dict], wall_s: float
) -> None:
    """One JSON record per finished query, from its own progress reports:
    batch count, input rows, each batch's durationMs phases (latestOffset,
    queryPlanning, addBatch, walCommit, commitOffsets, ...) and, per state
    operator, its partitions and total state rows after the last batch."""
    last = progress[-1] if progress else {}
    _log.info(
        "%s",
        json.dumps(
            {
                "event": "stream_run",
                "query": name,
                "wall_ms": round(wall_s * 1000),
                "batches": len(progress),
                "numInputRows": sum(p["numInputRows"] for p in progress),
                "durationMs": [p["durationMs"] for p in progress],
                "stateOperators": [
                    {
                        "operatorName": o.get("operatorName"),
                        "numShufflePartitions": o.get("numShufflePartitions"),
                        "numRowsTotal": o.get("numRowsTotal"),
                    }
                    for o in last.get("stateOperators", [])
                ],
            },
            sort_keys=True,
        ),
    )


def run_available_now(
    df: DataFrame,
    mode: str = "append",
    state_partitions: int | None = _JOIN_STATE_PARTS,
    *,
    sink: Callable[[DataFrame, int], None] | None = None,
    checkpoint: str | None = None,
) -> DataFrame | None:
    """Run a streaming frame to idle under Trigger.AvailableNow.

    With no ``sink`` the rows go to a memory sink, which is drained
    (``_drain_sink``) and returned. A ``sink(batch, epoch_id)`` callable
    is run through foreachBatch instead, and None is returned.
    ``checkpoint`` is passed through as the query's checkpointLocation.

    The first micro-batch pins the state partition count into the
    checkpoint, so it is chosen here: ``min(state_partitions,
    defaultParallelism)`` (rationale above ``_JOIN_STATE_PARTS``).
    The query copies the session conf inside ``start()``, so
    spark.sql.shuffle.partitions is set only around ``start()`` and
    restored before the query runs. Every start holds ``_RUN_LOCK``, so
    no query of one session copies another runner's temporary value.
    ``state_partitions=None`` leaves the session's value, which the batch
    frames a foreachBatch sink builds then plan with.
    """
    spark = df.sparkSession
    writer = df.writeStream.outputMode(mode).trigger(availableNow=True)
    if sink is None:
        # the memory sink's table is the query name
        name = f"stream_sink_{next(_sink_counter)}"
        writer = writer.format("memory").queryName(name)
    else:
        writer = writer.foreachBatch(sink)
    if checkpoint is not None:
        writer = writer.option("checkpointLocation", checkpoint)
    t0 = time.perf_counter()
    with _RUN_LOCK:
        before = spark.conf.get("spark.sql.shuffle.partitions")
        if state_partitions is not None:
            parts = min(state_partitions, spark.sparkContext.defaultParallelism)
            spark.conf.set("spark.sql.shuffle.partitions", str(parts))
        try:
            q = writer.start()
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", before)
    q.awaitTermination()
    progress = [json.loads(p.json) for p in q.recentProgress]
    _log_progress(q.name, progress, time.perf_counter() - t0)
    if sink is not None:
        return None
    return _drain_sink(spark, name, _progress_rowcount(progress, mode))


def _rows_in_order(
    pdfs: Iterable[pd.DataFrame], by: list[str], cols: list[str]
) -> Iterator[tuple]:
    """A fold's rows as ``cols`` tuples in global ``by`` order (stable).

    applyInPandasWithState delivers a key's micro-batch as an ITERATOR of
    Arrow chunks (split at arrow.maxRecordsPerBatch), so the chunks are
    concatenated and sorted ONCE: per-chunk sorts would only be
    chunk-locally ordered and break the batch equivalence the oracles
    pin. Yields nothing for an empty batch."""
    chunks = [p for p in pdfs if len(p)]
    if not chunks:
        return
    batch = pd.concat(chunks, ignore_index=True) if len(chunks) > 1 else chunks[0]
    yield from batch.sort_values(by, kind="mergesort")[cols].itertuples(
        index=False, name=None
    )


def _final_emission(result: DataFrame, order, cols: list[str]) -> DataFrame:
    """Update mode re-emits a user's row in EVERY micro-batch that touches
    the user, so a multi-file source yields several rows per user_id;
    keep the first row per user under ``order`` (the final emission)."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(order)
    return (
        result.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(*cols)
    )


@query(
    "stream_dedup_watermark",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
)
def stream_dedup_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming deduplication: dropDuplicates on (user_id, event_type) with
    a watermark bounding dedup state. Emitting only the key columns makes
    the kept-row choice irrelevant — the result is exactly the distinct key
    set, which the batch oracle pins."""
    stream = _fixture_stream(spark, sf_dir)
    deduped = (
        stream.withWatermark("ts", "30 days")
        .dropDuplicates(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    return run_available_now(deduped, "append")


def _user_stats(stream: DataFrame) -> DataFrame:
    """Per-user ``n_events`` (``COUNT(*)``), ``total_value`` (sum of
    ``value``, rounded to 6 places) and ``max_value``."""
    return stream.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 6).alias("total_value"),
        F.max("value").alias("max_value"),
    )


@query(
    "stream_stateful_user_stats",
    oracle="""
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(SUM(value), 6) AS total_value,
           MAX(value) AS max_value
    FROM events GROUP BY user_id
    """,
)
def stream_stateful_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user running (count, sum, max) over the event stream — the
    streaming form of the reference payload's aggregateByKey combine
    (frequencyAnalysis.py:54-75). The state is a monoid, so it is a
    built-in streaming aggregate: the JVM state store keeps each user's
    aggregation buffers, partitioned by user_id, and no Python worker
    runs. Complete mode replaces the sink table every batch, so the
    drained result is one row per user after run-to-idle, equal to the
    batch aggregate, which the oracle checks exactly."""
    return run_available_now(_user_stats(_fixture_stream(spark, sf_dir)), "complete")


def _click_purchase_join(
    spark: SparkSession, sf_dir: str, how: str = "inner"
) -> DataFrame:
    """Clicks joined to same-user purchases in the following 6 hours, as a
    stream-stream join of type ``how``. Both sides carry 1-day watermarks,
    so the join state is bounded: Spark drops a buffered click once the
    purchase watermark passes click.ts + 6h.

    The outer and semi joins decide their null (or no-match) rows by
    watermark, so they read the flush-sentinel copy of events
    (``_fixture_stream(flush=True)``); the sentinel pair emits its own
    matched row, which their oracles append. Columns: click_id, user_id,
    purchase_id (not for a semi join) and p_user_id."""
    flush = how != "inner"
    clicks = (
        _fixture_stream(spark, sf_dir, flush=flush)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 day")
    )
    # a semi join emits no purchase column, so its side reads none
    purchase_id = [] if how == "leftSemi" else [F.col("event_id").alias("purchase_id")]
    purchases = (
        _fixture_stream(spark, sf_dir, flush=flush)
        .filter(F.col("event_type") == "purchase")
        .select(
            *purchase_id,
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "1 day")
    )
    return clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("click_ts") + F.expr("INTERVAL 6 HOURS")
        ),
        how,
    )


@query(
    "stream_stream_interval_join",
    oracle="""
    SELECT c.event_id AS click_id, p.event_id AS purchase_id,
           c.user_id AS user_id
    FROM events c JOIN events p
      ON c.user_id = p.user_id
     AND c.event_type = 'click' AND p.event_type = 'purchase'
     AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 6 HOUR
    """,
)
def stream_stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner interval join (``_click_purchase_join``):
    clicks joined to same-user purchases within the following 6 hours.
    Inner join emissions are invariant to micro-batch boundaries, so the
    result equals the batch interval join, which the oracle pins."""
    joined = _click_purchase_join(spark, sf_dir).select(
        "click_id", "purchase_id", "user_id"
    )
    return run_available_now(joined, "append")


@query(
    "stream_static_join",
    oracle="""
    SELECT CAST(user_id % 5 AS BIGINT) AS cohort, event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(CAST(SUM(CAST(ROUND(value * 100) AS HUGEINT))
                      AS DOUBLE) / 100, 4) AS total
    FROM events JOIN (SELECT range AS uid, range % 5 AS cohort
                      FROM range(100000)) dim
      ON user_id = uid
    GROUP BY 1, 2
    """,
)
def stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: each micro-batch of the event stream joins a
    static (batch) dimension — the dimension is re-resolvable per batch, no
    state is kept for it, and the static side broadcasts. The canonical
    enrichment shape (events × user/cohort dim) for feature pipelines;
    result equals the batch join, which the oracle pins."""
    dim = spark.range(100_000).select(
        F.col("id").alias("uid"), (F.col("id") % 5).alias("cohort")
    )
    stream = _fixture_stream(spark, sf_dir)
    enriched = (
        stream.join(F.broadcast(dim), stream.user_id == dim.uid)
        .groupBy("cohort", "event_type")
        .agg(
            F.count("*").alias("n"),
            # exact cents on the bounded (cohort x type) grid
            # (events.value is 2dp; lifted r9)
            F.expr(
                "ROUND(CAST(SUM(CAST(ROUND(value * 100) AS"
                " DECIMAL(38,0))) AS DOUBLE) / 100, 4)"
            ).alias("total"),
        )
    )
    return run_available_now(enriched, "complete")


def _protobuf_available() -> bool:
    """transformWithStateInPandas's driver worker speaks protobuf to the
    JVM state server; the google.protobuf package is not bundled in this
    environment, so the operator is capability-gated (tests skip, the
    driver registry omits it) rather than stubbed with fake results."""
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


def stream_transform_with_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator on the Spark 4 transformWithState API (the
    applyInPandasWithState successor): a StatefulProcessor keeps per-user
    (count, max) in a ValueState backed by the RocksDB state store —
    incremental, spillable per-key state, the building block for
    arbitrary streaming accumulators. Run-to-idle with update mode; the
    final per-key emission equals the batch aggregate the oracle pins."""
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    state_schema = StructType(
        [
            StructField("n", LongType()),
            StructField("mx", DoubleType()),
        ]
    )

    class UserStats(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState("stats", state_schema)

        def handleInputRows(self, key, rows, timerValues):
            n, mx = 0, float("-inf")
            if self._state.exists():
                n, mx = self._state.get()
            for pdf in rows:
                n += len(pdf)
                mx = max(mx, float(pdf["value"].max()))
            self._state.update((n, mx))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "max_value": [round(mx, 4)],
                }
            )

        def close(self) -> None:
            pass

    provider_key = "spark.sql.streaming.stateStore.providerClass"
    before = spark.conf.get(provider_key, None)
    spark.conf.set(
        provider_key,
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        stream = _fixture_stream(spark, sf_dir).select("user_id", "value")
        stats = stream.groupBy("user_id").transformWithStateInPandas(
            statefulProcessor=UserStats(),
            outputStructType=(
                "user_id bigint, n_events bigint, max_value double"
            ),
            outputMode="Update",
            timeMode="None",
        )
        # update mode re-emits a key on every batch that touches it;
        # AvailableNow runs one batch here, but keep the last emission per
        # key for batch-boundary invariance
        out = run_available_now(stats, "update", state_partitions=_FOLD_STATE_PARTS)
    finally:
        if before is None:
            spark.conf.unset(provider_key)
        else:
            spark.conf.set(provider_key, before)
    return (
        out.groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            F.max("max_value").alias("max_value"),
        )
    )


@query(
    "stream_kafka_shaped",
    oracle="""
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT)
             AS k_total
    FROM events
    GROUP BY event_type
    """,
)
def stream_kafka_shaped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Kafka consumer surface without a broker: the stream is reshaped
    to Kafka's wire schema (key/value binary, topic, partition, offset,
    timestamp) and then processed exactly as a Kafka pipeline would —
    `CAST(value AS STRING)` → `from_json` with an explicit schema →
    aggregate. Swapping the source for a real broker is the one line
    `spark.readStream.format("kafka").option("subscribe", ...)`; everything
    downstream of the wire columns is identical, which is the part this
    engine owns (the reference names Kafka only as an ecosystem target,
    README.md:119). No broker exists in this environment, so the wire
    columns are synthesized deterministically from the event log."""
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    stream = _fixture_stream(spark, sf_dir)
    wire = stream.select(
        F.col("event_id").cast("string").cast("binary").alias("key"),
        F.to_json(F.struct("event_id", "event_type", "value", "props"))
        .cast("binary")
        .alias("value"),
        F.lit("events").alias("topic"),
        (F.col("user_id") % 8).cast("int").alias("partition"),
        F.col("event_id").alias("offset"),
        F.col("ts").alias("timestamp"),
    )
    payload_schema = StructType(
        [
            StructField("event_id", LongType()),
            StructField("event_type", StringType()),
            StructField("value", StringType()),
            StructField("props", StringType()),
        ]
    )
    parsed = wire.select(
        F.from_json(F.col("value").cast("string"), payload_schema).alias("m")
    ).select("m.event_type", "m.props")
    out = parsed.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(F.get_json_object("props", "$.k").cast("bigint"))
        .cast("bigint")
        .alias("k_total"),
    )
    return run_available_now(out, "complete")


_EWMA_STATE = "n bigint, ewma double"
_EWMA_OUT = "user_id bigint, n_events int, ewma double"


def _ewma_fn(
    key: tuple,
    pdfs: Iterable[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Incremental per-user EWMA (alpha=0.3, first-observation seed): the
    O(1)-state streaming form of operators/timeseries.timeseries_ewma's
    batch fold, over the batch's rows in (ts, value) order
    (``_rows_in_order``). State carries (count, running ewma) across
    batches, so under AvailableNow over a static source the final
    emission equals the batch recurrence exactly."""
    if state.exists:
        n, ewma = state.get
    else:
        n, ewma = 0, 0.0
    for (v,) in _rows_in_order(pdfs, ["ts", "value"], ["value"]):
        v = float(v)
        ewma = v if n == 0 else 0.3 * v + 0.7 * ewma
        n += 1
    state.update((n, ewma))
    yield pd.DataFrame(
        {"user_id": [key[0]], "n_events": [n], "ewma": [round(ewma, 6)]}
    )


@query(
    "stream_ewma_stateful",
    oracle="""
    WITH seq AS (
      SELECT user_id, list(CAST(value AS DOUBLE) ORDER BY ts, value) AS vals
      FROM events GROUP BY user_id
    )
    SELECT user_id, CAST(len(vals) AS INT) AS n_events,
           ROUND(list_reduce(vals, (acc, x) -> 0.3 * x + 0.7 * acc), 6)
             AS ewma
    FROM seq
    """,
)
def stream_ewma_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The EWMA recurrence running INCREMENTALLY in the state store — the
    unbounded-stream form the batch operator's docstring promises: O(1)
    state per user (count + running average), each micro-batch folds only
    its own rows, and the emitted value after run-to-idle equals the
    batch fold, pinned by the same DuckDB list_reduce oracle as
    timeseries_ewma.

    Scale: state is two scalars per key — a billion users is ~GBs of
    state store, partitioned by user_id; contrast the batch form, which
    needs each user's full history in one row. Event-time ordering is
    guaranteed within a micro-batch by an explicit sort; out-of-order
    arrivals ACROSS batches would need a watermark-bounded reorder
    buffer (documented limit, irrelevant under AvailableNow replay of a
    static source)."""
    stream = _fixture_stream(spark, sf_dir).select("user_id", "ts", "value")
    out = stream.groupBy("user_id").applyInPandasWithState(
        _ewma_fn,
        outputStructType=_EWMA_OUT,
        stateStructType=_EWMA_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    result = run_available_now(out, "update", state_partitions=_FOLD_STATE_PARTS)
    # the final emission per user is the max-n one
    return _final_emission(
        result, F.desc("n_events"), ["user_id", "n_events", "ewma"]
    )


@query(
    "stream_stream_left_outer_join",
    oracle="""
    SELECT c.event_id AS click_id, p.event_id AS purchase_id,
           c.user_id AS user_id
    FROM (SELECT * FROM events WHERE event_type = 'click') c
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON c.user_id = p.user_id
     AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 6 HOUR
    UNION ALL
    SELECT CAST(-1 AS BIGINT), CAST(-2 AS BIGINT), CAST(-1 AS BIGINT)
    """,
)
def stream_stream_left_outer_join(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Stream-stream LEFT OUTER interval join: every click emits, matched
    or not — the attribution query's real form ("which clicks converted,
    which didn't"), and strictly harder than the inner join because the
    NULL side is a WATERMARK decision, not a data decision: a click can
    only be declared unmatched once the purchase watermark has passed
    click.ts + 6h (until then a match could still arrive), so outer rows
    trail the inner rows by up to the watermark delay. Under AvailableNow
    the final watermark passes the whole fixture and the result equals
    the batch LEFT JOIN, which the oracle pins — the run-to-idle parity
    argument, extended to the null-emission path.

    State sizing is the inner join's: each side buffers rows until the
    other side's watermark clears them; the outer semantics add no state,
    only the deferred null emission. Both join keys partition the state
    store by user_id."""
    joined = _click_purchase_join(spark, sf_dir, "leftOuter").select(
        "click_id", "purchase_id", "user_id"
    )
    # NO sentinel filter here: any predicate excluding the sentinel user
    # gets pushed through the join into BOTH streaming scans (equi-key
    # equivalence), so the sentinel rows would never reach the watermark
    # nodes and the flush would silently stop working. The sentinel pair
    # instead emits its one deterministic matched row (click -1,
    # purchase -2, user -1), which the oracle appends verbatim.
    return run_available_now(joined, "append")


@query(
    "stream_stream_right_outer_join",
    oracle="""
    SELECT c.event_id AS click_id, p.event_id AS purchase_id,
           p.user_id AS user_id
    FROM (SELECT * FROM events WHERE event_type = 'click') c
    RIGHT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON c.user_id = p.user_id
     AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 6 HOUR
    UNION ALL
    SELECT CAST(-1 AS BIGINT), CAST(-2 AS BIGINT), CAST(-1 AS BIGINT)
    """,
)
def stream_stream_right_outer_join(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Stream-stream RIGHT OUTER interval join — the last join-mode cell
    in the streaming matrix (inner/left/full landed earlier): every
    purchase emits, attributed to a preceding click or orphaned. The null
    side is the mirror of the left-outer op's: a purchase is declared
    click-less only once the CLICK watermark has passed the start of its
    lookback window (until then an attributing click could still arrive),
    so orphan rows trail matches by up to the watermark delay and the
    eviction crosses micro-batch seams (pinned by the multibatch test).
    Under AvailableNow the sentinel advances both watermarks past the
    fixture and the drained result equals the batch RIGHT JOIN, which the
    oracle pins verbatim (plus the sentinel's own matched row — see the
    left-outer op for why it must not be filtered)."""
    joined = _click_purchase_join(spark, sf_dir, "rightOuter").select(
        "click_id", "purchase_id", F.col("p_user_id").alias("user_id")
    )
    return run_available_now(joined, "append")


@query(
    "stream_stream_semi_join",
    oracle="""
    SELECT c.event_id AS click_id, c.user_id AS user_id
    FROM (SELECT * FROM events WHERE event_type = 'click') c
    WHERE EXISTS (
      SELECT 1 FROM events p
      WHERE p.event_type = 'purchase' AND p.user_id = c.user_id
        AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 6 HOUR
    )
    UNION ALL
    SELECT CAST(-1 AS BIGINT), CAST(-1 AS BIGINT)
    """,
)
def stream_stream_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT SEMI interval join: converted clicks emitted
    EXACTLY ONCE regardless of how many purchases land in the window —
    the dedup-free form of the attribution question that the inner join
    gets wrong (it multiplies a click by its match count) and a
    downstream dropDuplicates would fix only with extra state. Semi is
    also the cheaper state contract: the click side can drop a buffered
    row the moment its FIRST match arrives, instead of holding it for
    the full watermark horizon the outer modes need.

    Under AvailableNow the final watermark passes the fixture and the
    drained result equals the batch EXISTS, which the oracle pins (plus
    the sentinel pair's own matched click — the sentinel must not be
    filtered, see the left-outer op). Completes the streaming join-mode
    matrix: inner / left / right / full outer / semi."""
    joined = _click_purchase_join(spark, sf_dir, "leftSemi").select(
        "click_id", "user_id"
    )
    return run_available_now(joined, "append")


_FUNNEL_STAGES = ("view", "click", "purchase")
_FUNNEL_STATE = "t1 bigint, t2 bigint, t3 bigint"
_FUNNEL_OUT = "user_id bigint, t1 bigint, t2 bigint, t3 bigint"


def _funnel_fn(
    key: tuple,
    pdfs: Iterable[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Greedy funnel stage matcher with O(1) state per user: (t1, t2, t3)
    carried across micro-batches; each batch folds its rows in
    (us, event_type) order (``_rows_in_order``). Cross-batch equivalence
    to the batch fold holds when batches arrive in event-time order
    (exact under AvailableNow replay; out-of-order ACROSS batches needs
    a watermark-bounded reorder buffer, same documented limit as the
    EWMA)."""
    t1, t2, t3 = state.get if state.exists else (None, None, None)
    order = ["us", "event_type"]
    for us, et in _rows_in_order(pdfs, order, order):
        if t1 is None and et == "view":
            t1 = int(us)
        elif t2 is None and et == "click" and t1 is not None and us > t1:
            t2 = int(us)
        elif t3 is None and et == "purchase" and t2 is not None and us > t2:
            t3 = int(us)
    state.update((t1, t2, t3))
    yield pd.DataFrame(
        {
            "user_id": pd.array([key[0]], dtype="Int64"),
            "t1": pd.array([t1], dtype="Int64"),
            "t2": pd.array([t2], dtype="Int64"),
            "t3": pd.array([t3], dtype="Int64"),
        }
    )


@query(
    "stream_funnel_stateful",
    oracle="""
    WITH su AS (
      SELECT DISTINCT user_id FROM events
      WHERE event_type IN ('view', 'click', 'purchase')
    ), v AS (
      SELECT user_id, MIN(epoch_us(CAST(ts AS TIMESTAMP))) AS t1
      FROM events WHERE event_type = 'view' GROUP BY user_id
    ), c AS (
      SELECT e.user_id, MIN(epoch_us(CAST(e.ts AS TIMESTAMP))) AS t2
      FROM events e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'click'
        AND epoch_us(CAST(e.ts AS TIMESTAMP)) > v.t1
      GROUP BY e.user_id
    ), p AS (
      SELECT e.user_id, MIN(epoch_us(CAST(e.ts AS TIMESTAMP))) AS t3
      FROM events e JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase'
        AND epoch_us(CAST(e.ts AS TIMESTAMP)) > c.t2
      GROUP BY e.user_id
    )
    SELECT su.user_id, v.t1, c.t2, p.t3
    FROM su
    LEFT JOIN v ON su.user_id = v.user_id
    LEFT JOIN c ON su.user_id = c.user_id
    LEFT JOIN p ON su.user_id = p.user_id
    """,
)
def stream_funnel_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The funnel running INCREMENTALLY: per-user greedy stage times
    (first view; first click strictly after it; first purchase strictly
    after that) maintained in the state store via applyInPandasWithState
    — the unbounded-stream form of operators/behavioral.funnel_conversion
    (whose batch fold collects each user's full history into a row; here
    state is THREE scalars per user regardless of history length). After
    run-to-idle the emitted stage times equal the batch conditional-min
    joins, which the oracle pins per user — including NULL stage times
    for users who never advance, the rows a conversion dashboard needs.

    Scale: state is 24 bytes per user; emission is per-key update mode.
    The strict-ordering caveat is the EWMA's: in-batch order is enforced
    by an explicit sort, cross-batch order by replay/watermark."""
    stream = (
        _fixture_stream(spark, sf_dir)
        .filter(F.col("event_type").isin(*_FUNNEL_STAGES))
        .select(
            "user_id",
            F.unix_micros("ts").alias("us"),
            "event_type",
        )
    )
    out = stream.groupBy("user_id").applyInPandasWithState(
        _funnel_fn,
        outputStructType=_FUNNEL_OUT,
        stateStructType=_FUNNEL_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    result = run_available_now(out, "update", state_partitions=_FOLD_STATE_PARTS)
    # stage times only ever fill in (t1 before t2 before t3, never
    # mutated), so the final emission is the row with the most non-null
    # stage times
    filled = (
        F.col("t1").isNotNull().cast("int")
        + F.col("t2").isNotNull().cast("int")
        + F.col("t3").isNotNull().cast("int")
    )
    return _final_emission(result, filled.desc(), ["user_id", "t1", "t2", "t3"])


def _cohort_days(stream: DataFrame) -> DataFrame:
    """Each user's distinct active epoch-days (``eday``) as ``days``."""
    return stream.groupBy("user_id").agg(F.collect_set("eday").alias("days"))


@query("stream_cohort_retention", oracle=_BATCH_COHORT_ORACLE)
def stream_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention maintained INCREMENTALLY: each user's distinct
    active-day set is a ``collect_set`` buffer in the JVM state store and
    the cohort grid is re-derived from the drained per-user sets — the
    streaming twin of operators/behavioral.cohort_retention, sharing its
    oracle verbatim. After run-to-idle the grid equals the batch one.

    Scale: state per user is the distinct-day set (bounded by the
    retention window span, not event count); complete mode replaces the
    sink table every batch, so the drain holds one row per user. The
    grid reduction itself is the batch op's metadata-sized (cohort_day,
    day_offset) aggregate. The day is computed by pure epoch arithmetic
    on the embedded UTC instant (floor(unix_micros / 86.4e9)) so the
    result is session-timezone-proof.
    """
    stream = _fixture_stream(spark, sf_dir).select(
        "user_id",
        F.floor(F.unix_micros("ts") / F.lit(86_400_000_000))
        .cast("int")
        .alias("eday"),
    )
    days = run_available_now(_cohort_days(stream), "complete")
    cohorted = days.select(
        F.array_min("days").alias("cohort"),
        F.explode("days").alias("day"),
    )
    return (
        cohorted.groupBy(
            F.date_format(
                F.expr("date_from_unix_date(cohort)"), "yyyy-MM-dd"
            ).alias("cohort_day"),
            (F.col("day") - F.col("cohort")).alias("day_offset"),
        )
        # (user, day) is unique after exploding per-user day SETS, so a
        # plain COUNT is the distinct-user count — no Expand
        .agg(F.count(F.lit(1)).alias("n_active"))
    )


_ATTR_STATE = "us bigint, eid bigint, typ string"
_ATTR_OUT = (
    "purchase_id bigint, user_id bigint, touch_id bigint,"
    " touch_type string, gap_us bigint"
)


def _attr_fn(
    key: tuple,
    pdfs: Iterable[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Online last-touch attribution: O(1) state per user (the latest
    view/click as (us, event_id, type)); each purchase is attributed the
    moment it is processed, so every purchase row is emitted in exactly
    ONE micro-batch — no cross-batch re-emission to collapse. In-batch
    event-time order is (us, event_id) (matching the batch operator's
    strictly-preceding lexicographic tie rule); cross-batch order is the
    EWMA's documented replay caveat."""
    from ..operators.behavioral import _ATTR_LOOKBACK_US

    last = state.get if state.exists else (None, None, None)
    out: list[tuple] = []
    for us, eid, et in _rows_in_order(
        pdfs, ["us", "event_id"], ["us", "event_id", "event_type"]
    ):
        if et == "purchase":
            if last[0] is not None and last[0] >= us - _ATTR_LOOKBACK_US:
                out.append((int(eid), key[0], last[1], last[2], int(us) - last[0]))
            else:
                out.append((int(eid), key[0], None, None, None))
        else:
            last = (int(us), int(eid), et)
    state.update(last)
    yield pd.DataFrame(
        {
            "purchase_id": pd.array([r[0] for r in out], dtype="Int64"),
            "user_id": pd.array([r[1] for r in out], dtype="Int64"),
            "touch_id": pd.array([r[2] for r in out], dtype="Int64"),
            "touch_type": pd.array(
                [r[3] for r in out], dtype="object"
            ),
            "gap_us": pd.array([r[4] for r in out], dtype="Int64"),
        }
    )


@query("stream_attribution_last_touch", oracle=_BATCH_ATTR_ORACLE)
def stream_attribution_last_touch(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Last-touch attribution running ONLINE: the state store keeps only
    each user's most recent view/click (three scalars), and every
    arriving purchase is attributed immediately — the streaming twin of
    operators/behavioral.attribution_last_touch, sharing its oracle
    verbatim. Contrast the batch form's window over full history: here a
    billion-user stream holds 24ish bytes per user and attribution
    latency is one micro-batch.

    Each purchase emits in exactly one batch (the one that delivers it),
    so update-mode output needs no final-emission collapse."""
    stream = (
        _fixture_stream(spark, sf_dir)
        .filter(F.col("event_type").isin("view", "click", "purchase"))
        .select(
            "user_id",
            F.unix_micros("ts").alias("us"),
            "event_id",
            "event_type",
        )
    )
    out = stream.groupBy("user_id").applyInPandasWithState(
        _attr_fn,
        outputStructType=_ATTR_OUT,
        stateStructType=_ATTR_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return run_available_now(out, "update", state_partitions=_FOLD_STATE_PARTS)


_ZANOM_MIN_N = 5
_ZANOM_K = 2.0
_ZANOM_STATE = "n bigint, s bigint, q bigint"
_ZANOM_OUT = (
    "event_id bigint, user_id bigint, n_prior bigint,"
    " mean_prior double, z double, is_anomaly boolean"
)

# the oracle replays the same prior-only cumulative moments with a
# ROWS window; values quantize to integer 1e-4 units on BOTH sides, so
# every emitted double is a deterministic function of exact integers
# (the timeseries_anomaly_rolling lesson applied to the streaming twin)
_ZANOM_ORACLE = f"""
WITH e AS (
  SELECT event_id, user_id,
         CAST(FLOOR(value * 10000 + 0.5) AS BIGINT) AS xi,
         epoch_us(CAST(ts AS TIMESTAMP)) AS us
  FROM events
),
w AS (
  SELECT event_id, user_id, xi,
         COUNT(*) OVER fr AS n,
         SUM(xi) OVER fr AS s,
         SUM(xi * xi) OVER fr AS q
  FROM e
  WINDOW fr AS (PARTITION BY user_id ORDER BY us, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
)
SELECT event_id, user_id, CAST(n AS BIGINT) AS n_prior,
       (CAST(s AS DOUBLE) / n) / 10000 AS mean_prior,
       (xi - CAST(s AS DOUBLE) / n)
         / sqrt(GREATEST(CAST(q AS DOUBLE) / n
                - (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n),
                1e-6)) AS z,
       abs(xi - CAST(s AS DOUBLE) / n)
         > {_ZANOM_K} * sqrt(GREATEST(CAST(q AS DOUBLE) / n
              - (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n), 1e-6))
         AS is_anomaly
FROM w WHERE n >= {_ZANOM_MIN_N}
"""


def _zanom_fn(
    key: tuple,
    pdfs: Iterable[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Online z-score anomaly scoring with exact-integer running moments
    (n, sum, sum-of-squares of the 1e-4-quantized value): each event is
    scored against the PRIOR events only, then folded into the state —
    so every event emits in exactly one batch and the moments match the
    batch ROWS-window replay bit-for-bit (integer sums are exact in any
    accumulation order)."""
    n, s, q = state.get if state.exists else (0, 0, 0)
    out: list[tuple] = []
    for eid, xi in _rows_in_order(pdfs, ["us", "event_id"], ["event_id", "xi"]):
        xi = int(xi)
        if n >= _ZANOM_MIN_N:
            import math

            m = s / n
            var = q / n - m * m
            # math.sqrt, NOT ** 0.5: pow(x, 0.5) is not guaranteed
            # bit-identical to the correctly-rounded sqrt, and the
            # engines' sqrt IS — one fixture row diverged in the ulp
            sd = math.sqrt(max(var, 1e-6))
            z = (xi - m) / sd
            out.append(
                (int(eid), key[0], n, m / 10000, z, abs(xi - m) > _ZANOM_K * sd)
            )
        n, s, q = n + 1, s + xi, q + xi * xi
    state.update((n, s, q))
    yield pd.DataFrame(
        {
            "event_id": pd.array([r[0] for r in out], dtype="Int64"),
            "user_id": pd.array([r[1] for r in out], dtype="Int64"),
            "n_prior": pd.array([r[2] for r in out], dtype="Int64"),
            "mean_prior": pd.array([r[3] for r in out], dtype="float64"),
            "z": pd.array([r[4] for r in out], dtype="float64"),
            "is_anomaly": pd.array([r[5] for r in out], dtype="boolean"),
        }
    )


@query("stream_anomaly_zscore", oracle=_ZANOM_ORACLE)
def stream_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Online anomaly detection: each event scored against its user's
    full PRIOR history via three exact-integer running moments in the
    state store — the alerting primitive running at ingest latency (the
    batch twin, timeseries_anomaly_rolling, scores against a trailing
    window instead; this is the cumulative form whose state is O(1)
    regardless of history length). Cold-start events (< {n} priors) are
    unscored, matching every production detector.

    Exactness: the value quantizes to integer 1e-4 units before any
    accumulation, so Python's running (n, s, q), Spark's state
    round-trip, and the oracle's SQL window sums all produce identical
    integers — the emitted doubles are then the same deterministic IEEE
    expressions on both engines. Each event emits in exactly one batch;
    no update-mode collapse is needed."""
    stream = _fixture_stream(spark, sf_dir).select(
        "user_id",
        F.unix_micros("ts").alias("us"),
        "event_id",
        F.floor(F.col("value") * 10000 + 0.5).cast("bigint").alias("xi"),
    )
    out = stream.groupBy("user_id").applyInPandasWithState(
        _zanom_fn,
        outputStructType=_ZANOM_OUT,
        stateStructType=_ZANOM_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return run_available_now(out, "update", state_partitions=_FOLD_STATE_PARTS)


stream_anomaly_zscore.__doc__ = stream_anomaly_zscore.__doc__.format(
    n=_ZANOM_MIN_N
)


_DECONTAM_NGRAM_STREAM = 5  # keep identical to curation.DECONTAM_NGRAM


@query(
    "stream_decontam",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    sh AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(
               range(1, len(t) - {_DECONTAM_NGRAM_STREAM - 2}),
               i -> list_aggregate(list_slice(t, CAST(i AS INT),
                 CAST(i + {_DECONTAM_NGRAM_STREAM - 1} AS INT)),
                 'string_agg', ' '))))
               AS shingle
      FROM toks WHERE len(t) >= {_DECONTAM_NGRAM_STREAM}
    ),
    bench AS (
      SELECT DISTINCT shingle FROM sh WHERE doc_id % 97 = 0
    )
    SELECT s.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shared_ngrams
    FROM sh s JOIN bench b ON s.shingle = b.shingle
    WHERE s.doc_id % 97 <> 0
    GROUP BY s.doc_id
    """,
)
def stream_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING benchmark decontamination — decontam_ngram_overlap's
    semantics applied as documents arrive: the benchmark shingle set is a
    STATIC batch relation (eval sets are small and fixed), each
    micro-batch of incoming docs explodes its shingles and probes the
    benchmark via a broadcast stream-static join, and the per-doc shared
    count aggregates in complete mode. This is the shape a live ingest
    pipeline wants: contamination flagged at arrival time, not in a
    nightly batch sweep.

    Scale notes: the static side broadcasts once (re-resolved per batch,
    no stream state kept for it); the stream side's raw text is never
    shuffled — only (doc_id, matched shingle) pairs reach the aggregate,
    and doc_id is near-unique so map-side partials absorb the count. The
    groupBy state is bounded by the number of CONTAMINATED docs, not the
    corpus. The oracle is the batch decontam SQL: streaming and batch
    answers must be identical once the stream drains (AvailableNow)."""
    n = _DECONTAM_NGRAM_STREAM
    toks = F.split(F.col("text"), " ")
    shingles_expr = F.explode(
        F.array_distinct(
            F.expr(
                f"transform(sequence(1, size(t) - {n - 1}),"
                f" i -> array_join(slice(t, CAST(i AS INT), {n}), ' '))"
            )
        )
    ).alias("shingle")

    bench = (
        load(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 97 == 0)
        .select("doc_id", toks.alias("t"))
        .filter(F.size("t") >= n)
        .select(shingles_expr)
        .distinct()
    )
    stream_sh = (
        _fixture_stream(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 97 != 0)
        .select("doc_id", toks.alias("t"))
        .filter(F.size("t") >= n)
        .select("doc_id", shingles_expr)
    )
    flagged = (
        stream_sh.join(F.broadcast(bench), "shingle")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_shared_ngrams"))
    )
    return run_available_now(flagged, "complete")


@query(
    "stream_dedup_minhash",
    oracle="""
    WITH base AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ),
    mut AS (
      SELECT doc_id + 1000000 AS doc_id,
             toks[1:greatest(3, (len(toks) * 4) // 5)] AS toks
      FROM base
    ),
    sh AS (
      SELECT doc_id,
             CASE WHEN len(toks) >= 3 THEN
               list_distinct(list_transform(range(1, len(toks) - 1),
                 i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
             ELSE [array_to_string(toks, ' ')] END AS sh_set
      FROM base
      UNION ALL
      SELECT doc_id,
             CASE WHEN len(toks) >= 3 THEN
               list_distinct(list_transform(range(1, len(toks) - 1),
                 i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
             ELSE [array_to_string(toks, ' ')] END AS sh_set
      FROM mut
    ),
    mh AS (
      SELECT doc_id,
             list_min(list_transform(sh_set, s -> md5('0|' || s))) AS h0,
             list_min(list_transform(sh_set, s -> md5('1|' || s))) AS h1,
             list_min(list_transform(sh_set, s -> md5('2|' || s))) AS h2,
             list_min(list_transform(sh_set, s -> md5('3|' || s))) AS h3,
             list_min(list_transform(sh_set, s -> md5('4|' || s))) AS h4,
             list_min(list_transform(sh_set, s -> md5('5|' || s))) AS h5,
             list_min(list_transform(sh_set, s -> md5('6|' || s))) AS h6,
             list_min(list_transform(sh_set, s -> md5('7|' || s))) AS h7
      FROM sh
    ),
    bands AS (
      SELECT doc_id, band, band_key FROM (
        SELECT doc_id, unnest([
          struct_pack(band := 0, band_key := h0 || h1),
          struct_pack(band := 1, band_key := h2 || h3),
          struct_pack(band := 2, band_key := h4 || h5),
          struct_pack(band := 3, band_key := h6 || h7)],
          recursive := true) FROM mh)
    )
    SELECT a.doc_id AS doc_new,
           CAST(COUNT(*) AS BIGINT) AS n_band_hits,
           MIN(b.doc_id) AS first_seen
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.band_key = b.band_key
    WHERE a.doc_id >= 1000000 AND b.doc_id < 1000000
    GROUP BY a.doc_id
    """,
)
def stream_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING incremental MinHash dedup (VERDICT r8 task 4c) —
    dedup_incremental_minhash's semantics applied as documents ARRIVE:
    each micro-batch computes its own MinHash bands (the signature fold
    is a narrow per-row map, legal on a stream), probes the PERSISTED
    committed band index (static side, broadcast per batch — no stream
    state kept for it, exactly stream_decontam's stream-static shape),
    and reports per arriving doc how many bands collide with the
    committed corpus and the earliest committed doc hit. A live ingest
    bus gets near-dup flags at arrival time instead of a nightly sweep.

    The arriving docs are the 80%-prefix mutated twins, derived on the
    stream itself (same per-row expressions as the batch corpus), so the
    batch oracle replays the identical semantics; candidate-level output
    (band hits, no Jaccard verify) keeps the streaming plan one
    stream-static join + one complete-mode aggregate whose state is
    bounded by the number of FLAGGED docs.

    Scale: raw text never shuffles — only (band, band_key) pairs meet
    the broadcast index; at 100 TB the index side is partition-pruned by
    the arriving batch's band values before broadcast (the static side
    is re-resolved every batch, so the prune is per-batch)."""
    from ..operators.dedup import MUT_OFFSET, _band_index_path, _bands_of

    idx = spark.read.parquet(_band_index_path(spark, sf_dir)).select(
        F.col("doc_id").alias("doc_seen"), "band", "band_key"
    )
    toks = F.expr(
        "slice(split(text, ' '), 1,"
        " greatest(3, (size(split(text, ' ')) * 4) div 5))"
    )
    stream_sh = _fixture_stream(spark, sf_dir, "documents").select(
        (F.col("doc_id") + MUT_OFFSET).alias("doc_id"),
        toks.alias("toks"),
    ).select(
        "doc_id",
        F.expr(
            "CASE WHEN size(toks) >= 3 THEN "
            "  array_distinct(transform(sequence(0, size(toks) - 3),"
            "    i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])))"
            "ELSE array(concat_ws(' ', toks)) END"
        ).alias("sh_set"),
    )
    hits = (
        _bands_of(stream_sh)
        .withColumnRenamed("doc_id", "doc_new")
        .join(F.broadcast(idx), ["band", "band_key"])
        .groupBy("doc_new")
        .agg(
            F.count("*").alias("n_band_hits"),
            F.min("doc_seen").alias("first_seen"),
        )
    )
    return run_available_now(hits, "complete")


def _cdc_apply(spark: SparkSession, stream: DataFrame, checkpoint: str | None = None) -> DataFrame | None:
    """foreachBatch CDC-apply engine for stream_cdc_upsert: per epoch,
    reduce the batch to one last-writer row per touched key, merge with
    the state table and materialize the merge as the next state version
    (an eager localCheckpoint: the lineage stops at each epoch and no
    scratch file is written). Returns the final state DataFrame (None if
    the source was empty)."""
    state = {"df": None}

    def apply_batch(batch: DataFrame, epoch_id: int) -> None:
        agg = batch.groupBy("user_id").agg(
            F.max(F.struct("ts", "event_id", "value", "event_type")).alias(
                "mx"
            ),
            F.count(F.lit(1)).alias("n"),
        )
        if state["df"] is None:
            merged = agg
        else:
            merged = (
                state["df"]
                .unionByName(agg)
                .groupBy("user_id")
                .agg(F.max("mx").alias("mx"), F.sum("n").alias("n"))
            )
        state["df"] = merged.localCheckpoint()

    run_available_now(
        stream, state_partitions=None, sink=apply_batch, checkpoint=checkpoint
    )
    return state["df"]


@query(
    "stream_cdc_upsert",
    oracle="""
    WITH latest AS (
      SELECT user_id, value, event_type,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rk,
             COUNT(*) OVER (PARTITION BY user_id) AS n_changes
      FROM events
    )
    SELECT user_id, ROUND(value, 4) AS last_value,
           CAST(n_changes AS BIGINT) AS n_changes
    FROM latest WHERE rk = 1 AND event_type <> 'error'
    """,
)
def stream_cdc_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC apply: the event stream is a change feed keyed by
    user_id (each event upserts the user's value; event_type='error' is a
    tombstone), applied through foreachBatch into a materialized state
    table — the ingestion half of a CDC pipeline (Debezium-style apply),
    and the streaming twin of merge_upsert_delete. Last-writer-wins is by
    (ts, event_id), so arrival order across micro-batches never matters:
    replaying the feed in any batch partitioning converges to the same
    table (the two-file replay test pins this).

    Per epoch: the batch reduces MAP-SIDE to one argmax row per touched
    user (max of a (ts, event_id, value, type) struct — lexicographic
    struct max IS the last-writer rule), then full-outer-merges with the
    state table and checkpoints the merge as the NEW state version
    (read-current/write-next, kept in block storage, so nothing is left
    on disk after the call). State size is O(live keys), batch work is
    O(touched keys); nothing rescans history.
    Tombstoned keys stay in state (so a late pre-tombstone change cannot
    resurrect them) and are excluded at read — exactly how Delta/Hudi
    treat deletes before vacuum."""
    stream = _fixture_stream(spark, sf_dir).select(
        "user_id", "ts", "event_id", "value", "event_type"
    )
    final = _cdc_apply(spark, stream)
    if final is None:  # empty source
        return spark.createDataFrame(
            [], "user_id bigint, last_value double, n_changes bigint"
        )
    return (
        final.filter(F.col("mx.event_type") != "error")
        .select(
            "user_id",
            F.round(F.col("mx.value"), 4).alias("last_value"),
            F.col("n").cast("long").alias("n_changes"),
        )
    )


@query("stream_quality_drift", oracle=_QUALITY_DRIFT_ORACLE)
def stream_quality_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING per-source quality drift — quality_drift_by_source's
    grid maintained as documents arrive: the per-source sufficient
    statistics (count, char/token sums, micro-unit TTR sum) aggregate in
    complete mode (streaming-legal: one groupBy, integer sums), and the
    drift projection — which needs ALL sources' partials for the global
    baseline — runs as a batch finalize over the |sources|-row sink
    table after the stream drains. That split is the point: the corpus
    is reduced incrementally (state = one row per source), and only the
    metadata-sized grid ever leaves the stream; a drift dashboard
    re-runs the finalize per refresh without touching the corpus.

    The oracle is the batch grid SQL — streaming and batch must agree
    exactly once the stream drains (AvailableNow)."""
    from ..operators.warehouse import (
        quality_drift_finalize,
        quality_drift_sums,
    )

    sums = quality_drift_sums(_fixture_stream(spark, sf_dir, "documents"))
    grid = run_available_now(sums, "complete")
    return quality_drift_finalize(grid)


@query(
    "stream_stream_full_outer_join",
    oracle="""
    SELECT c.event_id AS click_id, p.event_id AS purchase_id,
           COALESCE(c.user_id, p.user_id) AS user_id
    FROM (SELECT * FROM events WHERE event_type = 'click') c
    FULL JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON c.user_id = p.user_id
     AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 6 HOUR
    UNION ALL
    SELECT CAST(-1 AS BIGINT), CAST(-2 AS BIGINT), CAST(-1 AS BIGINT)
    """,
)
def stream_stream_full_outer_join(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Stream-stream FULL OUTER interval join — the completion of the
    inner/left trio: unmatched rows from BOTH sides emit with nulls, and
    each side's null decision is governed by the OTHER side's watermark
    (a purchase is orphaned only once the click watermark has passed its
    join window, and vice versa). Under AvailableNow the flush sentinel
    advances both watermarks past the fixture so the drained result
    equals the batch FULL JOIN, which the oracle pins (the run-to-idle
    parity argument from the left-outer op, applied symmetrically).

    State is the inner join's buffered-rows-per-side keyed by user_id;
    full-outer adds only the two deferred null-emission paths. The
    sentinel pair matches itself and contributes exactly one
    deterministic row (-1, -2, -1), appended verbatim in the oracle —
    filtering it out here would push the predicate into both scans and
    kill the flush (see stream_stream_left_outer_join)."""
    joined = _click_purchase_join(spark, sf_dir, "fullOuter").select(
        "click_id",
        "purchase_id",
        F.coalesce(F.col("user_id"), F.col("p_user_id")).alias("user_id"),
    )
    return run_available_now(joined, "append")


@query(
    "stream_dedup_within_watermark",
    oracle="""
    SELECT DISTINCT user_id, event_type, strftime(ts, '%Y-%m-%d') AS day
    FROM events
    """,
)
def stream_dedup_within_watermark(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming dedup via dropDuplicatesWithinWatermark (the Spark 3.5+
    API): unlike dropDuplicates, whose state never expires without a
    watermark column IN the key, this variant evicts each key's state
    once the watermark passes its first-seen event time + the delay — the
    production shape for "at-least-once upstream, dedup within a bounded
    horizon" pipelines where keys must not accumulate forever.

    Key here is (user_id, event_type, day); emitting only the key columns
    makes the kept-row choice irrelevant, and with the fixture's span
    inside the 30-day horizon no key can re-emit, so the drained result
    is exactly the distinct key set the batch oracle pins. The day column
    round-trips through the tz-proof NTZ embedding (tables.py) so both
    engines derive the same naive date."""
    from ..tables import instant_as_ntz

    stream = _fixture_stream(spark, sf_dir)
    deduped = (
        stream.withColumn(
            "day", F.date_format(instant_as_ntz("ts"), "yyyy-MM-dd")
        )
        .withWatermark("ts", "30 days")
        .dropDuplicatesWithinWatermark(["user_id", "event_type", "day"])
        .select("user_id", "event_type", "day")
    )
    return run_available_now(deduped, "append")


@query("stream_assoc_rules", oracle=ASSOC_RULES_ORACLE)
def stream_assoc_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules maintained INCREMENTALLY: per-user event-type
    baskets aggregate in complete mode (collect_set — state is one
    bounded set per user, the O(1)-per-key family), and the pair-rule
    grid math (explode combinations, one tiny aggregation, windows over
    the grid) runs as a batch finalize over the drained sink — the
    stream-reduce / batch-finalize split stream_quality_drift
    established. A rules dashboard refreshes by re-running only the
    finalize; the event stream is never re-read.

    Shares assoc_rules_pairs' finalize and ORACLE verbatim — streaming
    and batch must agree exactly once the stream drains."""
    stream = _fixture_stream(spark, sf_dir)
    baskets = stream.groupBy("user_id").agg(
        F.collect_set("event_type").alias("ets")
    )
    drained = run_available_now(baskets, "complete")
    from ..operators.behavioral import assoc_finalize

    return assoc_finalize(drained)


_TRANS_STATE = "prev_type string, prev_us bigint"
_TRANS_OUT = "src string, dst string"


def _transition_fn(
    key: tuple,
    pdfs: Iterable[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Per-user transition extractor with O(1) state: carry only the last
    (event_type, us) across micro-batches; each batch folds its rows in
    (us, event_id) order (``_rows_in_order``), emitting one (src, dst)
    row per consecutive pair — including the cross-batch seam pair from
    the carried state. An empty batch leaves the state untouched."""
    prev_type, _prev_us = state.get if state.exists else (None, None)
    out_src: list[str] = []
    out_dst: list[str] = []
    last_us = None
    for us, et in _rows_in_order(pdfs, ["us", "event_id"], ["us", "event_type"]):
        if prev_type is not None:
            out_src.append(prev_type)
            out_dst.append(et)
        prev_type, last_us = et, int(us)
    if last_us is not None:
        state.update((prev_type, last_us))
    yield pd.DataFrame({"src": out_src, "dst": out_dst})


@query("stream_transition_matrix", oracle=TRANSITION_ORACLE)
def stream_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Markov transition matrix maintained INCREMENTALLY: the lag
    window that batch edge-extraction uses cannot run on a stream, so
    consecutive-pair extraction becomes an applyInPandasWithState fold —
    state is just each user's last (event_type, epoch) and every batch
    APPENDS its transition delta rows (including the seam pair bridging
    the previous batch). The grid math (probabilities, ranks) is the
    batch finalize over the drained delta sink, shared verbatim with
    event_transition_matrix — as is the ORACLE, so streaming and batch
    must agree exactly once the stream drains.

    Cross-batch equivalence holds when batches arrive in event-time
    order per user (exact under AvailableNow replay) — the same
    documented reorder-buffer limit as the EWMA/funnel folds."""
    stream = _fixture_stream(spark, sf_dir)
    from ..tables import ntz_epoch_us  # noqa: F401  (ts already instant)

    prepared = stream.select(
        "user_id",
        F.unix_micros("ts").alias("us"),
        "event_id",
        "event_type",
    )
    deltas = prepared.groupBy("user_id").applyInPandasWithState(
        _transition_fn,
        outputStructType=_TRANS_OUT,
        stateStructType=_TRANS_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    drained = run_available_now(deltas, "append", state_partitions=_FOLD_STATE_PARTS)
    from ..operators.graph import transition_grid

    edges = drained.groupBy("src", "dst").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    return transition_grid(edges)


@query("stream_golden_record", oracle=GOLDEN_RECORD_ORACLE)
def stream_golden_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Golden-record survivorship maintained INCREMENTALLY: the guarded
    (us, event_id, value)-struct MAX per attribute is an ordinary
    aggregate, so the whole merge is ONE streaming-legal complete-mode
    groupBy — no custom state function needed (contrast the transition
    matrix, whose lag semantics forced applyInPandasWithState). State is
    one struct per (user, attribute); every micro-batch folds its
    updates in via the aggregate's merge, which is exactly how a
    customer-360 table stays current against an event firehose.

    Shares the attribute derivation and the merge with
    golden_record_survivorship, and its ORACLE verbatim — streaming and
    batch must agree once the stream drains."""
    from ..operators.warehouse import golden_attr_versions, golden_merge

    stream = _fixture_stream(spark, sf_dir).filter(
        F.expr(
            "props IS NOT NULL"
            " AND get_json_object(props, '$.k') IS NOT NULL"
        )
    )
    v = golden_attr_versions(stream, F.unix_micros(F.col("ts")))
    merged = golden_merge(v)
    return run_available_now(merged, "complete", state_partitions=_FOLD_STATE_PARTS)


_CUSUM_STATE = "k bigint, cum bigint"
_CUSUM_OUT = "event_type string, rn bigint, cum bigint"


def _cusum_fn(
    key: tuple,
    pdfs: Iterable[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Per-series cumulative-sum fold with O(1) state: carry only
    (position k, running cents sum) across micro-batches; each batch
    folds its rows in (us, event_id) order (``_rows_in_order``) and
    emits one (rn, cum) prefix row per event — exact integers, so any
    batch seam reproduces the batch window's cumsum bit-for-bit. An
    empty batch leaves the state untouched."""
    k, cum = state.get if state.exists else (0, 0)
    out_rn: list[int] = []
    out_cum: list[int] = []
    for (c,) in _rows_in_order(pdfs, ["us", "event_id"], ["c"]):
        k += 1
        cum += int(c)
        out_rn.append(k)
        out_cum.append(cum)
    if out_rn:
        state.update((k, cum))
    yield pd.DataFrame(
        {
            "event_type": [key[0]] * len(out_rn),
            "rn": pd.array(out_rn, dtype="Int64"),
            "cum": pd.array(out_cum, dtype="Int64"),
        }
    )


@query("stream_changepoint_cusum", oracle=CUSUM_ORACLE)
def stream_changepoint_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint detection maintained INCREMENTALLY: the
    cumulative-deviation peak needs the series TOTAL, which no one-pass
    stream knows until it drains — so the op splits stream-reduce /
    batch-finalize (the stream_assoc_rules device): an
    applyInPandasWithState fold carries O(1) state per series (position,
    running integer-cents sum) and APPENDS one exact prefix row per
    event, then the argmax of |n·cum_k − k·total| runs as the batch
    finalize over the drained sink — the identical exact-BIGINT
    statistic as the batch twin, so the two must agree bit-for-bit once
    the stream drains (shared ORACLE). A monitoring dashboard re-runs
    only the finalize; the event stream is never re-read.

    Cross-batch equivalence holds when batches arrive in event-time
    order per series (exact under AvailableNow replay) — the same
    documented reorder-buffer limit as the EWMA/transition folds."""
    stream = _fixture_stream(spark, sf_dir)
    prepared = stream.select(
        "event_type",
        F.unix_micros("ts").alias("us"),
        "event_id",
        F.expr("CAST(ROUND(value * 100) AS BIGINT)").alias("c"),
    )
    deltas = prepared.groupBy("event_type").applyInPandasWithState(
        _cusum_fn,
        outputStructType=_CUSUM_OUT,
        stateStructType=_CUSUM_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    drained = run_available_now(deltas, "append", state_partitions=_FOLD_STATE_PARTS)
    from pyspark.sql import Window

    wp = Window.partitionBy("event_type")
    s = drained.select(
        "event_type",
        "rn",
        "cum",
        F.max("rn").over(wp).alias("n"),
        F.max_by("cum", "rn").over(wp).alias("tot"),
    )
    d = s.select(
        "event_type",
        "rn",
        "n",
        F.expr("n * cum - rn * tot").alias("num"),
    ).withColumn(
        "pick",
        F.row_number().over(
            Window.partitionBy("event_type").orderBy(
                F.abs(F.col("num")).desc(), F.col("rn").asc()
            )
        ),
    )
    return d.filter(F.col("pick") == 1).select(
        "event_type",
        F.col("n").cast("bigint").alias("n"),
        F.col("rn").cast("bigint").alias("peak_rn"),
        F.expr("ROUND(abs(CAST(num AS DOUBLE)) / n / 100.0, 6)").alias(
            "peak_dev"
        ),
        F.when(F.col("num") > 0, F.lit(1)).otherwise(F.lit(-1)).alias(
            "direction"
        ),
    )


_SESSTO_GAP_US = 30 * 60 * 1_000_000  # 30-minute inactivity gap
_SESSTO_STATE = "start_us bigint, end_us bigint, n bigint"
_SESSTO_OUT = "user_id bigint, start_us bigint, end_us bigint, n_events bigint"


def _session_timeout_fn(
    key: tuple,
    pdfs: Iterable[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Timeout-closed sessionizer: state is ONE open session (start, end,
    n) per user. New events extend it or close it inline (intra-batch
    gaps); the LAST open session closes when the event-time watermark
    passes end + gap — Spark invokes this function with hasTimedOut=True
    and no data, the only code path that can ever see it."""
    out: list[tuple] = []
    if state.hasTimedOut:
        s, e, n = state.get
        out.append((key[0], s, e, n))
        state.remove()
    else:
        uss = [int(u) for (u,) in _rows_in_order(pdfs, ["us"], ["us"])]
        if uss:
            if state.exists:
                s, e, n = state.get
            else:
                s = e = None
                n = 0
            for u in uss:
                if s is None:
                    s, e, n = u, u, 1
                elif u - e <= _SESSTO_GAP_US:
                    e, n = max(e, u), n + 1
                else:
                    out.append((key[0], s, e, n))
                    s, e, n = u, u, 1
            state.update((s, e, n))
            # arm the event-time timeout at session end + gap; clamp just
            # past the current watermark (setTimeoutTimestamp rejects
            # timestamps at or before it — a late straggler could
            # otherwise arm an already-expired timer)
            to_ms = (e + _SESSTO_GAP_US) // 1000 + 1
            wm_ms = state.getCurrentWatermarkMs()
            state.setTimeoutTimestamp(max(to_ms, wm_ms + 1))
    yield pd.DataFrame(
        {
            "user_id": pd.array([r[0] for r in out], dtype="Int64"),
            "start_us": pd.array([r[1] for r in out], dtype="Int64"),
            "end_us": pd.array([r[2] for r in out], dtype="Int64"),
            "n_events": pd.array([r[3] for r in out], dtype="Int64"),
        }
    )


@query(
    "stream_session_timeout_close",
    oracle=f"""
    WITH e AS (
      SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events
    ),
    o AS (
      SELECT user_id, us,
             LAG(us) OVER (PARTITION BY user_id ORDER BY us) AS prev
      FROM e
    ),
    m AS (
      SELECT user_id, us,
             CASE WHEN prev IS NULL OR us - prev > {_SESSTO_GAP_US}
                  THEN 1 ELSE 0 END AS brk
      FROM o
    ),
    s AS (
      SELECT user_id, us,
             SUM(brk) OVER (PARTITION BY user_id ORDER BY us
               ROWS UNBOUNDED PRECEDING) AS sid
      FROM m
    )
    SELECT user_id, CAST(MIN(us) AS BIGINT) AS start_us,
           CAST(MAX(us) AS BIGINT) AS end_us,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM s GROUP BY user_id, sid
    """,
)
def stream_session_timeout_close(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Sessionization via GroupState EVENT-TIME TIMEOUT — the one
    stateful-API surface the rest of this module never touches
    (every other fold runs NoTimeout): the state store itself fires the
    session-close callback (hasTimedOut=True, no input rows) once the
    watermark passes last-activity + 30 min, which is how a production
    sessionizer bounds state WITHOUT waiting for the user's next event.
    Complements stream_session_availablenow (built-in session_window
    aggregation) and sessionize_events (batch gaps-and-islands): same
    semantics, third mechanism — custom per-session state that a real
    pipeline would enrich with arbitrary session features.

    Flush: the far-future sentinel advances the watermark past every
    real session's expiry; Spark then runs the extra timeout batch
    (FlatMapGroupsWithStateExec.shouldRunAnotherBatch). The sentinel
    user's own session never times out (its expiry sits past the final
    watermark), so it self-filters — no output predicate needed (which
    would push into the scan and break the flush, the left-outer
    lesson). Drained result = the batch gaps-and-islands oracle exactly;
    intra-batch gaps close inline, cross-batch continuation rides the
    (start, end, n) state, and the timeout timestamp re-arms on every
    extension.

    State: 24 bytes per OPEN session per user — strictly smaller than
    the watermark horizon's event buffer an aggregation-based
    sessionizer holds. Reference analog: RunStatus's
    activity-window bookkeeping (RunStatus.scala:87-115) as true
    stream state.
    """
    stream = (
        _fixture_stream(spark, sf_dir, flush=True)
        .withWatermark("ts", "1 day")
        .select("user_id", F.unix_micros("ts").alias("us"), "ts")
    )
    out = stream.groupBy("user_id").applyInPandasWithState(
        _session_timeout_fn,
        outputStructType=_SESSTO_OUT,
        stateStructType=_SESSTO_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
    return run_available_now(out, "append", state_partitions=_FOLD_STATE_PARTS)


# observable gate telemetry for stream_cc_incremental, reset per run —
# lets the bound test assert WHICH leg fired (driver fold / distributed
# epoch / compaction) instead of inferring it from timings
_CC_GATE_STATS = {
    "fold_epochs": 0,
    "distributed_epochs": 0,
    "compactions": 0,
    "max_epoch_rows": 0,
    "max_state": 0,
}


@query(
    "stream_cc_incremental",
    oracle="""
    WITH RECURSIVE base AS (
      SELECT doc_id, string_split(text, ' ') AS toks, lang FROM documents
    ),
    corpus AS (
      SELECT doc_id, toks, lang FROM base
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id,
             toks[1:greatest(3, (len(toks) * 4) // 5)] AS toks, lang
      FROM base
    ),
    shingled AS (
      SELECT doc_id, lang,
             CASE WHEN len(toks) >= 3 THEN
               list_distinct(list_transform(range(1, len(toks) - 1),
                 i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
             ELSE [array_to_string(toks, ' ')] END AS sh_set
      FROM corpus
    ),
    mh AS (
      SELECT doc_id,
             list_min(list_transform(sh_set, s -> md5('0|' || s))) AS h0,
             list_min(list_transform(sh_set, s -> md5('1|' || s))) AS h1,
             list_min(list_transform(sh_set, s -> md5('2|' || s))) AS h2,
             list_min(list_transform(sh_set, s -> md5('3|' || s))) AS h3,
             list_min(list_transform(sh_set, s -> md5('4|' || s))) AS h4,
             list_min(list_transform(sh_set, s -> md5('5|' || s))) AS h5,
             list_min(list_transform(sh_set, s -> md5('6|' || s))) AS h6,
             list_min(list_transform(sh_set, s -> md5('7|' || s))) AS h7
      FROM shingled
    ),
    bands AS (
      SELECT doc_id, band, band_key FROM (
        SELECT doc_id, unnest([
          struct_pack(band := 0, band_key := h0 || h1),
          struct_pack(band := 1, band_key := h2 || h3),
          struct_pack(band := 2, band_key := h4 || h5),
          struct_pack(band := 3, band_key := h6 || h7)],
          recursive := true) FROM mh)
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_key = b.band_key
       AND a.doc_id < b.doc_id
    ),
    pairs AS (
      SELECT c.doc_a, c.doc_b
      FROM cand c
      JOIN shingled sa ON sa.doc_id = c.doc_a
      JOIN shingled sb ON sb.doc_id = c.doc_b
      WHERE CAST(len(list_intersect(sa.sh_set, sb.sh_set)) AS DOUBLE)
            / (len(sa.sh_set) + len(sb.sh_set)
               - len(list_intersect(sa.sh_set, sb.sh_set))) >= 0.5
    ),
    edges AS (
      SELECT doc_a AS u, doc_b AS v FROM pairs
      UNION
      SELECT doc_b, doc_a FROM pairs
    ),
    nodes AS (SELECT DISTINCT u FROM edges),
    reach AS (
      SELECT u, u AS r FROM nodes
      UNION
      SELECT e.u, reach.r FROM edges e JOIN reach ON e.v = reach.u
    )
    SELECT u AS doc_id, CAST(MIN(r) AS BIGINT) AS component
    FROM reach GROUP BY u
    """,
)
def stream_cc_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING end-to-end incremental near-dup CLUSTER maintenance —
    the r9 ingest tier composed into one live pipeline: mutated-twin
    documents arrive in micro-batches (two staged files,
    maxFilesPerTrigger=1); each epoch, inside foreachBatch, (1) the
    batch's MinHash bands probe the accumulated band relation (committed
    index + every previous batch — dedup_incremental_minhash's O(batch)
    contract), (2) candidates verify at exact Jaccard >= 0.5, (3) the
    verified edges contract through the IMMUTABLE committed labeling in
    the same distributed plan and fold into a PERSISTENT driver
    union-find (min-id roots; merges compose across epochs through
    find()), and (4) the batch's bands append to the accumulated
    relation (append_band_index's semantics, held in-memory per run).
    The full labeling is materialized exactly ONCE after the drain —
    committed labels remap through the broadcast union-find result, new
    nodes label from driver state (the r11 single-pass rewrite, VERDICT
    r10 task 2; the old shape re-checkpointed the corpus-sized label
    relation and ran a distributed star-contraction fixpoint EVERY
    epoch, the profiled wall floor). The result must equal the FULL
    batch connected-components recompute — which the oracle (the same
    recursive min-reachable-id CTE) pins, so batch-order independence
    of the min-label merge is hash-checked, not assumed.

    foreachBatch + driver-held state is the repo's incremental-engine
    shape (streaming/incremental.py, _cdc_apply): state between epochs
    is metadata-sized (the union-find is touched-components + new
    nodes, the probe-bucket size class; at 100 TB the durable form is a
    maintained remap TABLE — plans/ledger.py's CAS versioning). Per
    epoch: one bands checkpoint, one probe/verify job ending in a
    batch-sized collect. Committed edges are never rescanned."""
    import os
    import shutil
    import tempfile

    from ..operators import dedup as _dedup
    from ..operators.dedup import (
        MUT_OFFSET,
        _band_index_path,
        _bands_of,
        _cc_labels,
        _committed_cc_labels,
        _shingled,
    )

    # _shingled is session-memoized AND persisted (its own cache), so
    # every per-epoch use reads cached blocks — no extra checkpoint on
    # top (an earlier draft added one: it re-materialized the persisted
    # relation into fresh checkpoint blocks on every run for nothing)
    sh = _shingled(spark, sf_dir)
    base_labels = _committed_cc_labels(spark, sf_dir)  # shared cache entry
    # PERSISTENT driver union-find over current label ids (committed
    # component labels + new doc ids) — the r11 rewrite (VERDICT r10
    # task 2). The old shape re-materialized the CORPUS-sized label
    # relation every epoch (one localCheckpoint per batch — the
    # profiled wall floor, ~1.1 s/epoch at sf0.1, alongside the
    # star-contraction fixpoint's job overhead). Label state between
    # epochs is touched-components + new nodes; find() composes merges
    # ACROSS epochs, and the full labeling is materialized ONCE after
    # the drain. r12 (VERDICT r11 task 1): both driver-state legs are
    # now BOUNDED at the batch twin's gate (_DELTA_LOCAL_MAX,
    # dedup.py), and the bound never triggers corpus-sized work
    # mid-stream: an epoch whose contracted delta exceeds the bound is
    # DEFERRED as a checkpointed batch-sized piece instead of being
    # collected, and whenever the CUMULATIVE union-find crosses the
    # bound it SPILLS its pairs as such a piece and resets (spillable
    # block-manager storage, not driver heap). The drain-time
    # materialization then folds all deferred pieces + the residual
    # driver pairs through ONE distributed star-contraction fixpoint
    # before the single corpus-sized remap — so lifetime driver memory
    # is O(bound) regardless of run length or duplication rate, and
    # the per-epoch cost of a big epoch is one batch-sized checkpoint
    # (a first r12 draft compacted the full base labeling per
    # over-bound epoch: correct, but 2.1x the r11 x100 wall; this
    # shape removed all per-epoch corpus passes). Correctness never
    # depends on which leg fires (the min-label merge is associative
    # across any grouping of edges — pinned by the full-recompute
    # oracle and the tiny-bound equality tests in
    # tests/test_stream_cc_bound.py). At 100 TB the durable form of
    # base + deferred pieces is a maintained remap table
    # (plans/ledger.py's CAS versioning).
    parent: dict = {}
    new_ids: set = set()
    deferred: list = []  # checkpointed contracted-delta pair pieces
    for k in _CC_GATE_STATS:
        _CC_GATE_STATS[k] = 0

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    def uf_union(a, b):
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo  # min id IS the root (min-label invariant)

    def spill_state() -> None:
        """Spill the driver union-find as a checkpointed pair piece and
        reset — merges recompose in the drain-time fixpoint. Every
        non-root carries a (node, root) pair, so roots (including new-id
        roots) survive as pair targets; nothing is lost on reset."""
        pairs = [(c, find(c)) for c in parent if find(c) != c]
        if pairs:
            deferred.append(
                spark.createDataFrame(
                    pairs, "u bigint, v bigint"
                ).localCheckpoint()
            )
        _CC_GATE_STATS["compactions"] += 1
        parent.clear()
        new_ids.clear()

    # the accumulated band relation is a LIST of already-materialized
    # pieces (committed index + one piece per batch), unioned lazily at
    # probe time: re-checkpointing the concatenation each epoch was an
    # O(index) rematerialization per batch — the exact cost the
    # O(batch)-ingest contract forbids. A lazy union over checkpointed
    # pieces costs only plan metadata; at 100 TB the pieces are the
    # appended partitions of a maintained table.
    bands_pieces = [
        spark.read.parquet(_band_index_path(spark, sf_dir)).select(
            "doc_id", "band", "band_key"
        )
    ]

    def bands_acc_df() -> DataFrame:
        from functools import reduce

        return reduce(lambda a, b: a.unionByName(b), bands_pieces)

    def apply_batch(batch: DataFrame, epoch_id: int) -> None:
        ids = batch.select("doc_id").localCheckpoint()
        if ids.isEmpty():
            return
        batch_sh = sh.join(F.broadcast(ids), "doc_id")
        batch_bands = _bands_of(batch_sh).localCheckpoint()
        # candidates vs everything already indexed + within this batch
        vs_index = (
            batch_bands.alias("a")
            .join(
                bands_acc_df().alias("b"),
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.band_key") == F.col("b.band_key")),
            )
            .select(
                F.col("a.doc_id").alias("u"), F.col("b.doc_id").alias("v")
            )
        )
        within = (
            batch_bands.alias("a")
            .join(
                batch_bands.alias("b"),
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.band_key") == F.col("b.band_key"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .select(
                F.col("a.doc_id").alias("u"), F.col("b.doc_id").alias("v")
            )
        )
        cand = vs_index.unionByName(within).distinct()
        # u is ALWAYS a batch document (both candidate sources key a on
        # the batch), so the u-leg of the verify joins the batch-sized
        # shingle frame, not the corpus; only the v-leg needs the corpus
        sa = batch_sh.select(
            F.col("doc_id").alias("u"), F.col("sh_set").alias("set_a")
        )
        sb = sh.select(F.col("doc_id").alias("v"), F.col("sh_set").alias("set_b"))
        inter = F.size(F.array_intersect(F.col("set_a"), F.col("set_b")))
        union = F.size("set_a") + F.size("set_b") - inter
        edges = (
            cand.join(sa, "u").join(sb, "v")
            .filter(inter.cast("double") / union >= 0.5)
            .select("u", "v")
        )
        # contract endpoints through the IMMUTABLE current base labeling
        # in the same distributed plan (cached/checkpointed base,
        # broadcast-able batch edges) and fetch the batch-sized rows
        # with ONE job (limit probes the bound) — replaces the old
        # per-epoch chain (edges checkpoint + isEmpty + contract +
        # distributed fixpoint + corpus-wide label relation
        # re-checkpoint). Prior epochs' merges compose through find(),
        # so base-level contraction is sufficient.
        bound = _dedup._DELTA_LOCAL_MAX
        lu = base_labels.select(
            F.col("u").alias("lu_k"), F.col("component").alias("lu_c")
        )
        lv = base_labels.select(
            F.col("u").alias("lv_k"), F.col("component").alias("lv_c")
        )
        rows = (
            edges.join(lu, edges.u == lu.lu_k, "left")
            .join(lv, edges.v == lv.lv_k, "left")
            .select("u", "v", "lu_c", "lv_c")
            .limit(bound + 1)
            .collect()
        )
        _CC_GATE_STATS["max_epoch_rows"] = max(
            _CC_GATE_STATS["max_epoch_rows"], len(rows)
        )
        if len(rows) > bound:
            _CC_GATE_STATS["distributed_epochs"] += 1
            # over-bound epoch: never hold it on the driver (VERDICT r11
            # task 1 — the batch twin's _cc_labels_delta gate, mirrored).
            # Re-derive the FULL contracted delta (the probe truncated
            # at the bound) and DEFER it as one checkpointed batch-sized
            # piece; the base labeling is immutable all run, so
            # base-level contraction stays valid for every later epoch
            # and all pieces recompose in the drain-time fixpoint.
            contracted = (
                edges.join(lu, edges.u == lu.lu_k, "left")
                .join(lv, edges.v == lv.lv_k, "left")
                .select(
                    F.coalesce("lu_c", "u").alias("u"),
                    F.coalesce("lv_c", "v").alias("v"),
                )
                # both-endpoints-in-one-committed-component edges add
                # nothing and their nodes are already labeled in base
                .filter(F.col("u") != F.col("v"))
            )
            deferred.append(contracted.localCheckpoint())
        else:
            _CC_GATE_STATS["fold_epochs"] += 1
            for r in rows:
                cu, cv = r["lu_c"], r["lv_c"]
                if cu is None:
                    cu = r["u"]
                    new_ids.add(r["u"])
                if cv is None:
                    cv = r["v"]
                    new_ids.add(r["v"])
                if cu != cv:
                    uf_union(cu, cv)
                else:
                    parent.setdefault(cu, cu)
            _CC_GATE_STATS["max_state"] = max(
                _CC_GATE_STATS["max_state"], len(parent) + len(new_ids)
            )
            # the LIFETIME bound is a memory-class limit (a dict entry
            # ~100 B, so 4x the 64k collect bound ~ tens of MB driver
            # heap, still O(1) in corpus size), while the per-epoch
            # collect bound is a recompute-cost limit — x10-scale runs
            # peak ~102k entries and keeping them driver-held preserves
            # the cheap broadcast-remap drain (spilling at 64k cost
            # ~25% wall at x10 for no memory benefit that matters)
            if len(parent) + len(new_ids) > 4 * bound:
                # cumulative driver state crossed the bound — spill it
                # to a checkpointed piece and reset (lifetime driver
                # memory stays O(bound) on unbounded ingests)
                spill_state()
        # batch_bands is already checkpointed above — appending the
        # PIECE is O(1); nothing already indexed is rewritten
        bands_pieces.append(batch_bands)

    # stage the ingest stream: the mutated twins split into two batch
    # files, modification times pinned so the file source delivers them
    # oldest-first under maxFilesPerTrigger=1
    base = tempfile.mkdtemp(prefix="cc_stream_")
    data_dir = os.path.join(base, "data")
    os.makedirs(data_dir, exist_ok=True)
    mut = sh.filter(F.col("doc_id") >= MUT_OFFSET).select("doc_id")
    for i in range(2):
        half = mut.filter((F.col("doc_id") % 2) == i)
        tmp = os.path.join(base, f"half{i}")
        half.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = [f for f in os.listdir(tmp) if f.endswith(".parquet")][0]
        dest = os.path.join(data_dir, f"{chr(97 + i)}.parquet")
        shutil.copy(os.path.join(tmp, part), dest)
        ts_file = time.time() - (10 - i)
        os.utime(dest, (ts_file, ts_file))

    stream = (
        spark.readStream.schema("doc_id bigint")
        .option("maxFilesPerTrigger", 1)
        .parquet(data_dir)
    )
    run_available_now(
        stream,
        state_partitions=None,
        sink=apply_batch,
        checkpoint=os.path.join(base, "ckpt"),
    )
    shutil.rmtree(base, ignore_errors=True)
    # ONE corpus-sized materialization after the drain (was: one full
    # label-relation localCheckpoint PER EPOCH).
    if deferred:
        # over-threshold run: reconcile every deferred piece + the
        # residual driver pairs through ONE distributed fixpoint on the
        # delta-sized pair graph, then the single corpus remap. Merged
        # keys are current labels — committed component ids AND new doc
        # ids (a new node always survives base contraction: it has no
        # committed label to collapse into); membership in the base's
        # component set splits remaps from appends.
        from functools import reduce

        pieces = list(deferred)
        pend = [(c, find(c)) for c in parent if find(c) != c]
        if pend:
            pieces.append(
                spark.createDataFrame(pend, "u bigint, v bigint")
            )
        merged = _cc_labels(
            reduce(lambda a, b: a.unionByName(b), pieces)
        )
        old_comp = base_labels.select(
            F.col("component").alias("c")
        ).distinct()
        new_node_rows = merged.join(
            old_comp, merged.u == old_comp.c, "left_anti"
        ).select("u", "component")
        m = merged.select(
            F.col("u").alias("old_c"), F.col("component").alias("new_c")
        )
        out = (
            base_labels.join(m, base_labels.component == m.old_c, "left")
            .select(
                "u",
                F.coalesce("new_c", "component").cast("bigint").alias(
                    "component"
                ),
            )
            .unionByName(new_node_rows)
        )
        return out.select(F.col("u").alias("doc_id"), "component")
    # pure driver run (the common case): committed labels remap through
    # the broadcast union-find result; new nodes straight from state.
    remap_rows = [
        (c, find(c)) for c in parent
        if find(c) != c and c not in new_ids
    ]
    out = base_labels
    if remap_rows:
        remap = spark.createDataFrame(
            remap_rows, "old_c bigint, new_c bigint"
        )
        out = (
            base_labels.join(
                F.broadcast(remap),
                base_labels.component == remap.old_c,
                "left",
            )
            .select(
                "u",
                F.coalesce("new_c", "component").cast("bigint").alias(
                    "component"
                ),
            )
        )
    if new_ids:
        new_rows = [(u, find(u)) for u in sorted(new_ids)]
        out = out.unionByName(
            spark.createDataFrame(new_rows, "u bigint, component bigint")
        )
    return out.select(F.col("u").alias("doc_id"), "component")


def _ann_append_oracle() -> str:
    # the one-shot batch maintenance oracle: the streamed appends must
    # land on the same index
    from ..operators import similarity as _S

    return _S._APPEND_SERVE_ORACLE


@query("stream_ann_index_append", oracle=_ann_append_oracle())
def stream_ann_index_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING ANN index maintenance — ann_index_append's contract
    applied as vector batches ARRIVE: the committed 90% index is built
    once (recorded width sidecar); the 10% ingest split arrives in two
    micro-batches (staged files, maxFilesPerTrigger=1, mtimes pinned
    oldest-first); each epoch, inside foreachBatch, the batch is
    bucketed AT THE INDEX'S RECORDED WIDTH and appended into the bucket
    partitions (ann_index_append verbatim — O(batch) writes, committed
    partitions untouched). After the drain, serving probes the
    maintained index and must equal the one-shot batch maintenance
    result — the oracle scores the full corpus under committed-count
    bucketing, so APPEND-ORDER INDEPENDENCE of index maintenance is
    hash-checked, not assumed (the stream_cc_incremental discipline
    applied to the vector tier).

    Scale: per-epoch cost is one narrow projection + a partitioned
    append of the batch's buckets; serving stays partition-pruned by
    the static query-bucket IN-list. The per-run private index dir
    stands in for the maintained TABLE a production deployment keeps
    (ledger-versioned, exactly as the dedup band index's durable
    form)."""

    from ..operators.similarity import (
        _clone_committed_index,
        _serve_appended_index,
        _stream_ingest_halves,
        ann_index_append,
    )

    base = tempfile.mkdtemp(prefix="ann_stream_")
    idx_dir = os.path.join(base, "idx")
    # the committed build is a pure function of the corpus fingerprint:
    # build the shared seed once, hardlink its immutable files into this
    # run's private dir (VERDICT r12 task 1 — the per-run rebuild was
    # the regression; the clone keeps the private-append semantics)
    _clone_committed_index(spark, sf_dir, idx_dir)

    # stage the ingest stream: the 10% batch split in two files, staged
    # once per fingerprint; mtimes re-pinned per run (oldest-first
    # delivery under maxFilesPerTrigger=1)
    data_dir = os.path.join(base, "data")
    os.makedirs(data_dir, exist_ok=True)
    halves = _stream_ingest_halves(spark, sf_dir)
    for i in range(2):
        dest = os.path.join(data_dir, f"{chr(97 + i)}.parquet")
        shutil.copy(os.path.join(halves, f"half{i}.parquet"), dest)
        ts_file = time.time() - (10 - i)
        os.utime(dest, (ts_file, ts_file))

    stream = (
        spark.readStream.schema(
            "vec_id bigint, v array<double>, nrm double"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(data_dir)
    )

    def apply_batch(batch: DataFrame, epoch_id: int) -> None:
        if batch.isEmpty():
            return
        ann_index_append(spark, idx_dir, batch)

    run_available_now(
        stream,
        state_partitions=None,
        sink=apply_batch,
        checkpoint=os.path.join(base, "ckpt"),
    )
    with open(os.path.join(idx_dir, "_width")) as wf:
        width = int(wf.read().strip())
    out = _serve_appended_index(
        spark, sf_dir, idx_dir, width
    ).localCheckpoint()
    shutil.rmtree(base, ignore_errors=True)
    return out


@query(
    "stream_jdbc_cdc_upsert",
    oracle="""
    WITH latest AS (
      SELECT user_id, value, event_type,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rk,
             COUNT(*) OVER (PARTITION BY user_id) AS n_changes
      FROM events
    )
    SELECT user_id, ROUND(value, 4) AS last_value,
           CAST(n_changes AS BIGINT) AS n_changes
    FROM latest WHERE rk = 1 AND event_type <> 'error'
    """,
)
def stream_jdbc_cdc_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC applied to a DATABASE table over JDBC — the
    composition the reference actually deploys (stage batches upserting
    the MySQL ledger as they complete; Runs.scala:93-102): per epoch the
    batch reduces map-side to one last-writer row per touched key
    (stream_cdc_upsert's struct-max device), stages over df.write.jdbc,
    and folds into the Derby state table with ONE conditional MERGE —
    last-writer-wins is enforced IN the MERGE (update value columns only
    when the staged (ts, event_id) is newer; always accumulate the
    change count), so replaying the feed in any batch partitioning
    converges to the same table: both arms of the merge are commutative
    across batches, exactly like the parquet twin.

    Scale: batch work is O(touched keys); the database holds O(live
    keys); nothing rescans history — and the transactional MERGE gives
    multi-writer safety the parquet twin needs a lock for."""
    from ..sources.jdbcio import (
        derby_url,
        jdbc_execute,
        read_jdbc,
        scratch_db,
        table_exists,
        varchar_types,
        write_jdbc,
    )

    url = derby_url(scratch_db("db"))
    # fresh state per run (repeat calls must not accumulate)
    if table_exists(spark, url, "cdc_state"):
        jdbc_execute(spark, url, 'DROP TABLE "cdc_state"')
    jdbc_execute(
        spark,
        url,
        'CREATE TABLE "cdc_state" ('
        '"user_id" BIGINT NOT NULL PRIMARY KEY, '
        '"ts_us" BIGINT NOT NULL, "event_id" BIGINT NOT NULL, '
        '"value" DOUBLE NOT NULL, "event_type" VARCHAR(64) NOT NULL, '
        '"n" BIGINT NOT NULL)',
    )
    newer = (
        's."ts_us" > t."ts_us" OR'
        ' (s."ts_us" = t."ts_us" AND s."event_id" > t."event_id")'
    )
    merge_sql = (
        'MERGE INTO "cdc_state" t USING "cdc_stage" s'
        ' ON t."user_id" = s."user_id"'
        " WHEN MATCHED THEN UPDATE SET "
        + ", ".join(
            f'"{c}" = CASE WHEN {newer} THEN s."{c}" ELSE t."{c}" END'
            for c in ("ts_us", "event_id", "value", "event_type")
        )
        + ', "n" = t."n" + s."n"'
        ' WHEN NOT MATCHED THEN INSERT'
        ' ("user_id", "ts_us", "event_id", "value", "event_type", "n")'
        ' VALUES (s."user_id", s."ts_us", s."event_id", s."value",'
        ' s."event_type", s."n")'
    )

    def apply_batch(batch: DataFrame, epoch_id: int) -> None:
        agg = batch.groupBy("user_id").agg(
            F.max(F.struct("ts", "event_id", "value", "event_type")).alias(
                "mx"
            ),
            F.count(F.lit(1)).alias("n"),
        )
        staged = agg.select(
            "user_id",
            F.unix_micros(F.col("mx.ts")).alias("ts_us"),
            F.col("mx.event_id").alias("event_id"),
            F.col("mx.value").alias("value"),
            F.col("mx.event_type").alias("event_type"),
            F.col("n").cast("bigint").alias("n"),
        )
        write_jdbc(
            staged.coalesce(1),
            url,
            '"cdc_stage"',
            mode="overwrite",
            create_types=varchar_types(staged, 64) or None,
        )
        jdbc_execute(spark, url, merge_sql)

    stream = _fixture_stream(spark, sf_dir).select(
        "user_id", "ts", "event_id", "value", "event_type"
    )
    run_available_now(stream, state_partitions=None, sink=apply_batch)
    final = read_jdbc(
        spark,
        url,
        '"cdc_state"',
        partition_column="user_id",
        lower=0,
        upper=1000000,
        num_partitions=4,
    )
    return final.filter(F.col("event_type") != "error").select(
        "user_id",
        F.round("value", 4).alias("last_value"),
        F.col("n").cast("long").alias("n_changes"),
    )

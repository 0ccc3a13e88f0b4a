"""Windowed event-time operators over the events table (SURVEY.md §2.9).

The reference has no streaming engine — its incremental model is batch
re-runs against a ledger. Here we provide the native Spark surface:
tumbling / sliding / session windows (checkable in batch against SQL
oracles, identical semantics under readStream), plus a genuine Structured
Streaming run (AvailableNow trigger → memory sink) registered as
`stream_tumbling_availablenow` whose result must equal the batch oracle —
that IS the run-to-idle parity the reference's pull-based model implies.

Scale: windowed aggs shuffle once on (window, keys); watermarks bound state.
Session windows use Spark's native session_window (state merges adjacent
events); the oracle pins semantics with a gaps-and-islands rewrite.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import query
from ..tables import instant_as_ntz, load
from .stateful import _fixture_stream, run_available_now

_TUMBLING_ORACLE = """
SELECT time_bucket(INTERVAL 1 DAY, ts) AS window_start,
       event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       ROUND(SUM(value), 6) AS total_value
FROM events
GROUP BY 1, 2
"""


@query("tumbling_window", oracle=_TUMBLING_ORACLE)
def tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-day event-time windows per event_type."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 6).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


_SLIDING_ORACLE = """
    WITH starts AS (
      SELECT event_id, value,
             unnest([time_bucket(INTERVAL 12 HOUR, ts),
                     time_bucket(INTERVAL 12 HOUR, ts) - INTERVAL 12 HOUR])
               AS window_start
      FROM events
    )
    SELECT window_start, CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(SUM(value), 6) AS total_value
    FROM starts GROUP BY window_start
    """


@query("sliding_window", oracle=_SLIDING_ORACLE)
def sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows: 1-day length, 12-hour slide — every event lands in
    exactly two windows (the oracle materializes both bucket starts)."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 day", "12 hours").alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 6).alias("total_value"),
        )
        .select(F.col("w.start").alias("window_start"), "n_events", "total_value")
    )


_SESSION_ORACLE = """
    WITH marked AS (
      SELECT user_id, ts,
             CASE WHEN LAG(ts) OVER w IS NULL
                       OR ts - LAG(ts) OVER w > INTERVAL 2 HOUR
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), numbered AS (
      SELECT user_id, ts,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS session_id
      FROM marked
    )
    SELECT user_id, MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 2 HOUR AS session_end,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM numbered GROUP BY user_id, session_id
    """


@query("session_window", oracle=_SESSION_ORACLE)
def session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows with a 2-hour inactivity gap per user. Spark's native
    session_window; the oracle is the equivalent gaps-and-islands SQL
    (session end = last event + gap, matching Spark's definition)."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", F.session_window("ts", "2 hours").alias("w"))
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


def _events_stream_ntz(spark: SparkSession, sf_dir: str):
    """The events stream (stateful._fixture_stream) and ``to_ntz(col,
    alias)``, which converts an emitted TIMESTAMP window bound back to the
    oracle's naive domain when the fixture's ts is naive (the stream
    embeds it as a UTC instant, tz-proof both ways) and is the identity
    otherwise."""
    from ..tables import raw_schema

    stream = _fixture_stream(spark, sf_dir)
    ts_type = raw_schema(spark, sf_dir, "events")["ts"].dataType
    if ts_type.typeName() == "timestamp_ntz":
        return stream, lambda col, alias: instant_as_ntz(col).alias(alias)
    return stream, lambda col, alias: F.col(col).alias(alias)


@query("stream_tumbling_availablenow", oracle=_TUMBLING_ORACLE)
def stream_tumbling_availablenow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tumbling-window agg executed as a REAL Structured Streaming query:
    file source -> event-time window agg -> memory sink, with
    Trigger.AvailableNow (run-to-idle, the reference's batch-incremental
    semantics — SURVEY.md §2.9). The result must equal the batch oracle.
    """
    stream, to_ntz = _events_stream_ntz(spark, sf_dir)
    agg = (
        stream.withWatermark("ts", "1 day")
        .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 6).alias("total_value"),
        )
        .select(
            to_ntz("w.start", "window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )
    return run_available_now(agg, "complete")


@query("stream_sliding_availablenow", oracle=_SLIDING_ORACLE)
def stream_sliding_availablenow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sliding-window agg (1-day windows, 12-hour slide) as a real
    streaming query: every event updates TWO window states, and the state
    store carries both until their watermark closes — the overlap
    bookkeeping a batch rewrite re-derives from scratch per run. Same
    oracle as the batch twin (run-to-idle parity)."""
    stream, to_ntz = _events_stream_ntz(spark, sf_dir)
    agg = (
        stream.withWatermark("ts", "1 day")
        .groupBy(F.window("ts", "1 day", "12 hours").alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 6).alias("total_value"),
        )
        .select(to_ntz("w.start", "window_start"), "n_events", "total_value")
    )
    return run_available_now(agg, "complete")


@query("stream_session_availablenow", oracle=_SESSION_ORACLE)
def stream_session_availablenow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows as a REAL Structured Streaming query: the state
    store merges adjacent per-user sessions as micro-batches arrive, the
    exact capability batch gaps-and-islands can't do incrementally (a
    late event can fuse two existing sessions — the session-window state
    format handles the merge; a batch rewrite would recompute the user's
    whole history). Same 2-hour gap and the same gaps-and-islands oracle
    as the batch twin, so run-to-idle (AvailableNow) parity is pinned.

    Scale: session state partitions by user_id across the state store;
    the watermark bounds how long an open session can wait for a closing
    event. Complete output mode here because the fixture replays a
    finite file; continuous deployments use append + watermark eviction.
    """
    stream, to_ntz = _events_stream_ntz(spark, sf_dir)
    agg = (
        stream.withWatermark("ts", "1 day")
        .groupBy("user_id", F.session_window("ts", "2 hours").alias("w"))
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            to_ntz("w.start", "session_start"),
            to_ntz("w.end", "session_end"),
            "n_events",
        )
    )
    return run_available_now(agg, "complete")


_TOPK_N = 3

_STREAM_TOPK_ORACLE = f"""
WITH counts AS (
  SELECT time_bucket(INTERVAL 1 DAY, ts) AS window_start, event_type,
         CAST(COUNT(*) AS BIGINT) AS n_events
  FROM events GROUP BY 1, 2
)
SELECT window_start, event_type, n_events, CAST(rk AS INT) AS rank
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY window_start
                               ORDER BY n_events DESC, event_type) AS rk
  FROM counts
) WHERE rk <= {_TOPK_N}
"""


@query("stream_topk_windowed", oracle=_STREAM_TOPK_ORACLE)
def stream_topk_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed top-k as a streaming pipeline: the per-(window, type)
    counts run as a REAL Structured Streaming query (AvailableNow ->
    memory sink — the stateful, incrementally-maintained part), and the
    top-{k} ranking is a batch window over the sink table. That split is
    the production shape on purpose: ranking is not an incremental
    operation in append mode (a late event can reorder a window's tail),
    so streaming systems maintain the additive counts in state and let
    the serving query rank — the same division of labor as every
    streaming-OLAP materialized view.

    Scale: state is one row per (window, type) — bounded by windows x
    type cardinality, evicted by the watermark; the rank runs over the
    compact sink, never the event stream. Ties break on event_type, so
    the cut is deterministic and the run-to-idle result equals the batch
    oracle exactly."""
    stream, to_ntz = _events_stream_ntz(spark, sf_dir)
    agg = (
        stream.withWatermark("ts", "1 day")
        .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(
            to_ntz("w.start", "window_start"), "event_type", "n_events"
        )
    )
    counts = run_available_now(agg, "complete")
    from pyspark.sql import Window as W

    rk = F.row_number().over(
        W.partitionBy("window_start").orderBy(
            F.col("n_events").desc(), "event_type"
        )
    )
    return (
        counts.withColumn("rank", rk)
        .filter(F.col("rank") <= _TOPK_N)
        .select("window_start", "event_type", "n_events", "rank")
    )


stream_topk_windowed.__doc__ = stream_topk_windowed.__doc__.format(
    k=_TOPK_N
)


# dynamic per-event gap for stream_interval_coalesce — each event holds a
# session open for GREATEST(1, ROUND(value)) minutes (the batch
# interval_coalesce duration rule, shared verbatim with the oracle)
_IC_GAP_MIN = "GREATEST(1, CAST(ROUND(value) AS BIGINT))"

_STREAM_IC_ORACLE = f"""
WITH iv AS (
  SELECT user_id, event_id,
         epoch_us(CAST(ts AS TIMESTAMP)) AS s,
         epoch_us(CAST(ts AS TIMESTAMP)) + {_IC_GAP_MIN} * 60000000 AS e
  FROM events
),
fl AS (
  SELECT *,
         CASE WHEN s >= COALESCE(MAX(e) OVER (
           PARTITION BY user_id ORDER BY s, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
           -1) THEN 1 ELSE 0 END AS new_island
  FROM iv
),
isl AS (
  SELECT *, SUM(new_island) OVER (
    PARTITION BY user_id ORDER BY s, event_id
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM fl
)
SELECT user_id,
       make_timestamp(MIN(s)) AS session_start,
       make_timestamp(MAX(e)) AS session_end,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM isl GROUP BY user_id, island
"""


@query("stream_interval_coalesce", oracle=_STREAM_IC_ORACLE)
def stream_interval_coalesce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval coalescing as a REAL stream via DYNAMIC-GAP session
    windows: session_window(ts, expr) where each event's gap is its own
    duration column — the streaming twin of the batch
    operators/timeseries.interval_coalesce, and the capability static-gap
    session windows can't express (a long-running event must hold its
    session open longer than a short one; think media play-spans or
    variable-length jobs). The state store merges sessions as
    micro-batches arrive, including a late event fusing two existing
    spans — the incremental case the batch gaps-and-islands rewrite
    would recompute from the user's whole history.

    Session windows are half-open [start, end): an interval starting
    EXACTLY at the current end begins a new session, so the oracle's
    island rule is `s >= prev_max_end` (the batch op keeps touching
    intervals together with strict `>`; the two agree everywhere except
    exact microsecond touches).

    Scale: state partitions by user_id; the watermark bounds how long an
    open session waits before eviction. Complete mode because the
    fixture replays a finite file; continuous deployments run append +
    watermark eviction unchanged.
    """
    stream, to_ntz = _events_stream_ntz(spark, sf_dir)
    gap = F.expr(
        f"make_interval(0, 0, 0, 0, 0, CAST({_IC_GAP_MIN} AS INT), 0)"
    )
    agg = (
        stream.withWatermark("ts", "1 day")
        .groupBy("user_id", F.session_window("ts", gap).alias("w"))
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            to_ntz("w.start", "session_start"),
            to_ntz("w.end", "session_end"),
            "n_events",
        )
    )
    return run_available_now(agg, "complete")

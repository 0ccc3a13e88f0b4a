"""Time-series operators over the events fixture: calendar resampling with
gap-fill (dense day spine × sparse aggregate, zero- and forward-fill) and
batch sessionization (lag + cumulative-sum session ids) — the two idioms a
pipeline needs between raw event logs and windowed training features.

The streaming twins live in ``streaming/windows.py`` (tumbling / sliding /
session windows); these are the batch forms, expressed so the whole plan
stays in Catalyst: the day spine is ``sequence()`` + ``explode`` (no
driver-side date loop), fills are window functions, and session boundaries
are order-invariant under timestamp ties (a tie's gap is 0, never a new
session), so results are stable across partitionings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import query
from ..tables import load, ntz_epoch_us


_epoch_us = ntz_epoch_us  # naive-ts epoch micros, tz-proof (see tables.py)


@query(
    "timeseries_gapfill",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day, SUM(value) AS vs
      FROM events GROUP BY 1
    ), b AS (
      SELECT MIN(day) AS mn, MAX(day) AS mx FROM daily
    ), spine AS (
      SELECT CAST(unnest(generate_series(mn, mx, INTERVAL 1 DAY)) AS DATE)
               AS day
      FROM b
    )
    SELECT strftime(spine.day, '%Y-%m-%d') AS day,
           ROUND(CAST(COALESCE(vs, 0) AS DOUBLE), 4) AS total,
           ROUND(CAST(COALESCE(vs,
             LAST_VALUE(vs IGNORE NULLS) OVER (
               ORDER BY spine.day
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
             0) AS DOUBLE), 4) AS ffill
    FROM spine LEFT JOIN daily ON spine.day = daily.day
    """,
)
def timeseries_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar resample with gap-fill: aggregate events to days, generate
    the dense day spine with sequence()+explode (distributed — no driver
    loop), left-join, then zero-fill and forward-fill (last non-null via an
    ignorenulls window). The unpartitioned ORDER BY window is fine here
    (one row per day); per-series data partitions by series key first."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.sum("value").alias("vs")
    )
    spine = (
        daily.agg(F.min("day").alias("mn"), F.max("day").alias("mx"))
        .select(
            F.explode(
                F.sequence("mn", "mx", F.expr("INTERVAL 1 DAY"))
            ).alias("day")
        )
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, -1)
    return (
        spine.join(daily, "day", "left")
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.round(F.coalesce("vs", F.lit(0)).cast("double"), 4).alias(
                "total"
            ),
            F.round(
                F.coalesce(
                    F.col("vs"), F.last("vs", ignorenulls=True).over(w), F.lit(0)
                ).cast("double"),
                4,
            ).alias("ffill"),
        )
    )


@query(
    "sessionize_events",
    oracle="""
    WITH flagged AS (
      SELECT user_id,
             CASE WHEN epoch_us(CAST(ts AS TIMESTAMP))
                       - LAG(epoch_us(CAST(ts AS TIMESTAMP))) OVER (
                           PARTITION BY user_id ORDER BY ts)
                       <= 30 * 60 * 1000000
                  THEN 0 ELSE 1 END AS new_session
      FROM events
    )
    SELECT user_id, CAST(SUM(new_session) AS BIGINT) AS n_sessions,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM flagged
    GROUP BY user_id
    """,
)
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization: a 30-minute inactivity gap starts a new
    session. lag-over-user-order flags boundaries; summing flags yields the
    session count (the full lag+cumsum form also assigns session ids — the
    count is the oracle-checkable projection). One shuffle on user_id
    shared by the window and the final group-by. The streaming equivalent
    is session_window (streaming/windows.py)."""
    ev = load(spark, sf_dir, "events").select("user_id", "ts")
    w = Window.partitionBy("user_id").orderBy("ts")
    us = _epoch_us("ts")
    gap = us - F.lag(us).over(w)
    flagged = ev.withColumn(
        "new_session",
        F.when(gap <= 30 * 60 * 1_000_000, F.lit(0)).otherwise(F.lit(1)),
    )
    return flagged.groupBy("user_id").agg(
        F.sum("new_session").cast("bigint").alias("n_sessions"),
        F.count("*").alias("n_events"),
    )


@query(
    "window_time_rolling",
    oracle="""
    SELECT event_id,
           ROUND(CAST(SUM(value) OVER (
             PARTITION BY user_id ORDER BY epoch_us(CAST(ts AS TIMESTAMP))
             RANGE BETWEEN 86400000000 PRECEDING AND CURRENT ROW
           ) AS DOUBLE), 4) AS rolling_24h
    FROM events
    """,
)
def window_time_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling time-window aggregate: per-user 24-hour trailing sum, a
    RANGE frame over event-time (contrast window_range_frame's key-range
    and window_sliding_rows' row-count frames). Ordering on epoch
    microseconds makes the frame bound exact and engine-portable; ties
    (same user, same µs) share a frame in both engines, so the output is
    deterministic. One shuffle on user_id; at scale this is the feature
    extractor for "activity in the last N hours" signals."""
    ev = load(spark, sf_dir, "events")
    us = _epoch_us("ts")
    w = (
        Window.partitionBy("user_id")
        .orderBy(us)
        .rangeBetween(-86_400_000_000, Window.currentRow)
    )
    return ev.select(
        "event_id",
        F.round(F.sum("value").over(w).cast("double"), 4).alias(
            "rolling_24h"
        ),
    )


_EWMA_ORACLE = """
WITH seq AS (
  SELECT user_id, list(CAST(value AS DOUBLE) ORDER BY ts, value) AS vals
  FROM events GROUP BY user_id
)
SELECT user_id, CAST(len(vals) AS INT) AS n_events,
       ROUND(list_reduce(vals, (acc, x) -> 0.3 * x + 0.7 * acc), 6) AS ewma
FROM seq
"""


@query("timeseries_ewma", oracle=_EWMA_ORACLE)
def timeseries_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average per entity (alpha = 0.3,
    seeded with the first observation) — the classic smoothed-activity
    feature. Computed as an exact sequential fold over the entity's
    time-ordered history (collect + array_sort + aggregate), because the
    closed-form window rewrite (sum of value/(1-a)^i) overflows double
    for histories past ~1k events; the fold is numerically stable at any
    length, and both engines run the identical recurrence (DuckDB
    list_reduce), so the oracle is exact.

    Scale: one shuffle on the entity key; per-entity history must fit a
    row (true for bounded per-user event counts — the fixture's shape).
    For unbounded streams the same recurrence runs incrementally in
    applyInPandasWithState (stream_ewma_stateful) with O(1) state per
    key; ties on ts are broken by value
    on both engines so the fold order is fully deterministic.
    """
    ev = load(spark, sf_dir, "events").select(
        "user_id", "ts", F.col("value").cast("double").alias("v")
    )
    per_user = ev.groupBy("user_id").agg(
        F.array_sort(F.collect_list(F.struct("ts", "v"))).alias("pairs")
    )
    return per_user.select(
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


@query(
    "timeseries_resample_ohlc",
    oracle="""
    WITH b AS (
      SELECT user_id,
             strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00') AS bucket,
             ts, value, event_id
      FROM events
    ),
    r AS (
      SELECT *,
             row_number() OVER (PARTITION BY user_id, bucket
                                ORDER BY ts, event_id) AS rn_a,
             row_number() OVER (PARTITION BY user_id, bucket
                                ORDER BY ts DESC, event_id DESC) AS rn_d
      FROM b
    )
    SELECT user_id, bucket,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(MAX(CASE WHEN rn_a = 1 THEN value END), 4) AS open,
           ROUND(MAX(value), 4) AS high,
           ROUND(MIN(value), 4) AS low,
           ROUND(MAX(CASE WHEN rn_d = 1 THEN value END), 4) AS close
    FROM r GROUP BY user_id, bucket
    """,
)
def timeseries_resample_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Downsample to fixed buckets with open/high/low/close — the
    resampling step between raw ticks and fixed-interval features (and the
    canonical financial bar). Open/close are first/last VALUE by event
    time with event_id as the total-order tiebreaker, so the result is
    partition-invariant even under timestamp ties.

    Plan: the two row_number windows and the final groupBy all share the
    (user_id, bucket) key, so Catalyst plans ONE exchange — the windows
    and the aggregate run in the same partitioning. At 100 TB this is the
    shape you want: per-series-per-bucket state only, no global sort; the
    bucket string doubles as the natural write-partition column."""
    ev = load(spark, sf_dir, "events").select(
        "user_id", "ts", "value", "event_id"
    )
    b = ev.withColumn(
        "bucket",
        F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:00"),
    )
    wa = Window.partitionBy("user_id", "bucket").orderBy("ts", "event_id")
    wd = Window.partitionBy("user_id", "bucket").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    r = b.withColumn("rn_a", F.row_number().over(wa)).withColumn(
        "rn_d", F.row_number().over(wd)
    )
    return r.groupBy("user_id", "bucket").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.max(F.when(F.col("rn_a") == 1, F.col("value"))), 4)
        .alias("open"),
        F.round(F.max("value"), 4).alias("high"),
        F.round(F.min("value"), 4).alias("low"),
        F.round(F.max(F.when(F.col("rn_d") == 1, F.col("value"))), 4)
        .alias("close"),
    )


_ANOM_WIN_US = 7 * 86_400_000_000  # 7-day trailing window
_ANOM_MIN_N = 5  # leave-one-out peer count required to score
_ANOM_K = 2.0  # flag beyond k sigma

# values quantize to integer 1e-4 units BEFORE the window sums: integer
# sums are exact, so both engines compute bit-identical moments no matter
# what order the frame accumulates in (double window-sums differed in the
# last ulp and flipped 4th-decimal roundings on ~1% of rows). The outputs
# are then emitted UNROUNDED: every derivation from the exact integers is
# a deterministic IEEE op, so the doubles match bit-for-bit — rounding
# would REINTRODUCE divergence (integer/denominator quotients often land
# exactly on half-way points, where Spark rounds HALF_UP and DuckDB
# half-even)
_ANOM_ORACLE = f"""
WITH w AS (
  SELECT event_id, user_id,
         CAST(FLOOR(value * 10000 + 0.5) AS BIGINT) AS xi,
         SUM(CAST(FLOOR(value * 10000 + 0.5) AS BIGINT)) OVER fr AS s,
         SUM(CAST(FLOOR(value * 10000 + 0.5) AS BIGINT)
             * CAST(FLOOR(value * 10000 + 0.5) AS BIGINT)) OVER fr AS q,
         COUNT(*) OVER fr AS n
  FROM events
  WINDOW fr AS (PARTITION BY user_id
                ORDER BY epoch_us(CAST(ts AS TIMESTAMP))
                RANGE BETWEEN {_ANOM_WIN_US} PRECEDING AND CURRENT ROW)
),
loo AS (
  SELECT event_id, user_id, xi,
         CAST(n - 1 AS BIGINT) AS n_prior,
         CAST(s - xi AS DOUBLE) / (n - 1) AS m,
         CAST(q - xi * xi AS DOUBLE) / (n - 1)
           - (CAST(s - xi AS DOUBLE) / (n - 1))
             * (CAST(s - xi AS DOUBLE) / (n - 1)) AS var
  FROM w WHERE n - 1 >= {_ANOM_MIN_N}
)
SELECT event_id, user_id, n_prior,
       m / 10000 AS roll_mean,
       (xi - m) / sqrt(GREATEST(var, 1e-6)) AS z,
       CAST(abs(xi - m) > {_ANOM_K} * sqrt(GREATEST(var, 1e-6)) AS BOOLEAN)
         AS is_anomaly
FROM loo
"""


@query("timeseries_anomaly_rolling", oracle=_ANOM_ORACLE)
def timeseries_anomaly_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling anomaly detection: each event scored against its user's
    trailing 7-day LEAVE-ONE-OUT mean/stddev — a point > {k} sigma from
    its own recent history is flagged (the monitoring primitive behind
    metric alerting and data-quality gates on ingest volume). The
    leave-one-out correction matters: including the candidate point in
    its own baseline dilutes exactly the outliers being hunted.

    Plan: ONE user_id shuffle; sum, sum-of-squares, and count share a
    single RANGE event-time frame (one window pass, same exchange), and
    the leave-one-out algebra — n'=n-1, m'=(S-x)/n', var'=(Q-x²)/n'-m'²
    — is pure per-row arithmetic on those three running aggregates, so
    no second window and no self-join against the history. Events with
    fewer than {n} in-window peers are unscored (cold-start rows every
    real detector excludes). The variance floor (1e-12) guards constant
    histories against a negative-epsilon sqrt."""
    ev = load(spark, sf_dir, "events").withColumn(
        "xi", F.floor(F.col("value") * 10000 + 0.5).cast("bigint")
    )
    fr = (
        Window.partitionBy("user_id")
        .orderBy(_epoch_us("ts"))
        .rangeBetween(-_ANOM_WIN_US, Window.currentRow)
    )
    w = ev.select(
        "event_id",
        "user_id",
        "xi",
        F.sum("xi").over(fr).alias("s"),
        F.sum(F.col("xi") * F.col("xi")).over(fr).alias("q"),
        F.count(F.lit(1)).over(fr).alias("n"),
    ).filter(F.col("n") - 1 >= _ANOM_MIN_N)
    m = (F.col("s") - F.col("xi")).cast("double") / (F.col("n") - 1)
    var = (
        (F.col("q") - F.col("xi") * F.col("xi")).cast("double")
        / (F.col("n") - 1)
        - m * m
    )
    sd = F.sqrt(F.greatest(var, F.lit(1e-6)))
    return w.select(
        "event_id",
        "user_id",
        (F.col("n") - 1).cast("bigint").alias("n_prior"),
        (m / 10000).alias("roll_mean"),
        ((F.col("xi") - m) / sd).alias("z"),
        (F.abs(F.col("xi") - m) > _ANOM_K * sd).alias("is_anomaly"),
    )


timeseries_anomaly_rolling.__doc__ = timeseries_anomaly_rolling.__doc__.format(
    k=_ANOM_K, n=_ANOM_MIN_N
)


_HOUR_US = 3600 * 1_000_000
_SEASON_HOURS = 24  # seasonal-naive lag: same hour yesterday


@query(
    "forecast_residuals_backtest",
    oracle=f"""
    WITH hourly AS (
      SELECT event_type,
             epoch_us(CAST(ts AS TIMESTAMP)) // {_HOUR_US} AS hr,
             CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM events GROUP BY 1, 2
    ),
    j AS (
      SELECT a.event_type, a.hr, a.cents AS actual, f.cents AS forecast
      FROM hourly a JOIN hourly f
        ON f.event_type = a.event_type
       AND f.hr = a.hr - {_SEASON_HOURS}
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_hours,
           ROUND(CAST(SUM(abs(actual - forecast)) AS DOUBLE)
                 / COUNT(*) / 100.0, 6) AS mae,
           ROUND(CAST(SUM(actual - forecast) AS DOUBLE)
                 / COUNT(*) / 100.0, 6) AS bias
    FROM j GROUP BY event_type
    """,
)
def forecast_residuals_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecast backtest: predict each (event_type, hour)
    bucket's total from the same hour {s} hours earlier and report MAE
    and bias of the residuals per type — the baseline every forecasting
    pipeline must beat (and the cheapest drift alarm: a bias jump means
    the daily seasonality broke). Values are quantized to integer cents
    BEFORE the bucket sums so every aggregate is exact cross-engine;
    the final divisions are written identically on both sides.

    Plan: one scan reduces to the (type, hour) bucket grid map-side;
    the forecast lookup is an EQUI-join of the grid to itself on
    (type, hour - {s}) — alignment by real time, so gaps in the series
    simply produce no evaluation row (a lag() window would silently
    compare misaligned rows across gaps). Both join sides are the
    metadata-sized grid, never raw events; residual stats reduce the
    joined grid to |types| rows."""
    hourly = (
        load(spark, sf_dir, "events")
        .select(
            "event_type",
            (ntz_epoch_us("ts") / _HOUR_US).cast("long").alias("hr"),
            F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
        )
        .groupBy("event_type", "hr")
        .agg(F.sum("cents").alias("cents"))
    )
    a = hourly.alias("a")
    f_ = hourly.select(
        F.col("event_type").alias("f_type"),
        (F.col("hr") + _SEASON_HOURS).alias("f_hr"),
        F.col("cents").alias("forecast"),
    )
    j = a.join(
        f_,
        (F.col("f_type") == F.col("event_type"))
        & (F.col("f_hr") == F.col("hr")),
    ).select(
        "event_type",
        "hr",
        F.col("cents").alias("actual"),
        "forecast",
    )
    return j.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_hours"),
        F.round(
            F.sum(F.abs(F.col("actual") - F.col("forecast"))).cast("double")
            / F.count(F.lit(1))
            / 100.0,
            6,
        ).alias("mae"),
        F.round(
            F.sum(F.col("actual") - F.col("forecast")).cast("double")
            / F.count(F.lit(1))
            / 100.0,
            6,
        ).alias("bias"),
    )


forecast_residuals_backtest.__doc__ = (
    forecast_residuals_backtest.__doc__.format(s=_SEASON_HOURS)
)


_SESS_GAP_US = 30 * 60 * 1_000_000  # inactivity gap
_SESS_MAXD_US = 4 * 3600 * 1_000_000  # max session duration


@query(
    "sessionize_max_duration",
    oracle=f"""
    WITH seq AS (
      SELECT user_id,
             list(epoch_us(CAST(ts AS TIMESTAMP)) ORDER BY ts) AS tss,
             CAST(COUNT(*) AS BIGINT) AS n_events
      FROM events GROUP BY 1
    )
    SELECT user_id,
           CAST(list_reduce(
             list_prepend([CAST(0 AS BIGINT), -1, -1],
               list_transform(tss, t -> [CAST(0 AS BIGINT), t, t])),
             (a, x) -> [
               a[1] + CASE WHEN a[3] < 0
                     OR x[2] - a[3] > {_SESS_GAP_US}
                     OR x[2] - a[2] > {_SESS_MAXD_US}
                   THEN 1 ELSE 0 END,
               CASE WHEN a[3] < 0
                     OR x[2] - a[3] > {_SESS_GAP_US}
                     OR x[2] - a[2] > {_SESS_MAXD_US}
                   THEN x[2] ELSE a[2] END,
               x[2]])[1] AS BIGINT) AS n_sessions,
           n_events
    FROM seq
    """,
)
def sessionize_max_duration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization with BOTH boundary rules real trackers use: a new
    session starts on a 30-minute inactivity gap OR when the running
    session exceeds 4 hours from ITS OWN START. The second rule is what
    makes this a different operator class from sessionize_events: the
    boundary depends on the current session's start, which depends on
    all previous boundaries — a sequential recurrence that lag/cumsum
    windows cannot express, so each user's timeline folds once through a
    (count, session_start, prev_ts) accumulator over the time-sorted
    epoch array. One shuffle on user_id; per-user state is O(1) and the
    fold is codegen, the EWMA family's cost shape.

    ORACLE LESSON (the strongest list_reduce finding yet): a STRUCT
    accumulator in DuckDB 1.0's list_reduce is wrong under multi-group
    vectorized evaluation — the same fold over the same list returned 68
    with an outer user filter but 69 in the full grouped query
    (cross-row accumulator contamination), while a flat BIGINT-list
    accumulator ([n, session_start, prev]) matches the Python replay for
    every user in every context. Encode ALL list_reduce state as a flat
    list (pack_bins_ffd's device, now mandatory), never a struct."""
    ev = load(spark, sf_dir, "events").select("user_id", "ts")
    us = _epoch_us("ts")
    seq = ev.select("user_id", us.alias("us")).groupBy("user_id").agg(
        F.sort_array(F.collect_list("us")).alias("tss"),
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
    )
    fold = F.expr(
        f"aggregate(tss,"
        f" named_struct('n', CAST(0 AS BIGINT),"
        f"              'st', CAST(-1 AS BIGINT),"
        f"              'pv', CAST(-1 AS BIGINT)),"
        f" (a, t) -> named_struct("
        f"   'n', a.n + IF(a.pv < 0 OR t - a.pv > {_SESS_GAP_US}"
        f"        OR t - a.st > {_SESS_MAXD_US}, 1, 0),"
        f"   'st', IF(a.pv < 0 OR t - a.pv > {_SESS_GAP_US}"
        f"        OR t - a.st > {_SESS_MAXD_US}, t, a.st),"
        f"   'pv', t),"
        f" a -> a.n)"
    )
    return seq.select(
        "user_id",
        fold.cast("bigint").alias("n_sessions"),
        "n_events",
    )


# interval semantics for interval_coalesce: each event opens an interval of
# GREATEST(1, ROUND(value)) minutes — deterministic plumbing shared
# verbatim by both engines (the module's epoch-us device)
_IC_DUR_US = "GREATEST(1, CAST(ROUND(value) AS BIGINT)) * 60000000"


@query(
    "interval_coalesce",
    oracle=f"""
    WITH iv AS (
      SELECT user_id, event_id,
             epoch_us(CAST(ts AS TIMESTAMP)) AS s,
             epoch_us(CAST(ts AS TIMESTAMP)) + {_IC_DUR_US} AS e
      FROM events
    ),
    fl AS (
      SELECT *,
             CASE WHEN s > COALESCE(MAX(e) OVER (
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
    SELECT user_id, CAST(island AS BIGINT) AS island,
           MIN(s) AS start_us, MAX(e) AS end_us,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           MAX(e) - MIN(s) AS span_us
    FROM isl GROUP BY user_id, island
    """,
)
def interval_coalesce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge overlapping/touching intervals per key (gaps-and-islands) —
    the interval algebra primitive behind availability windows, media
    play-spans, maintenance windows, and sessionization with explicit
    durations (sessionize_events infers extent from gaps; here every
    row CARRIES an extent and overlap is the merge rule). Classic
    running-max island detection: an interval starts a new island iff
    its start exceeds the max end seen so far; islands are then the
    cumulative count of starts, and one group-by per (key, island)
    emits the coalesced spans.

    Scale: ONE exchange on user_id shared by both windows and the final
    aggregation (same-key windows stack on a single sort, no second
    shuffle — pinned in test_plans for the sessionize family). Running
    max and cumulative sum are both frame-decomposable, state is O(1)
    per task. All arithmetic in exact epoch microseconds (tz-proof,
    tables.ntz_epoch_us device).
    """
    ev = load(spark, sf_dir, "events").select("user_id", "event_id", "ts", "value")
    iv = ev.select(
        "user_id",
        "event_id",
        _epoch_us("ts").alias("s"),
        (_epoch_us("ts") + F.expr(_IC_DUR_US)).alias("e"),
    )
    ww = Window.partitionBy("user_id").orderBy("s", "event_id")
    prev_max = F.max("e").over(ww.rowsBetween(Window.unboundedPreceding, -1))
    fl = iv.withColumn(
        "new_island",
        (F.col("s") > F.coalesce(prev_max, F.lit(-1))).cast("int"),
    )
    isl = fl.withColumn(
        "island",
        F.sum("new_island")
        .over(ww.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("bigint"),
    )
    return isl.groupBy("user_id", "island").agg(
        F.min("s").alias("start_us"),
        F.max("e").alias("end_us"),
        F.count(F.lit(1)).alias("n_events"),
        (F.max("e") - F.min("s")).alias("span_us"),
    )


_CUSUM_CENTS = "CAST(ROUND(value * 100) AS BIGINT)"


CUSUM_ORACLE = f"""
    WITH s AS (
      SELECT event_type, event_id,
             {_CUSUM_CENTS} AS c,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY ts, event_id) AS rn,
             SUM({_CUSUM_CENTS}) OVER (PARTITION BY event_type
               ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             SUM({_CUSUM_CENTS}) OVER (PARTITION BY event_type) AS tot,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM events
    ),
    d AS (
      SELECT event_type, rn, n,
             n * cum - rn * tot AS num,
             ROW_NUMBER() OVER (PARTITION BY event_type
               ORDER BY abs(n * cum - rn * tot) DESC, rn ASC) AS pick
      FROM s
    )
    SELECT event_type, CAST(n AS BIGINT) AS n,
           CAST(rn AS BIGINT) AS peak_rn,
           ROUND(abs(CAST(num AS DOUBLE)) / n / 100.0, 6) AS peak_dev,
           CASE WHEN num > 0 THEN 1 ELSE -1 END AS direction
    FROM d WHERE pick = 1
    """


@query("timeseries_changepoint_cusum", oracle=CUSUM_ORACLE)
def timeseries_changepoint_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint detection per series (Page 1954): the k-th
    cumulative deviation from the series mean, C_k = Σ_{{i<=k}} (x_i - x̄),
    peaks exactly at a level-shift boundary; the op emits each series'
    peak position, magnitude, and shift direction — the monitoring
    primitive behind "when did this metric change regime".

    Exactness device: C_k·n = n·cum_k - k·total is an exact BIGINT on
    both engines (no float mean subtraction drifting over a long
    cumsum); the single division happens once at emission. Headroom:
    |n·cum| ≤ n²·c̄ ≈ 2e17 at 1e7-row series with cents ≤ 5e4 — past
    ~2e7 rows/series lift to DECIMAL(38,0) or pre-aggregate to
    time-bucket partials (the feature_ols_trend overflow discipline).

    Scale: one exchange on the series key; three same-key windows share
    one sort (cumsum, total, row_number), and the peak argmax is a
    fourth same-order window, not a global sort. Per-series sequential
    scan is inherent to cumulative statistics — for the few-huge-series
    shape, bucket the series by time range, cumsum within buckets, and
    prefix-add bucket totals (two-pass carry, the scan-sum device).
    """
    ev = load(spark, sf_dir, "events")
    wo = Window.partitionBy("event_type").orderBy("ts", "event_id")
    wp = Window.partitionBy("event_type")
    s = ev.select(
        "event_type",
        "event_id",
        F.expr(_CUSUM_CENTS).alias("c"),
        F.row_number().over(wo).alias("rn"),
        F.sum(F.expr(_CUSUM_CENTS))
        .over(wo.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("cum"),
        F.sum(F.expr(_CUSUM_CENTS)).over(wp).alias("tot"),
        F.count(F.lit(1)).over(wp).alias("n"),
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


_HOLT_A = "0.3"  # level smoothing (alpha)
_HOLT_G = "0.2"  # trend smoothing (gamma)


_HOLT_ORACLE = f"""
WITH seq AS (
  SELECT event_type,
         list(CAST(value AS DOUBLE) ORDER BY ts, event_id) AS vals
  FROM events GROUP BY event_type
)
SELECT event_type, CAST(len(vals) AS INT) AS n_events,
       ROUND(st[1], 6) AS level,
       ROUND(st[2], 6) AS trend,
       ROUND(st[1] + st[2], 6) AS forecast_1
FROM (
  SELECT event_type, vals,
         list_reduce(
           list_prepend([vals[1], vals[2] - vals[1]],
             list_transform(vals[3:len(vals)], x -> [x])),
           (acc, xl) -> [
             {_HOLT_A} * xl[1] + (1 - {_HOLT_A}) * (acc[1] + acc[2]),
             {_HOLT_G} * (({_HOLT_A} * xl[1]
                           + (1 - {_HOLT_A}) * (acc[1] + acc[2]))
                          - acc[1])
               + (1 - {_HOLT_G}) * acc[2]
           ]) AS st
  FROM seq WHERE len(vals) >= 3
)
"""


@query("timeseries_holt_linear", oracle=_HOLT_ORACLE)
def timeseries_holt_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt's linear (double exponential) smoothing per series — the
    trend-aware forecaster one rung above timeseries_ewma (whose single
    state lags any trending metric by construction): coupled level/trend
    recurrences l_t = α·x_t + (1-α)(l+b), b_t = γ(l_t-l) + (1-γ)b, with
    the classic seeds l₀=x₁, b₀=x₂-x₁, emitting the final state and the
    one-step-ahead forecast l+b (h-step = l + h·b).

    The EWMA exact-fold device, extended to VECTOR state: both engines
    run the identical IEEE recurrence over the identically-ordered
    history with a 2-element double array as the fold accumulator (a
    struct accumulator trips DuckDB's list_reduce; a flat array does
    not — the pack_bins_ffd lesson). One shuffle on the series key;
    per-series history must fit a row, and the unbounded-stream form is
    the same recurrence in applyInPandasWithState with O(1) state
    (stream_ewma_stateful shows the machinery).
    """
    ev = load(spark, sf_dir, "events").select(
        "event_type", "ts", "event_id",
        F.col("value").cast("double").alias("v"),
    )
    per = ev.groupBy("event_type").agg(
        F.array_sort(
            F.collect_list(F.struct("ts", "event_id", "v"))
        ).alias("pairs")
    )
    a, g = _HOLT_A, _HOLT_G
    l2 = (
        f"{a}D * p.v + (1 - {a}D)"
        " * (element_at(acc, 1) + element_at(acc, 2))"
    )
    st = F.expr(
        "aggregate(slice(pairs, 3, size(pairs) - 2),"
        " array(element_at(pairs, 1).v,"
        "       element_at(pairs, 2).v - element_at(pairs, 1).v),"
        f" (acc, p) -> array({l2},"
        f"   {g}D * (({l2}) - element_at(acc, 1))"
        f"   + (1 - {g}D) * element_at(acc, 2)))"
    )
    return (
        per.filter(F.size("pairs") >= 3)
        .withColumn("st", st)
        .select(
            "event_type",
            F.size("pairs").alias("n_events"),
            F.round(F.expr("element_at(st, 1)"), 6).alias("level"),
            F.round(F.expr("element_at(st, 2)"), 6).alias("trend"),
            F.round(
                F.expr("element_at(st, 1) + element_at(st, 2)"), 6
            ).alias("forecast_1"),
        )
    )


_ACF_MAX_LAG = 7  # autocorrelation horizon (days)
_ACF_CENTS = "CAST(ROUND(value * 100) AS BIGINT)"


_ACF_ORACLE = f"""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         CAST(SUM({_ACF_CENTS}) AS BIGINT) AS sc
  FROM events GROUP BY 1, 2
),
d AS (
  SELECT event_type, date_diff('day', DATE '1970-01-01', day) AS di, sc
  FROM daily
),
lags AS (SELECT unnest(range(1, {_ACF_MAX_LAG} + 1)) AS lag),
pairs AS (
  SELECT a.event_type, l.lag, a.sc AS x, b.sc AS y
  FROM d a CROSS JOIN lags l
  JOIN d b ON b.event_type = a.event_type AND b.di = a.di - l.lag
),
s AS (
  SELECT event_type, lag,
         CAST(COUNT(*) AS BIGINT) AS n_pairs,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * y) AS BIGINT) AS sxy,
         CAST(SUM(x * x) AS BIGINT) AS sxx,
         CAST(SUM(y * y) AS BIGINT) AS syy
  FROM pairs GROUP BY 1, 2
)
SELECT event_type, CAST(lag AS BIGINT) AS lag, n_pairs,
       ROUND((CAST(n_pairs AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
             / sqrt((CAST(n_pairs AS DOUBLE) * sxx
                     - CAST(sx AS DOUBLE) * sx)
                    * (CAST(n_pairs AS DOUBLE) * syy
                       - CAST(sy AS DOUBLE) * sy)), 6) AS acf
FROM s
WHERE CAST(n_pairs AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx > 0
  AND CAST(n_pairs AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy > 0
"""


@query("timeseries_acf", oracle=_ACF_ORACLE)
def timeseries_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample autocorrelation function at lags 1..{maxlag} of each
    event_type's daily total — the seasonality/persistence diagnostic
    (Box & Jenkins ch.2) that sits before the smoothing family
    (timeseries_ewma / timeseries_holt_linear decide their constants off
    exactly this decay profile; a spike at lag 7 says weekly
    seasonality). Each lag's coefficient is the Pearson correlation of
    the aligned (x_t, x_(t-k)) pairs.

    Scale shape: ONE corpus scan collapses to the (group, day) daily
    grid — bounded by |groups| × calendar days, metadata-sized
    regardless of row count (partial aggregation does the heavy lift
    map-side). The lag alignment is an equi-join of that tiny grid to
    itself on (group, day_index - k) after exploding the {maxlag}-row
    lag spine — no window over raw rows, no global sort anywhere. All
    moments are exact BIGINT over integer cents (Σx² of daily sums fits
    to ~3e9 cents/day across ~1e3 days; past that lift the square
    moments to DECIMAL(38,0), the pca_power_component device), and the
    correlation is one closed-form double expression per engine.

    Reference analog: the frequency stage's per-group time bucketing
    (frequencyAnalysis.py:31-35) extended to serial dependence.
    """
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.expr("CAST(ts AS DATE)").alias("day")
    ).agg(F.sum(F.expr(_ACF_CENTS)).alias("sc"))
    d = daily.select(
        "event_type",
        F.expr("datediff(day, DATE '1970-01-01')").alias("di"),
        "sc",
    )
    # the daily grid feeds both sides of the lag join — materialize the
    # bounded relation once so the corpus is scanned ONCE (plan-pinned)
    d = d.localCheckpoint()
    lags = d.sparkSession.range(1, _ACF_MAX_LAG + 1).select(
        F.col("id").alias("lag")
    )
    a = d.crossJoin(F.broadcast(lags))
    b = d.select(
        F.col("event_type").alias("b_et"),
        F.col("di").alias("b_di"),
        F.col("sc").alias("y"),
    )
    pairs = a.join(
        b,
        (F.col("b_et") == F.col("event_type"))
        & (F.col("b_di") == F.col("di") - F.col("lag")),
    ).select("event_type", "lag", F.col("sc").alias("x"), "y")
    s = pairs.groupBy("event_type", "lag").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.expr("x * y")).alias("sxy"),
        F.sum(F.expr("x * x")).alias("sxx"),
        F.sum(F.expr("y * y")).alias("syy"),
    )
    vx = "CAST(n_pairs AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx"
    vy = "CAST(n_pairs AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy"
    return s.filter(F.expr(f"{vx} > 0 AND {vy} > 0")).select(
        "event_type",
        F.col("lag").cast("bigint").alias("lag"),
        "n_pairs",
        F.expr(
            "ROUND((CAST(n_pairs AS DOUBLE) * sxy"
            f" - CAST(sx AS DOUBLE) * sy) / sqrt(({vx}) * ({vy})), 6)"
        ).alias("acf"),
    )


timeseries_acf.__doc__ = timeseries_acf.__doc__.format(maxlag=_ACF_MAX_LAG)


_TS_ORACLE = """
WITH daily AS (
  SELECT event_type,
         date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS di,
         CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS sc
  FROM events WHERE value IS NOT NULL AND NOT isnan(value)
  GROUP BY 1, 2
),
slopes AS (
  SELECT a.event_type,
         b.sc - a.sc AS num,
         b.di - a.di AS den
  FROM daily a
  JOIN daily b ON b.event_type = a.event_type AND b.di > a.di
),
rk AS (
  SELECT event_type, num, den,
         CAST(num AS DOUBLE) / den AS slope,
         ROW_NUMBER() OVER (PARTITION BY event_type
           ORDER BY CAST(num AS DOUBLE) / den, num, den) AS r,
         COUNT(*) OVER (PARTITION BY event_type) AS np
  FROM slopes
),
med AS (
  SELECT event_type, np, slope, num, den
  FROM rk WHERE r = (np + 1) // 2
),
span AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days
  FROM daily GROUP BY event_type
)
SELECT m.event_type, s.n_days, CAST(m.np AS BIGINT) AS n_pairs,
       CAST(ROUND(CAST(m.num AS DOUBLE) / m.den * 1000000, 0) AS BIGINT)
         AS slope_cents_micro
FROM med m JOIN span s ON s.event_type = m.event_type
"""


@query("timeseries_theil_sen", oracle=_TS_ORACLE)
def timeseries_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend: the MEDIAN of all pairwise slopes of each
    event_type's daily total — up to 29% contamination-proof where the
    OLS trend (feature_ols_trend) follows a single corrupted day; the
    robust/classical pair mirrors feature_mad_outliers vs z-scores.

    Exactness: slopes stay exact rational (num, den) pairs; the median
    is an ORDER-STATISTIC pick, not an average — ordered by the IEEE
    quotient (division is correctly rounded, so the double is a pure
    function of the rational — identical on both engines) with (num,
    den) as the deterministic tiebreak for rationals colliding to one
    double. Only the reported slope is rounded (once, to micros).

    Scale shape: the corpus collapses map-side to the (group, day)
    daily grid (the ACF device); the pairwise self-join and the rank
    window run on THAT — n_pairs grows as days², but days is
    calendar-bounded (~365/decade·10), so the quadratic object is
    metadata-sized BY CONSTRUCTION, never corpus-sized. One checkpoint
    keeps the corpus scan single (plan-pinned shape shared with ACF).
    Reference analog: frequencyAnalysis.py's per-group trend layer
    (frequencyAnalysis.py:31-35) made robust.
    """
    ev = load(spark, sf_dir, "events")
    daily = (
        ev.filter(F.col("value").isNotNull() & ~F.isnan("value"))
        .groupBy(
            "event_type",
            F.expr("datediff(CAST(ts AS DATE), DATE '1970-01-01')").alias(
                "di"
            ),
        )
        .agg(
            F.sum(F.expr("CAST(ROUND(value * 100) AS BIGINT)"))
            .cast("bigint")
            .alias("sc")
        )
        .localCheckpoint()  # grid feeds self-join both sides + span
    )
    b = daily.select(
        F.col("event_type").alias("b_et"),
        F.col("di").alias("b_di"),
        F.col("sc").alias("b_sc"),
    )
    slopes = daily.join(
        b,
        (F.col("b_et") == F.col("event_type"))
        & (F.col("b_di") > F.col("di")),
    ).select(
        "event_type",
        (F.col("b_sc") - F.col("sc")).alias("num"),
        (F.col("b_di") - F.col("di")).alias("den"),
    )
    w_rk = Window.partitionBy("event_type").orderBy(
        F.expr("CAST(num AS DOUBLE) / den"), "num", "den"
    )
    w_np = Window.partitionBy("event_type")
    rk = slopes.select(
        "event_type",
        "num",
        "den",
        F.row_number().over(w_rk).alias("r"),
        F.count(F.lit(1)).over(w_np).alias("np"),
    )
    med = rk.filter(F.expr("r = (np + 1) DIV 2"))
    span = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days")
    )
    return med.join(F.broadcast(span), "event_type").select(
        "event_type",
        "n_days",
        F.col("np").cast("bigint").alias("n_pairs"),
        F.expr(
            "CAST(ROUND(CAST(num AS DOUBLE) / den * 1000000, 0)"
            " AS BIGINT)"
        ).alias("slope_cents_micro"),
    )


_SEAS_ORACLE = """
WITH daily AS (
  SELECT event_type,
         date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS di,
         CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS sc
  FROM events WHERE value IS NOT NULL AND NOT isnan(value)
  GROUP BY 1, 2
),
tr AS (
  SELECT event_type, di, sc,
         CAST(SUM(sc) OVER w AS BIGINT) AS s7,
         COUNT(*) OVER w AS c7
  FROM daily
  WINDOW w AS (PARTITION BY event_type ORDER BY di
               RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING)
),
det AS (
  SELECT event_type, di % 7 AS dow,
         sc * 7000000 - s7 * 1000000 AS dm7
  FROM tr WHERE c7 = 7
)
SELECT event_type, CAST(dow AS BIGINT) AS dow,
       CAST(COUNT(*) AS BIGINT) AS n_days,
       ROUND(CAST(SUM(dm7) AS DOUBLE) / COUNT(*) / 7000000.0 / 100.0, 6)
         + 0.0 AS seasonal_idx
FROM det GROUP BY event_type, dow
"""


@query("timeseries_seasonal_decompose", oracle=_SEAS_ORACLE)
def timeseries_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical seasonal-means decomposition (the moving-average STL
    ancestor, Kendall & Stuart ch.46): trend = centered 7-day moving
    average of the daily total, seasonal index = mean detrended value
    per day-of-week — the additive y = T + S + R split that tells the
    Holt/EWMA smoothers (this module) whether they need the seasonal
    term at all, and the backtest op which weekday bias to expect.

    Exactness: the detrended value is kept as the EXACT integer
    7·sc − Σ₇sc in micro-cents (never mean-then-subtract, which would
    divide early and round per row); days lacking a full 7-day
    neighborhood are excluded by the window COUNT guard (edge effects,
    the standard rule). The per-dow mean is ONE rounded double from
    exact integer sums — no truncating DIV on signed values (Spark DIV
    truncates toward zero, DuckDB // floors: signed integer division is
    BANNED in this repo's cross-engine contract; the double mean is the
    deterministic form).

    Scale shape: corpus → (group, day) grid map-side (the ACF device);
    the RANGE frame and the dow rollup run on the calendar-bounded
    grid. Reference analog: frequencyAnalysis.py's per-group time
    bucketing (frequencyAnalysis.py:31-35) decomposed.
    """
    ev = load(spark, sf_dir, "events")
    daily = (
        ev.filter(F.col("value").isNotNull() & ~F.isnan("value"))
        .groupBy(
            "event_type",
            F.expr("datediff(CAST(ts AS DATE), DATE '1970-01-01')").alias(
                "di"
            ),
        )
        .agg(
            F.sum(F.expr("CAST(ROUND(value * 100) AS BIGINT)"))
            .cast("bigint")
            .alias("sc")
        )
    )
    w7 = (
        Window.partitionBy("event_type")
        .orderBy("di")
        .rangeBetween(-3, 3)
    )
    tr = daily.select(
        "event_type",
        "di",
        "sc",
        F.sum("sc").over(w7).cast("bigint").alias("s7"),
        F.count(F.lit(1)).over(w7).alias("c7"),
    )
    det = tr.filter(F.col("c7") == 7).select(
        "event_type",
        F.expr("di % 7").alias("dow"),
        F.expr("sc * 7000000 - s7 * 1000000").alias("dm7"),
    )
    return det.groupBy(
        "event_type", F.col("dow").cast("bigint").alias("dow")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        (
            F.round(
                F.sum("dm7").cast("double")
                / F.count(F.lit(1))
                / 7000000.0
                / 100.0,
                6,
            )
            + F.lit(0.0)
        ).alias("seasonal_idx"),
    )


_LB_MAX_LAG = 7
_LB_CRIT_DF7 = 14.067  # chi-square 5% critical value, df = 7


_LB_ORACLE = f"""
WITH daily AS (
  SELECT event_type,
         date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS di,
         CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS sc
  FROM events WHERE value IS NOT NULL AND NOT isnan(value)
  GROUP BY 1, 2
),
tot AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(sc) AS BIGINT) AS s
  FROM daily GROUP BY event_type
),
y AS (
  SELECT d.event_type, d.di, d.sc * t.n - t.s AS yv, t.n
  FROM daily d JOIN tot t ON t.event_type = d.event_type
),
den AS (
  SELECT event_type, CAST(SUM(yv * yv) AS HUGEINT) AS d2
  FROM y GROUP BY event_type
),
lagk AS (SELECT unnest(range(1, {_LB_MAX_LAG + 1})) AS k),
num AS (
  SELECT a.event_type, l.k,
         CAST(SUM(a.yv * b.yv) AS HUGEINT) AS nk,
         MAX(a.n) AS n
  FROM y a
  CROSS JOIN lagk l
  JOIN y b ON b.event_type = a.event_type AND b.di = a.di + l.k
  GROUP BY a.event_type, l.k
),
terms AS (
  SELECT n.event_type, n.n,
         POW(CAST(n.nk AS DOUBLE) / CAST(d.d2 AS DOUBLE), 2)
           / (n.n - n.k) AS term
  FROM num n JOIN den d ON d.event_type = n.event_type
)
SELECT event_type, CAST(MAX(n) AS BIGINT) AS n_days,
       CAST({_LB_MAX_LAG} AS BIGINT) AS max_lag,
       ROUND(MAX(n) * (MAX(n) + 2.0) * SUM(term), 6) + 0.0 AS q_stat,
       MAX(n) * (MAX(n) + 2.0) * SUM(term) > {_LB_CRIT_DF7}
         AS autocorrelated
FROM terms GROUP BY event_type
"""


@query("timeseries_ljung_box", oracle=_LB_ORACLE)
def timeseries_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung-Box portmanteau test (Ljung & Box 1978): is the daily
    series white noise, or does SOME autocorrelation up to lag {m}
    survive? Q = n(n+2)·Σ r_k²/(n−k) against chi²(df={m}) — the
    one-number gate a forecasting pipeline runs on its RESIDUALS
    (forecast_residuals_backtest) before trusting a model, where
    timeseries_acf shows the per-lag picture.

    Exactness: autocorrelations use the mean-centered form scaled by n
    — y_t = n·x_t − S is an exact integer, so every numerator Σy_t·y_{{t+k}}
    and the denominator Σy² are exact (HUGEINT/DECIMAL(38,0): y² ~
    (n·x)² needs the wide type at x100 magnitudes — the spearman
    lesson applied PREEMPTIVELY); each r_k becomes a double once, and Q
    is one rounded closed form. Significance uses the literal
    chi²(7) critical value (the Kruskal-Wallis device).

    Scale shape: the ACF device verbatim — corpus → calendar-bounded
    daily grid map-side; the lag alignment is the grid equi-joined to
    itself on di + k after a {m}-row spine explode; totals broadcast.
    Reference analog: frequencyAnalysis.py's per-group time bucketing
    (frequencyAnalysis.py:31-35) tested for serial dependence.
    """
    ev = load(spark, sf_dir, "events")
    daily = (
        ev.filter(F.col("value").isNotNull() & ~F.isnan("value"))
        .groupBy(
            "event_type",
            F.expr("datediff(CAST(ts AS DATE), DATE '1970-01-01')").alias(
                "di"
            ),
        )
        .agg(
            F.sum(F.expr("CAST(ROUND(value * 100) AS BIGINT)"))
            .cast("bigint")
            .alias("sc")
        )
        .localCheckpoint()  # grid feeds totals + both lag-join sides
    )
    tot = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("sc").cast("bigint").alias("s"),
    )
    y = daily.join(F.broadcast(tot), "event_type").select(
        "event_type",
        "di",
        F.expr("CAST(sc * n - s AS DECIMAL(38,0))").alias("yv"),
        "n",
    )
    den = y.groupBy("event_type").agg(
        F.sum(F.expr("yv * yv")).cast("decimal(38,0)").alias("d2")
    )
    lags = y.sparkSession.range(1, _LB_MAX_LAG + 1).select(
        F.col("id").alias("k")
    )
    b = y.select(
        F.col("event_type").alias("b_et"),
        F.col("di").alias("b_di"),
        F.col("yv").alias("b_yv"),
    )
    num = (
        y.crossJoin(F.broadcast(lags))
        .join(
            b,
            (F.col("b_et") == F.col("event_type"))
            & (F.col("b_di") == F.col("di") + F.col("k")),
        )
        .groupBy("event_type", "k")
        .agg(
            F.sum(F.expr("yv * b_yv")).cast("decimal(38,0)").alias("nk"),
            F.max("n").alias("n"),
        )
    )
    terms = num.join(F.broadcast(den), "event_type").select(
        "event_type",
        "n",
        F.expr(
            "POW(CAST(nk AS DOUBLE) / CAST(d2 AS DOUBLE), 2) / (n - k)"
        ).alias("term"),
    )
    return terms.groupBy("event_type").agg(
        F.max("n").cast("bigint").alias("n_days"),
        F.lit(_LB_MAX_LAG).cast("bigint").alias("max_lag"),
        (
            F.round(
                F.max("n") * (F.max("n") + F.lit(2.0)) * F.sum("term"), 6
            )
            + F.lit(0.0)
        ).alias("q_stat"),
        (
            F.max("n") * (F.max("n") + F.lit(2.0)) * F.sum("term")
            > _LB_CRIT_DF7
        ).alias("autocorrelated"),
    )


timeseries_ljung_box.__doc__ = timeseries_ljung_box.__doc__.format(
    m=_LB_MAX_LAG
)


_CCF_MAX_LAG = 7
_CCF_A, _CCF_B = "view", "purchase"


_CCF_ORACLE = f"""
WITH daily AS (
  SELECT event_type,
         date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS di,
         CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS sc
  FROM events
  WHERE value IS NOT NULL AND NOT isnan(value)
    AND event_type IN ('{_CCF_A}', '{_CCF_B}')
  GROUP BY 1, 2
),
a AS (SELECT di, sc AS x FROM daily WHERE event_type = '{_CCF_A}'),
b AS (SELECT di, sc AS y FROM daily WHERE event_type = '{_CCF_B}'),
lags AS (
  SELECT unnest(range(-{_CCF_MAX_LAG}, {_CCF_MAX_LAG + 1})) AS lag
),
pairs AS (
  SELECT l.lag, a.x, b.y
  FROM lags l
  JOIN a ON TRUE
  JOIN b ON b.di = a.di + l.lag
),
s AS (
  SELECT lag,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * y) AS HUGEINT) AS sxy,
         CAST(SUM(x * x) AS HUGEINT) AS sxx,
         CAST(SUM(y * y) AS HUGEINT) AS syy
  FROM pairs GROUP BY lag
)
SELECT CAST(lag AS BIGINT) AS lag, n AS n_pairs,
       ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                    * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                       - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
         + 0.0 AS ccf
FROM s
WHERE CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0
  AND CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
        - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) > 0
"""


@query("timeseries_cross_correlation", oracle=_CCF_ORACLE)
def timeseries_cross_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-correlation function between the '{a}' and '{b}' daily
    series at lags −{m}..+{m} — the lead-lag diagnostic: a peak at
    positive lag k means {a} activity LEADS {b} by k days (the campaign
    → conversion question), which neither series' own ACF can show.
    Completes the serial-dependence suite (ACF, Ljung-Box, this).

    Exactness: the ACF device verbatim — exact BIGINT/DECIMAL(38,0)
    moments over integer cents on the calendar-bounded daily grid, one
    closed-form double per lag. The lag spine explode-joins the two
    per-type grids on di + lag (grid equi-join, never a window over raw
    rows).

    Reference analog: frequencyAnalysis.py's per-group time bucketing
    (frequencyAnalysis.py:31-35) extended to cross-series dependence.
    """
    ev = load(spark, sf_dir, "events")
    daily = (
        ev.filter(
            F.col("value").isNotNull()
            & ~F.isnan("value")
            & F.col("event_type").isin(_CCF_A, _CCF_B)
        )
        .groupBy(
            "event_type",
            F.expr("datediff(CAST(ts AS DATE), DATE '1970-01-01')").alias(
                "di"
            ),
        )
        .agg(
            F.sum(F.expr("CAST(ROUND(value * 100) AS BIGINT)"))
            .cast("bigint")
            .alias("sc")
        )
        .localCheckpoint()  # grid feeds both series slices
    )
    a = daily.filter(F.col("event_type") == _CCF_A).select(
        "di", F.col("sc").alias("x")
    )
    b = daily.filter(F.col("event_type") == _CCF_B).select(
        F.col("di").alias("b_di"), F.col("sc").alias("y")
    )
    lags = daily.sparkSession.range(
        -_CCF_MAX_LAG, _CCF_MAX_LAG + 1
    ).select(F.col("id").alias("lag"))
    pairs = (
        a.crossJoin(F.broadcast(lags))
        .join(b, F.col("b_di") == F.col("di") + F.col("lag"))
        .select("lag", "x", "y")
    )
    s = pairs.groupBy("lag").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.expr("CAST(x AS DECIMAL(38,0)) * y")).alias("sxy"),
        F.sum(F.expr("CAST(x AS DECIMAL(38,0)) * x")).alias("sxx"),
        F.sum(F.expr("CAST(y AS DECIMAL(38,0)) * y")).alias("syy"),
    )
    varx = (
        "CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)"
        " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)"
    )
    vary = (
        "CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)"
        " - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)"
    )
    return s.filter(F.expr(f"{varx} > 0 AND {vary} > 0")).select(
        F.col("lag").cast("bigint").alias("lag"),
        F.col("n").alias("n_pairs"),
        F.expr(
            "ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)"
            " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
            f" / sqrt(({varx}) * ({vary})), 6) + 0.0"
        ).alias("ccf"),
    )


timeseries_cross_correlation.__doc__ = (
    timeseries_cross_correlation.__doc__.format(
        a=_CCF_A, b=_CCF_B, m=_CCF_MAX_LAG
    )
)

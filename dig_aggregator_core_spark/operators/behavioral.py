"""Behavioral analytics over the events log: funnel conversion and cohort
retention — the two queries every product/event warehouse runs daily, and
the shapes a training-data pipeline reuses for user-journey features.

Both are expressed so the expensive part is ONE shuffle on user_id:

- the funnel folds each user's time-ordered history with a native array
  ``aggregate`` (greedy stage matcher — no per-stage self-joins, which is
  the naive SQL form and 3 scans + 3 shuffles);
- retention reuses the user_id partitioning for both the cohort assignment
  (min-date window) and the activity dedup, then reduces to the tiny
  (cohort, offset) grid.

Reference parity: the reference engine's test queries stop at grouped
aggregation (frequencyAnalysis.py:30-52); these extend the same
events-shaped input to ordered-sequence analytics, per SURVEY.md §2's
training-data extensions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import query
from ..tables import load, ntz_epoch_us

# funnel stages, strictly ordered by event time within a user
_STAGES = ("view", "click", "purchase")

_FUNNEL_ORACLE = """
WITH v AS (
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
SELECT * FROM (
  SELECT 1 AS stage_idx, 'view' AS stage,
         CAST((SELECT COUNT(*) FROM v) AS BIGINT) AS n_users,
         ROUND(CAST((SELECT COUNT(*) FROM v) AS DOUBLE)
               / (SELECT COUNT(*) FROM v), 6) AS conv_from_first
  UNION ALL
  SELECT 2, 'click', CAST((SELECT COUNT(*) FROM c) AS BIGINT),
         ROUND(CAST((SELECT COUNT(*) FROM c) AS DOUBLE)
               / (SELECT COUNT(*) FROM v), 6)
  UNION ALL
  SELECT 3, 'purchase', CAST((SELECT COUNT(*) FROM p) AS BIGINT),
         ROUND(CAST((SELECT COUNT(*) FROM p) AS DOUBLE)
               / (SELECT COUNT(*) FROM v), 6)
)
"""


def stage_times(ev: DataFrame) -> DataFrame:
    """(user_id, st(t1, t2, t3)): greedy first-match stage times per user
    over a (user_id, us, event_type) relation — the funnel's core. One
    user_id shuffle collects each user's (us, type)-sorted history; the
    native ``aggregate`` fold matches stages in one pass. Exposed as its
    own operator so the randomized property suite can pin the fold
    against a reference implementation on arbitrary histories."""
    per_user = ev.groupBy("user_id").agg(
        F.array_sort(F.collect_list(F.struct("us", "event_type"))).alias(
            "seq"
        )
    )
    # greedy fold: acc = (t1, t2, t3) nullable stage times
    return per_user.select(
        "user_id",
        F.expr(
            """
            aggregate(
              seq,
              named_struct('t1', CAST(NULL AS BIGINT),
                           't2', CAST(NULL AS BIGINT),
                           't3', CAST(NULL AS BIGINT)),
              (acc, e) -> named_struct(
                't1', CASE WHEN acc.t1 IS NULL AND e.event_type = 'view'
                           THEN e.us ELSE acc.t1 END,
                't2', CASE WHEN acc.t2 IS NULL AND e.event_type = 'click'
                                AND acc.t1 IS NOT NULL AND e.us > acc.t1
                           THEN e.us ELSE acc.t2 END,
                't3', CASE WHEN acc.t3 IS NULL AND e.event_type = 'purchase'
                                AND acc.t2 IS NOT NULL AND e.us > acc.t2
                           THEN e.us ELSE acc.t3 END)
            )
            """
        ).alias("st"),
    )


@query("funnel_conversion", oracle=_FUNNEL_ORACLE)
def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel (view -> click -> purchase): a user converts a stage
    only with an event STRICTLY after their previous stage's event. The
    greedy first-match semantics (first view; first click after that view;
    first purchase after that click) are the standard funnel definition —
    and greedy-on-min-times is optimal here, so it equals the oracle's
    per-stage conditional-min joins.

    Plan: ONE shuffle (groupBy user_id) collects each user's sorted
    (epoch_us, type) pairs, then a native ``aggregate`` fold matches
    stages in a single pass — no per-stage self-join cascade (the naive
    form re-shuffles events once per stage). The final stage counting is
    a 3-row reduction. At 100 TB: per-user history must fit a row (same
    bound as timeseries_ewma); histories beyond that stream through
    applyInPandasWithState instead.

    Ties: strict ``>`` between stages on epoch micros; within one
    timestamp the (us, type) sort is deterministic, and a same-microsecond
    later stage does NOT convert (a tie's gap is 0, not positive).
    """
    ev = (
        load(spark, sf_dir, "events")
        .filter(F.col("event_type").isin(*_STAGES))
        .select(
            "user_id",
            ntz_epoch_us("ts").alias("us"),
            "event_type",
        )
    )
    folded = stage_times(ev).select("st")
    counts = folded.agg(
        F.count("st.t1").alias("n1"),
        F.count("st.t2").alias("n2"),
        F.count("st.t3").alias("n3"),
    )
    stages = counts.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit(1).alias("stage_idx"),
                    F.lit("view").alias("stage"),
                    F.col("n1").alias("n_users"),
                ),
                F.struct(
                    F.lit(2).alias("stage_idx"),
                    F.lit("click").alias("stage"),
                    F.col("n2").alias("n_users"),
                ),
                F.struct(
                    F.lit(3).alias("stage_idx"),
                    F.lit("purchase").alias("stage"),
                    F.col("n3").alias("n_users"),
                ),
            )
        ).alias("s"),
        F.col("n1"),
    )
    return stages.select(
        F.col("s.stage_idx").alias("stage_idx"),
        F.col("s.stage").alias("stage"),
        F.col("s.n_users").alias("n_users"),
        # try_divide: an empty log (n1 = 0) must yield NULL conversion
        # rows, not an ANSI DIVIDE_BY_ZERO crash
        F.round(
            F.try_divide(F.col("s.n_users").cast("double"), F.col("n1")), 6
        ).alias("conv_from_first"),
    )


_COHORT_ORACLE = """
WITH firsts AS (
  SELECT user_id, MIN(CAST(ts AS DATE)) AS cohort_day
  FROM events GROUP BY user_id
), activity AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
)
SELECT strftime(f.cohort_day, '%Y-%m-%d') AS cohort_day,
       CAST(date_diff('day', f.cohort_day, a.day) AS INT) AS day_offset,
       CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS n_active
FROM activity a JOIN firsts f ON a.user_id = f.user_id
GROUP BY 1, 2
"""


@query("cohort_retention", oracle=_COHORT_ORACLE)
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention grid: users cohort by their first active day; each
    cell counts distinct cohort members active N days later. The daily
    roll-up behind every retention curve.

    Plan: ONE user_id exchange computes each user's distinct active-day
    set (collect_set — partial-aggregated map-side, so the shuffle
    carries near-deduped days, and both the cohort min and the activity
    days come out of the same aggregate; a naive distinct() would key
    its exchange on (user, day) and force a SECOND user_id shuffle for
    the cohort window). Re-exploding the day set is map-side. The
    second, final shuffle reduces to the tiny (cohort_day, day_offset)
    grid — days × days cells regardless of user count. Per-user state is
    bounded by distinct active days (same bound as timeseries_ewma's
    history rows).
    """
    ev = load(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("day")
    )
    per_user = ev.groupBy("user_id").agg(
        F.collect_set("day").alias("days")
    )
    cohorted = per_user.select(
        "user_id",
        F.array_min("days").alias("cohort_day"),
        F.explode("days").alias("day"),
    )
    return (
        cohorted.groupBy(
            F.date_format("cohort_day", "yyyy-MM-dd").alias("cohort_day"),
            F.datediff("day", "cohort_day").alias("day_offset"),
        )
        # plain COUNT, not COUNT(DISTINCT): exploding per-user day SETS
        # makes (user, day) unique by construction, so each user hits a
        # grid cell at most once — and COUNT keeps the final exchange
        # partial-aggregatable (no distinct Expand)
        .agg(F.count(F.lit(1)).alias("n_active"))
    )


_ATTR_LOOKBACK_US = 3 * 24 * 3600 * 1_000_000  # 3-day attribution window

_ATTR_ORACLE = f"""
WITH e AS (
  SELECT user_id, event_id, event_type,
         epoch_us(CAST(ts AS TIMESTAMP)) AS us
  FROM events
),
p AS (SELECT * FROM e WHERE event_type = 'purchase'),
t AS (SELECT * FROM e WHERE event_type IN ('view', 'click')),
lt AS (
  SELECT p.event_id AS purchase_id, p.user_id, p.us AS pus,
         MAX(struct_pack(us := t.us, event_id := t.event_id,
                         event_type := t.event_type)) AS s
  FROM p LEFT JOIN t ON t.user_id = p.user_id
    AND (t.us < p.us OR (t.us = p.us AND t.event_id < p.event_id))
  GROUP BY 1, 2, 3
)
SELECT purchase_id, user_id,
  CASE WHEN s.us >= pus - {_ATTR_LOOKBACK_US} THEN s.event_id END
    AS touch_id,
  CASE WHEN s.us >= pus - {_ATTR_LOOKBACK_US} THEN s.event_type END
    AS touch_type,
  CASE WHEN s.us >= pus - {_ATTR_LOOKBACK_US} THEN pus - s.us END
    AS gap_us
FROM lt
"""


@query("attribution_last_touch", oracle=_ATTR_ORACLE)
def attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: every purchase is credited to the user's
    most recent preceding view/click within a 3-day lookback — the
    marketing-analytics twin of the as-of join, reported per purchase
    with the touch id, type, and exact gap (microseconds, so no
    cross-engine rounding). Purchases with no in-window touch emit NULL
    touch columns (the unattributed bucket a funnel report needs).

    Plan: ONE user_id shuffle; the running "latest touch so far" is a
    MAX over a (us, event_id, type) struct in a ROWS window ending one
    row before the current — strictly-preceding semantics with a
    deterministic (us, event_id) tie order, which the oracle mirrors as
    a lexicographic join predicate. No per-touch self-join: the naive
    purchases-x-touches join is quadratic in per-user activity, while
    the window pass is linear and partition-local after the single
    exchange (same scale posture as sessionize_events). The lookback
    check is applied AFTER the argmax — any older touch is farther, so
    in-window-latest == latest-overall when that one is in window."""
    ev = (
        load(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("view", "click", "purchase"))
        .select(
            "user_id",
            "event_id",
            "event_type",
            ntz_epoch_us("ts").alias("us"),
        )
    )
    touch = F.when(
        F.col("event_type").isin("view", "click"),
        F.struct(
            F.col("us").alias("us"),
            F.col("event_id").alias("event_id"),
            F.col("event_type").alias("event_type"),
        ),
    )
    from pyspark.sql import Window as W

    w = (
        W.partitionBy("user_id")
        .orderBy("us", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    with_lt = ev.withColumn("lt", F.max(touch).over(w))
    in_window = F.col("lt.us") >= F.col("us") - _ATTR_LOOKBACK_US
    return with_lt.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.when(in_window, F.col("lt.event_id")).alias("touch_id"),
        F.when(in_window, F.col("lt.event_type")).alias("touch_type"),
        F.when(in_window, F.col("us") - F.col("lt.us")).alias("gap_us"),
    )


_STREAK_ORACLE = """
WITH d AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
),
r AS (
  SELECT user_id, day,
         CAST(day - CAST(ROW_NUMBER() OVER (PARTITION BY user_id
                                            ORDER BY day) AS INT)
              AS DATE) AS island
  FROM d
),
s AS (
  SELECT user_id, island,
         CAST(COUNT(*) AS BIGINT) AS streak_days,
         MIN(day) AS streak_start
  FROM r GROUP BY user_id, island
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_streaks,
       CAST(MAX(streak_days) AS BIGINT) AS longest_streak,
       strftime(MIN(streak_start), '%Y-%m-%d') AS first_day
FROM s GROUP BY user_id
"""


@query("user_activity_streaks", oracle=_STREAK_ORACLE)
def user_activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: per user, consecutive-day activity streaks via
    the classic day - row_number() island key (consecutive days share a
    constant difference), reporting streak count and longest streak —
    the engagement metric behind every "N-day streak" product surface
    and a canonical SQL pattern the engine must express.

    Plan: the distinct (user, day) reduction, the ordering window, and
    both aggregates all key on user_id, so Spark reuses ONE exchange for
    the entire chain (the window and the final groupBy are
    partition-local after the distinct's shuffle). Per-user state is
    bounded by distinct active days, the cohort bound. Everything is
    codegen; dates stay DATE arithmetic (tz-proof: to_date on the naive
    reading of ts, mirrored by DuckDB's CAST AS DATE)."""
    d = (
        load(spark, sf_dir, "events")
        .select("user_id", F.to_date("ts").alias("day"))
        .distinct()
    )
    w = Window.partitionBy("user_id").orderBy("day")
    r = d.select(
        "user_id",
        "day",
        F.date_sub("day", F.row_number().over(w)).alias("island"),
    )
    s = r.groupBy("user_id", "island").agg(
        F.count(F.lit(1)).alias("streak_days"),
        F.min("day").alias("streak_start"),
    )
    return s.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_streaks"),
        F.max("streak_days").alias("longest_streak"),
        F.date_format(F.min("streak_start"), "yyyy-MM-dd").alias(
            "first_day"
        ),
    )


_MT_ORACLE = f"""
WITH e AS (
  SELECT user_id, event_id, event_type,
         epoch_us(CAST(ts AS TIMESTAMP)) AS us
  FROM events
),
p AS (SELECT * FROM e WHERE event_type = 'purchase'),
t AS (SELECT * FROM e WHERE event_type IN ('view', 'click')),
pairs AS (
  SELECT p.event_id AS purchase_id, p.user_id,
         t.event_id AS touch_id, t.event_type AS touch_type, t.us AS tus
  FROM p JOIN t ON t.user_id = p.user_id
    AND (t.us < p.us OR (t.us = p.us AND t.event_id < p.event_id))
    AND t.us >= p.us - {_ATTR_LOOKBACK_US}
),
rk AS (
  SELECT *,
         ROW_NUMBER() OVER (PARTITION BY purchase_id
                            ORDER BY tus, touch_id) AS k,
         COUNT(*) OVER (PARTITION BY purchase_id) AS n
  FROM pairs
)
SELECT purchase_id, user_id, touch_id, touch_type,
       CAST(k AS INT) AS touch_rank, CAST(n AS BIGINT) AS n_touches,
       ROUND(CASE WHEN n = 1 THEN 1.0
                  WHEN n = 2 THEN 0.5
                  WHEN k = 1 OR k = n THEN 0.4
                  ELSE 0.2 / (n - 2) END, 6) AS credit
FROM rk
"""


@query("attribution_multi_touch", oracle=_MT_ORACLE)
def attribution_multi_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Position-based (U-shaped) multi-touch attribution: every purchase
    splits its credit across ALL in-window preceding view/click touches —
    40% to the first touch, 40% to the last, the middle 20% shared
    equally — the industry-standard refinement of last-touch (which
    attribution_last_touch keeps as the cheap single-credit form). A
    single touch takes 100%, a pair 50/50; credits per purchase sum to
    exactly 1 by construction. Weights are exact rationals (no decay
    exponentials), so both engines compute identical doubles.

    Plan: the pair generation is an equi-join on user_id with the
    strictly-preceding + lookback predicate applied in-join; it emits
    exactly the credited (purchase, touch) pairs — the report IS that
    size, so unlike last-touch there is no cheaper window form. Ranking
    and counting then key on purchase_id. Shuffles: user_id (join),
    purchase_id (window) — both bounded keys. At 100 TB the lookback
    bounds per-pair fan-out; a per-purchase touch cap (keep last K by
    rank) is the standard guard if a bot user floods the window."""
    e = load(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "event_type",
        ntz_epoch_us("ts").alias("us"),
    )
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("us").alias("pus"),
    )
    t = e.filter(F.col("event_type").isin("view", "click")).select(
        F.col("user_id").alias("t_user_id"),
        F.col("event_id").alias("touch_id"),
        F.col("event_type").alias("touch_type"),
        F.col("us").alias("tus"),
    )
    pairs = p.join(
        t,
        (F.col("t_user_id") == F.col("user_id"))
        & (
            (F.col("tus") < F.col("pus"))
            | (
                (F.col("tus") == F.col("pus"))
                & (F.col("touch_id") < F.col("purchase_id"))
            )
        )
        & (F.col("tus") >= F.col("pus") - _ATTR_LOOKBACK_US),
    ).select("purchase_id", "user_id", "touch_id", "touch_type", "tus")
    wk = Window.partitionBy("purchase_id").orderBy("tus", "touch_id")
    wn = Window.partitionBy("purchase_id")
    rk = pairs.withColumn("k", F.row_number().over(wk)).withColumn(
        "n", F.count(F.lit(1)).over(wn)
    )
    credit = (
        F.when(F.col("n") == 1, F.lit(1.0))
        .when(F.col("n") == 2, F.lit(0.5))
        .when((F.col("k") == 1) | (F.col("k") == F.col("n")), F.lit(0.4))
        .otherwise(F.lit(0.2) / (F.col("n") - 2))
    )
    return rk.select(
        "purchase_id",
        "user_id",
        "touch_id",
        "touch_type",
        F.col("k").cast("int").alias("touch_rank"),
        F.col("n").cast("long").alias("n_touches"),
        F.round(credit, 6).alias("credit"),
    )


ASSOC_RULES_ORACLE = """
    WITH ue AS (
      SELECT DISTINCT user_id, event_type FROM events
    ),
    n AS (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users FROM ue),
    per AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_et FROM ue GROUP BY 1
    ),
    pairs AS (
      SELECT a.event_type AS et_a, b.event_type AS et_b,
             CAST(COUNT(*) AS BIGINT) AS n_both
      FROM ue a JOIN ue b
        ON a.user_id = b.user_id AND a.event_type < b.event_type
      GROUP BY 1, 2
    )
    SELECT p.et_a, p.et_b, p.n_both, pa.n_et AS n_a, pb.n_et AS n_b,
           (p.n_both * 1000000) // n.n_users AS support_micro,
           (p.n_both * 1000000) // pa.n_et AS conf_a_to_b_micro,
           (p.n_both * 1000000) // pb.n_et AS conf_b_to_a_micro,
           (p.n_both * n.n_users * 1000000) // (pa.n_et * pb.n_et)
             AS lift_micro
    FROM pairs p
    JOIN per pa ON pa.event_type = p.et_a
    JOIN per pb ON pb.event_type = p.et_b
    CROSS JOIN n
    """


@query("assoc_rules_pairs", oracle=ASSOC_RULES_ORACLE)
def assoc_rules_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise association rules over per-user event-type baskets
    (Agrawal & Srikant's Apriori at the k=2 level, which is where real
    clickstream analyses live): support, directional confidence, and lift
    for every unordered event-type pair, in exact integer micro-units.

    Shape for scale: the raw events shuffle ONCE — groupBy(user_id) into
    a sorted distinct basket array — and the corpus is scanned ONCE:
    each basket explodes into a single struct stream carrying all three
    count levels (one ('*','*') marker per user, each single type as
    (x,'*') and ('*',x), one (x, y) per pair combination — |types|^2/2
    structs with |types| tiny), so ONE tiny aggregation on (et_a, et_b)
    yields user totals, item counts, and pair counts together, and the
    totals attach to the pair rows via windows OVER THE GRID. Earlier
    drafts that kept the three aggregates as separate consumers of the
    basket relation forked the lineage and re-scanned events 4x (the
    quality_drift_by_source lesson); the grid windows are metadata-sized
    by construction. Everything
    integer: support/confidence/lift carry micro-unit DIV semantics, so
    the oracle hash is exact — lift > 1e6 reads "co-occur more than
    independence predicts"."""
    baskets = (
        load(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.collect_set("event_type").alias("ets"))
    )
    return assoc_finalize(baskets)


def assoc_finalize(baskets: DataFrame) -> DataFrame:
    """Grid finalize shared with the streaming twin: baskets (user_id,
    ets array, any order) -> the pair-rule grid. See assoc_rules_pairs
    for the design discussion."""
    baskets = baskets.select(F.sort_array(F.col("ets")).alias("ets"))
    # '*' marker rows let every lookup ride a WINDOW over the tiny grid
    # instead of joins between filtered branches (which would fork the
    # lineage and re-run the corpus aggregation once per branch): one
    # ('*','*') per user, each single as BOTH (x,'*') and ('*',x) so both
    # partition keys can see it, each pair once
    items = F.expr(
        "concat("
        " array(struct('*' AS et_a, '*' AS et_b)),"
        " transform(ets, x -> struct(x AS et_a, '*' AS et_b)),"
        " transform(ets, x -> struct('*' AS et_a, x AS et_b)),"
        " flatten(transform(ets, (x, i) ->"
        "   transform(slice(ets, i + 2, size(ets)),"
        "     y -> struct(x AS et_a, y AS et_b)))))"
    )
    grid = (
        baskets.select(F.explode(items).alias("p"))
        .groupBy(F.col("p.et_a").alias("et_a"), F.col("p.et_b").alias("et_b"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    w_all = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    w_a = Window.partitionBy("et_a")
    w_b = Window.partitionBy("et_b")
    annotated = grid.select(
        "et_a",
        "et_b",
        "cnt",
        F.sum(
            F.when((F.col("et_a") == "*") & (F.col("et_b") == "*"), F.col("cnt"))
        )
        .over(w_all)
        .alias("n_users"),
        F.sum(F.when(F.col("et_b") == "*", F.col("cnt")))
        .over(w_a)
        .alias("n_a"),
        F.sum(F.when(F.col("et_a") == "*", F.col("cnt")))
        .over(w_b)
        .alias("n_b"),
    )
    return annotated.filter(
        (F.col("et_a") != "*") & (F.col("et_b") != "*")
    ).select(
        "et_a",
        "et_b",
        F.col("cnt").alias("n_both"),
        "n_a",
        "n_b",
        F.expr("(cnt * 1000000) DIV n_users").alias("support_micro"),
        F.expr("(cnt * 1000000) DIV n_a").alias("conf_a_to_b_micro"),
        F.expr("(cnt * 1000000) DIV n_b").alias("conf_b_to_a_micro"),
        F.expr("(cnt * n_users * 1000000) DIV (n_a * n_b)").alias(
            "lift_micro"
        ),
    )


@query(
    "engagement_dau_wau",
    oracle="""
    WITH ud AS (
      SELECT DISTINCT user_id, strftime(ts, '%Y-%m-%d') AS day,
             CAST(ts AS DATE) AS d
      FROM events
    ),
    spine AS (SELECT DISTINCT day, d FROM ud),
    dau AS (
      SELECT day, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS dau
      FROM ud GROUP BY 1
    ),
    wau AS (
      SELECT s.day, CAST(COUNT(DISTINCT u.user_id) AS BIGINT) AS wau
      FROM spine s JOIN ud u
        ON u.d BETWEEN s.d - INTERVAL 6 DAY AND s.d
      GROUP BY 1
    )
    SELECT dau.day, dau.dau, wau.wau,
           CAST((dau.dau * 1000000) // wau.wau AS BIGINT)
             AS stickiness_micro
    FROM dau JOIN wau ON dau.day = wau.day
    """,
)
def engagement_dau_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/WAU engagement grid — daily active users, 7-day trailing
    weekly actives, and the DAU/WAU "stickiness" ratio every growth
    dashboard tracks. The rolling DISTINCT is the interesting part:
    COUNT(DISTINCT) cannot ride a window frame, so each (user, day)
    activity row joins the tiny day spine on a 7-day band (broadcast —
    the spine is |days| rows) and dedups per (spine day, user). The
    expensive relation is distinct (user, day) — ONE shuffle of the
    event stream; everything after is bounded by |users| x 7 x |days|.

    Stickiness is integer micro-units (exact); days are strings so both
    engines hash identical values (the stream_dedup_within_watermark
    date-type lesson)."""
    ev = load(spark, sf_dir, "events")
    day_str = F.date_format(F.col("ts"), "yyyy-MM-dd")
    ud = ev.select(
        "user_id",
        day_str.alias("day"),
        F.to_date(F.col("ts")).alias("d"),
    ).distinct()
    spine = ud.select("day", "d").distinct()
    dau = ud.groupBy("day").agg(
        F.countDistinct("user_id").cast("bigint").alias("dau")
    )
    s = spine.select(F.col("day").alias("sday"), F.col("d").alias("sd"))
    wau = (
        F.broadcast(s)
        .join(
            ud,
            (F.col("d") >= F.date_sub(F.col("sd"), 6))
            & (F.col("d") <= F.col("sd")),
        )
        .groupBy(F.col("sday").alias("day"))
        .agg(F.countDistinct("user_id").cast("bigint").alias("wau"))
    )
    return dau.join(wau, "day").select(
        "day",
        "dau",
        "wau",
        F.expr("CAST((dau * 1000000) DIV wau AS BIGINT)").alias(
            "stickiness_micro"
        ),
    )


_KM_ORACLE = """
WITH f AS (
  SELECT user_id,
         MIN(CAST(ts AS DATE)) AS first_day,
         MAX(CAST(ts AS DATE)) AS last_day
  FROM events GROUP BY user_id
),
p AS (
  SELECT user_id, MIN(CAST(ts AS DATE)) AS purch_day
  FROM events WHERE event_type = 'purchase' GROUP BY user_id
),
lt AS (
  SELECT date_diff('day', f.first_day,
                   COALESCE(p.purch_day, f.last_day)) AS t,
         p.user_id IS NOT NULL AS observed
  FROM f LEFT JOIN p USING (user_id)
),
grid AS (
  SELECT t,
         CAST(SUM(CASE WHEN observed THEN 1 ELSE 0 END) AS BIGINT) AS d,
         CAST(COUNT(*) AS BIGINT) AS total_t
  FROM lt GROUP BY t
),
risk AS (
  SELECT t, d,
         CAST(SUM(total_t) OVER (ORDER BY t DESC) AS BIGINT) AS n_risk
  FROM grid
),
surv AS (
  SELECT t, d, n_risk,
         SUM(CASE WHEN d > 0 AND d < n_risk
               THEN ln(1.0 - CAST(d AS DOUBLE) / n_risk)
               ELSE 0.0 END) OVER (ORDER BY t ASC) AS logsurv,
         MAX(CASE WHEN d = n_risk THEN 1 ELSE 0 END)
           OVER (ORDER BY t ASC) AS hit_zero
  FROM risk
)
SELECT CAST(t AS BIGINT) AS t_days, n_risk, d AS d_events,
       CASE WHEN hit_zero = 1 THEN 0.0
            ELSE ROUND(exp(logsurv), 6) + 0.0 END AS survival
FROM surv WHERE d > 0
"""


@query("survival_kaplan_meier", oracle=_KM_ORACLE)
def survival_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier time-to-conversion estimator with right censoring:
    t is days from a user's FIRST event to their FIRST purchase; users
    who never purchase are censored at their last activity day (their t
    is a lower bound, not a conversion) — the estimator the naive
    "average days-to-purchase" metric silently corrupts by dropping or
    mis-counting non-converters. At each observed conversion time t the
    curve multiplies by (1 - d_t / n_t), n_t counting everyone whose
    follow-up reached t, converted or censored. The final grid row where d_t = n_t is the
    absorbing state: S drops to exactly 0 there, handled as a flag so
    neither engine evaluates ln(0).

    Plan: TWO user_id-keyed aggregations (activity span, first purchase)
    that AQE resolves into one exchange-sharing join on user_id — the
    corpus collapses to one (t, observed) pair per user before anything
    else runs. Everything after operates on the t-keyed GRID, bounded by
    the follow-up span in days — metadata-sized by construction — so the
    reverse-cumulative at-risk window and the forward log-survival
    prefix run on a single tiny partition BY DESIGN (the table_profile
    grid-finale pattern); the sort input is the grid, never the corpus.
    d and n_risk stay exact BIGINTs; only the curve is a double — the
    ln/exp fold visits grid rows in identical order on both engines and
    ROUND(,6)+0.0 absorbs libm-vs-JVM last-ulp drift. Reference analog:
    frequencyAnalysis.py's per-group summary layer
    (frequencyAnalysis.py:31-35) extended to censored durations.
    """
    ev = load(spark, sf_dir, "events")
    f = ev.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("first_day"),
        F.max(F.to_date("ts")).alias("last_day"),
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min(F.to_date("ts")).alias("purch_day"))
    )
    lt = f.join(p, "user_id", "left").select(
        F.datediff(
            F.coalesce("purch_day", "last_day"), F.col("first_day")
        ).alias("t"),
        F.col("purch_day").isNotNull().alias("observed"),
    )
    grid = lt.groupBy("t").agg(
        F.sum(F.when(F.col("observed"), 1).otherwise(0)).alias("d"),
        F.count(F.lit(1)).alias("total_t"),
    )
    w_desc = Window.orderBy(F.col("t").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    risk = grid.withColumn(
        "n_risk", F.sum("total_t").over(w_desc).cast("bigint")
    )
    w_asc = Window.orderBy(F.col("t").asc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    surv = risk.withColumn(
        "logsurv",
        F.sum(
            F.when(
                (F.col("d") > 0) & (F.col("d") < F.col("n_risk")),
                F.log(
                    F.lit(1.0)
                    - F.col("d").cast("double") / F.col("n_risk")
                ),
            ).otherwise(F.lit(0.0))
        ).over(w_asc),
    ).withColumn(
        "hit_zero",
        F.max(
            F.when(F.col("d") == F.col("n_risk"), 1).otherwise(0)
        ).over(w_asc),
    )
    return surv.filter(F.col("d") > 0).select(
        F.col("t").cast("bigint").alias("t_days"),
        "n_risk",
        F.col("d").cast("bigint").alias("d_events"),
        F.when(F.col("hit_zero") == 1, F.lit(0.0))
        .otherwise(F.round(F.exp("logsurv"), 6) + F.lit(0.0))
        .alias("survival"),
    )


_RFM_GRID_SQL = """
  SELECT val, cnt,
         1 + (COALESCE(SUM(cnt) OVER (ORDER BY val
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              * 5) // (SUM(cnt) OVER ()) AS q
  FROM (SELECT {val} AS val, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM u GROUP BY 1)
"""


_RFM_ORACLE = f"""
WITH p AS (
  SELECT user_id, CAST(ts AS DATE) AS day,
         CAST(ROUND(value * 100) AS BIGINT) AS cents
  FROM events WHERE event_type = 'purchase'
),
u0 AS (
  SELECT user_id, MAX(day) AS last_day,
         CAST(COUNT(*) AS BIGINT) AS frequency,
         CAST(SUM(cents) AS BIGINT) AS monetary_cents
  FROM p GROUP BY user_id
),
h AS (SELECT MAX(last_day) AS study_end FROM u0),
u AS (
  SELECT u0.*, date_diff('day', last_day, h.study_end) AS recency_days
  FROM u0 CROSS JOIN h
),
rg AS ({_RFM_GRID_SQL.format(val="recency_days")}),
fg AS ({_RFM_GRID_SQL.format(val="frequency")}),
mg AS ({_RFM_GRID_SQL.format(val="monetary_cents // 100")})
SELECT u.user_id, CAST(u.recency_days AS BIGINT) AS recency_days,
       u.frequency, u.monetary_cents,
       CAST(6 - rg.q AS BIGINT) AS r_score,
       CAST(fg.q AS BIGINT) AS f_score,
       CAST(mg.q AS BIGINT) AS m_score,
       CAST((6 - rg.q) * 100 + fg.q * 10 + mg.q AS BIGINT) AS rfm
FROM u
JOIN rg ON rg.val = u.recency_days
JOIN fg ON fg.val = u.frequency
JOIN mg ON mg.val = u.monetary_cents // 100
"""


def _rfm_quintile_map(u: DataFrame, val: F.Column) -> DataFrame:
    """Value-grid quintile map: aggregate to (value, count), take the
    running-count prefix on the GRID (bounded by distinct values, not
    users), and assign q = 1 + 5·cum_before DIV N — every user with the
    same value lands in the same quintile, no global row sort exists
    anywhere, and the map is broadcast-sized by construction."""
    g = u.select(val.alias("val")).groupBy("val").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    w_prev = Window.orderBy("val").rowsBetween(
        Window.unboundedPreceding, -1
    )
    w_all = Window.partitionBy()
    return g.select(
        "val",
        F.coalesce(F.sum("cnt").over(w_prev), F.lit(0)).alias("cumb"),
        F.sum("cnt").over(w_all).alias("nt"),
    ).select(
        "val",
        F.expr("CAST(1 + (cumb * 5) DIV nt AS BIGINT)").alias("q"),
    )


@query("feature_rfm_segmentation", oracle=_RFM_ORACLE)
def feature_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM (recency / frequency / monetary) quintile segmentation — the
    classic behavioral customer feature (Hughes 1994): each user scores
    1-5 on how recently they purchased, how often, and how much, and the
    concatenated RFM code (555 = best) drives lifecycle campaigns.

    Scale discipline — quintiles WITHOUT a global sort: the standard
    ntile(5) OVER (ORDER BY metric) is a corpus-wide total sort of the
    user table (planlint's global-sort tripwire). Instead each metric
    aggregates to its VALUE GRID — recency is day-bounded, frequency
    count-bounded, monetary bucketed to whole currency units — the
    running-count prefix runs on the grid, and q = 1 + 5·cum_before/N
    maps every value to its quintile; the three maps join back
    broadcast. Same-valued users land in the same quintile (ntile would
    split them arbitrarily — the grid form is the MORE correct one).

    Exactness: integer cents (the stream-CUSUM device), truncating DIV
    quintiles, exact BIGINT everywhere; the study-end anchor is a 1-row
    broadcast, never wall-clock (tz-proof contract). Reference analog:
    frequencyAnalysis.py's per-group summary layer
    (frequencyAnalysis.py:31-35) as a segmentation feature.
    """
    ev = load(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.to_date("ts").alias("day"),
        F.expr("CAST(ROUND(value * 100) AS BIGINT)").alias("cents"),
    )
    u0 = p.groupBy("user_id").agg(
        F.max("day").alias("last_day"),
        F.count(F.lit(1)).cast("bigint").alias("frequency"),
        F.sum("cents").cast("bigint").alias("monetary_cents"),
    )
    h = u0.agg(F.max("last_day").alias("study_end"))
    # the per-user table feeds FOUR consumers (three quintile grids +
    # the final join spine) — checkpoint it so the corpus-sized purchase
    # aggregation runs once (the KN/RAKE type-table device); it is the
    # users-sized reduction, already far smaller than the event log
    u = (
        u0.crossJoin(F.broadcast(h))
        .select(
            "user_id",
            F.datediff("study_end", "last_day")
            .cast("bigint")
            .alias("recency_days"),
            "frequency",
            "monetary_cents",
        )
        .localCheckpoint()
    )
    rg = _rfm_quintile_map(u, F.col("recency_days"))
    fg = _rfm_quintile_map(u, F.col("frequency"))
    mg = _rfm_quintile_map(u, F.expr("monetary_cents DIV 100"))
    out = (
        u.join(
            F.broadcast(rg.withColumnRenamed("q", "rq")),
            F.col("val") == F.col("recency_days"),
        )
        .drop("val")
        .join(
            F.broadcast(fg.withColumnRenamed("q", "fq")),
            F.col("val") == F.col("frequency"),
        )
        .drop("val")
        .join(
            F.broadcast(mg.withColumnRenamed("q", "mq")),
            F.col("val") == F.expr("monetary_cents DIV 100"),
        )
        .drop("val")
    )
    return out.select(
        "user_id",
        "recency_days",
        "frequency",
        "monetary_cents",
        (F.lit(6) - F.col("rq")).cast("bigint").alias("r_score"),
        F.col("fq").cast("bigint").alias("f_score"),
        F.col("mq").cast("bigint").alias("m_score"),
        (
            (F.lit(6) - F.col("rq")) * 100
            + F.col("fq") * 10
            + F.col("mq")
        )
        .cast("bigint")
        .alias("rfm"),
    )


_MKV_K = 40  # fixed-point iterations; chain mixes in far fewer steps
_MKV_CHANNELS = ("click", "error", "signup", "view")


def _markov_oracle() -> str:
    """Unrolled integer fixed-point over the scenario × state grid. The
    matrix is ≤ (1 + |channels|) scenarios × ≤ 7 states, so {k} chained
    CTEs of grid joins are metadata work for DuckDB; every step is the
    SAME truncating floor-div the Spark-side driver iteration uses, so
    the vectors agree bit-for-bit at every k."""
    head = f"""
WITH seq AS (
  SELECT user_id, event_type, ts, event_id,
         COALESCE(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
           END) OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS prior_p
  FROM events
),
kept AS MATERIALIZED (SELECT * FROM seq WHERE prior_p = 0),
nxt AS (
  SELECT user_id, event_type AS src,
         LEAD(event_type) OVER (PARTITION BY user_id
           ORDER BY ts, event_id) AS dst,
         ROW_NUMBER() OVER (PARTITION BY user_id
           ORDER BY ts, event_id) AS rn
  FROM kept
),
edges AS (
  SELECT 'START' AS src, src AS dst FROM nxt WHERE rn = 1
  UNION ALL
  SELECT src,
         COALESCE(dst, CASE WHEN src = 'purchase' THEN NULL
                            ELSE 'END' END) AS dst
  FROM nxt
),
e2 AS (
  SELECT src, dst FROM edges
  WHERE dst IS NOT NULL AND src <> 'purchase'
),
scen AS (
  SELECT unnest(['none', {", ".join(f"'{c}'" for c in _MKV_CHANNELS)}])
    AS scenario
),
redges AS (
  SELECT s.scenario, e.src,
         CASE WHEN e.dst = s.scenario THEN 'END' ELSE e.dst END AS dst
  FROM e2 e CROSS JOIN scen s
  WHERE e.src <> s.scenario
),
cnt AS (
  SELECT scenario, src, dst, CAST(COUNT(*) AS BIGINT) AS n
  FROM redges GROUP BY 1, 2, 3
),
mat AS MATERIALIZED (
  SELECT scenario, src, dst,
         (n * 1000000) // (SUM(n) OVER (PARTITION BY scenario, src))
           AS p_micro
  FROM cnt
),
states AS MATERIALIZED (
  SELECT DISTINCT scenario, state FROM (
    SELECT scenario, src AS state FROM mat
    UNION ALL SELECT scenario, dst FROM mat
  )
),
term AS MATERIALIZED (
  SELECT scenario, state,
         CASE WHEN state = 'purchase' THEN 1000000 ELSE 0 END AS pv
  FROM states WHERE state IN ('purchase', 'END')
),
p0 AS (
  SELECT scenario, state, CAST(0 AS BIGINT) AS pv
  FROM states WHERE state NOT IN ('purchase', 'END')
  UNION ALL SELECT scenario, state, CAST(pv AS BIGINT) FROM term
)"""
    steps = []
    for k in range(1, _MKV_K + 1):
        steps.append(f""",
p{k} AS MATERIALIZED (
  SELECT m.scenario, m.src AS state,
         CAST(SUM(m.p_micro * p.pv) // 1000000 AS BIGINT) AS pv
  FROM mat m
  JOIN p{k - 1} p ON p.scenario = m.scenario AND p.state = m.dst
  GROUP BY 1, 2
  UNION ALL
  SELECT scenario, state, CAST(pv AS BIGINT) FROM term
)""")
    tail = f""",
conv AS (
  SELECT scenario, pv FROM p{_MKV_K} WHERE state = 'START'
),
base AS (SELECT pv AS p_full FROM conv WHERE scenario = 'none'),
rem AS (
  SELECT c.scenario AS channel,
         CAST(((b.p_full - c.pv) * 1000000) // b.p_full AS BIGINT)
           AS removal_micro,
         CAST(b.p_full AS BIGINT) AS p_conv_micro
  FROM conv c CROSS JOIN base b
  WHERE c.scenario <> 'none'
)
SELECT channel, removal_micro, p_conv_micro,
       CAST((removal_micro * 1000000)
            // (SELECT SUM(removal_micro) FROM rem) AS BIGINT)
         AS attribution_micro
FROM rem
WHERE (SELECT SUM(removal_micro) FROM rem) > 0
"""
    return head + "".join(steps) + tail


_markov_oracle.__doc__ = _markov_oracle.__doc__.format(k=_MKV_K)


@query("attribution_markov_removal", oracle=_markov_oracle())
def attribution_markov_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov-chain attribution by removal effect (Anderl et al. 2014) —
    the data-driven capstone of the attribution family: model user
    journeys as a first-order chain (START → touches → purchase/END,
    truncated at the FIRST conversion), then credit each channel by how
    much the conversion probability DROPS when that channel is removed
    (its transitions redirect to END). Unlike last-touch (positional) or
    U-shaped (fixed weights), the credit here comes from the journey
    structure itself.

    Distributed part: ONE user_id-keyed window pass truncates journeys
    and extracts transitions; the edge grid is |types|²-bounded
    (event_transition_matrix's shape). Driver part: the ≤ 5-scenario ×
    ≤ 7-state matrix is a documented METADATA collect (the kmeans-
    centroid / pca-iterate class), and the absorbing-chain fixed point
    runs {k} exact integer-micro steps — Python bigints with floor-div,
    mirrored bit-for-bit by the oracle's {k} unrolled CTE steps (same
    truncation, same nonnegative domain), so not one float exists
    anywhere in the pipeline.

    Reference analog: frequencyAnalysis.py's per-group weighting layer
    (frequencyAnalysis.py:31-35) upgraded to chain-structured credit.
    """
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prior = (
        F.coalesce(
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).over(w.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0),
        )
    )
    kept = ev.select(
        "user_id", "event_type", "ts", "event_id", prior.alias("prior_p")
    ).filter(F.col("prior_p") == 0)
    nxt = kept.select(
        F.col("event_type").alias("src"),
        F.lead("event_type").over(w).alias("dst"),
        F.row_number().over(w).alias("rn"),
    )
    starts = nxt.filter(F.col("rn") == 1).select(
        F.lit("START").alias("src"), F.col("src").alias("dst")
    )
    internal = nxt.select(
        "src",
        F.coalesce(
            "dst",
            F.when(F.col("src") == "purchase", F.lit(None)).otherwise(
                F.lit("END")
            ),
        ).alias("dst"),
    ).filter(F.col("dst").isNotNull() & (F.col("src") != "purchase"))
    cnt = (
        starts.unionByName(internal)
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()  # |types|^2-bounded edge grid: metadata by construction
    )
    counts: dict[str, dict[str, int]] = {}
    for r in cnt:
        counts.setdefault(r.src, {})[r.dst] = r.n

    def p_conv(removed: str | None) -> int:
        mat: dict[str, dict[str, int]] = {}
        for s, row in counts.items():
            if s == removed:
                continue
            red: dict[str, int] = {}
            for t, n in row.items():
                red["END" if t == removed else t] = (
                    red.get("END" if t == removed else t, 0) + n
                )
            tot = sum(red.values())
            mat[s] = {t: (n * 1000000) // tot for t, n in red.items()}
        states = set(mat) | {t for r in mat.values() for t in r}
        p = {s: 0 for s in states}
        if "purchase" in states:
            p["purchase"] = 1000000
        for _ in range(_MKV_K):
            nxt_p = dict(p)
            for s, row in mat.items():
                nxt_p[s] = (
                    sum(pm * p.get(t, 0) for t, pm in row.items())
                    // 1000000
                )
            if "purchase" in states:
                nxt_p["purchase"] = 1000000
            if "END" in states:
                nxt_p["END"] = 0
            p = nxt_p
        return p.get("START", 0)

    p_full = p_conv(None)
    rows = []
    if p_full > 0:
        rems = {
            c: ((p_full - p_conv(c)) * 1000000) // p_full
            for c in _MKV_CHANNELS
        }
        tot = sum(rems.values())
        if tot > 0:
            for c in _MKV_CHANNELS:
                rows.append(
                    (c, rems[c], p_full, (rems[c] * 1000000) // tot)
                )
    return spark.createDataFrame(
        rows,
        schema=(
            "channel string, removal_micro long, p_conv_micro long,"
            " attribution_micro long"
        ),
    )


attribution_markov_removal.__doc__ = (
    attribution_markov_removal.__doc__.format(k=_MKV_K)
)


_TTC_ORACLE = """
WITH v AS (
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
),
dur AS (
  SELECT (p.t3 - v.t1) // 60000000 AS mins
  FROM p JOIN v ON v.user_id = p.user_id
),
grid AS (
  SELECT mins, CAST(COUNT(*) AS BIGINT) AS cnt FROM dur GROUP BY mins
),
cum AS (
  SELECT mins,
         CAST(SUM(cnt) OVER (ORDER BY mins) AS BIGINT) AS c,
         CAST(SUM(cnt) OVER () AS BIGINT) AS n
  FROM grid
)
SELECT CAST(MAX(n) AS BIGINT) AS n_converted,
       CAST(MIN(CASE WHEN c >= (25 * n + 99) // 100 THEN mins END)
            AS BIGINT) AS p25_min,
       CAST(MIN(CASE WHEN c >= (50 * n + 99) // 100 THEN mins END)
            AS BIGINT) AS p50_min,
       CAST(MIN(CASE WHEN c >= (75 * n + 99) // 100 THEN mins END)
            AS BIGINT) AS p75_min,
       CAST(MIN(CASE WHEN c >= (90 * n + 99) // 100 THEN mins END)
            AS BIGINT) AS p90_min
FROM cum HAVING MAX(n) > 0
"""


@query("funnel_time_to_convert", oracle=_TTC_ORACLE)
def funnel_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert percentiles for the view→click→purchase funnel:
    exact p25/p50/p75/p90 of the first-view → first-valid-purchase
    duration over converted users — the latency half of the funnel
    report (funnel_conversion gives the counts; this says HOW LONG the
    journey takes, the number an SLA or campaign window is set from).

    Exactness: durations ride the funnel's greedy stage-times fold
    (stage_times — one user_id shuffle), quantize to whole minutes
    (nonnegative truncating DIV), and the percentiles are ORDER
    STATISTICS read off the minute-grid cumulative window — ceil-rank
    semantics, k = ⌈q·n⌉, deterministic on both engines; never
    percentile_approx, never a global row sort (the grid is bounded by
    the funnel window in minutes).

    Reference analog: frequencyAnalysis.py's per-group summary layer
    (frequencyAnalysis.py:31-35) as a latency distribution.
    """
    ev = (
        load(spark, sf_dir, "events")
        .filter(F.col("event_type").isin(*_STAGES))
        .select(
            "user_id", ntz_epoch_us("ts").alias("us"), "event_type"
        )
    )
    st = stage_times(ev)
    dur = st.filter(F.col("st.t3").isNotNull()).select(
        F.expr("(st.t3 - st.t1) DIV 60000000").alias("mins")
    )
    grid = dur.groupBy("mins").agg(F.count(F.lit(1)).alias("cnt"))
    w_cum = Window.orderBy("mins").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_all = Window.partitionBy()
    cum = grid.select(
        "mins",
        F.sum("cnt").over(w_cum).cast("bigint").alias("c"),
        F.sum("cnt").over(w_all).cast("bigint").alias("n"),
    )
    def pick(q: int) -> F.Column:
        return (
            F.min(
                F.when(
                    F.expr(f"c >= ({q} * n + 99) DIV 100"),
                    F.col("mins"),
                )
            )
            .cast("bigint")
            .alias(f"p{q}_min")
        )

    out = cum.agg(
        F.max("n").cast("bigint").alias("n_converted"),
        pick(25),
        pick(50),
        pick(75),
        pick(90),
    )
    return out.filter(F.col("n_converted") > 0)

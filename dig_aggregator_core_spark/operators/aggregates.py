"""Aggregation operators (SURVEY.md §2.4) — reference rows A1-A8 plus the
GAP rows (distinct-agg, rollup/cube/grouping sets, approx sketches, stats).

All are single-pass hash aggregates with map-side partial aggregation —
Catalyst's HashAggregate(partial) -> Exchange(key) -> HashAggregate(final).
At 100 TB the only tunable is the shuffle key cardinality; these group on
low-to-mid cardinality keys so the exchange is small relative to the scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import query
from ..tables import load


@query(
    "q1_pricing_summary",
    oracle="""
    SELECT l_returnflag AS returnflag, l_linestatus AS linestatus,
           ROUND(SUM(l_quantity), 4) AS sum_qty,
           ROUND(CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS HUGEINT))
                      AS DOUBLE) / 100, 4) AS sum_base_price,
           ROUND(CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS HUGEINT)
                          * CAST(ROUND((1 - l_discount) * 100) AS HUGEINT))
                      AS DOUBLE) / 1e4, 4) AS sum_disc_price,
           ROUND(CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS HUGEINT)
                          * CAST(ROUND((1 - l_discount) * 100) AS HUGEINT)
                          * CAST(ROUND((1 + l_tax) * 100) AS HUGEINT))
                      AS DOUBLE) / 1e6, 6) AS sum_charge,
           ROUND(AVG(l_quantity), 6) AS avg_qty,
           ROUND(AVG(l_extendedprice), 6) AS avg_price,
           ROUND(AVG(l_discount), 6) AS avg_disc,
           CAST(COUNT(*) AS BIGINT) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: the canonical scan->filter->agg pipeline. The filter
    and the 2-column grouping push down; only 7 columns are read.

    Exactness: the money sums accumulate exact integer units (cents for
    the 2-decimal base price, 1e-4 units for price x discount, 1e-6 units
    for the 3-factor charge) so the coarse 6-group sums cannot drift a
    last ulp between engines as the corpus grows; sum_qty stays a plain
    double sum because l_quantity is integer-valued (exact in double to
    2^53). sum_charge rounds at 6 decimals — its exact value HAS 6
    decimals, and rounding at fewer would put engine-specific tie-breaks
    in play (PLANS.md exactness watchlist, lifted r9)."""
    li = load(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp")
    )
    # per-row products in BIGINT (cents<=5e9, factors<=110: ~7 orders of
    # headroom below 2^63); only the cross-row SUM is DECIMAL(38,0),
    # where corpus growth is unbounded. A/B at sf0.1: all-decimal 0.74 s,
    # bigint-products 0.55 s, byte-identical (PLANS.md r9 benchdiff).
    cents = "CAST(ROUND(l_extendedprice * 100) AS BIGINT)"
    disc = "CAST(ROUND((1 - l_discount) * 100) AS BIGINT)"
    tax = "CAST(ROUND((1 + l_tax) * 100) AS BIGINT)"
    return li.groupBy(
        F.col("l_returnflag").alias("returnflag"),
        F.col("l_linestatus").alias("linestatus"),
    ).agg(
        F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
        F.expr(
            f"ROUND(CAST(SUM(CAST({cents} AS DECIMAL(38,0)))"
            " AS DOUBLE) / 100, 4)"
        ).alias("sum_base_price"),
        F.expr(
            f"ROUND(CAST(SUM(CAST({cents} * {disc} AS DECIMAL(38,0)))"
            " AS DOUBLE) / 1e4, 4)"
        ).alias("sum_disc_price"),
        F.expr(
            f"ROUND(CAST(SUM(CAST({cents} * {disc} * {tax}"
            " AS DECIMAL(38,0))) AS DOUBLE) / 1e6, 6)"
        ).alias("sum_charge"),
        F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
        F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
        F.round(F.avg("l_discount"), 6).alias("avg_disc"),
        F.count("*").alias("count_order"),
    )


@query(
    "distinct_agg",
    oracle="""
    SELECT o_orderstatus AS orderstatus,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM orders GROUP BY o_orderstatus
    """,
)
def distinct_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GAP fill: distinct aggregate — Catalyst expands to a two-phase
    aggregate (expand + partial dedup before the final count)."""
    return (
        load(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderstatus").alias("orderstatus"))
        .agg(
            F.countDistinct("o_custkey").alias("n_customers"),
            F.count("*").alias("n_orders"),
        )
    )


@query(
    "rollup_agg",
    oracle="""
    SELECT COALESCE(r_name, '__total__') AS region_name,
           COALESCE(n_name, '__total__') AS nation_name,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           ROUND(CAST(SUM(CAST(ROUND(c_acctbal * 100) AS HUGEINT))
                      AS DOUBLE) / 100, 4) AS total_bal
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY ROLLUP (r_name, n_name)
    """,
)
def rollup_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GAP fill: hierarchical rollup (region -> nation -> grand total).

    Exactness: acctbal sums in exact cents — the rollup's grand-total row
    is the coarsest possible key (ONE group whose magnitude grows with
    the corpus), the class that drifted at 10x in r7 (lifted r9)."""
    cust = load(spark, sf_dir, "customer")
    nation = F.broadcast(load(spark, sf_dir, "nation"))
    region = F.broadcast(load(spark, sf_dir, "region"))
    joined = cust.join(
        nation, cust.c_nationkey == nation.n_nationkey
    ).join(region, nation.n_regionkey == region.r_regionkey)
    return (
        joined.rollup("r_name", "n_name")
        .agg(
            F.count("*").alias("n_customers"),
            F.expr(
                "ROUND(CAST(SUM(CAST(ROUND(c_acctbal * 100) AS"
                " DECIMAL(38,0))) AS DOUBLE) / 100, 4)"
            ).alias("total_bal"),
        )
        .select(
            F.coalesce("r_name", F.lit("__total__")).alias("region_name"),
            F.coalesce("n_name", F.lit("__total__")).alias("nation_name"),
            "n_customers",
            "total_bal",
        )
    )


@query(
    "cube_agg",
    oracle="""
    SELECT COALESCE(o_orderstatus, '__all__') AS orderstatus,
           COALESCE(o_orderpriority, '__all__') AS orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def cube_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GAP fill: full cube over two dimensions."""
    return (
        load(spark, sf_dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(F.count("*").alias("n_orders"))
        .select(
            F.coalesce("o_orderstatus", F.lit("__all__")).alias("orderstatus"),
            F.coalesce("o_orderpriority", F.lit("__all__")).alias("orderpriority"),
            "n_orders",
        )
    )


@query(
    "grouping_sets",
    oracle="""
    SELECT COALESCE(c_mktsegment, '__gs__') AS mktsegment,
           COALESCE(CAST(c_nationkey AS VARCHAR), '__gs__') AS nationkey,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM customer
    GROUP BY GROUPING SETS ((c_mktsegment), (c_nationkey))
    """,
)
def grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GAP fill: explicit grouping sets via Spark SQL."""
    load(spark, sf_dir, "customer").createOrReplaceTempView("customer_gs")
    return spark.sql(
        """
        SELECT COALESCE(c_mktsegment, '__gs__') AS mktsegment,
               COALESCE(CAST(c_nationkey AS STRING), '__gs__') AS nationkey,
               COUNT(*) AS n
        FROM customer_gs
        GROUP BY GROUPING SETS ((c_mktsegment), (c_nationkey))
        """
    )


@query(
    "stats_agg",
    oracle="""
    SELECT c_mktsegment AS mktsegment,
           ROUND(stddev_samp(c_acctbal), 4) AS sd_bal,
           ROUND(var_samp(c_acctbal), 4) AS var_bal,
           ROUND(MIN(c_acctbal), 4) AS min_bal,
           ROUND(MAX(c_acctbal), 4) AS max_bal
    FROM customer GROUP BY c_mktsegment
    """,
)
def stats_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GAP fill: statistical aggregates (sample stddev/variance)."""
    return (
        load(spark, sf_dir, "customer")
        .groupBy(F.col("c_mktsegment").alias("mktsegment"))
        .agg(
            F.round(F.stddev_samp("c_acctbal"), 4).alias("sd_bal"),
            F.round(F.var_samp("c_acctbal"), 4).alias("var_bal"),
            F.round(F.min("c_acctbal"), 4).alias("min_bal"),
            F.round(F.max("c_acctbal"), 4).alias("max_bal"),
        )
    )


@query(
    "stats_correlation",
    oracle="""
    SELECT l_returnflag AS returnflag,
           ROUND(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
           ROUND(covar_samp(l_quantity, l_extendedprice), 2) AS covar_s,
           ROUND(covar_pop(l_quantity, l_extendedprice), 2) AS covar_p,
           ROUND(regr_slope(l_extendedprice, l_quantity), 4) AS slope
    FROM lineitem
    WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
      AND NOT isnan(l_extendedprice)
    GROUP BY l_returnflag
    """,
)
def stats_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bivariate statistical aggregates — Pearson correlation,
    sample/population covariance, and OLS slope per group. All four are
    algebraic aggregates (sums of x, y, x*y, x^2 moments), so Spark
    computes them with map-side partials in one pass — the same shape as
    sum/avg, no second scan and no sort."""
    li = load(spark, sf_dir, "lineitem").filter(
        F.col("l_quantity").isNotNull()
        & F.col("l_extendedprice").isNotNull()
        & ~F.isnan("l_extendedprice")
    )
    return li.groupBy(F.col("l_returnflag").alias("returnflag")).agg(
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias(
            "corr_qty_price"
        ),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 2).alias(
            "covar_s"
        ),
        F.round(F.covar_pop("l_quantity", "l_extendedprice"), 2).alias(
            "covar_p"
        ),
        F.round(
            F.regr_slope("l_extendedprice", "l_quantity"), 4
        ).alias("slope"),
    )


@query(
    "percentile_agg",
    oracle="""
    SELECT o_orderpriority AS orderpriority,
           ROUND(quantile_cont(o_totalprice, 0.5), 4) AS p50,
           ROUND(quantile_cont(o_totalprice, 0.9), 4) AS p90
    FROM orders GROUP BY o_orderpriority
    """,
)
def percentile_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GAP fill: exact continuous percentiles (Spark `percentile` ==
    DuckDB `quantile_cont`, both linear-interpolation). At 100 TB swap for
    `percentile_approx` (t-digest sketch, mergeable, no full sort)."""
    return (
        load(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderpriority").alias("orderpriority"))
        .agg(
            F.round(F.expr("percentile(o_totalprice, 0.5)"), 4).alias("p50"),
            F.round(F.expr("percentile(o_totalprice, 0.9)"), 4).alias("p90"),
        )
    )


@query(
    "approx_count_distinct_bounded",
    oracle="""
    SELECT l_returnflag AS returnflag,
           CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS exact_orders,
           TRUE AS within_bound
    FROM lineitem GROUP BY l_returnflag
    """,
)
def approx_count_distinct_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GAP fill: HyperLogLog++ distinct sketch — the 100 TB path for
    cardinality estimation (mergeable, fixed memory). Computes the HLL
    estimate AND the exact distinct count per group, and asserts the sketch
    lands within 5x its configured 1% relative standard deviation. The
    estimate itself is engine-specific (no SQL oracle can pin it) so it is
    folded into a boolean the oracle can pin as TRUE — if the sketch ever
    drifts out of bound the value-hash mismatches, giving the sketch hard
    correctness evidence. (An unbounded `approx_count_distinct` twin was
    registered through r3 with a rows-only check; it was retired in r4 so
    every registered query has a full value oracle — this bounded form IS
    the sketch's evidence.)"""
    return (
        load(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_returnflag").alias("returnflag"))
        .agg(
            F.countDistinct("l_orderkey").alias("exact_orders"),
            F.approx_count_distinct("l_orderkey", 0.01).alias("_approx"),
        )
        .select(
            "returnflag",
            "exact_orders",
            (
                F.abs(F.col("_approx") - F.col("exact_orders"))
                <= F.greatest(
                    F.col("exact_orders") * F.lit(0.05), F.lit(5.0)
                )
            ).alias("within_bound"),
        )
    )


@query(
    "count_per_group",
    oracle="""
    SELECT o_orderpriority AS output, CAST(COUNT(*) AS BIGINT) AS n
    FROM orders GROUP BY o_orderpriority
    """,
)
def count_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8: per-output work counting (Stage.scala:288-290)."""
    return (
        load(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderpriority").alias("output"))
        .agg(F.count("*").alias("n"))
    )


@query(
    "collect_set_groups",
    oracle="""
    SELECT n_regionkey AS regionkey,
           array_to_string(list_sort(list(DISTINCT n_name)), ',') AS nations
    FROM nation GROUP BY n_regionkey
    """,
)
def collect_set_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4: group-into-set — the output-map build (Stage.scala:183) as
    groupBy + collect_set. The set is sorted and joined to one scalar string
    per group so the result row is hashable by any downstream comparator
    (array cells are not); set semantics are still fully pinned because the
    sorted-joined string is a bijection of the set for these values."""
    return (
        load(spark, sf_dir, "nation")
        .groupBy(F.col("n_regionkey").alias("regionkey"))
        .agg(
            F.concat_ws(",", F.sort_array(F.collect_set("n_name"))).alias(
                "nations"
            )
        )
    )


@query(
    "empty_relation",
    oracle="SELECT l_orderkey AS orderkey FROM lineitem WHERE l_quantity < 0",
)
def empty_relation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7: the empty-input early-exit (frequencyAnalysis.py:16). Our engine
    uses df.isEmpty() (a limit-1 job, not a full scan like rdd.isEmpty);
    here the driver verifies a 0-row result propagates correctly."""
    return (
        load(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") < 0)
        .select(F.col("l_orderkey").alias("orderkey"))
    )


@query(
    "incremental_agg_merge",
    oracle="""
    SELECT o_orderstatus AS status, CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(CAST(SUM(CAST(ROUND(o_totalprice * 100) AS HUGEINT))
                      AS DOUBLE) / 100, 4) AS total
    FROM orders GROUP BY o_orderstatus
    """,
)
def incremental_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance — the reference's delta model
    (Stage.scala:249-266) applied to an aggregate instead of a job list: a
    stored partial aggregate over already-processed data is MERGED with the
    partial aggregate of the new delta, never recomputing the old half.
    Works because count/sum are algebraic (merge = sum of partials); avg
    and friends decompose the same way. The oracle pins merged == full
    recompute. At 100 TB this is the difference between touching the day's
    delta and re-scanning the table: both partials group on the same key,
    so the merge is a co-partitioned union+sum."""
    import os
    import tempfile

    orders = load(spark, sf_dir, "orders")
    # partials accumulate EXACT CENTS (the sf0.1 exactness sweep caught
    # double-sum last-ulp drift vs the oracle at 10x data): money has 2
    # decimals, so ROUND(x*100) is integral, the DECIMAL(38,0) sum is
    # exact through the store-and-merge, and the single final /100 +
    # ROUND(,4) of a 2-decimal value is engine-deterministic
    partial = lambda df: df.groupBy("o_orderstatus").agg(  # noqa: E731
        F.count("*").alias("pn"),
        F.expr(
            "SUM(CAST(ROUND(o_totalprice * 100) AS DECIMAL(38,0)))"
        ).alias("ptotal_cents"),
    )
    stored_path = os.path.join(
        tempfile.gettempdir(), "spark_graft_scratch", "agg_state"
    )
    # epoch 1: "already processed" history -> stored partial aggregate
    partial(orders.filter(F.col("o_orderkey") % 2 == 0)).write.mode(
        "overwrite"
    ).parquet(stored_path)
    # epoch 2: only the delta is aggregated, then merged with the store
    delta = partial(orders.filter(F.col("o_orderkey") % 2 == 1))
    stored = spark.read.parquet(stored_path)
    return (
        stored.unionByName(delta)
        .groupBy(F.col("o_orderstatus").alias("status"))
        .agg(
            F.sum("pn").alias("n"),
            F.expr(
                "ROUND(CAST(SUM(ptotal_cents) AS DOUBLE) / 100, 4)"
            ).alias("total"),
        )
    )


HIST_LO, HIST_W, HIST_N = 0.0, 25_000.0, 24  # fixed price buckets


@query(
    "histogram_fixed_buckets",
    oracle=f"""
    SELECT o_orderpriority AS orderpriority,
           CAST(LEAST(GREATEST(FLOOR((o_totalprice - {HIST_LO})
             / {HIST_W}), 0), {HIST_N - 1}) AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(CAST(SUM(CAST(ROUND(o_totalprice * 100) AS HUGEINT))
                      AS DOUBLE) / 100, 2) AS bucket_total
    FROM orders GROUP BY 1, 2
    """,
)
def histogram_fixed_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram per group — the BI workhorse behind every
    price/latency distribution chart. The bucket index is a pure
    expression (floor of the scaled value, clamped to the edge buckets),
    so the whole op is one partial-aggregated groupBy on
    (group, bucket) — same scaling behavior as any count/sum aggregate,
    and the output is bounded by |groups| x {HIST_N} regardless of input
    size."""
    bucket = (
        F.least(
            F.greatest(
                F.floor((F.col("o_totalprice") - HIST_LO) / HIST_W),
                F.lit(0),
            ),
            F.lit(HIST_N - 1),
        )
        .cast("bigint")
        .alias("bucket")
    )
    return (
        load(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderpriority").alias("orderpriority"), bucket)
        .agg(
            F.count("*").alias("n"),
            # exact cents: (priority, bucket) is a bounded key set whose
            # per-group magnitude grows with the corpus (lifted r9)
            F.expr(
                "ROUND(CAST(SUM(CAST(ROUND(o_totalprice * 100) AS"
                " DECIMAL(38,0))) AS DOUBLE) / 100, 2)"
            ).alias("bucket_total"),
        )
    )


@query(
    "percentile_approx_bounded",
    oracle="""
    SELECT o_orderpriority AS orderpriority,
           ROUND(quantile_cont(o_totalprice, 0.5), 4) AS exact_p50,
           TRUE AS within_bound
    FROM orders GROUP BY o_orderpriority
    """,
)
def percentile_approx_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-error companion for the t-digest percentile sketch (the
    same device as `approx_count_distinct_bounded`): computes the exact
    p50 AND `percentile_approx` (accuracy 10000) per group and folds the
    sketch into a boolean the oracle pins as TRUE. The bound is
    RANK-based, not value-based — the sketch's p50 must lie within the
    exact [p40, p60] — because the sketch returns an actual data point
    and value gaps near the median are unbounded on sparse data, while
    the rank error of a t-digest is what its accuracy knob actually
    bounds. At 100 TB the approx form is the one to run (mergeable
    sketch, no full sort); this row is its standing evidence."""
    return (
        load(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderpriority").alias("orderpriority"))
        .agg(
            F.round(
                F.expr("percentile(o_totalprice, 0.5)"), 4
            ).alias("exact_p50"),
            F.expr("percentile(o_totalprice, 0.40)").alias("_lo"),
            F.expr("percentile(o_totalprice, 0.60)").alias("_hi"),
            F.expr(
                "percentile_approx(o_totalprice, 0.5, 10000)"
            ).alias("_approx"),
        )
        .select(
            "orderpriority",
            "exact_p50",
            (
                (F.col("_approx") >= F.col("_lo"))
                & (F.col("_approx") <= F.col("_hi"))
            ).alias("within_bound"),
        )
    )


_SKEW_ORACLE = """
WITH per_key AS (
  SELECT o_custkey AS key, CAST(COUNT(*) AS BIGINT) AS n
  FROM orders GROUP BY o_custkey
),
tot AS (SELECT CAST(SUM(n) AS DOUBLE) AS total, CAST(MAX(n) AS BIGINT) AS max_n FROM per_key)
SELECT key, n, ROUND(n / total, 6) AS share
FROM per_key, tot
WHERE n = max_n OR n >= 30
ORDER BY n DESC, key
LIMIT 20
"""


@query("skew_diagnose_keys", oracle=_SKEW_ORACLE)
def skew_diagnose_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-skew diagnostic: per-key cardinality profile of a join/agg
    key, emitting the heaviest keys with their share of total rows — the
    measurement that decides WHERE salting (join_salted_skew) or AQE
    skew-splitting is needed before a 100 TB shuffle, instead of
    discovering the straggler task in the Spark UI afterwards.

    One groupBy on the key (the exact shuffle being diagnosed, but
    reduced map-side to one row per key), a scalar total, and a top-k:
    TakeOrderedAndProject, no global sort. The threshold predicate (max
    key always included) keeps the report non-empty on uniform data.
    """
    per_key = (
        load(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("key"))
        .agg(F.count("*").alias("n"))
    )
    tot = per_key.agg(
        F.sum("n").cast("double").alias("total"),
        F.max("n").alias("max_n"),
    )
    return (
        per_key.join(F.broadcast(tot))
        .filter((F.col("n") == F.col("max_n")) | (F.col("n") >= 30))
        .select(
            "key",
            "n",
            F.round(F.col("n") / F.col("total"), 6).alias("share"),
        )
        .orderBy(F.desc("n"), "key")
        .limit(20)
    )


_MODE_ORACLE = """
WITH counted AS (
  SELECT l_returnflag AS flag, l_shipmode_proxy AS mode_val, n,
         ROW_NUMBER() OVER (PARTITION BY l_returnflag
                            ORDER BY n DESC, l_shipmode_proxy) AS rk
  FROM (
    SELECT l_returnflag, l_linestatus AS l_shipmode_proxy,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM lineitem GROUP BY 1, 2
  )
)
SELECT flag, mode_val, n FROM counted WHERE rk = 1
"""


@query("agg_mode_per_group", oracle=_MODE_ORACLE)
def agg_mode_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical mode per group (most frequent value, deterministic
    smallest-value tie-break) via count-then-rank: two map-side-combined
    aggregations and a WindowGroupLimit-prunable rank — the
    distributed-safe form of MODE() that never materializes a per-group
    value list (collect_list would OOM on a skewed 100 TB group)."""
    counted = (
        load(spark, sf_dir, "lineitem")
        .groupBy(
            F.col("l_returnflag").alias("flag"),
            F.col("l_linestatus").alias("mode_val"),
        )
        .agg(F.count("*").alias("n"))
    )
    w = Window.partitionBy("flag").orderBy(F.desc("n"), "mode_val")
    return (
        counted.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("flag", "mode_val", "n")
    )


@query(
    "hll_sketch_union_bounded",
    oracle="""
    SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS exact_orders,
           CAST(COUNT(DISTINCT l_returnflag) AS BIGINT) AS n_shards,
           TRUE AS within_bound
    FROM lineitem
    """,
)
def hll_sketch_union_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch workflow via Datasketches HLL (Spark 3.5+): each
    shard (returnflag here) builds its OWN binary sketch with
    `hll_sketch_agg`, and the global cardinality comes from
    `hll_union_agg` over the per-shard sketches — never re-touching the
    rows. This is the 100 TB cross-shard distinct story: per-partition /
    per-day sketches persist as small binary columns (a few KB each), and
    any rollup (day→month, shard→global) is a union of sketches, not a
    rescan. `approx_count_distinct` folds the same idea into one pass;
    this op pins the explicit persist-then-merge algebra.

    Correctness evidence follows the `_bounded` companion pattern: the
    unioned estimate is asserted within 5x the sketch's relative error of
    the exact distinct count and folded into a boolean the SQL oracle
    pins TRUE, alongside exact values — engine-specific estimates never
    reach the hash comparison.
    """
    li = load(spark, sf_dir, "lineitem")
    shard_sketches = li.groupBy("l_returnflag").agg(
        F.hll_sketch_agg("l_orderkey", F.lit(14)).alias("sk")
    )
    merged = shard_sketches.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("_est"),
        F.count("*").alias("n_shards"),
    )
    exact = li.agg(F.countDistinct("l_orderkey").alias("exact_orders"))
    return exact.join(merged).select(
        "exact_orders",
        "n_shards",
        (
            F.abs(F.col("_est") - F.col("exact_orders"))
            <= F.greatest(F.col("exact_orders") * F.lit(0.05), F.lit(5.0))
        ).alias("within_bound"),
    )


@query(
    "approx_top_k_bounded",
    oracle="""
    SELECT o_orderpriority AS item, CAST(COUNT(*) AS BIGINT) AS n
    FROM orders GROUP BY o_orderpriority
    """,
)
def approx_top_k_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitters via the approx_top_k sketch (Spark 4) — the 100 TB
    path for "most frequent items" when the item domain is too large to
    GROUP BY exactly: fixed-memory per partition, mergeable partials, one
    row of sketch state to the driver.

    Evidence device (same as approx_count_distinct_bounded): when the
    true item cardinality is at most k and well under the sketch's
    maxItemsTracked, the sketch holds EVERY item's exact count — no
    eviction can occur — so the exploded (item, count) rows must equal
    the exact GROUP BY, which is what the oracle pins. o_orderpriority
    has 5 values; k=8 and the default 10k capacity make exactness a
    structural guarantee, not luck."""
    sk = load(spark, sf_dir, "orders").agg(
        F.expr("approx_top_k(o_orderpriority, 8)").alias("tk")
    )
    return sk.select(F.explode("tk").alias("e")).select(
        F.col("e.item").alias("item"),
        F.col("e.count").cast("bigint").alias("n"),
    )


@query(
    "incremental_join_maintenance",
    oracle="""
    SELECT c_mktsegment AS segment, CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(CAST(SUM(CAST(ROUND(o_totalprice * 100) AS HUGEINT))
                      AS DOUBLE) / 100, 4) AS total
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
)
def incremental_join_maintenance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Incremental maintenance of a JOIN view — the delta algebra
    V' = V ∪ (ΔA ⋈ B) ∪ (A ⋈ ΔB) ∪ (ΔA ⋈ ΔB): the stored view absorbs
    both sides' new rows by joining only the DELTAS against the old
    snapshots, never re-joining the old halves (whose join is already in
    V). This is incremental_agg_merge's idea lifted from algebraic
    aggregates to the join operator itself — together they make any
    aggregate-over-join pipeline refreshable by touching only the day's
    deltas. The oracle pins maintained == full recompute.

    Epochs are deterministic splits: orders by orderkey parity, customer
    by custkey mod 3. Scale shape: the three delta joins each have at
    least one DELTA side (small by definition — AQE broadcasts it), so
    the maintenance cost is O(|Δ|) joins plus a union with the stored
    view; the final reduce keys on the tiny segment dimension. The full
    A ⋈ B re-join never runs after epoch 1."""
    import os
    import tempfile

    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    cust = load(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    a_old = orders.filter(F.col("o_orderkey") % 2 == 0)
    a_delta = orders.filter(F.col("o_orderkey") % 2 == 1)
    b_old = cust.filter(F.col("c_custkey") % 3 != 0)
    b_delta = cust.filter(F.col("c_custkey") % 3 == 0)

    join = lambda a, b: a.join(  # noqa: E731
        b, F.col("o_custkey") == F.col("c_custkey")
    ).select("o_orderkey", "o_totalprice", "c_mktsegment")

    stored_path = os.path.join(
        tempfile.gettempdir(), "spark_graft_scratch", "join_view_state"
    )
    # epoch 1: the stored view = old ⋈ old
    join(a_old, b_old).write.mode("overwrite").parquet(stored_path)
    stored = spark.read.parquet(stored_path)
    # epoch 2: deltas only — the old x old join is NOT recomputed
    maintained = (
        stored.unionByName(join(a_delta, b_old))
        .unionByName(join(a_old, b_delta))
        .unionByName(join(a_delta, b_delta))
    )
    return maintained.groupBy(
        F.col("c_mktsegment").alias("segment")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        # exact cents on the bounded segment key (lifted r9)
        F.expr(
            "ROUND(CAST(SUM(CAST(ROUND(o_totalprice * 100) AS"
            " DECIMAL(38,0))) AS DOUBLE) / 100, 4)"
        ).alias("total"),
    )


# count-min sketch geometry: D_ROWS independent hash rows x W_BUCKETS
# counters. W is deliberately SMALLER than the fixture vocabulary (31
# distinct tokens) so collisions — the thing the min-over-rows corrects —
# actually occur and the overestimate column is non-trivially exercised.
CMS_D = 3
CMS_W = 16

# engine-identical 32-bit hash of (row_id ':' token), bucketed
_CMS_H_SPARK = (
    "CAST(conv(substring(md5(concat(CAST(j AS STRING), ':', token)),"
    f" 1, 8), 16, 10) AS BIGINT) % {CMS_W}"
)
_CMS_H_DUCK = (
    "CAST(('0x' || substring(md5(CAST(j AS VARCHAR) || ':' || token),"
    f" 1, 8)) AS BIGINT) % {CMS_W}"
)


@query(
    "cms_frequency_estimate",
    oracle=f"""
    WITH vocab AS (
      SELECT tok AS token, CAST(COUNT(*) AS BIGINT) AS exact_n
      FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
      WHERE tok <> '' GROUP BY 1
    ),
    cells AS (
      SELECT token, exact_n, j, {_CMS_H_DUCK} AS bucket,
             CAST(SUM(exact_n) OVER (
               PARTITION BY j, {_CMS_H_DUCK}) AS BIGINT) AS cell_n
      FROM vocab CROSS JOIN (SELECT unnest(range({CMS_D})) AS j)
    )
    SELECT token, MIN(exact_n) AS exact_n,
           CAST(MIN(cell_n) AS BIGINT) AS est_n,
           CAST(MIN(cell_n) - MIN(exact_n) AS BIGINT) AS overestimate
    FROM cells GROUP BY token
    """,
)
def cms_frequency_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch (Cormode & Muthukrishnan 2005) over the document
    token stream: {CMS_D} hash rows x {CMS_W} counters, point estimate =
    min over rows of the hashed cell — the fixed-memory frequency
    sketch that complements the HLL (distinct) and t-digest (quantile)
    rows in this module's sketch-algebra family. Output pairs every
    token's exact count with its CMS estimate and the (always >= 0)
    overestimate, so the row IS the sketch-accuracy audit.

    Spark shape: ONE corpus scan explodes tokens into a vocab-keyed
    count (the only data-sized shuffle); the 2 x {CMS_D} x {CMS_W}-cell
    sketch is then derived from that vocab grid by a window over the
    grid partitioned by (row, bucket) — the quality_drift lesson: a
    groupBy-then-join-back would fork the lineage and re-scan the
    corpus, while the window touches only the metadata-sized grid. At
    100 TB the equivalent deployment builds per-partition sketches
    map-side and merges them (counter-wise sum — the same algebra this
    derivation encodes); the vocab-grid form is the oracle-exact
    statement of that algebra. Hashing is the library's md5-h32
    convention (engine-identical, partitioning-invariant)."""
    vocab = (
        load(spark, sf_dir, "documents")
        .select(F.explode(F.split("text", " ")).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("exact_n"))
    )
    rows = vocab.crossJoin(
        F.broadcast(
            vocab.sparkSession.range(CMS_D).select(F.col("id").alias("j"))
        )
    ).withColumn("bucket", F.expr(_CMS_H_SPARK))
    w = Window.partitionBy("j", "bucket")
    cells = rows.withColumn(
        "cell_n", F.sum("exact_n").over(w).cast("bigint")
    )
    return cells.groupBy("token").agg(
        F.min("exact_n").alias("exact_n"),
        F.min("cell_n").alias("est_n"),
        (F.min("cell_n") - F.min("exact_n")).cast("bigint")
        .alias("overestimate"),
    )


cms_frequency_estimate.__doc__ = cms_frequency_estimate.__doc__.format(
    CMS_D=CMS_D, CMS_W=CMS_W
)

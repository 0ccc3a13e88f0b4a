"""Feature-preprocessing operators — per-group normalization and robust
statistics, the numeric-column siblings of the text-quality filters in
operators/curation.py: z-score outlier detection and winsorized
(percentile-clamped) robust means per group.

Reference analog: the frequency stage's per-group statistics
(frequencyAnalysis.py:31-35) generalized to the standardization /
outlier-trimming steps every training-data pipeline applies to numeric
feature columns before model consumption.

Scale notes (100 TB):
- Both ops aggregate on `event_type` (a low-cardinality categorical key):
  partial aggregation collapses each map partition to one row per group
  before the shuffle, so the shuffle moves O(groups × partitions) rows
  regardless of input size.
- z-score uses a two-pass shape (aggregate stats, broadcast them back via
  an equi-join) rather than a window over the raw rows — a window with an
  unbounded frame over a 100 TB partition would sort and buffer the full
  partition per group; the aggregate+broadcast-join form shuffles only
  the group stats.
- winsorize uses exact `percentile` here (oracle-checkable); at 100 TB
  swap to `approx_percentile` — same plan shape, sketch-mergeable, and
  the clamp bounds stop being exact but the aggregation stays one pass.
- Everything is built-in column expressions: zero Python, full
  whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import query
from ..tables import build_once, load, maybe_spread, ntz_epoch_us

Z_THRESHOLD = 2.5  # |z| above this is an outlier row
WINSOR_LO, WINSOR_HI = 0.05, 0.95  # clamp percentiles


@query(
    "feature_zscore_outliers",
    oracle=f"""
    WITH stats AS (
      SELECT event_type,
             AVG(value) AS mu,
             stddev_samp(value) AS sigma
      FROM events GROUP BY event_type
    )
    SELECT e.event_id, e.event_type,
           ROUND(e.value, 6) AS value,
           ROUND((e.value - s.mu) / s.sigma, 6) AS z
    FROM events e JOIN stats s USING (event_type)
    WHERE s.sigma > 0
      AND abs(e.value - s.mu) > {Z_THRESHOLD} * s.sigma
    """,
)
def feature_zscore_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group z-score standardization, returning the outlier rows
    (|z| > Z_THRESHOLD).

    Two-pass: aggregate (mu, sigma) per event_type, then join the tiny
    stats relation back (broadcast) and filter. The filter is written on
    the raw values (`abs(v - mu) > k*sigma`), not the rounded z, so both
    engines make the same keep/drop decision bit-for-bit.
    """
    ev = load(spark, sf_dir, "events")
    stats = ev.groupBy("event_type").agg(
        F.avg("value").alias("mu"),
        F.stddev_samp("value").alias("sigma"),
    )
    return (
        ev.join(F.broadcast(stats), "event_type")
        .where(
            (F.col("sigma") > 0)
            & (F.abs(F.col("value") - F.col("mu")) > Z_THRESHOLD * F.col("sigma"))
        )
        .select(
            "event_id",
            "event_type",
            F.round("value", 6).alias("value"),
            F.round((F.col("value") - F.col("mu")) / F.col("sigma"), 6).alias("z"),
        )
    )


@query(
    "feature_winsorized_stats",
    oracle=f"""
    WITH bounds AS (
      SELECT event_type,
             quantile_cont(value, {WINSOR_LO}) AS lo,
             quantile_cont(value, {WINSOR_HI}) AS hi
      FROM events GROUP BY event_type
    )
    SELECT e.event_type,
           ROUND(MAX(b.lo), 6) AS p_lo,
           ROUND(MAX(b.hi), 6) AS p_hi,
           ROUND(AVG(CASE WHEN e.value < b.lo THEN b.lo
                          WHEN e.value > b.hi THEN b.hi
                          ELSE e.value END), 6) AS winsor_mean,
           CAST(SUM(CASE WHEN e.value < b.lo OR e.value > b.hi
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_clamped
    FROM events e JOIN bounds b USING (event_type)
    GROUP BY e.event_type
    """,
)
def feature_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized mean per group: clamp values to the [p05, p95] band,
    then average — the robust-mean preprocessing step that tames heavy
    tails before feature scaling.

    Exact `percentile` keeps the op oracle-checkable; the 100 TB variant
    substitutes `approx_percentile` (same two-aggregate plan, mergeable
    sketch). Clamp comparisons run on unrounded doubles so both engines
    clamp the same rows (interpolated bounds are bit-identical when the
    rank lands on a data point, strictly between points otherwise).
    """
    ev = load(spark, sf_dir, "events")
    bounds = ev.groupBy("event_type").agg(
        F.expr(f"percentile(value, {WINSOR_LO})").alias("lo"),
        F.expr(f"percentile(value, {WINSOR_HI})").alias("hi"),
    )
    clamped = ev.join(F.broadcast(bounds), "event_type").withColumn(
        "cv",
        F.when(F.col("value") < F.col("lo"), F.col("lo"))
        .when(F.col("value") > F.col("hi"), F.col("hi"))
        .otherwise(F.col("value")),
    )
    return clamped.groupBy("event_type").agg(
        F.round(F.max("lo"), 6).alias("p_lo"),
        F.round(F.max("hi"), 6).alias("p_hi"),
        F.round(F.avg("cv"), 6).alias("winsor_mean"),
        F.sum(
            ((F.col("value") < F.col("lo")) | (F.col("value") > F.col("hi"))).cast(
                "bigint"
            )
        ).alias("n_clamped"),
    )


_MAD_ORACLE = """
WITH med AS (
  SELECT event_type, MEDIAN(value) AS med
  FROM events GROUP BY event_type
),
dev AS (
  SELECT e.event_type, MEDIAN(ABS(e.value - m.med)) AS mad
  FROM events e JOIN med m USING (event_type)
  GROUP BY e.event_type
)
SELECT e.event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CASE WHEN ABS(e.value - m.med) > 3.5 * 1.4826 * d.mad
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
       ROUND(MAX(ABS(e.value - m.med) / (1.4826 * d.mad)), 4)
         AS max_robust_z
FROM events e JOIN med m USING (event_type) JOIN dev d USING (event_type)
GROUP BY e.event_type
"""


@query("feature_mad_outliers", oracle=_MAD_ORACLE)
def feature_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection via MAD (median absolute deviation):
    robust-z = |x - median| / (1.4826 * MAD), flagged above 3.5 — the
    standard robust alternative to z-score when the column itself
    contains the outliers that corrupt mean/stddev (z-score masks its
    own targets; the median pair does not).

    Three aggregation passes on the same low-cardinality group key
    (median -> MAD -> flags), each collapsing map-side to one row per
    group, stats broadcast-joined back between passes — never a window
    over raw rows. Exact `median` keeps the oracle bit-checkable; at
    100 TB swap `approx_percentile(0.5)` into both stat passes for one
    sketch-mergeable pass each, same plan shape.
    """
    ev = load(spark, sf_dir, "events").select("event_type", "value")
    med = ev.groupBy("event_type").agg(
        F.expr("median(value)").alias("med")
    )
    with_med = ev.join(F.broadcast(med), "event_type")
    dev = with_med.groupBy("event_type").agg(
        F.expr("median(abs(value - med))").alias("mad")
    )
    scale = 1.4826
    return (
        with_med.join(F.broadcast(dev), "event_type")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(
                F.when(
                    F.abs(F.col("value") - F.col("med"))
                    > 3.5 * scale * F.col("mad"),
                    1,
                ).otherwise(0)
            ).alias("n_outliers"),
            F.round(
                F.max(
                    F.abs(F.col("value") - F.col("med"))
                    / (scale * F.col("mad"))
                ),
                4,
            ).alias("max_robust_z"),
        )
    )


@query(
    "feature_quantile_bucketize",
    oracle="""
    WITH cuts AS (
      SELECT quantile_cont(o_totalprice, 0.25) AS q1,
             quantile_cont(o_totalprice, 0.50) AS q2,
             quantile_cont(o_totalprice, 0.75) AS q3
      FROM orders
    )
    SELECT CAST(CASE WHEN o_totalprice <= q1 THEN 0
                     WHEN o_totalprice <= q2 THEN 1
                     WHEN o_totalprice <= q3 THEN 2
                     ELSE 3 END AS INT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(MIN(o_totalprice), 4) AS lo,
           ROUND(MAX(o_totalprice), 4) AS hi
    FROM orders, cuts
    GROUP BY 1
    """,
)
def feature_quantile_bucketize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile bucketizing (the QuantileDiscretizer / feature-binning
    step): compute quartile cut points in one aggregate, then assign each
    row its bucket with a pure CASE expression against the broadcast
    1-row cut table. Exact percentile keeps the oracle bit-exact; the
    100 TB swap is approx_percentile with the same downstream CASE (the
    rank-error bound only moves rows whose value sits within epsilon of a
    cut).

    Plan: agg to one row -> broadcast nested-loop join (1 row, free) ->
    map-side CASE -> final small agg. The fact table is scanned twice
    (once for cuts, once for assignment) — at scale, cuts come from the
    previous pipeline stage's profile instead, making this one pass."""
    o = load(spark, sf_dir, "orders")
    cuts = o.agg(
        F.expr("percentile(o_totalprice, 0.25)").alias("q1"),
        F.expr("percentile(o_totalprice, 0.50)").alias("q2"),
        F.expr("percentile(o_totalprice, 0.75)").alias("q3"),
    )
    assigned = o.crossJoin(F.broadcast(cuts)).select(
        F.when(F.col("o_totalprice") <= F.col("q1"), 0)
        .when(F.col("o_totalprice") <= F.col("q2"), 1)
        .when(F.col("o_totalprice") <= F.col("q3"), 2)
        .otherwise(3)
        .cast("int")
        .alias("bucket"),
        "o_totalprice",
    )
    return assigned.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.min("o_totalprice"), 4).alias("lo"),
        F.round(F.max("o_totalprice"), 4).alias("hi"),
    )


_BOOT_B = 50  # bootstrap replicas
# deterministic "Poisson(1)" replica weight: md5(event:replica) -> uniform
# h in [0,1); w = 0 below e^-1, 1 below 2e^-1, else 2. Same arithmetic on
# both engines, so the oracle is exact; the truncation at 2 biases the CI
# width slightly narrow vs true Poisson resampling (documented trade for
# cross-engine determinism — rand()-based weights would not replay).
_BOOT_W = (
    "CASE WHEN {h} < 0.367879 THEN 0"
    " WHEN {h} < 0.735758 THEN 1 ELSE 2 END"
)
_H_SQL = (
    "(CAST(('0x' || substr(md5(event_id || ':' || r), 1, 8)) AS BIGINT)"
    " / 4294967296.0)"
)
_H_SPARK = (
    "(CAST(conv(substring(md5(concat(CAST(event_id AS STRING), ':',"
    " CAST(r AS STRING))), 1, 8), 16, 10) AS BIGINT) / 4294967296.0)"
)

_BOOT_ORACLE = f"""
WITH reps AS (
  SELECT e.event_id, e.event_type, e.value, r
  FROM events e, LATERAL unnest(generate_series(0, {_BOOT_B - 1})) AS t(r)
), weighted AS (
  SELECT event_type, r,
         SUM(({_BOOT_W.format(h=_H_SQL)}) * value) AS wv,
         SUM({_BOOT_W.format(h=_H_SQL)}) AS w
  FROM reps GROUP BY event_type, r
), means AS (
  SELECT event_type, list(ROUND(wv / w, 6) ORDER BY ROUND(wv / w, 6))
           AS ms
  FROM weighted GROUP BY event_type
)
SELECT event_type,
       ms[{max(1, int(0.05 * _BOOT_B))}] AS ci_lo,
       ms[{int(0.95 * _BOOT_B)}] AS ci_hi,
       CAST(len(ms) AS INT) AS n_replicas
FROM means
"""


@query("bootstrap_confidence", oracle=_BOOT_ORACLE)
def bootstrap_confidence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bootstrap confidence interval for the per-group mean ({b} replicas,
    5th/95th replica-mean order statistics), with DETERMINISTIC resampling:
    each (row, replica) weight derives from md5(event_id:replica), the
    same auditability rule as every sampling op here — rand() would give
    a different CI per run, per partitioning, per engine. The percentile
    is an explicit order-statistic index (sorted replica means, elements
    {lo} and {hi}), not an interpolating percentile whose definition
    differs across engines.

    Plan: the replica dimension explodes map-side (sequence + explode —
    heavy generation, light reduction); the ONLY real shuffle is the
    partial-aggregated (group, replica) weighted sum, whose key space is
    |groups| x {b} regardless of row count; the final per-group sort of
    {b} means is array work. At 100 TB this is the textbook way to get
    error bars without a second pass over the data."""
    ev = load(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    # the replica explode multiplies rows 50x and each carries an md5 —
    # CPU-bound narrow maps; a single-file fixture scan (1-2 partitions)
    # would serialize them, so spread first (same guard as dedup._corpus;
    # a real many-file dataset skips this branch)
    ev = maybe_spread(ev, sf_dir, "events", "event_id")
    reps = ev.select(
        "event_id",
        "event_type",
        "value",
        F.explode(F.sequence(F.lit(0), F.lit(_BOOT_B - 1))).alias("r"),
    )
    w = F.expr(_BOOT_W.format(h=_H_SPARK))
    weighted = reps.groupBy("event_type", "r").agg(
        F.sum(w * F.col("value")).alias("wv"),
        F.sum(w).alias("w"),
    )
    means = weighted.groupBy("event_type").agg(
        F.array_sort(
            F.collect_list(F.round(F.col("wv") / F.col("w"), 6))
        ).alias("ms")
    )
    lo_i, hi_i = max(1, int(0.05 * _BOOT_B)), int(0.95 * _BOOT_B)
    return means.select(
        "event_type",
        F.element_at("ms", lo_i).alias("ci_lo"),
        F.element_at("ms", hi_i).alias("ci_hi"),
        F.size("ms").alias("n_replicas"),
    )


bootstrap_confidence.__doc__ = bootstrap_confidence.__doc__.format(
    b=_BOOT_B, lo=max(1, int(0.05 * _BOOT_B)), hi=int(0.95 * _BOOT_B)
)


_CHI2_ORACLE = """
WITH o AS (
  SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS observed
  FROM documents GROUP BY lang, source
),
r AS (SELECT lang, SUM(observed) AS row_n FROM o GROUP BY lang),
c AS (SELECT source, SUM(observed) AS col_n FROM o GROUP BY source),
n AS (SELECT SUM(observed) AS total FROM o)
SELECT o.lang, o.source, o.observed,
       ROUND(CAST(r.row_n * c.col_n AS DOUBLE) / n.total, 6) AS expected,
       ROUND(POW(o.observed - CAST(r.row_n * c.col_n AS DOUBLE) / n.total, 2)
             / (CAST(r.row_n * c.col_n AS DOUBLE) / n.total), 6)
         AS chi2_contrib
FROM o JOIN r USING (lang) JOIN c USING (source) CROSS JOIN n
"""


@query("stats_chi2_independence", oracle=_CHI2_ORACLE)
def stats_chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-squared independence audit of the lang x source contingency
    grid: per cell, the observed count, the independence-expected count
    (row_total x col_total / N), and the cell's chi-squared contribution
    — the data-audit that catches a scraper feeding one language
    disproportionately from one source (a classic silent bias in crawl
    corpora). Per-CELL output keeps every number a deterministic
    function of exact integer counts (summing the statistic across cells
    would reintroduce engine-dependent float accumulation order);
    downstream sums the contributions for the test statistic.

    Plan: one corpus scan reduced to the contingency grid; the row /
    column / total marginals re-aggregate the METADATA-SIZED grid, not
    the corpus, and join back onto it (grid-sized joins, AQE broadcasts
    them). At 100 TB the corpus is touched exactly once."""
    o = (
        load(spark, sf_dir, "documents")
        .groupBy("lang", "source")
        .agg(F.count(F.lit(1)).alias("observed"))
    )
    r = o.groupBy("lang").agg(F.sum("observed").alias("row_n"))
    c = o.groupBy("source").agg(F.sum("observed").alias("col_n"))
    n = o.agg(F.sum("observed").alias("total"))
    e = (F.col("row_n") * F.col("col_n")).cast("double") / F.col("total")
    return (
        o.join(r, "lang")
        .join(c, "source")
        .crossJoin(F.broadcast(n))
        .select(
            "lang",
            "source",
            "observed",
            F.round(e, 6).alias("expected"),
            F.round(
                F.pow(F.col("observed") - e, 2) / e, 6
            ).alias("chi2_contrib"),
        )
    )


_KS_BIN_W = 0.25  # value-bin width for the binned KS statistic


@query(
    "stats_ks_drift",
    oracle=f"""
    WITH ev AS (
      SELECT event_type = 'click' AS is_a,
             CAST(floor(value / {_KS_BIN_W}) AS BIGINT) AS bin
      FROM events WHERE event_type IN ('click', 'view')
    ),
    h AS (
      SELECT bin,
             CAST(SUM(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT) AS ca,
             CAST(SUM(CASE WHEN is_a THEN 0 ELSE 1 END) AS BIGINT) AS cb
      FROM ev GROUP BY bin
    ),
    t AS (
      SELECT CAST(SUM(ca) AS BIGINT) AS n_a, CAST(SUM(cb) AS BIGINT) AS n_b
      FROM h
    ),
    c AS (
      SELECT bin,
             CAST(SUM(ca) OVER (ORDER BY bin) AS BIGINT) AS cum_a,
             CAST(SUM(cb) OVER (ORDER BY bin) AS BIGINT) AS cum_b
      FROM h
    ),
    d AS (
      SELECT c.bin, t.n_a, t.n_b,
             abs(CAST(c.cum_a AS DOUBLE) / t.n_a
                 - CAST(c.cum_b AS DOUBLE) / t.n_b) AS diff
      FROM c, t
    )
    SELECT n_a, n_b, ROUND(diff, 6) AS ks_stat, bin AS ks_bin
    FROM d ORDER BY diff DESC, bin LIMIT 1
    """,
)
def stats_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov drift statistic between the 'click'
    and 'view' value distributions — the nonparametric distribution-shift
    gate (complements stats_chi2_independence's categorical test and
    profile_drift's moment deltas): D = max over bins of
    |ECDF_a - ECDF_b|, with the bin where the gap peaks for diagnosis.

    Scale shape: the exact per-row KS needs a GLOBAL sort of both
    samples — the one shape this suite avoids — so this computes the KS
    of the width-{w} BINNED distributions: one scan reduces to
    |bins| rows map-side (groupBy bin), and the ECDF cumulation + argmax
    run as a window over the metadata-sized bin histogram (documented
    deliberate global window over ~2k rows, like tokenizer_bpe_merges'
    vocab table). Binned D equals true D evaluated at bin boundaries
    (D_binned <= D_true, exact for the binned distributions both engines
    see identically — integer counts, one double division at the end)."""
    ev = (
        load(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("click", "view"))
        .select(
            (F.col("event_type") == "click").alias("is_a"),
            F.floor(F.col("value") / _KS_BIN_W).cast("long").alias("bin"),
        )
    )
    h = ev.groupBy("bin").agg(
        F.sum(F.when(F.col("is_a"), 1).otherwise(0)).alias("ca"),
        F.sum(F.when(F.col("is_a"), 0).otherwise(1)).alias("cb"),
    )
    t = h.agg(
        F.sum("ca").alias("n_a"),
        F.sum("cb").alias("n_b"),
    )
    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    c = h.select(
        "bin",
        F.sum("ca").over(w).alias("cum_a"),
        F.sum("cb").over(w).alias("cum_b"),
    )
    d = c.crossJoin(F.broadcast(t)).select(
        "bin",
        "n_a",
        "n_b",
        F.abs(
            F.col("cum_a").cast("double") / F.col("n_a")
            - F.col("cum_b").cast("double") / F.col("n_b")
        ).alias("diff"),
    )
    pick = Window.orderBy(F.col("diff").desc(), F.col("bin"))
    return (
        d.withColumn("rk", F.row_number().over(pick))
        .filter(F.col("rk") == 1)
        .select(
            "n_a",
            "n_b",
            F.round("diff", 6).alias("ks_stat"),
            F.col("bin").alias("ks_bin"),
        )
    )


stats_ks_drift.__doc__ = stats_ks_drift.__doc__.format(w=_KS_BIN_W)


# Shared deterministic scorer for the eval ops: a clamped linear ramp of
# doc length plus a small type-token-ratio term. Every operation is an
# exactly-rounded IEEE primitive (no exp/log), so the score doubles are
# bit-identical across engines — which keeps micro-unit quantization and
# bin assignment deterministic (a logistic link would differ in the last
# ulp between java.lang.Math.exp and libm and could flip a bin edge).
_EVAL_SCORE = (
    "least(1.0, greatest(0.0,"
    " (CAST(n_chars AS DOUBLE) - 64.0) / 896.0))"
    " * 0.875 + "
    "(CAST({nd} AS DOUBLE) / CAST({n} AS DOUBLE)) * 0.125"
)
_EVAL_LABEL = "n_chars >= 256"


def _eval_scored_sql(distinct_fn: str, len_fn: str, split_fn: str, filt: str) -> str:
    nd = f"{len_fn}({distinct_fn}(w))"
    n = f"{len_fn}(w)"
    return f"""
      SELECT CAST(round(({_EVAL_SCORE.format(nd=nd, n=n)}) * 1000000.0)
               AS BIGINT) AS su,
             CASE WHEN {_EVAL_LABEL} THEN 1 ELSE 0 END AS pos
      FROM (SELECT n_chars,
                   {filt}({split_fn}(text, ' '), x -> x <> '') AS w
            FROM documents)
    """


@query(
    "eval_calibration_bins",
    oracle=f"""
    WITH scored AS ({_eval_scored_sql("list_distinct", "len", "string_split", "list_filter")}),
    b AS (
      SELECT LEAST(9, CAST(su // 100000 AS BIGINT)) AS bin, su, pos
      FROM scored
    )
    SELECT bin,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(pos) AS BIGINT) AS n_pos,
           ROUND(CAST(SUM(pos) AS DOUBLE) / COUNT(*), 6) AS pos_rate,
           ROUND(CAST(SUM(su) AS DOUBLE) / COUNT(*) / 1000000.0, 6)
             AS mean_score
    FROM b GROUP BY bin
    """,
)
def eval_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier calibration table (reliability diagram): bucket a
    quality score into 10 bins and compare each bin's mean predicted
    score with its observed positive rate — the eval a production
    quality-filter ships before its threshold is trusted (cf. the
    calibration analyses in Guo et al., ICML 2017). Scores are quantized
    to integer micro-units BEFORE any aggregation, so bin assignment and
    bin means are exact integer math on both engines.

    Scale: one scan reduced map-side to 10 bins; nothing else moves."""
    d = load(spark, sf_dir, "documents").select(
        "n_chars",
        F.expr("filter(split(text, ' '), x -> x <> '')").alias("w"),
    )
    scored = d.select(
        F.expr(
            "CAST(round(("
            + _EVAL_SCORE.format(
                nd="size(array_distinct(w))", n="size(w)"
            )
            + ") * 1000000.0) AS BIGINT)"
        ).alias("su"),
        F.expr(f"CASE WHEN {_EVAL_LABEL} THEN 1 ELSE 0 END").alias("pos"),
    )
    b = scored.select(
        F.least(F.lit(9), (F.col("su") / 100000).cast("long")).alias("bin"),
        "su",
        "pos",
    )
    return b.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("pos").alias("n_pos"),
        F.round(
            F.sum("pos").cast("double") / F.count(F.lit(1)), 6
        ).alias("pos_rate"),
        F.round(
            F.sum("su").cast("double") / F.count(F.lit(1)) / 1000000.0, 6
        ).alias("mean_score"),
    )


@query(
    "eval_auc_binned",
    oracle=f"""
    WITH scored AS ({_eval_scored_sql("list_distinct", "len", "string_split", "list_filter")}),
    h AS (
      SELECT su, CAST(SUM(pos) AS BIGINT) AS p,
             CAST(SUM(1 - pos) AS BIGINT) AS ng
      FROM scored GROUP BY su
    ),
    c AS (
      SELECT su, p, ng,
             CAST(COALESCE(SUM(ng) OVER (ORDER BY su
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS cumneg
      FROM h
    ),
    t AS (
      SELECT CAST(SUM(p) AS BIGINT) AS n_pos,
             CAST(SUM(ng) AS BIGINT) AS n_neg,
             CAST(SUM(2 * cumneg * p + p * ng) AS BIGINT) AS num2
      FROM c
    )
    SELECT n_pos, n_neg,
           ROUND(CAST(num2 AS DOUBLE) / (2.0 * n_pos * n_neg), 6) AS auc
    FROM t
    """,
)
def eval_auc_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROC-AUC of the quality score against the binary label via the
    rank-sum (Mann-Whitney) identity, computed EXACTLY on the
    micro-unit score histogram: AUC = (sum over distinct scores of
    2*cumneg_below*pos + pos*neg) / (2*P*N), where the pos*neg term is
    the tie correction (ties count half). The entire numerator is
    integer arithmetic — one double division at the end — so both
    engines agree bit-for-bit.

    Scale: the corpus reduces map-side to the distinct-score histogram
    (bounded by the score's micro-unit support, NOT the row count); the
    cumulative + reduction run over that metadata-sized table (same
    deliberate single-partition window as stats_ks_drift). This is how
    AUC is computed at 100 TB: histogram first, never a global rank."""
    d = load(spark, sf_dir, "documents").select(
        "n_chars",
        F.expr("filter(split(text, ' '), x -> x <> '')").alias("w"),
    )
    scored = d.select(
        F.expr(
            "CAST(round(("
            + _EVAL_SCORE.format(
                nd="size(array_distinct(w))", n="size(w)"
            )
            + ") * 1000000.0) AS BIGINT)"
        ).alias("su"),
        F.expr(f"CASE WHEN {_EVAL_LABEL} THEN 1 ELSE 0 END").alias("pos"),
    )
    h = scored.groupBy("su").agg(
        F.sum("pos").alias("p"),
        F.sum(1 - F.col("pos")).alias("ng"),
    )
    wc = Window.orderBy("su").rowsBetween(Window.unboundedPreceding, -1)
    c = h.select(
        "su",
        "p",
        "ng",
        F.coalesce(F.sum("ng").over(wc), F.lit(0)).alias("cumneg"),
    )
    t = c.agg(
        F.sum("p").alias("n_pos"),
        F.sum("ng").alias("n_neg"),
        F.sum(
            2 * F.col("cumneg") * F.col("p") + F.col("p") * F.col("ng")
        ).alias("num2"),
    )
    return t.select(
        "n_pos",
        "n_neg",
        F.round(
            F.col("num2").cast("double")
            / (2.0 * F.col("n_pos") * F.col("n_neg")),
            6,
        ).alias("auc"),
    )


@query(
    "feature_quantile_normalize",
    oracle="""
    WITH r AS (
      SELECT doc_id, source, n_chars,
             ROW_NUMBER() OVER (PARTITION BY source
               ORDER BY n_chars, doc_id) - 1 AS rk,
             COUNT(*) OVER (PARTITION BY source) AS n
      FROM documents
    ),
    g AS (
      SELECT n_chars AS gval,
             ROW_NUMBER() OVER (ORDER BY n_chars, doc_id) - 1 AS gidx
      FROM documents
    ),
    t AS (SELECT CAST(COUNT(*) AS BIGINT) AS total FROM documents)
    SELECT r.doc_id, r.source, r.n_chars,
           CAST(g.gval AS BIGINT) AS norm_value
    FROM r CROSS JOIN t
    JOIN g ON g.gidx = CASE WHEN r.n = 1 THEN (t.total - 1) // 2
                       ELSE (rk * (t.total - 1)) // (r.n - 1) END
    """,
)
def feature_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile normalization across sources (the bioinformatics /
    batch-effect-removal transform): each document's n_chars is replaced
    by the GLOBAL value at the same rank position, so every source ends
    up with an identical value distribution — the cross-source
    calibration step before mixing heterogeneous corpora by a quality
    score. Mapping: within-source rank r of n -> global sorted value at
    index r*(N-1) DIV (n-1) (integer arithmetic, exact; single-doc
    sources map to the global median).

    The exact global grid is ONE global sort (allowlisted — it IS the
    algorithm at exact grain); the 100 TB form keeps the per-source
    windows and swaps the grid for a Q-row approx-quantile table
    (percentile_approx at Q=1024) joined the same way — the rank-index
    arithmetic is unchanged, only the grid resolution drops. The final
    join is an equi-join on the computed grid index."""
    docs = load(spark, sf_dir, "documents")
    w_rank = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    w_n = Window.partitionBy("source")
    r = docs.select(
        "doc_id",
        "source",
        "n_chars",
        (F.row_number().over(w_rank) - 1).cast("bigint").alias("rk"),
        F.count(F.lit(1)).over(w_n).cast("bigint").alias("n"),
    )
    w_g = Window.orderBy("n_chars", "doc_id")
    g = docs.select(
        F.col("n_chars").cast("bigint").alias("gval"),
        (F.row_number().over(w_g) - 1).cast("bigint").alias("gidx"),
    )
    t = docs.agg(F.count(F.lit(1)).cast("bigint").alias("total"))
    joined = r.crossJoin(F.broadcast(t)).withColumn(
        "gidx",
        F.expr(
            "CASE WHEN n = 1 THEN (total - 1) DIV 2"
            " ELSE (rk * (total - 1)) DIV (n - 1) END"
        ),
    )
    return joined.join(g, "gidx").select(
        "doc_id", "source", "n_chars", F.col("gval").alias("norm_value")
    )


_QN_Q = 256  # approx-grid resolution (quantile rows)


@query(
    "feature_quantile_normalize_approx",
    oracle="""
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           TRUE AS within_bound
    FROM documents GROUP BY source
    """,
)
def feature_quantile_normalize_approx(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The 100 TB shape of feature_quantile_normalize, registered with
    standing evidence (the table_profile/table_profile_approx pattern):
    the exact op's global sort becomes a Q-row percentile_approx grid
    (t-digest sketch — mergeable, one pass, no sort anywhere), the
    per-source rank windows are UNCHANGED, and each document maps to
    grid slot q = (rk*(Q-1)) DIV (n-1) instead of an exact global rank.

    Evidence shape (percentile_approx_bounded's rank-based device —
    value gaps on sparse data are unbounded, rank error is what the
    sketch's accuracy knob bounds): every approx normalized value must
    lie within the EXACT global quantile band [q-2, q+2]/(Q-1) (a
    +-0.8% rank window vs the sketch's 1/10000 rank guarantee), folded
    per source into a boolean the oracle pins TRUE. The exact band
    exists only for the evidence; the production form drops it and is
    then sort-free end-to-end: one corpus pass for the sketch, one
    window pass per source, one broadcast of the Q-row grid."""
    docs = load(spark, sf_dir, "documents")
    w_rank = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    w_n = Window.partitionBy("source")
    r = docs.select(
        "doc_id",
        "source",
        "n_chars",
        (F.row_number().over(w_rank) - 1).cast("bigint").alias("rk"),
        F.count(F.lit(1)).over(w_n).cast("bigint").alias("n"),
    )
    probs = ", ".join(repr(i / (_QN_Q - 1)) for i in range(_QN_Q))
    grid = docs.agg(
        F.expr(
            f"percentile_approx(n_chars, array({probs}), 10000)"
        ).alias("ga"),
        F.expr(f"percentile(n_chars, array({probs}))").alias("ge"),
    )
    j = r.crossJoin(F.broadcast(grid)).withColumn(
        "q",
        F.expr(
            f"CASE WHEN n = 1 THEN ({_QN_Q} - 1) DIV 2"
            f" ELSE (rk * ({_QN_Q} - 1)) DIV (n - 1) END"
        ).cast("int"),
    )
    j = j.select(
        "source",
        F.expr("ga[q]").alias("norm_approx"),
        F.expr(f"ge[greatest(q - 2, 0)]").alias("lo"),
        F.expr(f"ge[least(q + 2, {_QN_Q} - 1)]").alias("hi"),
    )
    return j.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.bool_and(
            (F.col("norm_approx") >= F.col("lo"))
            & (F.col("norm_approx") <= F.col("hi"))
        ).alias("within_bound"),
    )


# epoch hour of 2024-01-01 00:00 UTC (1704067200 s / 3600) — the fixture
# events all land in Jan 2024, so x = hours since then stays < 1000 and
# every OLS sum fits BIGINT before the DECIMAL(38,0) products
_OLS_EPOCH_H = 473352

_OLS_ORACLE = f"""
WITH s AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx,
         CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * y) AS BIGINT) AS sxy,
         CAST(SUM(x * x) AS BIGINT) AS sxx,
         CAST(SUM(y * y) AS BIGINT) AS syy
  FROM (
    SELECT event_type,
           epoch_us(ts) // 3600000000 - {_OLS_EPOCH_H} AS x,
           CAST(ROUND(value * 100, 0) AS BIGINT) AS y
    FROM events
  ) GROUP BY event_type
),
nd AS (
  SELECT *,
         CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS nume,
         CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS deno,
         CAST(n AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy AS syyc
  FROM s
)
SELECT event_type, n,
       CAST(CASE WHEN deno = 0 THEN NULL
            ELSE (nume * 1000000) // deno END AS BIGINT) AS slope_micro,
       CAST(CASE WHEN deno = 0 THEN NULL
            ELSE ((CAST(sy AS HUGEINT) * deno - nume * sx) * 1000000)
                 // (CAST(n AS HUGEINT) * deno) END AS BIGINT)
         AS intercept_micro,
       CAST(CASE WHEN deno = 0 OR syyc = 0 THEN NULL
            ELSE ((abs(nume) * 1000000) // deno * abs(nume)) // syyc
            END AS BIGINT)
         AS r2_micro
FROM nd
"""


@query("feature_ols_trend", oracle=_OLS_ORACLE)
def feature_ols_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group OLS trend line — slope/intercept/R² of event value over
    time per event_type, the drift-direction monitor that complements
    the distribution monitors (stats_ks_drift, quality_drift_by_source):
    KS says the distribution moved, the regression says WHICH WAY and
    HOW FAST.

    Exactness discipline (the pca_power_component device): x is the
    integer hour index since 2024-01-01, y the integer cents value, so
    the five OLS sums are exact BIGINTs reduced map-side in ONE
    aggregation pass (shuffle = |event_type| rows x 6 columns — the
    closed-form normal equations, never an iterative fit and never a
    second scan). The slope/intercept/R² numerators are DECIMAL(38,0)
    (Spark) / HUGEINT (DuckDB) products — n*sxy*1e6 overflows BIGINT —
    and every reported number is one truncating integer division
    (probed identical: Spark DIV / DuckDB //) in micro-units, so no
    float exists anywhere. Degenerate groups (zero x- or y-variance)
    report NULL instead of dividing by zero.

    r2 headroom (the pca_power_component wr^2-at-x100 analysis): naive
    nume*nume*1e6 squares a value that reaches ~1e22 at x100 magnitudes
    and overflows both DECIMAL(38,0) (silent NULL, ANSI off) and HUGEINT
    (raise). Instead r2 factors into two sequential divisions on the
    non-negative |nume| (r2 >= 0, so the sign never matters and
    truncation == floor on both engines):
    ``((|nume| * 1e6 div deno) * |nume|) div syyc``. Cauchy-Schwarz
    (nume^2 <= deno*syyc) bounds the middle product by 1e6*syyc <~ 4e31
    and the first by 1e6*sqrt(deno*syyc) <~ 4e30 at x100 — both far
    inside 38 digits."""
    e = load(spark, sf_dir, "events").select(
        "event_type",
        (ntz_epoch_us("ts") / F.lit(3600000000))
        .cast("bigint")
        .alias("xh"),
        F.round(F.col("value") * 100, 0).cast("bigint").alias("y"),
    ).withColumn("x", F.col("xh") - F.lit(_OLS_EPOCH_H)).drop("xh")
    s = e.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
    )
    dec = "CAST({} AS DECIMAL(38,0))"
    nd = s.withColumn(
        "nume",
        F.expr(f"{dec.format('n')} * sxy - {dec.format('sx')} * sy"),
    ).withColumn(
        "deno",
        F.expr(f"{dec.format('n')} * sxx - {dec.format('sx')} * sx"),
    ).withColumn(
        "syyc",
        F.expr(f"{dec.format('n')} * syy - {dec.format('sy')} * sy"),
    )
    return nd.select(
        "event_type",
        "n",
        F.expr(
            "CAST(CASE WHEN deno = 0 THEN NULL"
            " ELSE (nume * 1000000) div deno END AS BIGINT)"
        ).alias("slope_micro"),
        F.expr(
            "CAST(CASE WHEN deno = 0 THEN NULL"
            f" ELSE (({dec.format('sy')} * deno - nume * sx) * 1000000)"
            f" div ({dec.format('n')} * deno) END AS BIGINT)"
        ).alias("intercept_micro"),
        F.expr(
            "CAST(CASE WHEN deno = 0 OR syyc = 0 THEN NULL"
            " ELSE ((abs(nume) * 1000000) div deno * abs(nume)) div syyc"
            " END AS BIGINT)"
        ).alias("r2_micro"),
    )


# PSI binning: 8 fixed-width n_chars bins (fixture range 48..553), add-one
# smoothed so empty cells stay log-safe
_PSI_B = 8
_PSI_W = 64

_PSI_ORACLE = f"""
WITH c AS (
  SELECT source, LEAST({_PSI_B - 1}, n_chars // {_PSI_W}) AS bin,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM documents GROUP BY 1, 2
),
grid AS (
  SELECT s.source, CAST(b.bin AS BIGINT) AS bin, COALESCE(c.n, 0) AS n
  FROM (SELECT DISTINCT source FROM documents) s
  CROSS JOIN (SELECT unnest(range({_PSI_B})) AS bin) b
  LEFT JOIN c ON c.source = s.source AND c.bin = b.bin
),
w AS (
  SELECT *,
         SUM(n) OVER (PARTITION BY source) AS n_s,
         SUM(n) OVER (PARTITION BY bin) AS n_b,
         SUM(n) OVER () AS n_t
  FROM grid
),
k AS (
  SELECT source, bin, n,
         CAST(((n + 1) * 1000000) // (n_s + {_PSI_B}) AS BIGINT) AS p_micro,
         CAST(((n_b + 1) * 1000000) // (n_t + {_PSI_B}) AS BIGINT)
           AS q_micro,
         CAST(ROUND((
             CAST(n + 1 AS DOUBLE) / (n_s + {_PSI_B})
           - CAST(n_b + 1 AS DOUBLE) / (n_t + {_PSI_B})
         ) * (
             ln(CAST((n + 1) * (n_t + {_PSI_B}) AS DOUBLE))
           - ln(CAST((n_b + 1) * (n_s + {_PSI_B}) AS DOUBLE))
         ) * 1000000, 0) AS BIGINT) AS contrib_micro
  FROM w
)
SELECT source, bin, n, p_micro, q_micro, contrib_micro,
       CAST(SUM(contrib_micro) OVER (PARTITION BY source) AS BIGINT)
         AS psi_micro
FROM k
"""


@query("drift_psi_by_source", oracle=_PSI_ORACLE)
def drift_psi_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index per source — the industry-standard
    drift score (sum over bins of (p-q)*ln(p/q), add-one smoothed)
    complementing stats_ks_drift (max ECDF gap, two cohorts) with the
    PER-SOURCE monitoring grid a data team actually alerts on
    (PSI > 0.2 = investigate). Distribution under watch: document
    length, {_PSI_B} fixed-width bins.

    Plan discipline (the quality_drift fork lesson, one step further):
    the per-source histogram aggregates as ONE 8-slot array per source
    in a single corpus pass, then posexplode DENSIFIES the grid — zero
    cells appear without a distinct-sources cross join back (which
    would fork the lineage and re-scan the corpus). Baseline/total
    attach via windows over the |sources| x {_PSI_B} grid.

    Determinism: p/q are reported as exact integer micro-units
    (truncating DIV); each PSI term is non-negative and its single
    rounding (6dp, i.e. integer micros) happens on the PER-BIN term —
    ln() runs on exact-integer-valued doubles so a last-ulp libm
    difference can only flip a term sitting exactly on a 0.5-micro
    midpoint, unreachable for irrational logs; the per-source total is
    then an exact integer SUM of the rounded terms."""
    docs = load(spark, sf_dir, "documents").select(
        "source",
        F.least(
            F.lit(_PSI_B - 1), F.floor(F.col("n_chars") / _PSI_W)
        ).alias("bin"),
    )
    hist = docs.groupBy("source").agg(
        F.array(
            *[
                F.sum(F.when(F.col("bin") == b, 1).otherwise(0)).cast(
                    "bigint"
                )
                for b in range(_PSI_B)
            ]
        ).alias("h")
    )
    grid = hist.select(
        "source", F.posexplode("h").alias("bin_i", "n")
    ).select("source", F.col("bin_i").cast("bigint").alias("bin"), "n")
    w = (
        grid.withColumn(
            "n_s", F.sum("n").over(Window.partitionBy("source"))
        )
        .withColumn("n_b", F.sum("n").over(Window.partitionBy("bin")))
        .withColumn("n_t", F.sum("n").over(Window.partitionBy()))
    )
    contrib = F.round(
        (
            (F.col("n") + 1) / (F.col("n_s") + _PSI_B)
            - (F.col("n_b") + 1) / (F.col("n_t") + _PSI_B)
        )
        * (
            F.log(((F.col("n") + 1) * (F.col("n_t") + _PSI_B)).cast("double"))
            - F.log(
                ((F.col("n_b") + 1) * (F.col("n_s") + _PSI_B)).cast("double")
            )
        )
        * 1000000,
        0,
    ).cast("bigint")
    k = w.select(
        "source",
        "bin",
        "n",
        F.expr(f"((n + 1) * 1000000) div (n_s + {_PSI_B})").alias("p_micro"),
        F.expr(f"((n_b + 1) * 1000000) div (n_t + {_PSI_B})").alias(
            "q_micro"
        ),
        contrib.alias("contrib_micro"),
    )
    return k.withColumn(
        "psi_micro",
        F.sum("contrib_micro").over(Window.partitionBy("source")),
    )


# pseudo-model for the classifier-eval fixture: right ~70% of the time,
# wrong answers spread by event_id hash — deterministic plumbing (this
# module's convention), identical text in Spark SQL and DuckDB
_CM_PRED = (
    "CASE WHEN event_id % 10 < 7 THEN event_type ELSE"
    " CASE event_id % 5 WHEN 0 THEN 'click' WHEN 1 THEN 'error'"
    " WHEN 2 THEN 'purchase' WHEN 3 THEN 'signup' ELSE 'view' END END"
)

_CM_ORACLE = f"""
WITH g AS (
  SELECT event_type AS actual, {_CM_PRED} AS predicted,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
),
cls AS (SELECT DISTINCT actual AS class FROM g),
s AS (
  SELECT c.class,
         COALESCE((SELECT SUM(n) FROM g WHERE g.actual = c.class
                     AND g.predicted = c.class), 0) AS tp,
         COALESCE((SELECT SUM(n) FROM g WHERE g.actual = c.class), 0)
           AS actual_n,
         COALESCE((SELECT SUM(n) FROM g WHERE g.predicted = c.class), 0)
           AS pred_n
  FROM cls c
),
m AS (
  SELECT class, CAST(tp AS BIGINT) AS tp,
         CAST(pred_n - tp AS BIGINT) AS fp,
         CAST(actual_n - tp AS BIGINT) AS fn,
         CASE WHEN pred_n = 0 THEN NULL
              ELSE (tp * 1000000) // pred_n END AS p_micro,
         CASE WHEN actual_n = 0 THEN NULL
              ELSE (tp * 1000000) // actual_n END AS r_micro
  FROM s
)
SELECT class, tp, fp, fn,
       CAST(p_micro AS BIGINT) AS precision_micro,
       CAST(r_micro AS BIGINT) AS recall_micro,
       CAST(CASE WHEN COALESCE(p_micro, 0) + COALESCE(r_micro, 0) = 0
            THEN 0 ELSE (2 * COALESCE(p_micro, 0) * COALESCE(r_micro, 0))
                 // (COALESCE(p_micro, 0) + COALESCE(r_micro, 0))
            END AS BIGINT) AS f1_micro
FROM m
"""


@query("eval_f1_confusion", oracle=_CM_ORACLE)
def eval_f1_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class confusion-matrix metrics (tp/fp/fn, precision, recall,
    F1) — the multi-class half of the eval family (eval_auc_binned and
    eval_calibration_bins cover binary scores; this covers the label
    classifier a curation pipeline runs for routing/filtering). The
    "model" is the module's deterministic pseudo-predictor (right 70%,
    errors hash-spread), so both engines score the identical prediction
    table.

    Histogram-first, the family's scale rule: ONE corpus scan reduces
    map-side to the |classes|^2 confusion grid; tp / row totals / column
    totals are then window sums over that metadata-sized grid (never a
    second scan, never a per-row join). All metrics are exact integer
    micro-units — truncating DIV, F1 as the harmonic mean of the two
    micro values — so the cross-engine hash is bit-stable."""
    ev = load(spark, sf_dir, "events").select(
        F.col("event_type").alias("actual"),
        F.expr(_CM_PRED).alias("predicted"),
    )
    g = ev.groupBy("actual", "predicted").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    wa = Window.partitionBy("actual")
    wp = Window.partitionBy("predicted")
    scored = g.select(
        "actual",
        "predicted",
        "n",
        F.sum("n").over(wa).alias("actual_n"),
        F.sum("n").over(wp).alias("pred_n"),
    )
    # the diagonal row per class carries everything (every class appears
    # on the diagonal of this fixture's grid; a zero-tp class would need
    # the cls-table outer-join form the oracle writes out)
    diag = scored.filter(F.col("actual") == F.col("predicted")).select(
        F.col("actual").alias("class"),
        F.col("n").alias("tp"),
        (F.col("pred_n") - F.col("n")).cast("bigint").alias("fp"),
        (F.col("actual_n") - F.col("n")).cast("bigint").alias("fn"),
        F.expr("(n * 1000000) DIV pred_n").alias("precision_micro"),
        F.expr("(n * 1000000) DIV actual_n").alias("recall_micro"),
    )
    return diag.withColumn(
        "f1_micro",
        F.expr(
            "CASE WHEN coalesce(precision_micro, 0)"
            " + coalesce(recall_micro, 0) = 0 THEN CAST(0 AS BIGINT)"
            " ELSE (2 * coalesce(precision_micro, 0)"
            " * coalesce(recall_micro, 0))"
            " DIV (coalesce(precision_micro, 0)"
            " + coalesce(recall_micro, 0)) END"
        ),
    )


# ---------------------------------------------------------------------------
# Two-sample hypothesis tests — the A/B-experiment readout layer over the
# drift family (stats_ks_drift detects distribution movement; these two
# answer "is variant X's metric different from the control, and how
# confidently"). Both follow the module's exact-moments device: values are
# lifted to integer cents (CAST(ROUND(value*100) AS BIGINT)) so every
# aggregate is an exact integer on both engines, and doubles only appear in
# the final closed-form statistic (one identical IEEE expression tree per
# engine — the stats_ks_drift determinism argument).

_TT_BASELINE = "view"  # control group for both tests
_TT_CENTS = "CAST(ROUND(value * 100) AS BIGINT)"
_TT_Z = 1.959964  # two-sided 5% normal critical value


_WELCH_ORACLE = f"""
WITH m AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM({_TT_CENTS}) AS BIGINT) AS s1,
         CAST(SUM({_TT_CENTS} * {_TT_CENTS}) AS BIGINT) AS s2
  FROM events GROUP BY event_type
),
v AS (
  SELECT event_type, n, s1, s2,
         CAST(s1 AS DOUBLE) / n AS mu,
         (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n) / (n - 1) AS var
  FROM m WHERE n > 1
),
p AS (
  SELECT a.event_type,
         a.n AS n_a, b.n AS n_b,
         a.mu AS mu_a, b.mu AS mu_b,
         a.var / a.n AS sea, b.var / b.n AS seb
  FROM v a, v b
  WHERE b.event_type = '{_TT_BASELINE}' AND a.event_type <> '{_TT_BASELINE}'
)
SELECT event_type, n_a, n_b,
       ROUND(mu_a / 100.0, 6) AS mean_a,
       ROUND(mu_b / 100.0, 6) AS mean_b,
       ROUND((mu_a - mu_b) / sqrt(sea + seb), 6) AS t_welch,
       ROUND((sea + seb) * (sea + seb)
             / (sea * sea / (n_a - 1) + seb * seb / (n_b - 1)), 6)
         AS df_welch,
       abs((mu_a - mu_b) / sqrt(sea + seb)) > {_TT_Z} AS significant
FROM p
"""


@query("stats_welch_ttest", oracle=_WELCH_ORACLE)
def stats_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t-test of every event_type's value
    distribution against the '{base}' control — the standard A/B readout
    (Welch 1947; the default over Student's t because traffic splits are
    never variance-balanced). Emits mean difference scale, the t
    statistic, Welch–Satterthwaite degrees of freedom, and a two-sided
    5% significance flag.

    Plan shape: ONE scan reduced to per-group exact integer moments
    (n, Σc, Σc²) — partial aggregation collapses each map partition to
    |groups| rows before the only shuffle; the t/df closed form then
    runs on the |groups|-row relation with the control row spliced in by
    a window over that same tiny frame (one scan, no re-read). Scale: moments stay exact in BIGINT up to Σc² ≈ 9.2e18 — at
    cents ≤ 5e4 that is ~3.7e9 rows/group; past that, pre-aggregate per
    (group, day) and sum the day partials (same two-level shape), or lift
    s2 to DECIMAL(38,0). Variance is computed as
    (s2 - s1²/n)/(n-1) in DOUBLE from the exact integers rather than as
    the bigint (n·s2 - s1²) numerator, which would overflow ~100× earlier
    (the feature_ols_trend r² lesson).
    """
    ev = load(spark, sf_dir, "events")
    m = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.expr(_TT_CENTS)).alias("s1"),
        F.sum(F.expr(f"{_TT_CENTS} * {_TT_CENTS}")).alias("s2"),
    )
    v = m.filter(F.col("n") > 1).select(
        "event_type",
        "n",
        F.expr("CAST(s1 AS DOUBLE) / n").alias("mu"),
        F.expr(
            "(CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n) / (n - 1)"
        ).alias("var"),
    )
    # the control row is spliced in via a window over the |groups|-row
    # aggregate (one partition of ~|groups| rows) so the base relation is
    # scanned ONCE — a filter+crossJoin of v would re-scan the corpus
    wall = Window.partitionBy()
    ctl = F.when(F.col("event_type") == _TT_BASELINE, F.col("n"))
    p = (
        v.withColumn("n_b", F.max(ctl).over(wall))
        .withColumn(
            "mu_b",
            F.max(
                F.when(F.col("event_type") == _TT_BASELINE, F.col("mu"))
            ).over(wall),
        )
        .withColumn(
            "seb",
            F.max(
                F.when(
                    F.col("event_type") == _TT_BASELINE,
                    F.expr("var / n"),
                )
            ).over(wall),
        )
        .filter(F.col("event_type") != _TT_BASELINE)
        .select(
            "event_type",
            F.col("n").alias("n_a"),
            "mu",
            F.expr("var / n").alias("sea"),
            "n_b",
            "mu_b",
            "seb",
        )
    )
    return p.select(
        "event_type",
        "n_a",
        "n_b",
        F.expr("ROUND(mu / 100.0, 6)").alias("mean_a"),
        F.expr("ROUND(mu_b / 100.0, 6)").alias("mean_b"),
        F.expr("ROUND((mu - mu_b) / sqrt(sea + seb), 6)").alias("t_welch"),
        F.expr(
            "ROUND((sea + seb) * (sea + seb)"
            " / (sea * sea / (n_a - 1) + seb * seb / (n_b - 1)), 6)"
        ).alias("df_welch"),
        F.expr(f"abs((mu - mu_b) / sqrt(sea + seb)) > {_TT_Z}").alias(
            "significant"
        ),
    )


stats_welch_ttest.__doc__ = stats_welch_ttest.__doc__.format(
    base=_TT_BASELINE
)


_MWU_ORACLE = f"""
WITH h AS (
  SELECT event_type, {_TT_CENTS} AS c, CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
),
hy AS (SELECT c, n AS ny FROM h WHERE event_type = '{_TT_BASELINE}'),
types AS (
  SELECT DISTINCT event_type FROM h WHERE event_type <> '{_TT_BASELINE}'
),
grid AS (
  SELECT COALESCE(hx.event_type, gy.event_type) AS event_type,
         COALESCE(hx.c, gy.c) AS c,
         COALESCE(hx.n, 0) AS nx, COALESCE(gy.ny, 0) AS ny
  FROM (SELECT * FROM h WHERE event_type <> '{_TT_BASELINE}') hx
  FULL OUTER JOIN (SELECT t.event_type, hy.c, hy.ny
                   FROM types t CROSS JOIN hy) gy
    ON hx.event_type = gy.event_type AND hx.c = gy.c
),
w AS (
  SELECT event_type, nx, ny,
         COALESCE(SUM(ny) OVER (PARTITION BY event_type ORDER BY c
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumy
  FROM grid
),
s AS (
  SELECT event_type,
         CAST(SUM(nx) AS BIGINT) AS n_x,
         CAST(SUM(ny) AS BIGINT) AS n_y,
         CAST(SUM(nx * (2 * cumy + ny)) AS BIGINT) AS u2,
         CAST(SUM((nx + ny) * (nx + ny) * (nx + ny) - (nx + ny))
              AS BIGINT) AS ties
  FROM w GROUP BY event_type
)
SELECT event_type, n_x, n_y, u2,
       ROUND((u2 - CAST(n_x AS DOUBLE) * n_y)
             / (2 * sqrt(CAST(n_x AS DOUBLE) * n_y / 12.0
                 * ((n_x + n_y + 1.0)
                    - CAST(ties AS DOUBLE)
                      / ((n_x + n_y) * (n_x + n_y - 1.0))))), 6) AS z,
       abs((u2 - CAST(n_x AS DOUBLE) * n_y)
             / (2 * sqrt(CAST(n_x AS DOUBLE) * n_y / 12.0
                 * ((n_x + n_y + 1.0)
                    - CAST(ties AS DOUBLE)
                      / ((n_x + n_y) * (n_x + n_y - 1.0)))))) > {_TT_Z}
         AS significant
FROM s
"""


@query("stats_mann_whitney_u", oracle=_MWU_ORACLE)
def stats_mann_whitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U rank test of every event_type against the '{base}'
    control — the nonparametric sibling of stats_welch_ttest for skewed /
    heavy-tailed metrics (revenue, latency) where a mean shift is the
    wrong question. Normal approximation with the exact tie correction
    (Σ(t³-t)); emits 2U (exact integer), z, and the 5% flag.

    HISTOGRAM-FIRST, the eval-family device: ranks never touch raw rows.
    One scan reduces to the (group, cents) histogram — the value domain
    is bounded (≤ 5e4 distinct cents) so the grid is metadata-sized
    regardless of corpus scale — then U comes from the rank identity
    U = Σ_v nx_v·(#Y<v) + ½·nx_v·ny_v over a per-group cumulative window
    on the |domain|-sized grid (doubled to keep it integer). A global
    rank() over raw rows would be a corpus-wide total sort; this is one
    groupBy plus a window over ~26k rows. 2U stays in BIGINT while
    nx·ny < 9.2e18 (~3e9 rows per side); past that, stratify by day and
    combine z's (Stouffer), same grid shape per stratum.
    """
    ev = load(spark, sf_dir, "events")
    h = ev.groupBy(
        "event_type", F.expr(_TT_CENTS).alias("c")
    ).agg(F.count(F.lit(1)).alias("n"))
    # the histogram feeds three consumers (control slice, variant slice,
    # type spine) — materialize the |domain|-bounded relation once so the
    # corpus is scanned ONCE (plan-pinned)
    h = h.localCheckpoint()
    hy = h.filter(F.col("event_type") == _TT_BASELINE).select(
        "c", F.col("n").alias("ny")
    )
    hx = h.filter(F.col("event_type") != _TT_BASELINE)
    types = hx.select("event_type").distinct()
    gy = types.crossJoin(F.broadcast(hy))
    grid = hx.join(
        gy, ["event_type", "c"], "full_outer"
    ).select(
        "event_type",
        "c",
        F.coalesce("n", F.lit(0)).alias("nx"),
        F.coalesce("ny", F.lit(0)).alias("ny"),
    )
    w = Window.partitionBy("event_type").orderBy("c").rowsBetween(
        Window.unboundedPreceding, -1
    )
    g = grid.select(
        "event_type",
        "nx",
        "ny",
        F.coalesce(F.sum("ny").over(w), F.lit(0)).alias("cumy"),
    )
    s = g.groupBy("event_type").agg(
        F.sum("nx").alias("n_x"),
        F.sum("ny").alias("n_y"),
        F.sum(F.expr("nx * (2 * cumy + ny)")).alias("u2"),
        F.sum(
            F.expr("(nx + ny) * (nx + ny) * (nx + ny) - (nx + ny)")
        ).alias("ties"),
    )
    zexpr = (
        "(u2 - CAST(n_x AS DOUBLE) * n_y)"
        " / (2 * sqrt(CAST(n_x AS DOUBLE) * n_y / 12.0"
        " * ((n_x + n_y + 1.0)"
        " - CAST(ties AS DOUBLE) / ((n_x + n_y) * (n_x + n_y - 1.0)))))"
    )
    return s.select(
        "event_type",
        "n_x",
        "n_y",
        "u2",
        F.expr(f"ROUND({zexpr}, 6)").alias("z"),
        F.expr(f"abs({zexpr}) > {_TT_Z}").alias("significant"),
    )


stats_mann_whitney_u.__doc__ = stats_mann_whitney_u.__doc__.format(
    base=_TT_BASELINE
)


# second pseudo-rater for eval_cohens_kappa: agrees with the label ~60% of
# the time, disagreements spread by a DIFFERENT hash than _CM_PRED so the
# two raters' errors are uncorrelated (kappa's whole point)
_KAPPA_PRED_B = (
    "CASE WHEN event_id % 7 < 4 THEN event_type ELSE"
    " CASE event_id % 3 WHEN 0 THEN 'view' WHEN 1 THEN 'click'"
    " ELSE 'error' END END"
)

_KAPPA_ORACLE = f"""
WITH g AS (
  SELECT {_CM_PRED} AS ra, {_KAPPA_PRED_B} AS rb,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
),
m AS (
  SELECT CAST(SUM(n) AS BIGINT) AS nn,
         CAST(SUM(CASE WHEN ra = rb THEN n ELSE 0 END) AS BIGINT)
           AS agree,
         CAST((SELECT SUM(a.na * b.nb) FROM
                (SELECT ra AS k, SUM(n) AS na FROM g GROUP BY 1) a
                JOIN (SELECT rb AS k, SUM(n) AS nb FROM g GROUP BY 1) b
                  ON a.k = b.k) AS BIGINT) AS chance
  FROM g
)
SELECT nn AS n, agree,
       CAST((agree * 1000000) // nn AS BIGINT) AS po_micro,
       CAST((chance * 1000000) // (nn * nn) AS BIGINT) AS pe_micro,
       CAST((((agree * 1000000) // nn - (chance * 1000000) // (nn * nn))
             * 1000000)
            // (1000000 - (chance * 1000000) // (nn * nn)) AS BIGINT)
         AS kappa_micro
FROM m
"""


@query("eval_cohens_kappa", oracle=_KAPPA_ORACLE)
def eval_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa inter-annotator agreement (Cohen 1960) between two
    raters — the labeling-QA primitive for any human- or model-annotated
    training set (raw percent-agreement overstates reliability when the
    label marginals are skewed; kappa subtracts chance agreement
    p_e = Σ_k p_a(k)·p_b(k)). Raters here are two deterministically
    hashed pseudo-models over events (the _CM_PRED fixture device);
    swap in real annotation columns unchanged.

    Plan: ONE scan to the |labels|² confusion grid; observed agreement,
    marginals, and the chance term are grid re-aggregations; output is
    one row. All ratios in exact integer micro-units (truncating DIV,
    both engines) — agree·1e6 and Σ n_a·n_b stay in BIGINT up to ~9e12
    rows; past that, divide the marginals to micro-shares first (same
    grid shape).
    """
    ev = load(spark, sf_dir, "events")
    g = ev.groupBy(
        F.expr(_CM_PRED).alias("ra"), F.expr(_KAPPA_PRED_B).alias("rb")
    ).agg(F.count(F.lit(1)).alias("n"))
    g = g.localCheckpoint()  # grid feeds totals + two marginals
    na = g.groupBy(F.col("ra").alias("k")).agg(F.sum("n").alias("na"))
    nb = g.groupBy(F.col("rb").alias("k")).agg(F.sum("n").alias("nb"))
    chance = (
        na.join(nb, "k")
        .agg(F.sum(F.expr("na * nb")).alias("chance"))
    )
    tot = g.agg(
        F.sum("n").alias("nn"),
        F.sum(F.expr("CASE WHEN ra = rb THEN n ELSE 0 END")).alias("agree"),
    )
    return (
        tot.crossJoin(F.broadcast(chance))
        .select(
            F.col("nn").alias("n"),
            "agree",
            F.expr("CAST((agree * 1000000) DIV nn AS BIGINT)").alias(
                "po_micro"
            ),
            F.expr(
                "CAST((chance * 1000000) DIV (nn * nn) AS BIGINT)"
            ).alias("pe_micro"),
            F.expr(
                "CAST((((agree * 1000000) DIV nn"
                " - (chance * 1000000) DIV (nn * nn)) * 1000000)"
                " DIV (1000000 - (chance * 1000000) DIV (nn * nn))"
                " AS BIGINT)"
            ).alias("kappa_micro"),
        )
    )


_TE_CENTS = "CAST(ROUND(value * 100) AS BIGINT)"


@query(
    "feature_target_encoding_loo",
    oracle=f"""
    WITH s AS (
      SELECT event_id, event_type, {_TE_CENTS} AS c,
             SUM({_TE_CENTS}) OVER (PARTITION BY event_type) AS sum_c,
             COUNT(*) OVER (PARTITION BY event_type) AS n_c
      FROM events
    )
    SELECT event_id, event_type,
           CAST(((sum_c - c) * 1000000) // (n_c - 1) AS BIGINT)
             AS te_loo_micro
    FROM s WHERE n_c > 1
    """,
)
def feature_target_encoding_loo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding — the standard high-cardinality
    categorical encoder for gradient-boosted / linear models: each row's
    category is replaced by the mean target of all OTHER rows in that
    category, which kills the self-leakage that naive target encoding
    injects (the encoded feature would contain the row's own label).
    LOO mean = (Σ_cat - own) / (n_cat - 1), in exact integer cents
    lifted to micro-units with one truncating DIV (identical on both
    engines; no float accumulation over the category).

    Plan: ONE scan, ONE exchange on the category key — the category
    sum/count are unordered partition windows (no sort frame), and the
    per-row subtraction is codegen arithmetic. Headroom: (Σ_cat)·1e6
    fits BIGINT to ~1.8e8 rows/category at cents ≤ 5e4; past that,
    pre-aggregate per (category, day) partials and join back (same
    single-exchange shape, the stats_welch_ttest discipline).
    """
    ev = load(spark, sf_dir, "events")
    wp = Window.partitionBy("event_type")
    s = ev.select(
        "event_id",
        "event_type",
        F.expr(_TE_CENTS).alias("c"),
        F.sum(F.expr(_TE_CENTS)).over(wp).alias("sum_c"),
        F.count(F.lit(1)).over(wp).alias("n_c"),
    )
    return s.filter(F.col("n_c") > 1).select(
        "event_id",
        "event_type",
        F.expr(
            "CAST(((sum_c - c) * 1000000) DIV (n_c - 1) AS BIGINT)"
        ).alias("te_loo_micro"),
    )


# ---------------------------------------------------------------------------
# Rank / information-theoretic association — the monotone-relationship and
# nonlinear-dependence siblings of stats_correlation (Pearson measures
# linear association only). Both follow the module's histogram-first
# device: ranks and probabilities come from bounded-domain histograms, so
# no corpus-sized sort or window ever runs.

_SP_HOD = "hour(ts)"  # wall-clock hour of the naive ts, identical engines
_SP_HOD_DUCK = "EXTRACT(hour FROM ts)"


_SPEARMAN_ORACLE = f"""
WITH j AS (
  SELECT event_type, {_TT_CENTS} AS c, {_SP_HOD_DUCK} AS hod,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2, 3
),
mx AS (
  SELECT event_type, c, CAST(SUM(n) AS BIGINT) AS nx,
         CAST(2 * COALESCE(SUM(SUM(n)) OVER (PARTITION BY event_type
             ORDER BY c ROWS BETWEEN UNBOUNDED PRECEDING
             AND 1 PRECEDING), 0) + SUM(n) + 1 AS BIGINT) AS r2x
  FROM j GROUP BY event_type, c
),
my AS (
  SELECT event_type, hod, CAST(SUM(n) AS BIGINT) AS ny,
         CAST(2 * COALESCE(SUM(SUM(n)) OVER (PARTITION BY event_type
             ORDER BY hod ROWS BETWEEN UNBOUNDED PRECEDING
             AND 1 PRECEDING), 0) + SUM(n) + 1 AS BIGINT) AS r2y
  FROM j GROUP BY event_type, hod
),
s AS (
  SELECT j.event_type,
         CAST(SUM(j.n) AS BIGINT) AS nn,
         SUM(CAST(j.n AS HUGEINT) * mx.r2x) AS sx,
         SUM(CAST(j.n AS HUGEINT) * my.r2y) AS sy,
         SUM(CAST(j.n AS HUGEINT) * mx.r2x * my.r2y) AS sxy,
         SUM(CAST(j.n AS HUGEINT) * mx.r2x * mx.r2x) AS sxx,
         SUM(CAST(j.n AS HUGEINT) * my.r2y * my.r2y) AS syy
  FROM j
  JOIN mx ON mx.event_type = j.event_type AND mx.c = j.c
  JOIN my ON my.event_type = j.event_type AND my.hod = j.hod
  GROUP BY j.event_type
)
SELECT event_type, nn AS n,
       ROUND((CAST(nn AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / sqrt((CAST(nn AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                    * (CAST(nn AS DOUBLE) * CAST(syy AS DOUBLE)
                       - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
         AS rho
FROM s
WHERE CAST(nn AS DOUBLE) * CAST(sxx AS DOUBLE)
        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0
  AND CAST(nn AS DOUBLE) * CAST(syy AS DOUBLE)
        - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) > 0
"""


@query("stats_spearman_corr", oracle=_SPEARMAN_ORACLE)
def stats_spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation (Spearman 1904) between a metric's value
    and the hour of day, per event_type — the monotone-association
    readout next to stats_correlation's Pearson r (rank correlation is
    invariant to monotone transforms and robust to the heavy tails that
    dominate revenue/latency metrics). Tied observations receive the
    standard average (fractional) rank.

    HISTOGRAM-FIRST (the stats_mann_whitney_u device): ranks never touch
    raw rows. ONE scan reduces to the (group, cents, hour) joint
    histogram — bounded by the value domain (≤ 5e4 cents) × 24 hours
    regardless of corpus size — marginals and average ranks derive from
    that grid (2·avg-rank kept as an exact BIGINT: R2 = 2·cum_prev+n+1),
    and rho is Pearson over the n-weighted rank pairs, computed from six
    exact integer moments in one closed-form double expression per
    engine. A rank() window over raw rows would be a corpus-wide total
    sort; this is one groupBy plus windows over metadata-sized grids.
    Overflow: Σ n·R2² grows as 4N³, which bursts BIGINT at N ≈ 1.3e6
    rows/group (the x100 scaleproof caught the BIGINT draft doing
    exactly that), so the weighted moment products are lifted to
    DECIMAL(38,0) / HUGEINT — headroom to N ≈ 1e12 — and only the final
    closed form drops to DOUBLE (the pca_power_component device).

    Reference analog: frequencyAnalysis.py's per-group statistics layer
    (frequencyAnalysis.py:31-35), extended to rank association.
    """
    ev = load(spark, sf_dir, "events")
    j = ev.groupBy(
        "event_type",
        F.expr(_TT_CENTS).alias("c"),
        F.expr(_SP_HOD).alias("hod"),
    ).agg(F.count(F.lit(1)).alias("n"))
    # the joint grid feeds both marginals and the weighted moments —
    # materialize the bounded relation once so the corpus is scanned ONCE
    j = j.localCheckpoint()
    wx = (
        Window.partitionBy("event_type")
        .orderBy("c")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    mx = (
        j.groupBy("event_type", "c")
        .agg(F.sum("n").alias("nx"))
        .withColumn("cumx", F.coalesce(F.sum("nx").over(wx), F.lit(0)))
        .select(
            "event_type",
            "c",
            F.expr("CAST(2 * cumx + nx + 1 AS BIGINT)").alias("r2x"),
        )
    )
    wy = (
        Window.partitionBy("event_type")
        .orderBy("hod")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    my = (
        j.groupBy("event_type", "hod")
        .agg(F.sum("n").alias("ny"))
        .withColumn("cumy", F.coalesce(F.sum("ny").over(wy), F.lit(0)))
        .select(
            "event_type",
            "hod",
            F.expr("CAST(2 * cumy + ny + 1 AS BIGINT)").alias("r2y"),
        )
    )
    s = (
        j.join(mx, ["event_type", "c"])
        .join(my, ["event_type", "hod"])
        .groupBy("event_type")
        .agg(
            F.sum("n").alias("nn"),
            F.sum(F.expr("CAST(n AS DECIMAL(38,0)) * r2x")).alias("sx"),
            F.sum(F.expr("CAST(n AS DECIMAL(38,0)) * r2y")).alias("sy"),
            F.sum(
                F.expr("CAST(n AS DECIMAL(38,0)) * r2x * r2y")
            ).alias("sxy"),
            F.sum(
                F.expr("CAST(n AS DECIMAL(38,0)) * r2x * r2x")
            ).alias("sxx"),
            F.sum(
                F.expr("CAST(n AS DECIMAL(38,0)) * r2y * r2y")
            ).alias("syy"),
        )
    )
    varx = (
        "CAST(nn AS DOUBLE) * CAST(sxx AS DOUBLE)"
        " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)"
    )
    vary = (
        "CAST(nn AS DOUBLE) * CAST(syy AS DOUBLE)"
        " - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)"
    )
    return s.filter(F.expr(f"{varx} > 0 AND {vary} > 0")).select(
        "event_type",
        F.col("nn").alias("n"),
        F.expr(
            "ROUND((CAST(nn AS DOUBLE) * CAST(sxy AS DOUBLE)"
            " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
            f" / sqrt(({varx}) * ({vary})), 6)"
        ).alias("rho"),
    )


_FDR_ALPHA = 0.05  # family-wise false-discovery target


_FDR_ORACLE = f"""
WITH h AS (
  SELECT event_type, {_TT_CENTS} AS c, CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
),
hy AS (SELECT c, n AS ny FROM h WHERE event_type = '{_TT_BASELINE}'),
types AS (
  SELECT DISTINCT event_type FROM h WHERE event_type <> '{_TT_BASELINE}'
),
grid AS (
  SELECT COALESCE(hx.event_type, gy.event_type) AS event_type,
         COALESCE(hx.c, gy.c) AS c,
         COALESCE(hx.n, 0) AS nx, COALESCE(gy.ny, 0) AS ny
  FROM (SELECT * FROM h WHERE event_type <> '{_TT_BASELINE}') hx
  FULL OUTER JOIN (SELECT t.event_type, hy.c, hy.ny
                   FROM types t CROSS JOIN hy) gy
    ON hx.event_type = gy.event_type AND hx.c = gy.c
),
cdf AS (
  SELECT event_type, nx, ny,
         SUM(nx) OVER (PARTITION BY event_type ORDER BY c
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cx,
         SUM(ny) OVER (PARTITION BY event_type ORDER BY c
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cy,
         SUM(nx) OVER (PARTITION BY event_type) AS n_x,
         SUM(ny) OVER (PARTITION BY event_type) AS n_y
  FROM grid
),
ks1 AS (
  SELECT event_type,
         CAST(MAX(n_x) AS BIGINT) AS n_x,
         CAST(MAX(n_y) AS BIGINT) AS n_y,
         MAX(ABS(CAST(cx AS DOUBLE) / n_x - CAST(cy AS DOUBLE) / n_y))
           AS d
  FROM cdf GROUP BY event_type
),
pv AS (
  SELECT event_type, n_x, n_y, d,
         LEAST(1.0, 2 * exp(-2.0 * (CAST(n_x AS DOUBLE) * n_y
                                    / (n_x + n_y)) * d * d)) AS p
  FROM ks1
),
ranked AS (
  SELECT *,
         ROW_NUMBER() OVER (ORDER BY p, event_type) AS bh_rank,
         COUNT(*) OVER () AS m
  FROM pv
),
cut AS (
  SELECT *,
         MAX(CASE WHEN p * m <= bh_rank * {_FDR_ALPHA} THEN bh_rank
                  ELSE 0 END) OVER () AS k
  FROM ranked
)
SELECT event_type, n_x, n_y,
       ROUND(d, 6) AS d,
       ROUND(p, 6) AS p_value,
       CAST(bh_rank AS BIGINT) AS bh_rank,
       bh_rank <= k AS reject
FROM cut
"""


@query("stats_fdr_bh", oracle=_FDR_ORACLE)
def stats_fdr_bh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini-Hochberg false-discovery-rate control (Benjamini &
    Hochberg 1995) over the family of per-variant KS two-sample tests
    against the '{base}' control — the multiple-comparisons layer the
    A/B family (stats_welch_ttest / stats_mann_whitney_u / stats_ks_drift)
    needs once many variants are tested at once: per-test 5% thresholds
    inflate family-wise false positives, BH rejects the largest prefix of
    the p-ordered tests with p_(i) <= i*alpha/m. p-values come from the
    asymptotic KS tail bound p = min(1, 2*exp(-2*ne*D^2)).

    HISTOGRAM-FIRST: the KS statistic per variant derives from the same
    bounded (group, cents) grid as stats_mann_whitney_u — CDFs are
    cumulative windows over <= 5e4 grid rows per group; raw rows are
    touched by exactly ONE scan-and-aggregate. The BH ranking itself is
    a window over the |variants|-row test table (metadata-sized by
    construction). Determinism: D is pure IEEE arithmetic (division/
    max/abs are correctly rounded, identical across engines); exp enters
    only the reported p and the threshold comparison, where a last-ulp
    libm difference flips nothing away from the measure-zero boundary.

    Reference analog: the frequency stage's per-group comparison layer
    (frequencyAnalysis.py:31-35) lifted to a controlled test family.
    """
    ev = load(spark, sf_dir, "events")
    h = ev.groupBy(
        "event_type", F.expr(_TT_CENTS).alias("c")
    ).agg(F.count(F.lit(1)).alias("n"))
    h = h.localCheckpoint()  # one corpus scan feeds both grid sides
    hy = h.filter(F.col("event_type") == _TT_BASELINE).select(
        "c", F.col("n").alias("ny")
    )
    hx = h.filter(F.col("event_type") != _TT_BASELINE)
    types = hx.select("event_type").distinct()
    gy = types.crossJoin(F.broadcast(hy))
    grid = hx.join(gy, ["event_type", "c"], "full_outer").select(
        "event_type",
        "c",
        F.coalesce("n", F.lit(0)).alias("nx"),
        F.coalesce("ny", F.lit(0)).alias("ny"),
    )
    wcum = Window.partitionBy("event_type").orderBy("c").rowsBetween(
        Window.unboundedPreceding, 0
    )
    wall_g = Window.partitionBy("event_type")
    cdf = grid.select(
        "event_type",
        "nx",
        "ny",
        F.sum("nx").over(wcum).alias("cx"),
        F.sum("ny").over(wcum).alias("cy"),
    )
    ks = (
        cdf.select(
            "event_type",
            F.sum("nx").over(wall_g).alias("n_x"),
            F.sum("ny").over(wall_g).alias("n_y"),
            "cx",
            "cy",
        )
        .select(
            "event_type",
            "n_x",
            "n_y",
            F.expr(
                "ABS(CAST(cx AS DOUBLE) / n_x - CAST(cy AS DOUBLE) / n_y)"
            ).alias("dstep"),
        )
        .groupBy("event_type", "n_x", "n_y")
        .agg(F.max("dstep").alias("d"))
    )
    pv = ks.withColumn(
        "p",
        F.expr(
            "LEAST(1.0, 2 * exp(-2.0 * (CAST(n_x AS DOUBLE) * n_y"
            " / (n_x + n_y)) * d * d))"
        ),
    )
    wrank = Window.partitionBy().orderBy("p", "event_type")
    wall = Window.partitionBy()
    ranked = pv.select(
        "*",
        F.row_number().over(wrank).alias("bh_rank"),
        F.count(F.lit(1)).over(wall).alias("m"),
    )
    cut = ranked.withColumn(
        "k",
        F.max(
            F.when(
                F.expr(f"p * m <= bh_rank * {_FDR_ALPHA}"),
                F.col("bh_rank"),
            ).otherwise(F.lit(0))
        ).over(wall),
    )
    return cut.select(
        "event_type",
        "n_x",
        "n_y",
        F.expr("ROUND(d, 6)").alias("d"),
        F.expr("ROUND(p, 6)").alias("p_value"),
        F.col("bh_rank").cast("bigint").alias("bh_rank"),
        F.expr("bh_rank <= k").alias("reject"),
    )


stats_fdr_bh.__doc__ = stats_fdr_bh.__doc__.format(base=_TT_BASELINE)


_MI_XB = "CAST(FLOOR(value * 2) AS BIGINT)"  # half-unit value buckets


_MI_ORACLE = f"""
WITH j AS (
  SELECT {_MI_XB} AS xb, event_type AS y,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
),
m AS (
  SELECT xb, y, n,
         SUM(n) OVER (PARTITION BY xb) AS nx,
         SUM(n) OVER (PARTITION BY y) AS ny,
         SUM(n) OVER () AS nn
  FROM j
)
SELECT CAST(MAX(nn) AS BIGINT) AS n,
       CAST(COUNT(DISTINCT xb) AS BIGINT) AS n_x_buckets,
       CAST(COUNT(DISTINCT y) AS BIGINT) AS n_y_classes,
       ROUND(SUM((CAST(n AS DOUBLE) / nn)
                 * ln(CAST(n AS DOUBLE) * nn
                      / (CAST(nx AS DOUBLE) * ny))), 6) AS mi_nats,
       ROUND(-SUM((CAST(n AS DOUBLE) / nn)
                  * ln(CAST(nx AS DOUBLE) / nn)), 6) AS hx_nats,
       ROUND(-SUM((CAST(n AS DOUBLE) / nn)
                  * ln(CAST(ny AS DOUBLE) / nn)), 6) AS hy_nats,
       ROUND(SUM((CAST(n AS DOUBLE) / nn)
                 * ln(CAST(n AS DOUBLE) * nn
                      / (CAST(nx AS DOUBLE) * ny)))
             / sqrt(SUM((CAST(n AS DOUBLE) / nn)
                        * ln(CAST(nx AS DOUBLE) / nn))
                    * SUM((CAST(n AS DOUBLE) / nn)
                          * ln(CAST(ny AS DOUBLE) / nn))), 6) AS nmi
FROM m
"""


@query("feature_mutual_information", oracle=_MI_ORACLE)
def feature_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information I(X;Y) between the bucketized metric value and
    the event class, plus both marginal entropies and the normalized MI
    (Cover & Thomas ch.2) — the feature-relevance score behind MI-based
    feature selection (a feature with near-zero MI against the label
    carries no signal regardless of its Pearson r, and MI catches the
    nonlinear dependence Pearson misses).

    HISTOGRAM-FIRST: ONE scan reduces to the (bucket, class) joint
    histogram — bounded by the value domain (~1e3 half-unit buckets ×
    |classes|) regardless of corpus size — marginals are window sums
    over that grid, and all three information quantities are one
    aggregate over the grid (the Hx/Hy terms reuse the joint rows:
    Σ_xy (n/N)·ln(nx/N) telescopes to Σ_x (nx/N)·ln(nx/N), so no second
    pass over the marginals is needed). Exact integers everywhere until
    the final double expression; ROUND(,6) absorbs summation-order ulps
    (registry contract).

    Reference analog: frequencyAnalysis.py's per-group frequency layer
    (frequencyAnalysis.py:31-35) read through an information-theoretic
    lens.
    """
    ev = load(spark, sf_dir, "events")
    j = ev.groupBy(
        F.expr(_MI_XB).alias("xb"), F.col("event_type").alias("y")
    ).agg(F.count(F.lit(1)).alias("n"))
    # the joint grid feeds three window partitionings plus the distinct
    # counts — materialize the bounded relation once (ONE corpus scan)
    j = j.localCheckpoint()
    m = j.select(
        "xb",
        "y",
        "n",
        F.sum("n").over(Window.partitionBy("xb")).alias("nx"),
        F.sum("n").over(Window.partitionBy("y")).alias("ny"),
        F.sum("n").over(Window.partitionBy()).alias("nn"),
    )
    mi = (
        "SUM((CAST(n AS DOUBLE) / nn)"
        " * ln(CAST(n AS DOUBLE) * nn / (CAST(nx AS DOUBLE) * ny)))"
    )
    hx = "SUM((CAST(n AS DOUBLE) / nn) * ln(CAST(nx AS DOUBLE) / nn))"
    hy = "SUM((CAST(n AS DOUBLE) / nn) * ln(CAST(ny AS DOUBLE) / nn))"
    return m.agg(
        F.expr("CAST(MAX(nn) AS BIGINT)").alias("n"),
        F.expr("CAST(COUNT(DISTINCT xb) AS BIGINT)").alias("n_x_buckets"),
        F.expr("CAST(COUNT(DISTINCT y) AS BIGINT)").alias("n_y_classes"),
        F.expr(f"ROUND({mi}, 6)").alias("mi_nats"),
        F.expr(f"ROUND(-{hx}, 6)").alias("hx_nats"),
        F.expr(f"ROUND(-{hy}, 6)").alias("hy_nats"),
        F.expr(f"ROUND({mi} / sqrt(({hx}) * ({hy})), 6)").alias("nmi"),
    )


_FH_B = 256  # hashed feature dimensionality


_FH_ORACLE = f"""
WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(string_split(text, ' '), w -> w <> '')) AS w
  FROM documents
),
h AS (
  SELECT doc_id,
         CAST(('0x' || substring(md5(w), 1, 8)) AS BIGINT) AS h32
  FROM toks
),
v AS (
  SELECT doc_id, h32 % {_FH_B} AS bucket,
         CAST(SUM(CASE WHEN (h32 // {_FH_B}) % 2 = 0 THEN 1 ELSE -1 END)
              AS BIGINT) AS wgt
  FROM h GROUP BY 1, 2
),
nz AS (SELECT * FROM v WHERE wgt <> 0)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS nnz,
       CAST(SUM(ABS(wgt)) AS BIGINT) AS l1,
       CAST(SUM(wgt * wgt) AS BIGINT) AS l2sq,
       md5(array_to_string(
           list_sort(list(CAST(bucket AS VARCHAR) || ':'
                          || CAST(wgt AS VARCHAR))), ',')) AS vec_digest
FROM nz GROUP BY doc_id
"""


@query("feature_hashing_trick", oracle=_FH_ORACLE)
def feature_hashing_trick(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signed hashing-trick vectorization (Weinberger et al., ICML 2009):
    tokens hash into a fixed {b}-dimensional space with a ±1 sign bit
    drawn from the same hash, so collisions cancel in expectation and no
    vocabulary table exists at all — the streaming-friendly featurizer
    for unbounded vocabularies (contrast tokenizer_vocab_coverage, which
    needs the trained vocab broadcast). Emits each document's sparse
    vector as exact counts: nnz / L1 / L2², plus an md5 digest of the
    canonically-ordered (bucket, weight) pairs — the driver-hashable
    witness of the full vector (the training.py digest device).

    Scale shape: token explode is linear in corpus tokens; BOTH
    aggregations key on doc_id (bucket fan-in, then vector rollup), so
    the heavy shuffle happens once and the second is a near-local
    re-group of ≤ {b} rows per doc. No vocabulary join, no driver state,
    no Python — the hash, sign, and digest are all codegen expressions
    via the module-standard md5-conv device (bit-identical on both
    engines). Weights that cancel to exactly 0 are dropped (absent from
    a sparse vector by definition).
    """
    d = load(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.explode(
            F.expr("filter(split(text, ' '), w -> w <> '')")
        ).alias("w"),
    )
    h = toks.select(
        "doc_id",
        F.conv(F.substring(F.md5("w"), 1, 8), 16, 10)
        .cast("bigint")
        .alias("h32"),
    )
    v = (
        h.groupBy(
            "doc_id", F.expr(f"h32 % {_FH_B}").alias("bucket")
        )
        .agg(
            F.sum(
                F.expr(
                    f"CASE WHEN (h32 DIV {_FH_B}) % 2 = 0"
                    " THEN 1 ELSE -1 END"
                )
            ).alias("wgt")
        )
        .filter(F.col("wgt") != 0)
    )
    return v.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("nnz"),
        F.sum(F.abs(F.col("wgt"))).alias("l1"),
        F.sum(F.expr("wgt * wgt")).alias("l2sq"),
        F.md5(
            F.concat_ws(
                ",",
                F.sort_array(
                    F.collect_list(
                        F.expr(
                            "CAST(bucket AS STRING) || ':'"
                            " || CAST(wgt AS STRING)"
                        )
                    )
                ),
            )
        ).alias("vec_digest"),
    )


feature_hashing_trick.__doc__ = feature_hashing_trick.__doc__.format(b=_FH_B)


_JSD_ORACLE = f"""
WITH c AS (
  SELECT source, LEAST({_PSI_B - 1}, n_chars // {_PSI_W}) AS bin,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM documents GROUP BY 1, 2
),
grid AS (
  SELECT s.source, CAST(b.bin AS BIGINT) AS bin, COALESCE(c.n, 0) AS n
  FROM (SELECT DISTINCT source FROM documents) s
  CROSS JOIN (SELECT unnest(range({_PSI_B})) AS bin) b
  LEFT JOIN c ON c.source = s.source AND c.bin = b.bin
),
w AS (
  SELECT *,
         SUM(n) OVER (PARTITION BY source) AS n_s,
         SUM(n) OVER (PARTITION BY bin) AS n_b,
         SUM(n) OVER () AS n_t
  FROM grid
),
k AS (
  SELECT source, bin, n,
         CAST(((n + 1) * 1000000) // (n_s + {_PSI_B}) AS BIGINT) AS p_micro,
         CAST(((n_b + 1) * 1000000) // (n_t + {_PSI_B}) AS BIGINT)
           AS q_micro,
         CAST(ROUND((
             0.5 * (CAST(n + 1 AS DOUBLE) / (n_s + {_PSI_B}))
               * (ln(CAST(2 * (n + 1) * (n_t + {_PSI_B}) AS DOUBLE))
                  - ln(CAST((n + 1) * (n_t + {_PSI_B})
                            + (n_b + 1) * (n_s + {_PSI_B}) AS DOUBLE)))
           + 0.5 * (CAST(n_b + 1 AS DOUBLE) / (n_t + {_PSI_B}))
               * (ln(CAST(2 * (n_b + 1) * (n_s + {_PSI_B}) AS DOUBLE))
                  - ln(CAST((n + 1) * (n_t + {_PSI_B})
                            + (n_b + 1) * (n_s + {_PSI_B}) AS DOUBLE)))
         ) * 1000000, 0) AS BIGINT) AS contrib_micro
  FROM w
)
SELECT source, bin, n, p_micro, q_micro, contrib_micro,
       CAST(SUM(contrib_micro) OVER (PARTITION BY source) AS BIGINT)
         AS jsd_micro
FROM k
"""


@query("drift_js_divergence", oracle=_JSD_ORACLE)
def drift_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon divergence per source against the corpus-wide
    distribution — the SYMMETRIC, bounded (≤ ln 2) drift score that PSI
    is not: PSI blows up on near-empty bins and is asymmetric in (p, q),
    so monitoring stacks pair it with JSD when sources can be tiny or
    spiky (JSD is also the distance underlying the classic n-gram corpus
    similarity literature). Same watched distribution and add-one
    smoothing as drift_psi_by_source: document length, {b} fixed-width
    bins — the two scores ride IDENTICAL histogram plumbing, so a
    dashboard computes both from one pass.

    Plan: identical to the PSI op (the array-slot histogram aggregates
    in ONE corpus pass; posexplode densifies; baseline/total attach via
    windows over the |sources| × {b} grid — never a corpus re-scan).
    Determinism: p/q are exact integer micros; each JSD term's ln runs
    on exact-integer-valued doubles (2p/(p+m) recast as an integer
    ratio), is rounded ONCE to integer micros, and the per-source total
    is an exact integer sum of those — the PSI determinism argument
    verbatim. Reference analog: frequencyAnalysis.py's per-group
    distribution layer (frequencyAnalysis.py:31-35) as a divergence.
    """
    docs = load(spark, sf_dir, "documents").select(
        "source",
        F.least(
            F.lit(_PSI_B - 1), F.floor(F.col("n_chars") / _PSI_W)
        ).alias("bin"),
    )
    hist = docs.groupBy("source").agg(
        F.array(
            *[
                F.sum(F.when(F.col("bin") == b, 1).otherwise(0)).cast(
                    "bigint"
                )
                for b in range(_PSI_B)
            ]
        ).alias("h")
    )
    grid = hist.select(
        "source", F.posexplode("h").alias("bin_i", "n")
    ).select("source", F.col("bin_i").cast("bigint").alias("bin"), "n")
    w = (
        grid.withColumn(
            "n_s", F.sum("n").over(Window.partitionBy("source"))
        )
        .withColumn("n_b", F.sum("n").over(Window.partitionBy("bin")))
        .withColumn("n_t", F.sum("n").over(Window.partitionBy()))
    )
    mden = (
        f"(n + 1) * (n_t + {_PSI_B}) + (n_b + 1) * (n_s + {_PSI_B})"
    )
    contrib = F.round(
        (
            F.lit(0.5)
            * ((F.col("n") + 1) / (F.col("n_s") + _PSI_B))
            * (
                F.log(
                    F.expr(
                        f"CAST(2 * (n + 1) * (n_t + {_PSI_B}) AS DOUBLE)"
                    )
                )
                - F.log(F.expr(f"CAST({mden} AS DOUBLE)"))
            )
            + F.lit(0.5)
            * ((F.col("n_b") + 1) / (F.col("n_t") + _PSI_B))
            * (
                F.log(
                    F.expr(
                        f"CAST(2 * (n_b + 1) * (n_s + {_PSI_B}) AS DOUBLE)"
                    )
                )
                - F.log(F.expr(f"CAST({mden} AS DOUBLE)"))
            )
        )
        * 1000000,
        0,
    ).cast("bigint")
    k = w.select(
        "source",
        "bin",
        "n",
        F.expr(f"((n + 1) * 1000000) div (n_s + {_PSI_B})").alias(
            "p_micro"
        ),
        F.expr(f"((n_b + 1) * 1000000) div (n_t + {_PSI_B})").alias(
            "q_micro"
        ),
        contrib.alias("contrib_micro"),
    )
    return k.withColumn(
        "jsd_micro",
        F.sum("contrib_micro").over(Window.partitionBy("source")),
    )


drift_js_divergence.__doc__ = drift_js_divergence.__doc__.format(b=_PSI_B)


_WINSOR_ORACLE = """
WITH c AS (
  SELECT event_type,
         CAST(ROUND(value * 100) AS BIGINT) AS cents
  FROM events WHERE value IS NOT NULL AND NOT isnan(value)
),
r AS (
  SELECT event_type, cents,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY cents) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM c
),
k AS (
  SELECT *,
         GREATEST(1, (5 * n) // 100) AS k_lo,
         LEAST(n, (95 * n + 99) // 100) AS k_hi
  FROM r
)
SELECT event_type,
       CAST(MAX(n) AS BIGINT) AS n,
       CAST(MIN(CASE WHEN rn = k_lo THEN cents END) AS BIGINT)
         AS lo_cents,
       CAST(MIN(CASE WHEN rn = k_hi THEN cents END) AS BIGINT)
         AS hi_cents,
       CAST(MAX(k_lo) - 1 AS BIGINT) AS n_clipped_low,
       CAST(MAX(n) - MAX(k_hi) AS BIGINT) AS n_clipped_high,
       CAST(((SUM(CASE WHEN rn >= k_lo AND rn <= k_hi THEN cents
                       ELSE 0 END)
              + (MAX(k_lo) - 1)
                * MIN(CASE WHEN rn = k_lo THEN cents END)
              + (MAX(n) - MAX(k_hi))
                * MIN(CASE WHEN rn = k_hi THEN cents END))
             * 10000) // MAX(n) AS BIGINT) AS winsor_mean_micro
FROM k GROUP BY event_type
"""


@query("feature_winsorize", oracle=_WINSOR_ORACLE)
def feature_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-exact winsorization (5th/95th) per event_type: the outlier-
    robust scaling step feature pipelines run before z-scoring — values
    below the k_lo-th order statistic are pulled UP to it and values
    above the k_hi-th pulled DOWN, unlike trimming (feature_mad_outliers
    flags, this one replaces). Cutoffs are EXACT order statistics, not
    percentile_approx — the approx twin pattern (table_profile_approx)
    applies when the rank window gets expensive.

    The winsorized sum never materializes clipped per-row values: with
    ranks in hand it is mid_sum + (k_lo−1)·x_(k_lo) + (n−k_hi)·x_(k_hi),
    so ONE conditional aggregation finishes the job. Values become
    integer cents first (the stream-CUSUM device) — every moment is
    exact BIGINT and the mean is a truncating-DIV micro, bit-identical
    across engines; NaN/NULL are excluded up front (the P2 predicate).

    Scale shape: the rank window and the final groupBy share the single
    event_type-keyed exchange (the streaks shape). Per-group state is
    the partition sort — at 100 TB swap the exact ranks for
    percentile_approx cutoffs (documented swap, same output contract
    modulo the approximation bound). Reference analog:
    frequencyAnalysis.py's per-group statistics layer
    (frequencyAnalysis.py:31-35) made outlier-robust.
    """
    ev = load(spark, sf_dir, "events")
    c = ev.filter(
        F.col("value").isNotNull() & ~F.isnan("value")
    ).select(
        "event_type",
        F.expr("CAST(ROUND(value * 100) AS BIGINT)").alias("cents"),
    )
    wp = Window.partitionBy("event_type")
    r = c.select(
        "event_type",
        "cents",
        F.row_number().over(wp.orderBy("cents")).alias("rn"),
        F.count(F.lit(1)).over(wp).alias("n"),
    )
    k = r.select(
        "*",
        F.expr("GREATEST(1, (5 * n) DIV 100)").alias("k_lo"),
        F.expr("LEAST(n, (95 * n + 99) DIV 100)").alias("k_hi"),
    )
    return k.groupBy("event_type").agg(
        F.max("n").cast("bigint").alias("n"),
        F.min(F.when(F.col("rn") == F.col("k_lo"), F.col("cents")))
        .cast("bigint")
        .alias("lo_cents"),
        F.min(F.when(F.col("rn") == F.col("k_hi"), F.col("cents")))
        .cast("bigint")
        .alias("hi_cents"),
        (F.max("k_lo") - 1).cast("bigint").alias("n_clipped_low"),
        (F.max("n") - F.max("k_hi")).cast("bigint").alias(
            "n_clipped_high"
        ),
        F.expr(
            "CAST(((SUM(CASE WHEN rn >= k_lo AND rn <= k_hi THEN cents"
            " ELSE 0 END)"
            " + (MAX(k_lo) - 1) * MIN(CASE WHEN rn = k_lo THEN cents END)"
            " + (MAX(n) - MAX(k_hi)) * MIN(CASE WHEN rn = k_hi THEN cents"
            " END)) * 10000) DIV MAX(n) AS BIGINT)"
        ).alias("winsor_mean_micro"),
    )


_BRIER_ORACLE = f"""
WITH scored AS ({_eval_scored_sql("list_distinct", "len", "string_split", "list_filter")}),
b AS (
  SELECT LEAST(9, CAST(su // 100000 AS BIGINT)) AS bin, su, pos
  FROM scored
),
g AS (
  SELECT bin,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(pos) AS BIGINT) AS n_pos,
         CAST(SUM(su) AS BIGINT) AS ssu,
         CAST(SUM((su - pos * 1000000) * (su - pos * 1000000))
              AS BIGINT) AS se2
  FROM b GROUP BY bin
),
t AS (
  SELECT bin, n, n_pos, ssu, se2,
         CAST(SUM(n) OVER () AS BIGINT) AS nt,
         CAST(SUM(n_pos) OVER () AS BIGINT) AS pt,
         CAST(SUM(se2) OVER () AS BIGINT) AS se2t
  FROM g
)
SELECT bin, n, n_pos,
       ROUND(CAST(ssu AS DOUBLE) / n / 1000000.0, 6) AS mean_score,
       ROUND(CAST(n_pos AS DOUBLE) / n, 6) AS pos_rate,
       ROUND(POW(CAST(ssu - n_pos * 1000000 AS DOUBLE)
                 / 1000000.0 / n, 2) * n / nt * 1000000.0, 0)
         AS rel_contrib_micro,
       ROUND(POW(CAST(n_pos AS DOUBLE) / n
                 - CAST(pt AS DOUBLE) / nt, 2) * n / nt * 1000000.0, 0)
         AS res_contrib_micro,
       ROUND(CAST(se2t AS DOUBLE) / nt / 1e12, 6) AS brier,
       ROUND(CAST(pt AS DOUBLE) / nt
             * (1.0 - CAST(pt AS DOUBLE) / nt), 6) AS uncertainty
FROM t
"""


@query("eval_brier_decomposition", oracle=_BRIER_ORACLE)
def eval_brier_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Murphy (1973) decomposition of the Brier score into
    reliability − resolution + uncertainty over the 10-bin reliability
    grid — the eval that separates "the filter's scores are mis-scaled"
    (reliability: bin mean score vs bin positive rate) from "the filter
    can't discriminate at all" (resolution: bin rate vs base rate) —
    complementing eval_calibration_bins (which shows the diagram, not
    the attribution) and eval_auc_binned (rank-only). Shares this
    family's deterministic micro-unit scorer, so every moment entering
    the decomposition is an exact integer.

    Exactness: the raw Brier numerator Σ(su − pos·10⁶)² is exact BIGINT
    (≤ 10¹² per row — lift to DECIMAL(38,0) past ~9e6 rows, the
    pca_power_component device); bin moments are exact; each reported
    term is a single closed-form double rounding. Per-bin REL/RES
    contributions are emitted in micros so the dashboard's sums
    reconstruct the decomposition identity up to within-bin variance
    (scores vary inside a bin — the standard caveat).

    Scale: one scan reduces map-side to the 10-bin grid; totals attach
    via windows over that grid (the PSI finale). Nothing else moves.
    Reference analog: frequencyAnalysis.py's per-group statistics layer
    (frequencyAnalysis.py:31-35) as a forecast-quality decomposition.
    """
    d = load(spark, sf_dir, "documents").select(
        "n_chars",
        F.expr("filter(split(text, ' '), x -> x <> '')").alias("w"),
    )
    scored = d.select(
        F.expr(
            "CAST(round(("
            + _EVAL_SCORE.format(
                nd="size(array_distinct(w))", n="size(w)"
            )
            + ") * 1000000.0) AS BIGINT)"
        ).alias("su"),
        F.expr(f"CASE WHEN {_EVAL_LABEL} THEN 1 ELSE 0 END").alias("pos"),
    )
    b = scored.select(
        F.least(F.lit(9), (F.col("su") / 100000).cast("long")).alias(
            "bin"
        ),
        "su",
        "pos",
    )
    g = b.groupBy("bin").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("pos").cast("bigint").alias("n_pos"),
        F.sum("su").cast("bigint").alias("ssu"),
        F.sum(
            F.expr("(su - pos * 1000000) * (su - pos * 1000000)")
        )
        .cast("bigint")
        .alias("se2"),
    )
    wg = Window.partitionBy()
    t = (
        g.withColumn("nt", F.sum("n").over(wg).cast("bigint"))
        .withColumn("pt", F.sum("n_pos").over(wg).cast("bigint"))
        .withColumn("se2t", F.sum("se2").over(wg).cast("bigint"))
    )
    return t.select(
        "bin",
        "n",
        "n_pos",
        F.expr(
            "ROUND(CAST(ssu AS DOUBLE) / n / 1000000.0, 6)"
        ).alias("mean_score"),
        F.expr("ROUND(CAST(n_pos AS DOUBLE) / n, 6)").alias("pos_rate"),
        F.expr(
            "ROUND(POW(CAST(ssu - n_pos * 1000000 AS DOUBLE)"
            " / 1000000.0 / n, 2) * n / nt * 1000000.0, 0)"
        ).alias("rel_contrib_micro"),
        F.expr(
            "ROUND(POW(CAST(n_pos AS DOUBLE) / n"
            " - CAST(pt AS DOUBLE) / nt, 2) * n / nt * 1000000.0, 0)"
        ).alias("res_contrib_micro"),
        F.expr("ROUND(CAST(se2t AS DOUBLE) / nt / 1e12, 6)").alias(
            "brier"
        ),
        F.expr(
            "ROUND(CAST(pt AS DOUBLE) / nt"
            " * (1.0 - CAST(pt AS DOUBLE) / nt), 6)"
        ).alias("uncertainty"),
    )


# two-sided 5% chi-square critical values, df 1..10 (Abramowitz-Stegun
# table 26.8) — literal on both engines, df is data-derived
_KW_CRIT = "ARRAY(3.841, 5.991, 7.815, 9.488, 11.070, 12.592, 14.067, 15.507, 16.919, 18.307)"
_KW_CRIT_DUCK = "[3.841, 5.991, 7.815, 9.488, 11.070, 12.592, 14.067, 15.507, 16.919, 18.307]"


_KW_ORACLE = f"""
WITH h AS (
  SELECT event_type, {_TT_CENTS.replace("value", "value")} AS c,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events WHERE value IS NOT NULL AND NOT isnan(value)
  GROUP BY 1, 2
),
v AS (
  SELECT c, CAST(SUM(n) AS BIGINT) AS nv FROM h GROUP BY c
),
r AS (
  SELECT c, nv,
         2 * COALESCE(SUM(nv) OVER (ORDER BY c
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           + nv + 1 AS rank2
  FROM v
),
g AS (
  SELECT h.event_type,
         CAST(SUM(h.n) AS BIGINT) AS n_h,
         CAST(SUM(h.n * r.rank2) AS BIGINT) AS r2_h
  FROM h JOIN r ON r.c = h.c
  GROUP BY h.event_type
),
t AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS k,
         CAST(SUM(n_h) AS BIGINT) AS n,
         SUM(CAST(r2_h AS DOUBLE) * r2_h / (4.0 * n_h)) AS sr
  FROM g
),
tie AS (
  SELECT CAST(SUM(nv * nv * nv - nv) AS BIGINT) AS ties FROM v
)
SELECT k, n, CAST(k - 1 AS BIGINT) AS df,
       ROUND(12.0 / (CAST(n AS DOUBLE) * (n + 1)) * sr - 3.0 * (n + 1),
             6) AS h_stat,
       ROUND((12.0 / (CAST(n AS DOUBLE) * (n + 1)) * sr - 3.0 * (n + 1))
             / (1.0 - CAST(ties AS DOUBLE)
                / (CAST(n AS DOUBLE) * n * n - n)), 6) AS h_adj,
       (12.0 / (CAST(n AS DOUBLE) * (n + 1)) * sr - 3.0 * (n + 1))
         / (1.0 - CAST(ties AS DOUBLE)
            / (CAST(n AS DOUBLE) * n * n - n))
         > {_KW_CRIT_DUCK}[CAST(LEAST(k - 1, 10) AS INT)] AS significant
FROM t CROSS JOIN tie
"""


@query("stats_kruskal_wallis", oracle=_KW_ORACLE)
def stats_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis H: the k-group generalization of Mann-Whitney
    (one-way ANOVA on ranks) — "does ANY event_type's value distribution
    differ?" asked once, instead of k pairwise U tests with their
    multiplicity problem (which stats_fdr_bh then corrects; the three
    ops form the standard screening ladder). Exact tie correction from
    the same Σ(t³−t) device.

    HISTOGRAM-FIRST (the Mann-Whitney rule): ranks never touch raw rows.
    One scan reduces to the (group, cents) histogram; pooled per-value
    counts give each value's DOUBLED average rank (2·cum_before + n_v +
    1 — integer, no halves); doubled rank sums per group are exact
    BIGINT (R2² ≤ 4N⁴: lift past ~5e4 distinct... see MW bound note);
    H's closed form and the tie correction are single rounded doubles.
    The cum window runs on the |value-domain| grid (bounded cents), the
    rank2 map joins back BROADCAST, and df-based significance uses a
    literal chi² critical array — no SciPy, no engine divergence.
    Reference analog: frequencyAnalysis.py's per-group comparison layer
    (frequencyAnalysis.py:31-35) generalized to k groups.
    """
    ev = load(spark, sf_dir, "events")
    h = (
        ev.filter(F.col("value").isNotNull() & ~F.isnan("value"))
        .groupBy("event_type", F.expr(_TT_CENTS).alias("c"))
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint()  # feeds the pooled grid AND the group join
    )
    v = h.groupBy("c").agg(F.sum("n").cast("bigint").alias("nv"))
    w = Window.orderBy("c").rowsBetween(Window.unboundedPreceding, -1)
    r = v.select(
        "c",
        "nv",
        (
            F.lit(2) * F.coalesce(F.sum("nv").over(w), F.lit(0))
            + F.col("nv")
            + 1
        ).alias("rank2"),
    )
    g = h.join(F.broadcast(r.select("c", "rank2")), "c").groupBy(
        "event_type"
    ).agg(
        F.sum("n").cast("bigint").alias("n_h"),
        F.sum(F.expr("n * rank2")).cast("bigint").alias("r2_h"),
    )
    t = g.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("n_h").cast("bigint").alias("n"),
        F.sum(
            F.expr("CAST(r2_h AS DOUBLE) * r2_h / (4.0 * n_h)")
        ).alias("sr"),
    )
    tie = v.agg(
        F.sum(F.expr("nv * nv * nv - nv")).cast("bigint").alias("ties")
    )
    hexpr = "12.0 / (CAST(n AS DOUBLE) * (n + 1)) * sr - 3.0 * (n + 1)"
    cexpr = (
        "1.0 - CAST(ties AS DOUBLE) / (CAST(n AS DOUBLE) * n * n - n)"
    )
    return t.crossJoin(F.broadcast(tie)).select(
        "k",
        "n",
        (F.col("k") - 1).cast("bigint").alias("df"),
        F.expr(f"ROUND({hexpr}, 6)").alias("h_stat"),
        F.expr(f"ROUND(({hexpr}) / ({cexpr}), 6)").alias("h_adj"),
        F.expr(
            f"({hexpr}) / ({cexpr})"
            f" > element_at({_KW_CRIT}, CAST(LEAST(k - 1, 10) AS INT))"
        ).alias("significant"),
    )

_TAU_ORACLE = """
WITH pts AS (
  SELECT source,
         LEAST(15, n_chars // 64) AS x,
         LEAST(15, len(list_filter(string_split(text, ' '),
                                   t -> t <> '')) // 8) AS y
  FROM documents
),
cells AS (
  SELECT source, x, y, CAST(COUNT(*) AS BIGINT) AS n
  FROM pts GROUP BY 1, 2, 3
),
cd AS (
  SELECT a.source,
         CAST(SUM(CASE WHEN b.x > a.x AND b.y > a.y
                  THEN a.n * b.n ELSE 0 END) AS BIGINT) AS c,
         CAST(SUM(CASE WHEN b.x > a.x AND b.y < a.y
                  THEN a.n * b.n ELSE 0 END) AS BIGINT) AS d
  FROM cells a JOIN cells b ON b.source = a.source
  GROUP BY a.source
),
mx AS (
  SELECT source, CAST(SUM(cx * (cx - 1)) AS BIGINT) AS tx2
  FROM (SELECT source, x, CAST(SUM(n) AS BIGINT) AS cx
        FROM cells GROUP BY 1, 2)
  GROUP BY source
),
my AS (
  SELECT source, CAST(SUM(cy * (cy - 1)) AS BIGINT) AS ty2
  FROM (SELECT source, y, CAST(SUM(n) AS BIGINT) AS cy
        FROM cells GROUP BY 1, 2)
  GROUP BY source
),
tot AS (
  SELECT source, CAST(SUM(n) AS BIGINT) AS nn FROM cells GROUP BY source
)
SELECT t.source, t.nn AS n_docs, cd.c AS concordant, cd.d AS discordant,
       ROUND(2.0 * (CAST(cd.c AS DOUBLE) - cd.d)
             / sqrt((CAST(t.nn AS DOUBLE) * (t.nn - 1) - mx.tx2)
                    * (CAST(t.nn AS DOUBLE) * (t.nn - 1) - my.ty2)), 6)
         + 0.0 AS tau_b
FROM tot t
JOIN cd ON cd.source = t.source
JOIN mx ON mx.source = t.source
JOIN my ON my.source = t.source
WHERE t.nn * (t.nn - 1) > mx.tx2 AND t.nn * (t.nn - 1) > my.ty2
"""


@query("eval_kendall_tau_b", oracle=_TAU_ORACLE)
def eval_kendall_tau_b(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall's τ-b per source between document length and token count
    on a 16×16 bucket grid — the tie-corrected concordance coefficient
    that completes the association family (Pearson = stats_correlation,
    Spearman = stats_spearman_corr): τ-b is the one of the three defined
    directly on ORDERED PAIRS, so it survives monotone transforms AND
    heavy ties, which bucketed/quantized features always have.

    GRID-FIRST (the Mann-Whitney rule, two-dimensional): raw rows
    reduce map-side to ≤256 (x, y) cells per source; concordant /
    discordant pair counts are ONE grid self-join (≤256² cell pairs per
    source — metadata-sized by construction, never row pairs); tie
    corrections come from the grid marginals. Every count is exact
    BIGINT, and τ-b's closed form is one rounded double —
    2(C−D)/√((n(n−1)−Σtx(tx−1))·(n(n−1)−Σty(ty−1))), kept in the
    doubled-integer form so no /2 ever truncates.

    Scale: the heavy shuffle is the cell aggregation keyed on (source,
    x, y); the grid join, marginals, and totals all ride source-keyed
    exchanges over cell counts. Reference analog:
    frequencyAnalysis.py's per-group statistics layer
    (frequencyAnalysis.py:31-35) as rank association, tie-robust form.
    """
    d = load(spark, sf_dir, "documents").select(
        "source",
        F.expr("LEAST(15, n_chars DIV 64)").alias("x"),
        F.expr(
            "LEAST(15, size(filter(split(text, ' '),"
            " t -> t <> '')) DIV 8)"
        ).alias("y"),
    )
    cells = (
        d.groupBy("source", "x", "y")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .localCheckpoint()  # grid feeds pair join (both sides) + 3 rollups
    )
    b = cells.select(
        F.col("source").alias("b_source"),
        F.col("x").alias("bx"),
        F.col("y").alias("by"),
        F.col("n").alias("bn"),
    )
    cd = (
        cells.join(b, F.col("b_source") == F.col("source"))
        .groupBy("source")
        .agg(
            F.sum(
                F.expr(
                    "CASE WHEN bx > x AND by > y THEN n * bn ELSE 0 END"
                )
            )
            .cast("bigint")
            .alias("c"),
            F.sum(
                F.expr(
                    "CASE WHEN bx > x AND by < y THEN n * bn ELSE 0 END"
                )
            )
            .cast("bigint")
            .alias("d"),
        )
    )
    mx = (
        cells.groupBy("source", "x")
        .agg(F.sum("n").alias("cx"))
        .groupBy("source")
        .agg(F.sum(F.expr("cx * (cx - 1)")).cast("bigint").alias("tx2"))
    )
    my = (
        cells.groupBy("source", "y")
        .agg(F.sum("n").alias("cy"))
        .groupBy("source")
        .agg(F.sum(F.expr("cy * (cy - 1)")).cast("bigint").alias("ty2"))
    )
    tot = cells.groupBy("source").agg(
        F.sum("n").cast("bigint").alias("nn")
    )
    out = (
        tot.join(cd, "source")
        .join(F.broadcast(mx), "source")
        .join(F.broadcast(my), "source")
        .filter(
            F.expr(
                "nn * (nn - 1) > tx2 AND nn * (nn - 1) > ty2"
            )
        )
    )
    return out.select(
        "source",
        F.col("nn").alias("n_docs"),
        F.col("c").alias("concordant"),
        F.col("d").alias("discordant"),
        F.expr(
            "ROUND(2.0 * (CAST(c AS DOUBLE) - d)"
            " / sqrt((CAST(nn AS DOUBLE) * (nn - 1) - tx2)"
            " * (CAST(nn AS DOUBLE) * (nn - 1) - ty2)), 6) + 0.0"
        ).alias("tau_b"),
    )


_ABZ_ORACLE = """
WITH assign AS (
  SELECT user_id,
         CAST(('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 8))
              AS BIGINT) % 2 AS variant,
         MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
           AS converted
  FROM events GROUP BY user_id
),
g AS (
  SELECT variant,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(converted) AS BIGINT) AS conv
  FROM assign GROUP BY variant
),
w AS (
  SELECT MAX(CASE WHEN variant = 0 THEN n END) AS n0,
         MAX(CASE WHEN variant = 0 THEN conv END) AS c0,
         MAX(CASE WHEN variant = 1 THEN n END) AS n1,
         MAX(CASE WHEN variant = 1 THEN conv END) AS c1
  FROM g
)
SELECT n0, c0, n1, c1,
       ROUND((CAST(c1 AS DOUBLE) / n1 - CAST(c0 AS DOUBLE) / n0)
             / sqrt((CAST(c0 + c1 AS DOUBLE) / (n0 + n1))
                    * (1.0 - CAST(c0 + c1 AS DOUBLE) / (n0 + n1))
                    * (1.0 / n0 + 1.0 / n1)), 6) + 0.0 AS z,
       ROUND(POW(CAST(n0 AS DOUBLE) - CAST(n0 + n1 AS DOUBLE) / 2, 2)
             / (CAST(n0 + n1 AS DOUBLE) / 2)
             + POW(CAST(n1 AS DOUBLE) - CAST(n0 + n1 AS DOUBLE) / 2, 2)
             / (CAST(n0 + n1 AS DOUBLE) / 2), 6) + 0.0 AS srm_chi2,
       POW(CAST(n0 AS DOUBLE) - CAST(n0 + n1 AS DOUBLE) / 2, 2)
         / (CAST(n0 + n1 AS DOUBLE) / 2)
         + POW(CAST(n1 AS DOUBLE) - CAST(n0 + n1 AS DOUBLE) / 2, 2)
         / (CAST(n0 + n1 AS DOUBLE) / 2) > 3.841 AS srm_alarm
FROM w
WHERE c0 + c1 > 0 AND c0 + c1 < n0 + n1
"""


@query("stats_proportions_ztest", oracle=_ABZ_ORACLE)
def stats_proportions_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test + sample-ratio-mismatch guardrail — the A/B
    experiment readout pair: the pooled-variance z on conversion rates
    between the two hash-assigned variants, AND the SRM chi² that must
    be checked FIRST (a 50/50 assignment that lands 55/45 means the
    bucketing is broken and the z-test is garbage — the industry's most
    common silent A/B failure). Completes the test family: means =
    stats_welch_ttest, ranks = stats_mann_whitney_u /
    stats_kruskal_wallis, proportions = this.

    Determinism: variant assignment is the repo's md5-hash-mod device
    (partitioning-invariant, identical on both engines — the
    sample_hash_systematic rule: never rand()); conversion flags and
    the 2×2 table are exact integers; z and chi² are single rounded
    closed forms. Degenerate corners (zero or all conversions) are
    excluded by the same guard on both engines.

    Scale shape: one user_id-keyed aggregation collapses the corpus to
    per-user (variant, converted) rows map-side; the 2-row variant
    rollup and the 1-row pivot are metadata. Reference analog:
    frequencyAnalysis.py's per-group comparison layer
    (frequencyAnalysis.py:31-35) as an experiment readout.
    """
    ev = load(spark, sf_dir, "events")
    assign = ev.groupBy("user_id").agg(
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("converted")
    ).select(
        F.expr(
            "CAST(conv(substring(md5(CAST(user_id AS STRING)), 1, 8),"
            " 16, 10) AS BIGINT) % 2"
        ).alias("variant"),
        "converted",
    )
    g = assign.groupBy("variant").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("converted").cast("bigint").alias("conv"),
    )
    w = g.agg(
        F.max(F.when(F.col("variant") == 0, F.col("n")))
        .cast("bigint")
        .alias("n0"),
        F.max(F.when(F.col("variant") == 0, F.col("conv")))
        .cast("bigint")
        .alias("c0"),
        F.max(F.when(F.col("variant") == 1, F.col("n")))
        .cast("bigint")
        .alias("n1"),
        F.max(F.when(F.col("variant") == 1, F.col("conv")))
        .cast("bigint")
        .alias("c1"),
    )
    pool = "CAST(c0 + c1 AS DOUBLE) / (n0 + n1)"
    srm = (
        "POW(CAST(n0 AS DOUBLE) - CAST(n0 + n1 AS DOUBLE) / 2, 2)"
        " / (CAST(n0 + n1 AS DOUBLE) / 2)"
        " + POW(CAST(n1 AS DOUBLE) - CAST(n0 + n1 AS DOUBLE) / 2, 2)"
        " / (CAST(n0 + n1 AS DOUBLE) / 2)"
    )
    return w.filter(
        F.expr("c0 + c1 > 0 AND c0 + c1 < n0 + n1")
    ).select(
        "n0",
        "c0",
        "n1",
        "c1",
        F.expr(
            "ROUND((CAST(c1 AS DOUBLE) / n1 - CAST(c0 AS DOUBLE) / n0)"
            f" / sqrt(({pool}) * (1.0 - {pool})"
            " * (1.0 / n0 + 1.0 / n1)), 6) + 0.0"
        ).alias("z"),
        F.expr(f"ROUND({srm}, 6) + 0.0").alias("srm_chi2"),
        F.expr(f"{srm} > 3.841").alias("srm_alarm"),
    )


_TOST_Z_ONE_SIDED = 1.644854  # 5% one-sided normal critical value
_TOST_MARGIN_PCT = 5  # equivalence margin: ±5% of the control mean


_TOST_ORACLE = f"""
WITH s AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS sc,
         CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)
                  * CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS sc2
  FROM events WHERE value IS NOT NULL AND NOT isnan(value)
  GROUP BY event_type
),
b AS (SELECT n AS nb, sc AS scb, sc2 AS sc2b FROM s
      WHERE event_type = 'view'),
x AS (SELECT * FROM s WHERE event_type <> 'view'),
k AS (
  SELECT x.event_type, x.n, b.nb,
         CAST(x.sc AS DOUBLE) / x.n - CAST(b.scb AS DOUBLE) / b.nb AS d,
         ABS(CAST(b.scb AS DOUBLE) / b.nb) * {_TOST_MARGIN_PCT} / 100.0
           AS margin,
         sqrt(((CAST(x.n AS DOUBLE) * x.sc2 - CAST(x.sc AS DOUBLE) * x.sc)
               / (CAST(x.n AS DOUBLE) * (x.n - 1))) / x.n
              + ((CAST(b.nb AS DOUBLE) * b.sc2b
                  - CAST(b.scb AS DOUBLE) * b.scb)
                 / (CAST(b.nb AS DOUBLE) * (b.nb - 1))) / b.nb) AS se
  FROM x CROSS JOIN b
)
SELECT event_type, n AS n_x, nb AS n_y,
       ROUND(d, 6) + 0.0 AS mean_diff_cents,
       ROUND(margin, 6) AS margin_cents,
       ROUND((d + margin) / se, 6) + 0.0 AS t_lower,
       ROUND((margin - d) / se, 6) + 0.0 AS t_upper,
       (d + margin) / se > {_TOST_Z_ONE_SIDED}
         AND (margin - d) / se > {_TOST_Z_ONE_SIDED} AS equivalent
FROM k WHERE se > 0
"""


@query("stats_tost_equivalence", oracle=_TOST_ORACLE)
def stats_tost_equivalence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two one-sided tests (TOST, Schuirmann 1987) for EQUIVALENCE: is
    each event_type's mean value within ±{m}% of the '{base}' control?
    The question a migration/refactor A/B actually asks — "prove it's NO
    WORSE", which a non-significant Welch t cannot answer (absence of
    evidence ≠ evidence of absence; TOST inverts the burden of proof).
    Equivalent iff BOTH one-sided statistics clear the 5% one-sided
    critical value.

    Exactness: the Welch machinery verbatim — exact integer-cents
    moments per group (one map-side-combined scan), Welch standard
    error, and single rounded doubles for the two t statistics. The
    margin is data-derived (% of control mean), not wall-clock or
    config.

    Scale: one scan to the |types|-row moment grid; the control row
    broadcasts. Reference analog: frequencyAnalysis.py's per-group
    comparison layer (frequencyAnalysis.py:31-35) inverted to
    equivalence testing.
    """
    ev = load(spark, sf_dir, "events")
    s = (
        ev.filter(F.col("value").isNotNull() & ~F.isnan("value"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.expr(_TT_CENTS)).cast("bigint").alias("sc"),
            F.sum(F.expr(f"{_TT_CENTS} * {_TT_CENTS}"))
            .cast("bigint")
            .alias("sc2"),
        )
        .localCheckpoint()  # |types|-row grid feeds control + variants
    )
    b = s.filter(F.col("event_type") == _TT_BASELINE).select(
        F.col("n").alias("nb"),
        F.col("sc").alias("scb"),
        F.col("sc2").alias("sc2b"),
    )
    x = s.filter(F.col("event_type") != _TT_BASELINE)
    d = "CAST(sc AS DOUBLE) / n - CAST(scb AS DOUBLE) / nb"
    margin = (
        f"ABS(CAST(scb AS DOUBLE) / nb) * {_TOST_MARGIN_PCT} / 100.0"
    )
    se = (
        "sqrt(((CAST(n AS DOUBLE) * sc2 - CAST(sc AS DOUBLE) * sc)"
        " / (CAST(n AS DOUBLE) * (n - 1))) / n"
        " + ((CAST(nb AS DOUBLE) * sc2b - CAST(scb AS DOUBLE) * scb)"
        " / (CAST(nb AS DOUBLE) * (nb - 1))) / nb)"
    )
    return (
        x.crossJoin(F.broadcast(b))
        .filter(F.expr(f"{se} > 0"))
        .select(
            "event_type",
            F.col("n").alias("n_x"),
            F.col("nb").alias("n_y"),
            F.expr(f"ROUND({d}, 6) + 0.0").alias("mean_diff_cents"),
            F.expr(f"ROUND({margin}, 6)").alias("margin_cents"),
            F.expr(
                f"ROUND((({d}) + ({margin})) / ({se}), 6) + 0.0"
            ).alias("t_lower"),
            F.expr(
                f"ROUND((({margin}) - ({d})) / ({se}), 6) + 0.0"
            ).alias("t_upper"),
            F.expr(
                f"(({d}) + ({margin})) / ({se}) > {_TOST_Z_ONE_SIDED}"
                f" AND (({margin}) - ({d})) / ({se})"
                f" > {_TOST_Z_ONE_SIDED}"
            ).alias("equivalent"),
        )
    )


stats_tost_equivalence.__doc__ = stats_tost_equivalence.__doc__.format(
    m=_TOST_MARGIN_PCT, base=_TT_BASELINE
)


_WOE_B = 8
_WOE_W = 2000  # bin width in cents (0..$160 covers the bulk; top bin open)


_WOE_ORACLE = f"""
WITH e AS (
  SELECT LEAST({_WOE_B - 1},
               CAST(ROUND(value * 100) AS BIGINT) // {_WOE_W}) AS bin,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
  FROM events WHERE value IS NOT NULL AND NOT isnan(value)
),
g AS (
  SELECT bin,
         CAST(SUM(pos) AS BIGINT) AS n_pos,
         CAST(SUM(1 - pos) AS BIGINT) AS n_neg
  FROM e GROUP BY bin
),
t AS (
  SELECT bin, n_pos, n_neg,
         CAST(SUM(n_pos) OVER () AS BIGINT) AS pt,
         CAST(SUM(n_neg) OVER () AS BIGINT) AS nt
  FROM g
),
k AS (
  SELECT bin, n_pos, n_neg,
         CAST(ROUND((ln(CAST((n_pos + 1) * (nt + {_WOE_B}) AS DOUBLE))
                     - ln(CAST((n_neg + 1) * (pt + {_WOE_B}) AS DOUBLE)))
                    * 1000000, 0) AS BIGINT) AS woe_micro,
         (CAST(n_pos + 1 AS DOUBLE) / (pt + {_WOE_B})
          - CAST(n_neg + 1 AS DOUBLE) / (nt + {_WOE_B}))
           * (ln(CAST((n_pos + 1) * (nt + {_WOE_B}) AS DOUBLE))
              - ln(CAST((n_neg + 1) * (pt + {_WOE_B}) AS DOUBLE))) AS ivt
  FROM t
)
SELECT CAST(bin AS BIGINT) AS bin, n_pos, n_neg, woe_micro,
       CAST(ROUND(ivt * 1000000, 0) AS BIGINT) AS iv_contrib_micro,
       CAST(SUM(CAST(ROUND(ivt * 1000000, 0) AS BIGINT)) OVER ()
            AS BIGINT) AS iv_total_micro
FROM k
"""


@query("feature_woe_binning", oracle=_WOE_ORACLE)
def feature_woe_binning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-of-evidence binning + information value — the credit-
    scoring feature transform (Siddiqi 2006): per value bin,
    WoE = ln(P(bin|pos) / P(bin|neg)) with add-one smoothing, and the
    IV total Σ(p_pos − p_neg)·WoE that ranks features BEFORE any model
    is fit (IV < 0.02 = useless, > 0.5 = suspiciously strong — the
    leakage tripwire). Label: purchase events vs the rest; feature:
    value in {b} fixed-width cent bins.

    Determinism: the PSI single-rounding argument verbatim — the class
    histograms are exact integers, each WoE is ln of an exact-integer
    cross-ratio rounded ONCE to micros, each IV term rounded once, and
    the IV total is an exact integer sum of the rounded terms (grid
    window over {b} rows).

    Scale: one scan reduces map-side to the {b}-bin × 2-class grid;
    nothing else moves. Reference analog: frequencyAnalysis.py's
    per-group frequency layer (frequencyAnalysis.py:31-35) as a
    supervised encoding.
    """
    ev = load(spark, sf_dir, "events")
    e = ev.filter(
        F.col("value").isNotNull() & ~F.isnan("value")
    ).select(
        F.expr(
            f"LEAST({_WOE_B - 1},"
            f" CAST(ROUND(value * 100) AS BIGINT) DIV {_WOE_W})"
        ).alias("bin"),
        F.when(F.col("event_type") == "purchase", 1)
        .otherwise(0)
        .alias("pos"),
    )
    g = e.groupBy("bin").agg(
        F.sum("pos").cast("bigint").alias("n_pos"),
        F.sum(F.expr("1 - pos")).cast("bigint").alias("n_neg"),
    )
    wg = Window.partitionBy()
    t = g.withColumn(
        "pt", F.sum("n_pos").over(wg).cast("bigint")
    ).withColumn("nt", F.sum("n_neg").over(wg).cast("bigint"))
    lnterm = (
        f"ln(CAST((n_pos + 1) * (nt + {_WOE_B}) AS DOUBLE))"
        f" - ln(CAST((n_neg + 1) * (pt + {_WOE_B}) AS DOUBLE))"
    )
    ivt = (
        f"(CAST(n_pos + 1 AS DOUBLE) / (pt + {_WOE_B})"
        f" - CAST(n_neg + 1 AS DOUBLE) / (nt + {_WOE_B})) * ({lnterm})"
    )
    k = t.select(
        F.col("bin").cast("bigint").alias("bin"),
        "n_pos",
        "n_neg",
        F.expr(
            f"CAST(ROUND(({lnterm}) * 1000000, 0) AS BIGINT)"
        ).alias("woe_micro"),
        F.expr(
            f"CAST(ROUND(({ivt}) * 1000000, 0) AS BIGINT)"
        ).alias("iv_contrib_micro"),
    )
    return k.withColumn(
        "iv_total_micro",
        F.sum("iv_contrib_micro").over(wg).cast("bigint"),
    )


feature_woe_binning.__doc__ = feature_woe_binning.__doc__.format(b=_WOE_B)


_FIT_ORACLE = """
WITH split AS (
  SELECT o_totalprice,
         CAST(('0x' || substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))
              AS BIGINT) % 10 AS h
  FROM orders
),
fit AS (
  SELECT quantile_cont(o_totalprice, 0.25) AS q1,
         quantile_cont(o_totalprice, 0.50) AS q2,
         quantile_cont(o_totalprice, 0.75) AS q3
  FROM split WHERE h < 8
),
applied AS (
  SELECT CASE WHEN o_totalprice <= q1 THEN 0
              WHEN o_totalprice <= q2 THEN 1
              WHEN o_totalprice <= q3 THEN 2
              ELSE 3 END AS bucket,
         o_totalprice
  FROM split, fit WHERE h >= 8
)
SELECT CAST(bucket AS INT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_eval,
       ROUND(CAST(SUM(CAST(ROUND(o_totalprice * 100) AS HUGEINT))
                  AS DOUBLE) / 100, 4) AS eval_total
FROM applied GROUP BY bucket
"""


def _fitted_cuts_path(spark: SparkSession, sf_dir: str) -> str:
    """FIT half of the fit/transform split: exact quartile cut points of
    the TRAIN split only, persisted once per source-content fingerprint
    as a 1-row parquet — the 'fitted transformer' artifact a feature
    platform versions so training and serving apply byte-identical
    parameters. Built once per corpus listing (tables.build_once)."""
    import os

    def build(out):
        h = (
            F.conv(
                F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 8),
                16,
                10,
            ).cast("bigint")
            % 10
        )
        train = load(spark, sf_dir, "orders").filter(h < 8)
        cuts = train.agg(
            F.expr("percentile(o_totalprice, 0.25)").alias("q1"),
            F.expr("percentile(o_totalprice, 0.50)").alias("q2"),
            F.expr("percentile(o_totalprice, 0.75)").alias("q3"),
        )
        cuts.coalesce(1).write.mode("overwrite").parquet(
            os.path.join(out, "cuts.parquet")
        )

    return os.path.join(build_once("fitted_cuts", sf_dir, build), "cuts.parquet")


@query("feature_fit_transform_persist", oracle=_FIT_ORACLE)
def feature_fit_transform_persist(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Leakage-safe FIT/TRANSFORM split with a PERSISTED fitted artifact
    (r9): quartile cut points are fitted on the deterministic train
    split only (md5 hash-mod — sample_train_val_test's convention),
    written once as a versioned 1-row parquet, and the TRANSFORM reads
    the artifact back to bucketize the held-out eval split. This is the
    feature-platform contract sklearn's fit/transform expresses
    in-process: eval rows never influence the parameters (no train-time
    leakage), and training/serving apply byte-identical cuts because
    both read the same persisted artifact rather than re-deriving them.

    The oracle recomputes train-split quantiles and applies them to the
    eval split directly, so a leaked eval row, a wrong split, or a
    lossy parameter round-trip through parquet all change the result.
    Exactness: exact interpolated percentile (the
    feature_quantile_bucketize device) and exact-cents eval sums on the
    4-bucket coarse key.

    Scale: FIT is one aggregate over the train split paid once per
    corpus version; TRANSFORM is a broadcast 1-row join + map-side CASE
    — the per-batch serving cost is a scan of the batch, nothing else."""
    cuts = spark.read.parquet(_fitted_cuts_path(spark, sf_dir))
    h = (
        F.conv(
            F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 8),
            16,
            10,
        ).cast("bigint")
        % 10
    )
    ev = load(spark, sf_dir, "orders").filter(h >= 8)
    applied = ev.crossJoin(F.broadcast(cuts)).select(
        F.when(F.col("o_totalprice") <= F.col("q1"), 0)
        .when(F.col("o_totalprice") <= F.col("q2"), 1)
        .when(F.col("o_totalprice") <= F.col("q3"), 2)
        .otherwise(3)
        .cast("int")
        .alias("bucket"),
        "o_totalprice",
    )
    return applied.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_eval"),
        F.expr(
            "ROUND(CAST(SUM(CAST(ROUND(o_totalprice * 100) AS"
            " DECIMAL(38,0))) AS DOUBLE) / 100, 4)"
        ).alias("eval_total"),
    )


# ------------------------------------------------- pass@k (codegen eval)

_PASSK_K = 10

# the per-task projection over (n_attempts, n_correct); shared with the
# degenerate-case unit test so the shipping expression is the one tested
_PASSK_EXPR = f"""CASE WHEN n_correct = 0 THEN 0.0
            WHEN n_attempts - n_correct < {_PASSK_K} THEN 1.0
            ELSE ROUND(1.0 - aggregate(sequence(0, {_PASSK_K} - 1),
              CAST(1.0 AS DOUBLE),
              (acc, i) -> acc * (CAST(n_attempts - n_correct - i AS DOUBLE)
                                 / CAST(n_attempts - i AS DOUBLE))), 6) + 0.0
            END"""

_PASSK_ORACLE = f"""
WITH per_task AS (
  SELECT user_id AS task_id,
         CAST(COUNT(*) AS BIGINT) AS n_attempts,
         CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS BIGINT) AS n_correct
  FROM events GROUP BY user_id
)
SELECT task_id, n_attempts, n_correct,
       CASE WHEN n_correct = 0 THEN 0.0
            WHEN n_attempts - n_correct < {_PASSK_K} THEN 1.0
            ELSE ROUND(1.0 - list_reduce(
              list_prepend(CAST(1.0 AS DOUBLE),
                list_transform(range(0, {_PASSK_K}),
                  i -> CAST(n_attempts - n_correct - i AS DOUBLE)
                     / CAST(n_attempts - i AS DOUBLE))),
              (acc, x) -> acc * x), 6) + 0.0
       END AS pass_at_k
FROM per_task
"""


@query("eval_pass_at_k", oracle=_PASSK_ORACLE)
def eval_pass_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pass@k — the unbiased code-eval estimator (Chen et al., 2021,
    "Evaluating LLMs Trained on Code", eq. 1): for a task with n
    sampled attempts of which c are correct, the probability that at
    least one of k drawn attempts is correct, computed with the
    numerically-stable product form 1 - prod_{{i=0}}^{{k-1}}
    (n-c-i)/(n-i) rather than raw binomials (which overflow at large
    n). Here task = user, attempt = event, correct = 'purchase'; k={k}.

    Cross-engine exactness: both engines evaluate the SAME
    left-to-right sequential product fold (Spark aggregate /
    DuckDB list_reduce), so the double result is bit-identical before
    the 6dp ROUND; the n-c < k branch returns an exact 1.0 (every draw
    of k must include a correct attempt). The c = 0 guard comes FIRST:
    the Chen et al. shortcut assumes n >= k, and without it a task with
    zero correct attempts but n < k total would fall into the n-c < k
    branch and report 1.0 instead of the correct 0.0 (ADVICE r9;
    latent on fixtures with >= 45 events/user, real at small n).

    Scale: one hash aggregate over the attempts fact (map-side partial
    on the task key), then a per-row projection — the cheapest possible
    shape for eval over millions of tasks."""
    ev = load(spark, sf_dir, "events")
    per = ev.groupBy(F.col("user_id").alias("task_id")).agg(
        F.count("*").cast("bigint").alias("n_attempts"),
        F.sum(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).cast("bigint").alias("n_correct"),
    )
    return per.select(
        "task_id",
        "n_attempts",
        "n_correct",
        F.expr(_PASSK_EXPR).alias("pass_at_k"),
    )


eval_pass_at_k.__doc__ = eval_pass_at_k.__doc__.format(k=_PASSK_K)


# ----------------------------------- pass@k corpus aggregate + bootstrap CI

# h in [0,1) from md5(task:replica) — the bootstrap_confidence device,
# keyed on the TASK so a whole task (all its attempts) is resampled as a
# unit, which is the statistically honest bootstrap for a per-task metric
_PASSK_H_SQL = (
    "(CAST(('0x' || substr(md5(task_id || ':' || r), 1, 8)) AS BIGINT)"
    " / 4294967296.0)"
)
_PASSK_H_SPARK = (
    "(CAST(conv(substring(md5(concat(CAST(task_id AS STRING), ':',"
    " CAST(r AS STRING))), 1, 8), 16, 10) AS BIGINT) / 4294967296.0)"
)

_PASSK_CI_ORACLE = f"""
WITH per_task AS (
  SELECT user_id AS task_id,
         CAST(COUNT(*) AS BIGINT) AS n_attempts,
         CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS BIGINT) AS n_correct
  FROM events GROUP BY user_id
),
scored AS (
  SELECT task_id,
       CASE WHEN n_correct = 0 THEN 0.0
            WHEN n_attempts - n_correct < {{k}} THEN 1.0
            ELSE ROUND(1.0 - list_reduce(
              list_prepend(CAST(1.0 AS DOUBLE),
                list_transform(range(0, {{k}}),
                  i -> CAST(n_attempts - n_correct - i AS DOUBLE)
                     / CAST(n_attempts - i AS DOUBLE))),
              (acc, x) -> acc * x), 6) + 0.0
       END AS pk
  FROM per_task
),
reps AS (
  SELECT s.task_id, s.pk, r
  FROM scored s, LATERAL unnest(generate_series(0, {{b}} - 1)) AS t(r)
),
weighted AS (
  SELECT r,
         SUM(({{w_sql}}) * pk) AS wv,
         SUM({{w_sql}}) AS w
  FROM reps GROUP BY r
),
means AS (
  SELECT list(ROUND(wv / w, 6) ORDER BY ROUND(wv / w, 6)) AS ms
  FROM weighted
)
SELECT CAST((SELECT COUNT(*) FROM scored) AS BIGINT) AS n_tasks,
       (SELECT ROUND(AVG(pk), 6) FROM scored) AS mean_pass_at_k,
       ms[{{lo}}] AS ci_lo,
       ms[{{hi}}] AS ci_hi,
       CAST(len(ms) AS INT) AS n_replicas
FROM means
""".format(
    k=_PASSK_K,
    b=_BOOT_B,
    w_sql=_BOOT_W.format(h=_PASSK_H_SQL),
    lo=max(1, int(0.05 * _BOOT_B)),
    hi=int(0.95 * _BOOT_B),
)


@query("eval_pass_at_k_ci", oracle=_PASSK_CI_ORACLE)
def eval_pass_at_k_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level pass@k with a bootstrap confidence interval — the
    number an eval report actually prints (point estimate + error bars),
    composed from eval_pass_at_k's per-task estimator and
    bootstrap_confidence's deterministic replica-weight device. The
    bootstrap resamples TASKS (not attempts): each task's pass@k is one
    observation, weighted per replica by the md5(task:replica) hash, so
    the CI reflects task-sampling noise, which is what dominates eval
    variance in practice (Chen et al. report exactly this interval).

    Scale: one hash aggregate over attempts (the eval_pass_at_k shape),
    then the replica dimension explodes over the TASK relation (already
    tiny relative to attempts), one (replica) partial agg, and a
    B-element sort — error bars for free on top of the eval pass."""
    ev = load(spark, sf_dir, "events")
    per = ev.groupBy(F.col("user_id").alias("task_id")).agg(
        F.count("*").cast("bigint").alias("n_attempts"),
        F.sum(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).cast("bigint").alias("n_correct"),
    )
    scored = per.select(
        "task_id", F.expr(_PASSK_EXPR).alias("pk")
    ).localCheckpoint()
    reps = scored.select(
        "task_id",
        "pk",
        F.explode(F.sequence(F.lit(0), F.lit(_BOOT_B - 1))).alias("r"),
    )
    w = F.expr(_BOOT_W.format(h=_PASSK_H_SPARK))
    weighted = reps.groupBy("r").agg(
        F.sum(w * F.col("pk")).alias("wv"),
        F.sum(w).alias("w"),
    )
    means = weighted.agg(
        F.array_sort(
            F.collect_list(F.round(F.col("wv") / F.col("w"), 6))
        ).alias("ms")
    )
    stats = scored.agg(
        F.count("*").cast("bigint").alias("n_tasks"),
        F.round(F.avg("pk"), 6).alias("mean_pass_at_k"),
    )
    lo_i, hi_i = max(1, int(0.05 * _BOOT_B)), int(0.95 * _BOOT_B)
    return stats.crossJoin(means).select(
        "n_tasks",
        "mean_pass_at_k",
        F.element_at("ms", lo_i).alias("ci_lo"),
        F.element_at("ms", hi_i).alias("ci_hi"),
        F.size("ms").alias("n_replicas"),
    )

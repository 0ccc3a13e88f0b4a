"""Warehouse-maintenance operators: SCD2 (slowly-changing-dimension
type 2) merge — the versioned-history sibling of the ledger's
overwrite-upsert (plans/ledger.py, reference Runs.scala:77-116, which
keeps only the latest row per key). SCD2 instead closes the superseded
row (valid_to, is_current=false) and appends the new version, so the
dimension carries its full history.

Scale notes (100 TB dim): the merge is one full-outer sort-merge join on
the dimension key plus a union — no driver-side state, no window over
the whole dim. Change detection is a per-row comparison, so unchanged
keys stream through untouched. (The ledger's upsert broadcasts because
its table is metadata-sized; a billion-row dimension instead wants
exactly this co-partitioned join shape.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import tables
from ..registry import query
from ..tables import load

NEW_KEY_OFFSET = 1_000_000  # synthetic insert keys in the update batch

_SCD2_ORACLE = f"""
WITH base AS (
  SELECT c_custkey AS custkey, c_acctbal AS bal FROM customer
),
upd AS (
  SELECT custkey, bal * 1.1 AS new_bal FROM base WHERE custkey % 3 = 0
  UNION ALL
  SELECT custkey + {NEW_KEY_OFFSET}, bal FROM base WHERE custkey % 5 = 0
),
j AS (
  SELECT COALESCE(b.custkey, u.custkey) AS custkey, b.bal, u.new_bal,
         b.custkey IS NOT NULL AS in_base,
         u.custkey IS NOT NULL AS in_upd
  FROM base b FULL OUTER JOIN upd u ON b.custkey = u.custkey
)
SELECT custkey, ROUND(bal, 4) AS acctbal,
       TIMESTAMP '2020-01-01' AS valid_from,
       TIMESTAMP '2021-01-01' AS valid_to, FALSE AS is_current
FROM j WHERE in_base AND in_upd AND new_bal <> bal
UNION ALL
SELECT custkey, ROUND(bal, 4) AS acctbal,
       TIMESTAMP '2020-01-01' AS valid_from,
       CAST(NULL AS TIMESTAMP) AS valid_to, TRUE AS is_current
FROM j WHERE in_base AND (NOT in_upd OR new_bal = bal)
UNION ALL
SELECT custkey, ROUND(new_bal, 4) AS acctbal,
       TIMESTAMP '2021-01-01' AS valid_from,
       CAST(NULL AS TIMESTAMP) AS valid_to, TRUE AS is_current
FROM j WHERE in_upd AND (NOT in_base OR new_bal <> bal)
"""


@query("scd2_merge", oracle=_SCD2_ORACLE)
def scd2_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 merge of an update batch into a versioned dimension: changed
    keys get their current row closed at the batch timestamp plus a new
    current version; unchanged and untouched keys pass through; unseen
    keys insert. The fixture batch updates every custkey%3 row (bal*1.1)
    and inserts a shifted copy of every custkey%5 row; a bal of exactly 0
    survives unchanged (0*1.1 = 0), exercising the changed-value
    predicate rather than mere key presence.

    One full-outer join on the key resolves all three cases; each joined
    row then emits its 1-2 output versions as a conditional struct array
    + explode, so the whole merge is a single pass — no persist, no
    union of re-filtered branches re-reading the join."""
    ts0 = F.lit("2020-01-01").cast("timestamp")
    ts1 = F.lit("2021-01-01").cast("timestamp")
    tnull = F.lit(None).cast("timestamp")
    base = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("custkey"), F.col("c_acctbal").alias("bal")
    )
    upd = (
        base.filter(F.col("custkey") % 3 == 0)
        .select("custkey", (F.col("bal") * 1.1).alias("new_bal"))
        .unionByName(
            base.filter(F.col("custkey") % 5 == 0).select(
                (F.col("custkey") + NEW_KEY_OFFSET).alias("custkey"),
                F.col("bal").alias("new_bal"),
            )
        )
    )
    j = (
        base.withColumn("in_base", F.lit(True))
        .join(upd.withColumn("in_upd", F.lit(True)), "custkey", "full_outer")
        .select(
            "custkey",
            "bal",
            "new_bal",
            F.coalesce("in_base", F.lit(False)).alias("in_base"),
            F.coalesce("in_upd", F.lit(False)).alias("in_upd"),
        )
    )
    changed = F.col("in_base") & F.col("in_upd") & (
        F.col("new_bal") != F.col("bal")
    )

    def version(bal_col, vf, vt, cur: bool):
        return F.struct(
            F.round(bal_col, 4).alias("acctbal"),
            vf.alias("valid_from"),
            vt.alias("valid_to"),
            F.lit(cur).alias("is_current"),
        )

    versions = (
        F.when(
            changed,
            F.array(
                version(F.col("bal"), ts0, ts1, False),
                version(F.col("new_bal"), ts1, tnull, True),
            ),
        )
        .when(
            F.col("in_base"),  # untouched, or update carried equal value
            F.array(version(F.col("bal"), ts0, tnull, True)),
        )
        .otherwise(  # insert: key unseen by the base snapshot
            F.array(version(F.col("new_bal"), ts1, tnull, True))
        )
    )
    return j.select("custkey", F.explode(versions).alias("r")).select(
        "custkey", "r.acctbal", "r.valid_from", "r.valid_to", "r.is_current"
    )


_DIFF_ORACLE = f"""
WITH base AS (
  SELECT c_custkey AS custkey, ROUND(c_acctbal, 4) AS bal FROM customer
),
new_snap AS (
  SELECT custkey, ROUND(bal * 1.05, 4) AS bal FROM base
  WHERE custkey % 7 = 0 AND custkey % 11 <> 0
  UNION ALL
  SELECT custkey, bal FROM base
  WHERE custkey % 7 <> 0 AND custkey % 11 <> 0
  UNION ALL
  SELECT custkey + {NEW_KEY_OFFSET}, bal FROM base WHERE custkey % 13 = 0
),
j AS (
  SELECT COALESCE(b.custkey, n.custkey) AS custkey, b.bal AS old_bal,
         n.bal AS new_bal, b.custkey IS NOT NULL AS in_base,
         n.custkey IS NOT NULL AS in_new
  FROM base b FULL OUTER JOIN new_snap n ON b.custkey = n.custkey
)
SELECT custkey,
       CASE WHEN NOT in_base THEN 'insert'
            WHEN NOT in_new THEN 'delete'
            ELSE 'update' END AS change_type,
       old_bal, new_bal
FROM j
WHERE NOT in_base OR NOT in_new OR old_bal <> new_bal
"""


@query("snapshot_diff", oracle=_DIFF_ORACLE)
def snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff / CDC extraction: given two versions of a table,
    emit the change stream (insert / delete / update rows with old and
    new values), the building block for incremental downstream refresh
    when the source can't produce a changelog itself. The reference's
    incremental model diffs catalog timestamps to find *stale objects*
    (Stage.scala:249-266); this is the same delta algebra applied at row
    granularity.

    The fixture derives the new snapshot from customer: custkey%11 rows
    deleted, surviving custkey%7 rows get bal*1.05, custkey%13 rows also
    insert under a shifted key. Unchanged rows are filtered out AFTER the
    join, so the diff is one full-outer sort-merge join on the key — both
    sides shuffle once, no window, no driver state; at 100 TB the two
    snapshots co-partition on the key and unchanged rows never leave the
    joined partition.
    """
    base = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("custkey"),
        F.round(F.col("c_acctbal"), 4).alias("bal"),
    )
    survivors = base.filter(F.col("custkey") % 11 != 0)
    new_snap = (
        survivors.filter(F.col("custkey") % 7 == 0)
        .select("custkey", F.round(F.col("bal") * 1.05, 4).alias("bal"))
        .unionByName(survivors.filter(F.col("custkey") % 7 != 0))
        .unionByName(
            base.filter(F.col("custkey") % 13 == 0).select(
                (F.col("custkey") + NEW_KEY_OFFSET).alias("custkey"), "bal"
            )
        )
    )
    j = (
        base.select("custkey", F.col("bal").alias("old_bal"))
        .withColumn("in_base", F.lit(True))
        .join(
            new_snap.select("custkey", F.col("bal").alias("new_bal"))
            .withColumn("in_new", F.lit(True)),
            "custkey",
            "full_outer",
        )
        .select(
            "custkey",
            "old_bal",
            "new_bal",
            F.coalesce("in_base", F.lit(False)).alias("in_base"),
            F.coalesce("in_new", F.lit(False)).alias("in_new"),
        )
    )
    return j.filter(
        ~F.col("in_base") | ~F.col("in_new") | (F.col("old_bal") != F.col("new_bal"))
    ).select(
        "custkey",
        F.when(~F.col("in_base"), F.lit("insert"))
        .when(~F.col("in_new"), F.lit("delete"))
        .otherwise(F.lit("update"))
        .alias("change_type"),
        "old_bal",
        "new_bal",
    )


_PROFILE_COLS = ("o_custkey", "o_totalprice", "o_orderstatus", "o_orderpriority")

_PROFILE_ORACLE = "\nUNION ALL\n".join(
    f"""
    SELECT '{c}' AS column_name, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(*) - COUNT({c}) AS BIGINT) AS n_null,
           CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct,
           CAST(MIN(TRY_CAST({c} AS DOUBLE)) AS DOUBLE) AS min_num,
           CAST(MAX(TRY_CAST({c} AS DOUBLE)) AS DOUBLE) AS max_num
    FROM orders
    """
    for c in _PROFILE_COLS
)


@query("table_profile", oracle=_PROFILE_ORACLE)
def table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profiling (the ANALYZE TABLE / data-quality-report shape):
    one output row per profiled column with row count, null count,
    distinct count, and numeric min/max (null for non-castable strings).

    All columns profile in ONE scan: the per-column aggregates compute in
    a single agg (Catalyst plans multiple COUNT(DISTINCT)s via a single
    Expand — still one pass over the data), and the wide result row is
    unpivoted driver-free with stack(). At 100 TB swap COUNT(DISTINCT)
    for approx_count_distinct and the same plan holds with no Expand
    blowup; exact is kept here because the oracle must match bit-for-bit.
    """
    # measured: repartitioning the narrow projection before the Expand
    # costs more than the parallelism it buys (the partial aggs collapse
    # to vocabulary-sized state immediately) — unlike the explode ops,
    # profile stays scan-partitioned.
    o = load(spark, sf_dir, "orders").select(*_PROFILE_COLS)
    aggs = []
    for c in _PROFILE_COLS:
        aggs += [
            F.count(F.lit(1)).alias(f"{c}__rows"),
            (F.count(F.lit(1)) - F.count(c)).alias(f"{c}__null"),
            F.countDistinct(c).alias(f"{c}__distinct"),
            F.min(F.expr(f"try_cast({c} AS DOUBLE)")).alias(f"{c}__min"),
            F.max(F.expr(f"try_cast({c} AS DOUBLE)")).alias(f"{c}__max"),
        ]
    wide = o.agg(*aggs)
    stack = ", ".join(
        f"'{c}', {c}__rows, {c}__null, {c}__distinct, {c}__min, {c}__max"
        for c in _PROFILE_COLS
    )
    return wide.select(
        F.expr(
            f"stack({len(_PROFILE_COLS)}, {stack}) AS "
            "(column_name, n_rows, n_null, n_distinct, min_num, max_num)"
        )
    )


_PROFILE_APPROX_ORACLE = "\nUNION ALL\n".join(
    f"""
    SELECT '{c}' AS column_name,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(*) - COUNT({c}) AS BIGINT) AS n_null,
           TRUE AS distinct_within_bound
    FROM orders
    """
    for c in _PROFILE_COLS
)


@query("table_profile_approx", oracle=_PROFILE_APPROX_ORACLE)
def table_profile_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB shape of `table_profile`: distinct counts come from a
    DataSketches HLL sketch (hll_sketch_agg, lgConfigK=12) instead of
    exact COUNT(DISTINCT), so the approx aggregation has NO Expand at
    all — each column contributes one fixed-size binary sketch, and the
    whole profile is one pass + one 1-row exchange regardless of column
    count or cardinality (the sketch also unions incrementally across
    partitions/days — hll_sketch_union_bounded shows that rollup).

    Evidence shape (same device as approx_count_distinct_bounded /
    percentile_approx_bounded): the sketch estimate is engine-specific,
    so it is compared against the exact distinct count computed alongside
    and folded into a within-5%-or-5 boolean the oracle pins as TRUE.
    The exact column exists only for the evidence; the production profile
    drops it (docstring of table_profile names this exact swap)."""
    o = load(spark, sf_dir, "orders").select(*_PROFILE_COLS)
    # sketches via DataSketches hll_sketch_agg (lgConfigK=12, ~1.6% rsd):
    # ONE binary buffer per sketch. approx_count_distinct at tight rsd is
    # the wrong tool here — its HLL registers become individual codegen
    # attributes (rsd 0.01 -> 1640 longs per sketch, a 6500-attribute
    # aggregate that compiles for minutes and runs interpreted); the
    # sketch column stays opaque bytes and merges like any agg state.
    approx_aggs = []
    for c in _PROFILE_COLS:
        approx_aggs += [
            F.count(F.lit(1)).alias(f"{c}__rows"),
            (F.count(F.lit(1)) - F.count(c)).alias(f"{c}__null"),
            F.expr(
                f"hll_sketch_estimate(hll_sketch_agg(CAST({c} AS STRING), 12))"
            ).alias(f"{c}__approx"),
        ]
    # the exact side exists ONLY as evidence for the bound check; it runs
    # as its OWN aggregation so its multi-distinct Expand never touches
    # the approx pass (whose no-Expand single pass is the production
    # claim — drop this agg and the crossJoin to get the 100 TB profile)
    exact_aggs = [
        F.countDistinct(c).alias(f"{c}__exact") for c in _PROFILE_COLS
    ]
    wide = o.agg(*approx_aggs).crossJoin(F.broadcast(o.agg(*exact_aggs)))
    stack = ", ".join(
        f"'{c}', {c}__rows, {c}__null, {c}__approx, {c}__exact"
        for c in _PROFILE_COLS
    )
    tall = wide.select(
        F.expr(
            f"stack({len(_PROFILE_COLS)}, {stack}) AS "
            "(column_name, n_rows, n_null, approx_d, exact_d)"
        )
    )
    return tall.select(
        "column_name",
        "n_rows",
        "n_null",
        (
            F.abs(F.col("approx_d") - F.col("exact_d"))
            <= F.greatest(F.col("exact_d") * F.lit(0.05), F.lit(5.0))
        ).alias("distinct_within_bound"),
    )


MERGE_INSERT_OFFSET = 2_000_000  # synthetic insert keys in the change batch

_MERGE_ORACLE = f"""
WITH base AS (
  SELECT c_custkey AS custkey, ROUND(c_acctbal, 4) AS bal FROM customer
),
changes AS (
  SELECT custkey, CAST(NULL AS DOUBLE) AS new_bal, 'D' AS op
  FROM base WHERE custkey % 7 = 0
  UNION ALL
  SELECT custkey, ROUND(bal * 1.1, 4), 'U'
  FROM base WHERE custkey % 3 = 0 AND custkey % 7 <> 0
  UNION ALL
  SELECT custkey + {MERGE_INSERT_OFFSET}, bal, 'I'
  FROM base WHERE custkey % 5 = 0
),
j AS (
  SELECT COALESCE(b.custkey, c.custkey) AS custkey, b.bal, c.new_bal, c.op,
         b.custkey IS NOT NULL AS in_base
  FROM base b FULL OUTER JOIN changes c ON b.custkey = c.custkey
)
SELECT custkey,
       CASE WHEN op = 'U' THEN new_bal
            WHEN op = 'I' AND NOT in_base THEN new_bal
            ELSE bal END AS acctbal,
       COALESCE(op, 'K') AS last_action
FROM j
WHERE op IS NULL OR op <> 'D'
"""


@query("merge_upsert_delete", oracle=_MERGE_ORACLE)
def merge_upsert_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-style MERGE INTO semantics as one relational pass: a change
    batch carrying updates, deletes, and inserts applies to a snapshot via
    a SINGLE full-outer join — WHEN MATCHED AND op='D' THEN DELETE, WHEN
    MATCHED AND op='U' THEN UPDATE, WHEN NOT MATCHED THEN INSERT, with
    untouched rows streaming through. This is the set-based form of the
    ledger's upsert (plans/ledger.py upsert replaces whole keys; MERGE
    additionally expresses conditional delete/update in one statement) —
    the documented upgrade path PLANS.md names for the runs ledger once a
    transactional table format is available; the join shape is what that
    MERGE compiles to underneath.

    Scale: one co-partitioned full-outer sort-merge join on the key — no
    window over the snapshot, no driver state; a billion-row snapshot
    merges in one shuffle of each side (AQE picks broadcast when the
    change batch is small, which is the common CDC case)."""
    base = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("custkey"),
        F.round("c_acctbal", 4).alias("bal"),
    )
    changes = (
        base.filter(F.col("custkey") % 7 == 0)
        .select("custkey", F.lit(None).cast("double").alias("new_bal"),
                F.lit("D").alias("op"))
        .unionByName(
            base.filter((F.col("custkey") % 3 == 0) & (F.col("custkey") % 7 != 0))
            .select("custkey", F.round(F.col("bal") * 1.1, 4).alias("new_bal"),
                    F.lit("U").alias("op"))
        )
        .unionByName(
            base.filter(F.col("custkey") % 5 == 0)
            .select((F.col("custkey") + MERGE_INSERT_OFFSET).alias("custkey"),
                    F.col("bal").alias("new_bal"), F.lit("I").alias("op"))
        )
    )
    j = base.withColumnRenamed("custkey", "b_key").join(
        changes.withColumnRenamed("custkey", "c_key"),
        F.col("b_key") == F.col("c_key"),
        "full_outer",
    )
    merged = j.filter(F.col("op").isNull() | (F.col("op") != "D")).select(
        F.coalesce("b_key", "c_key").alias("custkey"),
        F.when(F.col("op") == "U", F.col("new_bal"))
        .when((F.col("op") == "I") & F.col("b_key").isNull(), F.col("new_bal"))
        .otherwise(F.col("bal"))
        .alias("acctbal"),
        F.coalesce("op", F.lit("K")).alias("last_action"),
    )
    return merged


_DRIFT_ORACLE = """
WITH halves AS (
  SELECT event_type,
         CASE WHEN event_id % 2 = 0 THEN 'a' ELSE 'b' END AS half,
         value,
         (json_valid(props)
          AND json_extract_string(props, '$.k') IS NOT NULL) AS has_k
  FROM events
), s AS (
  SELECT event_type,
         CAST(SUM(CASE WHEN half = 'a' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         CAST(SUM(CASE WHEN half = 'b' THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
         AVG(CASE WHEN half = 'a' THEN value END) AS mean_a,
         AVG(CASE WHEN half = 'b' THEN value END) AS mean_b,
         AVG(CASE WHEN half = 'a' THEN
               CASE WHEN has_k THEN 1.0 ELSE 0.0 END END) AS kr_a,
         AVG(CASE WHEN half = 'b' THEN
               CASE WHEN has_k THEN 1.0 ELSE 0.0 END END) AS kr_b
  FROM halves GROUP BY event_type
)
SELECT event_type, n_a, n_b,
       ROUND(mean_a, 6) AS mean_a, ROUND(mean_b, 6) AS mean_b,
       ROUND(abs(mean_a - mean_b), 6) AS mean_drift,
       ROUND(abs(kr_a - kr_b), 6) AS null_rate_drift,
       ROUND(abs(CAST(n_a AS DOUBLE) / (n_a + n_b) - 0.5), 6)
         AS count_skew
FROM s
"""


@query("profile_drift", oracle=_DRIFT_ORACLE)
def profile_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-drift profile: split the log into two deterministic halves
    (event_id parity stands in for yesterday/today snapshots) and compare
    per-event-type distributions — count skew, mean drift, and the
    drift in a JSON-field presence rate (the schema-health signal that
    catches an upstream producer silently dropping a key). This is the
    data-quality gate a training pipeline runs between ingest and mixing;
    alert thresholds go on the *_drift columns.

    Plan: ONE scan, ONE partial-aggregated exchange on the tiny
    event_type key — both halves' statistics come from conditional
    aggregates in the same pass (contrast the naive two-scan + join
    form; see also snapshot_diff for row-level CDC). Everything is
    codegen; at 100 TB the map side reduces each partition to
    |event_type| rows before the shuffle."""
    ev = load(spark, sf_dir, "events").select(
        "event_type",
        F.when(F.col("event_id") % 2 == 0, F.lit("a"))
        .otherwise(F.lit("b"))
        .alias("half"),
        "value",
        F.get_json_object("props", "$.k").isNotNull().alias("has_k"),
    )
    a = F.col("half") == "a"
    b = F.col("half") == "b"
    s = ev.groupBy("event_type").agg(
        F.sum(a.cast("int")).cast("bigint").alias("n_a"),
        F.sum(b.cast("int")).cast("bigint").alias("n_b"),
        F.avg(F.when(a, F.col("value"))).alias("m_a"),
        F.avg(F.when(b, F.col("value"))).alias("m_b"),
        F.avg(F.when(a, F.col("has_k").cast("double"))).alias("kr_a"),
        F.avg(F.when(b, F.col("has_k").cast("double"))).alias("kr_b"),
    )
    return s.select(
        "event_type",
        "n_a",
        "n_b",
        F.round("m_a", 6).alias("mean_a"),
        F.round("m_b", 6).alias("mean_b"),
        F.round(F.abs(F.col("m_a") - F.col("m_b")), 6).alias("mean_drift"),
        F.round(F.abs(F.col("kr_a") - F.col("kr_b")), 6).alias(
            "null_rate_drift"
        ),
        F.round(
            F.abs(
                F.col("n_a").cast("double") / (F.col("n_a") + F.col("n_b"))
                - 0.5
            ),
            6,
        ).alias("count_skew"),
    )


_PIT_PROBES = ("2020-06-01", "2021-06-01")

_PIT_ORACLE = f"""
WITH scd AS ({_SCD2_ORACLE})
SELECT probe,
       CAST(COUNT(*) AS BIGINT) AS n_keys,
       ROUND(CAST(SUM(CAST(ROUND(acctbal * 100) AS HUGEINT))
                  AS DOUBLE) / 100, 4) AS total_bal
FROM scd, (VALUES {", ".join(f"(TIMESTAMP '{p}')" for p in _PIT_PROBES)})
       AS p(probe_ts),
     LATERAL (SELECT strftime(probe_ts, '%Y-%m-%d') AS probe) l
WHERE valid_from <= probe_ts
  AND (valid_to IS NULL OR valid_to > probe_ts)
GROUP BY probe
"""


@query("scd2_point_in_time", oracle=_PIT_ORACLE)
def scd2_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (time-travel) read over the SCD2 dimension: for each
    probe timestamp, the set of versions whose [valid_from, valid_to)
    interval contains it — the AS OF query that makes SCD2 history worth
    storing (feature-store training reads join facts to the dimension AS
    OF the fact time to avoid label leakage). Two probes straddling the
    merge timestamp prove the read actually time-travels: the early
    probe sees the pre-merge state (no inserted keys, old balances), the
    late one sees the post-merge state.

    Plan: the interval predicate is a map-side filter over the versioned
    dimension — per probe, one pass, no window and no self-join (the
    closed-interval encoding means validity is decidable per row). The
    probe set rides along as an exploded literal array, so both probes
    share ONE scan of the dimension; the reduce keys on the tiny probe
    dimension. At 100 TB, partitioning the SCD2 table by is_current
    makes the common latest-state probe prune to the current partition.
    """
    scd = scd2_merge(spark, sf_dir)
    probed = scd.select(
        "acctbal",
        "valid_from",
        "valid_to",
        F.explode(
            F.array(
                *[F.lit(p).cast("timestamp") for p in _PIT_PROBES]
            )
        ).alias("probe_ts"),
    ).filter(
        (F.col("valid_from") <= F.col("probe_ts"))
        & (
            F.col("valid_to").isNull()
            | (F.col("valid_to") > F.col("probe_ts"))
        )
    )
    return probed.groupBy(
        F.date_format("probe_ts", "yyyy-MM-dd").alias("probe")
    ).agg(
        F.count(F.lit(1)).alias("n_keys"),
        # exact cents on the 2-probe key (lifted r9)
        F.expr(
            "ROUND(CAST(SUM(CAST(ROUND(acctbal * 100) AS"
            " DECIMAL(38,0))) AS DOUBLE) / 100, 4)"
        ).alias("total_bal"),
    )


QUALITY_DRIFT_ORACLE = """
    WITH per AS (
      SELECT source, CAST(n_chars AS BIGINT) AS n_chars,
             CAST(len(w) AS BIGINT) AS n_tok,
             CAST(round(CAST(len(list_distinct(w)) AS DOUBLE)
               / CAST(len(w) AS DOUBLE) * 1000000.0) AS BIGINT) AS ttr_u
      FROM (SELECT source, n_chars,
                   list_filter(string_split(text, ' '), x -> x <> '') AS w
            FROM documents)
    ),
    s AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_chars) AS BIGINT) AS sc,
             CAST(SUM(n_tok) AS BIGINT) AS stk,
             CAST(SUM(ttr_u) AS BIGINT) AS sttr
      FROM per GROUP BY source
    ),
    g AS (
      SELECT CAST(SUM(n_docs) AS BIGINT) AS tn,
             CAST(SUM(sc) AS BIGINT) AS tsc,
             CAST(SUM(stk) AS BIGINT) AS tstk,
             CAST(SUM(sttr) AS BIGINT) AS tsttr
      FROM s
    )
    SELECT source, n_docs,
           ROUND(CAST(n_docs AS DOUBLE) / tn, 6) AS share,
           ROUND(CAST(sc AS DOUBLE) / n_docs, 6) AS mean_chars,
           ROUND(abs(CAST(sc AS DOUBLE) / n_docs
                 - CAST(tsc AS DOUBLE) / tn), 6) AS chars_drift,
           ROUND(CAST(stk AS DOUBLE) / n_docs, 6) AS mean_tokens,
           ROUND(abs(CAST(stk AS DOUBLE) / n_docs
                 - CAST(tstk AS DOUBLE) / tn), 6) AS tokens_drift,
           ROUND(CAST(sttr AS DOUBLE) / n_docs / 1000000.0, 6) AS mean_ttr,
           ROUND(abs(CAST(sttr AS DOUBLE) / n_docs
                 - CAST(tsttr AS DOUBLE) / tn) / 1000000.0, 6) AS ttr_drift
    FROM s, g
"""


@query("quality_drift_by_source", oracle=QUALITY_DRIFT_ORACLE)
def quality_drift_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus-quality drift grid — the report a training-data
    audit ships per ingest source: volume share, mean length, mean token
    count, and mean type-token ratio, each with its absolute drift from
    the whole-corpus baseline (threshold the *_drift columns to catch a
    source whose crawler started emitting boilerplate or truncated docs).
    Generalizes profile_drift (two fixed halves) to the source dimension.

    Plan: ONE corpus scan. The per-source sums are sufficient statistics,
    so the GLOBAL baseline comes from an unpartitioned window over the
    |sources|-row aggregate (metadata-sized single-partition exchange) —
    an agg + crossJoin would fork the lineage and scan the corpus twice. Per-doc type-token
    ratios are quantized to integer 1e-6 units BEFORE summing so the sums
    are exact integers on both engines (the timeseries_anomaly_rolling
    float-summation lesson); every division afterwards is written in the
    same order in Spark and the oracle."""
    s = quality_drift_sums(load(spark, sf_dir, "documents"))
    return quality_drift_finalize(s)


def quality_drift_sums(docs: DataFrame) -> DataFrame:
    """Per-source sufficient statistics for the quality-drift grid
    (count, char/token sums, integer-micro-unit TTR sum) — shared with
    the streaming twin, whose complete-mode aggregation this is."""
    per = docs.select(
        "source",
        F.col("n_chars").cast("long").alias("n_chars"),
        F.expr("filter(split(text, ' '), x -> x <> '')").alias("w"),
    ).select(
        "source",
        "n_chars",
        F.size("w").cast("long").alias("n_tok"),
        F.expr(
            "CAST(round(CAST(size(array_distinct(w)) AS DOUBLE)"
            " / CAST(size(w) AS DOUBLE) * 1000000.0) AS BIGINT)"
        ).alias("ttr_u"),
    )
    return per.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("sc"),
        F.sum("n_tok").alias("stk"),
        F.sum("ttr_u").alias("sttr"),
    )


def quality_drift_finalize(s: DataFrame) -> DataFrame:
    """Drift projection over the per-source sums: the global baseline is
    an unpartitioned window over the |sources|-row aggregate, re-using
    the partials WITHOUT a second lineage branch (an agg + crossJoin
    would make Spark recompute the scan on both branches — two corpus
    scans; the window keeps it at one scan plus a metadata-sized
    single-partition exchange)."""
    wg = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    s = (
        s.withColumn("tn", F.sum("n_docs").over(wg))
        .withColumn("tsc", F.sum("sc").over(wg))
        .withColumn("tstk", F.sum("stk").over(wg))
        .withColumn("tsttr", F.sum("sttr").over(wg))
    )
    sc_d = F.col("sc").cast("double")
    stk_d = F.col("stk").cast("double")
    sttr_d = F.col("sttr").cast("double")
    return s.select(
        "source",
        "n_docs",
        F.round(F.col("n_docs").cast("double") / F.col("tn"), 6).alias(
            "share"
        ),
        F.round(sc_d / F.col("n_docs"), 6).alias("mean_chars"),
        F.round(
            F.abs(sc_d / F.col("n_docs") - F.col("tsc").cast("double") / F.col("tn")),
            6,
        ).alias("chars_drift"),
        F.round(stk_d / F.col("n_docs"), 6).alias("mean_tokens"),
        F.round(
            F.abs(stk_d / F.col("n_docs") - F.col("tstk").cast("double") / F.col("tn")),
            6,
        ).alias("tokens_drift"),
        F.round(sttr_d / F.col("n_docs") / F.lit(1000000.0), 6).alias(
            "mean_ttr"
        ),
        F.round(
            F.abs(sttr_d / F.col("n_docs") - F.col("tsttr").cast("double") / F.col("tn"))
            / F.lit(1000000.0),
            6,
        ).alias("ttr_drift"),
    )


@query(
    "corpus_datacard",
    oracle="""
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
           CAST(COUNT(*) - COUNT(DISTINCT md5(text)) AS BIGINT)
             AS n_dup_docs,
           CAST(SUM(len(string_split(text, ' '))) AS BIGINT)
             AS total_tokens,
           CAST((SUM(len(string_split(text, ' '))) * 1000000) // COUNT(*)
                AS BIGINT) AS avg_tokens_micro,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents GROUP BY source
    """,
)
def corpus_datacard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus datacard — the summary grid a dataset release
    ships (Gebru et al. "Datasheets for Datasets" family): volume, language
    breadth, exact-duplicate count, and token statistics per source, in
    ONE scan of the corpus.

    The two exact COUNT(DISTINCT) columns pay one Expand (x3 rows through
    the first aggregate) exactly as table_profile does, and the same
    documented 100 TB twin applies: swap approx_count_distinct /
    hll sketches for the distinct columns (table_profile_approx's shape)
    when the grid feeds a dashboard instead of a release gate. All other
    columns are plain sums — integer end-to-end (avg as micro-units via
    DIV), so the oracle hash is exact. The shuffle key is `source`
    (sources are few and the Expand multiplies rows, not keys), with
    partial aggregation absorbing the corpus map-side."""
    docs = load(spark, sf_dir, "documents")
    toks = F.size(F.split(F.col("text"), " ")).cast("bigint")
    return (
        docs.select(
            "source",
            "lang",
            "n_chars",
            toks.alias("n_tokens"),
            F.md5("text").alias("digest"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("lang").alias("n_langs"),
            (F.count(F.lit(1)) - F.countDistinct("digest")).alias(
                "n_dup_docs"
            ),
            F.sum("n_tokens").alias("total_tokens"),
            F.expr(
                "CAST((SUM(n_tokens) * 1000000) DIV COUNT(*) AS BIGINT)"
            ).alias("avg_tokens_micro"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


_GOLDEN_ATTR_SQL = """
    SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_id,
           CASE WHEN event_type = 'signup' THEN
             'u' || user_id || '@d' || (CAST(props->>'k' AS INT) % 5)
               || '.com' END AS email,
           CASE WHEN event_type = 'purchase' THEN
             '+1-555-' || lpad(CAST(CAST(props->>'k' AS INT) % 10000
               AS VARCHAR), 4, '0') END AS phone,
           CASE WHEN event_type = 'click' THEN
             CASE WHEN CAST(props->>'k' AS INT) % 3 = 0 THEN 'free'
                  WHEN CAST(props->>'k' AS INT) % 3 = 1 THEN 'pro'
                  ELSE 'team' END END AS tier
    FROM events WHERE json_valid(props)
      AND json_extract_string(props, '$.k') IS NOT NULL
"""


GOLDEN_RECORD_ORACLE = f"""
    WITH v AS ({_GOLDEN_ATTR_SQL}),
    g AS (
      SELECT user_id,
             MAX(CASE WHEN email IS NOT NULL
                 THEN row(us, event_id, email) END) AS em,
             MAX(CASE WHEN phone IS NOT NULL
                 THEN row(us, event_id, phone) END) AS ph,
             MAX(CASE WHEN tier IS NOT NULL
                 THEN row(us, event_id, tier) END) AS ti,
             CAST(COUNT(*) AS BIGINT) AS n_versions
      FROM v GROUP BY user_id
    )
    SELECT user_id,
           em[3] AS email, ph[3] AS phone, ti[3] AS tier,
           n_versions
    FROM g
    """


@query("golden_record_survivorship", oracle=GOLDEN_RECORD_ORACLE)
def golden_record_survivorship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Golden-record merge (master-data-management survivorship): each
    user's attribute updates arrive sparsely across their event history
    (the fixture derives email from signups, phone from purchases, tier
    from clicks — deterministic plumbing, this module's convention) and
    the golden record takes, PER ATTRIBUTE INDEPENDENTLY, the value from
    the latest event that carried it ("most recent non-null wins", the
    standard survivorship rule).

    The per-attribute latest is MAX over a (us, event_id, value) struct
    guarded by a CASE — rows without the attribute contribute NULL and
    aggregate MAX skips NULLs identically on both engines, which
    sidesteps the engine-specific null handling of max_by/arg_max. ONE
    shuffle on user_id produces every attribute column in a single
    aggregation — no per-attribute join cascade (the naive MDM shape is
    one "latest" subquery per column)."""
    ev = load(spark, sf_dir, "events").filter(
        F.expr("props IS NOT NULL AND get_json_object(props, '$.k') IS NOT NULL")
    )
    from ..tables import ntz_epoch_us

    v = golden_attr_versions(ev, ntz_epoch_us("ts"))
    return golden_merge(v)


def golden_attr_versions(ev: DataFrame, us_col: F.Column) -> DataFrame:
    """Sparse attribute derivation shared with the streaming twin."""
    k = F.get_json_object("props", "$.k").cast("int")
    return ev.select(
        "user_id",
        us_col.alias("us"),
        "event_id",
        F.when(
            F.col("event_type") == "signup",
            F.concat(
                F.lit("u"),
                F.col("user_id").cast("string"),
                F.lit("@d"),
                (k % 5).cast("string"),
                F.lit(".com"),
            ),
        ).alias("email"),
        F.when(
            F.col("event_type") == "purchase",
            F.concat(
                F.lit("+1-555-"),
                F.lpad((k % 10000).cast("string"), 4, "0"),
            ),
        ).alias("phone"),
        F.when(
            F.col("event_type") == "click",
            F.when(k % 3 == 0, "free")
            .when(k % 3 == 1, "pro")
            .otherwise("team"),
        ).alias("tier"),
    )


def golden_merge(v: DataFrame) -> DataFrame:
    """Survivorship aggregation shared with the streaming twin (one
    streaming-legal groupBy: guarded-struct MAX per attribute)."""

    def latest(col: str) -> F.Column:
        return F.max(
            F.when(
                F.col(col).isNotNull(),
                F.struct(
                    F.col("us").alias("v1"),
                    F.col("event_id").alias("v2"),
                    F.col(col).alias("v3"),
                ),
            )
        )["v3"].alias(col)

    return v.groupBy("user_id").agg(
        latest("email"),
        latest("phone"),
        latest("tier"),
        F.count(F.lit(1)).cast("bigint").alias("n_versions"),
    )


@query(
    "dq_constraint_audit",
    oracle="""
    SELECT 'orders_pk_unique' AS constraint_name,
           CAST((SELECT COUNT(*) FROM
             (SELECT o_orderkey FROM orders GROUP BY 1 HAVING COUNT(*) > 1))
             AS BIGINT) AS violations,
           CAST((SELECT COUNT(*) FROM orders) AS BIGINT) AS n_checked
    UNION ALL
    SELECT 'orders_fk_customer',
           CAST((SELECT COUNT(*) FROM orders o
                 LEFT JOIN customer c ON o.o_custkey = c.c_custkey
                 WHERE c.c_custkey IS NULL) AS BIGINT),
           CAST((SELECT COUNT(*) FROM orders) AS BIGINT)
    UNION ALL
    SELECT 'lineitem_fk_orders',
           CAST((SELECT COUNT(*) FROM lineitem l
                 LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
                 WHERE o.o_orderkey IS NULL) AS BIGINT),
           CAST((SELECT COUNT(*) FROM lineitem) AS BIGINT)
    UNION ALL
    SELECT 'lineitem_qty_range',
           CAST((SELECT COUNT(*) FROM lineitem
                 WHERE l_quantity < 1 OR l_quantity > 50) AS BIGINT),
           CAST((SELECT COUNT(*) FROM lineitem) AS BIGINT)
    UNION ALL
    SELECT 'orders_totalprice_nonneg',
           CAST((SELECT COUNT(*) FROM orders WHERE o_totalprice < 0)
             AS BIGINT),
           CAST((SELECT COUNT(*) FROM orders) AS BIGINT)
    """,
)
def dq_constraint_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality constraint audit — the contract gate a warehouse
    load runs before publishing a snapshot: primary-key uniqueness,
    referential integrity (orphaned foreign keys via LEFT ANTI joins),
    and domain/range rules, each reported as (constraint, violations,
    rows checked). Zero violations on the TPC-H fixture is itself the
    assertion — the operator's value is the PLAN: each FK check is one
    anti-join on the key (broadcast when the parent side is small), PK
    uniqueness is one groupBy on the key with partial aggregation, and
    range rules are map-side filters — nothing scans a table more than
    the checks require, and every check is independently parallel.

    At 100 TB the same audit runs incrementally: checks restrict to the
    new partition and the FK parent side stays a broadcast dimension or
    a bucketed join — the shapes are unchanged.

    OPTIMIZATION r12 (guide §2.3/§2.4 — aggregate before you shuffle,
    share scans): the first form built each (violations, n_checked) row
    from its own pair of single-row aggregates — orders was scanned SIX
    times (three totals, the range rule, the PK grouping, the FK probe)
    and lineitem three times. Range rules now fold into the SAME
    single-pass conditional aggregate as their table's total, the
    repeated totals are computed once, and the five report rows unpivot
    from one crossJoined stats row with stack() — orders 6 -> 3 scans,
    lineitem 3 -> 2, Exchange branches 10 -> 5 (plan diff in
    plans/r12/dq_constraint_audit_{before,after}.txt). Same five output
    rows; oracle unchanged."""
    orders = load(spark, sf_dir, "orders")
    customer = load(spark, sf_dir, "customer")
    lineitem = load(spark, sf_dir, "lineitem")

    # one pass per table: total + conditional range-rule count together
    o_stats = orders.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.count(F.when(F.col("o_totalprice") < 0, 1))
        .cast("bigint")
        .alias("price_neg"),
    )
    l_stats = lineitem.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lineitem"),
        F.count(
            F.when((F.col("l_quantity") < 1) | (F.col("l_quantity") > 50), 1)
        )
        .cast("bigint")
        .alias("qty_viol"),
    )
    pk_viol = (
        orders.groupBy("o_orderkey")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") > 1)
        .agg(F.count(F.lit(1)).cast("bigint").alias("pk_viol"))
    )
    fk_o_viol = orders.join(
        customer, orders.o_custkey == customer.c_custkey, "left_anti"
    ).agg(F.count(F.lit(1)).cast("bigint").alias("fk_o_viol"))
    fk_l_viol = lineitem.join(
        orders, lineitem.l_orderkey == orders.o_orderkey, "left_anti"
    ).agg(F.count(F.lit(1)).cast("bigint").alias("fk_l_viol"))
    row = (
        o_stats.crossJoin(l_stats)
        .crossJoin(pk_viol)
        .crossJoin(fk_o_viol)
        .crossJoin(fk_l_viol)
    )
    return row.select(
        F.expr(
            "stack(5,"
            " 'orders_pk_unique', pk_viol, n_orders,"
            " 'orders_fk_customer', fk_o_viol, n_orders,"
            " 'lineitem_fk_orders', fk_l_viol, n_lineitem,"
            " 'lineitem_qty_range', qty_viol, n_lineitem,"
            " 'orders_totalprice_nonneg', price_neg, n_orders"
            ") AS (constraint_name, violations, n_checked)"
        )
    )


@query(
    "dq_freshness_audit",
    oracle="""
    WITH g AS (SELECT MAX(ts) AS global_max FROM events),
    per AS (
      SELECT event_type, MAX(ts) AS latest,
             CAST(COUNT(*) AS BIGINT) AS n_events
      FROM events GROUP BY 1
    )
    SELECT event_type, n_events,
           strftime(latest, '%Y-%m-%d %H:%M:%S') AS latest_ts,
           CAST((epoch_us(CAST(global_max AS TIMESTAMP))
                 - epoch_us(CAST(latest AS TIMESTAMP))) // 60000000
                AS BIGINT) AS lag_minutes,
           (epoch_us(CAST(global_max AS TIMESTAMP))
            - epoch_us(CAST(latest AS TIMESTAMP))) // 60000000 > 1440
             AS stale
    FROM per, g
    """,
)
def dq_freshness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Freshness/SLA audit: per event stream, the latest event time, its
    lag behind the most recent data anywhere in the table, and a stale
    flag at the 24-hour SLA — the check that catches a silently dead
    upstream producer. The reference point is the GLOBAL max timestamp
    rather than wall-clock now(), which keeps the audit deterministic
    and replayable (now()-based lag belongs to the alerting layer, not
    the data layer).

    One scan: the per-stream aggregate and the global max reduce from
    the same pass (global max re-aggregated from the per-stream partials
    via a window over the |streams|-row grid — the
    quality_drift_by_source lineage rule), then pure projections."""
    ev = load(spark, sf_dir, "events")
    per = ev.groupBy("event_type").agg(
        F.max("ts").alias("latest"),
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
    )
    # lag arithmetic on naive epoch-us (tables.ntz_epoch_us), never a
    # NTZ->TIMESTAMP cast: the cast reads the session timezone, and a DST
    # transition between a stream's latest event and the global max would
    # shift lag_minutes by the DST delta and could flip `stale`.
    per = per.withColumn("latest_us", tables.ntz_epoch_us("latest"))
    w_all = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    lag_min = F.floor(
        (F.max("latest_us").over(w_all) - F.col("latest_us")) / 60_000_000
    ).cast("bigint")
    return per.select(
        "event_type",
        "n_events",
        F.date_format("latest", "yyyy-MM-dd HH:mm:ss").alias("latest_ts"),
        lag_min.alias("lag_minutes"),
        (lag_min > 1440).alias("stale"),
    )


_BENFORD_ORACLE = """
WITH d AS (
  SELECT CAST(substring(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                             AS VARCHAR), 1, 1) AS INT) AS digit
  FROM lineitem
),
g AS (
  SELECT digit, CAST(COUNT(*) AS BIGINT) AS observed
  FROM d GROUP BY digit
),
t AS (
  SELECT digit, observed,
         CAST(SUM(observed) OVER () AS BIGINT) AS total,
         log10(1.0 + 1.0 / digit) AS p_benford
  FROM g
)
SELECT digit, observed, total,
       ROUND(p_benford, 6) AS expected_p,
       ROUND(CAST(observed AS DOUBLE) / total - p_benford, 6) + 0.0
         AS deviation,
       ROUND(POW(observed - total * p_benford, 2)
             / (total * p_benford), 6) + 0.0 AS chi2_term
FROM t
"""


@query("dq_benford_audit", oracle=_BENFORD_ORACLE)
def dq_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit over a monetary column — the
    fraud/ETL-corruption screen: naturally-occurring multiplicative
    amounts follow P(d) = log10(1 + 1/d), and a digit whose chi²
    contribution spikes marks synthetic, truncated, or unit-mangled
    data (the classic data-quality tripwire alongside the freshness and
    null-rate audits in this family). Emits per first digit: observed
    count, the Benford expectation, signed deviation, and the chi² term
    whose 8-d.f. total the dashboard thresholds.

    First-digit extraction is STRING-based on the exact DECIMAL(18,2)
    rendering, never floor(x / 10^floor(log10 x)) — the float-log form
    misassigns boundary values (1000.0 → log10 = 2.9999…) differently
    per engine, the string form cannot. TPC-H extendedprice ≥ 900 so
    the lead character is always a significant digit; a general-domain
    run would first strip sign/'0.' prefixes with the same regexp
    device as fn_url_parse.

    Plan: one scan projecting a single column, a 9-group aggregation
    (map-side combined to 9 rows per task), then the total via a window
    over the 9-row GRID — metadata-sized by construction, the
    table_profile grid-finale pattern. Counts stay exact BIGINT; the
    Benford constants and ratio terms are the only doubles, ROUND(,6)+0.0
    absorbing last-ulp drift. Reference analog: the reference's variant
    frequency QC layer (frequencyAnalysis.py:31-35) generalized to
    digit-distribution conformance.
    """
    li = load(spark, sf_dir, "lineitem")
    d = li.select(
        F.substring(
            F.col("l_extendedprice").cast("decimal(18,2)").cast("string"),
            1,
            1,
        )
        .cast("int")
        .alias("digit")
    )
    g = d.groupBy("digit").agg(
        F.count(F.lit(1)).cast("bigint").alias("observed")
    )
    t = g.select(
        "digit",
        "observed",
        F.sum("observed")
        .over(Window.partitionBy())
        .cast("bigint")
        .alias("total"),
        F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit")).alias(
            "p_benford"
        ),
    )
    return t.select(
        "digit",
        "observed",
        "total",
        F.round("p_benford", 6).alias("expected_p"),
        (
            F.round(
                F.col("observed").cast("double") / F.col("total")
                - F.col("p_benford"),
                6,
            )
            + F.lit(0.0)
        ).alias("deviation"),
        (
            F.round(
                F.pow(
                    F.col("observed") - F.col("total") * F.col("p_benford"),
                    F.lit(2),
                )
                / (F.col("total") * F.col("p_benford")),
                6,
            )
            + F.lit(0.0)
        ).alias("chi2_term"),
    )

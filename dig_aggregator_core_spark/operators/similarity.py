"""Vector search over the embeddings table (array<float> column).

Every operator is built from four shared steps:
- ``_queries`` / ``_corpus``: the query-panel and corpus projections
  (``query_id, qv, qn`` / ``neighbor_id, cv, cn``, plus the extra
  columns the caller names);
- ``_cosine_topk``: the exact-cosine top-k tail — the sequential fold
  ``_COS_SPARK``, ``row_number`` over ``(cos desc, neighbor_id)``,
  ``rank <= k``, the cosine rounded to 6 places;
- ``_centroid_ranked``: every vector's seed centroids ranked by cosine
  (IVF cell assignment and probing);
- ``_pq_cell_adc`` and ``_pq_rerank``: the cell-confined PQ table-lookup
  scan, and the ADC shortlist re-scored by exact cosine.

The families built on them:
- exact baseline: ann_topk_bruteforce;
- sign-LSH (corpus and queries hashed to buckets by the sign pattern of
  leading dimensions; the cross product is confined to each bucket, and
  at 100 TB the bucket id becomes the shuffle key): ann_lsh_buckets /
  ann_lsh_adaptive, ann_lsh_multiprobe, ann_hard_negatives,
  ann_rerank_quantized;
- IVF: ann_ivf_probe;
- the persisted bucket index and its lifecycle: ann_index_persist,
  ann_index_append, ann_index_probe_join, ann_index_append_multiprobe,
  ann_index_delete, ann_index_compact;
- product quantization: ann_pq_adc, ann_ivf_pq, ann_ivf_pq_trained;
- retrieval evals: ann_recall_eval, eval_ndcg_at_k, eval_mrr_map,
  eval_rank_fusion_rrf;
- diversified re-rank: mmr_diversified_topk, mmr_over_index.

Sites whose tail differs (rank fusion, MMR's candidate cut, the
quantized coarse rank) take only the fold and the projections.

Dot products fold sequentially (aggregate/zip_with in Spark, list_reduce in
the DuckDB oracle) so both engines produce bit-identical doubles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import query
from ..tables import build_once, load, maybe_spread, once_in, session_memo

_TOPK = 5
_QUERY_FILTER = "vec_id % 100 = 0"

_VECS_SQL = """
vecs AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label,
         sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
              list_transform(CAST(embedding AS DOUBLE[]), x -> x * x)),
              (acc, x) -> acc + x)) AS nrm
  FROM embeddings
)
"""

_COS_SQL = """
  list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
    list_transform(range(1, len(q.v) + 1), i -> q.v[i] * c.v[i])),
    (acc, x) -> acc + x) / (q.nrm * c.nrm)
"""

# the Spark twin of _COS_SQL over a (_queries x _corpus) pair row
_COS_SPARK = (
    "aggregate(zip_with(qv, cv, (x, y) -> x * y),"
    " CAST(0.0 AS DOUBLE), (acc, x) -> acc + x) / (qn * cn)"
)


def _vecs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The per-row vector math downstream (norms, dot folds, PQ encode)
    # is a narrow CPU-bound map; a one-file fixture scan would pin the
    # whole family onto one core. maybe_spread repartitions ONLY when
    # the scan itself is under-partitioned (no-op at real scale where
    # input splits already parallelize) — guide §2.
    return maybe_spread(
        load(spark, sf_dir, "embeddings"), sf_dir, "embeddings", "vec_id"
    ).select(
        "vec_id",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("v"),
        "label",
    ).withColumn(
        "nrm",
        F.expr(
            "sqrt(aggregate(transform(v, x -> x * x),"
            " CAST(0.0 AS DOUBLE), (acc, x) -> acc + x))"
        ),
    )


def _queries(vecs: DataFrame, *extra) -> DataFrame:
    """The query panel of ``vecs`` as the query side of a scoring join:
    ``query_id, qv, qn`` and then ``extra``."""
    return vecs.filter(F.expr(_QUERY_FILTER)).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
        *extra,
    )


def _corpus(vecs: DataFrame, *extra) -> DataFrame:
    """``vecs`` as the candidate side of a scoring join:
    ``neighbor_id, cv, cn`` and then ``extra``."""
    return vecs.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("v").alias("cv"),
        F.col("nrm").alias("cn"),
        *extra,
    )


def _cosine_topk(pairs: DataFrame, *keep) -> DataFrame:
    """The exact-cosine top-k of (query, candidate) pair rows: the
    sequential fold, ranked per query by (cos desc, neighbor_id), the k
    best kept as ``query_id, neighbor_id, *keep, cosine, rank``."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id")
    )
    return (
        pairs.withColumn("cos", F.expr(_COS_SPARK))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _TOPK)
        .select(
            "query_id",
            "neighbor_id",
            *keep,
            F.round("cos", 6).alias("cosine"),
            "rank",
        )
    )


@query(
    "ann_topk_bruteforce",
    oracle=f"""
    WITH {_VECS_SQL},
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             {_COS_SQL} AS cos
      FROM (SELECT * FROM vecs WHERE {_QUERY_FILTER}) q
      JOIN vecs c ON c.vec_id <> q.vec_id
    )
    SELECT query_id, neighbor_id, ROUND(cos, 6) AS cosine,
           CAST(rk AS INT) AS rank
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cos DESC, neighbor_id) AS rk
      FROM scored
    ) WHERE rk <= {_TOPK}
    """,
)
def ann_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-k: broadcast the (small) query set against the
    corpus, score every pair, keep k per query via a ranking window."""
    vecs = _vecs(spark, sf_dir)
    # the q/c aliases keep each side's projection collapsed into one
    # Project, as this plan has always had
    return _cosine_topk(
        F.broadcast(_queries(vecs.alias("q")))
        .crossJoin(_corpus(vecs.alias("c")))
        .filter(F.col("neighbor_id") != F.col("query_id"))
    )


# adaptive variant: sign string wide enough for 2^24 buckets (~1.07e9
# vectors at the ~64/bucket occupancy target — the embedding dim is 64,
# so 24 coordinate signs are free); the USED prefix length grows with the
# corpus so occupancy stays ~64. Past the ceiling (n > 2^24 * 64) bucket
# occupancy drifts up linearly again — the serving path auto-routes to
# the IVF probe plan there (r12, _LSH_CEILING_N below), whose centroid
# count is a runtime knob rather than a plan constant (VERDICT r7 task
# 6 raised the ceiling; VERDICT r11 task 4 made crossing it a route,
# not a docstring).
_MAXBITS = 24
_SIGNS_SQL = (
    "concat("
    + ", ".join(
        f"CASE WHEN v[{i}] >= 0 THEN '1' ELSE '0' END"
        for i in range(1, _MAXBITS + 1)
    )
    + ")"
)
_SIGNS_SPARK = (
    "concat("
    + ", ".join(
        f"CASE WHEN v[{i}] >= 0 THEN '1' ELSE '0' END"
        for i in range(0, _MAXBITS)
    )
    + ")"
)
_NBITS_SQL = (
    "GREATEST(4, LEAST({m}, CAST(ceil(log2(GREATEST(COUNT(*), 1) / 64.0)) AS INT)))"
).format(m=_MAXBITS)


def _signed_vecs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """_vecs plus ``signs``, the full-width sign string."""
    return _vecs(spark, sf_dir).withColumn("signs", F.expr(_SIGNS_SPARK))


def _adaptive_keyed(vecs: DataFrame, *extra) -> DataFrame:
    """``vec_id, v, nrm, *extra, bucket`` of ``vecs`` (which carries
    ``signs``) with the occupancy-adaptive sign bucket: the width comes
    from a 1-row count aggregate broadcast onto the corpus."""
    nb = vecs.agg(F.expr(_NBITS_SQL).alias("nb"))
    return vecs.crossJoin(F.broadcast(nb)).select(
        "vec_id",
        "v",
        "nrm",
        *extra,
        F.expr("substring(signs, 1, nb)").alias("bucket"),
    )


_LSH_ADAPTIVE_ORACLE = f"""
WITH {_VECS_SQL},
sig AS (SELECT *, {_SIGNS_SQL} AS signs FROM vecs),
b AS (SELECT {_NBITS_SQL} AS nb FROM sig),
keyed AS (SELECT s.vec_id, s.v, s.nrm,
                 substr(s.signs, 1, b.nb) AS bucket
          FROM sig s, b),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         q.bucket AS bucket, {_COS_SQL} AS cos
  FROM (SELECT * FROM keyed WHERE {_QUERY_FILTER}) q
  JOIN keyed c ON c.bucket = q.bucket AND c.vec_id <> q.vec_id
)
SELECT query_id, neighbor_id, bucket, ROUND(cos, 6) AS cosine,
       CAST(rk AS INT) AS rank
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cos DESC, neighbor_id) AS rk
  FROM scored
) WHERE rk <= {_TOPK}
"""


# adaptive-LSH width ceiling: past n = 2^_MAXBITS * 64 (~1.07e9) even
# the widest sign prefix cannot hold the ~64/bucket occupancy target and
# within-bucket work drifts superlinear again. r12 (VERDICT r11 task 4):
# the op now ROUTES itself to the IVF probe plan above the ceiling —
# whose centroid count is a runtime knob, not a plan constant — instead
# of documenting the cliff and hoping the user reads it.
_LSH_CEILING_N = 64 << _MAXBITS
# test-observable route telemetry (same device as stateful's gates)
_LSH_ROUTE_STATS = {"lsh": 0, "ivf": 0}


def _lsh_adaptive_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared plan for ann_lsh_buckets and ann_lsh_adaptive (one code
    path, two registered names — see ann_lsh_buckets.__doc__).

    The corpus count is ONE metadata-sized scalar; it drives both the
    over-ceiling route (above) and the used-prefix width. Deriving the
    width driver-side replaces the previous one-row-aggregate broadcast
    crossJoin — same value, one less exchange in the serving plan."""
    import math

    vecs = _signed_vecs(spark, sf_dir)
    n = vecs.count()
    if n > _LSH_CEILING_N:
        _LSH_ROUTE_STATS["ivf"] += 1
        return _ivf_probe_topk(spark, sf_dir, with_bucket=True)
    _LSH_ROUTE_STATS["lsh"] += 1
    nb = max(4, min(_MAXBITS, math.ceil(math.log2(max(n, 1) / 64.0))))
    keyed = vecs.select(
        "vec_id",
        "v",
        "nrm",
        F.substring("signs", 1, nb).alias("bucket"),
    )
    q = _queries(keyed, "bucket")
    c = _corpus(keyed, F.col("bucket").alias("cbucket"))
    return _cosine_topk(
        q.join(
            c,
            (q.bucket == c.cbucket)
            & (F.col("neighbor_id") != F.col("query_id")),
        ),
        "bucket",
    )


@query("ann_lsh_buckets", oracle=_LSH_ADAPTIVE_ORACLE)
def ann_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH bucketed top-k — the name a user reaching for "LSH
    buckets" gets, now bound to the occupancy-adaptive sizing plan
    (shared with ann_lsh_adaptive; one implementation, _lsh_adaptive_topk).

    History, kept because the measurement is the design rule: through r6
    this name pinned the bucket width at 4 sign bits (16 buckets). Fixed
    width is a scale trap — within-bucket scoring is quadratic in bucket
    occupancy, and occupancy grows linearly with the corpus when width is
    frozen, so the r6 scaleproof measured 44x wall at 100x rows
    (PLANS.md). The adaptive rule executes the fix: used bits =
    clamp(ceil(log2(n/64)), 4, {m}), computed from the corpus count (one
    scalar, broadcast), so buckets hold ~64 vectors at any n and the op
    scales linearly like the rest of the suite. At the 500-vector driver
    fixture the clamp floor yields exactly the historical 4-bit buckets,
    so results are unchanged where the r2 evidence was recorded — but the
    query is re-queued for driver verification anyway (rewritten-plan
    convention)."""
    return _lsh_adaptive_topk(spark, sf_dir)


ann_lsh_buckets.__doc__ = ann_lsh_buckets.__doc__.format(m=_MAXBITS)


@query("ann_lsh_adaptive", oracle=_LSH_ADAPTIVE_ORACLE)
def ann_lsh_adaptive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH top-k with an OCCUPANCY-ADAPTIVE bucket width: the used
    sign-bit count is ceil(log2(n/64)) clamped to [4, {m}], computed from
    the corpus count itself, so buckets hold ~64 vectors whether the
    corpus has 500 rows or a billion ({m} bits covers n up to
    2^{m} * 64 ~= 1.07e9; past that ceiling the op ROUTES ITSELF to the
    IVF probe plan, whose centroid count is a runtime knob — r12, see
    _LSH_CEILING_N). The count is one metadata-sized scalar; bucketing
    is a literal-width substring of the precomputed sign string, so the
    plan is the fixed-bit plan with no extra exchange.

    The scaleproof measurement motivates it: fixed 4-bit bucketing went
    superlinear (44x wall at 100x rows) because occupancy grew 100x;
    with width tied to n, within-bucket work per row stays constant and
    the whole op scales like the rest of the suite. Recall behavior is
    the standard LSH trade (more bits = finer buckets = lower recall per
    table); production stacks multiple hash tables for recall, exactly
    as dedup_minhash_lsh's banding does. Since r7 this is the SAME plan
    as ann_lsh_buckets (_lsh_adaptive_topk) — the fixed-width form it
    replaced is retired.
    """
    return _lsh_adaptive_topk(spark, sf_dir)


ann_lsh_adaptive.__doc__ = ann_lsh_adaptive.__doc__.format(m=_MAXBITS)


# ---------------------------------------------------------------- IVF

_N_PROBE = 2
_IVF_K = 32  # FIXED centroid count: seeds capped at vec_id < 89*32. The
# bare %89 form grew K with N, so cell ASSIGNMENT (vecs x cents) was
# N^2/89 — measured 202.8x wall for 100x data at the r9-continuation
# x100 scaleproof (the same latent quadratic the balanced-assign x100
# caught). Fixed K makes assignment N x K linear; at the test SFs
# (N <= 2000 < 2848) the cap never binds, so results are unchanged.
# At production scale K is a deliberate knob (kmeans_embeddings trains
# the centroids; cells stay ~N/K vectors).
_CENTROID_FILTER_SQL = f"vec_id % 89 = 0 AND vec_id < {89 * _IVF_K}"

# assignment / probing both rank centroids by cosine; ties broken by id
_IVF_ORACLE = f"""
WITH {_VECS_SQL},
centroids AS (
  SELECT vec_id AS cent_id, v AS cv, nrm AS cn FROM vecs
  WHERE {_CENTROID_FILTER_SQL}
),
assigned AS (
  SELECT vec_id, v, nrm, cent_id FROM (
    SELECT x.vec_id, x.v, x.nrm, c.cent_id,
           ROW_NUMBER() OVER (PARTITION BY x.vec_id ORDER BY
             list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list_transform(range(1, len(x.v) + 1), i -> x.v[i] * c.cv[i])),
               (acc, x) -> acc + x) / (x.nrm * c.cn) DESC, c.cent_id) AS rk
    FROM vecs x CROSS JOIN centroids c
  ) WHERE rk = 1
),
probes AS (
  SELECT vec_id AS query_id, cent_id FROM (
    SELECT q.vec_id, c.cent_id,
           ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
             list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list_transform(range(1, len(q.v) + 1), i -> q.v[i] * c.cv[i])),
               (acc, x) -> acc + x) / (q.nrm * c.cn) DESC, c.cent_id) AS rk
    FROM (SELECT * FROM vecs WHERE {_QUERY_FILTER}) q CROSS JOIN centroids c
  ) WHERE rk <= {_N_PROBE}
),
scored AS (
  SELECT p.query_id, a.vec_id AS neighbor_id,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           list_transform(range(1, len(q.v) + 1), i -> q.v[i] * a.v[i])),
           (acc, x) -> acc + x) / (q.nrm * a.nrm) AS cos
  FROM probes p
  JOIN vecs q ON q.vec_id = p.query_id
  JOIN assigned a ON a.cent_id = p.cent_id AND a.vec_id <> p.query_id
)
SELECT query_id, neighbor_id, ROUND(cos, 6) AS cosine, CAST(rk AS INT) AS rank
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cos DESC, neighbor_id) AS rk
  FROM scored
) WHERE rk <= {_TOPK}
"""


@query("ann_ivf_probe", oracle=_IVF_ORACLE)
def ann_ivf_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: a deterministic coarse quantizer (every 89th vector
    stands in for a trained centroid set), each corpus vector assigned to
    its nearest centroid's cell, queries probing their nprobe=2 nearest
    cells and scoring only vectors in those cells.

    Scale path: the cell assignment is computed once and materialized
    bucketed-by-cell, so query-time work is a broadcast of (query, probed
    cell) pairs against co-located cell partitions — the cross product is
    confined to probed cells, never the full corpus. The centroid table is
    tiny and broadcast everywhere."""
    return _ivf_probe_topk(spark, sf_dir)


def _ivf_probe_topk(
    spark: SparkSession, sf_dir: str, with_bucket: bool = False
) -> DataFrame:
    """ann_ivf_probe's plan, shared with the adaptive-LSH over-ceiling
    route (with_bucket=True adds the probed cell id as a `bucket`
    string column so the routed result keeps the LSH output schema)."""
    vecs = _vecs(spark, sf_dir)
    ranked = _centroid_ranked(vecs)
    assigned = ranked.filter(F.col("rk") == 1).select(
        "vec_id", "v", "nrm", "cent_id"
    )
    probes = (
        ranked.filter(F.expr(_QUERY_FILTER) & (F.col("rk") <= _N_PROBE))
        .select(F.col("vec_id").alias("query_id"), "cent_id")
    )
    # broadcast side is the QUERY PANEL only (same ADVICE-r9 class as
    # ann_pq_adc's rerank): probes' query_id already satisfies
    # _QUERY_FILTER, so filter before the broadcast rather than shipping
    # all N vectors to every executor
    pairs = (
        probes.join(F.broadcast(_queries(vecs)), "query_id")
        .join(_corpus(assigned, "cent_id"), "cent_id")
        .filter(F.col("neighbor_id") != F.col("query_id"))
    )
    bucket = [F.col("cent_id").cast("string").alias("bucket")]
    return _cosine_topk(pairs, *(bucket if with_bucket else []))


def _centroid_ranked(vecs: DataFrame) -> DataFrame:
    """``vecs`` crossed with the broadcast seed centroids (``cent_id,
    cv, cn``): ``cc`` is the cosine to the centroid and ``rk`` the
    centroid's rank for the vector (cc desc, cent_id) — rk = 1 is the
    vector's cell, rk <= nprobe a query's probed cells."""
    cents = F.broadcast(
        vecs.filter(F.expr(_CENTROID_FILTER_SQL)).select(
            F.col("vec_id").alias("cent_id"),
            F.col("v").alias("cv"),
            F.col("nrm").alias("cn"),
        )
    )
    rk_w = Window.partitionBy("vec_id").orderBy(
        F.col("cc").desc(), F.col("cent_id")
    )
    return (
        vecs.crossJoin(cents)
        .withColumn(
            "cc",
            F.expr(
                "aggregate(zip_with(v, cv, (x, y) -> x * y),"
                " CAST(0.0 AS DOUBLE), (acc, x) -> acc + x) / (nrm * cn)"
            ),
        )
        .withColumn("rk", F.row_number().over(rk_w))
    )


# multi-probe: flip expression shared by Spark and DuckDB shapes —
# probe 0 is the query's own bucket; probe i (1-based) flips bit i
def _flip_sql(bucket: str, i: str) -> str:
    return (
        f"CASE WHEN {i} = 0 THEN {bucket} ELSE"
        f" substr({bucket}, 1, {i} - 1) ||"
        f" (CASE WHEN substr({bucket}, {i}, 1) = '1'"
        f"   THEN '0' ELSE '1' END) ||"
        f" substr({bucket}, {i} + 1) END"
    )


# multi-probe serving after the keyed CTE: each query's own bucket and
# every bucket one flip away, scored and cut to top-k (shared by the
# session-built and the index-served multiprobe oracles)
_MULTIPROBE_TOPK_SQL = f"""probes AS (
      SELECT k.vec_id AS query_id, k.v AS qv, k.nrm AS qn,
             {_flip_sql('k.bucket', 't.i')} AS pbucket
      FROM (SELECT * FROM keyed WHERE {_QUERY_FILTER}) k
      CROSS JOIN (SELECT unnest(range(0, {_MAXBITS + 1})) AS i) t
      WHERE t.i <= length(k.bucket)
    ),
    scored AS (
      SELECT p.query_id, c.vec_id AS neighbor_id,
             list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list_transform(range(1, len(p.qv) + 1),
                 i -> p.qv[i] * c.v[i])),
               (acc, x) -> acc + x) / (p.qn * c.nrm) AS cos
      FROM probes p
      JOIN keyed c ON c.bucket = p.pbucket AND c.vec_id <> p.query_id
    )
    SELECT query_id, neighbor_id, ROUND(cos, 6) AS cosine,
           CAST(rk AS INT) AS rank
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cos DESC, neighbor_id) AS rk
      FROM scored
    ) WHERE rk <= {_TOPK}
    """


@query(
    "ann_lsh_multiprobe",
    oracle=f"""
    WITH {_VECS_SQL},
    sig AS (SELECT *, {_SIGNS_SQL} AS signs FROM vecs),
    b AS (SELECT {_NBITS_SQL} AS nb FROM sig),
    keyed AS (SELECT s.vec_id, s.v, s.nrm,
                     substr(s.signs, 1, b.nb) AS bucket
              FROM sig s, b),
    {_MULTIPROBE_TOPK_SQL}""",
)
def ann_lsh_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe sign-LSH top-k (Lv et al., VLDB 2007): each query
    probes its own adaptive-width bucket PLUS every bucket at Hamming
    distance 1 (one sign bit flipped) — the recall path ann_lsh_adaptive
    lacks. A near-neighbor that lands across a single hyperplane boundary
    is recovered from the adjacent bucket instead of lost, so one hash
    table with nb+1 probes approaches the recall of many independent
    tables at a fraction of the index cost — the standard production
    trade for query-heavy retrieval.

    Scale shape: probing multiplies only the QUERY side (tiny by
    construction) by nb+1 ≤ {m}+1 rows; the corpus is still hashed once,
    bucketed once, and every score stays bucket-confined (the join is an
    equi-join on the probed bucket key, never a cross product against
    the corpus). Each corpus vector lives in exactly one bucket and the
    probe set per query is distinct strings, so no (query, neighbor)
    pair is scored twice and no dedup pass is needed. Recall/cost knob:
    probe radius (here 1) — radius 2 would add nb*(nb-1)/2 probes; the
    top-k window and tie order match ann_topk_bruteforce so recall is
    directly measurable against the exact baseline.
    """
    keyed = _adaptive_keyed(_signed_vecs(spark, sf_dir))
    probes = _queries(
        keyed,
        "bucket",
        F.explode(F.expr("sequence(0, length(bucket))")).alias("i"),
    ).select(
        "query_id",
        "qv",
        "qn",
        F.expr(_flip_sql("bucket", "i")).alias("pbucket"),
    )
    c = _corpus(keyed, F.col("bucket").alias("cbucket"))
    return _cosine_topk(
        probes.join(
            c,
            (probes.pbucket == c.cbucket)
            & (F.col("neighbor_id") != F.col("query_id")),
        )
    )


ann_lsh_multiprobe.__doc__ = ann_lsh_multiprobe.__doc__.format(m=_MAXBITS)


@query(
    "ann_hard_negatives",
    oracle=f"""
    WITH {_VECS_SQL},
    sig AS (SELECT *, {_SIGNS_SQL} AS signs FROM vecs),
    b AS (SELECT {_NBITS_SQL} AS nb FROM sig),
    keyed AS (SELECT s.vec_id, s.v, s.nrm, s.label,
                     substr(s.signs, 1, b.nb) AS bucket
              FROM sig s, b),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             q.label AS q_label, c.label AS n_label,
             {_COS_SQL} AS cos
      FROM (SELECT * FROM keyed WHERE {_QUERY_FILTER}) q
      JOIN keyed c ON c.bucket = q.bucket AND c.vec_id <> q.vec_id
                  AND c.label <> q.label
    )
    SELECT query_id, neighbor_id, q_label, n_label,
           ROUND(cos, 6) AS cosine, CAST(rk AS INT) AS rank
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cos DESC, neighbor_id) AS rk
      FROM scored
    ) WHERE rk <= {_TOPK}
    """,
)
def ann_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: for each query
    vector, the top-k most-similar corpus vectors with a DIFFERENT label
    — the negatives that sit closest to the decision boundary and teach
    an embedding model the most (the in-batch-negatives upgrade every
    retrieval training recipe ships). Highest-cosine-but-wrong-label is
    precisely what LSH bucketing surfaces: hard negatives are near the
    query by construction, so bucket-confined scoring loses only the
    easy (far) negatives nobody wants.

    Plan shape: identical to ann_lsh_adaptive — one corpus hash pass,
    equi-join on the occupancy-adaptive bucket, the label inequality
    rides the join as a residual filter (no extra shuffle), heap top-k
    per query. At training scale this runs once per epoch over the whole
    query set; per-bucket work stays constant because the bucket width
    tracks corpus size."""
    keyed = _adaptive_keyed(_signed_vecs(spark, sf_dir), "label")
    q = _queries(keyed, F.col("label").alias("q_label"), "bucket")
    c = _corpus(
        keyed,
        F.col("label").alias("n_label"),
        F.col("bucket").alias("cbucket"),
    )
    return _cosine_topk(
        q.join(
            c,
            (q.bucket == c.cbucket)
            & (F.col("neighbor_id") != F.col("query_id"))
            & (F.col("n_label") != F.col("q_label")),
        ),
        "q_label",
        "n_label",
    )


_RERANK_R = 3 * _TOPK  # coarse shortlist size per query

_QUANT_SQL = """
    qz AS (
      SELECT s.vec_id, s.v, s.nrm,
             substr(s.signs, 1, b.nb) AS bucket,
             list_transform(s.v, x -> CAST(round((x * 127.0) /
               greatest(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                 list_transform(s.v, y -> abs(y))),
                 (acc, y) -> greatest(acc, y)), 1e-30)) AS INT)) AS qvec
      FROM sig s, b)
"""


@query(
    "ann_rerank_quantized",
    oracle=f"""
    WITH {_VECS_SQL},
    sig AS (SELECT *, {_SIGNS_SQL} AS signs FROM vecs),
    b AS (SELECT {_NBITS_SQL} AS nb FROM sig),
    {_QUANT_SQL},
    probes AS (
      SELECT k.vec_id AS query_id, k.v AS qv, k.nrm AS qn, k.qvec AS qq,
             {_flip_sql('k.bucket', 't.i')} AS pbucket
      FROM (SELECT * FROM qz WHERE {_QUERY_FILTER}) k
      CROSS JOIN (SELECT unnest(range(0, {_MAXBITS + 1})) AS i) t
      WHERE t.i <= length(k.bucket)
    ),
    coarse AS (
      SELECT p.query_id, c.vec_id AS neighbor_id, p.qv, p.qn,
             c.v AS cv, c.nrm AS cn,
             list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(range(1, len(p.qq) + 1),
                 i -> CAST(p.qq[i] AS BIGINT) * CAST(c.qvec[i] AS BIGINT))),
               (acc, x) -> acc + x) AS qdot
      FROM probes p
      JOIN qz c ON c.bucket = p.pbucket AND c.vec_id <> p.query_id
    ),
    shortlist AS (
      SELECT * FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY qdot DESC, neighbor_id) AS crank
        FROM coarse
      ) WHERE crank <= {_RERANK_R}
    ),
    rer AS (
      SELECT query_id, neighbor_id, qdot,
             list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list_transform(range(1, len(qv) + 1), i -> qv[i] * cv[i])),
               (acc, x) -> acc + x) / (qn * cn) AS cos
      FROM shortlist
    )
    SELECT query_id, neighbor_id, CAST(qdot AS BIGINT) AS coarse_dot,
           ROUND(cos, 6) AS cosine, CAST(rk AS INT) AS rank
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cos DESC, neighbor_id) AS rk
      FROM rer
    ) WHERE rk <= {_TOPK}
    """,
)
def ann_rerank_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage retrieval (coarse quantized scan -> exact re-rank), the
    production ANN serving shape (IVF-PQ / ScaNN style, cf. Guo et al.,
    ICML 2020): stage 1 scores multiprobed LSH-bucket candidates with the
    symmetric-int8 dot product (quantize_embeddings' exact formula - pure
    BIGINT math, 4x smaller vectors, SIMD-friendly) and keeps a top-R
    shortlist (R = {r}); stage 2 rescores ONLY the shortlist with the
    exact double cosine and emits top-k.

    Scale shape: the expensive float math touches R rows per query
    instead of every bucket candidate; the corpus is hashed, quantized
    and bucketed ONCE with per-row codegen expressions; candidate scoring
    stays bucket-confined (equi-join on the probed bucket). At 100 TB the
    int8 corpus is the only thing the coarse stage streams, and the
    shortlist is metadata-sized. Both ranking stages are heap top-k
    windows keyed by query_id; the integer stage-1 scores make the
    shortlist bit-identical across engines (no float-order hazard), and
    stage 2 rounds the rescored cosine to 6dp exactly like the rest of
    the ANN family so recall is measurable against ann_topk_bruteforce.
    """
    vecs = (
        _signed_vecs(spark, sf_dir)
        .withColumn(
            "maxabs",
            F.greatest(
                F.expr(
                    "aggregate(transform(v, x -> abs(x)),"
                    " CAST(0.0 AS DOUBLE), (acc, x) -> greatest(acc, x))"
                ),
                F.lit(1e-30),
            ),
        )
        .withColumn(
            "qvec",
            F.expr("transform(v, x -> CAST(round((x * 127.0) / maxabs) AS INT))"),
        )
    )
    keyed = _adaptive_keyed(vecs, "qvec")
    probes = _queries(
        keyed,
        F.col("qvec").alias("qq"),
        "bucket",
        F.explode(F.expr("sequence(0, length(bucket))")).alias("i"),
    ).select(
        "query_id",
        "qv",
        "qn",
        "qq",
        F.expr(_flip_sql("bucket", "i")).alias("pbucket"),
    )
    c = _corpus(
        keyed, F.col("qvec").alias("cq"), F.col("bucket").alias("cbucket")
    )
    coarse = probes.join(
        c,
        (probes.pbucket == c.cbucket)
        & (F.col("neighbor_id") != F.col("query_id")),
    ).withColumn(
        "qdot",
        F.expr(
            "aggregate(zip_with(qq, cq,"
            " (x, y) -> CAST(x AS BIGINT) * CAST(y AS BIGINT)),"
            " 0L, (acc, x) -> acc + x)"
        ),
    )
    wc = Window.partitionBy("query_id").orderBy(
        F.col("qdot").desc(), F.col("neighbor_id")
    )
    shortlist = coarse.withColumn("crank", F.row_number().over(wc)).filter(
        F.col("crank") <= _RERANK_R
    )
    return _cosine_topk(shortlist, F.col("qdot").alias("coarse_dot"))


ann_rerank_quantized.__doc__ = ann_rerank_quantized.__doc__.format(
    r=_RERANK_R
)


# ------------------------------------------------- persisted bucket index

# occupancy-adaptive keyed corpus, shared by the persisted index and the
# retrieval evals (the ann_lsh_adaptive bucketing — fixed-bit keying goes
# occupancy-quadratic at scale, measured x10 in the scaleproof)
_ADAPTIVE_KEYED_SQL = f"""
    sig AS (SELECT *, {_SIGNS_SQL} AS signs FROM vecs),
    bb AS (SELECT {_NBITS_SQL} AS nb FROM sig),
    keyed AS (SELECT s.vec_id, s.v, s.nrm,
                     substr(s.signs, 1, bb.nb) AS bucket
              FROM sig s, bb)
"""


def _persisted_index_path(spark: SparkSession, sf_dir: str) -> str:
    """Build (once per source-content fingerprint) a scratch parquet ANN
    index: the corpus with norms, PARTITIONED BY the sign-LSH bucket, so
    query-time bucket predicates prune whole directories at the file
    listing — the parquet-native form of a vector index shard map.

    The partition value is prefixed ('b0101') because Spark's partition
    inference would otherwise parse '0101' as the integer 101 and corrupt
    the key. Built once per corpus listing (tables.build_once).
    """
    import os

    def build(out):
        vecs = _adaptive_keyed(_signed_vecs(spark, sf_dir)).withColumn(
            "pbucket", F.concat(F.lit("b"), F.col("bucket"))
        ).drop("bucket")
        # an empty corpus has no first() row to derive the bucket width
        # from — width 0 takes _write_bucketed's direct
        # (non-repartitioned) leg, matching the pre-compact-layout
        # behavior on empty input
        head = vecs.select("pbucket").first()
        width = len(head[0]) - 1 if head is not None else 0
        _write_bucketed(
            vecs, width, os.path.join(out, "index.parquet"), "overwrite"
        )

    return os.path.join(build_once("ann_index", sf_dir, build), "index.parquet")


_PROBE_INLIST_MAX = 256


def _write_bucketed(df, width: int, path: str, mode: str) -> None:
    """Bucket-partitioned index write, ONE file per bucket.

    The repartition on the partition column keeps the per-write file
    count at the touched-bucket count instead of tasks x buckets.
    Originally width-gated at 2^8 buckets because with the 1-2-partition
    fixture scan the direct write emitted few files and the shuffle cost
    +2 s; once _vecs spreads the scan to defaultParallelism (r12) the
    direct write emitted tasks x buckets files (measured 840 for 32
    buckets at sf0.1 — write 2.4 s, readback 0.49 s vs 1.25 s / 0.16 s
    with the repartition), so the repartition now wins at EVERY width.
    Scale-safe without the gate: index width grows with corpus size by
    construction (nb = ceil(log2(n/64))), so a small width implies a
    small corpus where bucket-count write parallelism is plenty; at
    x100 this is exactly the r11 57k->2k-file compact layout."""
    df.repartition("pbucket").write.partitionBy("pbucket").mode(
        mode
    ).parquet(path)


def _pruned_index_scan(spark, index_path: str, probe_pbuckets: DataFrame):
    """Prune a pbucket-partitioned index scan to the probed buckets
    (VERDICT r10 task 4 — shared by every IN-list serving path).

    `probe_pbuckets` is a one-column DataFrame of prefixed partition
    values ("b" + bucket). The physical strategy is picked by the
    DISTINCT probe-bucket count — ONE bounded aggregate returning a
    scalar, never an unconditional driver materialization of the
    bucket list:

    - count <= _PROBE_INLIST_MAX: collect the ids and inline an IN-list
      literal — STATIC partition pruning at file-listing time, the
      cheapest plan for a bounded serving panel (and the one every
      fixture-scale run takes, so existing plans are unchanged);
    - above the bound (corpus-as-queries at real width): broadcast
      semi-join the distinct bucket frame on the partition column —
      dynamic partition pruning turns it into runtime partition filters
      (the ann_index_probe_join shape), no literal, no driver list.

    Both shapes read only the probed partitions; they differ solely in
    WHERE the pruning predicate is resolved (driver literal vs runtime
    broadcast). Gate pinned by tests/test_probe_join_plan.py."""
    index = spark.read.parquet(index_path)
    qb = probe_pbuckets.toDF("pbucket").distinct()
    if qb.count() <= _PROBE_INLIST_MAX:
        buckets = sorted(r["pbucket"] for r in qb.collect())
        return index.filter(F.col("pbucket").isin(buckets))
    return index.join(F.broadcast(qb), "pbucket", "left_semi")


# bucket-confined scoring and the top-k cut after a keyed CTE (shared by
# the persisted, appended and deleted index oracles)
_BUCKET_TOPK_SQL = f"""scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             q.bucket AS bucket, {_COS_SQL} AS cos
      FROM (SELECT * FROM keyed WHERE {_QUERY_FILTER}) q
      JOIN keyed c ON c.bucket = q.bucket AND c.vec_id <> q.vec_id
    )
    SELECT query_id, neighbor_id, bucket, ROUND(cos, 6) AS cosine,
           CAST(rk AS INT) AS rank
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cos DESC, neighbor_id) AS rk
      FROM scored
    ) WHERE rk <= {_TOPK}
    """


@query(
    "ann_index_persist",
    oracle=f"""
    WITH {_VECS_SQL},
    {_ADAPTIVE_KEYED_SQL},
    {_BUCKET_TOPK_SQL}""",
)
def ann_index_persist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN with a PERSISTED index: build once (corpus + norms written as
    parquet partitioned by LSH bucket), then serve queries by reading
    ONLY the partitions the query buckets name — `PartitionFilters` on
    the index scan, so an index over 100 TB of vectors reads just the
    probed shards, not the corpus. This is the offline-index/online-query
    split every production retrieval system ships; results are identical
    to ann_lsh_adaptive (same occupancy-adaptive bucketing, same
    scoring), which the shared oracle pins. The index partitions by the
    ADAPTIVE width — the x10 scaleproof showed the fixed-4-bit first
    draft going occupancy-quadratic (38x wall at 10x vectors); with
    width tied to n, partition count grows with the corpus and
    per-partition occupancy stays ~64.

    The probed partitions reach the scan through the gated
    _pruned_index_scan device (VERDICT r10 task 4): a bounded probe
    panel inlines an IN-list literal (STATIC partition pruning at the
    file listing); a probe set past the gate broadcast-semi-joins the
    distinct bucket frame instead (dynamic partition pruning) — so
    corpus-as-queries serving never materializes a bucket list on the
    driver. The within-bucket scoring join then proceeds exactly as the
    non-persisted op. Index maintenance at scale is
    append-new-partitions + sink_compacted_write on hot buckets; a
    corpus grown past the next power of two rebuilds with one more bit
    (the content fingerprint in the index path already forces that)."""
    idx_path = _persisted_index_path(spark, sf_dir)
    queries = _queries(_adaptive_keyed(_signed_vecs(spark, sf_dir)), "bucket")
    index = _corpus(
        _pruned_index_scan(
            spark, idx_path,
            queries.select(F.concat(F.lit("b"), F.col("bucket"))),
        ),
        F.expr("substring(pbucket, 2)").alias("cbucket"),
    )
    return _cosine_topk(
        queries.join(
            index,
            (F.col("bucket") == F.col("cbucket"))
            & (F.col("neighbor_id") != F.col("query_id")),
        ),
        "bucket",
    )


@query(
    "ann_recall_eval",
    oracle=f"""
    WITH {_VECS_SQL},
    ex AS (
      SELECT query_id, neighbor_id, rk FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY q.vec_id
                 ORDER BY {_COS_SQL} DESC, c.vec_id) AS rk
        FROM (SELECT * FROM vecs WHERE {_QUERY_FILTER}) q
        JOIN vecs c ON c.vec_id <> q.vec_id
      ) WHERE rk <= {_TOPK}
    ),
    {_ADAPTIVE_KEYED_SQL},
    ap AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY q.vec_id
                 ORDER BY {_COS_SQL} DESC, c.vec_id) AS rk
        FROM (SELECT * FROM keyed WHERE {_QUERY_FILTER}) q
        JOIN keyed c ON c.bucket = q.bucket AND c.vec_id <> q.vec_id
      ) WHERE rk <= {_TOPK}
    ),
    qs AS (SELECT vec_id AS query_id FROM vecs WHERE {_QUERY_FILTER}),
    h AS (
      SELECT ex.query_id, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(MIN(ex.rk) AS INT) AS best
      FROM ex JOIN ap ON ap.query_id = ex.query_id
                     AND ap.neighbor_id = ex.neighbor_id
      GROUP BY 1
    )
    SELECT qs.query_id,
           CAST(COALESCE(h.n, 0) AS BIGINT) AS n_hits,
           h.best AS best_rank,
           CAST(COALESCE(h.n, 0) * {1_000_000 // _TOPK} AS BIGINT)
             AS recall_micro
    FROM qs LEFT JOIN h ON h.query_id = qs.query_id
    """,
)
def ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-quality evaluation as a first-class operator: per-query
    recall@k of the bucketed LSH path against the exact brute-force
    ground truth — the number a team actually watches when they trade
    index cheapness for recall (tests/test_ann_recall.py pins fixture
    floors; this op ships the per-query grid itself).

    Pure composition: both sides ARE the registered ops
    (ann_lsh_adaptive — the production bucketing; the fixed-bit
    yardstick would drag the eval quadratic with corpus growth — and
    ann_topk_bruteforce), joined on (query_id, neighbor_id); every
    query appears via a left join from the query set, so empty-bucket
    queries report recall 0 rather than vanishing. recall_micro =
    hits * (1e6/k) and best_rank = the best exact rank the approx path
    recovered — all integer (1e6/5 divides exactly), NULL best_rank for
    total misses. At scale the expensive side is the ground truth; the
    standard practice this op supports is evaluating on a sampled query
    panel (the vec_id % 100 filter IS that panel)."""
    ex = ann_topk_bruteforce(spark, sf_dir).select(
        "query_id", "neighbor_id", F.col("rank").alias("rk")
    )
    ap = ann_lsh_adaptive(spark, sf_dir).select("query_id", "neighbor_id")
    qs = (
        _vecs(spark, sf_dir)
        .filter(F.expr(_QUERY_FILTER))
        .select(F.col("vec_id").alias("query_id"))
    )
    h = (
        ex.join(ap, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.min("rk").cast("int").alias("best"),
        )
    )
    return qs.join(h, "query_id", "left").select(
        "query_id",
        F.coalesce(F.col("n"), F.lit(0)).cast("bigint").alias("n_hits"),
        F.col("best").alias("best_rank"),
        (F.coalesce(F.col("n"), F.lit(0)) * (1_000_000 // _TOPK))
        .cast("bigint")
        .alias("recall_micro"),
    )


def _label_rels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``query_id, rk, rel`` of ann_lsh_adaptive's ranking, rel = 1
    where the neighbor's label matches the query's (labels attach by
    two broadcast joins)."""
    ap = ann_lsh_adaptive(spark, sf_dir).select(
        "query_id", "neighbor_id", F.col("rank").alias("rk")
    )
    labels = load(spark, sf_dir, "embeddings").select("vec_id", "label")
    ql = labels.select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("q_label")
    )
    cl = labels.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("c_label"),
    )
    return (
        ap.join(F.broadcast(ql), "query_id")
        .join(F.broadcast(cl), "neighbor_id")
        .select(
            "query_id",
            "rk",
            F.when(F.col("q_label") == F.col("c_label"), 1)
            .otherwise(0)
            .cast("bigint")
            .alias("rel"),
        )
    )


# discount weights round(1e6 / log2(rank+1)) for ranks 1..k, precomputed
# once in Python and inlined as LITERALS in both engines — the log never
# runs engine-side, so DCG sums are exact integers (the "no exp/log
# links" determinism rule)
_NDCG_W = [1000000, 630930, 500000, 430677, 386853]
assert len(_NDCG_W) == _TOPK


@query(
    "eval_ndcg_at_k",
    oracle=f"""
    WITH {_VECS_SQL},
    {_ADAPTIVE_KEYED_SQL},
    ap AS (
      SELECT query_id, neighbor_id, rk FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY q.vec_id
                 ORDER BY {_COS_SQL} DESC, c.vec_id) AS rk
        FROM (SELECT * FROM keyed WHERE {_QUERY_FILTER}) q
        JOIN keyed c ON c.bucket = q.bucket AND c.vec_id <> q.vec_id
      ) WHERE rk <= {_TOPK}
    ),
    rels AS (
      SELECT ap.query_id, ap.rk,
             CASE WHEN cn.label = qn.label THEN 1 ELSE 0 END AS rel
      FROM ap
      JOIN embeddings qn ON qn.vec_id = ap.query_id
      JOIN embeddings cn ON cn.vec_id = ap.neighbor_id
    ),
    agg AS (
      SELECT query_id,
             list_sort(list(rel), 'DESC') AS ideal,
             list(rel ORDER BY rk) AS got
      FROM rels GROUP BY 1
    ),
    w AS (SELECT {list(_NDCG_W)}::BIGINT[] AS wts)
    SELECT query_id,
           CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
             list_transform(range(1, len(got) + 1),
               i -> got[CAST(i AS INT)] * wts[CAST(i AS INT)])),
             (a, x) -> a + x) AS BIGINT) AS dcg_micro,
           CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
             list_transform(range(1, len(ideal) + 1),
               i -> ideal[CAST(i AS INT)] * wts[CAST(i AS INT)])),
             (a, x) -> a + x) AS BIGINT) AS idcg_micro,
           CAST(CASE WHEN list_reduce(list_prepend(CAST(0 AS BIGINT),
             list_transform(range(1, len(ideal) + 1),
               i -> ideal[CAST(i AS INT)] * wts[CAST(i AS INT)])),
             (a, x) -> a + x) = 0 THEN NULL
           ELSE (list_reduce(list_prepend(CAST(0 AS BIGINT),
             list_transform(range(1, len(got) + 1),
               i -> got[CAST(i AS INT)] * wts[CAST(i AS INT)])),
             (a, x) -> a + x) * 1000000)
             // list_reduce(list_prepend(CAST(0 AS BIGINT),
             list_transform(range(1, len(ideal) + 1),
               i -> ideal[CAST(i AS INT)] * wts[CAST(i AS INT)])),
             (a, x) -> a + x)
           END AS BIGINT) AS ndcg_micro
    FROM agg, w
    """,
)
def eval_ndcg_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@k of the bucketed LSH retrieval with label-match relevance —
    the ranking-quality eval (Järvelin & Kekäläinen 2002) that
    complements ann_recall_eval's set-quality number: recall says WHAT
    was retrieved, NDCG says whether the relevant items sit at the TOP.
    Relevance is label agreement between query and neighbor (the fixture
    ground truth the hard-negatives op already uses).

    Determinism discipline: the log2 discounts are precomputed in Python
    and inlined as integer-micro LITERALS in both engines, so DCG/IDCG
    are exact BIGINT folds — nDCG is their integer micro-ratio, NULL
    when the retrieved set holds no relevant item. IDCG here normalizes
    over the RETRIEVED list re-sorted ideally (the per-list variant; a
    corpus-ideal IDCG would need each query's full relevant count — one
    extra tiny aggregate, same plan shape). Composition: the ranking IS
    ann_lsh_adaptive's output (production bucketing — see
    ann_recall_eval); labels attach via two broadcast-sized joins;
    per-query lists assemble in one user-keyed aggregation."""
    rels = _label_rels(spark, sf_dir)
    wts = F.array(*[F.lit(w).cast("bigint") for w in _NDCG_W])
    agg = rels.groupBy("query_id").agg(
        F.expr("transform(array_sort(collect_list(struct(rk, rel))),"
               " s -> s.rel)").alias("got"),
        F.sort_array(F.collect_list("rel"), asc=False).alias("ideal"),
    )
    dot = (
        "aggregate(zip_with({lst}, slice({w}, 1, size({lst})),"
        " (r, w) -> r * w), CAST(0 AS BIGINT), (a, x) -> a + x)"
    )
    with_w = agg.withColumn("wts", wts)
    dcg = F.expr(dot.format(lst="got", w="wts"))
    idcg = F.expr(dot.format(lst="ideal", w="wts"))
    return with_w.select(
        "query_id",
        dcg.alias("dcg_micro"),
        idcg.alias("idcg_micro"),
        F.when(idcg == 0, F.lit(None).cast("bigint"))
        .otherwise(F.expr(
            "(" + dot.format(lst="got", w="wts") + " * 1000000) DIV "
            + dot.format(lst="ideal", w="wts")
        ))
        .alias("ndcg_micro"),
    )


# LCM(1..TOPK) — makes every precision@i an exact integer when scaled
_AP_LCM = 60
assert all(_AP_LCM % i == 0 for i in range(1, _TOPK + 1))

# shared fold devices (DuckDB): sum of a BIGINT list, and the cumulative
# hit count up to position i of the rel list
_D_SUM = (
    "list_reduce(list_prepend(CAST(0 AS BIGINT), {lst}), (a, x) -> a + x)"
)
_D_SUMPREC = (
    "list_reduce(list_prepend(CAST(0 AS BIGINT),"
    " list_transform(range(1, len(got) + 1),"
    " i -> got[CAST(i AS INT)]"
    f" * {_D_SUM.format(lst='list_slice(got, 1, CAST(i AS INT))')}"
    f" * CAST({_AP_LCM} // i AS BIGINT))),"
    " (a, x) -> a + x)"
)


@query(
    "eval_mrr_map",
    oracle=f"""
    WITH {_VECS_SQL},
    {_ADAPTIVE_KEYED_SQL},
    ap AS (
      SELECT query_id, neighbor_id, rk FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY q.vec_id
                 ORDER BY {_COS_SQL} DESC, c.vec_id) AS rk
        FROM (SELECT * FROM keyed WHERE {_QUERY_FILTER}) q
        JOIN keyed c ON c.bucket = q.bucket AND c.vec_id <> q.vec_id
      ) WHERE rk <= {_TOPK}
    ),
    rels AS (
      SELECT ap.query_id, ap.rk,
             CAST(CASE WHEN cn.label = qn.label THEN 1 ELSE 0 END
                  AS BIGINT) AS rel
      FROM ap
      JOIN embeddings qn ON qn.vec_id = ap.query_id
      JOIN embeddings cn ON cn.vec_id = ap.neighbor_id
    ),
    agg AS (
      SELECT query_id, list(rel ORDER BY rk) AS got
      FROM rels GROUP BY 1
    )
    SELECT query_id,
           CAST(len(got) AS BIGINT) AS n_retrieved,
           CAST({_D_SUM.format(lst='got')} AS BIGINT) AS n_rel,
           CAST(CASE WHEN {_D_SUM.format(lst='got')} = 0 THEN 0
                ELSE 1000000 // list_position(got, 1)
           END AS BIGINT) AS mrr_micro,
           CAST(CASE WHEN {_D_SUM.format(lst='got')} = 0 THEN NULL
                ELSE ({_D_SUMPREC} * 1000000)
                     // ({_AP_LCM} * {_D_SUM.format(lst='got')})
           END AS BIGINT) AS ap_micro
    FROM agg
    """,
)
def eval_mrr_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MRR and MAP@k of the bucketed LSH retrieval with label-match
    relevance — the third ranking-eval next to ann_recall_eval (set
    quality) and eval_ndcg_at_k (graded position quality): MRR watches
    the FIRST relevant hit, MAP the full precision envelope. Together
    they are the grid a retrieval team ships with every index build.

    Determinism discipline (the NDCG convention, taken further): all
    three scores are exact integer micro-units end-to-end. 1e6/rank uses
    truncating integer division (probed identical: Spark DIV / DuckDB
    //); precision@i is scaled by LCM(1..k)={_AP_LCM} so hits_i*(60/i)
    is an exact integer, and AP's final division is one truncating DIV.
    No float enters any score. array_position/list_position agree on
    0-for-miss (probed), and the rel=0 guard fires before either
    division. Composition: the ranking IS ann_lsh_adaptive's output;
    labels attach via two broadcast joins; the per-query fold runs over
    a k-element array (metadata per query).

    Reference parity: the reference ships no retrieval evals (its
    analytics payload is frequencyAnalysis.py); this extends the
    training-data-pipeline surface SURVEY.md §2 commits to."""
    rels = _label_rels(spark, sf_dir)
    agg = rels.groupBy("query_id").agg(
        F.expr(
            "transform(array_sort(collect_list(struct(rk, rel))),"
            " s -> s.rel)"
        ).alias("got")
    )
    s_sum = "aggregate({lst}, CAST(0 AS BIGINT), (a, x) -> a + x)"
    n_rel = s_sum.format(lst="got")
    sumprec = (
        "aggregate(transform(sequence(1, size(got)),"
        " i -> element_at(got, i)"
        f" * {s_sum.format(lst='slice(got, 1, i)')}"
        f" * CAST({_AP_LCM} div i AS BIGINT)),"
        " CAST(0 AS BIGINT), (a, x) -> a + x)"
    )
    return agg.select(
        "query_id",
        F.expr("CAST(size(got) AS BIGINT)").alias("n_retrieved"),
        F.expr(f"CAST({n_rel} AS BIGINT)").alias("n_rel"),
        F.expr(
            f"CAST(CASE WHEN {n_rel} = 0 THEN 0"
            " ELSE 1000000 div array_position(got, 1)"
            " END AS BIGINT)"
        ).alias("mrr_micro"),
        F.expr(
            f"CAST(CASE WHEN {n_rel} = 0 THEN NULL"
            f" ELSE ({sumprec} * 1000000)"
            f" div ({_AP_LCM} * {n_rel})"
            " END AS BIGINT)"
        ).alias("ap_micro"),
    )


_RRF_K = 60  # the standard Cormack et al. (2009) rank-fusion constant


_RRF_ORACLE = f"""
WITH {_VECS_SQL},
qz AS (
  SELECT vec_id, v, nrm,
         list_transform(v, x -> CAST(round((x * 127.0) /
           greatest(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
             list_transform(v, y -> abs(y))),
             (acc, y) -> greatest(acc, y)), 1e-30)) AS INT)) AS qvec
  FROM vecs
),
pairs AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           list_transform(range(1, len(q.v) + 1), i -> q.v[i] * c.v[i])),
           (acc, x) -> acc + x) / (q.nrm * c.nrm) AS cos,
         list_reduce(list_prepend(CAST(0 AS BIGINT),
           list_transform(range(1, len(q.qvec) + 1),
             i -> CAST(q.qvec[i] AS BIGINT) * CAST(c.qvec[i] AS BIGINT))),
           (acc, x) -> acc + x) AS qdot
  FROM (SELECT * FROM qz WHERE {_QUERY_FILTER}) q
  JOIN qz c ON c.vec_id <> q.vec_id
),
rk AS (
  SELECT query_id, neighbor_id,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, neighbor_id) AS rank_cos,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY qdot DESC, neighbor_id) AS rank_q
  FROM pairs
),
fused AS (
  SELECT query_id, neighbor_id,
         CAST(rank_cos AS INT) AS rank_cos, CAST(rank_q AS INT) AS rank_q,
         CAST(1000000 // ({_RRF_K} + rank_cos)
              + 1000000 // ({_RRF_K} + rank_q) AS BIGINT) AS rrf_micro
  FROM rk
)
SELECT query_id, neighbor_id, rank_cos, rank_q, rrf_micro,
       CAST(fr AS INT) AS fused_rank
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY rrf_micro DESC, neighbor_id) AS fr
  FROM fused
) WHERE fr <= {_TOPK}
"""


@query("eval_rank_fusion_rrf", oracle=_RRF_ORACLE)
def eval_rank_fusion_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion (Cormack, Clarke & Buettcher, SIGIR 2009)
    of two retrieval rankings — the standard score-free way to merge
    heterogeneous retrievers (here: the exact-cosine ranking and the
    int8-quantized dot ranking, i.e. full-precision vs compressed-index
    views of the same corpus): each list contributes 1/(k + rank) with
    k = {k}, and candidates are re-ranked by the sum. Rank-based, so no
    score calibration between the retrievers is needed — exactly why RRF
    is the default fuser in hybrid (BM25 + dense) search stacks.

    Exactness: both input ranks use deterministic tiebreaks, the
    quantized ranking is pure BIGINT, and the RRF contributions are
    integer micro-units via truncating DIV — the fused ordering is
    bit-identical across engines; no float leaves the cosine stage.

    Scale shape: one broadcast of the query panel against the corpus
    scores both signals in the SAME pass (one pair row carries cos and
    qdot), so fusion costs nothing beyond the brute-force baseline it
    rides (ann_topk_bruteforce); the three ranking windows all key on
    query_id — one exchange, panel-bounded partitions. The production
    path swaps the brute-force pair source for the bucket-confined one
    (ann_lsh_multiprobe) with the fusion layer unchanged.

    Reference analog: frequencyAnalysis.py's top-variant ranking layer
    (frequencyAnalysis.py:31-35) lifted to multi-signal rank fusion.
    """
    vecs = _vecs(spark, sf_dir).withColumn(
        "qvec",
        F.expr(
            "transform(v, x -> CAST(round((x * 127.0) /"
            " greatest(aggregate(transform(v, y -> abs(y)),"
            " CAST(0.0 AS DOUBLE), (acc, y) -> greatest(acc, y)),"
            " 1e-30)) AS INT))"
        ),
    )
    pairs = (
        F.broadcast(_queries(vecs, F.col("qvec").alias("qq")))
        .crossJoin(_corpus(vecs, F.col("qvec").alias("cq")))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.expr(_COS_SPARK).alias("cos"),
            F.expr(
                "aggregate(zip_with(qq, cq,"
                " (x, y) -> CAST(x AS BIGINT) * CAST(y AS BIGINT)),"
                " CAST(0 AS BIGINT), (acc, x) -> acc + x)"
            ).alias("qdot"),
        )
    )
    w_cos = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id")
    )
    w_q = Window.partitionBy("query_id").orderBy(
        F.col("qdot").desc(), F.col("neighbor_id")
    )
    rk = pairs.select(
        "query_id",
        "neighbor_id",
        F.row_number().over(w_cos).alias("rank_cos"),
        F.row_number().over(w_q).alias("rank_q"),
    )
    fused = rk.select(
        "query_id",
        "neighbor_id",
        "rank_cos",
        "rank_q",
        F.expr(
            f"CAST(1000000 DIV ({_RRF_K} + rank_cos)"
            f" + 1000000 DIV ({_RRF_K} + rank_q) AS BIGINT)"
        ).alias("rrf_micro"),
    )
    w_f = Window.partitionBy("query_id").orderBy(
        F.col("rrf_micro").desc(), F.col("neighbor_id")
    )
    return (
        fused.withColumn("fused_rank", F.row_number().over(w_f))
        .filter(F.col("fused_rank") <= _TOPK)
        .select(
            "query_id",
            "neighbor_id",
            "rank_cos",
            "rank_q",
            "rrf_micro",
            "fused_rank",
        )
    )


eval_rank_fusion_rrf.__doc__ = eval_rank_fusion_rrf.__doc__.format(k=_RRF_K)


# ------------------------------------------- persisted-index APPEND maintain

_INC_COMMIT_FILTER = "vec_id % 10 <> 1"  # committed 90%; batch = the rest

# the oracle corpus signs and the bucket width of the COMMITTED count
# (the index's recorded width), up to the keyed CTE
_COMMITTED_NB_SQL = f"""
    WITH {_VECS_SQL},
    sig AS (SELECT *, {_SIGNS_SQL} AS signs FROM vecs),
    b AS (SELECT GREATEST(4, LEAST({_MAXBITS},
            CAST(ceil(log2(GREATEST(COUNT(*), 1) / 64.0)) AS INT))) AS nb
          FROM sig WHERE {_INC_COMMIT_FILTER}),"""


def _inc_index_path(
    spark: SparkSession, sf_dir: str, suffix: str = ""
) -> str:
    """Committed-only ANN index for the append-maintenance op: same
    layout and build discipline as _persisted_index_path, but the bucket
    WIDTH is fixed at build time from the COMMITTED corpus count and
    recorded in a `_width` sidecar — appended batches must bucket with
    the index's width, not their own (an index's shard map cannot
    re-hash itself per ingest; it rebuilds when the corpus outgrows the
    occupancy target, which the content fingerprint in the path forces
    here). `suffix` names an independent instance of the same build
    (the streaming twin's never-appended seed)."""
    return build_once(
        "ann_inc_index" + suffix, sf_dir,
        lambda out: _build_committed_index(spark, sf_dir, out),
    )


def _clone_committed_index(
    spark: SparkSession, sf_dir: str, dest: str
) -> None:
    """Per-run PRIVATE copy of the committed-only index (VERDICT r12
    task 1): the streaming maintenance twin must append into a dir no
    other run shares, but the committed build itself is a pure function
    of the corpus fingerprint — so build it ONCE per fingerprint in a
    dedicated never-appended seed (build_once, `_seed` suffix so
    _append_bootstrap's batch append can never interleave with it) and
    hardlink its immutable part files into `dest`. Parquet files are
    write-once, and appends only ADD files to the partition dirs, so
    linked inodes are never modified; `_SUCCESS`/dot files are skipped
    (Spark's commit would truncate a shared `_SUCCESS` inode in place).
    In production terms the clone is a zero-copy snapshot of the
    maintained committed index — exactly what a table format's
    snapshot/branch gives an ingest test run."""
    import os
    import shutil

    seed = _inc_index_path(spark, sf_dir, suffix="_seed")
    os.makedirs(dest, exist_ok=True)
    shutil.copytree(
        os.path.join(seed, "index.parquet"),
        os.path.join(dest, "index.parquet"),
        copy_function=os.link,
        ignore=shutil.ignore_patterns("_*", ".*"),
    )
    shutil.copy(os.path.join(seed, "_width"), os.path.join(dest, "_width"))


def _build_committed_index(
    spark: SparkSession, sf_dir: str, out: str
) -> None:
    """Write the committed-only bucketed index + `_width` sidecar into
    `out` (shared by _inc_index_path's build_once scratch build and the
    streaming maintenance twin's per-run private dir)."""
    import os
    import shutil

    os.makedirs(out, exist_ok=True)
    committed = _vecs(spark, sf_dir).filter(
        F.expr(_INC_COMMIT_FILTER)
    ).withColumn("signs", F.expr(_SIGNS_SPARK))
    nb = committed.agg(F.expr(_NBITS_SQL).alias("nb"))
    keyed = committed.crossJoin(F.broadcast(nb)).select(
        "vec_id",
        "v",
        "nrm",
        F.concat(
            F.lit("b"), F.expr("substring(signs, 1, nb)")
        ).alias("pbucket"),
        F.col("nb"),
    )
    data_dir = os.path.join(out, "index.parquet")
    shutil.rmtree(data_dir, ignore_errors=True)
    # width from the 1-row count aggregate, not from `keyed` — fetching
    # it through the crossJoin ran the whole signs pipeline as an extra
    # job (A/B 0.39 s vs 0.18 s warm at sf0.1)
    width = nb.first()[0]
    _write_bucketed(keyed.drop("nb"), int(width), data_dir, "overwrite")
    with open(os.path.join(out, "_width"), "w") as wf:
        wf.write(str(int(width)))


def _stream_ingest_halves(spark: SparkSession, sf_dir: str) -> str:
    """Staged ingest files for the streaming ANN twin, built once per
    corpus listing (tables.build_once, like _inc_index_path):
    the 10% ingest split as two single-file parquet halves. The split
    is a pure function of the corpus, so re-deriving it per run paid
    two Spark filter+coalesce write jobs for identical bytes. Callers
    copy the files into their private stream dir and re-pin mtimes
    (a REAL copy, not a hardlink: os.utime on a linked file would
    mutate the shared inode's mtime under a concurrent run)."""
    import os
    import shutil

    def build(out):
        batch = _vecs(spark, sf_dir).filter(~F.expr(_INC_COMMIT_FILTER))
        for i, flt in enumerate(("vec_id % 20 = 1", "vec_id % 20 = 11")):
            tmp = os.path.join(out, f"tmp{i}")
            batch.filter(F.expr(flt)).coalesce(1).write.mode(
                "overwrite"
            ).parquet(tmp)
            part = [f for f in os.listdir(tmp) if f.endswith(".parquet")][0]
            shutil.copy(
                os.path.join(tmp, part), os.path.join(out, f"half{i}.parquet")
            )
            shutil.rmtree(tmp, ignore_errors=True)

    return build_once("ann_inc_index_halves", sf_dir, build)


def ann_index_append(
    spark: SparkSession, index_dir: str, new_vecs: DataFrame
) -> None:
    """Index MAINTENANCE: bucket a new vector batch with the INDEX's
    recorded width (the `_width` sidecar — never the batch's own
    adaptive width) and append into the existing bucket partitions. One
    O(batch) write, no committed-partition rewrite — the concrete form
    of the 'append-new-partitions' maintenance ann_index_persist's
    docstring describes, mirroring dedup's append_band_index."""
    import os

    with open(os.path.join(index_dir, "_width")) as wf:
        width = int(wf.read().strip())
    keyed = new_vecs.withColumn("signs", F.expr(_SIGNS_SPARK)).select(
        "vec_id",
        "v",
        "nrm",
        F.concat(
            F.lit("b"), F.expr(f"substring(signs, 1, {width})")
        ).alias("pbucket"),
    )
    # committed files untouched; past the width gate the per-append
    # file count is the touched-bucket count, not touched-buckets x
    # tasks (see _write_bucketed)
    _write_bucketed(
        keyed, width, os.path.join(index_dir, "index.parquet"), "append"
    )


# shared by ann_index_append and ann_index_probe_join (same serving
# semantics; only the Spark-side pruning mechanism differs)
_APPEND_SERVE_ORACLE = f"""{_COMMITTED_NB_SQL}
    keyed AS (SELECT s.vec_id, s.v, s.nrm,
                     substr(s.signs, 1, b.nb) AS bucket
              FROM sig s, b),
    {_BUCKET_TOPK_SQL}"""


@query("ann_index_append", oracle=_APPEND_SERVE_ORACLE)
def ann_index_append_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN serving over an APPEND-MAINTAINED index (r9): the persisted
    index holds the committed 90% of the corpus at a width fixed from
    the committed count; a 10% ingest batch is appended via
    ann_index_append (bucketed with the INDEX's recorded width); queries
    then probe the maintained index and must see appended vectors as
    neighbors — which the oracle pins by scoring the full corpus under
    the committed-count bucketing. This closes the gap between
    ann_index_persist's prose ('maintenance = append new partitions')
    and code, exactly as append_band_index did for near-dup dedup.

    Scale: the append writes only the batch's bucket partitions; query
    reads stay partition-pruned (the gated _pruned_index_scan device,
    same as ann_index_persist). A corpus grown past the next
    power of two rebuilds at width+1 — the content fingerprint in the
    index path forces that here."""
    idx_dir, width = _append_bootstrap(spark, sf_dir)
    return _serve_appended_index(spark, sf_dir, idx_dir, width)


@query("ann_index_probe_join", oracle=_APPEND_SERVE_ORACLE)
def ann_index_probe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-as-queries index serving (VERDICT r9 task 5): identical
    results to ann_index_append, but the probed buckets reach the index
    through a BROADCAST JOIN on the partition column instead of a
    driver-collected literal IN-list. The IN-list device
    (_serve_appended_index) is right for a bounded serving panel; it is
    wrong when the query set is itself corpus-scale — the collect()
    would pull millions of bucket ids to the driver and the IN literal
    would explode the plan. Here nothing is collected: the distinct
    query buckets stay a DataFrame, and Spark's dynamic partition
    pruning turns the broadcast join into runtime partition filters on
    the bucketed index scan (the plan carries `dynamicpruning` on
    pbucket; pinned by tests/test_probe_join_plan.py), so untouched
    bucket partitions are still never read — same pruning, no driver
    round-trip, no literal."""
    import os

    idx_dir, width = _append_bootstrap(spark, sf_dir)
    queries = _queries(
        _signed_vecs(spark, sf_dir),
        F.concat(
            F.lit("b"), F.expr(f"substring(signs, 1, {width})")
        ).alias("pbucket"),
    )
    index = _corpus(
        spark.read.parquet(os.path.join(idx_dir, "index.parquet")), "pbucket"
    )
    # what broadcasts is the DISTINCT BUCKET SET — bounded by 2^width no
    # matter how many queries there are (corpus-as-queries stays a
    # broadcast); the semi-join on the partition column is what DPP
    # turns into runtime partition filters on the index scan
    qbuckets = queries.select("pbucket").distinct()
    pruned = index.join(F.broadcast(qbuckets), "pbucket", "left_semi")
    # the scoring join carries the vectors; no hint — Catalyst/AQE
    # broadcasts a panel-sized query frame and shuffle-hash-joins a
    # corpus-sized one on the same (already co-partitioned) bucket key
    return _cosine_topk(
        pruned.join(queries, "pbucket").filter(
            F.col("neighbor_id") != F.col("query_id")
        ),
        F.expr("substring(pbucket, 2)").alias("bucket"),
    )


def _serve_appended_index(
    spark: SparkSession, sf_dir: str, idx_dir: str, width: int,
    exclude_query_ids: DataFrame | None = None,
    exclude_index_ids: DataFrame | None = None,
) -> DataFrame:
    """Probe the maintained index at its recorded width: gated
    partition pruning over the query buckets (_pruned_index_scan —
    IN-list literal under the gate, broadcast semi-join + DPP above
    it), bucket-confined scoring, top-k window (the ann_index_persist
    serving device). The exclusion hooks (one vec_id column each) are
    the deletion lifecycle's: `exclude_index_ids` is the tombstone
    anti-join on the candidate side, `exclude_query_ids` the serving-
    panel membership filter — both BEFORE the top-k window (a
    post-rank filter would leave rank gaps and lose the live
    neighbors the deleted ones displaced)."""
    import os

    queries = _queries(
        _signed_vecs(spark, sf_dir),
        F.expr(f"substring(signs, 1, {width})").alias("bucket"),
    )
    index = _corpus(
        _pruned_index_scan(
            spark, os.path.join(idx_dir, "index.parquet"),
            queries.select(F.concat(F.lit("b"), F.col("bucket"))),
        ),
        F.expr("substring(pbucket, 2)").alias("cbucket"),
    )
    if exclude_query_ids is not None:
        queries = queries.join(
            F.broadcast(
                exclude_query_ids.withColumnRenamed("vec_id", "query_id")
            ),
            "query_id",
            "left_anti",
        )
    if exclude_index_ids is not None:
        index = index.join(
            F.broadcast(
                exclude_index_ids.withColumnRenamed("vec_id", "neighbor_id")
            ),
            "neighbor_id",
            "left_anti",
        )
    return _cosine_topk(
        queries.join(
            index,
            (F.col("bucket") == F.col("cbucket"))
            & (F.col("neighbor_id") != F.col("query_id")),
        ),
        "bucket",
    )


def _append_bootstrap(spark: SparkSession, sf_dir: str) -> tuple[str, int]:
    """Shared bootstrap for the append-maintained index consumers:
    build the committed index once, append the ingest batch once (both
    under tables.once_in's flock), and return (index_dir, recorded_width)."""
    import os

    idx_dir = _inc_index_path(spark, sf_dir)
    once_in(
        "ann_inc_index", idx_dir, "_appended",
        lambda d: ann_index_append(
            spark, d, _vecs(spark, sf_dir).filter(~F.expr(_INC_COMMIT_FILTER))
        ),
    )
    with open(os.path.join(idx_dir, "_width")) as wf:
        width = int(wf.read().strip())
    return idx_dir, width


@query(
    "ann_index_append_multiprobe",
    oracle=f"""{_COMMITTED_NB_SQL}
    keyed AS (SELECT s.vec_id, s.v, s.nrm,
                     substr(s.signs, 1, b.nb) AS bucket
              FROM sig s, b),
    {_MULTIPROBE_TOPK_SQL}""",
)
def ann_index_append_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe serving over the APPEND-MAINTAINED index (the r9
    round-10-queue item): each query probes its own bucket PLUS every
    bucket at Hamming distance 1 under the INDEX's recorded width —
    ann_lsh_multiprobe's recall device (Lv et al., VLDB 2007) applied to
    the persisted incremental index instead of a session-built one. A
    near neighbor that an appended batch placed across one hyperplane
    boundary is recovered from the adjacent partition; the oracle pins
    this by scoring the FULL corpus (committed + appended) under the
    committed-count bucketing with the same flip set.

    Scale: the probe fan-out multiplies only the query side (tiny by
    construction) by width+1 ≤ {_MAXBITS}+1; the corpus index is read
    partition-pruned through a static IN-list over the DISTINCT probed
    buckets (|queries|*(width+1) strings upper bound, metadata-sized —
    the same documented collect class as ann_index_persist). Each corpus
    vector lives in exactly one partition and a query's probe strings
    are distinct, so no pair is scored twice and no dedup pass runs.
    """
    import os

    idx_dir, width = _append_bootstrap(spark, sf_dir)
    probes = (
        _queries(
            _signed_vecs(spark, sf_dir),
            F.expr(f"substring(signs, 1, {width})").alias("bucket"),
        )
        .select(
            "query_id",
            "qv",
            "qn",
            F.explode(F.expr("sequence(0, length(bucket))")).alias("i"),
            "bucket",
        )
        .select(
            "query_id",
            "qv",
            "qn",
            F.expr(_flip_sql("bucket", "i")).alias("pbucket"),
        )
    )
    index = _corpus(
        _pruned_index_scan(
            spark, os.path.join(idx_dir, "index.parquet"),
            probes.select(F.concat(F.lit("b"), F.col("pbucket"))),
        ),
        F.expr("substring(pbucket, 2)").alias("cbucket"),
    )
    return _cosine_topk(
        probes.join(
            index,
            (F.col("pbucket") == F.col("cbucket"))
            & (F.col("neighbor_id") != F.col("query_id")),
        )
    )


# ------------------------------------------- index deletion lifecycle (r12)

# deterministic delete panel: hits BOTH committed ids (e.g. 4, 13, 22)
# and appended ids (31, 121, ... satisfy vec_id % 10 = 1 too), and
# overlaps the query panel (400, 2200, ... satisfy % 100 = 0), so
# serving must both drop deleted neighbors AND drop deleted queries
_DELETED_FILTER = "vec_id % 9 = 4"
# compact a bucket once tombstones reach this share of its rows —
# below it the serve-side anti-join overhead is cheaper than a rewrite
_COMPACT_MIN_SHARE = 0.2


def ann_index_delete(
    spark: SparkSession, index_dir: str, deleted: DataFrame
) -> None:
    """Index MAINTENANCE, delete leg: record `deleted` (vec_id, v) as
    TOMBSTONES — one O(delete-batch) append of (vec_id, pbucket) rows,
    no committed bucket partition is rewritten (the LSM delete device:
    FAISS IDMap remove_ids / Milvus delete logs play the same role).
    The bucket is derived from the vector at the INDEX's recorded
    width so compaction later knows which partitions each tombstone
    dirties without scanning the index; a deployment whose delete
    requests carry only ids keeps the same (id, bucket) pair in its
    id→segment map instead. Serving anti-joins the broadcast tombstone
    set; ann_index_compact bounds how large that set can grow."""
    import os

    with open(os.path.join(index_dir, "_width")) as wf:
        width = int(wf.read().strip())
    tombs = deleted.withColumn("signs", F.expr(_SIGNS_SPARK)).select(
        "vec_id",
        F.concat(
            F.lit("b"), F.expr(f"substring(signs, 1, {width})")
        ).alias("pbucket"),
    )
    tombs.coalesce(1).write.mode("append").parquet(
        os.path.join(index_dir, "tombstones.parquet")
    )


def ann_index_compact(
    spark: SparkSession, index_dir: str,
    min_share: float = _COMPACT_MIN_SHARE,
) -> None:
    """Index MAINTENANCE, compaction leg: physically remove tombstoned
    rows from buckets whose tombstone share reached `min_share`, and
    drop those ids from the tombstone set — the LSM compaction that
    keeps the serve-side anti-join bounded on a long-lived index.

    Everything is confined to DIRTY buckets: the tombstone file names
    each tombstone's bucket, so the index is read partition-pruned to
    exactly those buckets (never a full scan); surviving rows rewrite
    through dynamic partition overwrite (only the compacted partitions
    are replaced — untouched bucket files keep their bytes, pinned by
    tests/test_ann_index_delete.py); buckets left EMPTY have their
    partition directory removed outright (a delete API call per bucket
    on an object store). Tombstones for buckets under the share
    threshold stay — serving keeps filtering them until they are worth
    a rewrite."""
    import os
    import shutil

    tomb_path = os.path.join(index_dir, "tombstones.parquet")
    data_dir = os.path.join(index_dir, "index.parquet")
    if not os.path.exists(tomb_path):
        return
    tombs = spark.read.parquet(tomb_path).localCheckpoint()
    tomb_counts = (
        tombs.groupBy("pbucket").agg(F.count(F.lit(1)).alias("tn"))
    )
    # partition-pruned sizes of the dirty buckets only (the IN-list /
    # DPP gate, same device as serving)
    sizes = (
        _pruned_index_scan(spark, data_dir, tombs.select("pbucket"))
        .groupBy("pbucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    affected = [
        r["pbucket"]
        for r in tomb_counts.join(sizes, "pbucket")
        .filter(F.col("tn") >= F.col("n") * min_share)
        .collect()  # bounded by the dirty-bucket count
    ]
    if not affected:
        return
    aff_df = spark.createDataFrame(
        [(b,) for b in affected], "pbucket string"
    )
    survivors = (
        _pruned_index_scan(spark, data_dir, aff_df.select("pbucket"))
        .join(F.broadcast(tombs.select("vec_id")), "vec_id", "left_anti")
        .localCheckpoint()  # materialize BEFORE overwriting the source
    )
    nonempty = {
        r["pbucket"]
        for r in survivors.select("pbucket").distinct().collect()
    }
    if nonempty:
        # dynamic overwrite as a writer option: only the survivors'
        # buckets are replaced, and the session conf is left alone
        survivors.repartition("pbucket").write.partitionBy("pbucket").option(
            "partitionOverwriteMode", "dynamic"
        ).mode("overwrite").parquet(data_dir)
    for b in set(affected) - nonempty:
        shutil.rmtree(
            os.path.join(data_dir, f"pbucket={b}"), ignore_errors=True
        )
    remaining = tombs.filter(~F.col("pbucket").isin(affected))
    # rewrite-then-swap: the tombstone file is tiny (bounded between
    # compactions), so an atomic rename replaces it
    tmp = tomb_path + "_next"
    remaining.coalesce(1).write.mode("overwrite").parquet(tmp)
    shutil.rmtree(tomb_path, ignore_errors=True)
    os.replace(tmp, tomb_path)


def _delete_bootstrap(spark: SparkSession, sf_dir: str) -> tuple[str, int]:
    """Build-once bootstrap for the deletion-lifecycle consumers: a
    PRIVATE index scratch (the shared _inc_index_path one must never
    carry deletions — its consumers pin no-deletion semantics), built
    committed -> appended -> tombstoned once per corpus listing."""
    import os

    def build(base):
        _build_committed_index(spark, sf_dir, base)
        vecs = _vecs(spark, sf_dir)
        ann_index_append(spark, base, vecs.filter(~F.expr(_INC_COMMIT_FILTER)))
        ann_index_delete(spark, base, vecs.filter(F.expr(_DELETED_FILTER)))

    base = build_once("ann_inc_index_del", sf_dir, build, marker="_deleted")
    with open(os.path.join(base, "_width")) as wf:
        width = int(wf.read().strip())
    return base, width


def _serve_deleted_index(
    spark: SparkSession, sf_dir: str, idx_dir: str, width: int
) -> DataFrame:
    """_serve_appended_index with the deletion exclusions applied
    BEFORE ranking. Candidate side: the REMAINING tombstones — for a
    compacted bucket they are gone and correctness rests on the
    physical rewrite (which is exactly what makes the rewrite
    hash-checked against the oracle). Query side: the known delete
    panel — a deleted id is out of the serving panel whether its
    tombstone still exists or its bucket already compacted (the
    serving panel is the caller's membership concern, not the
    index's). Both sets are metadata-sized: tombstones are bounded
    between compactions by contract, the panel is the delete log."""
    import os

    tomb_path = os.path.join(idx_dir, "tombstones.parquet")
    tombs = (
        spark.read.parquet(tomb_path).select("vec_id")
        if os.path.exists(tomb_path)
        else None
    )
    panel = _vecs(spark, sf_dir).filter(
        F.expr(_DELETED_FILTER)
    ).select("vec_id")
    return _serve_appended_index(
        spark, sf_dir, idx_dir, width,
        exclude_query_ids=panel, exclude_index_ids=tombs,
    )


_DELETE_SERVE_ORACLE = f"""{_COMMITTED_NB_SQL}
    keyed AS (SELECT s.vec_id, s.v, s.nrm,
                     substr(s.signs, 1, b.nb) AS bucket
              FROM sig s, b
              WHERE NOT ({_DELETED_FILTER})),
    {_BUCKET_TOPK_SQL}"""


@query("ann_index_delete", oracle=_DELETE_SERVE_ORACLE)
def ann_index_delete_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN serving over a DELETE-MAINTAINED index (r12): the append-
    maintained index (ann_index_append's contract) takes a deletion
    batch as TOMBSTONES — one O(batch) sidecar append, no partition
    rewrite — and serving anti-joins the broadcast tombstone set on
    both the neighbor and the query side. Closes the index lifecycle
    (build -> append -> delete -> compact) the way real corpora churn:
    takedowns, opt-outs, and re-crawls remove documents as often as
    ingest adds them, and an index that can only grow forces periodic
    full rebuilds at 100 TB. The oracle pins the result by scoring the
    corpus MINUS the deleted panel under the committed-count bucketing
    (deletion never changes the recorded width — only a rebuild does).

    The deleted panel intersects both the committed and appended id
    ranges AND the query panel, so the oracle check covers neighbor
    removal and query removal at once. NOTE the bucketing width still
    derives from the FULL committed count: tombstones do not shrink
    the index's geometry."""
    idx_dir, width = _delete_bootstrap(spark, sf_dir)
    return _serve_deleted_index(spark, sf_dir, idx_dir, width)


@query("ann_index_compact", oracle=_DELETE_SERVE_ORACLE)
def ann_index_compact_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN serving AFTER tombstone compaction (r12): buckets whose
    tombstone share reached the threshold are rewritten without their
    deleted rows (dynamic partition overwrite — only dirty partitions
    are replaced; emptied buckets' directories are removed), their
    tombstones are dropped, and serving continues through the same
    tombstone-filtered path for the buckets still under threshold.
    The result must be IDENTICAL to ann_index_delete's (compaction is
    invisible to serving — same oracle pins both), which makes the
    physical rewrite itself hash-checked: any row lost or duplicated
    by the partition overwrite breaks the compare.

    Scale: compaction reads/writes ONLY dirty buckets (partition-
    pruned via the tombstones' recorded buckets), so its cost tracks
    the delete rate, not the index size; the serve-side anti-join
    stays bounded by the under-threshold tombstone residue."""
    idx_dir, width = _delete_bootstrap(spark, sf_dir)
    once_in(
        "ann_inc_index_del", idx_dir, "_compacted",
        lambda d: ann_index_compact(spark, d),
    )
    return _serve_deleted_index(spark, sf_dir, idx_dir, width)


# ------------------------------------------------- product quantization (PQ)

_PQ_M = 8  # subspaces (64-dim / 8 = 8 dims each)
_PQ_SUB = 8  # dims per subspace
_PQ_K = 16  # codewords per subspace
_PQ_SEED_MOD = 29  # deterministic codebook seeds: vec_id % 29 = 0, id < 464
_PQ_SCALE = 64  # integer quantization scale (exact cross-engine BIGINT math)
_PQ_SEED_SQL = (
    f"vec_id % {_PQ_SEED_MOD} = 0 AND vec_id < {_PQ_SEED_MOD * _PQ_K}"
)
# ADC with an untrained seed codebook is coarser than the int8 scalar
# quantizer, so PQ compensates with a deeper exact-rerank shortlist
# (FAISS's k_factor device): measured recall@5 0.28 at R=15 -> 0.60 at
# R=40 on the sf0.001 fixture (0.80 at sf0.01)
_PQ_R = 8 * _TOPK

# the oracle twins of the PQ steps: the integer-quantized corpus, its
# seed codebook, the per-(vector, subspace) argmin codes and the query
# distance tables ...
_PQ_CODES_SQL = f"""z AS (
  SELECT vec_id, v, nrm,
         list_transform(v, x -> CAST(round(x * {_PQ_SCALE}) AS BIGINT)) AS zv
  FROM vecs
),
cb AS (
  SELECT CAST(vec_id // {_PQ_SEED_MOD} AS INT) AS k, zv FROM z
  WHERE {_PQ_SEED_SQL}
),
mgrid AS (SELECT CAST(unnest(range(0, {_PQ_M})) AS INT) AS m),
enc AS (
  SELECT vec_id, m, k AS code FROM (
    SELECT t.vec_id, t.m, t.k,
           ROW_NUMBER() OVER (PARTITION BY t.vec_id, t.m
                              ORDER BY t.d ASC, t.k ASC) AS rk
    FROM (
      SELECT x.vec_id, g.m, c.k,
             list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(range(1, {_PQ_SUB} + 1),
                 i -> (x.zv[g.m * {_PQ_SUB} + i] - c.zv[g.m * {_PQ_SUB} + i])
                    * (x.zv[g.m * {_PQ_SUB} + i] - c.zv[g.m * {_PQ_SUB} + i]))),
               (acc, y) -> acc + y) AS d
      FROM z x CROSS JOIN mgrid g CROSS JOIN cb c
    ) t
  ) WHERE rk = 1
),
dt AS (
  SELECT q.vec_id AS query_id, g.m, c.k,
         list_reduce(list_prepend(CAST(0 AS BIGINT),
           list_transform(range(1, {_PQ_SUB} + 1),
             i -> q.zv[g.m * {_PQ_SUB} + i] * c.zv[g.m * {_PQ_SUB} + i])),
           (acc, y) -> acc + y) AS partial
  FROM (SELECT * FROM z WHERE {_QUERY_FILTER}) q
  CROSS JOIN mgrid g CROSS JOIN cb c
)"""
# ... and the _PQ_R ADC shortlist re-scored by exact cosine
# (_pq_rerank)
_PQ_RERANK_SQL = f"""shortlist AS (
  SELECT query_id, neighbor_id, adc_dot FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
               ORDER BY adc_dot DESC, neighbor_id) AS crank
    FROM adc
  ) WHERE crank <= {_PQ_R}
),
rer AS (
  SELECT s.query_id, s.neighbor_id, s.adc_dot,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           list_transform(range(1, len(q.v) + 1), i -> q.v[i] * c.v[i])),
           (acc, x) -> acc + x) / (q.nrm * c.nrm) AS cos
  FROM shortlist s
  JOIN vecs q ON q.vec_id = s.query_id
  JOIN vecs c ON c.vec_id = s.neighbor_id
)
SELECT query_id, neighbor_id, adc_dot, ROUND(cos, 6) AS cosine,
       CAST(rk AS INT) AS rank
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cos DESC, neighbor_id) AS rk
  FROM rer
) WHERE rk <= {_TOPK}
"""

_PQ_ORACLE = f"""
WITH {_VECS_SQL},
{_PQ_CODES_SQL},
adc AS (
  SELECT dt.query_id, e.vec_id AS neighbor_id,
         CAST(SUM(dt.partial) AS BIGINT) AS adc_dot
  FROM dt JOIN enc e ON e.m = dt.m AND e.code = dt.k
  WHERE e.vec_id <> dt.query_id
  GROUP BY dt.query_id, e.vec_id
),
{_PQ_RERANK_SQL}"""


def _pq_codebook(spark: SparkSession, sf_dir: str) -> list[list[int]]:
    """Collect the K seed codewords as quantized integer vectors —
    16 x 64 ints, the documented metadata-sized collect class (same
    device as the k-means centroid literal, clustering.py)."""
    rows = (
        _vecs(spark, sf_dir)
        .filter(F.expr(_PQ_SEED_SQL))
        .select(
            "vec_id",
            F.expr(
                f"transform(v, x -> CAST(round(x * {_PQ_SCALE}) AS BIGINT))"
            ).alias("zv"),
        )
        .collect()
    )
    by_k = {int(r["vec_id"]) // _PQ_SEED_MOD: list(r["zv"]) for r in rows}
    return [by_k[k] for k in sorted(by_k)]


# the three PQ building blocks, shared by ann_pq_adc (flat scan) and
# ann_ivf_pq (cell-confined scan) — extracting them changes neither plan

# zv (the per-row quantized vector) and the per-subspace slice are
# LET-BOUND via 1-element transform(array(...), x -> ...) wrappers: the
# optimizer inlines a once-referenced alias into consumers
# (CollapseProject), and inlined inside these lambda bodies the 64-dim
# quantization transform(v, ...) would re-run once per (m, k) codeword
# probe — M*K = 128x per row instead of once (measured: sf0.1 encode
# 1.26 s -> 0.90 s let-bound, -> 0.51 s with the _vecs spread). A
# lambda variable is bound once per element, so references are free.
_PQ_SQ_FOLD = (
    "aggregate(zip_with(zs, c, (x, y) -> (x - y) * (x - y)),"
    " CAST(0 AS BIGINT), (a, x) -> a + x)"
)
_PQ_CODES_EXPR = (
    "element_at(transform(array(zv), zvv ->"
    f" transform(sequence(0, {_PQ_M - 1}), m -> element_at(transform("
    f"  array(slice(zvv, m * {_PQ_SUB} + 1, {_PQ_SUB})), zs ->"
    " CAST(aggregate("
    f" transform(element_at(cb, m + 1), c -> {_PQ_SQ_FOLD}),"
    " named_struct('d', CAST(9223372036854775807 AS BIGINT),"
    "               'k', -1, 'i', 0),"
    " (acc, d) -> CASE WHEN d < acc.d"
    "   THEN named_struct('d', d, 'k', acc.i, 'i', acc.i + 1)"
    "   ELSE named_struct('d', acc.d, 'k', acc.k, 'i', acc.i + 1) END"
    ").k AS INT)), 1))), 1)"
)
_PQ_DOT_FOLD = (
    "aggregate(zip_with(zs, c, (x, y) -> x * y),"
    " CAST(0 AS BIGINT), (a, x) -> a + x)"
)
# query distance table, same let-binding (shared by _pq_dt and
# _pq_cell_adc)
_PQ_DT_EXPR = (
    "element_at(transform(array(zv), zvv ->"
    f" transform(sequence(0, {_PQ_M - 1}), m -> element_at(transform("
    f"  array(slice(zvv, m * {_PQ_SUB} + 1, {_PQ_SUB})), zs ->"
    f" transform(element_at(cb, m + 1), c -> {_PQ_DOT_FOLD})), 1))), 1)"
)


def _pq_zvecs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vectors + integer quantization + the codebook column.

    The codebook rides as a COLUMN from a broadcast 1-row frame, not a
    literal: ConstantFolding does not fold a CreateArray inside a
    lambda body, so a literal codebook is re-materialized per row per
    reference (measured 5.8 s vs 1.25 s for the sf0.1 encode); the
    fully-unrolled no-lambda draft was worse still (~12 s of
    analysis/codegen). The 1-row cross join broadcasts 16x64 ints."""
    cb = _pq_codebook(spark, sf_dir)
    cbdf = spark.createDataFrame(
        [
            (
                [
                    [
                        [int(x) for x in cb[k][m * _PQ_SUB:(m + 1) * _PQ_SUB]]
                        for k in range(_PQ_K)
                    ]
                    for m in range(_PQ_M)
                ],
            )
        ],
        "cb: array<array<array<bigint>>>",
    )
    return (
        _vecs(spark, sf_dir)
        .withColumn(
            "zv",
            F.expr(
                f"transform(v, x -> CAST(round(x * {_PQ_SCALE}) AS BIGINT))"
            ),
        )
        .crossJoin(F.broadcast(cbdf))
    )


def _pq_codes(zvecs: DataFrame) -> DataFrame:
    """ENCODE: (vec_id, m, code) — a zero-shuffle projection (argmin
    over K codeword distances per subspace, BIGINT-exact)."""
    return zvecs.select(
        "vec_id", F.expr(_PQ_CODES_EXPR).alias("codes")
    ).select("vec_id", F.posexplode("codes").alias("m", "code"))


def _pq_dt(zvecs: DataFrame) -> DataFrame:
    """Query distance tables: (query_id, m, k, partial) — |q| x M x K
    rows, broadcast-sized."""
    return (
        zvecs.filter(F.expr(_QUERY_FILTER))
        .select(
            F.col("vec_id").alias("query_id"),
            F.posexplode(F.expr(_PQ_DT_EXPR)).alias("m", "partials"),
        )
        .select(
            "query_id", "m", F.posexplode("partials").alias("k", "partial")
        )
    )


def _pq_cell_adc(
    zvecs: DataFrame, codes: DataFrame, probes: DataFrame, cell: str
) -> DataFrame:
    """Cell-confined ADC: ``(query_id, neighbor_id, adc_dot)`` for every
    coded vector in a query's probed cells. ``codes`` holds one M-code
    array per vector plus its ``cell``; ``probes`` the (query_id,
    ``cell``) pairs. Each query's distance table rides as an M x K array
    (broadcast: |q| rows, ~1 KB each) — the FAISS layout, looked up per
    candidate instead of joined per (m, code): the first draft's (cent,
    m, code) equi-join materialized candidates x M rows into a hash
    aggregate (830M rows at the x100 proof, 72 of its 114 s); the fold
    computes the same BIGINT sum projection-side with NO aggregate
    shuffle at all."""
    dtq = zvecs.filter(F.expr(_QUERY_FILTER)).select(
        F.col("vec_id").alias("query_id"),
        F.expr(_PQ_DT_EXPR).alias("dt"),
    )
    return (
        codes.join(F.broadcast(probes), cell)
        .filter(F.col("vec_id") != F.col("query_id"))
        .join(F.broadcast(dtq), "query_id")
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.expr(
                f"aggregate(sequence(0, {_PQ_M - 1}),"
                " CAST(0 AS BIGINT), (acc, m) -> acc +"
                " element_at(element_at(dt, m + 1),"
                " element_at(codes, m + 1) + 1))"
            ).alias("adc_dot"),
        )
    )


def _pq_rerank(vecs: DataFrame, adc: DataFrame) -> DataFrame:
    """Keep the _PQ_R best ADC candidates per query (adc_dot desc,
    neighbor_id), re-score them with the exact cosine, keep the top k
    with their ``adc_dot``."""
    w_c = Window.partitionBy("query_id").orderBy(
        F.col("adc_dot").desc(), F.col("neighbor_id")
    )
    shortlist = (
        adc.withColumn("crank", F.row_number().over(w_c))
        .filter(F.col("crank") <= _PQ_R)
        .drop("crank")
    )
    # broadcast side is the QUERY PANEL only (ADVICE r9): shortlist's
    # query_id already satisfies _QUERY_FILTER, so filtering before the
    # broadcast keeps the exchanged side ~1% of the corpus instead of
    # shipping N full vectors to every executor
    return _cosine_topk(
        shortlist.join(F.broadcast(_queries(vecs)), "query_id").join(
            _corpus(vecs), "neighbor_id"
        ),
        "adc_dot",
    )


@query("ann_pq_adc", oracle=_PQ_ORACLE)
def ann_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN with asymmetric-distance (ADC) scoring
    and exact re-rank (Jegou et al., PAMI 2011 — the device behind
    FAISS/ScaNN billion-vector serving). The 64-dim space splits into
    M={m} subspaces of {sub} dims; each subspace has a K={k} codebook
    (deterministic seed vectors, the same stand-in-for-trained-centroids
    device as ann_ivf_probe; kmeans_embeddings is the trained path).
    Every corpus vector compresses to M 4-bit codes (16x smaller than
    int8, 128x smaller than float64); queries score candidates by table
    lookup: adc(q, v) = sum_m dt[m][code_v[m]] where dt is the query's
    per-subspace dot-product table against the codebook.

    All PQ math is BIGINT-exact (scale-{s} quantization, the
    quantize_embeddings device), so encode argmin, ADC sums and the
    shortlist cut are bit-identical across engines and cluster runs —
    no float-order drift can move a candidate across the R={r} boundary.

    Spark shape: the codebook is collected once (16 rows) and baked
    into literal per-row expressions, so ENCODE is a zero-shuffle
    projection (argmin over 16 literal distances per subspace via
    array_position/array_min). ADC is expressed as an equi-join: the
    query distance tables (|q| x M x K rows, broadcast) join the
    exploded codes (N x M rows) on (m, code) and aggregate SUM(partial)
    per (query, vector) — one partial-agg shuffle, map-side combined;
    never a query x corpus cartesian. (An r10 A/B replaced this with
    ann_ivf_pq's per-pair lookup fold and REVERTED it: the flat scan's
    pair join is unselective, so the fold rides a row-at-a-time
    BroadcastNestedLoopJoin — 165 s vs this plan's ~74 s at the x100
    proof. The fold wins only where a selective hash join keys the
    pairs, as the cell key does in ann_ivf_pq.) The exact-cosine pass
    touches only
    R rows per query. At 100 TB the flat ADC scan composes with
    ann_ivf_probe's cell confinement (scan only probed cells' codes) and
    the codes relation is ~1/128 the corpus bytes, so the scan is
    memory-bandwidth-bound exactly as production PQ serving is."""
    vecs = _pq_zvecs(spark, sf_dir)
    codes = _pq_codes(vecs)
    dt = _pq_dt(vecs)
    adc = (
        codes.join(
            F.broadcast(dt),
            (codes.m == dt.m) & (codes.code == dt.k),
        )
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.sum("partial").alias("adc_dot"))
    )
    return _pq_rerank(vecs, adc)


ann_pq_adc.__doc__ = ann_pq_adc.__doc__.format(
    m=_PQ_M, sub=_PQ_SUB, k=_PQ_K, s=_PQ_SCALE, r=_PQ_R
)


# ------------------------------------------- IVF + PQ (cell-confined ADC)

# nprobe for the COMPOSED op, deeper than ann_ivf_probe's 2: the double
# quantization (coarse cells + PQ codes, both untrained seed sets)
# compounds, and the recall sweep on the sf0.01 panel read
# nprobe=2 -> 0.64, 4 -> 0.76, 6 -> 0.80 = the flat-ADC baseline
# (ann_pq_adc). 6 of 32 cells still confines the ADC scan to ~1/5 of
# the corpus codes; with trained centroids the same recall arrives at
# far smaller nprobe/K ratios — nprobe is the serving-time recall/cost
# dial, exactly as in FAISS IndexIVFPQ.
_IVFPQ_NPROBE = 6

_IVFPQ_ORACLE = f"""
WITH {_VECS_SQL},
centroids AS (
  SELECT vec_id AS cent_id, v AS cv, nrm AS cn FROM vecs
  WHERE {_CENTROID_FILTER_SQL}
),
assigned AS (
  SELECT vec_id, cent_id FROM (
    SELECT x.vec_id, c.cent_id,
           ROW_NUMBER() OVER (PARTITION BY x.vec_id ORDER BY
             list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list_transform(range(1, len(x.v) + 1), i -> x.v[i] * c.cv[i])),
               (acc, x) -> acc + x) / (x.nrm * c.cn) DESC, c.cent_id) AS rk
    FROM vecs x CROSS JOIN centroids c
  ) WHERE rk = 1
),
probes AS (
  SELECT vec_id AS query_id, cent_id FROM (
    SELECT q.vec_id, c.cent_id,
           ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
             list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list_transform(range(1, len(q.v) + 1), i -> q.v[i] * c.cv[i])),
               (acc, x) -> acc + x) / (q.nrm * c.cn) DESC, c.cent_id) AS rk
    FROM (SELECT * FROM vecs WHERE {_QUERY_FILTER}) q CROSS JOIN centroids c
  ) WHERE rk <= {_IVFPQ_NPROBE}
),
{_PQ_CODES_SQL},
adc AS (
  SELECT dt.query_id, e.vec_id AS neighbor_id,
         CAST(SUM(dt.partial) AS BIGINT) AS adc_dot
  FROM probes p
  JOIN dt ON dt.query_id = p.query_id
  JOIN assigned a ON a.cent_id = p.cent_id
  JOIN enc e ON e.vec_id = a.vec_id AND e.m = dt.m AND e.code = dt.k
  WHERE e.vec_id <> dt.query_id
  GROUP BY dt.query_id, e.vec_id
),
{_PQ_RERANK_SQL}"""


@query("ann_ivf_pq", oracle=_IVFPQ_ORACLE)
def ann_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF + PQ composed (VERDICT r9 task 4) — the billion-vector
    serving shape ann_pq_adc's docstring names: the coarse quantizer
    (ann_ivf_probe's fixed-K centroid set) confines the ADC scan to the
    nprobe={np} probed cells per query, so the scored relation is
    ~nprobe/K of the corpus codes instead of the flat N x M scan. This
    is exactly FAISS's IndexIVFPQ layout: cells hold PQ codes, queries
    score only the cells they probe, the exact-cosine rerank touches
    only the R={r} shortlist.

    Spark shape: cell assignment joins the codes relation on vec_id
    (adds cent_id); the query distance tables join the probe pairs on
    query_id (adds cent_id, x nprobe rows, still broadcast-sized); ADC
    is then one equi-join on (cent_id, m, code) + a partial-agg — the
    cell key in the join IS the confinement, no post-filter. At scale
    the codes relation is written bucketed by cent_id, so probe joins
    hit co-located partitions and untouched cells are never read.

    All ADC math BIGINT-exact (the ann_pq_adc device); the assignment
    and probe ranking use the bit-reproducible sequential cosine fold
    both engines share."""
    vecs = _vecs(spark, sf_dir)
    zvecs = _pq_zvecs(spark, sf_dir)

    # the IVF+PQ index artifacts (assigned cells, probe pairs, PQ codes)
    # are a session memo (tables.session_memo): keyed by the dir
    # fingerprint so in-place mutation invalidates; a pipeline builds
    # its index once per corpus, repeat queries reuse it
    def derive():
        ranked = _centroid_ranked(vecs)
        # the IVF/PQ index artifacts are MATERIALIZED once
        # (localCheckpoint) and session-memoized: assignment and probes
        # both hang off the ranked window and codes off the encode
        # projection — left lazy, every downstream consumer (probe
        # join, shortlist, rerank) recomputes those subtrees inside one
        # DAG (measured 222 s vs 52 s at the x100 proof). In serving
        # these ARE persisted tables (ann_index_persist's layout); the
        # narrow checkpoints + this session memo are their in-session
        # stand-in, matching bench.py's build-once methodology note.
        assigned = (
            ranked.filter(F.col("rk") == 1)
            .select("vec_id", "cent_id")
            .localCheckpoint()
        )
        probes = (
            ranked.filter(
                F.expr(_QUERY_FILTER) & (F.col("rk") <= _IVFPQ_NPROBE)
            )
            .select(F.col("vec_id").alias("query_id"), "cent_id")
            .localCheckpoint()
        )
        # codes kept as ONE array row per vector (no posexplode) + cell
        codes = (
            zvecs.select("vec_id", F.expr(_PQ_CODES_EXPR).alias("codes"))
            .join(assigned, "vec_id")
            .localCheckpoint()
        )
        return assigned, probes, codes

    assigned, probes, codes = session_memo("ivfpq", spark, sf_dir, (), derive)
    return _pq_rerank(vecs, _pq_cell_adc(zvecs, codes, probes, "cent_id"))


ann_ivf_pq.__doc__ = ann_ivf_pq.__doc__.format(np=_IVFPQ_NPROBE, r=_PQ_R)


# -------------------------------- IVF + PQ with a TRAINED coarse quantizer

# Recall sweep on the sf0.01 panel (vs exact top-5): nprobe 1 -> 0.40,
# 2 -> 0.64, 3 -> 0.80 = the flat-ADC baseline. On THIS corpus the
# trained quantizer needs 3 of its 4 cells to match the seed grid's
# recall — the fixture embeddings are near-isotropic, so K=4 Lloyd
# cells barely localize cosine neighborhoods (real embedding corpora
# are anisotropic, which is where training pays; the honest negative
# result is documented rather than claimed away).
_IVFPQT_NPROBE = 3


def _ivfpq_trained_oracle() -> str:
    """The kmeans training chain (clustering.kmeans_cent_ctes — the
    exact CTEs kmeans_embeddings' oracle replays) composed with the
    IVF+PQ serving CTEs: cells come from the TRAINED centroid set,
    assignment/probing use kmeans' squared-Euclidean metric (6dp-rounded
    centroids, total tie-breaks), ADC/rerank are the ann_ivf_pq
    machinery verbatim."""
    from .clustering import DIM as _KM_DIM
    from .clustering import kmeans_cent_ctes

    km_ctes, final = kmeans_cent_ctes()
    dist = (
        "list_reduce(list_prepend(CAST(0.0 AS DOUBLE),"
        f" list_transform(range(1, {_KM_DIM} + 1),"
        " j -> (x.v[CAST(j AS INT)] - c.cv[CAST(j AS INT)])"
        " * (x.v[CAST(j AS INT)] - c.cv[CAST(j AS INT)]))),"
        " (acc, y) -> acc + y)"
    )
    return f"""
WITH {_VECS_SQL},
{",".join(km_ctes)},
centst AS (
  SELECT cid, v AS cv FROM {final}
),
assignedt AS (
  SELECT vec_id, cid FROM (
    SELECT x.vec_id, c.cid,
           ROW_NUMBER() OVER (PARTITION BY x.vec_id
                              ORDER BY {dist}, c.cid) AS rk
    FROM vecs x CROSS JOIN centst c
  ) WHERE rk = 1
),
probest AS (
  SELECT vec_id AS query_id, cid FROM (
    SELECT x.vec_id, c.cid,
           ROW_NUMBER() OVER (PARTITION BY x.vec_id
                              ORDER BY {dist}, c.cid) AS rk
    FROM (SELECT * FROM vecs WHERE {_QUERY_FILTER}) x
    CROSS JOIN centst c
  ) WHERE rk <= {_IVFPQT_NPROBE}
),
{_PQ_CODES_SQL},
adc AS (
  SELECT dt.query_id, e.vec_id AS neighbor_id,
         CAST(SUM(dt.partial) AS BIGINT) AS adc_dot
  FROM probest p
  JOIN dt ON dt.query_id = p.query_id
  JOIN assignedt a ON a.cid = p.cid
  JOIN enc e ON e.vec_id = a.vec_id AND e.m = dt.m AND e.code = dt.k
  WHERE e.vec_id <> dt.query_id
  GROUP BY dt.query_id, e.vec_id
),
{_PQ_RERANK_SQL}"""


@query("ann_ivf_pq_trained", oracle=_ivfpq_trained_oracle())
def ann_ivf_pq_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF+PQ with a TRAINED coarse quantizer (r11-queue item pulled
    forward): the cells come from kmeans_embeddings' Lloyd-trained
    centroid set instead of ann_ivf_pq's deterministic seed stand-ins —
    the production IndexIVFPQ recipe (train the quantizer on the data,
    then serve cell-confined ADC). The value here is the CLOSED LOOP —
    train (kmeans_cent_ctes) and serve replayed end-to-end by one
    oracle — plus a measured, honest comparison: on this near-isotropic
    fixture the trained K={k} quantizer needs nprobe=3 to match the
    seed grid's 0.80 recall (see _IVFPQT_NPROBE), i.e. training does
    NOT pay on isotropic data; it pays on the anisotropic distributions
    real embedding models produce. Pinned by
    tests/test_ivfpq_recall.py's trained test.

    Assignment and probing use kmeans' own squared-Euclidean metric
    over the 6dp-rounded centroids (bit-identical cross-engine — the
    kmeans_embeddings determinism contract), so the oracle replays the
    full TRAIN + SERVE schedule end to end via the shared
    kmeans_cent_ctes chain. ADC/rerank are the ann_ivf_pq machinery:
    table-lookup fold, BIGINT-exact, checkpointed index artifacts."""
    from .clustering import trained_centroids

    vecs = _vecs(spark, sf_dir)
    zvecs = _pq_zvecs(spark, sf_dir)
    cents = trained_centroids(spark, sf_dir)
    cdf = F.broadcast(
        spark.createDataFrame(
            [(int(cid), [float(x) for x in cv]) for cid, cv in cents],
            "cid bigint, cv array<double>",
        )
    )
    dist = F.expr(
        "aggregate(zip_with(v, cv, (a, b) -> (a - b) * (a - b)),"
        " CAST(0.0 AS DOUBLE), (acc, y) -> acc + y)"
    )
    rk_w = Window.partitionBy("vec_id").orderBy("dist", "cid")
    # ONE checkpoint of the ranked crossJoin feeds both the assignment
    # (rk == 1, all vecs) and the probe list (rk <= nprobe, queries
    # only) — two separate checkpoints re-ran the K-centroid crossJoin +
    # ranking window twice per run for the same rows
    ranked = (
        vecs.crossJoin(cdf).withColumn("dist", dist)
        .withColumn("rk", F.row_number().over(rk_w))
        .filter(
            (F.col("rk") == 1)
            | (F.expr(_QUERY_FILTER) & (F.col("rk") <= _IVFPQT_NPROBE))
        )
        .select("vec_id", "cid", "rk")
        .localCheckpoint()
    )
    assigned = ranked.filter(F.col("rk") == 1).select("vec_id", "cid")
    probes = ranked.filter(
        F.expr(_QUERY_FILTER) & (F.col("rk") <= _IVFPQT_NPROBE)
    ).select(F.col("vec_id").alias("query_id"), "cid")
    codes = (
        zvecs.select("vec_id", F.expr(_PQ_CODES_EXPR).alias("codes"))
        .join(assigned, "vec_id")
        .localCheckpoint()
    )
    return _pq_rerank(vecs, _pq_cell_adc(zvecs, codes, probes, "cid"))


ann_ivf_pq_trained.__doc__ = ann_ivf_pq_trained.__doc__.format(k=4)


# --------------------------------------- MMR diversified top-k (RAG serving)

_MMR_K = _TOPK  # selected set size
_MMR_R = _RERANK_R  # candidate shortlist per query
_MMR_SIM_SQL = """
  list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
    list_transform(range(1, len(a.cv) + 1), i -> a.cv[i] * b2.cv[i])),
    (acc, x) -> acc + x) / (a.cn * b2.cn)
"""


def _mmr_step_sql(t: int) -> str:
    """One unrolled greedy step: max-sim of every unselected candidate
    to the t-1 already-selected docs, then argmax of the MMR score."""
    prev = f"sel{t - 1}"
    return f"""
ms{t} AS MATERIALIZED (
  SELECT si.query_id, si.i AS neighbor_id, MAX(si.sim) AS max_sim
  FROM sims si JOIN {prev} s
    ON s.query_id = si.query_id AND s.neighbor_id = si.j
  GROUP BY si.query_id, si.i
),
pick{t} AS (
  SELECT query_id, neighbor_id, rel, max_sim, mmr, {t} AS sel_rank FROM (
    SELECT c.query_id, c.neighbor_id, c.rel, m.max_sim,
           ROUND(0.7 * c.rel - 0.3 * m.max_sim, 6) + 0.0 AS mmr,
           ROW_NUMBER() OVER (PARTITION BY c.query_id
             ORDER BY 0.7 * c.rel - 0.3 * m.max_sim DESC,
                      c.neighbor_id) AS rk
    FROM cand c
    JOIN ms{t} m ON m.query_id = c.query_id
                AND m.neighbor_id = c.neighbor_id
    WHERE NOT EXISTS (SELECT 1 FROM {prev} s
                      WHERE s.query_id = c.query_id
                        AND s.neighbor_id = c.neighbor_id)
  ) WHERE rk = 1
),
sel{t} AS MATERIALIZED (SELECT * FROM {prev} UNION ALL SELECT * FROM pick{t})"""


_MMR_ORACLE = f"""
WITH {_VECS_SQL},
sig AS (SELECT *, {_SIGNS_SQL} AS signs FROM vecs),
b AS (SELECT {_NBITS_SQL} AS nb FROM sig),
keyed AS (SELECT s.vec_id, s.v, s.nrm,
                 substr(s.signs, 1, b.nb) AS bucket
          FROM sig s, b),
cand AS MATERIALIZED (
  SELECT query_id, neighbor_id, rel, cv, cn FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           ROUND({_COS_SQL}, 6) AS rel, c.v AS cv, c.nrm AS cn,
           ROW_NUMBER() OVER (PARTITION BY q.vec_id
             ORDER BY {_COS_SQL} DESC, c.vec_id) AS rk
    FROM (SELECT * FROM keyed WHERE {_QUERY_FILTER}) q
    JOIN keyed c ON c.bucket = q.bucket AND c.vec_id <> q.vec_id
  ) WHERE rk <= {_MMR_R}
),
sims AS MATERIALIZED (
  SELECT a.query_id, a.neighbor_id AS i, b2.neighbor_id AS j,
         ROUND({_MMR_SIM_SQL}, 6) AS sim
  FROM cand a JOIN cand b2
    ON b2.query_id = a.query_id AND b2.neighbor_id <> a.neighbor_id
),
sel1 AS MATERIALIZED (
  SELECT query_id, neighbor_id, rel, CAST(0.0 AS DOUBLE) AS max_sim,
         ROUND(0.7 * rel, 6) + 0.0 AS mmr, 1 AS sel_rank
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
          ORDER BY rel DESC, neighbor_id) AS rk FROM cand)
  WHERE rk = 1
),
{",".join(_mmr_step_sql(t) for t in range(2, _MMR_K + 1))}
SELECT query_id, neighbor_id AS doc_id, rel AS relevance,
       ROUND(max_sim, 6) + 0.0 AS max_sim, mmr AS mmr_score,
       CAST(sel_rank AS INT) AS sel_rank
FROM sel{_MMR_K}
"""


def _mmr_fold_expr() -> str:
    """The whole k-step MMR greedy as ONE SQL fold over per-query
    `cands` (array<struct<id, rel>>) and `simsarr` (array<struct<i, j,
    sim>>) columns — factored out so tests can drive it with synthetic
    inputs (tests/test_mmr.py's hypothesis replay)."""
    ms = (
        "CASE WHEN size(sel) = 0 THEN CAST(0.0 AS DOUBLE)"
        " ELSE array_max(transform(filter(simsarr,"
        " p -> p.i = c.id AND exists(sel, s2 -> s2.id = p.j)),"
        " p -> p.sim)) END"
    )
    return f"""
    aggregate(
      sequence(1, {_MMR_K}),
      CAST(array() AS array<struct<id: bigint, rel: double, max_sim: double, raw: double, sel_rank: int>>),
      (sel, t) -> concat(sel, filter(array(
        aggregate(
          filter(cands, c0 -> NOT exists(sel, s1 -> s1.id = c0.id)),
          CAST(NULL AS struct<id: bigint, rel: double, max_sim: double, raw: double, sel_rank: int>),
          (best, c) -> CASE
            WHEN best IS NULL
              OR (0.7 * c.rel - 0.3 * ({ms})) > best.raw
              OR ((0.7 * c.rel - 0.3 * ({ms})) = best.raw
                  AND c.id < best.id)
            THEN named_struct(
              'id', c.id, 'rel', c.rel,
              'max_sim', {ms},
              'raw', 0.7 * c.rel - 0.3 * ({ms}),
              'sel_rank', CAST(t AS INT))
            ELSE best END
        )), x -> x IS NOT NULL))
    )
    """


@query("mmr_diversified_topk", oracle=_MMR_ORACLE)
def mmr_diversified_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-Marginal-Relevance diversified top-k (Carbonell &
    Goldstein, SIGIR 1998) — the standard RAG-serving re-rank that
    trades pure relevance for coverage: greedily select k={k} docs per
    query maximizing 0.7*rel - 0.3*max_sim_to_already_selected over an
    LSH-bucket-confined shortlist of R={r} candidates (the
    ann_lsh_adaptive candidate device).

    Determinism across engines: relevance and pairwise sims are the
    bit-exact sequential zip_with/list_reduce cosine, ROUNDed to 6dp
    BEFORE the greedy, so every engine computes the identical MMR score
    0.7*rel6 - 0.3*sim6 and the argmax (ties by doc id) can never
    diverge in a last ulp. The k selection steps are UNROLLED relational
    algebra — per step: an (i in-selected-j) max-sim aggregate, an
    anti-join exclusion, and a per-query argmax window — mirrored 1:1
    by the oracle's unrolled CTEs.

    Scale shape: candidates and the R^2-bounded sim relation are
    computed once and persisted (the k steps re-read them instead of
    re-deriving the LSH join; ContextCleaner reclaims the blocks when
    the plan is GC'd). All joins are equi on (query_id[, doc]) with
    per-query fan-out bounded by R={r} and R^2 — millions of queries
    parallelize on the query key with zero skew; nothing ever touches
    query x corpus."""
    keyed = _adaptive_keyed(_signed_vecs(spark, sf_dir))
    q = _queries(keyed, "bucket")
    c = _corpus(keyed, F.col("bucket").alias("cbucket"))
    return _mmr_from_pairs(
        q.join(
            c,
            (q.bucket == c.cbucket)
            & (F.col("neighbor_id") != F.col("query_id")),
        )
    )


def _mmr_from_pairs(pairs: DataFrame) -> DataFrame:
    """The MMR machinery downstream of ANY (query, candidate) pair
    source (shared by mmr_diversified_topk's inline LSH candidates and
    mmr_over_index's persisted-index candidates): the R best candidates
    per query by exact cosine (``rel`` = the 6dp cosine), pairwise sims
    over that R-bounded shortlist, then the k-step greedy as one fold
    per query."""
    w_r = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id")
    )
    cand = (
        pairs.withColumn("cos", F.expr(_COS_SPARK))
        .withColumn("rk", F.row_number().over(w_r))
        .filter(F.col("rk") <= _MMR_R)
        .select(
            "query_id",
            "neighbor_id",
            F.round("cos", 6).alias("rel"),
            "cv",
            "cn",
        )
        .persist()
    )
    a = cand.select(
        "query_id",
        F.col("neighbor_id").alias("i"),
        F.col("cv").alias("av"),
        F.col("cn").alias("an"),
    )
    b2 = cand.select(
        F.col("query_id").alias("q2"),
        F.col("neighbor_id").alias("j"),
        F.col("cv").alias("bv"),
        F.col("cn").alias("bn"),
    )
    sims = (
        a.join(
            b2,
            (a.query_id == b2.q2) & (F.col("i") != F.col("j")),
        )
        .withColumn(
            "sim",
            F.round(
                F.expr(
                    "aggregate(zip_with(av, bv, (x, y) -> x * y),"
                    " CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
                    " / (an * bn)"
                ),
                6,
            ),
        )
        .select("query_id", "i", "j", "sim")
    )
    candarr = cand.groupBy("query_id").agg(
        F.expr("collect_list(struct(neighbor_id AS id, rel))").alias(
            "cands"
        )
    )
    simsarr = sims.groupBy("query_id").agg(
        F.expr("collect_list(struct(i, j, sim))").alias("simsarr")
    )
    # the whole k-step greedy runs as ONE fold per query row: max-sim
    # of candidate c to the selected set, then argmax with ties by id —
    # order-independent over the collected arrays because the tie-break
    # is total. Raw (unrounded-from-rounded-inputs) scores order the
    # argmax exactly as the oracle's ORDER BY.
    fold = _mmr_fold_expr()
    return (
        candarr.join(simsarr, "query_id", "left")
        .withColumn(
            "simsarr",
            F.expr(
                "coalesce(simsarr, CAST(array() AS"
                " array<struct<i: bigint, j: bigint, sim: double>>))"
            ),
        )
        .select("query_id", F.explode(F.expr(fold)).alias("s"))
        .select(
            "query_id",
            F.col("s.id").alias("doc_id"),
            F.col("s.rel").alias("relevance"),
            F.expr("ROUND(s.max_sim, 6) + 0.0").alias("max_sim"),
            F.expr("ROUND(s.raw, 6) + 0.0").alias("mmr_score"),
            F.col("s.sel_rank").alias("sel_rank"),
        )
    )


mmr_diversified_topk.__doc__ = mmr_diversified_topk.__doc__.format(
    k=_MMR_K, r=_MMR_R
)


# ------------------------------------- MMR over the persisted ANN index

# same unrolled-greedy oracle, but candidates bucket at the INDEX's
# committed-count width (the ann_index_append serving contract) instead
# of the full-corpus adaptive width
_MMR_IDX_ORACLE = _MMR_ORACLE.replace(
    f"b AS (SELECT {_NBITS_SQL} AS nb FROM sig),",
    f"b AS (SELECT {_NBITS_SQL} AS nb FROM sig"
    f" WHERE {_INC_COMMIT_FILTER}),",
)
assert _MMR_IDX_ORACLE != _MMR_ORACLE  # the swap must have landed


@query("mmr_over_index", oracle=_MMR_IDX_ORACLE)
def mmr_over_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR diversified top-k SERVED OFF THE PERSISTED INDEX (r10
    serving-path composition, PLANS r10 queue): candidates come from the
    append-maintained bucket index at its recorded width — the
    ann_index_append contract — instead of being re-derived from the raw
    corpus per query batch, which is how a RAG stack actually runs
    (index maintained by ingest, re-rank reads it). Downstream the exact
    mmr_diversified_topk greedy applies (_mmr_from_pairs), so diversity
    semantics are identical; only the candidate source differs.

    Scale: the index read is bucket-partitioned parquet; the probe is an
    equi-join on the bucket key (the ann_index_probe_join shape — no
    driver IN-list), candidates cut to R per query before the R^2 sims
    relation. The oracle replays the same committed-width bucketing."""
    import os

    idx_dir, width = _append_bootstrap(spark, sf_dir)
    queries = _queries(
        _signed_vecs(spark, sf_dir),
        F.concat(
            F.lit("b"), F.expr(f"substring(signs, 1, {width})")
        ).alias("pbucket"),
    )
    index = _corpus(
        spark.read.parquet(os.path.join(idx_dir, "index.parquet")), "pbucket"
    )
    return _mmr_from_pairs(
        index.join(F.broadcast(queries), "pbucket").filter(
            F.col("neighbor_id") != F.col("query_id")
        )
    )

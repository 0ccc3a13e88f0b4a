"""Iterative clustering over the embeddings table — distributed Lloyd's
k-means, the trainer for the coarse quantizer the IVF ANN path
(operators/similarity.py:ann_ivf_probe) consumes.

The Spark shape is the canonical scalable one: centroids are
metadata-sized (k x dim doubles) and live driver-side between iterations;
each iteration broadcasts them, computes the per-row nearest-centroid
assignment as a whole-stage-codegen fold (no Python), and reduces the
per-dimension means with map-side partial aggregation. The corpus is
never collected and never shuffled except the k*dim-key mean reduction.

Cross-engine determinism: init is the k lowest-vec_id vectors; distances
fold over dimensions in index order with identical double arithmetic on
both engines; argmin ties break on cluster id; and every new centroid
coordinate is rounded to 6 decimals so the next iteration starts from
bit-identical values on both engines (the same device the dedup cosine
ops use). The DuckDB oracle replays the identical schedule as a chained
CTE per iteration.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import query
from ..tables import load, session_memo

K = 4  # clusters
ITERS = 3  # Lloyd iterations (the last one fused into the returned plan)
DIM = 64  # embedding width of the fixture table

_DIST_SQL = (
    "list_reduce(list_prepend(CAST(0.0 AS DOUBLE),"
    f" list_transform(range(1, {DIM + 1}),"
    " j -> (x.v[CAST(j AS INT)] - c.v[CAST(j AS INT)])"
    " * (x.v[CAST(j AS INT)] - c.v[CAST(j AS INT)]))),"
    " (acc, y) -> acc + y)"
)


def kmeans_cent_ctes() -> tuple[list[str], str]:
    """The chained-CTE replay of the TRAINING schedule (c0 = init, then
    ITERS-1 rounds of assign + re-estimate): returns (ctes, final) with
    `final` naming the trained (cid, v) centroid set — shared by
    _kmeans_oracle and ann_ivf_pq_trained's oracle so the two can never
    drift."""
    ctes = [
        "v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v"
        " FROM embeddings)",
        "c0 AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1"
        f" AS BIGINT) AS cid, v FROM (SELECT vec_id, v FROM v"
        f" ORDER BY vec_id LIMIT {K}))",
    ]
    for i in range(1, ITERS):
        ctes.append(
            f"a{i} AS (SELECT vec_id, v, cid FROM ("
            f" SELECT x.vec_id, x.v, c.cid,"
            f" ROW_NUMBER() OVER (PARTITION BY x.vec_id"
            f" ORDER BY {_DIST_SQL}, c.cid) AS rn"
            f" FROM v x CROSS JOIN c{i - 1} c) WHERE rn = 1)"
        )
        ctes.append(
            f"c{i} AS (SELECT cid, list(m ORDER BY pos) AS v FROM ("
            f" SELECT cid, pos, ROUND(AVG(a.v[CAST(pos AS INT)]), 6)"
            f" AS m FROM a{i} a CROSS JOIN"
            f" (SELECT unnest(range(1, {DIM + 1})) AS pos) p"
            f" GROUP BY cid, pos) GROUP BY cid)"
        )
    return ctes, f"c{ITERS - 1}"


def _kmeans_oracle() -> str:
    """Chained-CTE replay of the iteration schedule: c0 = init, then
    ITERS rounds of (assign a{i} against c{i-1}, centroids c{i} from
    a{i}); report counts from the last assignment and the first two
    dimensions of the centroids it induces."""
    ctes, final = kmeans_cent_ctes()
    ctes = list(ctes)
    ctes.append(
        f"a{ITERS} AS (SELECT vec_id, v, cid FROM ("
        f" SELECT x.vec_id, x.v, c.cid,"
        f" ROW_NUMBER() OVER (PARTITION BY x.vec_id"
        f" ORDER BY {_DIST_SQL}, c.cid) AS rn"
        f" FROM v x CROSS JOIN {final} c) WHERE rn = 1)"
    )
    return (
        "WITH " + ",\n".join(ctes) + f"\n"
        f"SELECT cid AS cluster_id, CAST(COUNT(*) AS BIGINT) AS n_points,"
        f" ROUND(AVG(v[1]), 6) AS c_dim1, ROUND(AVG(v[2]), 6) AS c_dim2"
        f" FROM a{ITERS} GROUP BY cid"
    )


def _assign(emb: DataFrame, cdf: DataFrame) -> DataFrame:
    """Nearest-centroid assignment: broadcast the k-row centroid table,
    fold the squared distance dimension-by-dimension (codegen, index
    order), argmin with cid tie-break via min_by over a (dist, cid)
    struct. All k candidates for a vector are produced by the same task
    (broadcast cross join), so the partial min_by collapses them
    map-side — the exchange carries one row per vector, where a window
    argmin would shuffle and sort all k*N candidates."""
    dist = F.expr(
        "aggregate(zip_with(v, c, (a, b) -> (a - b) * (a - b)),"
        " CAST(0.0 AS DOUBLE), (acc, y) -> acc + y)"
    )
    return (
        emb.crossJoin(F.broadcast(cdf))
        .withColumn("dist", dist)
        .groupBy("vec_id")
        .agg(
            F.min_by(
                F.struct("cid", "v"), F.struct("dist", "cid")
            ).alias("b")
        )
        .select("vec_id", F.col("b.v").alias("v"), F.col("b.cid").alias("cid"))
    )


def trained_centroids(
    spark: SparkSession, sf_dir: str
) -> list[tuple[int, list[float]]]:
    """The ITERS-1-round trained (cid, centroid) list — the exact
    centroid state kmeans_embeddings' returned plan assigns against.
    Factored so ann_ivf_pq_trained (similarity.py) can use the TRAINED
    coarse quantizer; every coordinate is 6dp-rounded each round, so
    the set is bit-identical cross-engine and the DuckDB chained-CTE
    replay reproduces it exactly.

    Session-memoized (tables.session_memo): a pipeline trains its
    quantizer once per corpus; kmeans_embeddings and ann_ivf_pq_trained
    both consume the same training run."""
    return session_memo(
        "centroids", spark, sf_dir, (), lambda: _train_centroids(spark, sf_dir)
    )


def _train_centroids(spark: SparkSession, sf_dir: str):
    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("v"),
    )
    init = emb.orderBy("vec_id").limit(K).collect()
    cents = [(int(i), [float(x) for x in r["v"]]) for i, r in enumerate(init)]
    for _ in range(ITERS - 1):
        cdf = spark.createDataFrame(cents, "cid bigint, c array<double>")
        assigned = _assign(emb, cdf)
        rows = (
            assigned.select("cid", F.posexplode("v").alias("pos", "val"))
            .groupBy("cid", "pos")
            .agg(F.round(F.avg("val"), 6).alias("m"))
            .collect()
        )
        by_cid: dict[int, dict[int, float]] = {}
        for r in rows:
            by_cid.setdefault(r["cid"], {})[r["pos"]] = r["m"]
        cents = [
            (cid, [dims[p] for p in sorted(dims)])
            for cid, dims in sorted(by_cid.items())
        ]
    return cents


@query("kmeans_embeddings", oracle=_kmeans_oracle())
def kmeans_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed k-means (k={K}, {ITERS} Lloyd iterations) over the
    embedding corpus: the iterative-algorithm family member beyond
    dedup_connected_components, and the trainer for ann_ivf_probe's
    centroid table.

    The driver loop runs ITERS-1 explicit rounds — each collects only the
    k x dim centroid matrix (metadata) and re-broadcasts it as literals —
    and the returned plan fuses the last assign + re-estimate step, so
    the harness hash-checks the full schedule end to end."""
    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("v"),
    )
    cents = trained_centroids(spark, sf_dir)
    cdf = spark.createDataFrame(cents, "cid bigint, c array<double>")
    return (
        _assign(emb, cdf)
        .groupBy(F.col("cid").alias("cluster_id"))
        .agg(
            F.count("*").alias("n_points"),
            F.round(F.avg(F.element_at("v", 1)), 6).alias("c_dim1"),
            F.round(F.avg(F.element_at("v", 2)), 6).alias("c_dim2"),
        )
    )


_NCC_ORACLE = """
WITH x AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
comp AS (
  SELECT x.label, u.pos, AVG(x.v[CAST(u.pos AS INT)]) AS m
  FROM x, LATERAL unnest(range(1, len(x.v) + 1)) AS u(pos)
  GROUP BY x.label, u.pos
),
cents AS (
  SELECT label AS c_label,
         list(ROUND(m, 6) ORDER BY pos) AS c
  FROM comp GROUP BY label
),
scored AS (
  SELECT x.vec_id, x.label, c.c_label,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           list_transform(range(1, len(x.v) + 1),
             i -> x.v[i] * c.c[i])),
           (acc, y) -> acc + y)
         / sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
             list_transform(x.v, y -> y * y)), (acc, y) -> acc + y))
         / sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
             list_transform(c.c, y -> y * y)), (acc, y) -> acc + y))
           AS cos
  FROM x CROSS JOIN cents c
),
pred AS (
  SELECT vec_id, label, c_label FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                 ORDER BY cos DESC, c_label) AS rk
    FROM scored
  ) WHERE rk = 1
)
SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vecs,
       CAST(SUM(CASE WHEN c_label = label THEN 1 ELSE 0 END) AS BIGINT)
         AS n_correct,
       ROUND(SUM(CASE WHEN c_label = label THEN 1.0 ELSE 0.0 END)
             / COUNT(*), 6) AS accuracy
FROM pred GROUP BY label
"""


@query("knn_centroid_label_eval", oracle=_NCC_ORACLE)
def knn_centroid_label_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-centroid classification report over the embedding space:
    per-label mean vectors (the Rocchio classifier), every vector
    classified to its most-cosine-similar centroid, accuracy reported
    per true label — the standard cheap probe of whether an embedding
    space separates its labels (run after every retraining, before any
    expensive kNN eval). Centroid components round to 6 decimals on both
    engines before scoring so cross-engine float summation order cannot
    flip a near-tie argmax.

    Plan: centroid computation explodes (label, dim_pos, value) and
    partial-aggregates map-side, so the shuffle carries |labels| x dim
    rows, not vectors; the labels x dim centroid table is metadata-sized
    and BROADCASTS back onto one corpus pass for scoring (same posture
    as ann_ivf_probe's centroid probe); the final reduce is per-label.
    No vector ever shuffles twice."""
    x = load(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.expr("transform(embedding, y -> CAST(y AS DOUBLE))").alias("v"),
    )
    comp = (
        x.select(
            "label", F.posexplode("v").alias("pos", "val")
        )
        .groupBy("label", "pos")
        .agg(F.avg("val").alias("m"))
    )
    cents = comp.groupBy(F.col("label").alias("c_label")).agg(
        F.expr(
            "transform(array_sort(collect_list(struct(pos, m))),"
            " s -> round(s.m, 6))"
        ).alias("c")
    )
    scored = x.crossJoin(F.broadcast(cents)).withColumn(
        "cos",
        F.expr(
            "aggregate(zip_with(v, c, (a, b) -> a * b),"
            " CAST(0.0 AS DOUBLE), (acc, y) -> acc + y)"
            " / sqrt(aggregate(transform(v, y -> y * y),"
            "   CAST(0.0 AS DOUBLE), (acc, y) -> acc + y))"
            " / sqrt(aggregate(transform(c, y -> y * y),"
            "   CAST(0.0 AS DOUBLE), (acc, y) -> acc + y))"
        ),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("vec_id").orderBy(
        F.col("cos").desc(), F.col("c_label")
    )
    pred = (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("label", "c_label")
    )
    return pred.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.sum((F.col("c_label") == F.col("label")).cast("int"))
        .cast("bigint")
        .alias("n_correct"),
        F.round(
            F.sum((F.col("c_label") == F.col("label")).cast("double"))
            / F.count(F.lit(1)),
            6,
        ).alias("accuracy"),
    )


# ------------------------------------------------- PCA (power iteration)

_PCA_ITERS = 3
_PCA_QSCALE = 127  # int8-style quantization of the input vectors
_PCA_WDIV = 10_000_000  # rescale of the unnormalized iterate
_PCA_VSCALE = 1_000_000  # micro-unit scale of the unit iterate


def _pca_oracle() -> str:
    """Chained-CTE replay of the integer power-iteration schedule."""
    ctes = [
        "x AS (SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]),"
        f" e -> CAST(ROUND(e * {_PCA_QSCALE}) AS BIGINT)) AS xi"
        " FROM embeddings)",
        f"v0 AS (SELECT list_prepend(CAST({_PCA_VSCALE} AS BIGINT),"
        " list_transform(range(2, 65), i -> CAST(0 AS BIGINT))) AS v)",
    ]
    for t in range(1, _PCA_ITERS + 1):
        ctes.append(
            f"s{t} AS (SELECT vec_id, xi,"
            " CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),"
            " list_transform(range(1, 65),"
            " i -> xi[CAST(i AS INT)] * v[CAST(i AS INT)])),"
            f" (a, b) -> a + b) AS BIGINT) AS s FROM x, v{t - 1})"
        )
        ctes.append(
            f"w{t} AS (SELECT CAST(pos AS BIGINT) AS pos,"
            " CAST(CAST(SUM(xi[CAST(pos AS INT)] * s) AS BIGINT)"
            f" // {_PCA_WDIV} AS BIGINT) AS wr"
            f" FROM s{t}, LATERAL unnest(range(1, 65)) AS u(pos)"
            " GROUP BY pos)"
        )
        if t < _PCA_ITERS:
            ctes.append(
                f"n{t} AS (SELECT CAST(FLOOR(SQRT(CAST(SUM(wr * wr)"
                f" AS DOUBLE))) AS BIGINT) AS nrm FROM w{t})"
            )
            ctes.append(
                f"v{t} AS (SELECT list((wr * {_PCA_VSCALE}) // nrm"
                f" ORDER BY pos) AS v FROM w{t}, n{t})"
            )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
    SELECT pos, wr,
           CAST((wr * {_PCA_VSCALE}) //
             CAST(FLOOR(SQRT(CAST(SUM(CAST(wr AS DECIMAL(38,0)) * wr)
               OVER () AS DOUBLE))) AS BIGINT) AS BIGINT) AS loading_micro
    FROM w{_PCA_ITERS}
    """
    )


@query("pca_power_component", oracle=_pca_oracle())
def pca_power_component(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal direction of the embedding corpus by power iteration
    ({it} rounds), matrix-free: w <- X^T (X v) — two corpus-wide folds
    per round, never a materialized covariance (dim^2 would be fine here,
    but the X^T X v formulation is the one that survives dim in the
    thousands). The direction a pipeline uses for the all-but-the-top
    PCA debiasing step (Mu & Viswanath 2018) and as a 1-d projection for
    stratifying/sharding an embedding corpus.

    Every quantity is an exact integer, which is what makes this
    iterative float algorithm hash-checkable across engines: inputs
    quantize to int8-range (the ann_rerank_quantized device), the
    iterate lives in micro-units, each round rescales by integer
    division (truncation toward zero — probed IDENTICAL in Spark DIV
    and DuckDB //), and the only floats are FLOOR(SQRT(exact int)) with
    both arguments and results pinned by IEEE semantics. The driver
    collects just the 64-row iterate per round (kmeans' metadata-collect
    pattern) and the final round runs inside the returned plan, with the
    norm attached via a window over the 64-row grid (DECIMAL(38,0)
    squares — wr^2 overflows BIGINT at the x100 scaleproof size).

    Scale: per round, one map-only fold over the corpus (broadcast
    literal iterate) + one 64-key aggregation; shuffle volume is
    64 rows x partitions, independent of corpus size."""
    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.expr(
            f"transform(embedding,"
            f" e -> CAST(ROUND(CAST(e AS DOUBLE) * {_PCA_QSCALE}) AS BIGINT))"
        ).alias("xi"),
    )

    def w_grid(vlit: list[int]):
        # ONE parsed array expression, not 64 F.lit(..).cast(..) py4j
        # round trips per iteration (the privacy_dp_counts batch-1
        # lesson); the literal is byte-identical in the plan
        varr = F.expr(
            "array(" + ", ".join(f"{int(x)}L" for x in vlit) + ")"
        )
        s = F.expr(
            "aggregate(zip_with(xi, vlit, (a, b) -> a * b),"
            " CAST(0 AS BIGINT), (a, b) -> a + b)"
        )
        return (
            emb.withColumn("vlit", varr)
            .withColumn("s", s)
            .select(F.posexplode("xi").alias("pos0", "val"), "s")
            .groupBy((F.col("pos0") + 1).cast("bigint").alias("pos"))
            .agg(
                F.expr(
                    f"CAST(CAST(SUM(val * s) AS BIGINT)"
                    f" DIV {_PCA_WDIV} AS BIGINT)"
                ).alias("wr")
            )
        )

    import math

    v = [_PCA_VSCALE] + [0] * 63
    for _ in range(_PCA_ITERS - 1):
        rows = w_grid(v).collect()
        wr = [r["wr"] for r in sorted(rows, key=lambda r: r["pos"])]
        nrm = math.floor(math.sqrt(float(sum(w * w for w in wr))))
        # truncation toward zero, matching Spark DIV / DuckDB //
        v = [
            (abs(w) * _PCA_VSCALE // nrm) * (1 if w >= 0 else -1)
            for w in wr
        ]
    nrm_col = F.expr(
        "CAST(FLOOR(SQRT(CAST(SUM(CAST(wr AS DECIMAL(38,0)) * wr)"
        " OVER (ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)"
        " AS DOUBLE))) AS BIGINT)"
    )
    return w_grid(v).select(
        "pos",
        "wr",
        F.expr(
            f"CAST((wr * {_PCA_VSCALE}) AS BIGINT)"
        ).alias("_wnum"),
        nrm_col.alias("_nrm"),
    ).select(
        "pos",
        "wr",
        F.expr("_wnum DIV _nrm").cast("bigint").alias("loading_micro"),
    )


pca_power_component.__doc__ = pca_power_component.__doc__.format(
    it=_PCA_ITERS
)


# ---------------------------------------- capacity-balanced assignment

_BAL_CENT_MOD = 89  # deterministic centroid seeds (the ann_ivf_probe device)
_BAL_K = 32  # FIXED codebook size: seeds capped at vec_id < 89*32, so the
# assignment join is N x K LINEAR in the corpus — the uncapped %89 form
# grows K with N and made assignment N^2/89 (OOM-killed the x100
# scaleproof; same lesson as the PQ codebook's fixed-K device). At the
# test SFs (N <= 2000 < 2848) the bound never binds, so results are
# unchanged; at scale K is a knob you raise deliberately, not a value
# that silently tracks corpus size.
# capacity = ceil(11*N / 10K), computed as EXACT integer ceiling on both
# engines (ADVICE r9): Python's math.ceil(1.1*n/k) evaluates 1.1*n as a
# double (1.1*220 = 242.00000000000003 -> ceil 23 per cell of 10) while
# DuckDB's DECIMAL product gives the exact 242.0 -> ceil 22; whenever
# 11N is divisible by 10K the two caps differ by one and the kept/spilled
# sets shift. Integer form has no rounding at all.
_BAL_SLACK_NUM = 11
_BAL_SLACK_DEN = 10
_BAL_SEED_SQL = (
    f"vec_id % {_BAL_CENT_MOD} = 0 AND vec_id < {_BAL_CENT_MOD * _BAL_K}"
)

# the oracle twin of _balanced_round1: centroids, cap, ranked choices,
# first choices ranked within their centroid, and those within the cap
_BAL_ROUND1_SQL = f"""
WITH vecs AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
              list_transform(CAST(embedding AS DOUBLE[]), x -> x * x)),
              (acc, x) -> acc + x)) AS nrm
  FROM embeddings
),
cents AS (
  SELECT vec_id AS cent_id, v AS cv, nrm AS cn FROM vecs
  WHERE {_BAL_SEED_SQL}
),
cap AS (
  SELECT CAST(({_BAL_SLACK_NUM} * (SELECT COUNT(*) FROM vecs)
               + {_BAL_SLACK_DEN} * (SELECT COUNT(*) FROM cents) - 1)
              // ({_BAL_SLACK_DEN} * (SELECT COUNT(*) FROM cents))
         AS BIGINT) AS cap
),
ranked AS (
  SELECT x.vec_id, c.cent_id,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           list_transform(range(1, len(x.v) + 1), i -> x.v[i] * c.cv[i])),
           (acc, y) -> acc + y) / (x.nrm * c.cn) AS cos,
         ROW_NUMBER() OVER (PARTITION BY x.vec_id ORDER BY
           list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
             list_transform(range(1, len(x.v) + 1), i -> x.v[i] * c.cv[i])),
             (acc, y) -> acc + y) / (x.nrm * c.cn) DESC, c.cent_id)
           AS choice_rk
  FROM vecs x CROSS JOIN cents c
),
first_choice AS (
  SELECT vec_id, cent_id, cos,
         ROW_NUMBER() OVER (PARTITION BY cent_id
                            ORDER BY cos DESC, vec_id) AS cap_rk
  FROM ranked WHERE choice_rk = 1
),
kept AS (
  SELECT f.vec_id, f.cent_id, f.cos, 1 AS choice
  FROM first_choice f, cap WHERE f.cap_rk <= cap.cap
)"""

_BAL_ORACLE = f"""{_BAL_ROUND1_SQL},
spilled AS (
  SELECT r.vec_id, r.cent_id, r.cos, 2 AS choice
  FROM ranked r
  JOIN (SELECT f.vec_id FROM first_choice f, cap
        WHERE f.cap_rk > cap.cap) o ON o.vec_id = r.vec_id
  WHERE r.choice_rk = 2
)
SELECT vec_id, CAST(cent_id AS BIGINT) AS cent_id,
       ROUND(cos, 6) AS cosine, CAST(choice AS INT) AS choice
FROM (SELECT * FROM kept UNION ALL SELECT * FROM spilled)
"""


def _cell_rank():
    """A vector's rank among the vectors competing for its centroid:
    cosine desc, ties by vec_id."""
    from pyspark.sql import Window

    return F.row_number().over(
        Window.partitionBy("cent_id").orderBy(
            F.col("cos").desc(), F.col("vec_id")
        )
    )


def _balanced_round1(spark: SparkSession, sf_dir: str):
    """The round both balanced assignments share. Returns ``(ranked,
    first, kept, cap)``: every vector's seed centroids ranked by cosine
    (``ranked``: vec_id, cent_id, cos, choice_rk; checkpointed), the
    first choices ranked within their centroid (``first``: + cap_rk),
    the first choices within the cap (``kept``: vec_id, cent_id, cos,
    choice = 1), and the cap itself."""
    from pyspark.sql import Window

    vecs = load(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("v"),
    ).withColumn(
        "nrm",
        F.expr(
            "sqrt(aggregate(transform(v, x -> x * x),"
            " CAST(0.0 AS DOUBLE), (acc, x) -> acc + x))"
        ),
    )
    cents = F.broadcast(
        vecs.filter(F.expr(_BAL_SEED_SQL)).select(
            F.col("vec_id").alias("cent_id"),
            F.col("v").alias("cv"),
            F.col("nrm").alias("cn"),
        )
    )
    n = vecs.count()
    k = vecs.filter(F.expr(_BAL_SEED_SQL)).count()
    # exact ceil(11n/10k) — see _BAL_SLACK_NUM comment for why not float
    cap = -(-_BAL_SLACK_NUM * n // (_BAL_SLACK_DEN * k))
    w_choice = Window.partitionBy("vec_id").orderBy(
        F.col("cos").desc(), F.col("cent_id")
    )
    ranked = (
        vecs.crossJoin(cents)
        .withColumn(
            "cos",
            F.expr(
                "aggregate(zip_with(v, cv, (x, y) -> x * y),"
                " CAST(0.0 AS DOUBLE), (acc, x) -> acc + x) / (nrm * cn)"
            ),
        )
        .withColumn("choice_rk", F.row_number().over(w_choice))
        .select("vec_id", "cent_id", "cos", "choice_rk")
        .localCheckpoint()
    )
    first = ranked.filter(F.col("choice_rk") == 1).withColumn(
        "cap_rk", _cell_rank()
    )
    kept = first.filter(F.col("cap_rk") <= cap).select(
        "vec_id", "cent_id", "cos", F.lit(1).alias("choice")
    )
    return ranked, first, kept, cap


@query("kmeans_balanced_assign", oracle=_BAL_ORACLE)
def kmeans_balanced_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capacity-balanced cluster assignment — the shard-balancing step
    IVF serving and semdedup both need at scale (a nearest-centroid
    assignment on real data is power-law skewed; a cell holding 30% of
    the corpus becomes the straggler of every probe): each vector's
    centroids are ranked by cosine; a centroid keeps only its cap =
    ceil({slack} * N/K) best first-choice vectors (by cosine, ties by
    id); everything past the cap spills to its SECOND-choice centroid —
    the standard one-round spill heuristic (full balance is an
    assignment-problem; one round bounds every cell at cap + spill-in,
    which the invariant test pins).

    Determinism: the bit-exact sequential cosine everywhere, total
    tie-breaks, and an integer cap computed identically on both
    engines. Scale: K centroids broadcast (the ann_ivf_probe device);
    both windows partition on high-cardinality keys (vec_id; cent_id
    with per-cell fan-in bounded by the first-choice set); output is
    one row per vector."""
    ranked, first, kept, cap = _balanced_round1(spark, sf_dir)
    spilled = (
        ranked.filter(F.col("choice_rk") == 2)
        .join(
            first.filter(F.col("cap_rk") > cap).select("vec_id"),
            "vec_id",
        )
        .select("vec_id", "cent_id", "cos", F.lit(2).alias("choice"))
    )
    return kept.unionByName(spilled).select(
        "vec_id",
        F.col("cent_id").cast("bigint").alias("cent_id"),
        F.round("cos", 6).alias("cosine"),
        F.col("choice").cast("int").alias("choice"),
    )


kmeans_balanced_assign.__doc__ = kmeans_balanced_assign.__doc__.format(
    slack=f"{_BAL_SLACK_NUM}/{_BAL_SLACK_DEN}"
)


# ---------------------------------- balanced assignment, 2-round strict

_BAL2_ORACLE = f"""{_BAL_ROUND1_SQL},
load1 AS (
  SELECT cent_id, CAST(COUNT(*) AS BIGINT) AS used FROM kept GROUP BY cent_id
),
second AS (
  SELECT r.vec_id, r.cent_id, r.cos,
         ROW_NUMBER() OVER (PARTITION BY r.cent_id
                            ORDER BY r.cos DESC, r.vec_id) AS rk2
  FROM ranked r
  JOIN (SELECT f.vec_id FROM first_choice f, cap
        WHERE f.cap_rk > cap.cap) o ON o.vec_id = r.vec_id
  WHERE r.choice_rk = 2
),
kept2 AS (
  SELECT s.vec_id, s.cent_id, s.cos, 2 AS choice
  FROM second s CROSS JOIN cap
  LEFT JOIN load1 l ON l.cent_id = s.cent_id
  WHERE s.rk2 <= cap.cap - COALESCE(l.used, 0)
),
third AS (
  SELECT r.vec_id, r.cent_id, r.cos, 3 AS choice
  FROM ranked r
  JOIN (SELECT s.vec_id FROM second s CROSS JOIN cap
        LEFT JOIN load1 l ON l.cent_id = s.cent_id
        WHERE s.rk2 > cap.cap - COALESCE(l.used, 0)) o2
    ON o2.vec_id = r.vec_id
  WHERE r.choice_rk = 3
)
SELECT vec_id, CAST(cent_id AS BIGINT) AS cent_id,
       ROUND(cos, 6) AS cosine, CAST(choice AS INT) AS choice
FROM (SELECT * FROM kept UNION ALL SELECT * FROM kept2
      UNION ALL SELECT * FROM third)
"""


@query("kmeans_balanced_assign_r2", oracle=_BAL2_ORACLE)
def kmeans_balanced_assign_r2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-round capacity-balanced assignment (PLANS r10 queue:
    spill-cap enforcement at choice 2): round 1 is
    kmeans_balanced_assign's keep-top-cap-per-centroid; round 2 ranks
    the spilled vectors per SECOND-choice centroid and admits only up to
    that centroid's REMAINING capacity (cap - round-1 load), so after
    two rounds every cell's choice-1+2 load is <= cap exactly — round
    1's one-round form only bounds it by cap + spill-in. Whatever still
    overflows lands at its third choice (choice = 3), the trivially
    repeatable next round.

    Exactness: the same integer cap and bit-exact sequential cosine as
    round 1; remaining capacity is integer arithmetic over the
    broadcast K-row round-1 load table, so admission can never diverge
    cross-engine. Scale: two windows on high-cardinality keys plus one
    K-row broadcast — same shape as round 1, one more pass."""
    ranked, first, kept, cap = _balanced_round1(spark, sf_dir)
    load1 = kept.groupBy("cent_id").agg(
        F.count("*").cast("bigint").alias("used")
    )
    overflow1 = first.filter(F.col("cap_rk") > cap).select("vec_id")
    second = (
        ranked.filter(F.col("choice_rk") == 2)
        .join(overflow1, "vec_id")
        .withColumn("rk2", _cell_rank())
    )
    with_cap = second.join(F.broadcast(load1), "cent_id", "left").withColumn(
        "remaining", F.lit(cap) - F.coalesce(F.col("used"), F.lit(0))
    )
    kept2 = with_cap.filter(F.col("rk2") <= F.col("remaining")).select(
        "vec_id", "cent_id", "cos", F.lit(2).alias("choice")
    )
    overflow2 = with_cap.filter(F.col("rk2") > F.col("remaining")).select(
        "vec_id"
    )
    third = (
        ranked.filter(F.col("choice_rk") == 3)
        .join(overflow2, "vec_id")
        .select("vec_id", "cent_id", "cos", F.lit(3).alias("choice"))
    )
    return kept.unionByName(kept2).unionByName(third).select(
        "vec_id",
        F.col("cent_id").cast("bigint").alias("cent_id"),
        F.round("cos", 6).alias("cosine"),
        F.col("choice").cast("int").alias("choice"),
    )

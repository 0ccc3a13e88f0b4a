"""Deduplication operators over the documents/embeddings tables — the
training-data-pipeline dedup suite: exact, n-gram Jaccard, MinHash+LSH,
SimHash, and embedding-cosine near-dup.

Every operator is deterministic and cross-engine reproducible so the DuckDB
oracle can check it exactly: hashes are md5 (identical hex in both engines),
folds state their accumulation order, and near-dup pairs are *verified*
(exact Jaccard / hamming / cosine) after candidate generation, which is the
shape a production pipeline uses anyway (LSH proposes, exact check disposes).

Because the synthetic corpus has no natural near-dups, each near-dup op runs
over ``corpus`` = documents UNION a deterministic mutation of each document
(doc_id + 1_000_000, text truncated to the first 4/5 of its tokens) — the
mutation pairs are the ground truth the op must find.

Scale design (100 TB):
- exact: shuffle on a 16-byte digest, never on the text itself.
- minhash-lsh: per-doc signature is a narrow shuffle; the band join explodes
  only docs sharing a band key (output-linear, not O(n^2)); the shingled
  corpus feeding the signature AND both verify branches is persisted once.
- ngram-jaccard: blocked on (lang, length-band). The band is LOSSLESS for
  the 0.5 threshold (J >= t implies a size ratio >= t, so floor(log2 size)
  differs by at most 1; each doc probes its own and the next band), which
  is why the oracle needs no blocking — identical results prove it. The
  lossy-but-linear blocking beyond that IS dedup_minhash_lsh.
- simhash: candidate pairs only via 16-bit block-key equality (two hash-join
  passes), verified with bit_count — no full cross join anywhere.
- embedding: blocked on (label, sign-LSH bucket) — label stands in for an
  IVF coarse quantizer; the 4-sign-bit bucket (shared with
  similarity.ann_lsh_buckets) confines the quadratic term. Sign bucketing
  is deterministic so the oracle mirrors it exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import query
from ..tables import build_once, load, maybe_spread, once_in, session_memo

MUT_OFFSET = 1_000_000

# ---------------------------------------------------------------- corpus

_CORPUS_SQL = """
base AS (
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
)
"""


def _corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The hashing stages downstream are CPU-bound narrow maps; a small input
    # (one parquet file -> 1-2 scan partitions) would serialize them onto two
    # cores. Spread the corpus ONLY when the scan itself is under-partitioned
    # (filesystem width probe — tables.maybe_spread).
    docs = maybe_spread(
        load(spark, sf_dir, "documents"), sf_dir, "documents", "doc_id"
    )
    base = docs.select("doc_id", F.split("text", " ").alias("toks"), "lang")
    mut = base.select(
        (F.col("doc_id") + MUT_OFFSET).alias("doc_id"),
        F.expr("slice(toks, 1, greatest(3, (size(toks) * 4) div 5))").alias(
            "toks"
        ),
        "lang",
    )
    return base.unionByName(mut)


def _shingled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, lang, sh_set): distinct word-3-gram shingles per corpus doc.

    Persisted and memoized per (session, sf_dir): the shingle subtree feeds
    the jaccard block join, the minhash signature branch, AND both verify
    branches — without the persist Spark recomputes scan->split->shingle for
    each consumer (it was the slowest headline query's dominant cost).

    A BOUNDED number of corpus dirs is cached per session
    (tables.session_memo): mutating a dir's files in place evicts exactly
    that dir's stale entry (the key carries the listing fingerprint),
    switching dirs keeps recent corpora warm (an alternating
    sf0.01/sf0.1 sweep alternates hits, ADVICE r10), and beyond the
    bound the oldest dir is unpersisted — so a long-lived session
    iterating many corpus dirs can't accumulate persisted RDDs or read
    stale data."""
    return session_memo(
        "shingled", spark, sf_dir, (),
        lambda: _corpus(spark, sf_dir).select(
            "doc_id",
            "lang",
            F.expr(
                "CASE WHEN size(toks) >= 3 THEN "
                "  array_distinct(transform(sequence(0, size(toks) - 3),"
                "    i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])))"
                "ELSE array(concat_ws(' ', toks)) END"
            ).alias("sh_set"),
        ).persist(),
        release=lambda df: df.unpersist(),
    )


# ---------------------------------------------------------------- exact


@query(
    "dedup_exact",
    oracle="""
    SELECT MIN(doc_id) AS keep_doc_id, CAST(COUNT(*) AS BIGINT) AS n_copies
    FROM documents GROUP BY md5(text)
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on the content digest, keep lowest doc_id.
    Grouping on the 16-byte digest (not the text) keeps the shuffle narrow
    regardless of document size."""
    return (
        load(spark, sf_dir, "documents")
        .groupBy(F.md5("text").alias("h"))
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count("*").alias("n_copies"),
        )
        .drop("h")
    )


# ---------------------------------------------------------------- jaccard


@query(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH {_CORPUS_SQL}
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           ROUND(CAST(len(list_intersect(a.sh_set, b.sh_set)) AS DOUBLE)
                 / (len(a.sh_set) + len(b.sh_set)
                    - len(list_intersect(a.sh_set, b.sh_set))), 6) AS jaccard
    FROM shingled a JOIN shingled b
      ON a.lang = b.lang AND a.doc_id < b.doc_id
    WHERE CAST(len(list_intersect(a.sh_set, b.sh_set)) AS DOUBLE)
          / (len(a.sh_set) + len(b.sh_set)
             - len(list_intersect(a.sh_set, b.sh_set))) >= 0.5
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard near-dup blocked on (lang, length-band): 3-gram
    shingle sets, |A∩B| / |A∪B| >= 0.5.

    The length band is floor(log2(|shingles|)) and each doc probes its own
    band and the next one up. This is LOSSLESS for the threshold: J >= 0.5
    forces min(|A|,|B|)/max(|A|,|B|) >= 0.5 (J <= min/max always), so the
    two floors differ by at most 1 and every qualifying pair shares a probe
    key. The oracle therefore stays the unblocked quadratic reference — a
    hash-match PROVES the blocking dropped nothing. The quadratic term is
    now per (lang, band) block instead of per lang (a ~20 TB block at
    corpus scale); pairs sharing two probe keys are deduped by distinct()."""
    sh = _shingled(spark, sf_dir).withColumn(
        "lband", F.floor(F.log2(F.size("sh_set")))
    )
    probed = sh.select(
        "doc_id",
        "lang",
        "sh_set",
        F.explode(
            F.array(F.col("lband"), F.col("lband") + F.lit(1))
        ).alias("bkey"),
    )
    a = probed.alias("a")
    b = probed.alias("b")
    inter = F.size(F.array_intersect(F.col("a.sh_set"), F.col("b.sh_set")))
    union = (
        F.size(F.col("a.sh_set")) + F.size(F.col("b.sh_set")) - inter
    )
    jac = inter.cast("double") / union
    return (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .filter(jac >= 0.5)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.round(jac, 6).alias("jaccard"),
        )
        .distinct()
    )


# ---------------------------------------------------------------- minhash-lsh

_N_HASH = 8  # 4 bands x 2 rows
_N_BANDS = 4

# Each minhash h{i} = min over the doc's shingles of md5("{i}|" + shingle):
# computed as a per-row array fold (list_min / array_min), so signature
# construction is a narrow map with NO shuffle — the only shuffles in the
# whole op are the band-bucket join and the verify joins.
_MINHASH_SQL = (
    "mh AS (\n  SELECT doc_id, "
    + ", ".join(
        f"list_min(list_transform(sh_set, s -> md5('{i}|' || s))) AS h{i}"
        for i in range(_N_HASH)
    )
    + "\n  FROM shingled\n),\n"
    + "bands AS (\n"
    + "  SELECT doc_id, band, band_key FROM (\n"
    + "    SELECT doc_id, unnest(["
    + ", ".join(
        f"struct_pack(band := {b}, band_key := h{2 * b} || h{2 * b + 1})"
        for b in range(_N_BANDS)
    )
    + "], recursive := true) FROM mh)\n"
    + "),\n"
    + """cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
)
"""
)


@query(
    "dedup_minhash_lsh",
    oracle=f"""
    WITH {_CORPUS_SQL}, {_MINHASH_SQL}
    SELECT c.doc_a, c.doc_b,
           ROUND(CAST(len(list_intersect(sa.sh_set, sb.sh_set)) AS DOUBLE)
                 / (len(sa.sh_set) + len(sb.sh_set)
                    - len(list_intersect(sa.sh_set, sb.sh_set))), 6) AS jaccard
    FROM cand c
    JOIN shingled sa ON sa.doc_id = c.doc_a
    JOIN shingled sb ON sb.doc_id = c.doc_b
    WHERE CAST(len(list_intersect(sa.sh_set, sb.sh_set)) AS DOUBLE)
          / (len(sa.sh_set) + len(sb.sh_set)
             - len(list_intersect(sa.sh_set, sb.sh_set))) >= 0.5
    """,
)
def dedup_minhash_lsh(
    spark: SparkSession,
    sf_dir: str,
    cand_gate: int | None = None,  # test seam; None -> _CAND_BROADCAST_MAX_PAIRS
) -> DataFrame:
    """MinHash + LSH near-dup: shingle -> 8 md5 minhashes -> 4 bands of 2 ->
    band-bucket self-join -> exact-Jaccard verification at >= 0.5.

    md5 minhashes (min over hex strings) are engine-portable. Signatures are
    a narrow per-row array fold (array_min over transform) — no explode, no
    shuffle — so at 100 TB the signature stage is a pure map over the corpus.
    The band join touches only colliding buckets (output-linear), and the
    verify step re-joins the shingle sets — candidates are few, so cheap.
    The band relation and its occupancy bound are session-memoized
    (_bands_with_bound) — the first call per (session, corpus) runs one
    bounded aggregation job to size the candidate set; later calls build
    plans without touching the cluster.
    """
    sh = _shingled(spark, sf_dir)
    bands, pair_bound = _bands_with_bound(spark, sf_dir)
    a = bands.alias("a")
    b = bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    gate = _CAND_BROADCAST_MAX_PAIRS if cand_gate is None else cand_gate
    return _minhash_verify_join(sh, cand, broadcast_cand=pair_bound <= gate)


# Broadcast the candidate set into the verify join only while its size is
# provably modest. The gate is the band-bucket occupancy bound
# sum_buckets C(occ, 2) — an upper bound on the band join's output
# (before distinct), computed as one linear aggregation over the band
# keys. The gate therefore never materializes candidates: at extreme dup
# rates (one hot bucket holding the whole corpus) it costs one count
# shuffle and answers "too big" without ever building the O(n^2) pair set.
_CAND_BROADCAST_MAX_PAIRS = 2_000_000  # ~ tens of MB of (doc_a, doc_b)


def _bands_with_bound(spark: SparkSession, sf_dir: str):
    """(persisted band relation, occupancy pair bound), session-memoized.
    The bound aggregation doubles as the action that materializes the
    persist, so a session pays the signature map ONCE: the candidate
    self-join (both branches) and every later call read the in-memory
    (doc_id, band, band_key) relation instead of re-deriving scan ->
    shingle -> 8 md5 minhashes. This closes both r7 findings about the
    gate: the extra linear pass it cost per query (VERDICT r7 task 4) and
    the eager Spark job it ran on EVERY plan-building call (ADVICE r7) —
    now at most one job per session/corpus. 4 narrow rows per doc; at
    real scale the persist spills to disk (MEMORY_AND_DISK default) and
    the bound is recomputed only when the corpus listing changes."""

    def derive():
        bands = _bands_of(_shingled(spark, sf_dir)).persist()
        # The bound sums C(occ, 2) in DOUBLE: the LONG product
        # count*(count-1) wraps negative past ~3e9 members in one bucket
        # — exactly the hot-bucket regime the gate guards — and a wrapped
        # bound would read small and FORCE the O(n^2) broadcast the gate
        # exists to prevent (ADVICE r7). Double never wraps; above 2^53
        # it is approximate-but-huge, which the <= gate compare reads
        # correctly as "too big".
        bound = (
            bands.groupBy("band", "band_key")
            .count()
            .agg(
                F.sum(
                    F.col("count").cast("double") * (F.col("count") - 1) / 2
                ).alias("pairs")
            )
            .first()["pairs"]
        )
        return bands, int(bound or 0)

    return session_memo(
        "bands", spark, sf_dir, (), derive,
        release=lambda hit: hit[0].unpersist(),
    )


def _minhash_verify_join(
    sh: DataFrame, cand: DataFrame, broadcast_cand: bool
) -> DataFrame:
    """Exact-Jaccard verification of LSH candidates, size-gated hint.

    Verify-join order matters: candidates are output-linear (small at sane
    dup rates), the shingle relation is the heavy side. Broadcasting cand
    makes the first join a map-side probe over sa — ONE shingle shuffle
    (meeting sb) instead of two. Measured 1.98 s -> 1.55 s at sf0.1,
    byte-identical (PLANS.md). The hint used to be unconditional with a
    prose escape hatch; since r7 the escape IS code: when the occupancy
    bound exceeds the gate the hint is dropped and AQE picks the build
    side at runtime (both plan shapes pinned in tests/test_plans.py)."""
    sa = sh.select(F.col("doc_id").alias("doc_a"), F.col("sh_set").alias("set_a"))
    sb = sh.select(F.col("doc_id").alias("doc_b"), F.col("sh_set").alias("set_b"))
    inter = F.size(F.array_intersect(F.col("set_a"), F.col("set_b")))
    union = F.size("set_a") + F.size("set_b") - inter
    jac = inter.cast("double") / union
    cand_hinted = F.broadcast(cand) if broadcast_cand else cand
    return (
        sa.join(cand_hinted, "doc_a")
        .join(sb, "doc_b")
        .filter(jac >= 0.5)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
    )


# ----------------------------------------- incremental minhash (band index)


def _bands_of(sh: DataFrame) -> DataFrame:
    """(doc_id, band, band_key) for a shingle relation: 8 md5 minhashes
    as a narrow per-row array_min map, 4 two-row bands, one explode."""
    mh = sh.select(
        "doc_id",
        *[
            F.array_min(
                F.expr(f"transform(sh_set, s -> md5(concat('{i}|', s)))")
            ).alias(f"h{i}")
            for i in range(_N_HASH)
        ],
    )
    return mh.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.concat(
                            F.col(f"h{2 * b}"), F.col(f"h{2 * b + 1}")
                        ).alias("band_key"),
                    )
                    for b in range(_N_BANDS)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "bb.band", "bb.band_key")


def _band_index_path(spark: SparkSession, sf_dir: str) -> str:
    """Build (once per source-content fingerprint) the persisted MinHash
    BAND INDEX of the committed corpus: (doc_id, band, band_key) parquet,
    partitioned by band. This is ann_index_persist's offline/online split
    applied to near-dup dedup — the committed side's signatures are paid
    once at commit time, and every later ingest batch joins the index
    instead of re-hashing the corpus. Built once per corpus listing
    (tables.build_once)."""
    import os

    def build(out):
        committed = _shingled(spark, sf_dir).filter(F.col("doc_id") < MUT_OFFSET)
        _bands_of(committed).write.partitionBy("band").mode("overwrite").parquet(
            os.path.join(out, "index.parquet")
        )

    return os.path.join(build_once("band_index", sf_dir, build), "index.parquet")


def append_band_index(spark: SparkSession, index_path: str, batch_bands: DataFrame) -> None:
    """Index MAINTENANCE: merge a new batch's bands into the persisted
    index — one O(batch) append write into the same band partitions, no
    rewrite of the committed partitions. Extends
    dedup_incremental_ledger's O(batch)-per-ingest contract from exact
    digests to near-dup bands; pytest pins that an appended batch is
    findable by the next batch's band join (tests/test_band_index.py)."""
    batch_bands.write.partitionBy("band").mode("append").parquet(index_path)


@query(
    "dedup_incremental_minhash",
    oracle=f"""
    WITH {_CORPUS_SQL}, {_MINHASH_SQL.replace('''cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
)''', f'''cand AS (
  SELECT DISTINCT a.doc_id AS doc_new, b.doc_id AS doc_seen
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_key = b.band_key
   AND a.doc_id >= {MUT_OFFSET} AND b.doc_id < {MUT_OFFSET}
)''')}
    SELECT c.doc_new, c.doc_seen,
           ROUND(CAST(len(list_intersect(sa.sh_set, sb.sh_set)) AS DOUBLE)
                 / (len(sa.sh_set) + len(sb.sh_set)
                    - len(list_intersect(sa.sh_set, sb.sh_set))), 6)
             AS jaccard
    FROM cand c
    JOIN shingled sa ON sa.doc_id = c.doc_new
    JOIN shingled sb ON sb.doc_id = c.doc_seen
    WHERE CAST(len(list_intersect(sa.sh_set, sb.sh_set)) AS DOUBLE)
          / (len(sa.sh_set) + len(sb.sh_set)
             - len(list_intersect(sa.sh_set, sb.sh_set))) >= 0.5
    """,
)
def dedup_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental NEAR-DUP dedup against a persisted MinHash band index
    (VERDICT r8 task 4a): the committed corpus's (doc_id, band, band_key)
    relation lives as parquet partitioned by band (built once, offline —
    _band_index_path); an ingest batch computes ONLY ITS OWN signatures
    (narrow O(batch) map), band-joins the index to find candidates among
    everything already committed, and exact-Jaccard-verifies at >= 0.5.
    dedup_incremental_ledger gives this contract for exact duplicates;
    this op gives it for near-duplicates — together an ingest pipeline
    drops both classes in O(batch) work per batch, never O(corpus).

    Fixture split: committed = the base documents, batch = the mutated
    80%-prefix twins (guaranteed near-dups of their base docs), so the
    oracle can replay the exact candidate and verify semantics from the
    shared corpus CTE.

    Scale shape: the index scan is partition-pruned by band; the band
    join shuffles batch bands (small) against index bands on
    (band, band_key) — at 100 TB bucket the index by band_key so the
    batch side co-partitions and the committed side never reshuffles.
    Verification joins shingle sets only for candidate pairs
    (output-linear). Maintenance is append_band_index: one O(batch)
    partition-append, no committed-partition rewrite."""
    idx = spark.read.parquet(_band_index_path(spark, sf_dir))
    return _probe_band_index(spark, sf_dir, idx)


def _probe_band_index(
    spark: SparkSession, sf_dir: str, idx: DataFrame
) -> DataFrame:
    """The ingest-batch probe/verify shared by dedup_incremental_minhash
    and the deletion twin: batch bands join `idx` for candidates among
    the committed side, exact Jaccard verifies at >= 0.5."""
    sh = _shingled(spark, sf_dir)
    batch_sh = sh.filter(F.col("doc_id") >= MUT_OFFSET)
    batch_bands = _bands_of(batch_sh)
    cand = (
        batch_bands.alias("a")
        .join(
            idx.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key")),
        )
        .select(
            F.col("a.doc_id").alias("doc_new"),
            F.col("b.doc_id").alias("doc_seen"),
        )
        .distinct()
    )
    sa = batch_sh.select(
        F.col("doc_id").alias("doc_new"), F.col("sh_set").alias("set_a")
    )
    sb = sh.filter(F.col("doc_id") < MUT_OFFSET).select(
        F.col("doc_id").alias("doc_seen"), F.col("sh_set").alias("set_b")
    )
    inter = F.size(F.array_intersect(F.col("set_a"), F.col("set_b")))
    union = F.size("set_a") + F.size("set_b") - inter
    jac = inter.cast("double") / union
    return (
        sa.join(cand, "doc_new")
        .join(sb, "doc_seen")
        .filter(jac >= 0.5)
        .select("doc_new", "doc_seen", F.round(jac, 6).alias("jaccard"))
    )


# --------------------------------------- band-index deletion (r12 twin)

# deterministic committed-side delete panel for the band index —
# intersects the near-dup pair graph's doc_seen side, so deletion
# visibly removes pairs the append-maintained index would report
_DEDUP_DELETED_FILTER = f"doc_id % 7 = 2 AND doc_id < {MUT_OFFSET}"


def delete_band_index(
    spark: SparkSession, index_path: str, deleted_ids: DataFrame
) -> None:
    """Index MAINTENANCE, delete leg for the near-dup band index: record
    deleted doc ids as a TOMBSTONE sidecar next to the index — one
    O(delete-batch) append, no band partition rewrite (ann_index_delete's
    device; the band index's compaction story differs — see
    dedup_index_delete's docstring)."""
    import os

    deleted_ids.select("doc_id").coalesce(1).write.mode("append").parquet(
        os.path.join(os.path.dirname(index_path), "tombstones.parquet")
    )


@query(
    "dedup_index_delete",
    oracle=f"""
    WITH {_CORPUS_SQL}, {_MINHASH_SQL.replace('''cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
)''', f'''cand AS (
  SELECT DISTINCT a.doc_id AS doc_new, b.doc_id AS doc_seen
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_key = b.band_key
   AND a.doc_id >= {MUT_OFFSET} AND b.doc_id < {MUT_OFFSET}
   AND NOT (b.doc_id % 7 = 2)
)''')}
    SELECT c.doc_new, c.doc_seen,
           ROUND(CAST(len(list_intersect(sa.sh_set, sb.sh_set)) AS DOUBLE)
                 / (len(sa.sh_set) + len(sb.sh_set)
                    - len(list_intersect(sa.sh_set, sb.sh_set))), 6)
             AS jaccard
    FROM cand c
    JOIN shingled sa ON sa.doc_id = c.doc_new
    JOIN shingled sb ON sb.doc_id = c.doc_seen
    WHERE CAST(len(list_intersect(sa.sh_set, sb.sh_set)) AS DOUBLE)
          / (len(sa.sh_set) + len(sb.sh_set)
             - len(list_intersect(sa.sh_set, sb.sh_set))) >= 0.5
    """,
)
def dedup_index_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup probe over a DELETE-MAINTAINED band index
    (r12): a panel of committed docs is taken down (tombstone sidecar —
    delete_band_index, one O(batch) write), and the next ingest batch's
    probe must no longer report candidate pairs against them — the
    dedup twin of ann_index_delete, closing the same corpus-churn gap
    (takedowns and opt-outs remove documents as often as ingest adds
    them; a dedup index that can't forget keeps matching against
    removed content). Serving anti-joins the broadcast tombstone set on
    the index side BEFORE the band join, so deleted docs produce no
    candidates at all (not top-k-displaced like ANN — every surviving
    pair is emitted, which the oracle pins by excluding the panel from
    the committed band side).

    Compaction note: the band index partitions on `band` (4 hot
    partitions), so the ANN twin's dirty-BUCKET rewrite has no
    per-tombstone pruning here — a delete-heavy deployment
    sub-partitions on (band, key-prefix) to get it back, and until a
    rewrite runs the serve-side anti-join is the mechanism (tombstone
    set bounded by the delete log, broadcast)."""
    import os

    index_path = _band_index_path(spark, sf_dir)
    base = os.path.dirname(index_path)
    once_in(
        "band_index", base, "_tombstoned",
        lambda _dir: delete_band_index(
            spark, index_path,
            _shingled(spark, sf_dir).filter(F.expr(_DEDUP_DELETED_FILTER)),
        ),
    )
    tombs = spark.read.parquet(
        os.path.join(base, "tombstones.parquet")
    ).select("doc_id")
    idx = spark.read.parquet(index_path).join(
        F.broadcast(tombs), "doc_id", "left_anti"
    )
    return _probe_band_index(spark, sf_dir, idx)


# ---------------------------------------------------------------- simhash

_SIMHASH_BITS = 32


def _hex2long(pos_fn: str) -> str:
    """SQL expression turning the first 8 hex chars of column `h` into a
    BIGINT, portable across Spark (`instr`) and DuckDB (`strpos`)."""
    terms = [
        f"(CAST({pos_fn}('0123456789abcdef', substring(h, {i}, 1)) AS BIGINT)"
        f" - 1) * {16 ** (8 - i)}"
        for i in range(1, 9)
    ]
    return "(" + " + ".join(terms) + ")"


def _bit_sum_cols(shift_fmt: str) -> str:
    """32 conditional-sum columns c0..c31 (+1 if bit set else -1)."""
    return ", ".join(
        "SUM(CASE WHEN (({shifted}) & 1) = 1 THEN 1 ELSE -1 END) AS c{b}".format(
            shifted=shift_fmt.format(b=b), b=b
        )
        for b in range(_SIMHASH_BITS)
    )


def _simhash_expr() -> str:
    return " + ".join(
        f"CASE WHEN c{b} > 0 THEN CAST({2 ** b} AS BIGINT)"
        f" ELSE CAST(0 AS BIGINT) END"
        for b in range(_SIMHASH_BITS)
    )


_SIMHASH_ORACLE = f"""
WITH {_CORPUS_SQL},
tok AS (
  SELECT doc_id, unnest(toks) AS t FROM corpus
),
th AS (
  SELECT doc_id, h32 FROM (
    SELECT doc_id, md5(t) AS h, {_hex2long('strpos')} AS h32 FROM tok
  )
),
bits AS (
  SELECT doc_id, {_bit_sum_cols('(h32 >> {b})')} FROM th GROUP BY doc_id
),
sig AS (
  SELECT doc_id, {_simhash_expr()} AS simhash FROM bits
),
keyed AS (
  SELECT doc_id, simhash, simhash >> 16 AS hi, simhash & 65535 AS lo FROM sig
),
cand AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.simhash AS sim_a, b.simhash AS sim_b
  FROM keyed a JOIN keyed b ON a.hi = b.hi AND a.doc_id < b.doc_id
  UNION
  SELECT a.doc_id, b.doc_id, a.simhash, b.simhash
  FROM keyed a JOIN keyed b ON a.lo = b.lo AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b,
       CAST(bit_count(xor(sim_a, sim_b)) AS INT) AS hamming
FROM cand WHERE bit_count(xor(sim_a, sim_b)) <= 3
"""


@query("dedup_simhash", oracle=_SIMHASH_ORACLE)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup: 32-bit signature from md5-derived token hashes
    (frequency-weighted majority vote per bit over the doc's tokens),
    candidates from 16-bit half-key equality (classic block permutation),
    verified with hamming distance <= 3.

    No cross join: the two half-key equi-joins are ordinary hash joins, so
    cost tracks the number of colliding pairs, not n^2."""
    corpus = _corpus(spark, sf_dir)
    tok = corpus.select("doc_id", F.explode("toks").alias("t"))
    th = tok.select(
        "doc_id", F.md5("t").alias("h")
    ).selectExpr("doc_id", _hex2long("instr") + " AS h32")
    bits = th.groupBy("doc_id").agg(
        *[
            F.expr(
                f"SUM(CASE WHEN (shiftright(h32, {b}) & 1) = 1"
                f" THEN 1 ELSE -1 END)"
            ).alias(f"c{b}")
            for b in range(_SIMHASH_BITS)
        ]
    )
    sig = bits.selectExpr("doc_id", _simhash_expr() + " AS simhash")
    keyed = sig.selectExpr(
        "doc_id", "simhash", "shiftright(simhash, 16) AS hi", "simhash & 65535 AS lo"
    )
    a = keyed.alias("a")
    b = keyed.alias("b")

    def half_join(key: str) -> DataFrame:
        return a.join(
            b,
            (F.col(f"a.{key}") == F.col(f"b.{key}"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        ).select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("sim_a"),
            F.col("b.simhash").alias("sim_b"),
        )

    cand = half_join("hi").union(half_join("lo")).distinct()
    hamming = F.expr("bit_count(sim_a ^ sim_b)")
    return cand.filter(hamming <= 3).select(
        "doc_a", "doc_b", hamming.cast("int").alias("hamming")
    )


# ---------------------------------------------------------------- embedding

# integer sign bucket over the first nb dims (bit i set when dim i >= 0);
# an int key (vs the string key in similarity.py) makes Hamming-1
# multi-probe a cheap XOR against the single-bit masks.
#
# nb is OCCUPANCY-ADAPTIVE (r10; the ann_lsh_adaptive device): the r10
# x100 scaleproof caught the fixed-4-bit form as a real quadratic — with
# 10 labels x 16 buckets the block COUNT was constant, so block size
# tracked N and the within-block verify was N^2/160 (the run had to be
# killed at x100; the same K-tracks-N class as the r9 IVF-probe and
# balanced-assign catches). Width now grows with the corpus
# (ceil(log2(count/64)), clamped to [4, 16]), holding expected block
# occupancy ~constant; Hamming-1 multi-probe covers every width bit, so
# the one-hyperplane-straddle recall guarantee is unchanged. Both
# engines compute the same width from the same count, so the oracle
# hash-match pins the whole scheme.
_IBUCKET_NB_SQL = (
    "GREATEST(4, LEAST(16, CAST(ceil(log2(COUNT(*) / 64.0)) AS INT)))"
)
_IBUCKET_SQL = (
    "list_reduce(list_prepend(0, list_transform(range(0, b.nb),"
    " i -> CASE WHEN v[i + 1] >= 0 THEN (1 << i) ELSE 0 END)),"
    " (acc, x) -> acc + x)"
)
_IBUCKET_SPARK = (
    "aggregate(sequence(0, nb - 1), 0,"
    " (acc, i) -> acc + (CASE WHEN v[i] >= 0 THEN shiftleft(1, i)"
    " ELSE 0 END))"
)
# masks: 0 (the bucket itself) + one per width bit
_IMASKS_SPARK = (
    "concat(array(0), transform(sequence(0, nb - 1),"
    " i -> shiftleft(1, i)))"
)

_EMB_CORPUS_SQL = f"""
ebase AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label FROM embeddings
),
ecorpus AS (
  SELECT vec_id, v, label FROM ebase
  UNION ALL
  SELECT vec_id + 1000000, list_transform(v, x -> x * 1.01 + 0.001), label
  FROM ebase
),
bwidth AS (
  SELECT {_IBUCKET_NB_SQL} AS nb FROM ecorpus
),
enorm AS (
  SELECT vec_id, v, label, {_IBUCKET_SQL} AS bucket,
         sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
              list_transform(v, x -> x * x)), (acc, x) -> acc + x)) AS nrm
  FROM ecorpus CROSS JOIN bwidth b
),
emasks AS (
  SELECT unnest(list_prepend(0,
           list_transform(range(0, nb), i -> (1 << i)))) AS m
  FROM bwidth
),
eprobe AS (
  SELECT vec_id, v, label, nrm, xor(bucket, m.m) AS pkey
  FROM enorm CROSS JOIN emasks m
)
"""

_EMB_COS_SQL = """
  list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
    list_transform(range(1, len(a.v) + 1), i -> a.v[i] * b.v[i])),
    (acc, x) -> acc + x) / (a.nrm * b.nrm)
"""


@query(
    "dedup_embedding_cosine",
    oracle=f"""
    WITH {_EMB_CORPUS_SQL}
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           ROUND({_EMB_COS_SQL}, 6) AS cosine
    FROM enorm a JOIN eprobe b
      ON a.label = b.label AND a.bucket = b.pkey AND a.vec_id < b.vec_id
    WHERE {_EMB_COS_SQL} >= 0.999
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup: cosine >= 0.999 blocked on (label, sign-LSH
    bucket) with Hamming-1 multi-probe. The label stands in for an IVF
    coarse-quantizer cell; the sign bucket splits each cell 2^nb further
    ways with nb OCCUPANCY-ADAPTIVE (ceil(log2(corpus/64)), clamped to
    [4, 16]) — the r10 x100 scaleproof proved the fixed-4-bit form
    quadratic (constant block count, block size tracking N), the same
    K-tracks-N class as the r9 IVF-probe catch. With adaptive width the
    per-(label, bucket) micro-block stays ~constant-sized, so the verify
    term is linear in the corpus.

    Multi-probe: one side additionally emits its bucket with each single
    sign bit flipped (XOR with 0 and every 1<<i for i < nb), so a true
    near-dup pair whose vectors straddle a hyperplane on one dimension
    (e.g. the ground-truth mutation x*1.01+0.001 flipping a dim in
    [-0.00099, 0)) still shares a probe key — single-bucket blocking
    would silently drop it. A pair's buckets differ from each other by
    at most one bit in exactly one mask, so no distinct() is needed. The
    oracle applies the identical width + probe scheme, so the hash-match
    pins blocking, probing, and scoring.

    Dot products fold sequentially over the vector so Spark and the oracle
    produce bit-identical doubles."""
    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("v"),
        "label",
    )
    mut = emb.select(
        (F.col("vec_id") + MUT_OFFSET).alias("vec_id"),
        F.expr("transform(v, x -> x * 1.01 + 0.001)").alias("v"),
        "label",
    )
    corpus0 = emb.unionByName(mut)
    # 1-row adaptive-width frame (the ann_lsh_adaptive device) — both
    # bucket bits and probe masks derive from it, so block occupancy
    # stays ~64 as the corpus grows (see _IBUCKET_NB_SQL comment)
    nbdf = corpus0.agg(F.expr(_IBUCKET_NB_SQL).alias("nb"))
    corpus = (
        corpus0.crossJoin(F.broadcast(nbdf))
        .withColumn(
            "nrm",
            F.expr(
                "sqrt(aggregate(transform(v, x -> x * x),"
                " CAST(0.0 AS DOUBLE), (acc, x) -> acc + x))"
            ),
        )
        .withColumn("bucket", F.expr(_IBUCKET_SPARK))
    )
    probe = corpus.select(
        "vec_id",
        "v",
        "label",
        "nrm",
        F.explode(
            F.expr(f"transform({_IMASKS_SPARK}, m -> bucket ^ m)")
        ).alias("pkey"),
    )
    a = corpus.alias("a")
    b = probe.alias("b")
    cos = F.expr(
        "aggregate(zip_with(a.v, b.v, (x, y) -> x * y),"
        " CAST(0.0 AS DOUBLE), (acc, x) -> acc + x) / (a.nrm * b.nrm)"
    )
    return (
        a.join(
            b,
            (F.col("a.label") == F.col("b.label"))
            & (F.col("a.bucket") == F.col("b.pkey"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .filter(cos >= 0.999)
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.round(cos, 6).alias("cosine"),
        )
    )


# ------------------------------------------------- connected components

_PAIRS_SQL = """pairs AS (
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
"""


# session memo (tables.session_memo): the verified near-dup pair set is
# the composition point for LPA, connected components (and through it
# cluster representative), and the split leakage audit; a production
# pipeline computes pairs once and feeds every downstream audit. Caching
# layers, bottom-up: since r8 the registered dedup_minhash_lsh query
# itself reads the session-memoized shingle and band memos, so warm
# bench runs measure band-join + verify-join on a persisted band table,
# not signature recomputation — bench methodology note: min-of-N timings
# for dedup_minhash_lsh include those memos (first run pays the build).
# This "neardup_pairs" memo additionally keeps the FINAL verified pair
# set for composing consumers only.
def _neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return session_memo(
        "neardup_pairs", spark, sf_dir, (),
        lambda: dedup_minhash_lsh(spark, sf_dir).localCheckpoint(),
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """Large-star contraction (Kiveris et al., 'Connected Components in
    MapReduce and Beyond'): every node connects its strictly-larger
    neighbors to the minimum of its closed neighborhood.

    Shape: the per-node minimum is attached with ONE window-min over the
    symmetrized edges instead of the paper-literal groupBy + self-join —
    the join form computes the symmetrize/orient subtree twice (agg
    branch + probe branch) and adds a join shuffle; the window form is a
    single exchange on the node key (A/B at sf0.1: 5.9 s -> 4.8 s for
    the full CC fixpoint, identical labels). Skew note for 100 TB: the
    window buffers one node's neighbor list per partition group
    (spill-backed), the same per-node fan-out the join's probe side
    carries — LSH pair generation is band-bounded upstream, so hub
    degree is capped by the duplication factor either way."""
    sym = edges.union(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).distinct()
    w = sym.withColumn(
        "m", F.least(F.min("v").over(Window.partitionBy("u")), F.col("u"))
    )
    return (
        w.filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Small-star contraction: edges oriented large->small; every node
    connects its smaller-or-equal neighbors (and itself) to the minimum.

    Same window-min device as _large_star; the (node -> m) self-edge the
    paper emits per node rides the explode (one fan-out pass over the
    window output, duplicates swept by the trailing distinct) instead of
    a second scan of the aggregate."""
    o = edges.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    ).distinct()
    w = o.withColumn(
        "m", F.least(F.min("v").over(Window.partitionBy("u")), F.col("u"))
    )
    return (
        w.select(
            F.explode(
                F.array(
                    F.struct(F.col("v").alias("u"), F.col("m").alias("v")),
                    F.struct(F.col("u").alias("u"), F.col("m").alias("v")),
                )
            ).alias("e")
        )
        .select("e.u", "e.v")
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


@query(
    "dedup_connected_components",
    oracle=f"""
    WITH RECURSIVE {_CORPUS_SQL}, {_MINHASH_SQL}, {_PAIRS_SQL}
    SELECT u AS doc_id, CAST(MIN(r) AS BIGINT) AS component
    FROM reach GROUP BY u
    """,
)
def dedup_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster extraction: connected components over the verified
    MinHash-LSH near-dup pair graph, labeling every clustered doc with the
    minimum doc_id of its component (the canonical "keep one per cluster"
    step after pairwise dedup).

    Implemented with the alternating large-star/small-star contraction
    (Kiveris et al. 2014), which converges in O(log n) rounds regardless of
    component diameter — plain min-label propagation is O(diameter) rounds
    with a full edge join per round, which a 100 TB dup graph with chained
    near-dup paths cannot afford. Each round is two groupBy+join stages;
    `localCheckpoint` truncates lineage so plan depth stays constant.
    Convergence is an EXACT edge-set equality test (count match + one-way
    exceptAll emptiness on the checkpointed distinct frames) — a hash
    signature could collide between distinct consecutive edge sets and
    terminate early with wrong labels; the contracted edge set is
    metadata-sized (<= one edge per non-root node) so the exact check is
    cheap. At the fixpoint the graph is a star forest: every non-root
    points at its component's minimum id. The oracle pins the exact same
    labeling via a recursive CTE (min reachable id), so even this
    non-single-query operator is hash-checked, not just smoke-tested.

    The finished labeling is session-memoized per corpus listing via
    _full_cc_labels' session_memo (the maintained-table convention —
    in production the component labels are a table the incremental CC
    ops update, not a fixpoint re-run per consumer): the star-
    contraction fixpoint (_cc_labels, the factored identical engine)
    executes once per (session, corpus), this query and dedup_cc_delete
    share the one stored labeling, and dedup_cluster_representative's
    per-run cost becomes the selection it adds, not the clustering it
    inherits."""
    return _full_cc_labels(spark, sf_dir).select(
        F.col("u").alias("doc_id"), "component"
    )


def _cc_labels(edge_pairs: DataFrame) -> DataFrame:
    """(node u, component) labels via the same large-star/small-star
    fixpoint dedup_connected_components runs inline — factored for the
    incremental variant, which runs it twice (once over the committed
    graph, once over the tiny contracted delta graph). Input: directed
    pair rows (u, v); labeling covers every endpoint, component = min id."""
    edges = edge_pairs.select("u", "v").distinct().localCheckpoint()
    nodes = (
        edges.select("u").union(edges.select("v")).distinct().localCheckpoint()
    )
    n_edges = edges.count()
    while True:
        new_edges = _small_star(_large_star(edges)).localCheckpoint()
        n_new = new_edges.count()
        stop = n_new == n_edges and new_edges.exceptAll(edges).isEmpty()
        edges, n_edges = new_edges, n_new
        if stop:
            break
    roots = edges.groupBy("u").agg(F.min("v").alias("root"))
    return nodes.join(roots, "u", "left").select(
        "u",
        F.coalesce(F.col("root"), F.col("u")).cast("bigint").alias(
            "component"
        ),
    )


# contracted-delta graphs at or under this edge count are labeled with
# one collect + union-find on the driver instead of the distributed
# star-contraction fixpoint. 64k edges of two bigints is ~1 MB — the
# same "bounded driver metadata" class as the k-centroid collects and
# the probe-bucket gate.
_DELTA_LOCAL_MAX = 65536


def _cc_labels_delta(spark: SparkSession, edge_pairs: DataFrame) -> DataFrame:
    """Min-label components of a CONTRACTED DELTA graph — the
    single-pass batch-local step the incremental CC maintainers run per
    batch (VERDICT r10 task 2).

    The contracted graph is O(batch + touched components) by
    construction (endpoints are component labels), i.e. metadata-sized
    like the label state itself — but _cc_labels still ran the full
    distributed large-star/small-star fixpoint on it: 3-5 iterations x
    several jobs each, ALL fixed scheduling overhead at delta sizes
    (the r10 profile's measured epoch floor). Here the delta is fetched
    with ONE job (limit probes the bound) and labeled by union-find on
    the driver — exact min-reachable-id semantics, microseconds of CPU.
    A delta past the bound falls back to the distributed fixpoint, so
    correctness never depends on the gate; only the constant factor
    does."""
    edges = edge_pairs.select("u", "v").distinct()
    rows = edges.limit(_DELTA_LOCAL_MAX + 1).collect()
    if len(rows) > _DELTA_LOCAL_MAX:
        return _cc_labels(edge_pairs)
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for u, v in rows:
        parent.setdefault(u, u)
        parent.setdefault(v, v)
        ru, rv = find(u), find(v)
        if ru != rv:
            # min id IS the root — the min-label invariant the
            # distributed fixpoint converges to
            lo, hi = (ru, rv) if ru < rv else (rv, ru)
            parent[hi] = lo
    out = [(n, find(n)) for n in parent]
    return spark.createDataFrame(out, "u bigint, component bigint")


# stored committed labeling for the incremental CC step — a session
# memo (tables.session_memo) like _neardup_pairs; in production this is
# a maintained table, not a cache
def _committed_cc_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    def derive():
        committed = _neardup_pairs(spark, sf_dir).filter(
            (F.col("doc_a") < MUT_OFFSET) & (F.col("doc_b") < MUT_OFFSET)
        )
        return _cc_labels(
            committed.select(
                F.col("doc_a").alias("u"), F.col("doc_b").alias("v")
            )
        ).localCheckpoint()

    return session_memo("cc_committed", spark, sf_dir, (), derive)


@query(
    "dedup_cc_incremental",
    oracle=f"""
    WITH RECURSIVE {_CORPUS_SQL}, {_MINHASH_SQL}, {_PAIRS_SQL}
    SELECT u AS doc_id, CAST(MIN(r) AS BIGINT) AS component
    FROM reach GROUP BY u
    """,
)
def dedup_cc_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL connected-components maintenance (r9 new capability):
    when a batch of new near-dup edges arrives, update the stored
    component labeling with work proportional to the DELTA, not the
    corpus — the clustering companion to dedup_incremental_minhash
    (which produces exactly such edge batches against the committed
    index).

    Algorithm: (1) stored state = labels over the committed graph (base
    docs' edges; a maintained table in production, session-memoized
    here); (2) CONTRACT each delta edge through the stored labels —
    endpoints map to their committed component (or themselves if new),
    intra-component edges drop out; (3) label the contracted graph —
    bounded by the number of TOUCHED components + new nodes, not corpus
    size — with the gated single-pass device (_cc_labels_delta: driver
    union-find under a 64k-edge bound, the distributed star-contraction
    fixpoint past it); (4) remap
    stored labels through the merge result and union the new nodes.
    Labels are min-ids, and min(mins of merged groups) = global min, so
    the result EQUALS the full recompute — which the oracle (the same
    recursive min-reachable-id CTE as dedup_connected_components) pins.

    Scale: step 2 is one broadcast-able join of the delta against the
    label table's touched keys; step 3's fixpoint runs on a graph whose
    node set is component LABELS, typically orders of magnitude smaller
    than the corpus; step 4 is one join keyed on component. Nothing
    rescans committed edges."""
    pairs = _neardup_pairs(spark, sf_dir).select("doc_a", "doc_b")
    base_labels = _committed_cc_labels(spark, sf_dir)

    delta = pairs.filter(
        (F.col("doc_a") >= MUT_OFFSET) | (F.col("doc_b") >= MUT_OFFSET)
    ).select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
    # contract delta endpoints through the stored labels
    lu = base_labels.select(
        F.col("u").alias("lu_k"), F.col("component").alias("lu_c")
    )
    lv = base_labels.select(
        F.col("u").alias("lv_k"), F.col("component").alias("lv_c")
    )
    contracted = (
        delta.join(lu, delta.u == lu.lu_k, "left")
        .join(lv, delta.v == lv.lv_k, "left")
        .select(
            F.coalesce("lu_c", "u").alias("u"),
            F.coalesce("lv_c", "v").alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
    )
    # (contracted id -> merged component): single-pass driver
    # union-find under the delta gate, distributed fixpoint past it
    merged = _cc_labels_delta(spark, contracted)

    # remap stored labels whose component participated in a merge
    remap = merged.select(
        F.col("u").alias("old_c"), F.col("component").alias("new_c")
    )
    committed_final = (
        base_labels.join(remap, base_labels.component == remap.old_c, "left")
        .select(
            F.col("u").alias("doc_id"),
            F.coalesce("new_c", "component").cast("bigint").alias(
                "component"
            ),
        )
    )
    # new nodes: delta endpoints not in the stored labeling; their
    # contracted id is themselves, so the merge result labels them
    new_nodes = (
        delta.select("u")
        .union(delta.select("v"))
        .distinct()
        .join(base_labels.select(F.col("u")), "u", "left_anti")
    )
    new_final = new_nodes.join(merged, "u", "left").select(
        F.col("u").alias("doc_id"),
        F.coalesce("component", "u").cast("bigint").alias("component"),
    )
    return committed_final.unionByName(new_final)


# ------------------------------- CC maintenance under DELETION (r12)

# deterministic takedown panel over the pair graph's nodes (base AND
# mutated docs) — chosen so some components lose members, some lose
# their min-id root (labels must shift), and some SPLIT
_CC_DELETED_FILTER = "doc_id % 7 = 2"


# stored full-graph labeling — the maintained state dedup_cc_delete
# updates (like _committed_cc_labels, over ALL edges not just the
# committed subgraph)
def _full_cc_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    return session_memo(
        "cc_full", spark, sf_dir, (),
        lambda: _cc_labels(
            _neardup_pairs(spark, sf_dir).select(
                F.col("doc_a").alias("u"), F.col("doc_b").alias("v")
            )
        ).localCheckpoint(),
    )


@query(
    "dedup_cc_delete",
    oracle=f"""
    WITH RECURSIVE {_CORPUS_SQL}, {_MINHASH_SQL}, {_PAIRS_SQL.replace('''edges AS (
  SELECT doc_a AS u, doc_b AS v FROM pairs
  UNION
  SELECT doc_b, doc_a FROM pairs
)''', '''edges AS (
  SELECT doc_a AS u, doc_b AS v FROM pairs
  WHERE doc_a % 7 <> 2 AND doc_b % 7 <> 2
  UNION
  SELECT doc_b, doc_a FROM pairs
  WHERE doc_a % 7 <> 2 AND doc_b % 7 <> 2
)''')}
    SELECT u AS doc_id, CAST(MIN(r) AS BIGINT) AS component
    FROM reach GROUP BY u
    """,
)
def dedup_cc_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CC maintenance under NODE DELETION (r12) — the hard direction of
    incremental clustering: adding edges only MERGES components
    (dedup_cc_incremental's monotone case), but removing nodes can
    SPLIT one, shift its min-id label, or dissolve it entirely, and no
    local rule can decide which without re-examining the component.
    This op re-labels ONLY the components the takedown panel touches:

    (1) stored state = the full-graph labeling (a maintained table in
    production, session-memoized here); (2) the AFFECTED component set
    = distinct labels of deleted nodes — bounded by the delete log,
    broadcast; (3) the affected SUBGRAPH = edges whose endpoints'
    component is affected (one semi-join pass over the edge relation —
    at 100 TB the edge table is stored bucketed by component label, so
    this reads only affected buckets), minus edges touching deleted
    nodes; (4) relabel that subgraph with the gated single-pass device
    (_cc_labels_delta: driver union-find under the 64k bound,
    distributed fixpoint past it) — splits fall out naturally because
    min-reachable-id is recomputed from scratch INSIDE the subgraph;
    (5) untouched components keep their labels verbatim; survivors
    isolated by the deletion leave the pair graph (exactly as the
    full-recompute oracle, which excludes the panel from the edge
    relation, pins).

    Work is bounded by the affected components' sizes, never the
    corpus: the one full pass is the edge-relation filter in (3), which
    partition-prunes under a component-bucketed layout. Together with
    dedup_cc_incremental this gives the maintained clustering both
    directions of corpus churn."""
    pairs = _neardup_pairs(spark, sf_dir).select("doc_a", "doc_b")
    edges = pairs.select(
        F.col("doc_a").alias("u"), F.col("doc_b").alias("v")
    )
    labels = _full_cc_labels(spark, sf_dir)
    deleted_ids = labels.filter(
        F.expr(_CC_DELETED_FILTER.replace("doc_id", "u"))
    ).select("u")
    return _cc_delete_maintain(spark, edges, labels, deleted_ids).select(
        F.col("u").alias("doc_id"), "component"
    )


def _cc_delete_maintain(
    spark: SparkSession, edges: DataFrame, labels: DataFrame,
    deleted_ids: DataFrame,
) -> DataFrame:
    """The maintenance core of dedup_cc_delete, corpus-independent so
    the SPLIT path can be pinned on synthetic graphs (the fixture's
    near-dup components are clique-like and never split): affected
    components relabel from scratch inside their surviving subgraph,
    everything else keeps its label. `deleted_ids` is one `u` column,
    bounded by the delete log (broadcast throughout)."""
    affected = (
        labels.join(F.broadcast(deleted_ids), "u", "left_semi")
        .select("component")
        .distinct()
    )
    lab_u = labels.select("u", "component")
    sub = (
        edges.join(lab_u, "u")
        .join(F.broadcast(affected), "component", "left_semi")
        .join(F.broadcast(deleted_ids), "u", "left_anti")
        .join(
            F.broadcast(deleted_ids.select(F.col("u").alias("v"))),
            "v",
            "left_anti",
        )
        .select("u", "v")
    )
    relabeled = _cc_labels_delta(spark, sub)
    keep = labels.join(F.broadcast(affected), "component", "left_anti")
    return keep.unionByName(relabeled)


_SUBSTR_W, _SUBSTR_S = 64, 32  # span window / stride (chars)

_SUBSTR_ORACLE = f"""
WITH spans AS (
  SELECT doc_id, md5(substr(text, CAST(i AS INT), {_SUBSTR_W})) AS span_md5
  FROM documents,
       LATERAL unnest(range(1, length(text) - {_SUBSTR_W} + 2, {_SUBSTR_S}))
         AS u(i)
  WHERE length(text) >= {_SUBSTR_W}
)
SELECT span_md5,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(COUNT(*) AS BIGINT) AS n_occurrences,
       CAST(MIN(doc_id) AS BIGINT) AS first_doc
FROM spans
GROUP BY span_md5
HAVING COUNT(DISTINCT doc_id) > 1
"""


@query("dedup_exact_substring", oracle=_SUBSTR_ORACLE)
def dedup_exact_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level EXACT duplicate detection — the memorization-removal
    shape: fixed windows (w=64 chars, stride 32) hashed per document,
    grouped across the corpus; any span occurring in 2+ distinct
    documents is a verbatim cross-document repeat (boilerplate, license
    headers, templated text) that doc-level near-dup ops structurally
    miss. This is the groupBy-able core of suffix-array training-data
    dedup: strided fixed windows trade the suffix array's
    arbitrary-boundary guarantee for a pure shuffle-on-digest plan, and
    any duplicated run >= w+s chars still lands some shared window.

    Scale: the only shuffle carries (digest, doc_id) pairs — ~2x the
    text volume at s=w/2, independent of document size; the group agg is
    partial-merged map-side. The fixture groups by md5 so DuckDB mirrors
    it exactly; at 100 TB swap in xxhash64 (8-byte keys) — the plan is
    unchanged.
    """
    docs = load(spark, sf_dir, "documents").filter(
        F.length("text") >= _SUBSTR_W
    )
    spans = docs.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(1, length(text) - {_SUBSTR_W} + 1, "
                f"{_SUBSTR_S}), i -> md5(substring(text, i, {_SUBSTR_W})))"
            )
        ).alias("span_md5"),
    )
    return (
        spans.groupBy("span_md5")
        .agg(
            F.count_distinct("doc_id").alias("n_docs"),
            F.count("*").alias("n_occurrences"),
            F.min("doc_id").alias("first_doc"),
        )
        .filter(F.col("n_docs") > 1)
    )


_LEDGER_ORACLE = """
WITH committed AS (
  SELECT DISTINCT md5(lower(trim(text))) AS digest FROM documents
  WHERE CAST(substr(source, 4) AS INT) < 10
),
batch AS (
  SELECT doc_id, source, md5(lower(trim(text))) AS digest FROM documents
  WHERE CAST(substr(source, 4) AS INT) >= 10
)
SELECT b.source,
       CAST(COUNT(*) AS BIGINT) AS n_batch,
       CAST(SUM(CASE WHEN c.digest IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_new,
       CAST(MIN(CASE WHEN c.digest IS NULL THEN doc_id END) AS BIGINT)
         AS first_new_doc
FROM batch b LEFT JOIN committed c ON b.digest = c.digest
GROUP BY b.source
"""


@query("dedup_incremental_ledger", oracle=_LEDGER_ORACLE)
def dedup_incremental_ledger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup against a committed-digest ledger — the dedup
    twin of the reference's delta algebra (Stage.scala:249-266 drops
    already-processed inputs by anti-joining the run ledger; here a new
    document batch anti-joins the digest ledger of everything already
    committed). This is how dedup stays O(batch) per ingest instead of
    O(corpus) re-clustering: only never-seen digests proceed.

    The fixture splits documents on source id (src0-9 committed,
    src10-19 incoming). The ledger side reduces to DISTINCT digests
    before the join, so the join key set is one 16-byte row per unique
    committed document; at 100 TB the ledger is a bucketed table on
    digest and each ingest batch shuffles only itself. LEFT join + NULL
    test (not LEFT ANTI) because the report wants both kept and dropped
    counts per source in one pass.
    """
    docs = load(spark, sf_dir, "documents").withColumn(
        "digest", F.md5(F.lower(F.trim("text")))
    ).withColumn(
        "src_num", F.expr("CAST(substring(source, 4) AS INT)")
    )
    committed = (
        docs.filter(F.col("src_num") < 10).select("digest").distinct()
        .withColumn("seen", F.lit(True))
    )
    batch = docs.filter(F.col("src_num") >= 10)
    return (
        batch.join(committed, "digest", "left")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_batch"),
            F.sum(F.when(F.col("seen").isNull(), 1).otherwise(0)).alias(
                "n_new"
            ),
            F.min(F.when(F.col("seen").isNull(), F.col("doc_id"))).alias(
                "first_new_doc"
            ),
        )
    )


_SJ_T = 0.5  # Jaccard threshold over 5-token shingle sets


def _sj_ranked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, sh, prefix): per-doc 5-token shingle set as xxhash64
    bigints, globally ordered rarest-first (document frequency, then
    hash), plus the length-(|s| - ceil(t|s|) + 1) prefix slice.

    Shingles leave the scan as 64-bit hashes: every downstream shuffle
    (df count, set assembly, prefix self-join, verify) carries bigints,
    never text. Jaccard over hashed sets equals Jaccard over the string
    sets absent an intra-pair xxhash64 collision (~2^-64 per candidate —
    the standard production trade; the string-side oracle double-checks
    it holds here).

    Persisted and session-memoized (tables.session_memo): the ranked-set
    subtree (scan -> shingle-hash -> df join -> per-doc sort) feeds BOTH
    the prefix index and the verify branch; without the persist Spark
    recomputes it per consumer."""

    def derive():
        d = load(spark, sf_dir, "documents").select(
            "doc_id",
            F.array_distinct(
                F.expr(
                    "transform(sequence(1, greatest(size(split(text, ' ')) - 4, 1)),"
                    " i -> xxhash64(array_join(slice(split(text, ' '),"
                    " CAST(i AS INT), 5), ' ')))"
                )
            ).alias("sh"),
        )
        e = d.select("doc_id", F.explode("sh").alias("t"))
        df_tbl = e.groupBy("t").agg(F.count(F.lit(1)).alias("df"))
        return (
            e.join(df_tbl, "t")
            .groupBy("doc_id")
            .agg(
                F.array_sort(F.collect_list(F.struct("df", "t"))).alias(
                    "srt"
                )
            )
            .select(
                "doc_id",
                F.expr("transform(srt, x -> x.t)").alias("sh"),
                F.expr(
                    f"slice(transform(srt, x -> x.t), 1,"
                    f" size(srt) - CAST(ceil({_SJ_T}D * size(srt)) AS INT) + 1)"
                ).alias("prefix"),
            )
            .persist()
        )

    return session_memo(
        "sj_ranked", spark, sf_dir, (), derive,
        release=lambda df: df.unpersist(),
    )


# exact, but via a different path than the operator (intersection-count
# equi-join on raw STRING shingles vs prefix-filter over hashes): every
# qualifying pair shares >= 1 shingle, so the shared-shingle join loses
# nothing, and |A u B| = |A| + |B| - |A n B|
_SIMJOIN_ORACLE = f"""
WITH d AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
), s AS (
  SELECT doc_id,
         list_distinct([array_to_string(toks[i:i+4], ' ')
                        FOR i IN generate_series(1, greatest(len(toks) - 4, 1))])
           AS sh
  FROM d
), e AS (
  SELECT doc_id, len(sh) AS sz, unnest(sh) AS t FROM s
), c AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(COUNT(*) AS DOUBLE) AS inter,
         any_value(a.sz) AS sa, any_value(b.sz) AS sb
  FROM e a JOIN e b ON a.t = b.t AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, ROUND(inter / (sa + sb - inter), 6) AS jac
FROM c WHERE inter / (sa + sb - inter) >= {_SJ_T}
"""


@query("simjoin_prefix_jaccard", oracle=_SIMJOIN_ORACLE)
def simjoin_prefix_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-similarity join with PREFIX FILTERING (AllPairs/PPJoin family):
    all document pairs whose 5-token-shingle sets have Jaccard >= {t},
    WITHOUT the all-pairs comparison the oracle runs. Orders each set by
    global rarity (document frequency, then shingle text), keeps only the
    first |s| - ceil(t*|s|) + 1 shingles as the indexed prefix, and joins
    on prefix shingles. Lossless by the prefix-filter lemma: the
    globally-smallest common shingle of a qualifying pair must sit inside
    BOTH prefixes (if it sat past A's prefix, the >= ceil(t*|A|) rarer
    A-shingles before it would all be non-shared, capping the overlap
    below the threshold) — so identical output to the brute-force oracle
    proves the filter exact. Candidates are then verified with exact
    Jaccard, LSH-style propose/dispose (contrast dedup_minhash_lsh, which
    is probabilistic, and dedup_ngram_jaccard, whose length-band blocking
    keys on size, not content).

    Plan: three narrow shuffles — shingle-key df count, doc-key set
    assembly (the sorted set is built ONCE and reused for both prefix
    and verify), prefix-shingle self-join — each carrying ids + digests,
    never text. At 100 TB the self-join's skew cap is the rarity
    ordering itself: prefixes hold each set's RAREST shingles, so bucket
    sizes concentrate near 1 and the quadratic term is output-linear;
    ubiquitous shingles land outside every prefix and are never join
    keys (the df computation that guarantees this is the one full
    corpus-key shuffle, and it carries (doc_id, shingle-digest) only).
    """
    ranked = _sj_ranked(spark, sf_dir)
    # the widest shuffle (prefix-shingle self-join) carries (t, doc_id)
    # ONLY; full sets re-join per verified candidate by doc key below
    pref = ranked.select("doc_id", F.explode("prefix").alias("t"))
    pairs = (
        pref.alias("a")
        .join(pref.alias("b"), "t")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    sets = ranked.select("doc_id", "sh")
    cand = pairs.join(
        sets.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a")),
        "doc_a",
    ).join(
        sets.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b")),
        "doc_b",
    )
    jac = F.size(F.array_intersect("sh_a", "sh_b")).cast("double") / F.size(
        F.array_union("sh_a", "sh_b")
    )
    return cand.filter(jac >= _SJ_T).select(
        "doc_a", "doc_b", F.round(jac, 6).alias("jac")
    )


simjoin_prefix_jaccard.__doc__ = simjoin_prefix_jaccard.__doc__.format(
    t=_SJ_T
)


_SD_THRESH = 0.99  # cosine-to-representative prune threshold
# deterministic seed centroids, CAPPED: cluster count is a model
# parameter, not data-linear — an uncapped modulo filter makes the
# assignment O(n^2 / 89) as the corpus grows (measured: the x100
# scaleproof ran 450M dot-product folds and crawled)
_SD_CENT_FILTER = "vec_id % 89 = 0 AND vec_id < 10000"

_SEMDEDUP_ORACLE = f"""
WITH base AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
  FROM embeddings
  UNION ALL
  SELECT vec_id + 1000000, list_transform(CAST(embedding AS DOUBLE[]),
                                          x -> x + 0.01)
  FROM embeddings
), vecs AS (
  SELECT vec_id, v,
         sqrt(list_reduce(list_prepend(0.0,
              list_transform(v, x -> x * x)), (a, x) -> a + x)) AS nrm
  FROM base
), centroids AS (
  SELECT vec_id AS cent_id, v AS cv, nrm AS cn FROM vecs
  WHERE {_SD_CENT_FILTER}
), assigned AS (
  SELECT vec_id, v, nrm, cent_id FROM (
    SELECT x.vec_id, x.v, x.nrm, c.cent_id,
           ROW_NUMBER() OVER (PARTITION BY x.vec_id ORDER BY
             list_reduce(list_prepend(0.0,
               list_transform(range(1, len(x.v) + 1), i -> x.v[i] * c.cv[i])),
               (a, y) -> a + y) / (x.nrm * c.cn) DESC, c.cent_id) AS rk
    FROM vecs x, centroids c
  ) WHERE rk = 1
), rep AS (
  SELECT cent_id, MIN(vec_id) AS rep_id FROM assigned GROUP BY cent_id
), scored AS (
  SELECT a.cent_id, a.vec_id, r.rep_id,
         list_reduce(list_prepend(0.0,
           list_transform(range(1, len(a.v) + 1), i -> a.v[i] * b.v[i])),
           (x, y) -> x + y) / (a.nrm * b.nrm) AS cos_rep
  FROM assigned a
  JOIN rep r ON a.cent_id = r.cent_id
  JOIN assigned b ON b.vec_id = r.rep_id
)
SELECT cent_id, CAST(COUNT(*) AS BIGINT) AS n_members,
       CAST(SUM(CASE WHEN vec_id <> rep_id AND cos_rep >= {_SD_THRESH}
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped
FROM scored GROUP BY cent_id
"""


@query("semdedup_clusters", oracle=_SEMDEDUP_ORACLE)
def semdedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup, cluster-then-prune (the SemDeDup recipe): assign
    every embedding to its nearest seed centroid, elect a per-cluster
    representative (min id), and drop members whose cosine to the
    representative is >= {t} — duplicates are only ever searched WITHIN a
    cluster, so the quadratic term is bucket-confined exactly like the
    LSH dedup paths, but keyed by semantic neighborhood instead of hash.
    The corpus plants a perturbed near-copy of each vector (the standard
    mutation fixture — embeddings alone have max pairwise cosine ~0.5).

    Plan: centroid table is metadata-sized -> broadcast to score
    assignments map-side (one rank window on vec_id); representatives are
    a cluster-keyed aggregate; the member-vs-rep scoring joins back on
    cent_id, so every shuffle keys on (vec_id | cent_id) with array
    payloads only where the dot product needs them. At 100 TB the
    centroids come from kmeans_embeddings (same seed filter), clusters
    partition the corpus, and per-cluster members stream through one
    task each.
    """
    base = load(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("v"),
    )
    mutated = base.select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.expr("transform(v, x -> x + 0.01D)").alias("v"),
    )
    vecs = base.unionByName(mutated).withColumn(
        "nrm",
        F.expr(
            "sqrt(aggregate(transform(v, x -> x * x), 0.0D,"
            " (a, x) -> a + x))"
        ),
    )
    cent = vecs.filter(F.expr(_SD_CENT_FILTER)).select(
        F.col("vec_id").alias("cent_id"),
        F.col("v").alias("cv"),
        F.col("nrm").alias("cn"),
    )
    cos_c = (
        "aggregate(zip_with(v, cv, (x, y) -> x * y), 0.0D,"
        " (a, x) -> a + x) / (nrm * cn)"
    )
    # argmax centroid as a partial-aggregated max_by on NARROW rows
    # (vec_id, cent_id, cos) — carrying the embedding arrays through a
    # ranking window's sort was the first draft's cost (measured ~18 s at
    # 10x: 1.1M kilobyte-wide rows through a per-vec sort); ties break to
    # the lowest cent_id via the negated id in the ordering struct
    scored_c = vecs.crossJoin(F.broadcast(cent)).select(
        "vec_id",
        "cent_id",
        F.expr(cos_c).alias("cosc"),
    )
    best = scored_c.groupBy("vec_id").agg(
        F.max(
            F.struct(
                F.col("cosc"),
                (-F.col("cent_id")).alias("nc"),
                F.col("cent_id"),
            )
        ).alias("b")
    ).select("vec_id", F.col("b.cent_id").alias("cent_id"))
    assigned = vecs.join(best, "vec_id").select(
        "vec_id", "v", "nrm", "cent_id"
    )
    rep = assigned.groupBy("cent_id").agg(F.min("vec_id").alias("rep_id"))
    rep_vecs = assigned.select(
        F.col("vec_id").alias("rep_id"),
        F.col("v").alias("rv"),
        F.col("nrm").alias("rn"),
    )
    scored = (
        assigned.join(rep, "cent_id")
        .join(rep_vecs, "rep_id")
        .withColumn(
            "cos_rep",
            F.expr(
                "aggregate(zip_with(v, rv, (x, y) -> x * y), 0.0D,"
                " (a, x) -> a + x) / (nrm * rn)"
            ),
        )
    )
    return scored.groupBy("cent_id").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.sum(
            (
                (F.col("vec_id") != F.col("rep_id"))
                & (F.col("cos_rep") >= _SD_THRESH)
            ).cast("int")
        )
        .cast("bigint")
        .alias("n_dropped"),
    )


semdedup_clusters.__doc__ = semdedup_clusters.__doc__.format(t=_SD_THRESH)


@query(
    "dedup_cluster_representative",
    oracle=f"""
    WITH RECURSIVE {_CORPUS_SQL}, {_MINHASH_SQL}, {_PAIRS_SQL},
    comp AS (
      SELECT u AS doc_id, CAST(MIN(r) AS BIGINT) AS component
      FROM reach GROUP BY u
    ),
    sized AS (
      SELECT comp.doc_id, comp.component,
             CAST(len(corpus.toks) AS BIGINT) AS n_toks
      FROM comp JOIN corpus ON corpus.doc_id = comp.doc_id
    )
    SELECT component, doc_id AS kept_doc_id, n_toks AS kept_n_toks,
           CAST(n_members AS BIGINT) AS n_members
    FROM (
      SELECT component, doc_id, n_toks,
             ROW_NUMBER() OVER (PARTITION BY component
                                ORDER BY n_toks DESC, doc_id) AS rk,
             COUNT(*) OVER (PARTITION BY component) AS n_members
      FROM sized
    ) WHERE rk = 1
    """,
)
def dedup_cluster_representative(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Representative selection — the step AFTER duplicate clustering that
    decides which member of each near-dup cluster survives into the
    training mix. Policy here: keep the longest member (most tokens; the
    truncation-mutated corpus makes originals strictly longer than their
    mutants), ties broken by minimum doc_id so the choice is
    deterministic. A production pipeline swaps in any per-doc score
    (quality_classifier_score, source priority) without changing the
    plan shape.

    Plan: the connected-components labels join to per-doc token counts
    (narrow map over the corpus), then ONE component-partitioned window
    pass computes the argmax member and the member count together — the
    row_number and count share the same shuffle. Cluster sizes are
    near-dup cluster sizes (small by nature), so the window partitions
    are tiny and skew-free at any corpus scale; the expensive part is
    the CC fixpoint this op inherits, not the selection."""
    cc = dedup_connected_components(spark, sf_dir)
    sizes = _corpus(spark, sf_dir).select(
        "doc_id", F.size("toks").cast("bigint").alias("n_toks")
    )
    j = cc.join(sizes, "doc_id")
    part = Window.partitionBy("component")
    ordered = part.orderBy(F.desc("n_toks"), F.asc("doc_id"))
    return (
        j.select(
            "component",
            "doc_id",
            "n_toks",
            F.row_number().over(ordered).alias("rk"),
            F.count(F.lit(1)).over(part).alias("n_members"),
        )
        .filter(F.col("rk") == 1)
        .select(
            "component",
            F.col("doc_id").alias("kept_doc_id"),
            F.col("n_toks").alias("kept_n_toks"),
            "n_members",
        )
    )


_CDC_W = 16  # rolling window (chars); boundary when digest nibble == '0'

# the final position is forced to be a boundary INSIDE the filter (not
# appended + deduplicated after: DuckDB's list_distinct does not preserve
# element order, which silently scrambles the chunk layout)
_CDC_BOUNDS_SQL = f"""
list_filter(range({_CDC_W}, length(text) + 1),
  i -> i = length(text)
    OR substr(md5(substr(text, CAST(i - {_CDC_W} + 1 AS INT),
                         {_CDC_W})), 1, 1) = '0')
"""


@query(
    "chunk_cdc_rolling",
    oracle=f"""
    WITH b AS (
      SELECT doc_id, text, {_CDC_BOUNDS_SQL} AS bounds
      FROM documents WHERE length(text) >= {_CDC_W}
    )
    SELECT doc_id,
           CAST(u.j AS INT) AS chunk_idx,
           CAST(bounds[CAST(u.j AS INT)]
                - (CASE WHEN u.j = 1 THEN 0
                        ELSE bounds[CAST(u.j - 1 AS INT)] END)
                AS BIGINT) AS chunk_len,
           md5(substr(text,
                 CAST(CASE WHEN u.j = 1 THEN 1
                           ELSE bounds[CAST(u.j - 1 AS INT)] + 1 END AS INT),
                 CAST(bounds[CAST(u.j AS INT)]
                   - (CASE WHEN u.j = 1 THEN 0
                           ELSE bounds[CAST(u.j - 1 AS INT)] END) AS INT)))
             AS chunk_md5
    FROM b, LATERAL unnest(range(1, len(bounds) + 1)) AS u(j)
    """,
)
def chunk_cdc_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking (the rsync/LBFS/FastCDC family): chunk
    boundaries are placed where a rolling {w}-char window's digest starts
    with a zero nibble (expected chunk ~16 + 16 chars), so boundaries
    move WITH the content — inserting one character early in a document
    shifts every fixed-stride window (dedup_exact_substring's known
    blind spot) but leaves all later CDC boundaries, and therefore all
    later chunk digests, intact. This is the chunking that makes
    shifted/near-identical documents share chunk hashes for downstream
    exact dedup or delta storage.

    Plan: pure per-row expressions — boundary detection, slicing, and
    chunk digests are one codegen projection plus a posexplode; the only
    exchange is the small-fixture scan spread (tables.maybe_spread: a
    one-file scan would serialize the md5-per-position work on one core;
    at real scale the input splits already parallelize and the spread is
    a no-op). The cross-doc groupBy on chunk_md5 is downstream's job,
    and it shuffles 16-byte digests, never text. Cost is one md5 per
    character position, embarrassingly parallel and linear in corpus
    bytes. MEASURED alternative (sf0.1, min-of-2): a true Rabin rolling
    recurrence as a Catalyst ``aggregate`` fold is NOT faster here —
    5.0 s vs this form's 4.5 s at W=16, and still 4.6 s vs 4.0 s at
    W=64 — because the JVM's md5 of a tiny window is cheaper than the
    fold's per-step struct allocation in expression eval; the rolling
    form only wins in native code. Deterministic across engines — the
    oracle recomputes boundaries bit-identically."""
    docs = maybe_spread(
        load(spark, sf_dir, "documents"), sf_dir, "documents", "doc_id"
    ).filter(F.length("text") >= _CDC_W)
    bounds = F.expr(
        f"filter(sequence({_CDC_W}, length(text)),"
        f" i -> i = length(text)"
        f"  OR substring(md5(substring(text,"
        f"      CAST(i - {_CDC_W} + 1 AS INT), {_CDC_W})), 1, 1) = '0')"
    )
    b = docs.select("doc_id", "text", bounds.alias("bounds"))
    chunks = F.expr(
        """explode(transform(sequence(1, size(bounds)), j -> named_struct(
             'chunk_idx', CAST(j AS INT),
             'start', CAST(IF(j = 1, 1,
                element_at(bounds, CAST(j - 1 AS INT)) + 1) AS INT),
             'len', CAST(element_at(bounds, CAST(j AS INT))
                - IF(j = 1, 0,
                     element_at(bounds, CAST(j - 1 AS INT))) AS INT))))"""
    )
    return b.select("doc_id", "text", chunks.alias("c")).select(
        "doc_id",
        F.col("c.chunk_idx").alias("chunk_idx"),
        F.col("c.len").cast("bigint").alias("chunk_len"),
        F.md5(
            F.expr("substring(text, c.start, c.len)")
        ).alias("chunk_md5"),
    )


chunk_cdc_rolling.__doc__ = chunk_cdc_rolling.__doc__.format(w=_CDC_W)


_CONT_T = 0.6  # containment threshold on the smaller shingle set
_CONT_F = 10  # candidate shingles must appear in 2..F corpus docs


@query(
    "simjoin_containment",
    oracle=f"""
    WITH {_CORPUS_SQL},
    ex AS (
      SELECT doc_id, unnest(sh_set) AS shingle FROM shingled
    ),
    rare AS (
      SELECT shingle FROM ex GROUP BY shingle
      HAVING COUNT(DISTINCT doc_id) BETWEEN 2 AND {_CONT_F}
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM ex a JOIN rare r ON a.shingle = r.shingle
                JOIN ex b ON b.shingle = a.shingle
                         AND a.doc_id < b.doc_id
    )
    SELECT c.doc_a, c.doc_b,
           ROUND(CAST(len(list_intersect(sa.sh_set, sb.sh_set)) AS DOUBLE)
                 / len(sa.sh_set), 6) AS cont_a_in_b,
           ROUND(CAST(len(list_intersect(sa.sh_set, sb.sh_set)) AS DOUBLE)
                 / len(sb.sh_set), 6) AS cont_b_in_a
    FROM cand c
    JOIN shingled sa ON sa.doc_id = c.doc_a
    JOIN shingled sb ON sb.doc_id = c.doc_b
    WHERE CAST(len(list_intersect(sa.sh_set, sb.sh_set)) AS DOUBLE)
          / LEAST(len(sa.sh_set), len(sb.sh_set)) >= {_CONT_T}
    """,
)
def simjoin_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONTAINMENT similarity join: |A∩B| / min(|A|,|B|) >= {t} over
    3-gram shingle sets — the asymmetric relation Jaccard structurally
    misses (a short document quoted inside a long one has tiny Jaccard
    but containment ~1), which is exactly the quote/excerpt/boilerplate
    incorporation a training-data audit must find. Both directional
    containments are reported so downstream can tell "A is inside B"
    from "B is inside A". The mutated fixture corpus (each doc plus its
    80%-prefix truncation) guarantees real containment pairs.

    Blocking: candidates must share a shingle appearing in 2..{f} corpus
    docs. Frequency >= 2 is lossless pruning (a singleton shingle cannot
    witness a pair); the <= {f} cap drops pairs whose ONLY shared
    shingles are corpus-hot boilerplate — a deliberate precision trade
    the oracle mirrors exactly (both engines compute the same candidate
    set, so the comparison stays a proof of plan equivalence, and the
    docstring owns the heuristic). Scale: the shingle exchange carries
    (shingle, doc_id) pairs once — same budget as dedup_exact_substring
    — the frequency cap bounds every shingle's candidate fan-out at
    {f}²/2 pairs, and verification joins fetch only candidate docs'
    shingle sets."""
    sh = _shingled(spark, sf_dir)
    ex = sh.select("doc_id", F.explode("sh_set").alias("shingle"))
    # candidates in ONE shingle-keyed aggregation: each rare shingle's
    # doc set (bounded at F) emits its within-set pairs as an array
    # expression — no exploded-shingle self-join (which would shuffle the
    # shingle stream twice and recompute the explode on both sides).
    # Pair fan-out per shingle is at most F*(F-1)/2 by the df cap.
    ds = (
        ex.groupBy("shingle")
        .agg(F.sort_array(F.collect_set("doc_id")).alias("ds"))
        .filter((F.size("ds") >= 2) & (F.size("ds") <= _CONT_F))
    )
    cand = (
        ds.select(
            F.explode(
                F.expr(
                    "flatten(transform(sequence(1, size(ds) - 1), i ->"
                    " transform(sequence(CAST(i + 1 AS INT), size(ds)), j ->"
                    "  named_struct('doc_a', element_at(ds, CAST(i AS INT)),"
                    "               'doc_b', element_at(ds, CAST(j AS INT))))))"
                )
            ).alias("p")
        )
        .select(F.col("p.doc_a").alias("doc_a"), F.col("p.doc_b").alias("doc_b"))
        .distinct()
    )
    sa = sh.select(
        F.col("doc_id").alias("doc_a"), F.col("sh_set").alias("set_a")
    )
    sb = sh.select(
        F.col("doc_id").alias("doc_b"), F.col("sh_set").alias("set_b")
    )
    # ONE array_intersect per candidate pair (r12): filtering and both
    # containment outputs on the raw expression evaluated it 2x per pair
    # (predicate pushdown substitutes the alias into the Filter; codegen
    # CSE only dedups within the Project). The scored relation is
    # candidate-sized numbers (pair ids + 3 ints) — materializing it
    # once via localCheckpoint costs far less than re-intersecting 97k
    # shingle-set pairs, and at corpus scale the verification intersect
    # IS the dominant cost of this op. Measured 3.00 -> 2.55 s sf0.1.
    scored = (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.size("set_a").alias("na"),
            F.size("set_b").alias("nb"),
            F.size(F.array_intersect("set_a", "set_b"))
            .cast("double")
            .alias("inter"),
        )
        .localCheckpoint()
    )
    return scored.filter(
        F.col("inter") / F.least("na", "nb") >= _CONT_T
    ).select(
        "doc_a",
        "doc_b",
        F.round(F.col("inter") / F.col("na"), 6).alias("cont_a_in_b"),
        F.round(F.col("inter") / F.col("nb"), 6).alias("cont_b_in_a"),
    )


simjoin_containment.__doc__ = simjoin_containment.__doc__.format(
    t=_CONT_T, f=_CONT_F
)


# ------------------------------------------------- audits over the family

_SPLIT_SQL = (
    "CASE WHEN CAST(('0x' || substring(md5(CAST({id} AS VARCHAR)), 1, 8))"
    " AS BIGINT) % 100 < 80 THEN 'train'"
    " WHEN CAST(('0x' || substring(md5(CAST({id} AS VARCHAR)), 1, 8))"
    " AS BIGINT) % 100 < 90 THEN 'val' ELSE 'test' END"
)


def _split_spark(col: str) -> F.Column:
    h = F.conv(
        F.substring(F.md5(F.col(col).cast("string")), 1, 8), 16, 10
    ).cast("bigint")
    return (
        F.when(h % 100 < 80, "train")
        .when(h % 100 < 90, "val")
        .otherwise("test")
    )


@query(
    "split_leakage_audit",
    oracle=f"""
    WITH {_CORPUS_SQL}, {_MINHASH_SQL},
    pairs AS (
      SELECT c.doc_a, c.doc_b
      FROM cand c
      JOIN shingled sa ON sa.doc_id = c.doc_a
      JOIN shingled sb ON sb.doc_id = c.doc_b
      WHERE CAST(len(list_intersect(sa.sh_set, sb.sh_set)) AS DOUBLE)
            / (len(sa.sh_set) + len(sb.sh_set)
               - len(list_intersect(sa.sh_set, sb.sh_set))) >= 0.5
    ),
    sp AS (
      SELECT {_SPLIT_SQL.format(id='doc_a')} AS sa,
             {_SPLIT_SQL.format(id='doc_b')} AS sb
      FROM pairs
    )
    SELECT least(sa, sb) AS split_a, greatest(sa, sb) AS split_b,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           least(sa, sb) <> greatest(sa, sb) AS leaked
    FROM sp GROUP BY 1, 2, 4
    """,
)
def split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/val/test contamination audit: how many near-duplicate pairs
    straddle split boundaries? A near-dup of a test document sitting in
    train silently inflates eval scores (the Lee et al. 2022
    "Deduplicating Training Data Makes Language Models Better" failure
    mode), so a release gate needs this grid at zero leaked pairs — or a
    cluster-aware split (sample_group_kfold's leakage-proof device).

    Composition, not new machinery: the near-dup pairs are EXACTLY
    dedup_minhash_lsh's output (band-bucket candidates, exact-Jaccard
    verified at >= 0.5) — the SCALABLE pair source; the eval-leakage
    gate runs corpus-wide, so it inherits the LSH path's cost, not the
    exact blocked join's (swapping the pair source from
    dedup_ngram_jaccard cut the sf0.1 wall from 21 s to the LSH op's
    ~1 s — the audit adds only column math). Each side's split is the
    same hash expression as sample_train_val_test — a pure column
    function of doc_id, so no join against a split table is needed; the
    only work on top of the pair op is one metadata-sized aggregation
    over (split, split). The oracle replays the minhash candidate +
    verify reference, pinning the pair set AND the split arithmetic."""
    pairs = _neardup_pairs(spark, sf_dir)
    sp = pairs.select(
        _split_spark("doc_a").alias("sa"),
        _split_spark("doc_b").alias("sb"),
    )
    return (
        sp.select(
            F.least("sa", "sb").alias("split_a"),
            F.greatest("sa", "sb").alias("split_b"),
        )
        .groupBy("split_a", "split_b")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .select(
            "split_a",
            "split_b",
            "n_pairs",
            (F.col("split_a") != F.col("split_b")).alias("leaked"),
        )
    )


@query(
    "minhash_estimate_error",
    oracle=f"""
    WITH {_CORPUS_SQL}, {_MINHASH_SQL}
    SELECT c.doc_a, c.doc_b,
           CAST((
             {" + ".join(f"CASE WHEN ma.h{i} = mb.h{i} THEN 1 ELSE 0 END" for i in range(_N_HASH))}
           ) * {1_000_000 // _N_HASH} AS BIGINT) AS est_micro,
           CAST((len(list_intersect(sa.sh_set, sb.sh_set)) * 1000000)
                // (len(sa.sh_set) + len(sb.sh_set)
                    - len(list_intersect(sa.sh_set, sb.sh_set)))
                AS BIGINT) AS exact_micro
    FROM cand c
    JOIN mh ma ON ma.doc_id = c.doc_a
    JOIN mh mb ON mb.doc_id = c.doc_b
    JOIN shingled sa ON sa.doc_id = c.doc_a
    JOIN shingled sb ON sb.doc_id = c.doc_b
    """,
)
def minhash_estimate_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-accuracy audit for the MinHash family: over the LSH
    candidate pairs, compare the signature-agreement Jaccard estimate
    (matching hashes / 8) against the exact shingle-set Jaccard — the
    measurement that justifies (or indicts) a chosen signature width
    before a 100 TB dedup run burns compute on it. E[est] = J with
    stderr sqrt(J(1-J)/8); with 8 hashes the estimate is coarse (steps
    of 1/8), which is exactly what the audit makes visible.

    Both values are emitted in exact integer micro-units: est_micro =
    matches * 125000 (1/8 is exact), exact_micro = (|A∩B| * 1e6) DIV
    |A∪B| — no float rounding anywhere, so the cross-engine hash is
    exact. The audit reuses the minhash op's signature fold (narrow map,
    no shuffle) and its band-bucket candidate join; the only additions
    are two signature re-joins, both hash joins on doc_id."""
    sh = _shingled(spark, sf_dir)
    mh = sh.select(
        "doc_id",
        *[
            F.array_min(
                F.expr(f"transform(sh_set, s -> md5(concat('{i}|', s)))")
            ).alias(f"h{i}")
            for i in range(_N_HASH)
        ],
    )
    bands = mh.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.concat(
                        F.lit(f"{b}:"),
                        F.col(f"h{2 * b}"),
                        F.col(f"h{2 * b + 1}"),
                    )
                    for b in range(_N_BANDS)
                ]
            )
        ).alias("band_key"),
    )
    cand = (
        bands.alias("x")
        .join(
            bands.alias("y"),
            (F.col("x.band_key") == F.col("y.band_key"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(
            F.col("x.doc_id").alias("doc_a"),
            F.col("y.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    # OPTIMIZATION r12 (guide §2.4 — remove shuffles outright): each
    # candidate endpoint fetches its signature columns AND its shingle
    # set through ONE combined side relation instead of two (mh joined
    # at doc_a and doc_b, sh joined at doc_a and doc_b = four probe
    # joins -> two). mh is just a narrow projection OVER the persisted
    # sh relation, so extending it with sh_set costs nothing — the old
    # form recomputed the signature fold per branch anyway (mh was an
    # unmaterialized plan), it just also paid two extra joins to fetch
    # the shingle sets separately. Plan diff in
    # plans/r12/minhash_estimate_error_{before,after}.txt.
    wide = sh.select(
        "doc_id",
        "sh_set",
        *[
            F.array_min(
                F.expr(f"transform(sh_set, s -> md5(concat('{i}|', s)))")
            ).alias(f"h{i}")
            for i in range(_N_HASH)
        ],
    )
    ma = wide.select(
        F.col("doc_id").alias("doc_a"),
        F.col("sh_set").alias("set_a"),
        *[F.col(f"h{i}").alias(f"a{i}") for i in range(_N_HASH)],
    )
    mb = wide.select(
        F.col("doc_id").alias("doc_b"),
        F.col("sh_set").alias("set_b"),
        *[F.col(f"h{i}").alias(f"b{i}") for i in range(_N_HASH)],
    )
    matches = sum(
        F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0)
        for i in range(_N_HASH)
    )
    inter = F.size(F.array_intersect(F.col("set_a"), F.col("set_b")))
    union = F.size("set_a") + F.size("set_b") - inter
    return (
        cand.join(ma, "doc_a")
        .join(mb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (matches * (1_000_000 // _N_HASH))
            .cast("bigint")
            .alias("est_micro"),
            F.expr(
                "CAST((size(array_intersect(set_a, set_b)) * 1000000)"
                " DIV (size(set_a) + size(set_b)"
                " - size(array_intersect(set_a, set_b))) AS BIGINT)"
            ).alias("exact_micro"),
        )
    )


_REMOVAL_ORACLE = f"""
WITH spans AS (
  SELECT doc_id, CAST(i AS INT) AS pos,
         md5(substr(text, CAST(i AS INT), {_SUBSTR_W})) AS d
  FROM documents,
       LATERAL unnest(range(1, length(text) - {_SUBSTR_W} + 2, {_SUBSTR_S}))
         AS u(i)
  WHERE length(text) >= {_SUBSTR_W}
),
rep AS (
  SELECT d, MIN(doc_id) AS first_doc FROM spans
  GROUP BY d HAVING COUNT(DISTINCT doc_id) > 1
),
marked AS (
  SELECT s.doc_id, s.pos FROM spans s JOIN rep r ON s.d = r.d
  WHERE s.doc_id > r.first_doc
),
starts AS (
  SELECT doc_id, list_sort(list(DISTINCT pos)) AS ss FROM marked GROUP BY 1
),
j AS (
  SELECT d.doc_id, d.text, starts.ss
  FROM documents d LEFT JOIN starts USING (doc_id)
),
f AS (
  SELECT doc_id, text,
         -- flat VARCHAR-list accumulator [kept_text, cursor_as_string]:
         -- struct accumulators are unreliable in multi-group list_reduce
         -- (see sessionize_max_duration's oracle lesson)
         CASE WHEN ss IS NULL THEN NULL ELSE
           list_reduce(
             list_prepend(['', '1'],
               list_transform(ss, s -> ['', CAST(s AS VARCHAR)])),
             (a, x) -> [
               a[1] || substr(text, CAST(a[2] AS INT),
                 greatest(0, CAST(x[2] AS INT) - CAST(a[2] AS INT))),
               CAST(greatest(CAST(a[2] AS INT),
                 CAST(x[2] AS INT) + {_SUBSTR_W}) AS VARCHAR)])
         END AS st
  FROM j
),
g AS (
  SELECT doc_id, text,
         CASE WHEN st IS NULL THEN text
              ELSE st[1] ||
                substr(text, CAST(st[2] AS INT),
                  length(text) - CAST(st[2] AS INT) + 1)
         END AS cleaned
  FROM f
)
SELECT doc_id, cleaned,
       CAST(length(text) - length(cleaned) AS BIGINT) AS n_removed_chars
FROM g
"""


@query("dedup_span_removal", oracle=_REMOVAL_ORACLE)
def dedup_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level dedup with RECONSTRUCTION — the step after
    dedup_exact_substring's report: cross-document repeated windows are
    REMOVED from every doc except the first (min doc_id) carrier, and
    the cleaned text is emitted (Lee et al. 2022's substring-removal
    semantics over the same strided-window approximation of the suffix
    array). Detection reuses the report op's machinery verbatim:
    (digest, doc_id, pos) spans, repeated = seen in 2+ docs.

    The rebuild is the interesting part: each doc's marked span starts
    collapse to ONE sorted int array (collect_set bounded by len/stride),
    and the cleaned string is a single sequential fold over that array —
    keep [cursor, start), jump cursor to start+W, with overlapping spans
    merged by the greatest() cursor monotonicity — so reconstruction is
    a narrow map: no per-character explode, no second pass. Shuffles:
    the digest groupBy (narrow pairs, the report op's shape), the marked
    join back, one groupBy(doc_id), one join to documents.

    ORACLE LESSON (extends the pack_bins_ffd list_reduce finding):
    DuckDB 1.0's list_reduce struct accumulators are unsafe twice over —
    fields mutate in declaration order (a later field's expression reads
    earlier fields ALREADY-UPDATED), and under multi-group vectorized
    evaluation even a correctly-ordered struct fold contaminated across
    rows (sessionize_max_duration's 68-vs-69 finding). The oracle
    therefore encodes its (kept_text, cursor) state as a flat
    VARCHAR list; Spark's named_struct is a pure expression and keeps
    the readable struct form."""
    docs = load(spark, sf_dir, "documents")
    spans = docs.filter(F.length("text") >= _SUBSTR_W).select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(1, length(text) - {_SUBSTR_W} + 1,"
                f" {_SUBSTR_S}), i -> struct(i AS pos,"
                f" md5(substring(text, i, {_SUBSTR_W})) AS d))"
            )
        ).alias("sp"),
    ).select("doc_id", F.col("sp.pos").alias("pos"), F.col("sp.d").alias("d"))
    rep = (
        spans.groupBy("d")
        .agg(
            F.min("doc_id").alias("first_doc"),
            F.count_distinct("doc_id").alias("nd"),
        )
        .filter(F.col("nd") > 1)
        .select("d", "first_doc")
    )
    marked = (
        spans.join(rep, "d")
        .filter(F.col("doc_id") > F.col("first_doc"))
        .select("doc_id", "pos")
    )
    starts = marked.groupBy("doc_id").agg(
        F.sort_array(F.collect_set("pos")).alias("ss")
    )
    j = docs.select("doc_id", "text").join(starts, "doc_id", "left")
    fold = F.expr(
        f"aggregate(ss,"
        f" named_struct('acc', '', 'pos', 1),"
        f" (a, s) -> named_struct("
        f"   'acc', concat(a.acc,"
        f"     substring(text, a.pos, greatest(0, s - a.pos))),"
        f"   'pos', greatest(a.pos, s + {_SUBSTR_W})),"
        f" a -> concat(a.acc,"
        f"   substring(text, a.pos, length(text) - a.pos + 1)))"
    )
    cleaned = F.when(F.col("ss").isNull(), F.col("text")).otherwise(fold)
    return j.select(
        "doc_id",
        cleaned.alias("cleaned"),
        (F.length("text") - F.length(cleaned))
        .cast("bigint")
        .alias("n_removed_chars"),
    )


@query(
    "dedup_threshold_sweep",
    oracle=f"""
    WITH {_CORPUS_SQL}, {_MINHASH_SQL},
    verified AS (
      SELECT (len(list_intersect(sa.sh_set, sb.sh_set)) * 1000000)
               // (len(sa.sh_set) + len(sb.sh_set)
                   - len(list_intersect(sa.sh_set, sb.sh_set))) AS j_micro
      FROM cand c
      JOIN shingled sa ON sa.doc_id = c.doc_a
      JOIN shingled sb ON sb.doc_id = c.doc_b
    ),
    t AS (SELECT unnest([500000, 600000, 700000, 800000, 900000])
            AS threshold)
    SELECT CAST(t.threshold AS BIGINT) AS threshold_micro,
           CAST(COUNT(CASE WHEN v.j_micro >= t.threshold THEN 1 END)
                AS BIGINT) AS n_pairs
    FROM t LEFT JOIN verified v ON TRUE
    GROUP BY 1
    """,
)
def dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup threshold calibration report: how many near-dup pairs would
    each Jaccard cutoff remove? Run BEFORE committing a 100 TB dedup to
    a threshold, this is the one-page answer to "how aggressive is 0.8
    vs 0.7" — the pair volume curve whose elbow picks the production
    setting (Lee et al. 2022 tune exactly this).

    Composition: LSH candidates + exact verification (the minhash op's
    machinery) computed ONCE with the Jaccard in integer micro-units,
    then a tiny threshold-spine cross join and a conditional count per
    threshold — the sweep costs one extra metadata aggregation on top of
    the candidate pass, NOT one dedup run per threshold. Candidates
    below the LSH floor (0.5 here) are invisible to every threshold
    >= the floor, so the curve is exact over the swept range."""
    sh = _shingled(spark, sf_dir)
    # Candidates come from the SAME session-memoized persisted band
    # relation dedup_minhash_lsh reads (r13): the sweep used to inline
    # its own signature fold (8 md5 minhashes over every shingle set)
    # UNDER BOTH SIDES of the band self-join — two full corpus signature
    # passes per call for a relation _bands_with_bound already holds
    # persisted. Join on (band, band_key) == the old "b:" || h2b || h2b1
    # string key: the band id plus the two concatenated minhashes
    # partition pairs identically, so the candidate set is unchanged.
    bands, pair_bound = _bands_with_bound(spark, sf_dir)
    cand = (
        bands.alias("x")
        .join(
            bands.alias("y"),
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.band_key") == F.col("y.band_key"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(
            F.col("x.doc_id").alias("doc_a"),
            F.col("y.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    # verify-join order per _minhash_verify_join: broadcast the
    # output-linear candidate set (when the occupancy bound proves it
    # modest) so the heavy shingle relation shuffles once, not twice
    cand_hinted = (
        F.broadcast(cand)
        if pair_bound <= _CAND_BROADCAST_MAX_PAIRS
        else cand
    )
    sa = sh.select(
        F.col("doc_id").alias("doc_a"), F.col("sh_set").alias("set_a")
    )
    sb = sh.select(
        F.col("doc_id").alias("doc_b"), F.col("sh_set").alias("set_b")
    )
    verified = (
        sa.join(cand_hinted, "doc_a")
        .join(sb, "doc_b")
        .select(
            F.expr(
                "CAST((size(array_intersect(set_a, set_b)) * 1000000)"
                " DIV (size(set_a) + size(set_b)"
                " - size(array_intersect(set_a, set_b))) AS BIGINT)"
            ).alias("j_micro")
        )
    )
    spine = spark.range(5).select(
        (F.lit(500_000) + F.col("id") * 100_000).alias("threshold_micro")
    )
    return (
        F.broadcast(spine)
        .crossJoin(verified)
        .groupBy("threshold_micro")
        .agg(
            F.count(
                F.when(F.col("j_micro") >= F.col("threshold_micro"), 1)
            )
            .cast("bigint")
            .alias("n_pairs")
        )
    )


# deterministic misspelling fixture for dedup_phonetic_key: surface
# variants of the customer's segment word keyed by custkey. Variants 1-3
# are phonetically-equivalent corruptions (vowel noise, doubled
# consonant); variant 4 genuinely changes the consonant skeleton, so the
# key SPLITS it — blocking must separate real differences, not just
# merge noise. replace() is all-occurrence on both engines.
_PHON_SURFACE = (
    "CASE CAST({k} % 5 AS INT)"
    " WHEN 1 THEN replace(lower({seg}), 'a', 'aa')"
    " WHEN 2 THEN replace(lower({seg}), 'e', '')"
    " WHEN 3 THEN replace(lower({seg}), 'r', 'rr')"
    " WHEN 4 THEN replace(lower({seg}), 'm', 'n')"
    " ELSE lower({seg}) END"
)


def _phon_key(name: str, dialect: str) -> str:
    """First letter + vowel-stripped, run-collapsed consonant skeleton,
    capped at 4 chars — a Soundex-family match key buildable from the
    same primitives on both engines. Run collapsing is an
    adjacent-dedupe FOLD over characters, not a backreference regex:
    DuckDB's RE2 engine has no backreferences (the canonicalizer's
    RE2-safe rule), and the fold is identical on both sides."""
    if dialect == "spark":
        strip = f"regexp_replace(substring({name}, 2), '[aeiouy]', '')"
        skel = f"concat(substring({name}, 1, 1), {strip})"
        collapsed = (
            f"aggregate(transform(sequence(1, length({skel})),"
            f" i -> substring({skel}, i, 1)), '',"
            " (a, ch) -> CASE WHEN right(a, 1) = ch THEN a"
            " ELSE concat(a, ch) END)"
        )
    else:
        strip = f"regexp_replace({name}[2:], '[aeiouy]', '', 'g')"
        skel = f"({name}[1] || {strip})"
        collapsed = (
            f"list_reduce(list_prepend('',"
            f" list_transform(range(1, length({skel}) + 1),"
            f" i -> {skel}[i])),"
            " (a, ch) -> CASE WHEN right(a, 1) = ch THEN a"
            " ELSE a || ch END)"
        )
    return f"substring({collapsed}, 1, 4)"


_PHON_SURFACE_DUCK = _PHON_SURFACE.format(k="c_custkey", seg="c_mktsegment")


@query(
    "dedup_phonetic_key",
    oracle=f"""
    WITH s AS (
      SELECT c_custkey, {_PHON_SURFACE_DUCK} AS surface
      FROM customer
    ),
    keyed AS (
      SELECT c_custkey, surface,
             {_phon_key('surface', 'duck')} AS pkey
      FROM s
    )
    SELECT pkey,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT surface) AS BIGINT) AS n_surface_forms,
           CAST(COUNT(*) * (COUNT(*) - 1) / 2 AS BIGINT)
             AS n_candidate_pairs,
           MIN(surface) AS example_surface
    FROM keyed GROUP BY pkey
    """,
)
def dedup_phonetic_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Phonetic blocking for entity dedup (the Soundex/match-key family):
    map each surface form to first-letter + vowel-stripped,
    run-collapsed consonant skeleton, then block on the key — misspelled
    variants of one name land in one block (vowel noise and doubled
    consonants vanish) while genuine consonant changes split, which is
    exactly the recall/precision trade a blocking key must make. The
    cheap high-recall front end to record_linkage_score's Fellegi-Sunter
    scoring (block here, score within blocks there); surface variants
    are a deterministic misspelling fixture over customer segments.

    Plan: pure codegen string ops per row, then ONE aggregation on the
    key — no pairwise comparison anywhere (the blocked candidate-pair
    count is reported per key as n·(n-1)/2, the quantity a linkage run
    budgets against; the all-pairs join a phoneticless dedup would need
    is exactly what this avoids at 100 TB). Skewed blocks (common
    names) surface directly in n_rows for salting decisions.
    """
    c = load(spark, sf_dir, "customer")
    s = c.select(
        "c_custkey",
        F.expr(
            _PHON_SURFACE.format(k="c_custkey", seg="c_mktsegment")
        ).alias("surface"),
    )
    keyed = s.select(
        "c_custkey",
        "surface",
        F.expr(_phon_key("surface", "spark")).alias("pkey"),
    )
    return keyed.groupBy("pkey").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("surface").alias("n_surface_forms"),
        F.expr(
            "CAST(COUNT(1) * (COUNT(1) - 1) / 2 AS BIGINT)"
        ).alias("n_candidate_pairs"),
        F.min("surface").alias("example_surface"),
    )


_TSORT_ORACLE = """
WITH fp AS (
  SELECT doc_id, source,
         md5(array_to_string(list_sort(
           list_filter(string_split(text, ' '), w -> w <> '')), ' '))
           AS h
  FROM documents
)
SELECT h,
       CAST(MIN(doc_id) AS BIGINT) AS keep_doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_copies,
       CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
       COUNT(*) > 1 AS is_dup
FROM fp GROUP BY h
"""


@query("dedup_token_sort_fingerprint", oracle=_TSORT_ORACLE)
def dedup_token_sort_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-sort fingerprint dedup (the fuzzywuzzy token_sort_ratio
    idea at exact-match strength): documents whose token MULTISETS are
    identical collapse to one fingerprint regardless of word order —
    catching the reordered-boilerplate duplicates that dedup_exact's raw
    digest misses and MinHash only finds probabilistically (a permuted
    doc has Jaccard 1.0 but a different md5). The canonical form is the
    sorted token list; its md5 is the grouping key.

    Shuffle discipline (the module rule): the shuffle carries the
    16-byte digest, never text — canonicalization (filter, sort, join,
    hash) happens per-row in codegen array expressions before the
    exchange. Emits only fingerprints with >1 copy plus a cross-source
    spread count (reordered dups that cross sources are the syndication
    signal the mixture designer needs).

    Emits EVERY fingerprint group (is_dup flags the collapse set): the
    full canonical-fingerprint table IS the artifact an incremental
    ledger diffs against, and it keeps the oracle hash check exercising
    all rows even on a fixture with no reordered dups.

    Scale: identical profile to dedup_exact (one digest-keyed
    aggregation); sort cost is per-row O(tokens log tokens), no
    candidate explosion anywhere. Reference analog: the variant-key
    canonicalization layer (frequencyAnalysis.py:31-35; METAL/varId
    normalization in the reference's variant pipeline) applied to
    token multisets.
    """
    d = load(spark, sf_dir, "documents")
    fp = d.select(
        "doc_id",
        "source",
        F.md5(
            F.expr(
                "array_join(array_sort(filter(split(text, ' '),"
                " w -> w <> '')), ' ')"
            )
        ).alias("h"),
    )
    return fp.groupBy("h").agg(
        F.min("doc_id").cast("bigint").alias("keep_doc_id"),
        F.count(F.lit(1)).cast("bigint").alias("n_copies"),
        F.countDistinct("source").cast("bigint").alias("n_sources"),
        (F.count(F.lit(1)) > 1).alias("is_dup"),
    )

"""Training-data assembly operators — the last-mile steps an LLM data
pipeline runs after curation/dedup: packing documents into fixed
token-budget chunks, deterministic source interleaving (data mixing), and
int8 embedding quantization.

All three are pure DataFrame ops (no Python in the hot path) and all are
deterministic, so the DuckDB oracle hash-checks them exactly.

Scale notes (100 TB):
- pack_token_chunks partitions by source — each source packs independently,
  so the window sort is per-source, never a single global sort.
- interleave_sources derives the global round-robin position arithmetically
  from (per-source rank, source index) instead of a global row_number —
  a broadcast join against the tiny source-index dim, no global window.
- quantize_embeddings is a narrow per-row map (array fold + transform).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import query
from ..tables import load, maybe_spread, session_memo

CHUNK_TOKENS = 512  # token budget per packed training chunk


@query(
    "pack_token_chunks",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, source,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      FROM documents
    ),
    c AS (
      SELECT doc_id, source, n_tokens,
             COALESCE(SUM(n_tokens) OVER (
               PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               0) AS cum_before
      FROM d
    )
    SELECT source,
           CAST(cum_before // {CHUNK_TOKENS} AS BIGINT) AS chunk_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS chunk_tokens,
           MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
    FROM c GROUP BY 1, 2
    """,
)
def pack_token_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: assign documents (in doc_id order, per source) to
    contiguous chunks of ~CHUNK_TOKENS whitespace tokens — the
    concat-and-split batching used to build fixed-length training examples.
    chunk_id = floor(tokens-before-this-doc / budget), i.e. a doc starts a
    new chunk once the running total crosses the budget.

    Partitioning by source keeps the running-sum window per-source (each
    source packs independently), so no global sort exists anywhere — the
    shape that survives a 100 TB corpus."""
    d = load(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.size(F.split("text", " ")).cast("bigint").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    c = d.withColumn(
        "cum_before", F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    )
    return (
        c.withColumn(
            "chunk_id",
            F.floor(F.col("cum_before") / CHUNK_TOKENS).cast("bigint"),
        )
        .groupBy("source", "chunk_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("chunk_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
    )


@query(
    "interleave_sources",
    oracle="""
    WITH idx AS (
      SELECT source,
             ROW_NUMBER() OVER (ORDER BY source) - 1 AS src_idx,
             CAST(COUNT(*) OVER () AS BIGINT) AS n_src
      FROM (SELECT DISTINCT source FROM documents)
    ),
    r AS (
      SELECT doc_id, source,
             ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) - 1
               AS rn
      FROM documents
    )
    SELECT CAST(r.rn * idx.n_src + idx.src_idx AS BIGINT) AS pos,
           r.doc_id, r.source
    FROM r JOIN idx ON r.source = idx.source
    """,
)
def interleave_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic data mixing: round-robin interleave of sources for a
    training epoch. pos = per-source-rank * n_sources + source-index, so
    consecutive positions cycle through the sources.

    The only global window runs over the DISTINCT source list (tiny —
    metadata-sized), then broadcast-joins back; the per-document rank is a
    per-source window. No global row_number over the corpus, which would
    serialize a 100 TB epoch onto one task."""
    docs = load(spark, sf_dir, "documents")
    idx = (
        docs.select("source")
        .distinct()
        .withColumn(
            "src_idx",
            F.row_number().over(Window.orderBy("source")) - 1,
        )
        .withColumn("n_src", F.count("*").over(Window.partitionBy()))
    )
    r = docs.select(
        "doc_id",
        "source",
        (
            F.row_number().over(
                Window.partitionBy("source").orderBy("doc_id")
            )
            - 1
        ).alias("rn"),
    )
    return r.join(F.broadcast(idx), "source").select(
        (F.col("rn") * F.col("n_src") + F.col("src_idx"))
        .cast("bigint")
        .alias("pos"),
        "doc_id",
        "source",
    )


@query(
    "quantize_embeddings",
    oracle="""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label FROM embeddings
    ),
    m AS (
      SELECT vec_id, v, label,
             greatest(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list_transform(v, x -> abs(x))),
               (acc, x) -> greatest(acc, x)), 1e-30) AS maxabs
      FROM e
    ),
    q AS (
      SELECT vec_id, label,
             ROUND(maxabs, 6) AS scale_maxabs,
             list_transform(v, x -> CAST(round((x * 127.0) / maxabs) AS INT))
               AS qvec
      FROM m
    )
    SELECT vec_id, label, scale_maxabs,
           qvec[1] AS q_first,
           CAST(list_sum(list_transform(qvec, x -> abs(x))) AS BIGINT)
             AS q_l1,
           md5(array_to_string(qvec, ',')) AS qvec_digest
    FROM q
    """,
)
def quantize_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization per embedding: q_i = round(127 * x_i /
    max|x|) — the storage/serving compression step after embedding
    generation. A narrow per-row map (fold for max|x|, transform for the
    quantized array): zero shuffle, trivially linear at any scale.

    The fold and the (x * 127.0) / maxabs operation order are written
    identically on both engines so the doubles — and therefore every
    rounded int8 — are bit-identical. The quantized vector is emitted as
    an md5 digest of its comma-joined elements (plus first-element and
    L1-norm scalar probes) rather than a raw array<int>: the harness's
    pandas value-hash cannot factorize list cells (r3 err row), and every
    other array-producing op here digests its payload the same way."""
    e = load(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("v"),
        "label",
    )
    m = e.withColumn(
        "maxabs",
        F.greatest(
            F.expr(
                "aggregate(transform(v, x -> abs(x)),"
                " CAST(0.0 AS DOUBLE), (acc, x) -> greatest(acc, x))"
            ),
            F.lit(1e-30),
        ),
    )
    q = m.select(
        "vec_id",
        "label",
        F.round("maxabs", 6).alias("scale_maxabs"),
        F.expr(
            "transform(v, x -> CAST(round((x * 127.0) / maxabs) AS INT))"
        ).alias("qvec"),
    )
    return q.select(
        "vec_id",
        "label",
        "scale_maxabs",
        F.element_at("qvec", 1).alias("q_first"),
        F.expr("aggregate(qvec, 0L, (acc, x) -> acc + abs(x))").alias("q_l1"),
        F.md5(
            F.expr("array_join(transform(qvec, x -> CAST(x AS STRING)), ',')")
        ).alias("qvec_digest"),
    )


@query(
    "pack_chunk_texts",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, source, text,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      FROM documents
    ),
    c AS (
      SELECT doc_id, source, text,
             CAST(COALESCE(SUM(n_tokens) OVER (
               PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               0) // {CHUNK_TOKENS} AS BIGINT) AS chunk_id
      FROM d
    )
    SELECT source, chunk_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(length(string_agg(text, ' <eos> ' ORDER BY doc_id))
             AS BIGINT) AS packed_len,
           md5(string_agg(text, ' <eos> ' ORDER BY doc_id)) AS packed_digest
    FROM c GROUP BY source, chunk_id
    """,
)
def pack_chunk_texts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Example assembly — the materialization step after pack_token_chunks'
    planning pass: concatenate each chunk's documents in doc_id order with
    an ' <eos> ' separator, producing the actual fixed-budget training
    examples. The harness row carries the packed text's length and md5
    digest rather than the text itself, so the hash check pins the exact
    assembled bytes without shipping them through the compare.

    Same scale shape as the planner: one per-source exchange, per-source
    window, then an aggregation on (source, chunk_id) that sorts only
    within each micro-group (array_sort of the collected structs) — no
    global sort. At 100 TB the collected per-chunk payload is bounded by
    the token budget, so the aggregation state stays small per group."""
    toks = F.split(F.col("text"), " ")
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    c = (
        load(spark, sf_dir, "documents")
        .select(
            "doc_id",
            "source",
            "text",
            F.size(toks).cast("bigint").alias("n_tokens"),
        )
        .withColumn(
            "chunk_id",
            F.floor(
                F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
                / CHUNK_TOKENS
            ).cast("bigint"),
        )
    )
    packed = F.array_join(
        F.transform(
            F.array_sort(F.collect_list(F.struct("doc_id", "text"))),
            lambda s: s["text"],
        ),
        " <eos> ",
    )
    return c.groupBy("source", "chunk_id").agg(
        F.count("*").alias("n_docs"),
        F.length(packed).cast("bigint").alias("packed_len"),
        F.md5(packed).alias("packed_digest"),
    )


FIM_MIN_TOKENS = 6  # need non-empty prefix/middle/suffix


@query(
    "fim_split",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS tk,
             len(string_split(text, ' ')) AS n
      FROM documents WHERE len(string_split(text, ' ')) >= {FIM_MIN_TOKENS}
    )
    SELECT doc_id,
           CAST(n // 3 AS BIGINT) AS n_prefix,
           CAST((2 * n) // 3 - n // 3 AS BIGINT) AS n_middle,
           CAST(n - (2 * n) // 3 AS BIGINT) AS n_suffix,
           md5('<PRE> ' || array_to_string(tk[1:n // 3], ' ')
               || ' <SUF> ' || array_to_string(tk[(2 * n) // 3 + 1:n], ' ')
               || ' <MID> '
               || array_to_string(tk[n // 3 + 1:(2 * n) // 3], ' '))
             AS fim_digest
    FROM t
    """,
)
def fim_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fill-in-the-middle reordering (Bavarian et al. 2022,
    arXiv:2207.14255): deterministically split each document's tokens into
    prefix/middle/suffix thirds and emit the PSM-ordered training text
    `<PRE> prefix <SUF> suffix <MID> middle`. The harness row carries the
    span sizes and the md5 of the reordered text. Pure per-row array
    slicing — zero shuffle, linear at any scale."""
    d = (
        load(spark, sf_dir, "documents")
        .select("doc_id", F.split("text", " ").alias("tk"))
        .withColumn("n", F.size("tk"))
        .filter(F.col("n") >= FIM_MIN_TOKENS)
        .withColumn("p1", (F.col("n") / 3).cast("int"))
        .withColumn("p2", (F.col("n") * 2 / 3).cast("int"))
    )
    join_slice = lambda start, length: F.array_join(  # noqa: E731
        F.expr(f"slice(tk, {start}, {length})"), " "
    )
    fim = F.concat(
        F.lit("<PRE> "),
        join_slice("1", "p1"),
        F.lit(" <SUF> "),
        join_slice("p2 + 1", "n - p2"),
        F.lit(" <MID> "),
        join_slice("p1 + 1", "p2 - p1"),
    )
    return d.select(
        "doc_id",
        F.col("p1").cast("bigint").alias("n_prefix"),
        (F.col("p2") - F.col("p1")).cast("bigint").alias("n_middle"),
        (F.col("n") - F.col("p2")).cast("bigint").alias("n_suffix"),
        F.md5(fim).alias("fim_digest"),
    )


MASK_MOD = 5  # mask every token whose (doc_id, position) hash % MOD == 0


@query(
    "span_corruption_mask",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS tk,
             len(string_split(text, ' ')) AS n
      FROM documents WHERE len(string_split(text, ' ')) >= 1
    ),
    m AS (
      SELECT doc_id, n,
             list_transform(range(1, n + 1), i ->
               CASE WHEN CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)
                 || ':' || CAST(i AS VARCHAR)), 1, 8)) AS BIGINT)
                 % {MASK_MOD} = 0
               THEN '<mask>' ELSE tk[CAST(i AS INT)] END) AS masked,
             list_filter(range(1, n + 1), i ->
               CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)
                 || ':' || CAST(i AS VARCHAR)), 1, 8)) AS BIGINT)
                 % {MASK_MOD} = 0) AS mpos
      FROM t
    )
    SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
           CAST(len(mpos) AS BIGINT) AS n_masked,
           md5(array_to_string(masked, ' ')) AS masked_digest,
           md5(COALESCE(array_to_string(list_transform(mpos,
             i -> tk[CAST(i AS INT)]), ' '), '')) AS targets_digest
    FROM m JOIN t USING (doc_id, n)
    """,
)
def span_corruption_mask(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic masked-span corruption (the T5/BERT objective's data
    prep): mask every token whose md5(doc_id:position) lands in 1/{MASK_MOD}
    of hash space, emit the masked text digest and the extracted-target
    digest. Hash-derived masking (not rand()) makes the corruption
    reproducible across engines, runs, and partitionings — the same
    auditability rule as the sampling ops. Pure per-row transforms, zero
    shuffle."""
    mask_hit = (
        "conv(substring(md5(concat(CAST(doc_id AS STRING), ':',"
        " CAST(i AS STRING))), 1, 8), 16, 10) % " + str(MASK_MOD) + " = 0"
    )
    d = (
        load(spark, sf_dir, "documents")
        .select("doc_id", F.split("text", " ").alias("tk"))
        .withColumn("n", F.size("tk"))
        .filter(F.col("n") >= 1)
        .withColumn(
            "masked",
            F.expr(
                f"transform(sequence(1, n), i -> CASE WHEN {mask_hit}"
                " THEN '<mask>' ELSE element_at(tk, CAST(i AS INT)) END)"
            ),
        )
        .withColumn(
            "mpos",
            F.expr(f"filter(sequence(1, n), i -> {mask_hit})"),
        )
    )
    return d.select(
        "doc_id",
        F.col("n").cast("bigint").alias("n_tokens"),
        F.size("mpos").cast("bigint").alias("n_masked"),
        F.md5(F.array_join("masked", " ")).alias("masked_digest"),
        F.md5(
            F.array_join(
                F.expr("transform(mpos, i -> element_at(tk, CAST(i AS INT)))"),
                " ",
            )
        ).alias("targets_digest"),
    )


_BPE_TOPK = 50

_BPE_ORACLE = f"""
WITH toks AS (
  SELECT unnest(regexp_extract_all(text, '[a-z0-9]+')) AS tok
  FROM documents
), pairs AS (
  SELECT unnest([substr(tok, i, 2)
                 FOR i IN generate_series(1, len(tok) - 1)]) AS pair
  FROM toks WHERE len(tok) >= 2
)
SELECT pair, CAST(COUNT(*) AS BIGINT) AS n
FROM pairs GROUP BY pair
ORDER BY n DESC, pair
LIMIT {_BPE_TOPK}
"""


@query("bpe_pair_stats", oracle=_BPE_ORACLE)
def bpe_pair_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One merge round of BPE vocabulary training: count adjacent
    symbol-pair frequencies across the corpus and take the top candidates
    (the argmax pair is what BPE merges next; real trainers iterate this
    map-reduce round over the evolving symbol table). Ties break on the
    pair string so the cut is deterministic.

    Plan: tokens and their adjacent character pairs are generated per row
    with native regexp_extract_all + transform(sequence(...)) — the
    double explode (token, then pair) never leaves the map side, so the
    ONLY shuffle is the partial-aggregated pair count, whose key space is
    bounded by the symbol alphabet squared (tiny), followed by a
    TakeOrderedAndProject top-k. This is the canonical "heavy generation,
    light reduction" shape — at 100 TB the pair-count exchange carries at
    most |alphabet|^2 rows per map task regardless of corpus size."""
    d = load(spark, sf_dir, "documents").select(
        F.explode(
            F.expr(r"regexp_extract_all(text, '[a-z0-9]+', 0)")
        ).alias("tok")
    )
    pairs = d.filter(F.length("tok") >= 2).select(
        F.explode(
            F.expr(
                "transform(sequence(1, length(tok) - 1),"
                " i -> substring(tok, CAST(i AS INT), 2))"
            )
        ).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "pair")
        .limit(_BPE_TOPK)
    )


_LB_BATCH = 8  # docs per training batch within a length bucket

_LENBUCKET_ORACLE = f"""
WITH d AS (
  SELECT doc_id, len(string_split(text, ' ')) AS n_tokens,
         CAST(ceil(log2(greatest(len(string_split(text, ' ')), 2)))
              AS INT) AS bucket
  FROM documents
), ranked AS (
  SELECT doc_id, n_tokens, bucket,
         ROW_NUMBER() OVER (
           PARTITION BY bucket
           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) - 1 AS rn
  FROM d
)
SELECT bucket, CAST(rn // {_LB_BATCH} AS INT) AS batch_idx,
       CAST(COUNT(*) AS BIGINT) AS batch_size,
       CAST(MAX(n_tokens) AS BIGINT) AS max_len,
       CAST(MIN(n_tokens) AS BIGINT) AS min_len,
       ROUND(CAST(SUM(n_tokens) AS DOUBLE)
             / (COUNT(*) * MAX(n_tokens)), 6) AS pack_efficiency,
       md5(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY rn))
         AS member_digest
FROM ranked GROUP BY bucket, rn // {_LB_BATCH}
"""


@query("length_bucket_batching", oracle=_LENBUCKET_ORACLE)
def length_bucket_batching(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed batch assignment: documents bucket by
    ceil(log2(token count)), shuffle deterministically WITHIN the bucket
    (md5-hash order — reproducible, unlike rand()), and group into
    {b}-doc training batches. Padding waste per batch is bounded by the
    bucket's 2x length band; pack_efficiency (= sum(len) / (rows *
    max_len)) is the fraction of the padded tensor that is real tokens —
    the metric this op exists to maximize versus random batching.

    Plan: ONE shuffle on the tiny bucket key for the ranking window, one
    more for the (bucket, batch) stats — the window's per-bucket sort is
    the cost, and at 100 TB it becomes a per-bucket range partition
    (bucket count is ~log2(max_len), so each sort is corpus/20-sized).
    Batch membership is digest-pinned so the oracle verifies the exact
    assignment, not just the counts."""
    toks = F.split(F.col("text"), " ")
    d = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.ceil(F.log2(F.greatest(F.size(toks), F.lit(2))))
        .cast("int")
        .alias("bucket"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("bucket").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    ranked = d.withColumn("rn", F.row_number().over(w) - 1)
    return (
        ranked.groupBy(
            "bucket",
            F.floor(F.col("rn") / _LB_BATCH).cast("int").alias("batch_idx"),
        )
        .agg(
            F.count(F.lit(1)).alias("batch_size"),
            F.max("n_tokens").cast("bigint").alias("max_len"),
            F.min("n_tokens").cast("bigint").alias("min_len"),
            F.round(
                F.sum("n_tokens").cast("double")
                / (F.count(F.lit(1)) * F.max("n_tokens")),
                6,
            ).alias("pack_efficiency"),
            F.md5(
                F.array_join(
                    F.expr("transform(array_sort(collect_list(struct(rn, doc_id))), x -> CAST(x.doc_id AS STRING))"),
                    ",",
                )
            ).alias("member_digest"),
        )
    )


length_bucket_batching.__doc__ = length_bucket_batching.__doc__.format(
    b=_LB_BATCH
)


_BPE_ROUNDS = 3

# one merge round of the oracle: argmax pair over the current vocab, then
# the double-replace application (see docstring for why double)
_BPE_R_TMPL = """
p{r} AS (
  SELECT pair, SUM(cnt) AS n FROM (
    SELECT cnt,
           unnest([syms[i] || ' ' || syms[i+1]
                   FOR i IN generate_series(1, len(syms) - 1)]) AS pair
    FROM (SELECT list_filter(string_split_regex(trim(sym), ' '),
                             x -> x <> '') AS syms, cnt
          FROM v{p})
  ) GROUP BY pair
),
b{r} AS (SELECT pair, CAST(n AS BIGINT) AS n FROM p{r}
         ORDER BY n DESC, pair LIMIT 1),
v{r} AS (
  SELECT replace(replace(sym, ' ' || b{r}.pair || ' ',
                         ' ' || replace(b{r}.pair, ' ', '') || ' '),
                 ' ' || b{r}.pair || ' ',
                 ' ' || replace(b{r}.pair, ' ', '') || ' ') AS sym, cnt
  FROM v{p}, b{r}
)"""

_BPE_MERGES_ORACLE = (
    """
WITH words AS (
  SELECT tok AS w, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
    SELECT unnest(regexp_extract_all(text, '[a-z0-9]+')) AS tok
    FROM documents
  ) GROUP BY tok
),
v0 AS (
  SELECT ' ' || array_to_string(
           list_filter(string_split_regex(w, ''), x -> x <> ''), ' ')
         || ' ' AS sym, cnt
  FROM words
),"""
    + ",".join(
        _BPE_R_TMPL.format(r=r, p=r - 1) for r in range(1, _BPE_ROUNDS + 1)
    )
    + "\n"
    + "\nUNION ALL\n".join(
        f"SELECT {r} AS round, pair, n FROM b{r}"
        for r in range(1, _BPE_ROUNDS + 1)
    )
)


@query("tokenizer_bpe_merges", oracle=_BPE_MERGES_ORACLE)
def tokenizer_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterated BPE vocabulary training, {r} merge rounds: each round
    finds the corpus-wide most frequent adjacent symbol pair and fuses
    it everywhere, exactly the loop a tokenizer trainer runs (contrast
    bpe_pair_stats, which is one round's counting only). Output is the
    learned merge table (round, pair, count) — the artifact a trainer
    ships.

    The distributed-systems content is the VOCAB optimization every real
    BPE trainer uses: the corpus is scanned ONCE into (word, count) —
    after that, every round iterates over the word-type table (vocabulary
    -sized, orders of magnitude smaller than the corpus) with counts as
    weights. Per round: one pair-count aggregation on the vocab + an
    argmax that collects ONE row to the driver (the kmeans_embeddings
    pattern — metadata-sized driver traffic), then a map-side merge
    application.

    Merge application is string replace on the space-joined symbol form,
    applied TWICE: a single leftmost pass consumes the separator after
    each match, skipping back-to-back occurrences ("a b a b" -> only the
    first merges); the second pass catches them. On runs of a repeated
    symbol with odd length >= 5 this can fuse a different (still
    non-overlapping) pairing than canonical leftmost BPE — both engines
    apply the IDENTICAL procedure, so the oracle pins the exact
    semantics; canonical tie-handling on such runs is implementation-
    defined across real tokenizers anyway."""
    words = (
        load(spark, sf_dir, "documents")
        .select(
            F.explode(
                F.expr(r"regexp_extract_all(text, '[a-z0-9]+', 0)")
            ).alias("w")
        )
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    cur = words.select(
        F.concat(
            F.lit(" "), F.array_join(F.split("w", ""), " "), F.lit(" ")
        ).alias("sym"),
        "cnt",
    )
    # the (word-type, count) table is derived once from the corpus; each
    # round's driver argmax (.first()) re-executed the whole corpus
    # extract + aggregate through the lineage. localCheckpoint the
    # vocab-sized symbol table so rounds 2..R read the checkpoint and
    # re-apply only their (narrow, vocab-sized) merge projections —
    # guide §2.4/§5; within-run only, dies with the session.
    cur = cur.localCheckpoint()
    rules = []
    for r in range(1, _BPE_ROUNDS + 1):
        pairs = cur.select(
            "cnt",
            F.explode(
                # let-bind the symbol split: the inlined form re-ran
                # split(trim(sym), ' ') TWICE PER EMITTED PAIR (plus the
                # two size() probes) — O(|sym|^2) per word-type per
                # round; one split per row is O(|sym|) (r12 batch-4
                # let-binding audit, applied to the merge trainer)
                F.expr(
                    "element_at(transform(array(split(trim(sym), ' ')),"
                    " syms -> CASE WHEN size(syms) >= 2 THEN"
                    "  transform(sequence(1, size(syms) - 1),"
                    "   i -> concat(element_at(syms, CAST(i AS INT)),"
                    "               ' ',"
                    "               element_at(syms, CAST(i AS INT) + 1)))"
                    " ELSE array() END), 1)"
                )
            ).alias("pair"),
        )
        best = (
            pairs.groupBy("pair")
            .agg(F.sum("cnt").alias("n"))
            .orderBy(F.desc("n"), "pair")
            .first()
        )
        if best is None:  # empty corpus / no 2-symbol words left
            break
        rules.append((r, best["pair"], int(best["n"])))
        frm = f" {best['pair']} "
        to = " " + best["pair"].replace(" ", "") + " "
        cur = cur.select(
            F.expr(
                f"replace(replace(sym, '{frm}', '{to}'), '{frm}', '{to}')"
            ).alias("sym"),
            "cnt",
        )
    return spark.createDataFrame(rules, "round int, pair string, n bigint")


_FFD_CAP = 200  # bin capacity (tokens); fixture docs are 10-99 tokens
_FFD_SHARD = 256  # max docs per packing group (bounds the fold's cost)

# DuckDB 1.0's list_reduce drops LIST fields inside STRUCT accumulators
# (verified empirically: a struct acc's list field resets each step), so
# the oracle folds over a FLAT BIGINT list encoding the packer state:
#   [n_bins, rem_1..rem_n, assign_1..assign_k]
_FFD_BINS = "acc[2:CAST(acc[1] + 1 AS INT)]"
_FFD_ASSIGN = "acc[CAST(acc[1] + 2 AS INT):]"
_FFD_P = (
    f"COALESCE(list_position(list_transform({_FFD_BINS},"
    " b -> b >= x[1]), true), 0)"
)
_FFD_STEP = f"""CASE WHEN {_FFD_P} = 0
  THEN [acc[1] + 1] || {_FFD_BINS} || [{_FFD_CAP} - x[1]]
       || {_FFD_ASSIGN} || [acc[1] + 1]
  ELSE [acc[1]] || {_FFD_BINS}[1:CAST({_FFD_P} - 1 AS INT)]
       || [{_FFD_BINS}[CAST({_FFD_P} AS INT)] - x[1]]
       || {_FFD_BINS}[CAST({_FFD_P} + 1 AS INT):]
       || {_FFD_ASSIGN} || [{_FFD_P}]
  END"""


@query(
    "pack_bins_ffd",
    oracle=f"""
    WITH t AS (
      SELECT source, doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS len
      FROM documents
    ),
    c AS (SELECT source, COUNT(*) AS n_src FROM t GROUP BY source),
    t2 AS (
      SELECT t.source, t.doc_id, t.len,
             CAST(CAST(('0x' || substring(md5(CAST(t.doc_id AS VARCHAR)),
                                          1, 8)) AS BIGINT)
                  % CAST(ceil(CAST(c.n_src AS DOUBLE) / {_FFD_SHARD})
                         AS BIGINT) AS INT) AS shard
      FROM t JOIN c USING (source)
    ),
    g AS (
      SELECT source, shard,
             list(struct_pack(doc_id := doc_id, len := len)
                  ORDER BY len DESC, doc_id) AS docs
      FROM t2 GROUP BY source, shard
    ),
    f AS (
      SELECT source, shard, docs,
        list_reduce(
          list_prepend(CAST([0] AS BIGINT[]),
                       list_transform(docs, d -> [d.len])),
          (acc, x) -> {_FFD_STEP}) AS st
      FROM g
    )
    SELECT source, shard,
           docs[CAST(u.i AS INT)].doc_id AS doc_id,
           docs[CAST(u.i AS INT)].len AS n_toks,
           CAST(st[CAST(st[1] + 1 + u.i AS INT)] AS INT) AS bin_idx
    FROM f, LATERAL unnest(range(1, len(docs) + 1)) AS u(i)
    """,
)
def pack_bins_ffd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing as BIN PACKING, first-fit-decreasing: per source,
    documents sorted longest-first each land in the first bin with enough
    remaining token capacity (cap {cap}), opening a new bin when none
    fits. FFD wastes at most ~22% over optimal (11/9 OPT + 1, a classic
    guarantee) versus the greedy sequential packer's unbounded padding
    loss on adversarial length order — this is the packer that minimizes
    padding tokens in training batches, complementing pack_token_chunks'
    boundary-splitting packer (which never pads but splits documents).

    Packing groups are (source, shard) with shard =
    md5-hash(doc_id) mod ceil(n_source / {sh}), so no fold ever sees more
    than ~{sh} docs: the x100 scaleproof caught the unsharded per-source
    fold going SUPERLINEAR (139 s at x100 vs 6.9 s at x10 — O(n x bins)
    per group), and bounding the group size makes total work linear and
    the shards embarrassingly parallel. The cost is bins not shared
    across shards of one source — a padding loss bounded by one
    partial bin per shard, the standard trade every distributed packer
    makes. On the fixture (25 docs/source) each source has exactly one
    shard, so results equal the unsharded packer's.

    Plan shape: one count per source (broadcast back), then ONE shuffle
    (groupBy source, shard) collects each group's (len, doc_id) pairs —
    NOT the text — into a sorted array; the FFD fold is a native
    ``aggregate`` expression over that array, and the per-doc bin
    assignment re-emerges via posexplode. FFD is inherently
    order-dependent, so each group is sequential by definition;
    parallelism comes from the group dimension. Bin ids are 1-based in
    first-opened order per (source, shard), deterministic."""
    t = load(spark, sf_dir, "documents").select(
        "source",
        "doc_id",
        F.size(F.split("text", " ")).cast("bigint").alias("len"),
    )
    counts = t.groupBy("source").agg(F.count(F.lit(1)).alias("n_src"))
    h32 = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
    ).cast("bigint")
    t2 = t.join(F.broadcast(counts), "source").select(
        "source",
        "doc_id",
        "len",
        F.pmod(
            h32,
            F.ceil(F.col("n_src").cast("double") / _FFD_SHARD).cast(
                "bigint"
            ),
        )
        .cast("int")
        .alias("shard"),
    )
    g = t2.groupBy("source", "shard").agg(
        F.array_sort(
            F.collect_list(F.struct((-F.col("len")).alias("nl"), "doc_id", "len"))
        ).alias("docs")
    )
    fold = F.expr(
        f"""aggregate(
          docs,
          named_struct('bins', CAST(array() AS ARRAY<BIGINT>),
                       'assign', CAST(array() AS ARRAY<INT>)),
          (acc, d) -> IF(
            COALESCE(array_position(transform(acc.bins, b -> b >= d.len),
                                    true), 0) = 0,
            named_struct(
              'bins', concat(acc.bins, array({_FFD_CAP} - d.len)),
              'assign', concat(acc.assign,
                               array(CAST(size(acc.bins) + 1 AS INT)))),
            named_struct(
              'bins', concat(
                slice(acc.bins, 1,
                  CAST(array_position(transform(acc.bins, b -> b >= d.len),
                                      true) - 1 AS INT)),
                array(element_at(acc.bins,
                  CAST(array_position(transform(acc.bins, b -> b >= d.len),
                                      true) AS INT)) - d.len),
                slice(acc.bins,
                  CAST(array_position(transform(acc.bins, b -> b >= d.len),
                                      true) + 1 AS INT),
                  CAST(size(acc.bins)
                    - array_position(transform(acc.bins, b -> b >= d.len),
                                     true) AS INT))),
              'assign', concat(acc.assign,
                array(CAST(array_position(transform(acc.bins,
                  b -> b >= d.len), true) AS INT))))))"""
    ).alias("st")
    f = g.select("source", "shard", "docs", fold)
    return f.select(
        "source",
        "shard",
        F.expr(
            "explode(transform(sequence(1, size(docs)), i -> named_struct("
            " 'doc_id', element_at(docs, i).doc_id,"
            " 'n_toks', element_at(docs, i).len,"
            " 'bin_idx', element_at(st.assign, i))))"
        ).alias("r"),
    ).select("source", "shard", "r.doc_id", "r.n_toks", "r.bin_idx")


pack_bins_ffd.__doc__ = pack_bins_ffd.__doc__.format(
    cap=_FFD_CAP, sh=_FFD_SHARD
)


# Ordered BPE merge table for tokenizer_bpe_apply, encoded 'left right'.
# WELL-FORMED by construction: any rule whose side is a composite token
# appears after the rules that create that composite ('th e' after 't h',
# 'sc an' after 's c'/'a n', ...) — the invariant every learned merge
# list satisfies (a pair can only be counted once its parts exist), and
# the property that makes rule-by-rule exhaustive application equal to
# true priority-order BPE: a rule's merges can only create pairs for
# LATER rules, never re-enable an earlier one.
_BPE_MERGES = [
    "t h", "th e", "a n", "s c", "sc an", "e r", "o r", "or t",
    "i n", "in d", "a t", "s t", "st r",
]
# Spark side hoists each rule into a struct ONCE (l, r pre-split):
# the string-encoded form re-evaluates split_part 4x per inner fold
# step, which measured 8.7 s vs 3.7 s for this form at sf0.1 (the
# interpreted-HOF per-step-constant lesson from the CDC fold, applied).
_BPE_MERGES_SPARK = (
    "array("
    + ", ".join(
        "named_struct('l', '{l}', 'r', '{r}')".format(
            l=m.split()[0], r=m.split()[1]
        )
        for m in _BPE_MERGES
    )
    + ")"
)
_BPE_MERGES_DUCK = (
    "[" + ", ".join(f"'{m}'" for m in _BPE_MERGES) + "]"
)


def _bpe_encoded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, source, n_chars, ew): per-doc BPE-encoded words, where
    ew[i] is word i's token sequence joined by '~'. Persisted and
    session-memoized (tables.session_memo): the BPE merge fold is the
    heaviest narrow map in the repo, and BOTH tokenizer_bpe_apply and
    tokenizer_vocab_coverage fold the identical per-word encode; a
    session pays it once."""

    def derive():
        # the merge fold is the heaviest narrow map in the repo — spread
        # a small-file scan first (tables.maybe_spread; measured 4.75 s
        # -> 0.68 s at sf0.1 on 32 cores, r6)
        d = maybe_spread(
            load(spark, sf_dir, "documents"), sf_dir, "documents", "doc_id"
        )
        return d.select(
            "doc_id",
            "source",
            F.col("n_chars").cast("long").alias("n_chars"),
            F.expr(
                "transform(filter(split(text, ' '), w -> w <> ''), w ->"
                " aggregate("
                f"  {_BPE_MERGES_SPARK},"
                "  array_join(transform(sequence(1, length(w)),"
                "    i -> substring(w, CAST(i AS INT), 1)), '~'),"
                "  (acc, mg) -> aggregate("
                "    split(acc, '~'),"
                "    '',"
                "    (a, t) -> CASE WHEN a = '' THEN t"
                "      WHEN t = mg.r"
                "       AND (a = mg.l"
                "            OR right(a, length(mg.l) + 1)"
                "               = concat('~', mg.l))"
                "      THEN concat(a, t) ELSE concat(a, '~', t) END)))"
            ).alias("ew"),
        ).persist()

    return session_memo(
        "bpe_encoded", spark, sf_dir, (), derive,
        release=lambda df: df.unpersist(),
    )



@query(
    "tokenizer_bpe_apply",
    oracle=f"""
    WITH enc AS (
      SELECT doc_id, n_chars,
        list_transform(list_filter(string_split(text, ' '), w -> w <> ''),
          w -> list_reduce(
            list_prepend(
              array_to_string(list_transform(range(1, length(w) + 1),
                i -> substr(w, CAST(i AS INT), 1)), '~'),
              {_BPE_MERGES_DUCK}),
            (acc, mg) -> list_reduce(
              list_prepend('', string_split(acc, '~')),
              (a, t) -> CASE WHEN a = '' THEN t
                WHEN t = split_part(mg, ' ', 2)
                 AND (a = split_part(mg, ' ', 1)
                      OR right(a, length(split_part(mg, ' ', 1)) + 1)
                         = '~' || split_part(mg, ' ', 1))
                THEN a || t ELSE a || '~' || t END))) AS ew
      FROM documents
    )
    SELECT doc_id,
           CAST(len(ew) AS BIGINT) AS n_words,
           CAST(list_sum(list_transform(ew,
             e -> len(string_split(e, '~')))) AS BIGINT) AS n_tokens,
           CAST(n_chars AS BIGINT) AS n_chars,
           ew[1] AS first_word_tokens,
           md5(array_to_string(ew, ' ')) AS tok_digest
    FROM enc
    """,
)
def tokenizer_bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE ENCODING with an ordered merge table — the apply half of the
    tokenizer pair (tokenizer_bpe_merges trains; this encodes), i.e. what
    actually tokenizes a corpus before packing (Sennrich et al., ACL
    2016). Each word is split to characters, then every merge rule is
    applied as one greedy left-to-right non-overlapping pass, in priority
    order. Because the merge table is well-formed (composite tokens only
    appear in rules AFTER the rules that create them — true of any
    learned list), rule-by-rule exhaustive application is exactly
    priority-order BPE: a merge can only enable later rules.

    Spark shape: the entire encoder is ONE codegen projection — a
    per-word fold over a 13-element literal merge array whose inner step
    re-splits and re-joins the token string (fold state stays a scalar
    string, so both engines' higher-order folds accept it; cf. the
    pack_bins_ffd accumulator lesson). Zero shuffle, zero Python, no
    per-row state: embarrassingly parallel at 100 TB, and the natural
    upstream of pack_token_chunks. Work per word is O(|merges| x |word|).
    Emits per-doc token counts plus an md5 digest of the full token
    stream ('~' within words, ' ' between) so the oracle pins the exact
    token sequences, not just counts. The encode itself lives in the
    session-memoized _bpe_encoded frame, shared with
    tokenizer_vocab_coverage."""
    enc = _bpe_encoded(spark, sf_dir)
    return enc.select(
        "doc_id",
        F.size("ew").cast("long").alias("n_words"),
        F.expr(
            "aggregate(ew, 0L, (s, e) -> s + size(split(e, '~')))"
        ).alias("n_tokens"),
        "n_chars",
        F.element_at("ew", 1).alias("first_word_tokens"),
        F.md5(F.array_join("ew", " ")).alias("tok_digest"),
    )


_NEG_K = 5       # negatives emitted per user
_NEG_BUF = 5     # oversample buffer absorbing positive collisions


@query(
    "negative_sampling_recsys",
    oracle=f"""
    WITH inter AS (
      SELECT DISTINCT o_custkey AS custkey, l_partkey AS partkey
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    ),
    np AS (SELECT CAST(COUNT(*) AS BIGINT) AS np FROM part),
    users AS (SELECT DISTINCT o_custkey AS custkey FROM orders),
    cand AS (
      SELECT u.custkey, t.i AS slot_i,
             CAST(('0x' || substring(md5(CAST(u.custkey AS VARCHAR)
               || ':' || CAST(t.i AS VARCHAR)), 1, 8)) AS BIGINT)
               % np.np AS partkey
      FROM users u, np,
           (SELECT unnest(range(0, {_NEG_K + _NEG_BUF})) AS i) t
    ),
    neg AS (
      SELECT c.custkey, c.slot_i, c.partkey FROM cand c
      WHERE NOT EXISTS (SELECT 1 FROM inter i
                        WHERE i.custkey = c.custkey
                          AND i.partkey = c.partkey)
    )
    SELECT custkey, partkey AS neg_partkey, CAST(rk AS INT) AS slot
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY custkey
                                   ORDER BY slot_i) AS rk
      FROM neg
    ) WHERE rk <= {_NEG_K}
    """,
)
def negative_sampling_recsys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic negative sampling for contrastive / recommender
    training: for every user, {k} catalog items they did NOT interact
    with, drawn by hashing (user, slot) into the item-key space and
    anti-joining the true interaction set — the sample-then-filter shape
    (never user x catalog enumeration). An oversample buffer of {b}
    extra draws absorbs candidates that collide with real positives;
    survivors keep their draw order so the output is reproducible across
    engines, runs, and partitionings (md5, same expression both sides —
    the sample_hash_systematic contract applied to pair mining).

    Scale shape: candidates are O(users x (k+{b})), never O(users x
    items); the catalog size is a 1-row broadcast; the anti-join
    shuffles candidates and interactions ONCE on the composite
    (user, item) key — co-partitioned, no skew (hash-spread items).
    ann_hard_negatives mines hard negatives by similarity; this is its
    cheap uniform complement, the standard first epoch of a two-tower
    recommender."""
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    inter = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(
            F.col("o_custkey").alias("custkey"),
            F.col("l_partkey").alias("partkey"),
        )
        .distinct()
    )
    np_ = load(spark, sf_dir, "part").agg(
        F.count(F.lit(1)).alias("np")
    )
    users = o.select(F.col("o_custkey").alias("custkey")).distinct()
    h32 = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.col("custkey").cast("string"),
                    F.lit(":"),
                    F.col("slot_i").cast("string"),
                )
            ),
            1,
            8,
        ),
        16,
        10,
    ).cast("bigint")
    cand = (
        users.crossJoin(F.broadcast(np_))
        .select(
            "custkey",
            F.explode(
                F.sequence(F.lit(0), F.lit(_NEG_K + _NEG_BUF - 1))
            ).alias("slot_i"),
            "np",
        )
        .withColumn("partkey", h32 % F.col("np"))
        .drop("np")
    )
    neg = cand.join(inter, ["custkey", "partkey"], "left_anti")
    w = Window.partitionBy("custkey").orderBy("slot_i")
    return (
        neg.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _NEG_K)
        .select(
            "custkey",
            F.col("partkey").alias("neg_partkey"),
            F.col("rk").cast("int").alias("slot"),
        )
    )


negative_sampling_recsys.__doc__ = negative_sampling_recsys.__doc__.format(
    k=_NEG_K, b=_NEG_BUF
)


_SFT_MAX_TOKENS = 256


@query(
    "sft_pair_assembly",
    oracle=f"""
    WITH r AS (
      SELECT doc_id, source, text,
             ROW_NUMBER() OVER (PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
      FROM documents
    ),
    pairs AS (
      SELECT a.source, a.doc_id AS prompt_doc, b.doc_id AS completion_doc,
             '### Instruction:
' || a.text || '
### Response:
' || b.text AS raw
      FROM r a JOIN r b
        ON a.source = b.source AND b.rk = a.rk + 1 AND a.rk % 2 = 1
    ),
    tok AS (
      SELECT source, prompt_doc, completion_doc,
             string_split(raw, ' ') AS toks
      FROM pairs
    )
    SELECT source, prompt_doc, completion_doc,
           CAST(LEAST(len(toks), {_SFT_MAX_TOKENS}) AS BIGINT) AS n_tokens,
           len(toks) > {_SFT_MAX_TOKENS} AS truncated,
           md5(array_to_string(toks[1:{_SFT_MAX_TOKENS}], ' '))
             AS text_digest
    FROM tok
    """,
)
def sft_pair_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Instruction-tuning pair assembly: documents pair up within their
    source (md5 order — reproducible), render through the SFT template
    ('### Instruction / ### Response'), and truncate at the token
    budget — the last-mile step that turns a curated corpus into
    supervised fine-tuning rows. Emitting the md5 of the final rendered
    text hash-pins the EXACT byte output (template newlines, truncation
    boundary) without shipping megabytes through the compare.

    Plan: one ranking window per source, then pairing is a narrow
    self-join on (source, rank+1) restricted to odd ranks — co-
    partitioned on source, so the join adds no exchange beyond the
    window's; template render + token slice are pure codegen. Odd
    leftover docs (no partner rank) drop, matching the oracle. At scale
    the window key is (source, shard) exactly as curriculum_order
    shards."""
    docs = load(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    r = docs.select(
        "doc_id", "source", "text", F.row_number().over(w).alias("rk")
    )
    a = r.filter(F.col("rk") % 2 == 1).select(
        "source",
        F.col("doc_id").alias("prompt_doc"),
        F.col("text").alias("p_text"),
        F.col("rk").alias("a_rk"),
    )
    b = r.select(
        F.col("source").alias("b_source"),
        F.col("doc_id").alias("completion_doc"),
        F.col("text").alias("c_text"),
        F.col("rk").alias("b_rk"),
    )
    pairs = a.join(
        b,
        (F.col("source") == F.col("b_source"))
        & (F.col("b_rk") == F.col("a_rk") + 1),
    ).select(
        "source",
        "prompt_doc",
        "completion_doc",
        F.concat(
            F.lit("### Instruction:\n"),
            F.col("p_text"),
            F.lit("\n### Response:\n"),
            F.col("c_text"),
        ).alias("raw"),
    )
    toks = F.split(F.col("raw"), " ")
    return pairs.select(
        "source",
        "prompt_doc",
        "completion_doc",
        F.least(F.size(toks), F.lit(_SFT_MAX_TOKENS))
        .cast("bigint")
        .alias("n_tokens"),
        (F.size(toks) > _SFT_MAX_TOKENS).alias("truncated"),
        F.md5(
            F.concat_ws(" ", F.slice(toks, 1, _SFT_MAX_TOKENS))
        ).alias("text_digest"),
    )


_VOCAB_COV_ORACLE = f"""
WITH enc AS (
  SELECT source,
    flatten(list_transform(
      list_filter(string_split(text, ' '), w -> w <> ''),
      w -> string_split(list_reduce(
        list_prepend(
          array_to_string(list_transform(range(1, length(w) + 1),
            i -> substr(w, CAST(i AS INT), 1)), '~'),
          {_BPE_MERGES_DUCK}),
        (acc, mg) -> list_reduce(
          list_prepend('', string_split(acc, '~')),
          (a, t) -> CASE WHEN a = '' THEN t
            WHEN t = split_part(mg, ' ', 2)
             AND (a = split_part(mg, ' ', 1)
                  OR right(a, length(split_part(mg, ' ', 1)) + 1)
                     = '~' || split_part(mg, ' ', 1))
            THEN a || t ELSE a || '~' || t END)), '~'))) AS toks
  FROM documents
),
t AS (SELECT source, unnest(toks) AS tok FROM enc)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(COUNT(DISTINCT tok) AS BIGINT) AS n_distinct_tokens,
       CAST(SUM(length(tok)) AS BIGINT) AS n_token_chars,
       CAST((SUM(length(tok)) * 1000000) // COUNT(*) AS BIGINT)
         AS chars_per_token_micro,
       CAST((SUM(CASE WHEN length(tok) > 1 THEN 1 ELSE 0 END) * 1000000)
            // COUNT(*) AS BIGINT) AS multichar_share_micro
FROM t GROUP BY source
"""


@query("tokenizer_vocab_coverage", oracle=_VOCAB_COV_ORACLE)
def tokenizer_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-efficiency report per source — the EVALUATE leg that
    closes the tokenizer loop (tokenizer_bpe_merges trains,
    tokenizer_bpe_apply encodes, this measures): chars-per-token
    (the compression number a tokenizer is judged by), the share of
    tokens that actually benefited from a merge (single-char tokens are
    the fallback path — a high share means the merge table doesn't fit
    this source), and the distinct-token footprint per source. Uneven
    chars-per-token across sources is the standard signal that a
    tokenizer under-serves a domain and its training mix needs
    rebalancing.

    Plan: the encoder is the SAME one-projection codegen fold as
    tokenizer_bpe_apply (struct-hoisted merge rules — the interpreted-HOF
    hoisting lesson); tokens then explode into ONE source-keyed
    aggregation (count / distinct / length sums). Shares are exact
    integer micro-units via truncating DIV — no float anywhere."""
    # the encode rides the session-memoized _bpe_encoded frame (shared
    # with tokenizer_bpe_apply — identical per-word fold, one compute
    # per session); this op just re-splits the '~'-joined words
    enc = _bpe_encoded(spark, sf_dir).select(
        "source",
        F.expr(
            "flatten(transform(ew, e -> split(e, '~')))"
        ).alias("toks"),
    )
    t = enc.select("source", F.explode("toks").alias("tok"))
    # pre-aggregate to the (source, token-vocabulary) grid first: the
    # token stream collapses map-side to vocab-sized partials, and the
    # distinct count becomes a plain COUNT(*) over the grid — no Expand
    # doubling the exploded stream. r6: 9.3 s -> 4.8 s at sf0.1 with the
    # scan spread; the remaining cost is the token explode + grid agg
    # itself (~30M encoded tokens), the exact-grid floor.
    v = t.groupBy("source", "tok").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    return v.groupBy("source").agg(
        F.sum("cnt").cast("bigint").alias("n_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("n_distinct_tokens"),
        F.sum(F.length("tok") * F.col("cnt"))
        .cast("bigint")
        .alias("n_token_chars"),
        F.expr(
            "(SUM(length(tok) * cnt) * 1000000) div SUM(cnt)"
        ).alias("chars_per_token_micro"),
        F.expr(
            "(SUM(CASE WHEN length(tok) > 1 THEN cnt ELSE 0 END)"
            " * 1000000) div SUM(cnt)"
        ).alias("multichar_share_micro"),
    )


_DPO_TMPL_P = "### Prompt:\n"
_DPO_TMPL_C = "\n### Chosen:\n"
_DPO_TMPL_R = "\n### Rejected:\n"

_DPO_ORACLE = """
WITH r AS (
  SELECT doc_id, source, text, n_chars,
         ROW_NUMBER() OVER (PARTITION BY source
           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
  FROM documents
),
t AS (
  SELECT p.source, p.doc_id AS prompt_doc, p.text AS p_text,
         a.doc_id AS a_doc, a.text AS a_text, a.n_chars AS a_q,
         b.doc_id AS b_doc, b.text AS b_text, b.n_chars AS b_q
  FROM r p
  JOIN r a ON a.source = p.source AND a.rk = p.rk + 1
  JOIN r b ON b.source = p.source AND b.rk = p.rk + 2
  WHERE p.rk % 3 = 1
),
s AS (
  SELECT source, prompt_doc, p_text,
         a_q > b_q OR (a_q = b_q AND a_doc < b_doc) AS a_wins,
         a_doc, a_text, a_q, b_doc, b_text, b_q
  FROM t
)
SELECT source, prompt_doc,
       CAST(CASE WHEN a_wins THEN a_doc ELSE b_doc END AS BIGINT)
         AS chosen_doc,
       CAST(CASE WHEN a_wins THEN b_doc ELSE a_doc END AS BIGINT)
         AS rejected_doc,
       CAST(ABS(a_q - b_q) AS BIGINT) AS margin,
       md5('### Prompt:' || chr(10) || p_text
           || chr(10) || '### Chosen:' || chr(10)
           || CASE WHEN a_wins THEN a_text ELSE b_text END
           || chr(10) || '### Rejected:' || chr(10)
           || CASE WHEN a_wins THEN b_text ELSE a_text END)
         AS pair_digest
FROM s
"""


@query("dpo_pair_assembly", oracle=_DPO_ORACLE)
def dpo_pair_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Preference-pair assembly (DPO/RLHF reward data): documents triple
    up within their source in md5 order — one prompt, two candidate
    responses — and the higher-quality candidate (n_chars as the
    deterministic quality stand-in, doc_id tiebreak) becomes CHOSEN, the
    other REJECTED, with the quality margin carried for
    margin-weighted-loss variants. The sibling of sft_pair_assembly one
    stage later in the post-training data pipeline; the rendered
    prompt/chosen/rejected bytes are md5-pinned exactly as there.

    Plan: ONE ranking window per source, then two narrow self-joins on
    (source, rk+1)/(source, rk+2) — co-partitioned on source, no
    exchange beyond the window's; selection and render are pure codegen
    CASEs. Incomplete tail triples drop on both engines (inner joins).
    At scale the window key shards to (source, shard) exactly as
    curriculum_order."""
    docs = load(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    r = docs.select(
        "doc_id", "source", "text", "n_chars",
        F.row_number().over(w).alias("rk"),
    )
    p = r.filter(F.col("rk") % 3 == 1).select(
        "source",
        F.col("doc_id").alias("prompt_doc"),
        F.col("text").alias("p_text"),
        F.col("rk").alias("p_rk"),
    )
    a = r.select(
        F.col("source").alias("a_source"),
        F.col("doc_id").alias("a_doc"),
        F.col("text").alias("a_text"),
        F.col("n_chars").alias("a_q"),
        F.col("rk").alias("a_rk"),
    )
    b = r.select(
        F.col("source").alias("b_source"),
        F.col("doc_id").alias("b_doc"),
        F.col("text").alias("b_text"),
        F.col("n_chars").alias("b_q"),
        F.col("rk").alias("b_rk"),
    )
    t = p.join(
        a,
        (F.col("a_source") == F.col("source"))
        & (F.col("a_rk") == F.col("p_rk") + 1),
    ).join(
        b,
        (F.col("b_source") == F.col("source"))
        & (F.col("b_rk") == F.col("p_rk") + 2),
    )
    a_wins = (F.col("a_q") > F.col("b_q")) | (
        (F.col("a_q") == F.col("b_q")) & (F.col("a_doc") < F.col("b_doc"))
    )
    chosen_text = F.when(a_wins, F.col("a_text")).otherwise(F.col("b_text"))
    rejected_text = F.when(a_wins, F.col("b_text")).otherwise(
        F.col("a_text")
    )
    return t.select(
        "source",
        "prompt_doc",
        F.when(a_wins, F.col("a_doc"))
        .otherwise(F.col("b_doc"))
        .cast("bigint")
        .alias("chosen_doc"),
        F.when(a_wins, F.col("b_doc"))
        .otherwise(F.col("a_doc"))
        .cast("bigint")
        .alias("rejected_doc"),
        F.abs(F.col("a_q") - F.col("b_q")).cast("bigint").alias("margin"),
        F.md5(
            F.concat(
                F.lit(_DPO_TMPL_P),
                F.col("p_text"),
                F.lit(_DPO_TMPL_C),
                chosen_text,
                F.lit(_DPO_TMPL_R),
                rejected_text,
            )
        ).alias("pair_digest"),
    )


# --- tokenizer_wordpiece_apply -------------------------------------------
# WordPiece vocab: every corpus letter in initial AND '##'-continuation
# form, plus a few multi-char pieces — EXCEPT '##w', deliberately absent
# so real corpus words (row, slow, window) exercise the whole-word-[UNK]
# rule (Devlin et al. 2019: any unmatched position voids the word).
_WP_LETTERS = "abcdefghijklmnopqrstuvwy"
_WP_VOCAB = (
    list(_WP_LETTERS)
    + ["##" + c for c in _WP_LETTERS if c != "w"]
    + ["th", "jo", "ha", "sc", "ba", "qu", "val", "tab"]
    + ["##in", "##an", "##er", "##le", "##ue", "##ta"]
)
_WP_VOCAB_SPARK = "array(" + ", ".join(f"'{v}'" for v in _WP_VOCAB) + ")"
_WP_VOCAB_DUCK = "[" + ", ".join(f"'{v}'" for v in _WP_VOCAB) + "]"
# past this vocab size the registered query switches the inner fold from
# the literal-array scan to the L-bounded map probe (_wp_fold probe=True).
# MEASURED switch point (r9 A/B, sf0.1 corpus, warm min-of-2, identical
# digests): probe wins at EVERY tested size — vocab=8: 2.0x, 16: 3.0x,
# 32: 4.9x, 54 (fixture): 5.2x; at a realistic 30k-piece vocab the probe
# RUNTIME stays flat (sf0.01: 0.3 s/run) with a one-time ~5 s planning
# cost to constant-fold the 30k-entry map literal, while the literal
# scan would do ~550x the fixture's inner-loop work. Threshold set to
# the smallest measured winning size; below it the literal form is the
# property-test reference (tests/test_wordpiece_probe.py pins equality).
# Past ~100k pieces the map literal's plan-time cost says: move the
# vocab out of the expression tree (broadcast map + pandas UDF).
_WP_PROBE_MIN_VOCAB = 8


def _wp_fold(dialect: str, probe: bool = False) -> str:
    """The per-word greedy longest-match fold, emitted for either engine.

    State is 'tokens|remaining' (scalar VARCHAR — the bpe_apply fold-state
    device; '|' and '~' are outside the corpus alphabet). Each outer step
    consumes >= 1 char: an inner fold picks the LONGEST vocab entry
    matching the remaining prefix in the position-correct form
    (word-initial entries vs '##' continuations); no match voids the
    whole word to '[UNK]'. The chosen entry is let-bound by folding over
    a one-element array (SQL lambdas have no let).

    Two inner-fold forms (Spark dialect only; the oracle keeps literal):

    - ``probe=False`` — scan the vocab as an array literal:
      O(|word| x |vocab|) per word. Right while the vocab is small.
    - ``probe=True`` — the production-vocab form (VERDICT r7 task 5):
      probe the <= L prefix slices of the remainder against a constant
      MAP keyed by surface form (L = longest effective piece), ascending
      so the longest hit wins: O(|word| x L) per word with O(1) lookups,
      |vocab| out of the inner loop entirely. Same single-projection
      plan shape; property-pinned equal to the literal form in
      tests/test_wordpiece_probe.py. A/B at sf0.1 (32 cores, fixture
      54-piece vocab, min-of-3 warm, identical md5 digests on all 5000
      docs): literal 2.96 s, probe 0.90 s — 3.3x ahead already at 54
      pieces, so the registered query uses the probe form
      (_WP_PROBE_MIN_VOCAB); at 30k pieces the literal form is ~550x
      more inner-loop work per step while the probe form is flat in
      |vocab|.

    r13 state representation (Spark dialect only): the fold state is a
    named_struct('tk', tokens, 'rem', remaining) instead of the scalar
    'tokens|remaining' string. The string form paid a REGEX SPLIT of
    the accumulator per reference — ~19 splits per consumed character
    across the inner probe loop and the step lambda (the r12 batch-4
    derived-expression-re-evaluation pathology, one level down: the
    split was the derivation). Struct field access is free; the emitted
    token strings are byte-identical (property + oracle pinned). DuckDB
    keeps the scalar-string fold (its list_reduce requires accumulator
    type == element type, and v1.0 drops struct fields in lambdas at
    depth >= 2 — the pack_bins_ffd / _unigram_fold lessons).
    """
    if dialect == "spark":
        sw = "startswith"

        def efflen(x):
            return (
                f"(length({x}) - CASE WHEN {sw}({x}, '##') THEN 2 ELSE 0"
                " END)"
            )

        def eff(x):
            return (
                f"CASE WHEN {sw}({x}, '##') THEN substr({x}, 3)"
                f" ELSE {x} END"
            )

        if probe:
            max_l = max(
                len(v) - (2 if v.startswith("##") else 0) for v in _WP_VOCAB
            )
            wp_map = (
                "map("
                + ", ".join(f"'{v}', true" for v in _WP_VOCAB)
                + ")"
            )
            # key(l): the surface form the vocab stores for an l-char
            # match here; ascending fold keeps the LAST (longest) hit
            key = (
                f"(CASE WHEN acc.tk = '' THEN '' ELSE '##' END"
                f" || substring(acc.rem, 1, l))"
            )
            best = (
                f"aggregate(sequence(1, {max_l}), '',"
                f" (b, l) -> CASE WHEN l <= length(acc.rem)"
                f" AND map_contains_key({wp_map}, {key})"
                f" THEN {key} ELSE b END)"
            )
        else:
            best = (
                f"aggregate({_WP_VOCAB_SPARK}, '',"
                f" (b, v) -> CASE WHEN"
                f" (CASE WHEN acc.tk = '' THEN NOT {sw}(v, '##')"
                f"  ELSE {sw}(v, '##') END)"
                f" AND {sw}(acc.rem, {eff('v')})"
                f" AND {efflen('v')} > {efflen('b')}"
                f" THEN v ELSE b END)"
            )
        # bind the chosen piece (bst) via a 1-element-array fold (SQL
        # lambdas have no let); the state stays a struct throughout
        step = (
            f"aggregate(array({best}), acc,"
            f" (s, bst) -> CASE WHEN bst = ''"
            f" THEN named_struct('tk', '[UNK]', 'rem', '')"
            f" ELSE named_struct("
            f"  'tk', CASE WHEN s.tk = '' THEN bst"
            f"        ELSE s.tk || '~' || bst END,"
            f"  'rem', substr(s.rem, 1 + {efflen('bst')})) END)"
        )
        return (
            f"aggregate(sequence(1, length(w)),"
            f" named_struct('tk', '', 'rem', w),"
            f" (acc, i) -> CASE WHEN acc.rem = '' THEN acc"
            f" ELSE {step} END,"
            f" acc -> acc.tk)"
        )

    sw, voc = "starts_with", _WP_VOCAB_DUCK

    def fold(init, seq, lam):
        return f"list_reduce(list_prepend({init}, {seq}), {lam})"

    def bind(val, init, lam):
        return f"list_reduce(list_prepend({init}, [{val}]), {lam})"

    def part(acc, i):
        return f"string_split({acc}, '|')[{i}]"

    # list_reduce needs a homogeneous list: blank out the counter
    # (the lambda ignores it) so the VARCHAR seed can be prepended
    outer_seq = "list_transform(range(1, length(w) + 1), x -> '')"

    def efflen(x):
        return f"(length({x}) - CASE WHEN {sw}({x}, '##') THEN 2 ELSE 0 END)"

    def eff(x):
        return f"CASE WHEN {sw}({x}, '##') THEN substr({x}, 3) ELSE {x} END"

    tk, rem = part("acc", 1), part("acc", 2)
    assert not probe, "probe form is the Spark production path"
    best = fold(
        "''",
        voc,
        f"(b, v) -> CASE WHEN"
        f" (CASE WHEN {tk} = '' THEN NOT {sw}(v, '##')"
        f"  ELSE {sw}(v, '##') END)"
        f" AND {sw}({rem}, {eff('v')})"
        f" AND {efflen('v')} > {efflen('b')}"
        f" THEN v ELSE b END",
    )
    stk, srem = part("s", 1), part("s", 2)
    step = bind(
        best,
        "acc",
        f"(s, bst) -> CASE WHEN bst = '' THEN '[UNK]|'"
        f" ELSE (CASE WHEN {stk} = '' THEN bst"
        f"       ELSE {stk} || '~' || bst END)"
        f"      || '|' || substr({srem}, 1 + {efflen('bst')}) END",
    )
    word = fold(
        "'|' || w",
        outer_seq,
        f"(acc, i) -> CASE WHEN {rem} = '' THEN acc ELSE {step} END",
    )
    return part(word, 1)


_WP_ORACLE = f"""
WITH enc AS (
  SELECT doc_id, n_chars,
    list_transform(list_filter(string_split(text, ' '), w -> w <> ''),
      w -> {_wp_fold('duck')}) AS ew
  FROM documents
)
SELECT doc_id,
       CAST(len(ew) AS BIGINT) AS n_words,
       CAST(list_sum(list_transform(ew,
         e -> len(string_split(e, '~')))) AS BIGINT) AS n_tokens,
       CAST(list_sum(list_transform(ew,
         e -> CASE WHEN e = '[UNK]' THEN 1 ELSE 0 END))
            AS BIGINT) AS n_unk_words,
       CAST(n_chars AS BIGINT) AS n_chars,
       ew[1] AS first_word_tokens,
       md5(array_to_string(ew, ' ')) AS tok_digest
FROM enc
"""


@query("tokenizer_wordpiece_apply", oracle=_WP_ORACLE)
def tokenizer_wordpiece_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WordPiece ENCODING (Devlin et al., NAACL 2019): per word, greedy
    longest-prefix match against a fixed vocab — word-initial pieces
    plain, mid-word pieces in '##' continuation form, and a word with any
    unmatchable position collapsing whole to '[UNK]'. The BERT-family
    counterpart of tokenizer_bpe_apply (merge-rule replay): together they
    cover both dominant subword schemes, sharing the scalar-string fold
    state, the '~'/'|' encoding, and the md5 token-stream digest the
    oracle pins exactly.

    Spark shape: ONE codegen projection, zero shuffle, zero Python — a
    per-word fold of at most |word| steps (each consumes >= 1 char). The
    inner match is the L-bounded map probe (_wp_fold probe=True):
    O(|word| x L) per word with L = longest piece, flat in |vocab| —
    the production-vocab form, 3.3x faster than the literal-array scan
    even at the 54-piece fixture vocab (A/B in _wp_fold.__doc__). The
    chosen piece is let-bound via a 1-element-array fold so its length
    is not recomputed under three references; embarrassingly parallel
    at 100 TB.
    """
    d = maybe_spread(
        load(spark, sf_dir, "documents"), sf_dir, "documents", "doc_id"
    )
    enc = d.select(
        "doc_id",
        F.col("n_chars").cast("long").alias("n_chars"),
        F.expr(
            "transform(filter(split(text, ' '), w -> w <> ''), w -> "
            + _wp_fold("spark", probe=len(_WP_VOCAB) > _WP_PROBE_MIN_VOCAB)
            + ")"
        ).alias("ew"),
    )
    return enc.select(
        "doc_id",
        F.size("ew").cast("long").alias("n_words"),
        F.expr(
            "aggregate(ew, 0L, (s, e) -> s + size(split(e, '~')))"
        ).alias("n_tokens"),
        F.expr(
            "aggregate(ew, 0L,"
            " (s, e) -> s + CASE WHEN e = '[UNK]' THEN 1 ELSE 0 END)"
        ).alias("n_unk_words"),
        "n_chars",
        F.element_at("ew", 1).alias("first_word_tokens"),
        F.md5(F.array_join("ew", " ")).alias("tok_digest"),
    )


_BON_N = 4  # group size: 1 prompt + 3 sampled candidates


_BON_ORACLE = f"""
WITH r AS (
  SELECT doc_id, source, text, n_chars,
         ROW_NUMBER() OVER (PARTITION BY source
           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
  FROM documents
),
g AS (
  SELECT *, CAST((rk - 1) // {_BON_N} AS BIGINT) AS grp,
         rk % {_BON_N} = 1 AS is_prompt
  FROM r
),
full_g AS (
  SELECT source, grp FROM g GROUP BY 1, 2 HAVING COUNT(*) = {_BON_N}
),
cand AS (
  SELECT g.source, g.grp, g.doc_id, g.text, g.n_chars,
         ROW_NUMBER() OVER (PARTITION BY g.source, g.grp
           ORDER BY g.n_chars DESC, g.doc_id) AS cr
  FROM g JOIN full_g USING (source, grp)
  WHERE NOT g.is_prompt
),
p AS (
  SELECT g.source, g.grp, g.doc_id AS prompt_doc, g.text AS p_text
  FROM g JOIN full_g USING (source, grp)
  WHERE g.is_prompt
)
SELECT p.source, p.prompt_doc,
       CAST(b.doc_id AS BIGINT) AS best_doc,
       CAST(b.n_chars AS BIGINT) AS reward_best,
       CAST(b.n_chars - s.n_chars AS BIGINT) AS margin,
       CAST({_BON_N} - 1 AS BIGINT) AS n_candidates,
       md5('### Prompt:' || chr(10) || p.p_text
           || chr(10) || '### Best:' || chr(10) || b.text)
         AS bon_digest
FROM p
JOIN cand b ON b.source = p.source AND b.grp = p.grp AND b.cr = 1
JOIN cand s ON s.source = p.source AND s.grp = p.grp AND s.cr = 2
"""


@query("rlhf_best_of_n", oracle=_BON_ORACLE)
def rlhf_best_of_n(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best-of-n rejection sampling (the RLHF data-collection primitive:
    sample n candidates per prompt, keep the reward argmax — Stiennon et
    al. 2020 / Nakano et al. 2021): documents group into
    1-prompt + {n}-candidate blocks within source in md5 order (the
    dpo_pair_assembly fixture device, n_chars as the deterministic
    reward stand-in), and each block emits the winning candidate, its
    reward, the margin over the runner-up (the best-of-n confidence
    signal used to filter low-separation prompts), and an md5 digest of
    the assembled prompt+best text. Incomplete trailing blocks drop —
    a partial candidate set is not a valid best-of-n draw.

    Scale shape: ONE corpus scan. The source-partition window orders
    the corpus (md5 order — the sampling family's partitioning-invariant
    device), then the whole block assembly is a SINGLE (source, block)
    aggregation: the prompt splices in via a conditional max_by, and the
    winner/runner-up come from a sort_array over the block's
    ({n}+1)-element candidate structs — no joins back to the corpus (a
    three-way join draft re-read the scan six times; this form reads it
    once). Ordering inside the array struct is (-reward, doc_id), so
    the argmax and tie-break are exact and cross-engine deterministic.
    Digests make the assembled text driver-hashable (the training.py
    digest device).
    """
    d = load(spark, sf_dir, "documents")
    wsrc = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    r = d.select("doc_id", "source", "text", "n_chars").withColumn(
        "rk", F.row_number().over(wsrc)
    )
    g = r.select(
        "*",
        F.expr(f"CAST((rk - 1) DIV {_BON_N} AS BIGINT)").alias("grp"),
        F.expr(f"rk % {_BON_N} = 1").alias("is_prompt"),
    )
    blocks = g.groupBy("source", "grp").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.max_by(
            F.struct("doc_id", "text"), F.when(F.col("is_prompt"), 1)
        ).alias("prompt"),
        F.sort_array(
            F.collect_list(
                F.when(
                    ~F.col("is_prompt"),
                    F.struct(
                        (-F.col("n_chars")).alias("neg_q"),
                        "doc_id",
                        "n_chars",
                        "text",
                    ),
                )
            )
        ).alias("cands"),
    )
    return blocks.filter(F.col("cnt") == _BON_N).select(
        "source",
        F.col("prompt.doc_id").alias("prompt_doc"),
        F.col("cands")[0]["doc_id"].cast("bigint").alias("best_doc"),
        F.col("cands")[0]["n_chars"].cast("bigint").alias("reward_best"),
        (
            F.col("cands")[0]["n_chars"] - F.col("cands")[1]["n_chars"]
        ).cast("bigint").alias("margin"),
        F.lit(_BON_N - 1).cast("bigint").alias("n_candidates"),
        F.md5(
            F.concat(
                F.lit("### Prompt:"),
                F.expr("chr(10)"),
                F.col("prompt.text"),
                F.expr("chr(10)"),
                F.lit("### Best:"),
                F.expr("chr(10)"),
                F.col("cands")[0]["text"],
            )
        ).alias("bon_digest"),
    )


rlhf_best_of_n.__doc__ = rlhf_best_of_n.__doc__.format(n=_BON_N - 1)


# ----------------------------------------------- unigram-LM Viterbi encode

# Unigram-LM tokenizer vocab (Kudo, ACL 2018 — the SentencePiece model):
# pieces carry INTEGER log-probabilities (micro-nats, negative), so the
# Viterbi DP below is pure integer arithmetic — bit-identical across
# engines, no float argmax hazard. Single characters cover the corpus
# alphabet (a-y minus x/z) as the fallback; multi-char pieces score
# better than their character spellings, so Viterbi prefers them.
_UNI_LETTERS = "abcdefghijklmnopqrstuvwy"
_UNI_MULTI = [
    "table", "value", "spark", "merge", "batch", "scan", "hash",
    "part", "fast", "slow", "row", "key", "agg", "the", "ta", "va",
    "ar", "er", "an", "in", "le", "ue", "qu", "jo",
]
_UNI_VOCAB: dict[str, int] = {}
for _i, _c in enumerate(_UNI_LETTERS):
    _UNI_VOCAB[_c] = -(2_000_000 + 1_000 * _i)
for _i, _p in enumerate(_UNI_MULTI):
    _UNI_VOCAB[_p] = -(1_500_000 + 300_000 * len(_p) + 1_000 * _i)
_UNI_MAXL = max(len(p) for p in _UNI_VOCAB)
_UNI_NEG = -10_000_000_000  # unreachable-suffix sentinel (never overflows)


def _unigram_fold(dialect: str, w: str = "w") -> str:
    """Per-word Viterbi segmentation under the unigram LM, emitted for
    either engine as ONE fold (no separate backtrack pass).

    State is the suffix-DP list: element k is 'score@seg' for the best
    segmentation of w[k..] (seed ['0@'] = empty suffix), built back to
    front; position is derived from the state LENGTH, so the fold needs
    no counter. The inner fold scans piece lengths 1.._UNI_MAXL
    ascending with a >= compare, so equal-score ties resolve to the
    LONGEST piece in both engines; scores are BIGINT micro-nats, so the
    argmax is exact. Carrying the segmentation STRING in the DP state
    (instead of backpointers + a walk) keeps every lambda reference
    within one nesting level of its binder — DuckDB v1.0 mis-binds
    struct-field references from depth >= 2 lambdas, which the
    two-pass backtrack form tripped over.

    Cost per word: O(|w| * L) map probes (the WordPiece probe-form
    bound) plus O(|w|) string builds; the vocab map literal constant-
    folds once per plan exactly like the WordPiece probe map.

    r13 state representation (Spark dialect only): the DP state is an
    array of named_struct('score' BIGINT, 'seg' STRING) instead of
    'score@seg' strings — the string form paid a regex split (plus a
    string->bigint cast) per score/segment REFERENCE, ~4 per inner
    probe step; struct field gets are free and the candidate score is
    computed once per probe via the 1-element-transform let-binding.
    The finish lambda re-serializes element 1 to the identical
    'score@seg' string, so consumers and digests are unchanged (oracle
    + property pinned). DuckDB keeps the scalar-string DP (v1.0
    mis-binds struct fields from depth >= 2 lambdas — see above)."""
    if dialect == "spark":
        m = (
            "map("
            + ", ".join(
                f"'{p}', CAST({s} AS BIGINT)" for p, s in _UNI_VOCAB.items()
            )
            + ")"
        )

        def val(pos: str, l: str) -> str:
            return (
                f"coalesce(element_at({m}, substring({w}, {pos}, {l})),"
                f" CAST({_UNI_NEG} AS BIGINT))"
            )

        pos = f"(length({w}) + 1 - size(acc))"
        # bind the suffix struct (p), then the candidate score (cs):
        # each is evaluated ONCE per probe; >= keeps the longest piece
        # on ties exactly as the string form did (ascending l fold)
        inner = (
            f"element_at(transform(array({val(pos, 'l')} + p.score),"
            f" cs -> CASE WHEN cs >= b.score"
            f" THEN named_struct('score', cs, 'seg',"
            f"  substring({w}, {pos}, l) ||"
            f"  (CASE WHEN p.seg = '' THEN '' ELSE '~' || p.seg END))"
            f" ELSE b END), 1)"
        )
        best = (
            f"aggregate(sequence(1, {_UNI_MAXL}),"
            f" named_struct('score', CAST({_UNI_NEG} AS BIGINT),"
            f"              'seg', ''),"
            f" (b, l) -> CASE WHEN l <= length({w}) - {pos} + 1"
            f" THEN element_at(transform("
            f"   array(element_at(acc, CAST(l AS INT))),"
            f"   p -> {inner}), 1)"
            f" ELSE b END)"
        )
        return (
            f"aggregate(sequence(1, length({w})),"
            f" array(named_struct('score', CAST(0 AS BIGINT), 'seg', '')),"
            f" (acc, i) -> concat(array({best}), acc),"
            f" acc -> element_at(transform(array(element_at(acc, 1)),"
            f"  r -> CAST(r.score AS STRING) || '@' || r.seg), 1))"
        )
    # DuckDB v1.0 re-evaluates a MAP literal at every probe (measured:
    # the inlined-literal oracle ran 22 s at sf0.01 vs 0.4 s with the map
    # hoisted into a MATERIALIZED 1-row CTE and cross-joined as `vm`) —
    # so the duck dialect references `vm`, which _UNI_ORACLE provides.
    m = "vm"

    def val(pos: str, l: str) -> str:
        return (
            f"coalesce(map_extract({m}, substring({w}, {pos}, {l}))[1],"
            f" CAST({_UNI_NEG} AS BIGINT))"
        )

    pos = f"(length({w}) + 1 - len(acc))"
    prev = "acc[CAST(l AS INT)]"
    pscore = f"CAST(string_split({prev}, '@')[1] AS BIGINT)"
    pseg = f"string_split({prev}, '@')[2]"
    bscore = "CAST(string_split(b, '@')[1] AS BIGINT)"
    cand = (
        f"CAST({val(pos, 'CAST(l AS INT)')} + {pscore} AS VARCHAR) || '@' ||"
        f" substring({w}, {pos}, CAST(l AS INT)) ||"
        f" (CASE WHEN {pseg} = '' THEN '' ELSE '~' || {pseg} END)"
    )
    best = (
        f"list_reduce(list_prepend('{_UNI_NEG}@',"
        f" list_transform(range(1, {_UNI_MAXL + 1}),"
        f"   z -> CAST(z AS VARCHAR))),"
        f" (b, l) -> CASE WHEN CAST(l AS INT) <= length({w}) - {pos} + 1"
        f" AND {val(pos, 'CAST(l AS INT)')} + {pscore} >= {bscore}"
        f" THEN {cand} ELSE b END)"
    )
    return (
        f"list_reduce(list_prepend(['0@'],"
        f" list_transform(range(1, length({w}) + 1),"
        f"   x -> CAST([] AS VARCHAR[]))),"
        f" (acc, i) -> list_prepend({best}, acc))[1]"
    )


_UNI_MAP_DUCK = (
    "MAP {"
    + ", ".join(f"'{p}': CAST({s} AS BIGINT)" for p, s in _UNI_VOCAB.items())
    + "}"
)

_UNI_ORACLE = f"""
WITH m AS MATERIALIZED (SELECT {_UNI_MAP_DUCK} AS vm),
enc AS (
  SELECT doc_id,
    list_transform(list_filter(string_split(text, ' '), w -> w <> ''),
      w -> {_unigram_fold('duck')}) AS ew
  FROM documents, m
)
SELECT doc_id,
       CAST(len(ew) AS BIGINT) AS n_words,
       CAST(list_sum(list_transform(ew,
         e -> len(string_split(string_split(e, '@')[2], '~'))))
            AS BIGINT) AS n_pieces,
       CAST(list_sum(list_transform(ew,
         e -> CAST(string_split(e, '@')[1] AS BIGINT))) AS BIGINT)
         AS total_score,
       string_split(ew[1], '@')[2] AS first_word_pieces,
       md5(array_to_string(ew, ' ')) AS tok_digest
FROM enc
"""


@query("tokenizer_unigram_viterbi", oracle=_UNI_ORACLE)
def tokenizer_unigram_viterbi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM tokenization (Kudo, ACL 2018 — SentencePiece's model):
    per word, the segmentation maximizing the sum of piece
    log-probabilities, found by Viterbi DP over suffix positions — the
    third tokenizer family next to BPE (merge replay) and WordPiece
    (greedy longest-match), completing the production set.

    Engine-exact by construction: piece scores are INTEGER micro-nats,
    the DP argmax is integer comparison, and equal-score ties resolve to
    the longest piece via the ascending >= fold — so the md5 digest of
    every segmentation matches DuckDB bit-for-bit (the same standard as
    tokenizer_bpe_apply / tokenizer_wordpiece_apply).

    Scale: one narrow projection, no shuffle; per word O(|w| x L) map
    probes against a constant-folded vocab map (the WordPiece probe-form
    bound — see _WP_PROBE_MIN_VOCAB for the measured literal-vs-probe
    numbers and the >100k-piece guidance)."""
    expr = (
        "transform(filter(split(text, ' '), w -> w <> ''),"
        f" w -> {_unigram_fold('spark')})"
    )
    docs = maybe_spread(
        load(spark, sf_dir, "documents"), sf_dir, "documents", "doc_id"
    )
    enc = docs.select("doc_id", F.expr(expr).alias("ew"))
    return enc.select(
        "doc_id",
        F.size("ew").cast("bigint").alias("n_words"),
        F.expr(
            "aggregate(ew, CAST(0 AS BIGINT), (a, e) ->"
            " a + size(split(element_at(split(e, '@'), 2), '~')))"
        ).alias("n_pieces"),
        F.expr(
            "aggregate(ew, CAST(0 AS BIGINT), (a, e) ->"
            " a + CAST(element_at(split(e, '@'), 1) AS BIGINT))"
        ).alias("total_score"),
        F.expr("element_at(split(element_at(ew, 1), '@'), 2)").alias(
            "first_word_pieces"
        ),
        F.md5(F.concat_ws(" ", "ew")).alias("tok_digest"),
    )


_UNI_EM_ORACLE = f"""
WITH m AS MATERIALIZED (SELECT {_UNI_MAP_DUCK} AS vm),
enc AS (
  SELECT doc_id,
    list_transform(list_filter(string_split(text, ' '), w -> w <> ''),
      w -> {_unigram_fold('duck')}) AS ew
  FROM documents, m
),
pieces AS (
  SELECT unnest(string_split(string_split(e, '@')[2], '~')) AS piece
  FROM enc, LATERAL unnest(ew) AS u(e)
),
cnt AS (
  SELECT piece, CAST(COUNT(*) AS BIGINT) AS n FROM pieces GROUP BY piece
),
tot AS (SELECT CAST(SUM(n) AS BIGINT) AS t FROM cnt)
SELECT piece, n,
       CAST(CAST(ROUND(ln(CAST(n AS DOUBLE)) * 1000000, 0) AS BIGINT)
            - CAST(ROUND(ln(CAST(t AS DOUBLE)) * 1000000, 0) AS BIGINT)
         AS BIGINT) AS new_score_micro_nats
FROM cnt, tot
"""


@query("tokenizer_unigram_em_step", oracle=_UNI_EM_ORACLE)
def tokenizer_unigram_em_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One EM re-estimation step of the unigram-LM tokenizer (Kudo 2018,
    §3.2 — the loop SentencePiece trains with): E-step = segment the
    corpus under the CURRENT piece scores (tokenizer_unigram_viterbi's
    Viterbi fold, hard-EM variant: the 1-best segmentation stands in for
    the expected piece counts); M-step = re-estimate each observed
    piece's log-probability from its corpus count, emitted as the same
    integer micro-nat scores the Viterbi fold consumes — so the output
    IS the next iteration's vocab table, closing the training loop the
    tokenizer family needs (bpe: tokenizer_bpe_merges trains merges the
    same corpus-driven way).

    Cross-engine exactness: counts are integers; the new score is
    ROUND(ln(count)*1e6) - ROUND(ln(total)*1e6) — each ln runs on an
    exact-integer-valued double and is rounded ONCE (the PSI/Zipf
    single-rounding convention), so both engines emit identical BIGINTs
    short of a ~1e-9-adjacent rounding boundary on a libm last-ulp,
    the accepted class documented on text_zipf_fit.

    Scale: encode is the Viterbi narrow map; the count is one hash
    aggregate on the (tiny) piece key; the total is a 1-row broadcast.
    Unobserved pieces drop out of the table, which IS the M-step's
    prune — the standard vocab-shrinking EM schedule emerges from
    repeatedly chaining this op."""
    expr = (
        "transform(filter(split(text, ' '), w -> w <> ''),"
        f" w -> {_unigram_fold('spark')})"
    )
    docs = maybe_spread(
        load(spark, sf_dir, "documents"), sf_dir, "documents", "doc_id"
    )
    pieces = (
        docs.select(F.explode(F.expr(expr)).alias("e"))
        .select(
            F.explode(
                F.split(F.expr("element_at(split(e, '@'), 2)"), "~")
            ).alias("piece")
        )
    )
    cnt = pieces.groupBy("piece").agg(F.count("*").alias("n"))
    tot = cnt.agg(F.sum("n").alias("t"))
    return cnt.crossJoin(F.broadcast(tot)).select(
        "piece",
        "n",
        (
            F.expr(
                "CAST(ROUND(ln(CAST(n AS DOUBLE)) * 1000000, 0) AS BIGINT)"
            )
            - F.expr(
                "CAST(ROUND(ln(CAST(t AS DOUBLE)) * 1000000, 0) AS BIGINT)"
            )
        ).cast("bigint").alias("new_score_micro_nats"),
    )

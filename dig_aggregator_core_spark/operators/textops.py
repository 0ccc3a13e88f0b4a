"""Text-analysis operators over the documents table — the training-data
pipeline surface (language-ID, quality scoring, token counting, document
fingerprinting).

All hot-path ops are built-in column expressions (JVM/codegen); the only
Python is the language-ID scorer, which is an Arrow-batched ``mapInPandas``
(the deliberate showcase of the vectorized-UDF path).

Scale: every op here is embarrassingly parallel per row — no shuffle at all
except the profile aggregations, which group on tiny keys.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import query
from ..tables import load, maybe_spread

STOPWORDS = ("the", "a", "of", "and", "in")
_STOP_SQL = "('" + "', '".join(STOPWORDS) + "')"


@query(
    "text_token_count",
    oracle=f"""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
           CAST(len(list_distinct(string_split(text, ' '))) AS INT)
             AS n_unique_tokens,
           CAST(len(regexp_extract_all(text, '[a-z0-9]+|[^a-z0-9 ]'))
             AS INT) AS n_bpeish_tokens,
           CAST(len(list_filter(string_split(text, ' '),
                                t -> t IN {_STOP_SQL})) AS INT) AS n_stopwords
    FROM documents
    """,
)
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens, unique tokens, a BPE-ish regex
    tokenization (word pieces + non-alnum singletons), and stopword hits —
    all as native array/regex expressions."""
    toks = F.split(F.col("text"), " ")
    return load(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_unique_tokens"),
        F.size(
            F.expr(r"regexp_extract_all(text, '[a-z0-9]+|[^a-z0-9 ]', 0)")
        ).alias("n_bpeish_tokens"),
        F.size(
            F.filter(toks, lambda t: t.isin(*STOPWORDS))
        ).alias("n_stopwords"),
    )


@query(
    "text_quality_score",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, n_chars,
             CAST(len(string_split(text, ' ')) AS DOUBLE) AS n_tokens,
             CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
               AS n_uniq,
             CAST(len(list_filter(string_split(text, ' '),
                                  t -> t IN {_STOP_SQL})) AS DOUBLE) AS n_stop,
             CAST(length(text) AS DOUBLE) AS n_len
      FROM documents
    )
    SELECT doc_id,
           ROUND((n_len - (n_tokens - 1)) / n_tokens, 6) AS avg_token_len,
           ROUND(n_uniq / n_tokens, 6) AS ttr,
           ROUND(n_stop / n_tokens, 6) AS stopword_ratio,
           ROUND(0.4 * LEAST(n_tokens / 50.0, 1.0)
                 + 0.4 * (n_uniq / n_tokens)
                 + 0.2 * LEAST(n_stop / n_tokens * 5.0, 1.0), 6)
             AS quality_score
    FROM t
    """,
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: length/type-token-ratio/stopword components combined
    into a deterministic [0,1] score (the usual heuristic pre-filter before
    expensive model-based scoring in a training-data pipeline)."""
    toks = F.split(F.col("text"), " ")
    t = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(toks).cast("double").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("double").alias("n_uniq"),
        F.size(F.filter(toks, lambda x: x.isin(*STOPWORDS)))
        .cast("double")
        .alias("n_stop"),
        F.length("text").cast("double").alias("n_len"),
    )
    return t.select(
        "doc_id",
        F.round((F.col("n_len") - (F.col("n_tokens") - 1)) / F.col("n_tokens"), 6)
        .alias("avg_token_len"),
        F.round(F.col("n_uniq") / F.col("n_tokens"), 6).alias("ttr"),
        F.round(F.col("n_stop") / F.col("n_tokens"), 6).alias("stopword_ratio"),
        F.round(
            0.4 * F.least(F.col("n_tokens") / 50.0, F.lit(1.0))
            + 0.4 * (F.col("n_uniq") / F.col("n_tokens"))
            + 0.2 * F.least(F.col("n_stop") / F.col("n_tokens") * 5.0, F.lit(1.0)),
            6,
        ).alias("quality_score"),
    )


@query(
    "text_fingerprint",
    oracle="""
    SELECT doc_id,
           md5(lower(trim(text))) AS content_md5,
           list_reduce(
             list_prepend(CAST(0 AS BIGINT),
               list_transform(range(1, length(text) + 1),
                              i -> CAST(ascii(substring(text, CAST(i AS INT), 1))
                                        AS BIGINT))),
             (acc, c) -> (acc * 31 + c) % 1000000007) AS rolling_hash
    FROM documents
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: content digest (md5 of normalized text) plus
    a 31-base polynomial rolling hash mod 1e9+7 computed as a fold over
    character codes — pure catalyst expressions, no UDF."""
    # the md5 + per-character rolling-hash fold is CPU-heavy narrow work:
    # spread a small-fixture scan first (tables.maybe_spread; no-op at
    # real scale) — measured 1.59 -> 0.32 s at sf0.1 (guide §2).
    d = maybe_spread(
        load(spark, sf_dir, "documents"), sf_dir, "documents", "doc_id"
    )
    return d.select(
        "doc_id",
        F.md5(F.lower(F.trim(F.col("text")))).alias("content_md5"),
        F.expr(
            "aggregate("
            "  transform(sequence(1, length(text)),"
            "            i -> CAST(ascii(substring(text, i, 1)) AS BIGINT)),"
            "  CAST(0 AS BIGINT),"
            "  (acc, c) -> (acc * 31 + c) % 1000000007)"
        ).alias("rolling_hash"),
    )


@query(
    "lang_profile",
    oracle="""
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           ROUND(AVG(n_chars), 6) AS avg_chars,
           ROUND(AVG(CAST(len(string_split(text, ' ')) AS DOUBLE)), 6)
             AS avg_tokens,
           CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources
    FROM documents GROUP BY lang
    """,
)
def lang_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus profile (the aggregation side of language-ID QA)."""
    return (
        load(spark, sf_dir, "documents")
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg("n_chars"), 6).alias("avg_chars"),
            F.round(F.avg(F.size(F.split(F.col("text"), " ")).cast("double")), 6)
            .alias("avg_tokens"),
            F.countDistinct("source").alias("n_sources"),
        )
    )


# deterministic char-bigram profiles per language for the heuristic scorer.
# (Synthetic corpus shares one vocabulary, so profiles are illustrative; the
# mechanism — vectorized batch scoring over Arrow — is the real payload.)
_LANG_PROFILES: dict[str, tuple[str, ...]] = {
    "en": ("th", "he", "er", "an", "re"),
    "de": ("en", "er", "ch", "de", "ei"),
    "fr": ("es", "le", "de", "re", "en"),
    "es": ("de", "la", "os", "en", "ar"),
    "zh": ("zh", "ng", "sh", "ia", "ua"),
}


def langid_batches(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """Arrow-batched language-ID: score each doc's char-bigram multiset
    against fixed per-language profiles; deterministic argmax with
    lexicographic tie-break."""
    for pdf in batches:
        preds = []
        for text in pdf["text"]:
            bigrams: dict[str, int] = {}
            for i in range(len(text) - 1):
                bg = text[i : i + 2]
                bigrams[bg] = bigrams.get(bg, 0) + 1
            best = ("und", -1)
            for lang in sorted(_LANG_PROFILES):
                score = sum(bigrams.get(bg, 0) for bg in _LANG_PROFILES[lang])
                if score > best[1]:
                    best = (lang, score)
            preds.append(best[0])
        yield pd.DataFrame({"doc_id": pdf["doc_id"], "predicted_lang": preds})


def _langid_score_sql(lang: str) -> str:
    """DuckDB expression mirroring the Python scorer's overlapping-bigram
    count for one language profile (1-based substring positions 1..len-1
    == Python's text[i:i+2] for i in range(len-1))."""
    return " + ".join(
        "len(list_filter(range(1, length(text)),"
        f" i -> substring(text, CAST(i AS INT), 2) = '{bg}'))"
        for bg in _LANG_PROFILES[lang]
    )


_LANGID_ORACLE = (
    "WITH s AS (\n"
    "  SELECT doc_id, unnest([\n"
    + ",\n".join(
        f"    struct_pack(lang := '{lang}', score := {_langid_score_sql(lang)})"
        for lang in sorted(_LANG_PROFILES)
    )
    + "\n  ], recursive := true) FROM documents\n"
    ")\n"
    "SELECT doc_id, lang AS predicted_lang FROM (\n"
    "  SELECT doc_id, lang, ROW_NUMBER() OVER (\n"
    "    PARTITION BY doc_id ORDER BY score DESC, lang) AS rn FROM s)\n"
    "WHERE rn = 1"
)


@query("text_langid", oracle=_LANGID_ORACLE)
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID via mapInPandas (Arrow batches, ~10-100x over row UDFs).
    Returns (doc_id, predicted_lang).

    The scorer is deterministic (fixed profiles, strict-> argmax over
    sorted languages == lexicographic tie-break), so the oracle replays it
    in SQL — overlapping-bigram counts per profile, ROW_NUMBER argmax —
    giving the Python path a hard hash check, not just a rows-only one."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    return docs.mapInPandas(
        langid_batches, schema="doc_id long, predicted_lang string"
    )


@query(
    "text_bigram_diversity",
    oracle="""
    SELECT doc_id,
           CAST(len(list_distinct(bg)) AS INT) AS n_uniq_bigrams,
           CAST(len(bg) AS INT) AS n_bigrams,
           ROUND(CAST(len(list_distinct(bg)) AS DOUBLE)
                 / greatest(len(bg), 1), 6) AS diversity
    FROM (
      SELECT doc_id,
             CASE WHEN len(toks) >= 2 THEN
               list_transform(range(1, len(toks)),
                              i -> toks[i] || ' ' || toks[i+1])
             ELSE [] END AS bg
      FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
    )
    """,
)
def text_bigram_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram diversity (distinct/total bigrams): a repetition-quality
    signal for corpus filtering — low diversity flags boilerplate/spam.
    Pure array expressions; same shingling shape as the dedup family."""
    d = load(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("toks")
    )
    bg = F.expr(
        "CASE WHEN size(toks) >= 2 THEN"
        "  transform(sequence(0, size(toks) - 2),"
        "    i -> concat_ws(' ', toks[i], toks[i+1]))"
        " ELSE array() END"
    )
    return d.select(
        "doc_id",
        F.size(F.array_distinct(bg)).alias("n_uniq_bigrams"),
        F.size(bg).alias("n_bigrams"),
        F.round(
            F.size(F.array_distinct(bg)).cast("double")
            / F.greatest(F.size(bg), F.lit(1)),
            6,
        ).alias("diversity"),
    )


@query(
    "text_tfidf_topterm",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ), tf AS (
      SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
      FROM toks GROUP BY 1, 2
    ), df AS (
      SELECT term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
      FROM toks GROUP BY 1
    ), n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM documents)
    SELECT doc_id, term, ROUND(score, 6) AS score
    FROM (
      SELECT tf.doc_id, tf.term, tf.tf * ln(n.n / df.df) AS score,
             ROW_NUMBER() OVER (
               PARTITION BY tf.doc_id
               ORDER BY tf.tf * ln(n.n / df.df) DESC, tf.term) AS rn
      FROM tf JOIN df ON tf.term = df.term CROSS JOIN n
    )
    WHERE rn = 1
    """,
)
def text_tfidf_topterm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF with top-term-per-document extraction: term frequency per
    (doc, term), document frequency per term (one shuffle on term), corpus
    size as a broadcast scalar, score = tf * ln(N/df), then row_number=1
    per doc with a deterministic (score DESC, term ASC) tie-break. All
    score inputs are exact integers, so the double math is bit-identical
    cross-engine. At scale the df relation is the small side of the join
    once low-df terms dominate — AQE converts it to broadcast."""
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    )
    tf = docs.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df = docs.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    n = load(spark, sf_dir, "documents").agg(
        F.count("*").cast("double").alias("n")
    )
    scored = (
        tf.join(df, "term")
        .join(F.broadcast(n))
        .withColumn("score", F.col("tf") * F.log(F.col("n") / F.col("df")))
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "term", F.round("score", 6).alias("score"))
    )


@query(
    "text_edit_distance_pairs",
    oracle="""
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(levenshtein(substring(a.text, 1, 60),
                            substring(b.text, 1, 60)) AS INT) AS dist
    FROM documents a JOIN documents b
      ON b.doc_id = a.doc_id + 1 AND a.lang = b.lang
    WHERE levenshtein(substring(a.text, 1, 60),
                      substring(b.text, 1, 60)) <= 45
    """,
)
def text_edit_distance_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance verification: levenshtein over 60-char prefixes of
    candidate pairs (here: adjacent same-language docs — in production the
    candidates come from LSH). The bounded prefix keeps the O(len²) DP
    cost constant per pair, the standard trick for using edit distance at
    corpus scale at all; candidates-first keeps it off the n² pair space."""
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.substring("text", 1, 60).alias("prefix")
    )
    a = docs.alias("a")
    b = docs.select(
        (F.col("doc_id") - 1).alias("join_id"),
        F.col("doc_id").alias("doc_b"),
        F.col("lang").alias("lang_b"),
        F.col("prefix").alias("prefix_b"),
    )
    dist = F.levenshtein(F.col("a.prefix"), F.col("prefix_b"))
    return (
        a.join(b, (F.col("a.doc_id") == F.col("join_id"))
               & (F.col("a.lang") == F.col("lang_b")))
        .filter(dist <= 45)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("doc_b"),
            dist.cast("int").alias("dist"),
        )
    )


_PPLX_ORACLE = """
WITH t AS (
  SELECT doc_id, lower(substr(text, 1, 512)) AS s FROM documents
  WHERE length(text) >= 2
),
bg AS (
  SELECT doc_id, substr(s, CAST(i AS INT), 2) AS b
  FROM t, LATERAL unnest(range(1, length(s))) AS u(i)
),
model AS (SELECT b, CAST(COUNT(*) AS DOUBLE) AS c FROM bg GROUP BY b),
tot AS (SELECT CAST(SUM(c) AS DOUBLE) AS n FROM model)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       ROUND(AVG(-ln(c / n)), 4) AS nll
FROM bg JOIN model USING (b) CROSS JOIN tot
GROUP BY doc_id
"""


@query("text_perplexity_proxy", oracle=_PPLX_ORACLE)
def text_perplexity_proxy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-proxy quality score WITHOUT a language model: train a
    char-bigram unigram-of-bigrams model on the corpus itself (one
    aggregation), then score each document by the mean negative
    log-likelihood of its bigrams under that model. Gibberish / binary
    junk / wrong-language text scores high nll exactly as under a real
    LM-based quality filter, so this is the standing stand-in the
    pipeline ships before a model is available (and the columns it emits
    are the ones an LM scorer would later overwrite).

    Shapes: bigrams explode per doc (bounded at 512 chars so a 1 GB
    outlier document can't skew a partition); the model is a groupBy the
    size of the CHARSET^2 vocabulary (tiny), broadcast back onto the
    exploded bigrams; one final groupBy(doc_id) reduces to a score. At
    100 TB: two shuffles of 2-byte tokens + a broadcast — no Python, no
    model file, fully incremental (the model agg merges across corpus
    shards).
    """
    docs = load(spark, sf_dir, "documents")
    # bigram generation + scoring are CPU-bound narrow maps over an
    # explode; a 1-2-partition scan would serialize them (dedup._corpus
    # has the same guard). At scale the input splits already parallelize.
    docs = maybe_spread(docs, sf_dir, "documents", "doc_id")
    t = (
        docs.filter(F.length("text") >= 2)
        .select("doc_id", F.lower(F.substring("text", 1, 512)).alias("s"))
    )
    bg = t.select(
        "doc_id",
        F.explode(
            F.expr("transform(sequence(1, length(s) - 1), i -> substring(s, i, 2))")
        ).alias("b"),
    )
    # The model is CHARSET^2-bounded (tiny at any corpus size), but its
    # subtree is the full corpus explode + aggregation. Materializing it
    # once via localCheckpoint means the grand-total aggregation and the
    # broadcast build read vocabulary-sized stored rows instead of each
    # re-running the corpus pass: 3 explode passes -> 2 (model + probe).
    # The probe-side aggregation is byte-identical to the pre-r13 plan,
    # so per-doc nll floats are unchanged.
    model = (
        bg.groupBy("b")
        .agg(F.count("*").cast("double").alias("c"))
        .localCheckpoint()
    )
    tot = model.agg(F.sum("c").alias("n"))
    return (
        bg.join(F.broadcast(model), "b")
        .join(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.round(F.avg(-F.log(F.col("c") / F.col("n"))), 4).alias("nll"),
        )
    )


# GPT-2-style pre-tokenizer classes, written with the SAME literal in both
# engines (Java regex and RE2 agree on these constructs): letter runs,
# digit runs, and single non-space-non-alnum marks. Whitespace is the
# explicit class [ \t\n\r] — not \s, whose definition differs between
# engines in the vertical-tab corner.
_TOKEN_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \t\n\r]"


@query(
    "text_regex_tokenize",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             regexp_extract_all(text, '{_TOKEN_RE}') AS toks
      FROM documents
    )
    SELECT doc_id,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           CAST(len(list_filter(toks, x -> regexp_matches(x, '^[A-Za-z]')))
             AS BIGINT) AS n_word,
           CAST(len(list_filter(toks, x -> regexp_matches(x, '^[0-9]')))
             AS BIGINT) AS n_number,
           md5(array_to_string(toks[1:20], ' ')) AS head_digest
    FROM t
    """,
)
def text_regex_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-style pre-tokenization as a pure codegen expression: split each
    document into letter runs / digit runs / single punctuation marks (the
    class structure GPT-2's pre-tokenizer regex uses) and count each class
    — the token-budget accounting step of a training-data pipeline, and a
    finer-grained companion to text_token_count's whitespace split. The
    first-20-token digest pins the actual token sequence, not just counts.

    Scale: regexp_extract_all + array ops are per-row JVM expressions —
    zero shuffle, linear scan; the real BPE merge table lookup would ride
    the same shape as a mapInPandas over these pre-tokens."""
    t = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr(f"regexp_extract_all(text, '{_TOKEN_RE}', 0)").alias("toks"),
    )
    return t.select(
        "doc_id",
        F.size("toks").cast("bigint").alias("n_tokens"),
        F.size(F.expr("filter(toks, x -> x rlike '^[A-Za-z]')"))
        .cast("bigint")
        .alias("n_word"),
        F.size(F.expr("filter(toks, x -> x rlike '^[0-9]')"))
        .cast("bigint")
        .alias("n_number"),
        F.md5(F.expr("array_join(slice(toks, 1, 20), ' ')"))
        .alias("head_digest"),
    )


# fixed classifier weights: (feature -> weight) for the linear quality
# model; stands in for the trained fasttext/logreg scorer every corpus
# pipeline ships — inference is pure columnar math either way
_QC_W = {
    "bias": -1.2,
    "ttr": 2.0,           # type-token ratio
    "stop_ratio": 1.5,    # stopword share
    "len_norm": 0.8,      # tokens / 100, capped at 1
    "digit_ratio": -2.5,  # digit-heavy docs are usually junk
}

_QC_SQL_FEATS = f"""
  SELECT doc_id,
         CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
           / len(string_split(text, ' ')) AS ttr,
         CAST(len(list_filter(string_split(text, ' '),
                              t -> t IN {_STOP_SQL})) AS DOUBLE)
           / len(string_split(text, ' ')) AS stop_ratio,
         LEAST(len(string_split(text, ' ')) / 100.0, 1.0) AS len_norm,
         CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE)
           / length(text) AS digit_ratio
  FROM documents WHERE length(text) > 0
"""

_QC_ORACLE = f"""
WITH f AS ({_QC_SQL_FEATS}),
s AS (
  SELECT doc_id,
         {_QC_W['bias']} + {_QC_W['ttr']} * ttr
           + {_QC_W['stop_ratio']} * stop_ratio
           + {_QC_W['len_norm']} * len_norm
           + {_QC_W['digit_ratio']} * digit_ratio AS logit
  FROM f
)
SELECT doc_id, ROUND(logit, 6) AS logit,
       ROUND(1.0 / (1.0 + exp(-logit)), 6) AS p_keep,
       (1.0 / (1.0 + exp(-logit))) >= 0.5 AS keep
FROM s
"""


@query("quality_classifier_score", oracle=_QC_ORACLE)
def quality_classifier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear quality-classifier inference: a fixed-weight logistic model
    over cheap text features (TTR, stopword share, normalized length,
    digit ratio) scoring every document — the columnar form of the
    fasttext/logreg keep-or-drop scorer corpus pipelines run after the
    heuristic filters. With the weights broadcast as literals the whole
    model is ONE codegen projection: zero shuffle, zero Python, linear
    scan — at 100 TB model inference at this shape is IO-bound, which is
    the point of distilling big quality models into linear probes.
    The keep decision thresholds the UNROUNDED probability so both
    engines decide identically."""
    toks = F.split(F.col("text"), " ")
    f = (
        load(spark, sf_dir, "documents")
        .filter(F.length("text") > 0)
        .select(
            "doc_id",
            (F.size(F.array_distinct(toks)).cast("double") / F.size(toks))
            .alias("ttr"),
            (
                F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS)))
                .cast("double")
                / F.size(toks)
            ).alias("stop_ratio"),
            F.least(F.size(toks) / 100.0, F.lit(1.0)).alias("len_norm"),
            (
                F.length(F.regexp_replace("text", "[^0-9]", ""))
                .cast("double")
                / F.length("text")
            ).alias("digit_ratio"),
        )
    )
    logit = (
        F.lit(_QC_W["bias"])
        + _QC_W["ttr"] * F.col("ttr")
        + _QC_W["stop_ratio"] * F.col("stop_ratio")
        + _QC_W["len_norm"] * F.col("len_norm")
        + _QC_W["digit_ratio"] * F.col("digit_ratio")
    )
    p = 1.0 / (1.0 + F.exp(-logit))
    return f.select(
        "doc_id",
        F.round(logit, 6).alias("logit"),
        F.round(p, 6).alias("p_keep"),
        (p >= 0.5).alias("keep"),
    )


_ENTROPY_ORACLE = """
WITH chars AS (
  SELECT doc_id, unnest(string_split_regex(text, '')) AS ch
  FROM documents WHERE length(text) > 0
), freq AS (
  SELECT doc_id, ch, CAST(COUNT(*) AS DOUBLE) AS n
  FROM chars WHERE ch <> '' GROUP BY doc_id, ch
), tot AS (
  SELECT doc_id, SUM(n) AS total, CAST(COUNT(*) AS BIGINT) AS n_distinct
  FROM freq GROUP BY doc_id
)
SELECT f.doc_id,
       ROUND(-SUM((n / total) * ln(n / total)) / ln(2), 6) AS char_entropy,
       MAX(t.n_distinct) AS n_distinct_chars,
       (-SUM((n / total) * ln(n / total)) / ln(2)) >= 3.0 AS keep
FROM freq f JOIN tot t ON f.doc_id = t.doc_id
GROUP BY f.doc_id
"""


@query("entropy_filter", oracle=_ENTROPY_ORACLE)
def entropy_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-entropy quality filter: Shannon entropy (bits) of each
    document's character distribution — near-zero entropy catches
    repeated-character/boilerplate junk, abnormally high entropy catches
    binary-as-text; the keep band's low side (>= 3 bits) is checked here.
    Thresholding the UNROUNDED entropy keeps both engines' decisions
    identical.

    Plan: characters never explode into rows on the Spark side — chars
    sort once per row and ONE linear fold accumulates run lengths into
    the entropy sum (H = log2(n) - sum(run ln run)/(n ln 2)), so the op
    is zero-shuffle pure codegen; the oracle's explode+group form is the
    semantic spec. At 100 TB per-row state is one run accumulator — the
    sort is per-row O(len log len), not a shuffle."""
    # sort the chars once, then ONE linear fold over runs: acc carries
    # (prev char, current run length, entropy numerator, distinct count).
    # The first map-based draft rebuilt an alphabet-sized map per
    # CHARACTER (map_concat + map_filter) — O(len x alphabet) with heavy
    # allocation, measured 6.4 s for 5k docs; this form is
    # O(len log len) in cheap comparisons and runs ~20x faster.
    # per-row char sort + linear fold is CPU-heavy narrow work: spread a
    # small-fixture scan first (tables.maybe_spread; no-op at real
    # scale) — measured 1.13 -> 0.39 s at sf0.1 (guide §2).
    d = (
        maybe_spread(
            load(spark, sf_dir, "documents"), sf_dir, "documents", "doc_id"
        )
        .filter(F.length("text") > 0)
        .select(
            "doc_id",
            F.expr("array_sort(split(text, ''))").alias("cs"),
            F.length("text").cast("double").alias("n"),
        )
    )
    folded = d.select(
        "doc_id",
        "n",
        F.expr(
            """
            aggregate(
              cs,
              named_struct('prev', CAST(NULL AS STRING), 'run', 0D,
                           'h', 0D, 'k', CAST(0 AS BIGINT)),
              (a, c) -> CASE
                WHEN a.prev IS NULL THEN
                  named_struct('prev', c, 'run', 1D, 'h', 0D,
                               'k', CAST(1 AS BIGINT))
                WHEN c = a.prev THEN
                  named_struct('prev', c, 'run', a.run + 1D, 'h', a.h,
                               'k', a.k)
                ELSE
                  named_struct('prev', c, 'run', 1D,
                               'h', a.h + a.run * ln(a.run),
                               'k', a.k + CAST(1 AS BIGINT))
              END,
              a -> named_struct('h', a.h + a.run * ln(a.run), 'k', a.k)
            )
            """
        ).alias("st"),
    )
    # H = -sum p*log2 p with p = run/n  ==  log2(n) - sum(run ln run)/(n ln 2)
    ent = F.log2("n") - F.col("st.h") / (F.col("n") * F.log(F.lit(2.0)))
    return folded.select(
        "doc_id",
        F.round(ent, 6).alias("char_entropy"),
        F.col("st.k").alias("n_distinct_chars"),
        (ent >= 3.0).alias("keep"),
    )


_PMI_W = 3  # co-occurrence window (token distance)
_PMI_MIN = 5  # min pair count to report

_PMI_ORACLE = f"""
WITH t AS (
  SELECT string_split(text, ' ') AS toks FROM documents
  WHERE len(string_split(text, ' ')) >= 2
),
pairs AS (
  SELECT LEAST(toks[CAST(u.i AS INT)], toks[CAST(u.i + d.d AS INT)]) AS a,
         GREATEST(toks[CAST(u.i AS INT)], toks[CAST(u.i + d.d AS INT)]) AS b
  FROM t,
       LATERAL unnest(range(1, len(toks) + 1)) AS u(i),
       LATERAL unnest(range(1, {_PMI_W} + 1)) AS d(d)
  WHERE u.i + d.d <= len(toks)
),
pc AS (
  SELECT a, b, CAST(COUNT(*) AS BIGINT) AS c_xy FROM pairs GROUP BY a, b
),
uni AS (
  SELECT unnest(toks) AS tok FROM t
),
uc AS (
  SELECT tok, CAST(COUNT(*) AS BIGINT) AS c FROM uni GROUP BY tok
),
tot AS (
  SELECT (SELECT SUM(c) FROM uc) AS n_tok,
         (SELECT SUM(c_xy) FROM pc) AS n_pairs
)
SELECT pc.a, pc.b, pc.c_xy,
       ROUND(ln((CAST(pc.c_xy AS DOUBLE) / tot.n_pairs)
                / ((CAST(ua.c AS DOUBLE) / tot.n_tok)
                   * (CAST(ub.c AS DOUBLE) / tot.n_tok))), 6) AS pmi
FROM pc
JOIN uc ua ON ua.tok = pc.a
JOIN uc ub ON ub.tok = pc.b
CROSS JOIN tot
WHERE pc.c_xy >= {_PMI_MIN}
"""


@query("text_cooccurrence_pmi", oracle=_PMI_ORACLE)
def text_cooccurrence_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed token co-occurrence with pointwise mutual information —
    the corpus statistic under word2vec/GloVe-era embeddings and still
    the standard collocation detector ("new york" vs chance): token
    pairs within {w} positions, order-normalized, PMI =
    ln(P(x,y) / (P(x)P(y))) from exact integer counts (both engines
    derive the double from the same integers, so only the final ln/round
    touches floating point).

    Scale shape: the pair explosion is {w} structs per token position —
    a LINEAR blowup (contrast all-pairs-within-doc, which is quadratic
    in document length); the pair shuffle partial-aggregates map-side
    (hot pairs collapse early). Two unigram-count joins key on the
    token; the two scalar totals ride a 1-row broadcast. Reported pairs
    filter to count >= {m}, the usual significance floor."""
    # Spark's sequence(1, n) DESCENDS when n < 1 instead of being empty,
    # so both sequence bounds must be guaranteed >= start: docs with < 2
    # tokens are excluded (no pair exists), the outer index stops at
    # size-1, and the inner distance bound least(W, size-i) is then >= 1
    t = (
        load(spark, sf_dir, "documents")
        .select(F.split("text", " ").alias("toks"))
        .filter(F.size("toks") >= 2)
    )
    pair_expr = F.expr(
        f"""flatten(transform(sequence(1, size(toks) - 1), i ->
              transform(sequence(1, least({_PMI_W}, size(toks) - i)), d ->
                named_struct(
                  'a', least(element_at(toks, CAST(i AS INT)),
                             element_at(toks, CAST(i + d AS INT))),
                  'b', greatest(element_at(toks, CAST(i AS INT)),
                                element_at(toks, CAST(i + d AS INT)))))))"""
    )
    pc = (
        t.select(F.explode(pair_expr).alias("p"))
        .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .agg(F.count(F.lit(1)).alias("c_xy"))
    )
    uc = (
        t.select(F.explode("toks").alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    tot = uc.agg(F.sum("c").alias("n_tok")).crossJoin(
        pc.agg(F.sum("c_xy").alias("n_pairs"))
    )
    ua = uc.select(F.col("tok").alias("a"), F.col("c").alias("c_a"))
    ub = uc.select(F.col("tok").alias("b"), F.col("c").alias("c_b"))
    return (
        pc.filter(F.col("c_xy") >= _PMI_MIN)
        .join(ua, "a")
        .join(ub, "b")
        .crossJoin(F.broadcast(tot))
        .select(
            "a",
            "b",
            "c_xy",
            F.round(
                F.log(
                    (F.col("c_xy").cast("double") / F.col("n_pairs"))
                    / (
                        (F.col("c_a").cast("double") / F.col("n_tok"))
                        * (F.col("c_b").cast("double") / F.col("n_tok"))
                    )
                ),
                6,
            ).alias("pmi"),
        )
    )


text_cooccurrence_pmi.__doc__ = text_cooccurrence_pmi.__doc__.format(
    w=_PMI_W, m=_PMI_MIN
)


@query(
    "source_similarity_matrix",
    oracle="""
    WITH t AS (
      SELECT source, string_split(text, ' ') AS toks FROM documents
    ),
    sh AS (
      SELECT DISTINCT source,
             unnest(CASE WHEN len(toks) >= 3 THEN
               list_transform(range(1, len(toks) - 1),
                 i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
             ELSE [array_to_string(toks, ' ')] END) AS g
      FROM t
    ),
    per AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_sh FROM sh GROUP BY 1
    ),
    by_g AS (
      SELECT g, list_sort(list(source)) AS ss FROM sh GROUP BY g
    ),
    pairs AS (
      SELECT p.pr[1] AS src_a, p.pr[2] AS src_b,
             CAST(COUNT(*) AS BIGINT) AS inter
      FROM (
        SELECT unnest(flatten(list_transform(ss, (x, i) ->
          list_transform(ss[i+1:], y -> [x, y])))) AS pr
        FROM by_g WHERE len(ss) >= 2
      ) p GROUP BY 1, 2
    )
    SELECT src_a, src_b, inter, pa.n_sh AS n_a, pb.n_sh AS n_b,
           CAST((inter * 1000000) // (pa.n_sh + pb.n_sh - inter)
                AS BIGINT) AS jaccard_micro
    FROM pairs
    JOIN per pa ON pa.source = src_a
    JOIN per pb ON pb.source = src_b
    """,
)
def source_similarity_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-level similarity matrix: 3-gram shingle Jaccard between
    every pair of sources that share at least one shingle — the
    corpus-composition audit that catches two "different" sources
    scraping the same upstream (doc-level dedup sees the trees; this
    sees the forest). Emitted in exact integer micro-units.

    Shape: distinct (source, shingle) is one shuffle of the shingled
    corpus; pair generation is the simjoin_containment device — ONE
    aggregation by shingle emits within-list source pairs (bounded by
    |sources|^2 per shingle), never a shingle-keyed self-join; the final
    grid is |sources|^2 rows joined to the per-source totals by
    broadcast. At 100 TB hot shingles (stopword runs) bound fan-out by
    |sources|, not corpus size — the cap a doc-level pair join lacks."""
    docs = maybe_spread(
        load(spark, sf_dir, "documents"), sf_dir, "documents", "doc_id"
    )
    # LET-BIND the token split (r12 batch-4 idiom): with the split spelled
    # inside the transform lambda, CollapseProject left 3 full splits of
    # the document re-evaluated PER SHINGLE POSITION (O(len^2) per doc —
    # verified in plans/r13/source_similarity_matrix_before.txt). The
    # 1-element transform binder evaluates split(text) once per row and
    # the lambda references are free.
    sh = (
        docs.select(
            "source",
            F.explode(
                F.expr(
                    "element_at(transform(array(split(text, ' ')), toks ->"
                    " CASE WHEN size(toks) >= 3 THEN"
                    "  transform(sequence(0, size(toks) - 3),"
                    "    i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))"
                    " ELSE array(concat_ws(' ', toks)) END), 1)"
                )
            ).alias("g"),
        )
        .distinct()
    )
    # ONE shingle pass for the whole op: by_g (one row per distinct
    # corpus shingle, |sources|-bounded source set) is materialized via
    # localCheckpoint; the per-source totals re-derive from the stored
    # rows (explode of ss counts exactly the distinct (source, g) pairs,
    # same integers as counting sh by source), so the corpus
    # explode+distinct no longer runs once per consumer subtree (it ran
    # 3x: per at both join sides + pairs).
    by_g = (
        sh.groupBy("g")
        .agg(F.sort_array(F.collect_set("source")).alias("ss"))
        .localCheckpoint()
    )
    per = (
        by_g.select(F.explode("ss").alias("source"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_sh"))
    )
    combos = F.expr(
        "flatten(transform(ss, (x, i) ->"
        " transform(slice(ss, i + 2, size(ss)),"
        "   y -> struct(x AS src_a, y AS src_b))))"
    )
    pairs = (
        by_g.filter(F.size("ss") >= 2)
        .select(F.explode(combos).alias("p"))  # reads the checkpoint
        .groupBy(
            F.col("p.src_a").alias("src_a"), F.col("p.src_b").alias("src_b")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("inter"))
    )
    pa = per.select(F.col("source").alias("src_a"), F.col("n_sh").alias("n_a"))
    pb = per.select(F.col("source").alias("src_b"), F.col("n_sh").alias("n_b"))
    return (
        pairs.join(F.broadcast(pa), "src_a")
        .join(F.broadcast(pb), "src_b")
        .select(
            "src_a",
            "src_b",
            "inter",
            "n_a",
            "n_b",
            F.expr(
                "CAST((inter * 1000000) DIV (n_a + n_b - inter) AS BIGINT)"
            ).alias("jaccard_micro"),
        )
    )


# RAKE stopword list (Rose et al. 2010 use a full English list; a compact
# one is enough for phrase boundaries on this fixture's vocabulary)
_RAKE_STOP = (
    "the", "a", "an", "of", "and", "to", "in", "is", "it", "for",
    "on", "with", "as", "at", "by", "or", "be", "that", "this", "are",
)
_RAKE_TOPK = 20
_RAKE_SEP = "§"  # phrase-boundary sentinel, absent from the corpus

_RAKE_STOP_SQL = ", ".join(f"'{w}'" for w in _RAKE_STOP)

_RAKE_ORACLE = f"""
WITH lines AS (
  SELECT array_to_string(
           list_transform(
             list_filter(string_split(
               regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' '),
               w -> w <> ''),
             w -> CASE WHEN w IN ({_RAKE_STOP_SQL})
                       THEN '{_RAKE_SEP}' ELSE w END),
           ' ') AS line
  FROM documents
),
ph AS (
  SELECT trim(p) AS phrase
  FROM lines, unnest(string_split(line, '{_RAKE_SEP}')) AS t(p)
  WHERE trim(p) <> ''
),
phc AS (
  SELECT phrase, CAST(COUNT(*) AS BIGINT) AS n_occ FROM ph GROUP BY 1
),
pw AS (
  SELECT phrase, n_occ,
         CAST(len(string_split(phrase, ' ')) AS BIGINT) AS plen,
         unnest(string_split(phrase, ' ')) AS w
  FROM phc
),
ws AS (
  SELECT w,
         (SUM(plen * n_occ) * 1000000) // SUM(n_occ) AS score_micro
  FROM pw GROUP BY w
)
SELECT p.phrase, MAX(p.n_occ) AS n_occ,
       CAST(MAX(p.plen) AS BIGINT) AS n_words,
       CAST(SUM(ws.score_micro) AS BIGINT) AS score_micro
FROM pw p JOIN ws USING (w)
GROUP BY p.phrase
ORDER BY score_micro DESC, phrase
LIMIT {_RAKE_TOPK}
"""


@query("text_keyword_rake", oracle=_RAKE_ORACLE)
def text_keyword_rake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010) over the corpus: split
    text into candidate phrases at stopword boundaries, score each word
    by degree/frequency over phrase co-occurrence, score each phrase as
    the sum of its word scores, return the global top-{k} — the
    unsupervised keyphrase primitive of the text-analysis family
    (tfidf finds distinctive TERMS per doc; RAKE finds multi-word
    PHRASES corpus-wide).

    Exact integers: degree(w) = sum over phrase occurrences containing w
    of the phrase length, freq(w) = occurrence count, word score =
    (degree * 1e6) DIV freq, phrase score = sum of member word scores
    (duplicates counted, same explode on both engines).

    Plan: phrase derivation is ONE codegen projection (regexp clean ->
    stopword sentinel substitution -> split — no per-token explode of
    the corpus); phrases aggregate by value (shuffle carries distinct
    phrases, not docs), word stats are a second metadata-sized
    aggregation over the phrase VOCABULARY, and the re-join runs
    phrase-vocab x word-vocab. The final top-{k} is order+limit —
    TakeOrderedAndProject, never a global sort."""
    docs = load(spark, sf_dir, "documents")
    stop_sql = ", ".join(f"'{w}'" for w in _RAKE_STOP)
    line = F.expr(
        "concat_ws(' ', transform(filter(split("
        " regexp_replace(lower(text), '[^a-z0-9 ]', ' '), ' '),"
        " w -> w <> ''),"
        f" w -> IF(w IN ({stop_sql}), '{_RAKE_SEP}', w)))"
    )
    ph = (
        docs.select(line.alias("line"))
        .select(
            F.explode(F.split("line", _RAKE_SEP)).alias("p")
        )
        .select(F.trim("p").alias("phrase"))
        .filter(F.col("phrase") != "")
    )
    # phrase vocabulary feeds both the word-stats aggregation and the
    # score re-join — materialize it once (same device as the KN bigram
    # table; the un-checkpointed draft scanned the corpus twice)
    phc = ph.groupBy("phrase").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_occ")
    ).localCheckpoint()
    pw = phc.select(
        "phrase",
        "n_occ",
        F.size(F.split("phrase", " ")).cast("bigint").alias("plen"),
        F.explode(F.split("phrase", " ")).alias("w"),
    )
    ws = pw.groupBy("w").agg(
        F.expr(
            "(SUM(plen * n_occ) * 1000000) DIV SUM(n_occ)"
        ).alias("score_micro")
    )
    scored = (
        pw.join(ws, "w")
        .groupBy("phrase")
        .agg(
            F.max("n_occ").alias("n_occ"),
            F.max("plen").cast("bigint").alias("n_words"),
            F.sum("score_micro").cast("bigint").alias("score_micro"),
        )
    )
    return scored.orderBy(
        F.col("score_micro").desc(), "phrase"
    ).limit(_RAKE_TOPK)


text_keyword_rake.__doc__ = text_keyword_rake.__doc__.format(k=_RAKE_TOPK)


_KN_MIN = 5  # report bigrams with count >= this (significance floor)
# discount d = 0.75 carried as the exact rational 3/4: all numerators
# multiply by 4 so the arithmetic never leaves integers

_KN_ORACLE = f"""
WITH t AS (
  SELECT string_split(text, ' ') AS toks FROM documents
  WHERE len(string_split(text, ' ')) >= 2
),
bg AS (
  SELECT toks[i] AS w1, toks[i + 1] AS w2
  FROM t, unnest(range(1, len(toks))) AS r(i)
),
big AS (
  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12
  FROM bg GROUP BY 1, 2
),
c1 AS (
  SELECT w1, SUM(c12) AS c1, CAST(COUNT(*) AS BIGINT) AS n1p_w1
  FROM big GROUP BY 1
),
cont AS (
  SELECT w2, CAST(COUNT(*) AS BIGINT) AS n1p_w2 FROM big GROUP BY 1
),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n1p_total FROM big)
SELECT b.w1, b.w2, b.c12,
       CAST(((4 * b.c12 - 3) * 1000000) // (4 * c1.c1)
            + (3 * c1.n1p_w1 * ((cont.n1p_w2 * 1000000) // tot.n1p_total))
              // (4 * c1.c1)
         AS BIGINT) AS p_kn_micro
FROM big b
JOIN c1 USING (w1) JOIN cont USING (w2) CROSS JOIN tot
WHERE b.c12 >= {_KN_MIN}
"""


@query("lm_kneser_ney_bigram", oracle=_KN_ORACLE)
def lm_kneser_ney_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kneser-Ney smoothed bigram language model (Kneser & Ney 1995, the
    standard n-gram smoothing): P(w2|w1) = (c12 - d)/c1 + d*N1+(w1,.)/c1
    * N1+(.,w2)/N1+(.,.), d = 3/4 — absolute discounting plus the
    continuation-probability backoff that made KN the n-gram-era
    default. Complements text_perplexity_proxy (which SCORES docs with a
    tiny LM) by TRAINING the LM table itself; the emitted rows are the
    model.

    Exactness: d = 3/4 is carried as a rational (all terms scaled by 4),
    probabilities land in integer micro-units via truncating DIV with
    the two divisions composed IDENTICALLY on both engines — no float
    anywhere. c12 >= 1 for observed bigrams, so max(c12 - d, 0) is
    statically positive and drops out.

    Scale shape: the corpus collapses to the bigram TYPE table in one
    adjacent-pair explode (linear per token, map-side partial agg);
    everything after — left-context counts, continuation counts, the
    1-row type total — is vocabulary-sized, and the final joins key on
    single tokens (broadcastable at any corpus size; vocabulary grows
    sublinearly)."""
    t = (
        load(spark, sf_dir, "documents")
        .select(F.split("text", " ").alias("toks"))
        .filter(F.size("toks") >= 2)
    )
    bg = t.select(
        F.explode(
            F.expr(
                "transform(sequence(1, size(toks) - 1), i ->"
                " named_struct("
                "  'w1', element_at(toks, CAST(i AS INT)),"
                "  'w2', element_at(toks, CAST(i + 1 AS INT))))"
            )
        ).alias("p")
    ).select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    # the bigram TYPE table is the model's sufficient statistic and feeds
    # FOUR consumers (report filter, left-context stats, continuation
    # stats, type total); without materialization each consumer re-runs
    # the corpus scan+explode (the pin in tests/test_plans.py caught the
    # 4-scan draft). localCheckpoint = the persisted-model-artifact step
    # a real deployment does here anyway.
    big = bg.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).cast("bigint").alias("c12")
    ).localCheckpoint()
    c1 = big.groupBy("w1").agg(
        F.sum("c12").alias("c1"),
        F.count(F.lit(1)).cast("bigint").alias("n1p_w1"),
    )
    cont = big.groupBy("w2").agg(
        F.count(F.lit(1)).cast("bigint").alias("n1p_w2")
    )
    tot = big.agg(F.count(F.lit(1)).cast("bigint").alias("n1p_total"))
    return (
        big.filter(F.col("c12") >= _KN_MIN)
        .join(F.broadcast(c1), "w1")
        .join(F.broadcast(cont), "w2")
        .crossJoin(F.broadcast(tot))
        .select(
            "w1",
            "w2",
            "c12",
            F.expr(
                "CAST(((4 * c12 - 3) * 1000000) DIV (4 * c1)"
                " + (3 * n1p_w1 * ((n1p_w2 * 1000000) DIV n1p_total))"
                "   DIV (4 * c1) AS BIGINT)"
            ).alias("p_kn_micro"),
        )
    )


# shared token/bigram plumbing for eval_bleu_ngram_precision — identical
# construction on both engines so gram multisets match byte-for-byte
_BLEU_TOKS_SPARK = "filter(split(text, ' '), w -> w <> '')"
_BLEU_TOKS_DUCK = "list_filter(string_split(text, ' '), w -> w <> '')"


# the oracle twin of _pair_gram_counts: successor pairs and the
# side-conditional gram counts per (pair, n, gram)
_PAIR_GRAMS_SQL = f"""
WITH p AS (
  SELECT doc_id AS pair_id, source,
         {_BLEU_TOKS_DUCK} AS ct,
         LEAD({_BLEU_TOKS_DUCK}) OVER (PARTITION BY source
                                       ORDER BY doc_id) AS rt
  FROM documents
),
pp AS (SELECT * FROM p WHERE rt IS NOT NULL),
grams AS (
  SELECT pair_id, source, 1 AS n, unnest(ct) AS g, 'c' AS side FROM pp
  UNION ALL
  SELECT pair_id, source, 1 AS n, unnest(rt) AS g, 'r' AS side FROM pp
  UNION ALL
  SELECT pair_id, source, 2 AS n,
         unnest(list_transform(range(1, len(ct)),
                i -> ct[i] || ' ' || ct[i + 1])) AS g, 'c' AS side
  FROM pp
  UNION ALL
  SELECT pair_id, source, 2 AS n,
         unnest(list_transform(range(1, len(rt)),
                i -> rt[i] || ' ' || rt[i + 1])) AS g, 'r' AS side
  FROM pp
),
cnt AS (
  SELECT pair_id, source, n, g,
         SUM(CASE WHEN side = 'c' THEN 1 ELSE 0 END) AS cc,
         SUM(CASE WHEN side = 'r' THEN 1 ELSE 0 END) AS rc
  FROM grams GROUP BY ALL
),
"""

_BLEU_ORACLE = f"""{_PAIR_GRAMS_SQL}per_pair AS (
  SELECT pair_id, source,
         SUM(CASE WHEN n = 1 THEN LEAST(cc, rc) ELSE 0 END) AS clip1,
         SUM(CASE WHEN n = 2 THEN LEAST(cc, rc) ELSE 0 END) AS clip2,
         SUM(CASE WHEN n = 1 THEN cc ELSE 0 END) AS clen,
         SUM(CASE WHEN n = 1 THEN rc ELSE 0 END) AS rlen,
         SUM(CASE WHEN n = 2 THEN cc ELSE 0 END) AS c2len
  FROM cnt GROUP BY 1, 2
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST((SUM(clip1) * 1000000) // SUM(clen) AS BIGINT) AS p1_micro,
       CAST((SUM(clip2) * 1000000) // SUM(c2len) AS BIGINT) AS p2_micro,
       CAST(LEAST(1000000, (SUM(clen) * 1000000) // SUM(rlen))
            AS BIGINT) AS bp_micro,
       ROUND(LEAST(1000000, (SUM(clen) * 1000000) // SUM(rlen)) / 1e6
             * sqrt((SUM(clip1) * 1000000 // SUM(clen)) / 1e6
                    * ((SUM(clip2) * 1000000 // SUM(c2len)) / 1e6)), 6)
         AS bleu2
FROM per_pair GROUP BY source
"""


def _pair_gram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The gram counts BLEU and ROUGE share: each document paired with
    its successor within source (candidate ``ct``, reference ``rt``),
    both sides' uni- and bigrams, and per ``(pair_id, source, n, g)``
    the candidate count ``cc`` and the reference count ``rc`` — one
    aggregation over the union, no cand x ref self-join."""
    d = load(spark, sf_dir, "documents")
    wsrc = Window.partitionBy("source").orderBy("pair_id")
    p = (
        d.select(
            F.col("doc_id").alias("pair_id"),
            "source",
            F.expr(_BLEU_TOKS_SPARK).alias("ct"),
        )
        .withColumn("rt", F.lead("ct").over(wsrc))
        .filter(F.col("rt").isNotNull())
    )
    p = p.localCheckpoint()  # pairs reused by 4 gram branches

    def grams(col: str, side: str, n: int) -> DataFrame:
        if n == 1:
            garr = F.col(col)
        else:
            garr = F.expr(
                f"transform(sequence(1, size({col}) - 1),"
                f" i -> element_at({col}, i) || ' '"
                f" || element_at({col}, i + 1))"
            )
        return p.select(
            "pair_id",
            "source",
            F.lit(n).alias("n"),
            F.explode(garr).alias("g"),
            F.lit(side).alias("side"),
        )

    return (
        grams("ct", "c", 1)
        .unionByName(grams("rt", "r", 1))
        .unionByName(grams("ct", "c", 2))
        .unionByName(grams("rt", "r", 2))
        .groupBy("pair_id", "source", "n", "g")
        .agg(
            F.sum(F.expr("CASE WHEN side = 'c' THEN 1 ELSE 0 END")).alias(
                "cc"
            ),
            F.sum(F.expr("CASE WHEN side = 'r' THEN 1 ELSE 0 END")).alias(
                "rc"
            ),
        )
    )


@query("eval_bleu_ngram_precision", oracle=_BLEU_ORACLE)
def eval_bleu_ngram_precision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BLEU-style modified n-gram precision (Papineni et al., ACL 2002)
    between candidate/reference text pairs — the lexical-overlap eval for
    generation quality next to the rank metrics (eval_ndcg_at_k/
    eval_mrr_map score retrieval; this scores text agreement). Pairs are
    deterministic plumbing: each doc against its successor within source
    (the module's fixture device — swap in a real (cand, ref) table
    unchanged). Emits per-source MICRO-averaged clipped precision for
    n=1,2 (corpus BLEU's aggregation — ratio of sums, so the division
    happens once over exact integers, never an average of per-pair
    floats), a linear brevity penalty LEAST(1, |cand|/|ref|) (the exp
    form needs cross-engine libm parity; sqrt is IEEE-correctly-rounded,
    exp is not), and bleu2 = bp·√(p1·p2).

    Scale: four exchanges total. Both sides' grams union into ONE
    (pair, n, gram)-keyed aggregation (side-conditional counts — no
    cand x ref self-join), the per-pair clips AND lengths fall out of
    one further per-pair aggregation over those counts (no join back
    to the pair table), and the source rollup is the last. Gram rows
    are linear in corpus tokens and keyed by pair throughout. The
    lead() pairing is one window on the source partition; a real
    (cand, ref) pair table skips it entirely.
    """
    cnt = _pair_gram_counts(spark, sf_dir)
    # per-pair clips AND lengths fall out of the same gram counts —
    # no join back to the pair table, one aggregation per level
    per_pair = cnt.groupBy("pair_id", "source").agg(
        F.sum(
            F.expr("CASE WHEN n = 1 THEN LEAST(cc, rc) ELSE 0 END")
        ).alias("clip1"),
        F.sum(
            F.expr("CASE WHEN n = 2 THEN LEAST(cc, rc) ELSE 0 END")
        ).alias("clip2"),
        F.sum(F.expr("CASE WHEN n = 1 THEN cc ELSE 0 END")).alias("clen"),
        F.sum(F.expr("CASE WHEN n = 1 THEN rc ELSE 0 END")).alias("rlen"),
        F.sum(F.expr("CASE WHEN n = 2 THEN cc ELSE 0 END")).alias("c2len"),
    )
    return per_pair.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.expr("CAST((SUM(clip1) * 1000000) DIV SUM(clen) AS BIGINT)").alias(
            "p1_micro"
        ),
        F.expr(
            "CAST((SUM(clip2) * 1000000) DIV SUM(c2len) AS BIGINT)"
        ).alias("p2_micro"),
        F.expr(
            "CAST(LEAST(1000000, (SUM(clen) * 1000000) DIV SUM(rlen))"
            " AS BIGINT)"
        ).alias("bp_micro"),
        F.expr(
            "ROUND(LEAST(1000000, (SUM(clen) * 1000000) DIV SUM(rlen))"
            " / 1e6 * sqrt((SUM(clip1) * 1000000 DIV SUM(clen)) / 1e6"
            " * ((SUM(clip2) * 1000000 DIV SUM(c2len)) / 1e6)), 6)"
        ).alias("bleu2"),
    )


_ROUGE_ORACLE = f"""{_PAIR_GRAMS_SQL}per_pair AS (
  SELECT pair_id, source,
         SUM(CASE WHEN n = 1 THEN LEAST(cc, rc) ELSE 0 END) AS clip1,
         SUM(CASE WHEN n = 2 THEN LEAST(cc, rc) ELSE 0 END) AS clip2,
         SUM(CASE WHEN n = 1 THEN cc ELSE 0 END) AS clen,
         SUM(CASE WHEN n = 1 THEN rc ELSE 0 END) AS rlen,
         SUM(CASE WHEN n = 2 THEN rc ELSE 0 END) AS r2len
  FROM cnt GROUP BY 1, 2
),
src AS (
  SELECT source,
         CAST(COUNT(*) AS BIGINT) AS n_pairs,
         CAST((SUM(clip1) * 1000000) // SUM(rlen) AS BIGINT) AS r1_micro,
         CAST((SUM(clip2) * 1000000) // SUM(r2len) AS BIGINT) AS r2_micro,
         CAST((SUM(clip1) * 1000000) // SUM(clen) AS BIGINT) AS p1_micro
  FROM per_pair GROUP BY source
)
SELECT source, n_pairs, r1_micro, r2_micro,
       CASE WHEN p1_micro + r1_micro = 0 THEN CAST(0 AS BIGINT)
            ELSE CAST((2 * p1_micro * r1_micro)
                      // (p1_micro + r1_micro) AS BIGINT)
       END AS f1_micro
FROM src
"""


@query("eval_rouge_n_recall", oracle=_ROUGE_ORACLE)
def eval_rouge_n_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROUGE-N recall (Lin, ACL 2004) between candidate/reference text
    pairs — the recall-side complement of eval_bleu_ngram_precision
    (BLEU asks "how much of the candidate is in the reference"; ROUGE
    asks "how much of the reference did the candidate cover", the
    summarization-eval convention). Emits per-source micro-averaged
    clipped recall for n=1,2 plus the ROUGE-1 F-measure
    2PR/(P+R) from the same gram counts. Pairing is the module's
    deterministic successor-within-source fixture device; a real
    (cand, ref) table swaps in unchanged.

    Scale: identical four-exchange shape to the BLEU op — both sides'
    grams union into ONE (pair, n, gram)-keyed aggregation, the per-pair
    clips and lengths fall out of one further per-pair aggregation, the
    source rollup is last. Gram rows linear in corpus tokens, keyed by
    pair throughout; ratios are single divisions over exact integer
    sums (micro-averaged), never means of per-pair floats.
    """
    cnt = _pair_gram_counts(spark, sf_dir)
    per_pair = cnt.groupBy("pair_id", "source").agg(
        F.sum(
            F.expr("CASE WHEN n = 1 THEN LEAST(cc, rc) ELSE 0 END")
        ).alias("clip1"),
        F.sum(
            F.expr("CASE WHEN n = 2 THEN LEAST(cc, rc) ELSE 0 END")
        ).alias("clip2"),
        F.sum(F.expr("CASE WHEN n = 1 THEN cc ELSE 0 END")).alias("clen"),
        F.sum(F.expr("CASE WHEN n = 1 THEN rc ELSE 0 END")).alias("rlen"),
        F.sum(F.expr("CASE WHEN n = 2 THEN rc ELSE 0 END")).alias("r2len"),
    )
    src = per_pair.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.expr("CAST((SUM(clip1) * 1000000) DIV SUM(rlen) AS BIGINT)").alias(
            "r1_micro"
        ),
        F.expr(
            "CAST((SUM(clip2) * 1000000) DIV SUM(r2len) AS BIGINT)"
        ).alias("r2_micro"),
        F.expr(
            "CAST((SUM(clip1) * 1000000) DIV SUM(clen) AS BIGINT)"
        ).alias("p1_micro"),
    )
    return src.select(
        "source",
        "n_pairs",
        "r1_micro",
        "r2_micro",
        F.expr(
            "CASE WHEN p1_micro + r1_micro = 0 THEN CAST(0 AS BIGINT)"
            " ELSE CAST((2 * p1_micro * r1_micro)"
            " DIV (p1_micro + r1_micro) AS BIGINT) END"
        ).alias("f1_micro"),
    )


_SGT_MAX_R = 8  # small counts, where Good-Turing discounting matters


_SGT_ORACLE = f"""
WITH toks AS (
  SELECT source,
         unnest(list_filter(string_split(text, ' '), w -> w <> '')) AS w
  FROM documents
),
uni AS (
  SELECT source, w, CAST(COUNT(*) AS BIGINT) AS r
  FROM toks GROUP BY 1, 2
),
coc AS (
  SELECT source, r, CAST(COUNT(*) AS BIGINT) AS n_r
  FROM uni GROUP BY 1, 2
),
tot AS (
  SELECT source,
         CAST(SUM(r * n_r) AS BIGINT) AS n_tokens,
         CAST(SUM(CASE WHEN r = 1 THEN n_r ELSE 0 END) AS BIGINT) AS n1
  FROM coc GROUP BY 1
)
SELECT c.source, c.r, c.n_r,
       nxt.n_r AS n_r_next,
       CAST(CASE WHEN nxt.n_r IS NULL THEN NULL
            ELSE ((c.r + 1) * nxt.n_r * 1000000) // c.n_r END
         AS BIGINT) AS r_star_micro,
       t.n_tokens,
       CAST((t.n1 * 1000000) // t.n_tokens AS BIGINT) AS p_unseen_micro
FROM coc c
LEFT JOIN coc nxt ON nxt.source = c.source AND nxt.r = c.r + 1
JOIN tot t ON t.source = c.source
WHERE c.r <= {_SGT_MAX_R}
"""


@query("lm_good_turing", oracle=_SGT_ORACLE)
def lm_good_turing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Good-Turing frequency re-estimation (Good 1953, the count-of-
    counts smoother): for small r, a token seen r times should be
    re-counted as r* = (r+1)·N_(r+1)/N_r, and the total probability mass
    reserved for UNSEEN types is N_1/N — the companion estimate every
    open-vocabulary LM needs and the Kneser-Ney discount approximates.
    Emits per (source, r ≤ {m}): the count-of-counts N_r, the adjusted
    r*, and the source's unseen-mass estimate, all in exact integer
    micro-units (truncating DIV — no float anywhere, bit-identical
    across engines).

    Scale shape: the corpus collapses to the unigram TYPE table in one
    (source, w)-keyed aggregation — the only heavy shuffle, shared with
    every op in the tokenizer family — then to the (source, r)
    count-of-counts GRID, bounded by sources × max count: metadata-sized
    by construction. The r+1 lookup is a self-equi-join ON THE GRID and
    the token totals ride the same grid aggregation, so nothing after
    the first shuffle touches corpus-sized data. Reference analog:
    frequencyAnalysis.py's frequency-table layer
    (frequencyAnalysis.py:31-35) re-used as an LM estimator.
    """
    d = load(spark, sf_dir, "documents")
    d = maybe_spread(d, sf_dir, "documents", "doc_id")
    toks = d.select(
        "source",
        F.explode(
            F.expr("filter(split(text, ' '), w -> w <> '')")
        ).alias("w"),
    )
    uni = toks.groupBy("source", "w").agg(
        F.count(F.lit(1)).alias("r")
    )
    # the count-of-counts grid feeds three consumers (the r-filter, the
    # r+1 lookup, the totals) — checkpoint it so the corpus-sized
    # unigram shuffle underneath runs ONCE (the KN/RAKE type-table
    # device at :999/:1109); the grid itself is metadata-sized
    coc = (
        uni.groupBy("source", "r")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_r"))
        .localCheckpoint()
    )
    tot = coc.groupBy("source").agg(
        F.sum(F.expr("r * n_r")).cast("bigint").alias("n_tokens"),
        F.sum(F.when(F.col("r") == 1, F.col("n_r")).otherwise(0))
        .cast("bigint")
        .alias("n1"),
    )
    nxt = coc.select(
        F.col("source").alias("source"),
        (F.col("r") - 1).alias("r"),
        F.col("n_r").alias("n_r_next"),
    )
    out = (
        coc.filter(F.col("r") <= _SGT_MAX_R)
        .join(F.broadcast(nxt), ["source", "r"], "left")
        .join(F.broadcast(tot), "source")
    )
    return out.select(
        "source",
        F.col("r").cast("bigint").alias("r"),
        "n_r",
        "n_r_next",
        F.expr(
            "CAST(CASE WHEN n_r_next IS NULL THEN NULL"
            " ELSE ((r + 1) * n_r_next * 1000000) DIV n_r END"
            " AS BIGINT)"
        ).alias("r_star_micro"),
        "n_tokens",
        F.expr("CAST((n1 * 1000000) DIV n_tokens AS BIGINT)").alias(
            "p_unseen_micro"
        ),
    )


lm_good_turing.__doc__ = lm_good_turing.__doc__.format(m=_SGT_MAX_R)


_ZIPF_K = 100  # head ranks used for the log-log fit


_ZIPF_ORACLE = f"""
WITH toks AS (
  SELECT source,
         unnest(list_filter(string_split(text, ' '), w -> w <> '')) AS w
  FROM documents
),
uni AS (
  SELECT source, w, CAST(COUNT(*) AS BIGINT) AS c
  FROM toks GROUP BY 1, 2
),
rk AS (
  SELECT source, c,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY c DESC, w) AS r
  FROM uni
),
m AS (
  SELECT source,
         CAST(ROUND(ln(CAST(r AS DOUBLE)) * 1000000, 0) AS BIGINT) AS x,
         CAST(ROUND(ln(CAST(c AS DOUBLE)) * 1000000, 0) AS BIGINT) AS y
  FROM rk WHERE r <= {_ZIPF_K}
),
s AS (
  SELECT source,
         CAST(COUNT(*) AS BIGINT) AS k,
         CAST(SUM(x) AS BIGINT) AS sx,
         CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * y) AS BIGINT) AS sxy,
         CAST(SUM(x * x) AS BIGINT) AS sxx,
         CAST(SUM(y * y) AS BIGINT) AS syy
  FROM m GROUP BY source
)
SELECT source, k AS n_terms,
       ROUND((CAST(k AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
             / (CAST(k AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx), 6)
         + 0.0 AS zipf_slope,
       ROUND((CAST(sy AS DOUBLE) - ((CAST(k AS DOUBLE) * sxy
                - CAST(sx AS DOUBLE) * sy)
               / (CAST(k AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx))
              * sx) / k / 1000000.0, 6) + 0.0 AS intercept_nats,
       ROUND(POW(CAST(k AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy, 2)
             / ((CAST(k AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                * (CAST(k AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)),
             6) + 0.0 AS r2
FROM s
WHERE CAST(k AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx > 0
  AND CAST(k AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy > 0
"""


@query("text_zipf_fit", oracle=_ZIPF_ORACLE)
def text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit per source: OLS slope of ln(frequency) against
    ln(rank) over the top-{k} token ranks — natural text sits near
    slope −1, and a source that deviates hard (machine-generated
    boilerplate: too flat; key-value dumps: too steep) is the classic
    corpus-pathology screen run BEFORE tokenizer training (a skewed
    head distorts BPE merge order). Emits slope, intercept, and R² of
    the log-log fit.

    Determinism: ranks use the (count DESC, token) tiebreak; ln runs on
    exact-integer-valued doubles and is rounded ONCE per row to integer
    micros (the PSI single-rounding argument), after which ALL OLS
    moments are exact BIGINT sums — Σxy ≤ K·(ln K·10⁶)² ≈ 2e15 at
    K={k}, five orders inside BIGINT — and only the closed-form
    slope/intercept/R² drop to doubles.

    Scale shape: the corpus collapses to the unigram type table in one
    (source, w)-keyed shuffle (shared with the tokenizer/Good-Turing
    family); the rank window keys on source over the TYPE table (vocab-
    sized, not corpus-sized), the head filter keeps {k} rows per source,
    and the moment aggregation reuses the same source partitioning.
    Reference analog: frequencyAnalysis.py's frequency-table layer
    (frequencyAnalysis.py:31-35) fitted against its theoretical law.
    """
    d = load(spark, sf_dir, "documents")
    d = maybe_spread(d, sf_dir, "documents", "doc_id")
    toks = d.select(
        "source",
        F.explode(
            F.expr("filter(split(text, ' '), w -> w <> '')")
        ).alias("w"),
    )
    uni = toks.groupBy("source", "w").agg(
        F.count(F.lit(1)).alias("c")
    )
    w_rk = Window.partitionBy("source").orderBy(
        F.col("c").desc(), F.col("w")
    )
    m = (
        uni.withColumn("r", F.row_number().over(w_rk))
        .filter(F.col("r") <= _ZIPF_K)
        .select(
            "source",
            F.expr(
                "CAST(ROUND(ln(CAST(r AS DOUBLE)) * 1000000, 0)"
                " AS BIGINT)"
            ).alias("x"),
            F.expr(
                "CAST(ROUND(ln(CAST(c AS DOUBLE)) * 1000000, 0)"
                " AS BIGINT)"
            ).alias("y"),
        )
    )
    s = m.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.expr("x * y")).alias("sxy"),
        F.sum(F.expr("x * x")).alias("sxx"),
        F.sum(F.expr("y * y")).alias("syy"),
    )
    slope_num = "CAST(k AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy"
    varx = "CAST(k AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx"
    vary = "CAST(k AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy"
    return s.filter(F.expr(f"{varx} > 0 AND {vary} > 0")).select(
        "source",
        F.col("k").alias("n_terms"),
        F.expr(f"ROUND(({slope_num}) / ({varx}), 6) + 0.0").alias(
            "zipf_slope"
        ),
        F.expr(
            f"ROUND((CAST(sy AS DOUBLE) - (({slope_num}) / ({varx}))"
            " * sx) / k / 1000000.0, 6) + 0.0"
        ).alias("intercept_nats"),
        F.expr(
            f"ROUND(POW({slope_num}, 2) / (({varx}) * ({vary})), 6)"
            " + 0.0"
        ).alias("r2"),
    )


_NOVEL_ORACLE = """
WITH base AS (
  SELECT doc_id,
         list_filter(string_split(text, ' '), w -> w <> '') AS toks
  FROM documents
),
grams AS (
  SELECT DISTINCT doc_id,
         CAST(('0x' || substring(md5(g), 1, 15)) AS BIGINT) AS gd
  FROM (
    SELECT doc_id,
           unnest(list_transform(range(1, len(toks) - 1),
             i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS g
    FROM base WHERE len(toks) >= 3
  )
),
firstdoc AS (
  SELECT doc_id, gd,
         MIN(doc_id) OVER (PARTITION BY gd) AS fd
  FROM grams
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_grams,
       CAST(SUM(CASE WHEN fd = doc_id THEN 1 ELSE 0 END) AS BIGINT)
         AS n_novel,
       CAST((SUM(CASE WHEN fd = doc_id THEN 1 ELSE 0 END) * 1000000)
            // COUNT(*) AS BIGINT) AS novelty_micro
FROM firstdoc GROUP BY doc_id
"""


@query("text_ngram_novelty", oracle=_NOVEL_ORACLE)
def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram novelty against everything BEFORE it in
    corpus order: the share of a document's distinct word-3-grams whose
    FIRST corpus occurrence is this document — the streaming-ingest
    freshness signal (a near-zero novelty doc is boilerplate or a
    near-dup; contrast dedup_minhash_lsh which asks the pairwise
    question, this asks the longitudinal one, cf. the memorization /
    train-set-overlap analyses of Lee et al. 2022).

    Shuffle discipline: grams leave the scan as 60-bit md5 DIGESTS, so
    both wide stages move (doc_id, int64) pairs, never text (the dedup
    module's signature rule). Three linear stages: distinct (doc, gram)
    pairs; first-occurrence via a gram-keyed window min (attribution
    rides the same exchange); per-doc rollup keyed on doc_id. ~60-bit
    digests make cross-doc collisions negligible (~n²/2⁶⁰) and, being
    md5-derived, IDENTICAL on both engines (the module-standard
    md5-conv device).

    Corpus order = doc_id (ingest sequence in this schema); at 100 TB
    the same plan runs with the ledger's monotone batch ids as the
    order key. Reference analog: frequencyAnalysis.py's first-seen
    variant accounting (frequencyAnalysis.py:31-35) lifted to n-grams.
    """
    d = load(spark, sf_dir, "documents")
    d = maybe_spread(d, sf_dir, "documents", "doc_id")
    base = d.select(
        "doc_id",
        F.expr("filter(split(text, ' '), w -> w <> '')").alias("toks"),
    ).filter(F.expr("size(toks) >= 3"))
    grams = base.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(toks) - 2),"
                " i -> concat_ws(' ', slice(toks, i, 3)))"
            )
        ).alias("g"),
    ).select(
        "doc_id",
        F.expr(
            "CAST(conv(substring(md5(g), 1, 15), 16, 10) AS BIGINT)"
        ).alias("gd"),
    )
    pairs = grams.groupBy("doc_id", "gd").agg(F.lit(1).alias("_one"))
    fd = pairs.select(
        "doc_id",
        "gd",
        F.min("doc_id").over(Window.partitionBy("gd")).alias("fd"),
    )
    return fd.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_grams"),
        F.sum(F.when(F.col("fd") == F.col("doc_id"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_novel"),
        F.expr(
            "CAST((SUM(CASE WHEN fd = doc_id THEN 1 ELSE 0 END)"
            " * 1000000) DIV COUNT(*) AS BIGINT)"
        ).alias("novelty_micro"),
    )


def _zlib_ratio_batches(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """Arrow-batched zlib probe: level 6, raw UTF-8 bytes. Emits exact
    integer byte counts; the ratio is quantized to micros here (one
    rounding site) so downstream filters compare integers."""
    import zlib

    for pdf in batches:
        raw = pdf["text"].fillna("").str.encode("utf-8")
        n_raw = raw.str.len().astype("int64")
        n_comp = raw.map(
            lambda b: len(zlib.compress(b, 6))
        ).astype("int64")
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"].astype("int64"),
                "n_bytes": n_raw,
                "n_compressed": n_comp,
                "ratio_micro": (
                    n_comp * 1000000 // n_raw.clip(lower=1)
                ).astype("int64"),
            }
        )


@query("quality_compression_ratio")
def quality_compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """zlib compression ratio per document — the Gopher / RefinedWeb
    quality rule the heuristic proxies (entropy_filter,
    text_bigram_diversity) approximate: highly compressible text
    (ratio → 0) is repetitive boilerplate, incompressible text
    (ratio → 1) is noise/binary-in-text; natural prose sits in a band.
    Kept as REAL compression (DEFLATE level 6 over raw UTF-8), because
    the band thresholds in the literature are calibrated against actual
    deflate output, not entropy proxies.

    Execution: mapInPandas — Arrow batches in, vectorized pandas string
    ops + per-doc zlib calls, exact integer byte counts out; the only
    Python in the plan is the codec itself (allowlisted, the text_langid
    pattern). Embarrassingly parallel, zero shuffle, scales with scan
    partitions. No SQL oracle exists for DEFLATE, so this op is
    rows-only at the driver; tests/test_zlib_ratio.py pins exact byte
    counts against direct zlib calls instead (the compression is
    deterministic for a fixed level + library, both pinned in this
    container). Reference analog: the reference's QC filter layer
    (frequencyAnalysis.py:31-35) upgraded to codec-grade repetition
    detection.
    """
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    return docs.mapInPandas(
        _zlib_ratio_batches,
        schema=(
            "doc_id long, n_bytes long, n_compressed long,"
            " ratio_micro long"
        ),
    )

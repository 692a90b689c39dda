"""Text-analysis operators for the LLM-data pipeline (SURVEY.md §2.3):
tokenization, quality scoring, language ID, fingerprinting, token counting.

All pure Catalyst column expressions — no Python in the hot path — so they
whole-stage-codegen and scale linearly with one scan and one (optional)
aggregate shuffle. Ratios are integer-ratio doubles (deterministic) and
hashes are md5 (identical across engines).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from big_data_medical_analysis_spark.operators.common import (
    checkpoint_pinned,
    fan_out,
    md5_int,
)
from big_data_medical_analysis_spark.registry import register
from big_data_medical_analysis_spark.sources.readers import read_table

# ---------------------------------------------------------------------------
# Token statistics
# ---------------------------------------------------------------------------

_TOKEN_STATS_SQL = """
SELECT
  lang,
  count(*) AS n_docs,
  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
  round(CAST(sum(len(string_split(text, ' '))) AS DOUBLE) / count(*), 6)
    AS avg_tokens,
  CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM documents
GROUP BY lang
"""


@register("doc_token_stats", oracle=_TOKEN_STATS_SQL, category="text")
def doc_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace token counting + per-language corpus statistics."""
    docs = read_table(spark, sf_dir, "documents")
    n_tokens = F.size(F.split("text", " "))
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(n_tokens).alias("total_tokens"),
        F.round(F.sum(n_tokens).cast("double") / F.count(F.lit(1)), 6).alias(
            "avg_tokens"
        ),
        F.sum("n_chars").alias("total_chars"),
    )


_QUALITY_SQL = """
SELECT
  doc_id,
  len(string_split(text, ' ')) AS n_tokens,
  length(text) AS text_len,
  round(CAST(length(text) - len(string_split(text, ' ')) + 1 AS DOUBLE)
        / len(string_split(text, ' ')), 6) AS avg_token_len,
  round(CAST(len(list_filter(string_split(text, ' '),
        t -> list_contains(['the','a','and','of','to','in','is'], t))) AS DOUBLE)
        / len(string_split(text, ' ')), 6) AS stopword_ratio,
  len(string_split(text, ' ')) >= 20 AS long_enough,
  CAST(length(text) - length(replace(text, ' ', '')) AS BIGINT) AS n_spaces
FROM documents
"""


@register("doc_quality_scores", oracle=_QUALITY_SQL, category="text")
def doc_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-scoring features per document: token count, mean token length,
    stopword ratio, length gate — the standard pre-training corpus filters,
    as pure expressions (a 100 TB scan with zero shuffle)."""
    docs = read_table(spark, sf_dir, "documents")
    tokens = F.split("text", " ")
    n_tokens = F.size(tokens)
    stopwords = F.array(*[F.lit(w) for w in ["the", "a", "and", "of", "to", "in", "is"]])
    n_stop = F.size(F.filter(tokens, lambda t: F.array_contains(stopwords, t)))
    return docs.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        F.length("text").alias("text_len"),
        F.round(
            (F.length("text") - n_tokens + 1).cast("double") / n_tokens, 6
        ).alias("avg_token_len"),
        F.round(n_stop.cast("double") / n_tokens, 6).alias("stopword_ratio"),
        (n_tokens >= 20).alias("long_enough"),
        (F.length("text") - F.length(F.replace("text", F.lit(" ")))).alias(
            "n_spaces"
        ),
    )


# ---------------------------------------------------------------------------
# Language identification (n-gram/stopword heuristic)
# ---------------------------------------------------------------------------

_LANG_MARKERS: dict[str, list[str]] = {
    # Deterministic marker-token dictionaries; the corpus is synthetic, so
    # the point is engine-parity of the scoring pipeline, not linguistics.
    "en": ["the", "a", "and", "of", "to"],
    "de": ["der", "die", "das", "und", "zu"],
    "es": ["el", "la", "de", "y", "que"],
    "fr": ["le", "les", "et", "une", "dans"],
    "zh": ["de5", "shi4", "bu4", "le5", "wo3"],
}

_LANGS = list(_LANG_MARKERS)


def _lang_score_sql(lang: str) -> str:
    toks = ", ".join(f"'{t}'" for t in _LANG_MARKERS[lang])
    return (
        f"len(list_filter(string_split(text, ' '), "
        f"t -> list_contains([{toks}], t)))"
    )


_LANG_ID_SQL = (
    "SELECT doc_id, lang, "
    + ", ".join(f"{_lang_score_sql(lg)} AS score_{lg}" for lg in _LANGS)
    + ", CASE "
    + " ".join(
        f"WHEN score_{lg} = greatest({', '.join('score_' + x for x in _LANGS)}) "
        f"THEN '{lg}'"
        for lg in _LANGS
    )
    + " END AS predicted_lang FROM documents"
)


@register("language_id_markers", oracle=_LANG_ID_SQL, category="text")
def language_id_markers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language ID: marker-token hit counts per language, argmax
    with a fixed tie-break order (first language in declaration order wins,
    mirroring the SQL CASE chain)."""
    docs = read_table(spark, sf_dir, "documents")
    tokens = F.split("text", " ")

    def _score(lg: str):
        # The marker array is hoisted out of the lambda: PySpark inspects the
        # lambda's arity, so it must take exactly one parameter (a default
        # `lg=lg` parameter would be bound to the element-index Column).
        markers = F.array(*[F.lit(w) for w in _LANG_MARKERS[lg]])
        return F.size(
            F.filter(tokens, lambda t: F.array_contains(markers, t))
        ).alias(f"score_{lg}")

    scored = docs.select("doc_id", "lang", *[_score(lg) for lg in _LANGS])
    best = F.greatest(*[F.col(f"score_{lg}") for lg in _LANGS])
    pred = F.when(F.col(f"score_{_LANGS[0]}") == best, F.lit(_LANGS[0]))
    for lg in _LANGS[1:]:
        pred = pred.when(F.col(f"score_{lg}") == best, F.lit(lg))
    return scored.withColumn("predicted_lang", pred)


# ---------------------------------------------------------------------------
# Fingerprinting
# ---------------------------------------------------------------------------

_FINGERPRINT_SQL = """
SELECT
  doc_id,
  md5(text) AS fingerprint,
  md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS normalized_fp,
  substr(md5(text), 1, 8) AS shard_prefix
FROM documents
"""


@register("doc_fingerprints", oracle=_FINGERPRINT_SQL, category="text")
def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content fingerprints: raw md5 + whitespace/case-normalized md5 —
    md5 is bit-identical across engines, so fingerprints are portable keys
    for cross-system dedup."""
    docs = read_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.md5("text").alias("fingerprint"),
        F.md5(F.lower(F.trim(F.regexp_replace("text", r"\s+", " ")))).alias(
            "normalized_fp"
        ),
        F.substring(F.md5("text"), 1, 8).alias("shard_prefix"),
    )


# ---------------------------------------------------------------------------
# Regex token counting (BPE-ish pre-tokenizer)
# ---------------------------------------------------------------------------

_REGEX_TOKENS_SQL = """
SELECT
  doc_id,
  len(regexp_extract_all(text, '[a-z]+')) AS n_word_tokens,
  len(regexp_extract_all(text, '[0-9]+')) AS n_number_tokens,
  len(regexp_extract_all(text, '[a-z]{4,}')) AS n_long_words
FROM documents
"""


@register("regex_token_counts", oracle=_REGEX_TOKENS_SQL, category="text")
def regex_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex-class token counting (a BPE-style pre-tokenizer's split rule) —
    ``regexp_count`` stays in codegen; patterns restricted to constructs with
    identical semantics in Java regex and RE2."""
    docs = read_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.regexp_count("text", F.lit("[a-z]+")).alias("n_word_tokens"),
        F.regexp_count("text", F.lit("[0-9]+")).alias("n_number_tokens"),
        F.regexp_count("text", F.lit("[a-z]{4,}")).alias("n_long_words"),
    )


# ---------------------------------------------------------------------------
# n-grams and TF-IDF
# ---------------------------------------------------------------------------

MIN_BIGRAM_N = 20

_NGRAM_SQL = f"""
SELECT lang, bigram, count(*) AS n
FROM (
  SELECT lang,
         unnest(list_transform(
           range(1, greatest(len(string_split(text, ' ')), 1)),
           i -> concat_ws(' ', string_split(text, ' ')[i],
                          string_split(text, ' ')[i+1]))) AS bigram
  FROM documents
)
GROUP BY lang, bigram
HAVING count(*) >= {MIN_BIGRAM_N}
"""


@register("ngram_stats", oracle=_NGRAM_SQL, category="text")
def ngram_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-bigram frequency per language (n-grams built with array HOFs —
    sequence + transform — not the quadratic explode-join): one generate +
    one aggregate shuffle, with the HAVING floor keeping output bounded
    regardless of corpus size."""
    # Round 16: the single-file documents scan ran the tokenize + bigram
    # HOF build on 3 scan tasks (2 jobs / 3 tasks, 2.5s); the keyless
    # fan_out spreads the CPU-heavy generate stage across the session's
    # parallelism ahead of the partial aggregate (guide §2.6 idle
    # capacity; the exchange moves ~600 KB of (lang, text)).
    docs = fan_out(read_table(spark, sf_dir, "documents").select("lang", "text"))
    toks = F.split("text", " ")
    bigrams = F.when(
        F.size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - 2),
            lambda i: F.concat_ws(
                " ", F.element_at(toks, i + 1), F.element_at(toks, i + 2)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        docs.select("lang", F.explode(bigrams).alias("bigram"))
        .groupBy("lang", "bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= MIN_BIGRAM_N)
    )


N_TFIDF_DOCS = 50
TFIDF_TOP_K = 3

_TFIDF_SQL = f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term
  FROM documents
), tf AS (
  SELECT doc_id, term, count(*) AS tf
  FROM toks GROUP BY doc_id, term
), df AS (
  SELECT term, count(DISTINCT doc_id) AS df
  FROM toks GROUP BY term
), n AS (
  SELECT count(*) AS n_docs FROM documents
), scored AS (
  SELECT tf.doc_id, tf.term,
         round(tf.tf * (ln((n.n_docs + 1.0) / (df.df + 1.0)) + 1.0), 6)
           AS tfidf
  FROM tf JOIN df USING (term) CROSS JOIN n
  WHERE tf.doc_id < {N_TFIDF_DOCS}
)
SELECT doc_id, term, tfidf, CAST(rnk AS INTEGER) AS rnk
FROM (
  SELECT *, row_number() OVER (
           PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rnk
  FROM scored
)
WHERE rnk <= {TFIDF_TOP_K}
"""


@register("tfidf_top_terms", oracle=_TFIDF_SQL, category="text")
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact TF-IDF (smoothed idf = ln((N+1)/(df+1))+1), top-{TFIDF_TOP_K}
    terms per probe document with deterministic (score, term) tie-break.

    Plan: one explode feeding two aggregations (per-doc tf, corpus df); the
    df side is re-joined by term. At 100 TB the df table is millions of
    terms — small enough to broadcast, which Spark chooses via AQE; the
    probe filter prunes the tf side before the join. The HashingTF/IDF
    estimator pair (engine-hashed, oracle-free) is exercised by
    dedup.minhash_candidate_pairs.
    """
    docs = read_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    )
    tf = (
        toks.filter(F.col("doc_id") < N_TFIDF_DOCS)
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_t = toks.groupBy("term").agg(
        F.count_distinct("doc_id").alias("df")
    )
    # Corpus size N stays in-plan: a 1-row aggregate broadcast-cross-joined
    # into the scored side. No driver-side action at plan-build time — the
    # whole query is lazy, and the extra scan Catalyst plans for the count
    # is column-pruned to a count(*) over parquet row-group metadata.
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(df_t, "term")
        .join(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            F.round(
                F.col("tf")
                * (
                    F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0))
                    + 1.0
                ),
                6,
            ).alias("tfidf"),
        )
    )
    w = W.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TFIDF_TOP_K)
        .select("doc_id", "term", "tfidf", "rnk")
    )


# ---------------------------------------------------------------------------
# Document chunking (training-data windowing)
# ---------------------------------------------------------------------------

CHUNK_SIZE = 32
CHUNK_STRIDE = 24

_CHUNK_SQL = f"""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
),
n AS (SELECT doc_id, toks, len(toks) AS n_tokens FROM t),
c AS (
  SELECT doc_id, toks,
         unnest(generate_series(
           0, CAST(floor((n_tokens - 1) / {CHUNK_STRIDE}) AS INTEGER))) AS i
  FROM n
)
SELECT
  doc_id,
  CAST(i AS INTEGER) AS chunk_id,
  CAST(len(toks[i * {CHUNK_STRIDE} + 1 : i * {CHUNK_STRIDE} + {CHUNK_SIZE}])
       AS INTEGER) AS chunk_tokens,
  array_to_string(
    toks[i * {CHUNK_STRIDE} + 1 : i * {CHUNK_STRIDE} + {CHUNK_SIZE}], ' ')
    AS chunk_text
FROM c
"""


@register("doc_chunk_windows", oracle=_CHUNK_SQL, category="text")
def doc_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking — the standard LLM-training prep
    step that slices each document into overlapping token windows
    (CHUNK_SIZE tokens every CHUNK_STRIDE). A window starts at every stride
    offset that still lies inside the document, so the final window may be
    short and text shorter than one window yields exactly one chunk.

    Scale: chunking is explode fan-out — one scan, per-row work linear in
    document length, zero shuffles; the chunk rows inherit the scan's
    partitioning, so a downstream repartition is only needed if chunk
    consumers want a different key. The token array is materialized once
    per document (single projection), not once per chunk.
    """
    docs = read_table(spark, sf_dir, "documents")
    with_toks = docs.select(
        "doc_id",
        F.split("text", " ").alias("toks"),
        F.size(F.split("text", " ")).alias("n_tokens"),
    )
    exploded = with_toks.select(
        "doc_id",
        "toks",
        F.explode(
            F.sequence(
                F.lit(0),
                F.floor((F.col("n_tokens") - 1) / F.lit(CHUNK_STRIDE)).cast(
                    "int"
                ),
            )
        ).alias("i"),
    )
    chunk = F.slice(
        F.col("toks"), F.col("i") * CHUNK_STRIDE + 1, CHUNK_SIZE
    )
    return exploded.select(
        "doc_id",
        F.col("i").cast("integer").alias("chunk_id"),
        F.size(chunk).cast("integer").alias("chunk_tokens"),
        F.array_join(chunk, " ").alias("chunk_text"),
    )


# ---------------------------------------------------------------------------
# Repetition signals (Gopher-style quality gates)
# ---------------------------------------------------------------------------

_REPETITION_SQL = """
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
),
uni AS (SELECT doc_id, unnest(toks) AS term FROM t),
uc AS (SELECT doc_id, term, count(*) AS c FROM uni GROUP BY 1, 2),
us AS (
  SELECT doc_id,
         CAST(sum(c) AS BIGINT) AS n_tokens,
         CAST(max(c) AS BIGINT) AS top_term,
         CAST(count(*) AS BIGINT) AS n_distinct
  FROM uc GROUP BY 1
),
bg AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, len(toks) - 1),
                               i -> toks[i] || ' ' || toks[i + 1])) AS gram
  FROM t
),
bc AS (SELECT doc_id, gram, count(*) AS c FROM bg GROUP BY 1, 2),
bs AS (
  SELECT doc_id,
         CAST(max(c) AS BIGINT) AS top_bigram,
         CAST(sum(c) AS BIGINT) AS n_bigrams
  FROM bc GROUP BY 1
)
SELECT us.doc_id,
       n_tokens,
       round(CAST(top_term AS DOUBLE) / n_tokens, 6) AS top_term_fraction,
       round(CAST(n_distinct AS DOUBLE) / n_tokens, 6) AS distinct_fraction,
       round(CAST(top_bigram AS DOUBLE) / n_bigrams, 6)
         AS top_bigram_fraction
FROM us JOIN bs ON us.doc_id = bs.doc_id
"""


@register("doc_repetition_signals", oracle=_REPETITION_SQL, category="text")
def doc_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition-based quality signals — the published large-corpus gates
    (most-common-word fraction, distinct-token fraction, most-common-
    2-gram fraction) that catch boilerplate and degenerate repetition
    which length/stopword heuristics (doc_quality_scores) miss. A real
    curation pipeline thresholds these per the Gopher/MassiveText rules;
    here the raw fractions are emitted and value-checked.

    Scale: two explode→count aggregates keyed by (doc_id, gram) — shuffle
    volume is the token stream, the canonical cost of n-gram statistics;
    both aggregates are map-side combinable, and the final join is
    per-doc-row sized. Docs shorter than 2 tokens would drop at the
    bigram join; the corpus minimum is ~8 tokens (TESTDATA) and a
    production gate would pre-filter shorter docs anyway.
    """
    docs = read_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    base = docs.select("doc_id", toks.alias("toks"))
    uc = (
        base.select("doc_id", F.explode("toks").alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    us = uc.groupBy("doc_id").agg(
        F.sum("c").alias("n_tokens"),
        F.max("c").alias("top_term"),
        F.count(F.lit(1)).alias("n_distinct"),
    )
    # guarded for 1-token docs: sequence(1, 0) is DESCENDING in Spark, so
    # the unguarded transform would call element_at(toks, 0) (runtime
    # error); such docs have zero bigrams and drop at the join, which is
    # the documented semantics
    bigram_list = F.when(
        F.size("toks") >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size("toks") - 1),
            lambda i: F.concat_ws(
                " ",
                F.element_at(F.col("toks"), i),
                F.element_at(F.col("toks"), i + 1),
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    grams = base.select("doc_id", F.explode(bigram_list).alias("gram"))
    bc = grams.groupBy("doc_id", "gram").agg(F.count(F.lit(1)).alias("c"))
    bs = bc.groupBy("doc_id").agg(
        F.max("c").alias("top_bigram"), F.sum("c").alias("n_bigrams")
    )
    return us.join(bs, "doc_id").select(
        "doc_id",
        "n_tokens",
        F.round(F.col("top_term").cast("double") / F.col("n_tokens"), 6).alias(
            "top_term_fraction"
        ),
        F.round(
            F.col("n_distinct").cast("double") / F.col("n_tokens"), 6
        ).alias("distinct_fraction"),
        F.round(
            F.col("top_bigram").cast("double") / F.col("n_bigrams"), 6
        ).alias("top_bigram_fraction"),
    )


# ---------------------------------------------------------------------------
# Span-level exact dedup with text reassembly (C4-style, round 6)
# ---------------------------------------------------------------------------

SPAN_TOKENS = 10

_SPAN_DEDUP_SQL = f"""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
),
sp AS (
  SELECT t.doc_id, g.i,
         array_to_string(
           t.toks[g.i * {SPAN_TOKENS} + 1 : g.i * {SPAN_TOKENS} + {SPAN_TOKENS}],
           ' ') AS span_text
  FROM t, LATERAL (
    SELECT unnest(range(0,
      CAST(floor((len(t.toks) - 1) / {SPAN_TOKENS}) AS BIGINT) + 1)) AS i
  ) g
),
ranked AS (
  SELECT doc_id, i, span_text,
         row_number() OVER (PARTITION BY span_text ORDER BY doc_id, i) AS rnk
  FROM sp
),
per_doc AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans FROM sp GROUP BY doc_id
),
kept AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
         string_agg(span_text, ' ' ORDER BY i) AS clean_text
  FROM ranked WHERE rnk = 1 GROUP BY doc_id
)
SELECT p.doc_id, p.n_spans,
       CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_kept,
       coalesce(k.clean_text, '') AS clean_text
FROM per_doc p LEFT JOIN kept k ON p.doc_id = k.doc_id
"""


@register("span_dedup_texts", oracle=_SPAN_DEDUP_SQL, category="dedup")
def span_dedup_texts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact SPAN-level dedup with document reassembly — the C4-style
    cleanup tier between whole-document dedup (docs_exact_dedup) and
    near-dup detection: every {SPAN_TOKENS}-token span that appears
    anywhere earlier in the corpus (global first-occurrence order:
    (doc_id, span index)) is REMOVED, and each document is re-joined from
    its surviving spans. Whole-doc dedup misses boilerplate repeated
    inside otherwise-distinct documents; this pass cuts it.

    Scale: span fan-out is explode (zero shuffle); the keeper decision is
    one window over span identity — here the raw span text, which at
    100 TB you'd replace with its md5/xxhash to shuffle 16-byte keys
    instead of strings (the oracle pins VALUES, so either key works);
    reassembly is one groupBy(doc_id) of the kept spans. Two shuffles
    total, both on natural keys.
    """
    docs = read_table(spark, sf_dir, "documents")
    with_toks = docs.select(
        "doc_id",
        F.split("text", " ").alias("toks"),
        F.size(F.split("text", " ")).alias("n_tokens"),
    )
    sp = with_toks.select(
        "doc_id",
        F.explode(
            F.sequence(
                F.lit(0),
                F.floor((F.col("n_tokens") - 1) / F.lit(SPAN_TOKENS)).cast(
                    "int"
                ),
            )
        ).alias("i"),
        "toks",
    ).select(
        "doc_id",
        "i",
        F.array_join(
            F.slice(F.col("toks"), F.col("i") * SPAN_TOKENS + 1, SPAN_TOKENS),
            " ",
        ).alias("span_text"),
    )
    w = W.partitionBy("span_text").orderBy("doc_id", "i")
    ranked = sp.withColumn("rnk", F.row_number().over(w))
    per_doc = sp.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_spans"))
    kept = (
        ranked.filter(F.col("rnk") == 1)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("k_n"),
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("i", "span_text"))
                    ),
                    lambda s: s.span_text,
                ),
            ).alias("k_text"),
        )
    )
    return per_doc.join(kept, "doc_id", "left").select(
        "doc_id",
        "n_spans",
        F.coalesce(F.col("k_n"), F.lit(0)).cast("long").alias("n_kept"),
        F.coalesce(F.col("k_text"), F.lit("")).alias("clean_text"),
    )


# ---------------------------------------------------------------------------
# Training-sequence packing manifest (round 6)
# ---------------------------------------------------------------------------

SEQ_LEN = 256
PACK_SHARDS = 16

_PACK_SQL = f"""
WITH d AS (
  SELECT doc_id,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
              AS BIGINT) % {PACK_SHARDS} AS shard
  FROM documents
),
c AS (
  SELECT doc_id, shard, n_tokens,
         CAST(sum(n_tokens) OVER (
           PARTITION BY shard ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS BIGINT) - n_tokens AS prefix
  FROM d
)
SELECT shard,
       prefix // {SEQ_LEN} AS bin,
       count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS bin_tokens,
       min(doc_id) AS first_doc,
       max(doc_id) AS last_doc
FROM c
GROUP BY 1, 2
"""


@register("token_pack_bins", oracle=_PACK_SQL, category="text")
def token_pack_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-sequence packing manifest (GPT-style sample packing): docs
    are dealt into portable md5 shards, concatenated in doc_id order
    within each shard, and cut into SEQ_LEN-token training sequences —
    each doc's BIN is its exclusive prefix-sum of tokens DIV SEQ_LEN
    (documents may straddle a boundary, exactly like packed-pretraining
    token streams). Output: the per-(shard, bin) manifest a packing
    writer consumes.

    Scale: a GLOBAL packing order would serialize the corpus through one
    task; sharding bounds every window to 1/N of the data (the same
    argument as seeded_shuffle_batches) and the bin arithmetic is exact
    int64 on a portable hash, so any engine — or a restarted job —
    reproduces the identical manifest. One shuffle (shard), one ordered
    pass, one aggregate.
    """
    docs = read_table(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id",
        F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
        F.pmod(
            md5_int(F.col("doc_id").cast("string")), F.lit(PACK_SHARDS)
        ).alias("shard"),
    )
    w = (
        W.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    c = d.withColumn(
        "prefix", (F.sum("n_tokens").over(w) - F.col("n_tokens")).cast("long")
    )
    return c.groupBy(
        "shard", F.expr(f"prefix DIV {SEQ_LEN}").alias("bin")
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("bin_tokens"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


# ---------------------------------------------------------------------------
# PII scrubbing (round 6)
# ---------------------------------------------------------------------------

# Patterns restricted to syntax RE2 (DuckDB) and java.util.regex (Spark)
# interpret identically: character classes, +, {2,}, alternation — no
# backrefs, no lookaround.
PII_EMAIL_RE = "[a-z0-9._%+-]+@[a-z0-9.-]+[.][a-z]{2,}"
PII_URL_RE = "https?://[^ ]+"

_PII_SQL = f"""
WITH injected AS (
  SELECT source,
         concat(text, ' user', CAST(doc_id AS VARCHAR),
                '@example.com visit http://s', CAST(doc_id % 7 AS VARCHAR),
                '.example/p', CAST(doc_id AS VARCHAR), ' end') AS t
  FROM documents
),
scrubbed AS (
  SELECT source, t,
         regexp_replace(
           regexp_replace(t, '{PII_EMAIL_RE}', '<EMAIL>', 'g'),
           '{PII_URL_RE}', '<URL>', 'g') AS clean,
         len(regexp_extract_all(t, '{PII_EMAIL_RE}')) AS n_email,
         len(regexp_extract_all(t, '{PII_URL_RE}')) AS n_url
  FROM injected
)
SELECT source,
       count(*) AS n_docs,
       CAST(sum(n_email) AS BIGINT) AS emails_found,
       CAST(sum(n_url) AS BIGINT) AS urls_found,
       CAST(count_if(clean LIKE '%@%') AS BIGINT) AS docs_with_residual_at,
       CAST(sum(CAST(len(t) AS BIGINT) - CAST(len(clean) AS BIGINT))
            AS BIGINT) AS chars_removed
FROM scrubbed
GROUP BY source
"""


@register("pii_scrub_stats", oracle=_PII_SQL, category="text")
def pii_scrub_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing pass — the redaction tier of a pretraining pipeline:
    regex-redact emails and URLs to placeholder tokens and report per-source
    removal accounting (finds, residual '@' docs — provably zero —, chars
    removed). The corpus is synthetic word-soup with no real PII, so each
    document is INJECTED with one deterministic email + URL in-query; the
    injection is part of both sides, and what the driver hash pins is the
    scrub kernel: pattern semantics, replace-all behavior, and counts.

    Patterns stay inside the RE2 ∩ java.util.regex common subset (no
    backrefs/lookaround) — the same constraint a cross-engine production
    scrubber has. Scale: pure row-local regex in codegen, one aggregate
    shuffle on source; regex cost is linear per row and the scan prunes to
    (doc_id, source, text).
    """
    docs = read_table(spark, sf_dir, "documents")
    t = F.concat(
        F.col("text"),
        F.lit(" user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com visit http://s"),
        (F.col("doc_id") % 7).cast("string"),
        F.lit(".example/p"),
        F.col("doc_id").cast("string"),
        F.lit(" end"),
    )
    inj = docs.select("source", t.alias("t"))
    clean = F.regexp_replace(
        F.regexp_replace(F.col("t"), PII_EMAIL_RE, "<EMAIL>"),
        PII_URL_RE,
        "<URL>",
    )
    scrubbed = inj.select(
        "source",
        "t",
        clean.alias("clean"),
        F.regexp_count("t", F.lit(PII_EMAIL_RE)).alias("n_email"),
        F.regexp_count("t", F.lit(PII_URL_RE)).alias("n_url"),
    )
    return scrubbed.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_email").cast("long").alias("emails_found"),
        F.sum("n_url").cast("long").alias("urls_found"),
        F.count_if(F.col("clean").like("%@%")).alias("docs_with_residual_at"),
        F.sum(
            F.length("t").cast("long") - F.length("clean").cast("long")
        ).cast("long").alias("chars_removed"),
    )


# ---------------------------------------------------------------------------
# Null-preserving generator (explode_outer) semantics pin (round 6)
# ---------------------------------------------------------------------------

_EXPLODE_OUTER_SQL = """
WITH d AS (
  SELECT doc_id,
         list_filter(string_split(text, ' '), t -> t LIKE 'q%') AS qtoks
  FROM documents WHERE doc_id < 300
)
SELECT d.doc_id, u.tok
FROM d LEFT JOIN LATERAL (SELECT unnest(d.qtoks) AS tok) u ON TRUE
"""


@register("explode_outer_q_tokens", oracle=_EXPLODE_OUTER_SQL, category="text")
def explode_outer_q_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-preserving generator semantics (``explode_outer`` ≡ SQL
    LATERAL VIEW OUTER): documents whose filtered token array is EMPTY
    survive as one (doc_id, NULL) row instead of vanishing — the
    difference between "fan out what exists" (plain explode, which
    silently drops empty parents) and "fan out but keep every parent".
    The 'q%' token filter is deliberately rare so both branches occur.
    A silent regression to inner explode changes the row count; the
    oracle's LEFT JOIN LATERAL unnest pins it.

    Scale: explode_outer is the same zero-shuffle generator as explode;
    the probe filter bounds output and pushes to the scan.
    """
    docs = read_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    qtoks = F.filter(
        F.split("text", " "), lambda t: t.startswith("q")
    )
    return docs.select(
        "doc_id", F.explode_outer(qtoks).alias("tok")
    )


# ---------------------------------------------------------------------------
# Inverted posting-list index (round 7)
# ---------------------------------------------------------------------------

# Postings render as a comma-joined NUMERICALLY sorted id string — both the
# deterministic rendering the driver's pandas canonicalization needs (it
# cannot sort array cells) and the on-disk shape a search index shard uses.
_POSTING_SQL = """
WITH tok AS (
  SELECT DISTINCT doc_id, tok
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
),
g AS (
  SELECT tok, count(*) AS df,
         string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS postings
  FROM tok GROUP BY tok
)
SELECT tok, CAST(df AS BIGINT) AS df, postings
FROM g WHERE df * 5 >= (SELECT count(*) FROM documents)
"""

_POSTING_SPARK = """
WITH tok AS (
  SELECT DISTINCT doc_id, tok
  FROM (SELECT doc_id, explode(split(text, ' ')) AS tok FROM documents)
),
g AS (
  SELECT tok, count(*) AS df,
         array_join(transform(array_sort(collect_list(doc_id)),
                              x -> CAST(x AS STRING)), ',') AS postings
  FROM tok GROUP BY tok
)
SELECT tok, CAST(df AS BIGINT) AS df, postings
FROM g WHERE df * 5 >= (SELECT count(*) FROM documents)
"""


@register("posting_list_index", oracle=_POSTING_SQL, category="text")
def posting_list_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index construction: token → (document frequency, sorted
    posting list) for every term appearing in ≥20% of the corpus — the
    build step of a distributed search/retrieval index, and the missing
    member of the text pillar (tf-idf consumes an index; this MAKES one).
    The df threshold is a scalar subquery, so the cut scales with the
    corpus instead of hard-coding a count.

    Scale: explode → distinct (one shuffle on (token, doc)) → per-token
    aggregate (second shuffle on token). The posting list is the classic
    skew point — a stop-word's list is corpus-sized — which the df≥20%
    threshold here embraces deliberately (common terms are the interesting
    rows); a production index would SHARD each hot term's postings by
    doc-id range (doc_chunk_windows shows the pattern) rather than emit
    one row. The threshold knob is the disclosed trade-off.
    """
    read_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(_POSTING_SPARK)


# ---------------------------------------------------------------------------
# Lexical diversity: type-token ratio + Simpson index (round 7)
# ---------------------------------------------------------------------------

# Dialect-shared arithmetic once each engine's tokenizer spelling produced
# identical (doc, token, count) triples: exact integer sums, one double
# formula per doc.
_DIVERSITY_SQL = """
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
),
c AS (
  SELECT doc_id, tok, count(*) AS c FROM tok GROUP BY doc_id, tok
)
SELECT doc_id,
       CAST(sum(c) AS BIGINT) AS n_tokens,
       CAST(count(*) AS BIGINT) AS n_types,
       round(CAST(count(*) AS DOUBLE) / CAST(sum(c) AS DOUBLE), 6) AS ttr,
       CASE WHEN sum(c) > 1 THEN
         round(CAST(sum(c * (c - 1)) AS DOUBLE)
               / (CAST(sum(c) AS DOUBLE) * (CAST(sum(c) AS DOUBLE) - 1.0)), 9)
       END AS simpson
FROM c GROUP BY doc_id
"""

_DIVERSITY_SPARK = _DIVERSITY_SQL.replace(
    "unnest(string_split(text, ' '))", "explode(split(text, ' '))"
)


@register("doc_lexical_diversity", oracle=_DIVERSITY_SQL, category="text")
def doc_lexical_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document lexical diversity: type-token ratio and Simpson's
    repeat-probability index — the statistical complement of
    doc_repetition_signals' n-gram heuristics, and a standard
    quality-filter feature for training-data curation (boilerplate and
    keyword-stuffed pages score near-degenerate diversity). Σc and
    Σc(c−1) are exact int64; one double formula per document.

    Scale: two stacked combine-enabled aggregates — (doc, token) then
    (doc) — both partitioned by doc_id, so the second reuses the first's
    partitioning; no windows, no collect.
    """
    read_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(_DIVERSITY_SPARK)


# ---------------------------------------------------------------------------
# BPE merge-candidate statistics (round 7b)
# ---------------------------------------------------------------------------

# The corpus-relative floor (pairs covering ≥0.5% of all pair occurrences)
# keeps the output the HEAD of the pair distribution at any scale.
_BPE_PAIR_SQL = """
WITH wt AS (
  SELECT unnest(string_split(text, ' ')) AS w FROM documents
),
p AS (
  SELECT substring(w, i, 2) AS pair
  FROM (SELECT w, unnest(generate_series(1, length(w) - 1)) AS i
        FROM wt WHERE length(w) >= 2)
)
SELECT pair, CAST(count(*) AS BIGINT) AS n
FROM p GROUP BY pair
HAVING count(*) * 200 >= (SELECT count(*) FROM p)
"""

_BPE_PAIR_SPARK = """
WITH wt AS (
  SELECT explode(split(text, ' ')) AS w FROM documents
),
p AS (
  SELECT substring(w, i, 2) AS pair
  FROM (SELECT w, explode(sequence(1, length(w) - 1)) AS i
        FROM wt WHERE length(w) >= 2)
)
SELECT pair, CAST(count(*) AS BIGINT) AS n
FROM p GROUP BY pair
HAVING count(*) * 200 >= (SELECT count(*) FROM p)
"""


@register("bpe_pair_merge_stats", oracle=_BPE_PAIR_SQL, category="text")
def bpe_pair_merge_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-pair-encoding merge statistics: corpus-wide counts of adjacent
    CHARACTER pairs within words — exactly the quantity a BPE tokenizer
    trainer maximizes at each merge step (the word-level twin is
    ngram_stats; this is the subword layer beneath it). The head of this
    distribution (≥0.5% of pair mass, a corpus-relative scalar-subquery
    floor) is the first merge table.

    Scale: explode is linear in characters, the aggregate is map-side
    combinable over a key domain bounded by the alphabet squared — the
    shuffle payload is tiny no matter the corpus. A full BPE trainer
    iterates this with the previous merges applied (the fedavg_rounds
    pattern: per-iteration combine-enabled aggregates, K-row driver state).
    """
    read_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(_BPE_PAIR_SPARK)


# ---------------------------------------------------------------------------
# PMI collocations (word-bigram association mining) — round 7
# ---------------------------------------------------------------------------

# Corpus-relative floor: keep bigrams carrying >= 1/2000 of all bigram mass.
# Output stays vocab²-bounded regardless; the floor just trims the noise
# tail where PMI estimates are unstable.
PMI_FLOOR_DENOM = 2000

_PMI_SQL = f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
bg AS (
  SELECT u.bg[1] AS w1, u.bg[2] AS w2,
         CAST(count(*) AS BIGINT) AS n_ab
  FROM (
    SELECT list_transform(range(1, len(t)), i -> [t[i], t[i + 1]]) AS bgs
    FROM toks
  ), unnest(bgs) AS u(bg)
  GROUP BY 1, 2
),
uni AS (
  SELECT u.w AS w, CAST(count(*) AS BIGINT) AS n_w
  FROM toks, unnest(t) AS u(w)
  GROUP BY 1
),
tot AS (
  SELECT (SELECT sum(n_ab) FROM bg) AS tb, (SELECT sum(n_w) FROM uni) AS tu
)
SELECT bg.w1, bg.w2, bg.n_ab,
       round(ln((CAST(bg.n_ab AS DOUBLE) / tb)
                / ((CAST(u1.n_w AS DOUBLE) / tu)
                   * (CAST(u2.n_w AS DOUBLE) / tu))), 6) AS pmi
FROM bg
JOIN uni u1 ON u1.w = bg.w1
JOIN uni u2 ON u2.w = bg.w2, tot
WHERE bg.n_ab * {PMI_FLOOR_DENOM} >= tb
"""


@register("bigram_pmi_collocations", oracle=_PMI_SQL, category="text")
def bigram_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise mutual information over adjacent word bigrams — the
    collocation-mining signal ("strongly associated word pairs") used for
    phrase detection and tokenizer-merge candidates above the character
    level (``bpe_pair_merge_stats`` is the char tier; this is the word
    tier). PMI = ln(p(ab) / (p(a)·p(b))) with all probabilities from exact
    int64 counts; only the final ln/division is floating (rounded 6 dp —
    same determinism precedent as ``event_label_entropy``).

    Scale: bigram explode is linear in tokens and map-side; both count
    aggregates combine partially and their state is vocab-bounded
    (vocab² worst case for bigrams, floor-trimmed); the unigram joins
    broadcast. No data-sized state anywhere. Both aggregates are
    localCheckpointed (r9): each has multiple consumers (uni → u1/u2/tu,
    bg → output/tb) and the executed plan re-tokenized the corpus FIVE
    times — now each tokenize+explode+agg runs once and the consumers
    read vocab-bounded materialized rows (one corpus pass per aggregate
    at 100 TB, not five).
    """
    docs = read_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.split("text", " ").alias("t"))
    bg = (
        toks.select(
            F.explode(
                F.transform(
                    F.slice("t", 1, F.size("t") - 1),
                    lambda x, i: F.struct(
                        x.alias("w1"),
                        F.element_at("t", i + 2).alias("w2"),
                    ),
                )
            ).alias("p")
        )
        .select("p.w1", "p.w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .transform(checkpoint_pinned)
    )
    uni = (
        toks.select(F.explode("t").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n_w"))
        .transform(checkpoint_pinned)
    )
    tb = bg.agg(F.sum("n_ab").alias("tb"))
    tu = uni.agg(F.sum("n_w").alias("tu"))
    u1 = uni.select(F.col("w").alias("w1"), F.col("n_w").alias("n1"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("n_w").alias("n2"))
    return (
        bg.join(F.broadcast(u1), "w1")
        .join(F.broadcast(u2), "w2")
        .crossJoin(F.broadcast(tb))
        .crossJoin(F.broadcast(tu))
        .filter(F.col("n_ab") * PMI_FLOOR_DENOM >= F.col("tb"))
        .select(
            "w1",
            "w2",
            "n_ab",
            F.round(
                F.log(
                    (F.col("n_ab").cast("double") / F.col("tb"))
                    / (
                        (F.col("n1").cast("double") / F.col("tu"))
                        * (F.col("n2").cast("double") / F.col("tu"))
                    )
                ),
                6,
            ).alias("pmi"),
        )
    )


# ---------------------------------------------------------------------------
# Zipf rank-frequency profile — round 7
# ---------------------------------------------------------------------------

_ZIPF_SQL = """
WITH tf AS (
  SELECT u.w AS token, CAST(count(*) AS BIGINT) AS freq
  FROM (SELECT string_split(text, ' ') AS t FROM documents), unnest(t) AS u(w)
  GROUP BY 1
)
SELECT a.token, a.freq,
       CAST(1 + (SELECT count(*) FROM tf b
                 WHERE b.freq > a.freq
                    OR (b.freq = a.freq AND b.token < a.token)) AS BIGINT)
         AS rank,
       round(ln(CAST(a.freq AS DOUBLE)), 6) AS ln_freq
FROM tf a
"""


@register("zipf_rank_frequency", oracle=_ZIPF_SQL, category="text")
def zipf_rank_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf rank-frequency profile of the corpus vocabulary — the
    diagnostic behind tokenizer sizing and corpus-health checks (natural
    language is near-log-log-linear; a missing tail or a flat head flags
    synthetic or broken text — this word-soup corpus IS flat-headed,
    which is exactly what the profile should reveal). Rank is computed
    JOIN-free of any global sort window: rank(a) = 1 + |{{b : freq_b >
    freq_a, ties by token}}| via a vocab×vocab count — exact, and the
    vocab domain is bounded, so the quadratic term is a non-issue (at a
    real corpus's million-token vocab, switch to the two-pass histogram
    rank: group by freq, cumulative over the distinct-freq axis).

    Scale: token explode is linear and the frequency aggregate combines
    map-side; everything after runs on vocab-sized tables.
    """
    docs = read_table(spark, sf_dir, "documents")
    tf = (
        docs.select(F.explode(F.split("text", " ")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    b = tf.select(F.col("token").alias("tb"), F.col("freq").alias("fb"))
    rank = (
        tf.join(
            F.broadcast(b),
            (F.col("fb") > F.col("freq"))
            | ((F.col("fb") == F.col("freq")) & (F.col("tb") < F.col("token"))),
            "left",
        )
        .groupBy("token", "freq")
        .agg((F.lit(1) + F.count("tb")).cast("long").alias("rank"))
    )
    return rank.select(
        "token",
        "freq",
        "rank",
        F.round(F.log(F.col("freq").cast("double")), 6).alias("ln_freq"),
    )


# ---------------------------------------------------------------------------
# Custom-comparator HOF sort — round 7
# ---------------------------------------------------------------------------

_CMP_SORT_SQL = """
SELECT doc_id,
       string_agg(w, ' ' ORDER BY len(w), w) AS by_len_then_lex
FROM (
  SELECT doc_id, u.w AS w
  FROM (SELECT doc_id, list_distinct(string_split(text, ' ')) AS s
        FROM documents), unnest(s) AS u(w)
)
WHERE doc_id < 100
GROUP BY doc_id
"""


@register("comparator_sorted_tokens", oracle=_CMP_SORT_SQL, category="text")
def comparator_sorted_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``array_sort`` with a CUSTOM comparator lambda — the one
    higher-order-function form the HOF suites hadn't exercised (transform
    / filter / aggregate / zip_with / exists are covered elsewhere): each
    doc's distinct tokens ordered by (length, lexicographic), entirely
    inside the array column, no explode on the Spark side. The oracle
    proves the semantics the long way (explode + multi-key ORDER BY +
    re-aggregation) — which is also the honest statement of what the
    comparator saves: a shuffle-bearing explode/sort/collect round-trip
    becomes one map-side expression.

    Scale: pure projection — zero exchanges beyond the scan; probe-
    bounded to 100 docs only to keep the driver's string compare light.
    """
    docs = read_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    toks = F.array_distinct(F.split("text", " "))
    cmp_sorted = F.array_sort(
        toks,
        lambda a, b: F.when(F.length(a) < F.length(b), F.lit(-1))
        .when(F.length(a) > F.length(b), F.lit(1))
        .when(a < b, F.lit(-1))
        .when(a > b, F.lit(1))
        .otherwise(F.lit(0)),
    )
    return docs.select(
        "doc_id", F.array_join(cmp_sorted, " ").alias("by_len_then_lex")
    )


# ---------------------------------------------------------------------------
# Temperature-scaled source mixture weights (round 9)
# ---------------------------------------------------------------------------

MIXTURE_EPOCH = 10_000  # samples per "epoch" for the expected-count column

_MIXTURE_SQL = f"""
WITH per_source AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
),
weighted AS (
  SELECT *, CAST(round(sqrt(CAST(n_tokens AS DOUBLE)) * 1000000)
                 AS BIGINT) AS w_micro
  FROM per_source
),
tot AS (SELECT CAST(sum(w_micro) AS BIGINT) AS total_micro FROM weighted)
SELECT source, n_docs, n_tokens,
       round(CAST(w_micro AS DOUBLE) / total_micro, 6) AS mix_share,
       CAST(round({MIXTURE_EPOCH}.0 * w_micro / total_micro) AS BIGINT)
         AS expected_per_epoch
FROM weighted, tot
"""


@register("source_mixture_weights", oracle=_MIXTURE_SQL, category="text")
def source_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled data-mixture weights per source — the sampling
    schedule every multi-source LLM training run needs: raw proportional
    sampling lets the largest corpus drown the rest, so sources are
    sampled with probability ∝ n^α (α = 1/2 here, the multilingual
    up-sampling temperature family): smaller sources are up-weighted,
    larger ones capped. Output per source: exact doc/token counts, the
    normalized mixture share, and the expected draw count in a
    {MIXTURE_EPOCH}-sample epoch.

    Cross-engine exactness for a formula with an irrational weight
    (sqrt(n_tokens)): the weight is quantized to int64 MICRO-units
    immediately after the single IEEE sqrt (identical on both engines),
    the normalizer is an exact integer sum of those micro-weights, and
    each output is ONE rounded division — the same convention as every
    money aggregate, extended to a sampling-weight computation.

    Scale: one map-side-combinable aggregate over (source) — the state is
    source-cardinality-bounded; the token count rides the same scan. The
    weights table is then dimension-sized input for a weighted sampler
    (``weighted_sample_docs`` is the corpus-side mechanism it feeds).
    """
    docs = read_table(spark, sf_dir, "documents")
    per_source = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(F.split("text", " "))).cast("long").alias("n_tokens"),
    )
    weighted = per_source.withColumn(
        "w_micro",
        F.round(F.sqrt(F.col("n_tokens").cast("double")) * 1_000_000)
        .cast("long"),
    )
    tot = weighted.agg(F.sum("w_micro").cast("long").alias("total_micro"))
    return weighted.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "n_tokens",
        F.round(
            F.col("w_micro").cast("double") / F.col("total_micro"), 6
        ).alias("mix_share"),
        F.round(
            F.lit(float(MIXTURE_EPOCH))
            * F.col("w_micro")
            / F.col("total_micro")
        )
        .cast("long")
        .alias("expected_per_epoch"),
    )


# ---------------------------------------------------------------------------
# Vocabulary divergence between sources (Jensen-Shannon) — round 10
# ---------------------------------------------------------------------------

_JSD_SQL = """
WITH tok AS (
  SELECT source, u.w AS token
  FROM (SELECT source, string_split(text, ' ') AS t FROM documents),
       unnest(t) AS u(w)
),
st AS (
  SELECT source, token, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY 1, 2
),
ct AS (SELECT token, CAST(sum(c) AS BIGINT) AS c FROM st GROUP BY 1),
ns AS (SELECT source, CAST(sum(c) AS BIGINT) AS n FROM st GROUP BY 1),
nn AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM ct),
grid AS (
  SELECT ns.source, ct.token, coalesce(st.c, 0) AS c_s,
         ct.c - coalesce(st.c, 0) AS c_r, ns.n AS n_s, nn.n - ns.n AS n_r
  FROM ns CROSS JOIN ct CROSS JOIN nn
  LEFT JOIN st ON st.source = ns.source AND st.token = ct.token
),
terms AS (
  SELECT source,
    CAST(round((
      0.5 * (CASE WHEN c_s > 0 THEN (CAST(c_s AS DOUBLE) / n_s)
        * log2((CAST(c_s AS DOUBLE) / n_s)
               / ((CAST(c_s AS DOUBLE) / n_s
                   + CAST(c_r AS DOUBLE) / n_r) / 2))
        ELSE 0 END)
      + 0.5 * (CASE WHEN c_r > 0 THEN (CAST(c_r AS DOUBLE) / n_r)
        * log2((CAST(c_r AS DOUBLE) / n_r)
               / ((CAST(c_s AS DOUBLE) / n_s
                   + CAST(c_r AS DOUBLE) / n_r) / 2))
        ELSE 0 END)) * 1000000000000) AS BIGINT) AS tq,
    n_s
  FROM grid
)
SELECT source, CAST(max(n_s) AS BIGINT) AS n_tokens,
       round(CAST(sum(tq) AS DOUBLE) / 1000000000000.0, 6) AS jsd_bits
FROM terms GROUP BY source
"""


@register("source_vocab_divergence", oracle=_JSD_SQL, category="text")
def source_vocab_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out Jensen-Shannon divergence (bits) between each
    source's unigram distribution and the rest of the corpus — the
    vocabulary-shift metric curation pipelines rank sources by before
    setting mixture weights (``source_mixture_weights`` sizes sources;
    this says which source's LANGUAGE is the odd one out — the text
    counterpart of the numeric ``psi_distribution_drift``). JSD is
    symmetric and bounded [0,1] bits, and the leave-one-out rest
    distribution avoids the self-inclusion shrinkage of comparing
    against the full corpus. This word-soup corpus is near-exchangeable
    across sources, so all 20 divergences correctly land near zero
    (max 0.005829 bits at sf0.01) — the null the metric should report;
    the pytest plants a skewed synthetic source to prove the metric
    separates a real shift from that floor.

    Per-term contributions are quantized to 1e-12 int64 BEFORE summing
    (the ``logrank_test_by_arm`` discipline), so per-source sums over
    the whole vocabulary are exact in any engine; zero-count sides
    contribute exactly 0 (P=0) or Q·log2(2Q/Q)=Q-shaped mass (Q>0,
    P=0) via the CASE guards, never NaN.

    Scale: one token explode -> (source, token) combine (the shuffle
    carries vocab x sources cells, not tokens); the scoring grid is
    |vocab| x |sources| rows built from broadcast-sized side tables
    (source totals, 1-row corpus total) against the per-source counts.
    At 100 TB the vocabulary is the bounded axis (cap to top-K tokens
    by corpus frequency — the tail's mass contributes O(tail share) to
    JSD) and sources are the catalog axis; neither scales with rows.
    """
    return vocab_jsd(read_table(spark, sf_dir, "documents"))


def vocab_jsd(docs: DataFrame) -> DataFrame:
    """Core of ``source_vocab_divergence`` over any (source, text)
    DataFrame — factored out so the pytest can plant a genuinely
    shifted source and prove the metric separates it from the
    exchangeable-corpus floor."""
    st = checkpoint_pinned(
        docs.select(
            "source", F.explode(F.split("text", " ")).alias("token")
        )
        .groupBy("source", "token")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    ct = st.groupBy("token").agg(F.sum("c").cast("long").alias("c_all"))
    ns = st.groupBy("source").agg(F.sum("c").cast("long").alias("n_s"))
    nn = ct.agg(F.sum("c_all").cast("long").alias("n_all"))
    grid = (
        ct.crossJoin(F.broadcast(ns))
        .crossJoin(F.broadcast(nn))
        .join(st, ["source", "token"], "left")
        .select(
            "source",
            F.coalesce("c", F.lit(0)).alias("c_s"),
            (F.col("c_all") - F.coalesce("c", F.lit(0))).alias("c_r"),
            "n_s",
            (F.col("n_all") - F.col("n_s")).alias("n_r"),
        )
    )
    p = F.col("c_s").cast("double") / F.col("n_s")
    q = F.col("c_r").cast("double") / F.col("n_r")
    m = (p + q) / 2
    term = 0.5 * F.when(F.col("c_s") > 0, p * F.log2(p / m)).otherwise(
        0.0
    ) + 0.5 * F.when(F.col("c_r") > 0, q * F.log2(q / m)).otherwise(0.0)
    return (
        grid.select(
            "source",
            "n_s",
            F.round(term * 1e12).cast("long").alias("tq"),
        )
        .groupBy("source")
        .agg(
            F.max("n_s").cast("long").alias("n_tokens"),
            F.round(F.sum("tq").cast("double") / 1e12, 6).alias("jsd_bits"),
        )
    )


# ---------------------------------------------------------------------------
# DSIR data selection: hashed n-gram importance resampling — round 12
# ---------------------------------------------------------------------------

DSIR_BUCKETS = 64
DSIR_TARGET_SOURCE = "src0"
DSIR_KEEP = 100

_DSIR_SQL = f"""
WITH t AS (
  SELECT doc_id, source, string_split(text, ' ') AS toks FROM documents
),
g AS (
  SELECT t.doc_id, t.source,
         CAST(concat('0x', substr(md5(u.gram), 1, 8)) AS BIGINT)
           % {DSIR_BUCKETS} AS bucket
  FROM t, unnest(list_concat(
    t.toks,
    list_transform(list_zip(t.toks[1:len(t.toks) - 1], t.toks[2:len(t.toks)]),
                   z -> z[1] || ' ' || z[2])
  )) AS u(gram)
),
db AS (
  SELECT doc_id, source, bucket, CAST(count(*) AS BIGINT) AS c
  FROM g GROUP BY 1, 2, 3
),
rb AS (SELECT bucket, CAST(sum(c) AS BIGINT) AS c FROM db GROUP BY 1),
tb AS (
  SELECT bucket, CAST(sum(c) AS BIGINT) AS c
  FROM db WHERE source = '{DSIR_TARGET_SOURCE}' GROUP BY 1
),
tot AS (
  SELECT (SELECT CAST(sum(c) AS BIGINT) FROM tb) AS t_n,
         (SELECT CAST(sum(c) AS BIGINT) FROM rb) AS r_n
),
lam AS (
  SELECT rb.bucket,
         CAST(round(ln(
           ((coalesce(tb.c, 0) + 1.0) / (tot.t_n + {DSIR_BUCKETS}))
           / ((rb.c + 1.0) / (tot.r_n + {DSIR_BUCKETS}))
         ) * 1000000) AS BIGINT) AS lam_micro
  FROM rb LEFT JOIN tb USING (bucket) CROSS JOIN tot
),
w AS (
  SELECT db.doc_id, CAST(sum(db.c * lam.lam_micro) AS BIGINT) AS weight_micro
  FROM db JOIN lam USING (bucket) GROUP BY 1
)
SELECT doc_id, source, weight_micro, CAST(rnk AS INTEGER) AS rnk
FROM (
  SELECT w.doc_id, d.source, w.weight_micro,
         row_number() OVER (ORDER BY w.weight_micro DESC, w.doc_id) AS rnk
  FROM w JOIN documents d USING (doc_id)
)
WHERE rnk <= {DSIR_KEEP}
"""


@register("dsir_importance_select", oracle=_DSIR_SQL, category="text")
def dsir_importance_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR (Xie et al. 2023, arXiv:2302.03169): data selection via
    importance resampling on HASHED N-GRAM features — the published
    target-distribution-matching selector (select raw-corpus docs that
    look like a small curated target set). Features are uni+bigrams
    hashed into {DSIR_BUCKETS} buckets (portable md5 % B); the target
    distribution is the '{DSIR_TARGET_SOURCE}' slice (the curated-corpus
    stand-in, the GPT-3/PaLM "WebText-like" framing); per-bucket
    log-likelihood ratios use Laplace (+1) smoothing. A doc's importance
    weight is Σ_b count_doc[b]·λ[b]; the top {DSIR_KEEP} by weight are
    selected. Exactness: λ is quantized to int64 micro after ONE ln per
    bucket (the lang_quota_sample ln precedent), so every per-doc weight
    is an exact integer sum and the top-k cut is deterministic
    (weight DESC, doc_id).

    This is the distribution-matching member of the selection family —
    ``source_mixture_weights`` sizes sources, ``governed_mixture_sample``
    enforces quotas, ``benchmark_decontamination`` removes eval overlap;
    DSIR picks WHICH raw docs enter the pool in the first place.

    Scale: one gram explode → (doc, bucket) combine (the shuffle carries
    doc×bucket cells, B-bounded per doc); the λ table is B rows —
    broadcast; per-doc weights are one combinable aggregate; the global
    cut is orderBy+limit = TakeOrderedAndProject (no full sort), with the
    rank window running over only the {DSIR_KEEP} survivors.
    """
    return dsir_select(read_table(spark, sf_dir, "documents"))


def dsir_select(docs: DataFrame) -> DataFrame:
    """Core of ``dsir_importance_select`` over any (doc_id, source, text)
    DataFrame — factored out so the pytest can plant a target slice with
    a genuinely distinct vocabulary and prove the selector prefers
    target-like documents."""
    toks = F.split("text", " ")
    n = F.size(toks)
    bigrams = F.zip_with(
        F.slice(toks, 1, n - 1),
        F.slice(toks, 2, n - 1),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    grams = docs.select(
        "doc_id",
        "source",
        F.explode(F.concat(toks, bigrams)).alias("gram"),
    )
    bucket = md5_int(F.col("gram")) % DSIR_BUCKETS
    # db feeds three consumers (raw counts, target counts, per-doc join):
    # count once, checkpoint, reuse — the kmeans-vm rescan argument.
    db = checkpoint_pinned(
        grams.select("doc_id", "source", bucket.alias("bucket"))
        .groupBy("doc_id", "source", "bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    rb = db.groupBy("bucket").agg(F.sum("c").cast("long").alias("rc"))
    tb = (
        db.filter(F.col("source") == DSIR_TARGET_SOURCE)
        .groupBy("bucket")
        .agg(F.sum("c").cast("long").alias("tc"))
    )
    tot = rb.agg(F.sum("rc").cast("long").alias("r_n")).crossJoin(
        F.broadcast(tb.agg(F.sum("tc").cast("long").alias("t_n")))
    )
    lam = (
        rb.join(F.broadcast(tb), "bucket", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "bucket",
            F.round(
                F.log(
                    ((F.coalesce(F.col("tc"), F.lit(0)) + F.lit(1.0))
                     / (F.col("t_n") + F.lit(float(DSIR_BUCKETS))))
                    / ((F.col("rc") + F.lit(1.0))
                       / (F.col("r_n") + F.lit(float(DSIR_BUCKETS))))
                )
                * 1_000_000
            )
            .cast("long")
            .alias("lam_micro"),
        )
    )
    w = (
        db.join(F.broadcast(lam), "bucket")
        .groupBy("doc_id", "source")
        .agg(F.sum(F.col("c") * F.col("lam_micro")).cast("long").alias("weight_micro"))
    )
    # global top-k: orderBy+limit compiles to TakeOrderedAndProject; the
    # single-partition rank window then runs over DSIR_KEEP rows only.
    selected = w.orderBy(F.desc("weight_micro"), F.asc("doc_id")).limit(DSIR_KEEP)
    wr = W.orderBy(F.desc("weight_micro"), F.asc("doc_id"))
    return selected.select(
        "doc_id",
        "source",
        "weight_micro",
        F.row_number().over(wr).alias("rnk"),
    )


# ---------------------------------------------------------------------------
# Quality classifier: logistic regression by exact full-batch GD — round 12
# ---------------------------------------------------------------------------

QC_ITERS = 2
QC_ETA = 0.5
QC_TARGET_SOURCE = "src0"

_QC_FEATS_SQL = f"""feats AS (
  SELECT doc_id, source,
         CAST(1000000 AS BIGINT) AS x0,
         CAST(len(string_split(text, ' ')) * 10000 AS BIGINT) AS x1,
         CAST(round(1000000.0 * len(list_distinct(string_split(text, ' ')))
                    / len(string_split(text, ' '))) AS BIGINT) AS x2,
         CAST(round(100000.0 * (length(text) - len(string_split(text, ' ')) + 1)
                    / len(string_split(text, ' '))) AS BIGINT) AS x3,
         CAST(CASE WHEN source = '{QC_TARGET_SOURCE}' THEN 1000000 ELSE 0 END
              AS BIGINT) AS y
  FROM documents
)"""


def _qc_oracle() -> str:
    """Unrolled full-batch logistic GD in DuckDB: micro-int features, the
    per-row sigmoid quantized to micro BEFORE the gradient sum (so the sum
    is an exact integer in any order), one rounded division per weight per
    step — the fedavg_rounds/kmeans trajectory-replay recipe applied to a
    trained model."""
    parts = [
        "WITH ",
        _QC_FEATS_SQL,
        ",\nw0 AS (SELECT CAST(0 AS BIGINT) AS w0, CAST(0 AS BIGINT) AS w1,"
        " CAST(0 AS BIGINT) AS w2, CAST(0 AS BIGINT) AS w3)",
    ]
    for t in range(1, QC_ITERS + 1):
        parts.append(
            f""",
p{t} AS (
  SELECT f.doc_id, f.x0, f.x1, f.x2, f.x3, f.y,
         CAST(round(1000000.0 / (1.0 + exp(
           -(CAST(w.w0 * f.x0 + w.w1 * f.x1 + w.w2 * f.x2 + w.w3 * f.x3
                  AS DOUBLE) / 1000000000000.0)))) AS BIGINT) AS p
  FROM feats f, w{t - 1} w
),
w{t} AS (
  SELECT w.w0 + CAST(round({QC_ETA} * g.g0 / (g.n * 1000000.0)) AS BIGINT) AS w0,
         w.w1 + CAST(round({QC_ETA} * g.g1 / (g.n * 1000000.0)) AS BIGINT) AS w1,
         w.w2 + CAST(round({QC_ETA} * g.g2 / (g.n * 1000000.0)) AS BIGINT) AS w2,
         w.w3 + CAST(round({QC_ETA} * g.g3 / (g.n * 1000000.0)) AS BIGINT) AS w3
  FROM (
    SELECT sum((y - p) * x0) AS g0,
           sum((y - p) * x1) AS g1,
           sum((y - p) * x2) AS g2,
           sum((y - p) * x3) AS g3,
           CAST(count(*) AS BIGINT) AS n
    FROM p{t}
  ) g, w{t - 1} w
)"""
        )
    parts.append(
        f"""
SELECT f.doc_id, f.source, CAST(f.y / 1000000 AS INTEGER) AS label,
       CAST(round(1000000.0 / (1.0 + exp(
         -(CAST(w.w0 * f.x0 + w.w1 * f.x1 + w.w2 * f.x2 + w.w3 * f.x3
                AS DOUBLE) / 1000000000000.0)))) AS BIGINT) AS score_micro
FROM feats f, w{QC_ITERS} w"""
    )
    return "".join(parts)


@register("quality_classifier_gd", oracle=_qc_oracle(), category="text")
def quality_classifier_gd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A trained quality classifier, the GPT-3/PaLM curation pattern: fit
    logistic regression to discriminate a curated reference slice (source
    = '{QC_TARGET_SOURCE}') from the raw corpus, then score EVERY document
    with the trained model — the learned counterpart of the heuristic
    gates (``doc_quality_scores``, ``gopher_quality_gates``). Features are
    the standard quality signals (bias, token count, distinct-token
    fraction, mean token length), int64-micro-scaled; training is
    {QC_ITERS} full-batch gradient steps from w=0 at η={QC_ETA}.

    Cross-engine exactness for a model with a sigmoid: each row's
    probability is quantized to micro-int immediately after the ONE
    exp per step (the lang_quota_sample ln / source_mixture_weights sqrt
    precedent), so gradients are exact integer sums in any order and each
    weight update is ONE rounded division — DuckDB replays the training
    trajectory and the final scores bit-for-bit, the fedavg_rounds recipe
    applied to a trained model.

    Scale: each GD step is one broadcast of the 4-weight row against the
    feature table and one map-side-combinable 5-column aggregate — the
    kmeans iteration shape with a 1-row state instead of k centroids.
    Feature extraction runs once and is pinned (consumed {QC_ITERS}+1
    times); at 100 TB you train on a sample and score the full corpus,
    which changes this plan's input, not its shape.
    """
    return qc_train_score(read_table(spark, sf_dir, "documents"))


def qc_train_score(docs: DataFrame) -> DataFrame:
    """Core of ``quality_classifier_gd`` over any (doc_id, source, text)
    DataFrame — factored out so the pytest can plant a linearly separable
    curated slice and prove training moves the right weight."""
    spark = docs.sparkSession
    toks = F.split("text", " ")
    nt = F.size(toks)
    feats = checkpoint_pinned(
        docs.select(
            "doc_id",
            "source",
            F.lit(1_000_000).cast("long").alias("x0"),
            (nt.cast("long") * 10_000).alias("x1"),
            F.round(
                F.lit(1_000_000.0) * F.size(F.array_distinct(toks)) / nt
            )
            .cast("long")
            .alias("x2"),
            F.round(
                F.lit(100_000.0) * (F.length("text") - nt + 1) / nt
            )
            .cast("long")
            .alias("x3"),
            F.when(F.col("source") == QC_TARGET_SOURCE, F.lit(1_000_000))
            .otherwise(F.lit(0))
            .cast("long")
            .alias("y"),
        )
    )
    w = spark.range(1).select(
        *[F.lit(0).cast("long").alias(f"w{j}") for j in range(4)]
    )
    xs = ["x0", "x1", "x2", "x3"]

    def p_micro() -> F.Column:
        z = (
            sum(F.col(f"w{j}") * F.col(xs[j]) for j in range(4))
        ).cast("double") / F.lit(1_000_000_000_000.0)
        return F.round(F.lit(1_000_000.0) / (F.lit(1.0) + F.exp(-z))).cast(
            "long"
        )

    for _ in range(QC_ITERS):
        scored = feats.crossJoin(F.broadcast(w)).withColumn("p", p_micro())
        # gradient sums accumulate in exact wide integers (decimal(38,0);
        # HUGEINT on the oracle side): per-row terms are ~2e12 for
        # 200-token docs, so int64 sums overflow near 4.6M docs — the
        # doremi_domain_weights overflow class, widened the same way
        g = scored.agg(
            *[
                F.sum(
                    (
                        (F.col("y") - F.col("p")) * F.col(xs[j])
                    ).cast("decimal(38,0)")
                )
                .alias(f"g{j}")
                for j in range(4)
            ],
            F.count(F.lit(1)).cast("long").alias("n"),
            *[F.first(f"w{j}").alias(f"w{j}_prev") for j in range(4)],
        )
        w = g.select(
            *[
                (
                    F.col(f"w{j}_prev")
                    + F.round(
                        F.lit(QC_ETA)
                        * F.col(f"g{j}").cast("double")
                        / (F.col("n").cast("double") * F.lit(1_000_000.0))
                    ).cast("long")
                ).alias(f"w{j}")
                for j in range(4)
            ]
        )
    return feats.crossJoin(F.broadcast(w)).select(
        "doc_id",
        "source",
        (F.col("y") / 1_000_000).cast("integer").alias("label"),
        p_micro().alias("score_micro"),
    )


# ---------------------------------------------------------------------------
# BM25 retrieval scoring + reciprocal-rank fusion — round 10
# ---------------------------------------------------------------------------

BM25_TERMS = ("join", "merge", "vector")
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOP_K = 15
RRF_K = 60
RRF_POOL = 25
RRF_TOP_K = 10


def _bm25_term_sql(t: str) -> str:
    """One probe term's BM25 contribution (dialect-shared fixed-order
    arithmetic). The k1/b literals are interpolated from BM25_K1/BM25_B
    so the oracle can never silently desync from the Spark-side
    ``_bm25_scored``, which derives the same four factors from the same
    module constants."""
    return (
        f"CASE WHEN tf_{t} = 0 THEN 0.0 ELSE "
        f"ln(1.0 + (c.n_docs - c.df_{t} + 0.5) / (c.df_{t} + 0.5)) "
        f"* (tf_{t} * {BM25_K1 + 1.0}) "
        f"/ (tf_{t} + {BM25_K1} * ({1.0 - BM25_B} + {BM25_B} * dl "
        f"/ (CAST(c.sum_dl AS DOUBLE) / c.n_docs))) END"
    )


_BM25_PERDOC_SQL = f"""
perdoc AS (
  SELECT doc_id,
         len(string_split(text, ' ')) AS dl,
         {", ".join(
             f"len(list_filter(string_split(text, ' '), x -> x = '{t}'))"
             f" AS tf_{t}" for t in BM25_TERMS
         )}
  FROM documents
),
corpus AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(dl) AS BIGINT) AS sum_dl,
         {", ".join(
             f"CAST(sum(CASE WHEN tf_{t} > 0 THEN 1 ELSE 0 END) AS BIGINT)"
             f" AS df_{t}" for t in BM25_TERMS
         )}
  FROM perdoc
)"""

_BM25_SQL = f"""
WITH {_BM25_PERDOC_SQL}
SELECT doc_id, n_terms_hit, score FROM (
  SELECT p.doc_id,
         CAST({" + ".join(
             f"(CASE WHEN tf_{t} > 0 THEN 1 ELSE 0 END)" for t in BM25_TERMS
         )} AS INTEGER) AS n_terms_hit,
         round({" + ".join(_bm25_term_sql(t) for t in BM25_TERMS)}, 6)
           AS score
  FROM perdoc p CROSS JOIN corpus c
)
WHERE score > 0
ORDER BY score DESC, doc_id
LIMIT {BM25_TOP_K}
"""


def _bm25_perdoc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc probe-term stats (doc_id, dl, tf_*) — ONE corpus scan,
    checkpoint-pinned because multiple ranking branches consume it."""
    docs = read_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    def tf_col(term: str):
        # one-arg lambda only: a second parameter would make F.filter pass
        # the element INDEX into it (the (x, i) HOF form)
        return F.size(F.filter(toks, lambda x: x == F.lit(term)))

    cols = [F.col("doc_id"), F.size(toks).alias("dl")]
    for t in BM25_TERMS:
        cols.append(tf_col(t).alias(f"tf_{t}"))
    return checkpoint_pinned(docs.select(*cols))


def _bm25_scored(perdoc: DataFrame) -> DataFrame:
    """(doc_id, n_terms_hit, score): fixed-order BM25 sum over the probe
    terms against the broadcast 1-row corpus aggregate."""
    corpus = perdoc.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("dl").cast("long").alias("sum_dl"),
        *[
            F.sum(F.when(F.col(f"tf_{t}") > 0, 1).otherwise(0))
            .cast("long")
            .alias(f"df_{t}")
            for t in BM25_TERMS
        ],
    )
    avgdl = F.col("sum_dl").cast("double") / F.col("n_docs")

    def term_score(t: str):
        tf = F.col(f"tf_{t}")
        idf = F.log(
            1.0 + (F.col("n_docs") - F.col(f"df_{t}") + 0.5) / (F.col(f"df_{t}") + 0.5)
        )
        return F.when(tf == 0, F.lit(0.0)).otherwise(
            idf
            * (tf * F.lit(BM25_K1 + 1.0))
            / (tf + F.lit(BM25_K1) * (F.lit(1.0 - BM25_B) + F.lit(BM25_B) * F.col("dl") / avgdl))
        )

    score = term_score(BM25_TERMS[0])
    hits = F.when(F.col(f"tf_{BM25_TERMS[0]}") > 0, 1).otherwise(0)
    for t in BM25_TERMS[1:]:
        score = score + term_score(t)
        hits = hits + F.when(F.col(f"tf_{t}") > 0, 1).otherwise(0)
    return perdoc.crossJoin(F.broadcast(corpus)).select(
        "doc_id",
        hits.cast("int").alias("n_terms_hit"),
        F.round(score, 6).alias("score"),
    )


@register("bm25_doc_ranking", oracle=_BM25_SQL, category="text")
def bm25_doc_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 document ranking for a fixed probe query ({terms}) — the
    retrieval scorer a training-data pipeline runs to pull topical
    slices out of a web corpus (tf-idf's rank-quality successor:
    saturating tf and length normalization). k1={k1}, b={b},
    idf = ln(1 + (N−df+0.5)/(df+0.5)) — the BM25+ form, never negative.

    Engine shape: NO explode and NO posting join for a constant probe
    set — per-term tf comes from an array-HOF filter inside the one
    corpus scan, so the plan is scan → 1-row corpus aggregate
    (broadcast) → fixed-order score expression → global top-{k}
    (TakeOrderedAndProject: per-partition top-k then a k-row merge —
    no global sort). The score sum is a FIXED-ORDER column expression
    over the probe terms, not a float groupBy-sum, so both engines
    accumulate identically. For ad-hoc (non-constant) queries the
    ``posting_list_index`` path is the join-based alternative.
    """
    return (
        _bm25_scored(_bm25_perdoc(spark, sf_dir))
        .filter(F.col("score") > 0)
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(BM25_TOP_K)
    )


bm25_doc_ranking.__doc__ = bm25_doc_ranking.__doc__.format(
    terms="/".join(BM25_TERMS), k1=BM25_K1, b=BM25_B, k=BM25_TOP_K
)


_RRF_SQL = f"""
WITH {_BM25_PERDOC_SQL},
a AS (
  SELECT doc_id,
         round({" + ".join(_bm25_term_sql(t) for t in BM25_TERMS)}, 6) AS s
  FROM perdoc p CROSS JOIN corpus c
  WHERE {" + ".join(f"tf_{t}" for t in BM25_TERMS)} > 0
  ORDER BY s DESC, doc_id
  LIMIT {RRF_POOL}
),
b AS (
  SELECT doc_id,
         round(CAST({" + ".join(f"tf_{t}" for t in BM25_TERMS)} AS DOUBLE)
               / dl, 6) AS s
  FROM perdoc
  WHERE {" + ".join(f"tf_{t}" for t in BM25_TERMS)} > 0
  ORDER BY s DESC, doc_id
  LIMIT {RRF_POOL}
),
ar AS (
  SELECT doc_id, row_number() OVER (ORDER BY s DESC, doc_id) AS rank_a FROM a
),
br AS (
  SELECT doc_id, row_number() OVER (ORDER BY s DESC, doc_id) AS rank_b FROM b
)
SELECT doc_id, CAST(rank_a AS INTEGER) AS rank_a,
       CAST(rank_b AS INTEGER) AS rank_b, rrf_score
FROM (
  SELECT coalesce(ar.doc_id, br.doc_id) AS doc_id, ar.rank_a, br.rank_b,
         round(coalesce(1.0 / ({RRF_K} + ar.rank_a), 0.0)
             + coalesce(1.0 / ({RRF_K} + br.rank_b), 0.0), 6) AS rrf_score
  FROM ar FULL OUTER JOIN br ON br.doc_id = ar.doc_id
)
ORDER BY rrf_score DESC, doc_id
LIMIT {RRF_TOP_K}
"""


@register("rrf_fusion_ranking", oracle=_RRF_SQL, category="text")
def rrf_fusion_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion of two retrieval rankers — BM25 and raw
    probe-term density (Σtf/dl) — RRF(d) = Σ_r 1/(k + rank_r(d)),
    k={k}: the standard way hybrid search merges lexical and secondary
    rankers without score calibration, and the fusion step of a
    multi-signal corpus-curation retriever.

    Scale shape: each ranker reduces to a global top-{pool} via
    TakeOrderedAndProject off the ONE pinned per-doc stats table
    (per-partition top-k + k-row merge, no global sort); rank
    assignment then runs as two row_number windows over those
    CONSTANT {pool}-row lists — the limit output is already one
    partition, so the plan inserts NO Exchange SinglePartition (the
    plan audit counts 0) and the windows never see raw data. The fused
    FULL OUTER join is {pool}×{pool} at most.
    """
    perdoc = _bm25_perdoc(spark, sf_dir)
    tf_sum = sum(
        (F.col(f"tf_{t}") for t in BM25_TERMS[1:]),
        F.col(f"tf_{BM25_TERMS[0]}"),
    )
    a = (
        _bm25_scored(perdoc)
        .filter(F.col("n_terms_hit") > 0)
        .select("doc_id", F.col("score").alias("s"))
        .orderBy(F.desc("s"), F.asc("doc_id"))
        .limit(RRF_POOL)
    )
    b = (
        perdoc.filter(tf_sum > 0)
        .select(
            "doc_id",
            F.round(tf_sum.cast("double") / F.col("dl"), 6).alias("s"),
        )
        .orderBy(F.desc("s"), F.asc("doc_id"))
        .limit(RRF_POOL)
    )
    wr = W.orderBy(F.desc("s"), F.asc("doc_id"))
    ar = a.select("doc_id", F.row_number().over(wr).alias("rank_a"))
    br = b.select("doc_id", F.row_number().over(wr).alias("rank_b"))
    fused = ar.join(br, "doc_id", "full_outer").select(
        "doc_id",
        F.col("rank_a").cast("int").alias("rank_a"),
        F.col("rank_b").cast("int").alias("rank_b"),
        F.round(
            F.coalesce(1.0 / (RRF_K + F.col("rank_a")), F.lit(0.0))
            + F.coalesce(1.0 / (RRF_K + F.col("rank_b")), F.lit(0.0)),
            6,
        ).alias("rrf_score"),
    )
    return fused.orderBy(F.desc("rrf_score"), F.asc("doc_id")).limit(RRF_TOP_K)


rrf_fusion_ranking.__doc__ = rrf_fusion_ranking.__doc__.format(
    k=RRF_K, pool=RRF_POOL
)


# ---------------------------------------------------------------------------
# NDCG ranking evaluation — round 10
# ---------------------------------------------------------------------------

NDCG_K = 15
NDCG_Q = 10**12  # per-term int64 quantization (the source_vocab_divergence trick)

# DCG terms (2^grade − 1)/log2(rank+1) are doubles from identical integer
# inputs, quantized to 1e-12 int64 units BEFORE the sum so both engines
# accumulate exactly; grades are the probe-term hit counts (0..3). The
# bm25 list selects AND ranks on the 6-dp ROUNDED score — the same key
# the Spark side gets from _bm25_scored (the _RRF_SQL discipline), so a
# sub-1e-6 raw-score tie can never order the two engines differently.
_NDCG_SQL = f"""
WITH {_BM25_PERDOC_SQL},
scored AS (
  SELECT p.doc_id,
         CAST({" + ".join(
             f"(CASE WHEN tf_{t} > 0 THEN 1 ELSE 0 END)" for t in BM25_TERMS
         )} AS BIGINT) AS grade,
         {" + ".join(_bm25_term_sql(t) for t in BM25_TERMS)} AS s_bm25,
         CAST({" + ".join(f"tf_{t}" for t in BM25_TERMS)} AS DOUBLE) / dl
           AS s_density
  FROM perdoc p CROSS JOIN corpus c
),
a AS (SELECT doc_id, grade, round(s_bm25, 6) AS s FROM scored
      ORDER BY round(s_bm25, 6) DESC, doc_id LIMIT {NDCG_K}),
b AS (SELECT doc_id, grade, s_density AS s FROM scored
      ORDER BY s_density DESC, doc_id LIMIT {NDCG_K}),
ideal AS (SELECT doc_id, grade, CAST(grade AS DOUBLE) AS s FROM scored
          ORDER BY grade DESC, doc_id LIMIT {NDCG_K}),
ar AS (SELECT grade, row_number() OVER (ORDER BY s DESC, doc_id) AS rnk
       FROM a),
br AS (SELECT grade, row_number() OVER (ORDER BY s DESC, doc_id) AS rnk
       FROM b),
ir AS (SELECT grade, row_number() OVER (ORDER BY s DESC, doc_id) AS rnk
       FROM ideal),
dcg AS (
  SELECT 'bm25' AS ranker, CAST(sum(CAST(floor(
           (pow(2.0, grade) - 1.0) / log2(rnk + 1.0)
           * {NDCG_Q}) AS BIGINT)) AS BIGINT) AS dcg_q
  FROM ar
  UNION ALL
  SELECT 'density', CAST(sum(CAST(floor(
           (pow(2.0, grade) - 1.0) / log2(rnk + 1.0)
           * {NDCG_Q}) AS BIGINT)) AS BIGINT)
  FROM br
),
idcg AS (
  SELECT CAST(sum(CAST(floor(
           (pow(2.0, grade) - 1.0) / log2(rnk + 1.0)
           * {NDCG_Q}) AS BIGINT)) AS BIGINT) AS idcg_q
  FROM ir
)
SELECT ranker,
       CAST(dcg_q AS DOUBLE) / {NDCG_Q} AS dcg,
       CAST(idcg_q AS DOUBLE) / {NDCG_Q} AS idcg,
       round(CAST(dcg_q AS DOUBLE) / idcg_q, 6) AS ndcg
FROM dcg CROSS JOIN idcg
"""


@register("ndcg_retrieval_eval", oracle=_NDCG_SQL, category="evaluation")
def ndcg_retrieval_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@{k} of the two retrieval rankers (BM25 vs raw term density)
    against probe-term hit count as the relevance grade — the ranking-
    quality metric a curation pipeline tunes retrievers with (AUC grades
    a classifier; NDCG grades an ORDERING, discounting position by
    1/log2(rank+1)). The ideal list (IDCG) takes the best grades in the
    whole corpus, so NDCG < 1 whenever a ranker surfaces a lower-grade
    doc over an available higher-grade one — BM25's length normalization
    vs density's length bias shows up directly.

    Determinism: each DCG term is a double from identical integer inputs,
    quantized to 1e-12 int64 units BEFORE summation (the
    ``source_vocab_divergence`` discipline) — no cross-engine float
    accumulation. Scale shape: everything reads the ONE pinned per-doc
    stats table; each list is a TakeOrdered top-{k}; rank windows run
    over already-single-partition constant lists (plan audit counts 0)."""
    perdoc = _bm25_perdoc(spark, sf_dir)
    corpus_scored = _bm25_scored(perdoc)  # doc_id, n_terms_hit, score(=bm25)
    tf_sum = sum(
        (F.col(f"tf_{t}") for t in BM25_TERMS[1:]),
        F.col(f"tf_{BM25_TERMS[0]}"),
    )
    density = perdoc.select(
        "doc_id",
        (tf_sum.cast("double") / F.col("dl")).alias("s"),
    )
    a = (
        corpus_scored.select(
            "doc_id", F.col("n_terms_hit").cast("long").alias("grade"),
            F.col("score").alias("s"),
        )
        .orderBy(F.desc("s"), F.asc("doc_id"))
        .limit(NDCG_K)
    )
    hits = corpus_scored.select(
        "doc_id", F.col("n_terms_hit").cast("long").alias("grade")
    )
    b = (
        density.join(hits, "doc_id")
        .orderBy(F.desc("s"), F.asc("doc_id"))
        .limit(NDCG_K)
    )
    ideal = (
        hits.select("doc_id", "grade", F.col("grade").cast("double").alias("s"))
        .orderBy(F.desc("s"), F.asc("doc_id"))
        .limit(NDCG_K)
    )
    wr = W.orderBy(F.desc("s"), F.asc("doc_id"))

    def dcg_q(df: DataFrame, label: str | None) -> DataFrame:
        term = (
            (F.pow(2.0, F.col("grade")) - 1.0)
            / F.log2(F.row_number().over(wr) + 1.0)
        )
        q = df.select(
            F.floor(term * F.lit(NDCG_Q)).cast("long").alias("tq")
        ).agg(F.sum("tq").cast("long").alias("dcg_q" if label else "idcg_q"))
        return q.select(F.lit(label).alias("ranker"), "*") if label else q

    dcg = dcg_q(a, "bm25").unionByName(dcg_q(b, "density"))
    idcg = dcg_q(ideal, None)
    return dcg.crossJoin(F.broadcast(idcg)).select(
        "ranker",
        (F.col("dcg_q").cast("double") / NDCG_Q).alias("dcg"),
        (F.col("idcg_q").cast("double") / NDCG_Q).alias("idcg"),
        F.round(F.col("dcg_q").cast("double") / F.col("idcg_q"), 6).alias("ndcg"),
    )


# ---------------------------------------------------------------------------
# Bigram-LM perplexity filter — round 10
# ---------------------------------------------------------------------------

PPL_TOP_K = 25
PPL_Q = 10**12
PPL_SMOOTH_NUM = 0.5  # add-k smoothing: (c(w1,w2)+k) / (c(w1)+k·V)

_PPL_SQL = f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS tk FROM documents
),
big AS (
  SELECT doc_id,
         unnest(list_slice(tk, 1, len(tk) - 1)) AS w1,
         unnest(list_slice(tk, 2, len(tk))) AS w2
  FROM toks WHERE len(tk) >= 2
),
uni AS (
  SELECT w1 AS w, CAST(count(*) AS BIGINT) AS cu
  FROM big GROUP BY w1
),
v AS (SELECT CAST(count(*) AS BIGINT) AS vsz FROM uni),
bc AS (
  SELECT w1, w2, CAST(count(*) AS BIGINT) AS cb FROM big GROUP BY w1, w2
),
scored AS (
  SELECT b.doc_id,
         CAST(floor(ln((bc.cb + {PPL_SMOOTH_NUM})
                       / (uni.cu + {PPL_SMOOTH_NUM} * v.vsz))
                    * {PPL_Q}) AS BIGINT) AS lq
  FROM big b
  JOIN bc ON bc.w1 = b.w1 AND bc.w2 = b.w2
  JOIN uni ON uni.w = b.w1
  CROSS JOIN v
),
perdoc AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         CAST(sum(lq) AS BIGINT) AS sum_lq
  FROM scored GROUP BY doc_id
)
SELECT doc_id, n_bigrams,
       round(exp(-(CAST(sum_lq AS DOUBLE) / n_bigrams / {PPL_Q})), 4)
         AS perplexity
FROM perdoc
ORDER BY perplexity DESC, doc_id
LIMIT {PPL_TOP_K}
"""


@register("bigram_lm_perplexity_filter", oracle=_PPL_SQL, category="text")
def bigram_lm_perplexity_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity filtering — the classic LLM-corpus quality gate (drop
    documents a language model finds surprising): a corpus-trained
    add-{k} bigram model scores each doc's mean negative log-likelihood
    per bigram, and the {topk} HIGHEST-perplexity docs surface as drop
    candidates (heuristic gates like ``doc_quality_scores`` catch
    malformed text; perplexity catches fluent-but-off-distribution
    text). Self-scoring on the training corpus is the standard
    bootstrap; swap the count tables for a reference corpus's to score
    against clean text.

    Determinism: counts are exact; each token's log term is quantized to
    1e-12 int64 units BEFORE the per-doc sum (the JSD/NDCG discipline)
    so both engines accumulate identically; exp once per doc, rounded at
    4. int64 bound (overflow-audit, r12): per-doc sums of 1e-12-unit
    log terms are safe through ~500k tokens per document; chunk longer
    monolithic docs first (``doc_chunk_windows``) or widen the per-doc
    sum to decimal(38,0) (the ``_unigram_nll`` recipe — corpus-level
    sums there already accumulate wide).
    Scale: bigrams derive ONCE (pinned, array HOF — no quadratic
    explode-join) and feed both the count tables and the scoring join;
    count tables join back by (w1, w2)/(w1) equi-keys — broadcast here,
    shuffle joins at web-corpus vocab. Top-k via TakeOrderedAndProject."""
    docs = read_table(spark, sf_dir, "documents")
    tk = F.split("text", " ")
    big = checkpoint_pinned(
        docs.select("doc_id", tk.alias("tk"))
        .filter(F.size("tk") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.size("tk") - 2),
                    lambda i: F.struct(
                        F.element_at(F.col("tk"), i + 1).alias("w1"),
                        F.element_at(F.col("tk"), i + 2).alias("w2"),
                    ),
                )
            ).alias("bg"),
        )
        .select("doc_id", "bg.w1", "bg.w2")
    )
    # unigram counts over ALL tokens = bigram-w1 counts + one final token
    # per doc; train on the same token stream the bigrams came from: count
    # w1 occurrences (the conditioning context), which is the standard
    # bigram-LM denominator
    uni = big.groupBy(F.col("w1").alias("w")).agg(
        F.count(F.lit(1)).cast("long").alias("cu")
    )
    v = uni.agg(F.count(F.lit(1)).cast("long").alias("vsz"))
    bc = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).cast("long").alias("cb"))
    scored = (
        big.join(F.broadcast(bc), ["w1", "w2"])
        .join(F.broadcast(uni), big["w1"] == uni["w"])
        .crossJoin(F.broadcast(v))
        .select(
            "doc_id",
            F.floor(
                F.log(
                    (F.col("cb") + F.lit(PPL_SMOOTH_NUM))
                    / (F.col("cu") + F.lit(PPL_SMOOTH_NUM) * F.col("vsz"))
                )
                * PPL_Q
            )
            .cast("long")
            .alias("lq"),
        )
    )
    perdoc = scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_bigrams"),
        F.sum("lq").cast("long").alias("sum_lq"),
    )
    return (
        perdoc.select(
            "doc_id",
            "n_bigrams",
            F.round(
                F.exp(
                    -(F.col("sum_lq").cast("double") / F.col("n_bigrams") / PPL_Q)
                ),
                4,
            ).alias("perplexity"),
        )
        .orderBy(F.desc("perplexity"), F.asc("doc_id"))
        .limit(PPL_TOP_K)
    )


bigram_lm_perplexity_filter.__doc__ = bigram_lm_perplexity_filter.__doc__.format(
    k=PPL_SMOOTH_NUM, topk=PPL_TOP_K
)


# ---------------------------------------------------------------------------
# Shared unigram-LM NLL (round 12, continuation): the per-document token-level
# negative log-likelihood both DoReMi and CCNet consume. A corpus-trained
# add-1 unigram model stands in for the proxy/reference LM of the papers —
# any LM order works for the *algorithms* under test (the reweighting /
# bucketing math); the bigram member of the family is
# `bigram_lm_perplexity_filter`, kept untouched on its own scoring model.
# ---------------------------------------------------------------------------

UNLL_SMOOTH = 1.0  # add-1 smoothing: (c(w) + 1) / (N + V)

_UNLL_CTES = f"""tok AS (
  SELECT doc_id, source, lang, unnest(string_split(text, ' ')) AS w
  FROM documents
),
uni AS (SELECT w, CAST(count(*) AS BIGINT) AS cw FROM tok GROUP BY w),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n_all FROM tok),
v AS (SELECT CAST(count(*) AS BIGINT) AS vsz FROM uni),
unll_scored AS (
  SELECT t.doc_id, t.source, t.lang,
         CAST(floor(ln((uni.cw + {UNLL_SMOOTH})
                       / (tot.n_all + {UNLL_SMOOTH} * v.vsz))
                    * {PPL_Q}) AS BIGINT) AS lq
  FROM tok t
  JOIN uni USING (w)
  CROSS JOIN tot
  CROSS JOIN v
),
unll AS (
  SELECT doc_id, source, lang, CAST(count(*) AS BIGINT) AS n_tokens,
         sum(lq) AS sum_lq
  FROM unll_scored GROUP BY doc_id, source, lang
)"""


def _unigram_nll(docs: DataFrame) -> DataFrame:
    """Per-document unigram-LM NLL over any (doc_id, source, lang, text)
    DataFrame: each token's log-likelihood under the corpus-trained add-1
    unigram model is quantized to {PPL_Q}^-1 int64 units BEFORE the
    per-doc sum (the `bigram_lm_perplexity_filter` discipline), so both
    engines accumulate identically in any order. Returns (doc_id, source,
    lang, n_tokens, sum_lq).

    Scale: the token table derives once and is pinned (three consumers:
    count tables + scoring join); the count tables join back broadcast
    here, shuffle equi-joins at web-corpus vocab. At 100 TB pin becomes
    persist(DISK_ONLY) of the token table — or re-derive it per consumer
    and trade one extra scan for no materialization; either way the model
    tables stay tiny relative to the corpus."""
    tok = checkpoint_pinned(
        docs.select(
            "doc_id",
            "source",
            "lang",
            F.explode(F.split("text", " ")).alias("w"),
        )
    )
    uni = tok.groupBy("w").agg(F.count(F.lit(1)).cast("long").alias("cw"))
    tot = tok.agg(F.count(F.lit(1)).cast("long").alias("n_all"))
    v = uni.agg(F.count(F.lit(1)).cast("long").alias("vsz"))
    scored = (
        tok.join(F.broadcast(uni), "w")
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(v))
        .select(
            "doc_id",
            "source",
            "lang",
            F.floor(
                F.log(
                    (F.col("cw") + F.lit(UNLL_SMOOTH))
                    / (F.col("n_all") + F.lit(UNLL_SMOOTH) * F.col("vsz"))
                )
                * PPL_Q
            )
            .cast("long")
            .alias("lq"),
        )
    )
    # sum_lq stays a WIDE exact integer (decimal(38,0) here, DuckDB's
    # natural HUGEINT on the oracle side): per-token lq is ~1.6e13 in
    # 1e-12 units, so an int64 sum overflows near ~575k tokens per
    # summed group — the 10× pillar probe's ~10M-token corpus blew the
    # global reference sum in doremi_domain_weights. Downstream
    # consumers divide by a count and round, so the wide type never
    # reaches an output column.
    return scored.groupBy("doc_id", "source", "lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.sum(F.col("lq").cast("decimal(38,0)")).alias("sum_lq"),
    )


_unigram_nll.__doc__ = _unigram_nll.__doc__.format(PPL_Q=PPL_Q)


# ---------------------------------------------------------------------------
# DoReMi domain reweighting (round 12, continuation)
# ---------------------------------------------------------------------------

DOREMI_ETA = 1.0  # EG step size on per-domain excess loss (nats/token)
# Clip excess at 20 nats/token before the exp (DoReMi implementations
# bound the per-step loss): keeps e_micro = round(1e6·e^(η·excess))
# inside int64 for ANY corpus — an all-unique-token domain against a
# one-token-dominated reference can reach excess ≈ ln(N+V) ≈ 35 nats,
# where the unclipped exp would overflow the micro-int.
DOREMI_EXCESS_CAP_Q = 20 * PPL_Q
DOREMI_CMIX_MICRO = 100_000  # uniform-mix c = 0.1 in micro units

_DOREMI_SQL = f"""
WITH {_UNLL_CTES},
dom AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
         sum(sum_lq) AS sum_lq
  FROM unll GROUP BY source
),
domq AS (
  SELECT source, n_docs, n_tokens,
         CAST(round(-CAST(sum_lq AS DOUBLE) / CAST(n_tokens AS DOUBLE))
              AS BIGINT) AS nll_q
  FROM dom
),
ref AS (
  SELECT CAST(round(-CAST(sum(sum_lq) AS DOUBLE)
                    / CAST(sum(n_tokens) AS DOUBLE)) AS BIGINT) AS ref_q
  FROM dom
),
ex AS (
  SELECT d.source, d.n_docs, d.n_tokens, d.nll_q,
         least(CAST({DOREMI_EXCESS_CAP_Q} AS BIGINT),
               greatest(CAST(0 AS BIGINT), d.nll_q - r.ref_q)) AS excess_q
  FROM domq d CROSS JOIN ref r
),
em AS (
  SELECT *, CAST(round(1000000.0 * exp({DOREMI_ETA}
                       * CAST(excess_q AS DOUBLE) / {PPL_Q})) AS BIGINT)
            AS e_micro
  FROM ex
),
tote AS (
  SELECT CAST(sum(e_micro) AS BIGINT) AS tot_e,
         CAST(count(*) AS BIGINT) AS n_dom
  FROM em
)
SELECT em.source, em.n_docs, em.n_tokens, em.nll_q, em.excess_q,
       CAST(round((({1_000_000} - {DOREMI_CMIX_MICRO})
                   * CAST(round(1000000.0 * em.e_micro / t.tot_e) AS BIGINT)
                   + {DOREMI_CMIX_MICRO}
                   * CAST(round(1000000.0 / t.n_dom) AS BIGINT))
                  / 1000000.0) AS BIGINT) AS weight_micro
FROM em CROSS JOIN tote t
"""


@register("doremi_domain_weights", oracle=_DOREMI_SQL, category="text")
def doremi_domain_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DoReMi domain reweighting (Xie et al. 2023, arXiv:2305.10429): the
    published data-mixture algorithm — one exact exponentiated-gradient
    update of the domain weights from uniform init, driven by per-domain
    EXCESS loss (domain mean NLL minus the reference mean NLL, floored at
    0 per the paper's clipping and capped at 20 nats/token so the
    quantized exp stays inside int64 on any corpus), then smoothing-mixed
    with uniform
    (w = (1-c)·softmax + c·u, c = {c}). The corpus-trained add-1 unigram
    LM stands in for the proxy/reference models (the reweighting update
    is the operator under test; DoReMi's outer proxy-retraining loop
    swaps the loss columns, not this plan). Completes the mixture family:
    `source_mixture_weights` sizes sources heuristically,
    `dsir_importance_select` picks instances, DoReMi *learns* the domain
    mixture from losses.

    Cross-engine exactness: token log-probs quantized to int64 before
    any sum (shared `_unigram_nll`); per-domain NLL is one rounded
    division of exact integer sums; ONE exp per domain quantized to
    micro-int immediately (the `quality_classifier_gd` recipe); the
    normalize and the uniform-mix are each one rounded division of
    integer products — DuckDB replays every step bit-for-bit.

    Output: one row per domain — doc/token counts, mean NLL (1e-12
    units), clipped excess, final mixture weight (micro, Σ ≈ 1e6).

    Scale: per-domain rows number |domains| (tens), so everything after
    the shared NLL aggregation is broadcast 1-row/K-row algebra — the
    corpus is touched once; the EG step costs the same at 100 TB.
    """
    return doremi_weights(read_table(spark, sf_dir, "documents"))


def doremi_weights(docs: DataFrame) -> DataFrame:
    """Core of ``doremi_domain_weights`` over any (doc_id, source, lang,
    text) DataFrame — factored out so the pytest can plant an
    out-of-distribution domain and prove the EG step upweights it."""
    dom = checkpoint_pinned(
        _unigram_nll(docs)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
            # exact wide sum — see the overflow note in _unigram_nll
            F.sum("sum_lq").alias("sum_lq"),
        )
    )
    domq = dom.select(
        "source",
        "n_docs",
        "n_tokens",
        F.round(-F.col("sum_lq").cast("double") / F.col("n_tokens").cast("double"))
        .cast("long")
        .alias("nll_q"),
    )
    ref = dom.agg(
        F.round(
            -F.sum("sum_lq").cast("double") / F.sum("n_tokens").cast("double")
        )
        .cast("long")
        .alias("ref_q")
    )
    ex = domq.crossJoin(F.broadcast(ref)).select(
        "source",
        "n_docs",
        "n_tokens",
        "nll_q",
        F.least(
            F.lit(DOREMI_EXCESS_CAP_Q).cast("long"),
            F.greatest(F.lit(0).cast("long"), F.col("nll_q") - F.col("ref_q")),
        ).alias("excess_q"),
    )
    em = ex.withColumn(
        "e_micro",
        F.round(
            F.lit(1_000_000.0)
            * F.exp(F.lit(DOREMI_ETA) * F.col("excess_q").cast("double") / PPL_Q)
        ).cast("long"),
    )
    tote = em.agg(
        F.sum("e_micro").cast("long").alias("tot_e"),
        F.count(F.lit(1)).cast("long").alias("n_dom"),
    )
    norm = F.round(F.lit(1_000_000.0) * F.col("e_micro") / F.col("tot_e")).cast(
        "long"
    )
    u = F.round(F.lit(1_000_000.0) / F.col("n_dom")).cast("long")
    return em.crossJoin(F.broadcast(tote)).select(
        "source",
        "n_docs",
        "n_tokens",
        "nll_q",
        "excess_q",
        F.round(
            (
                (F.lit(1_000_000) - F.lit(DOREMI_CMIX_MICRO)) * norm
                + F.lit(DOREMI_CMIX_MICRO) * u
            )
            / F.lit(1_000_000.0)
        )
        .cast("long")
        .alias("weight_micro"),
    )


doremi_domain_weights.__doc__ = doremi_domain_weights.__doc__.format(
    c=DOREMI_CMIX_MICRO / 1_000_000
)


# ---------------------------------------------------------------------------
# CCNet perplexity bucketing (round 12, continuation)
# ---------------------------------------------------------------------------

CCNET_NTILES = 3  # head / middle / tail, per the paper

_CCNET_SQL = f"""
WITH {_UNLL_CTES},
pd AS (
  SELECT doc_id, lang,
         CAST(round(-CAST(sum_lq AS DOUBLE) / CAST(n_tokens AS DOUBLE))
              AS BIGINT) AS nll_q
  FROM unll
),
nt AS (
  SELECT lang, nll_q,
         CASE ntile({CCNET_NTILES})
                OVER (PARTITION BY lang ORDER BY nll_q, doc_id)
           WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END
           AS bucket
  FROM pd
)
SELECT lang, bucket,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(min(nll_q) AS BIGINT) AS nll_min_q,
       CAST(max(nll_q) AS BIGINT) AS nll_max_q,
       CAST(round(CAST(sum(nll_q) AS DOUBLE) / count(*)) AS BIGINT)
         AS nll_mean_q,
       round(exp(CAST(max(nll_q) AS DOUBLE) / {PPL_Q}), 4) AS ppl_max
FROM nt GROUP BY lang, bucket
"""


@register("ccnet_perplexity_buckets", oracle=_CCNET_SQL, category="text")
def ccnet_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet perplexity bucketing (Wenzek et al. 2020, arXiv:1911.00359):
    the web-corpus curation step that splits each language's documents
    into head / middle / tail terciles by LM perplexity — deployments
    keep head+middle and drop (or down-sample) the tail. Per-doc score =
    mean token NLL under the shared add-1 unigram model (`_unigram_nll`;
    CCNet's KenLM 5-gram swaps in as the loss column, not a plan change);
    tercile = ntile({n}) per language over (NLL asc, doc_id) — fully
    deterministic, and ANSI ntile splits identically on both engines.
    The per-language member of the filtering family:
    `bigram_lm_perplexity_filter` flags a global top-k,
    `doc_quality_scores` gates heuristically, CCNet *stratifies*.

    Output: per (lang, bucket) — doc count, NLL min/max/mean (1e-12
    units, exact-integer extrema and one rounded division for the mean)
    and the bucket's worst perplexity (one exp of an exact integer,
    rounded at 4 — the dashboard column).

    Scale: one corpus scan into the shared NLL aggregate, then a window
    partitioned BY LANGUAGE (never single-partition) over doc-level
    rows and one combinable (lang, bucket) aggregate. Per-language doc
    counts are web-scale but the window state is one row — ntile is a
    streaming rank; skewed languages (English) shard fine because ntile
    needs only partition-local counts (AQE handles the skewed sort).
    """
    return ccnet_buckets(read_table(spark, sf_dir, "documents"))


def ccnet_buckets(docs: DataFrame) -> DataFrame:
    """Core of ``ccnet_perplexity_buckets`` over any (doc_id, source,
    lang, text) DataFrame — factored out so the pytest can plant fluent
    vs gibberish documents and prove the tercile order."""
    perdoc = _unigram_nll(docs)
    pd2 = perdoc.select(
        "doc_id",
        "lang",
        F.round(
            -F.col("sum_lq").cast("double") / F.col("n_tokens").cast("double")
        )
        .cast("long")
        .alias("nll_q"),
    )
    wn = W.partitionBy("lang").orderBy(F.asc("nll_q"), F.asc("doc_id"))
    nt = pd2.withColumn("b", F.ntile(CCNET_NTILES).over(wn))
    return nt.groupBy(
        "lang",
        F.when(F.col("b") == 1, F.lit("head"))
        .when(F.col("b") == 2, F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("bucket"),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.min("nll_q").cast("long").alias("nll_min_q"),
        F.max("nll_q").cast("long").alias("nll_max_q"),
        # wide exact sum for the mean — see the overflow note in _unigram_nll
        F.round(
            F.sum(F.col("nll_q").cast("decimal(38,0)")).cast("double")
            / F.count(F.lit(1))
        )
        .cast("long")
        .alias("nll_mean_q"),
        F.round(F.exp(F.max("nll_q").cast("double") / PPL_Q), 4).alias(
            "ppl_max"
        ),
    )


ccnet_perplexity_buckets.__doc__ = ccnet_perplexity_buckets.__doc__.format(
    n=CCNET_NTILES
)

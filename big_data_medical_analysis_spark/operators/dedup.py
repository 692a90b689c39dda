"""Deduplication pillar over the ``documents`` table (SURVEY.md §2.3,
north-star "dedup" pillar): exact content-hash dedup, n-gram Jaccard,
SimHash, and banded MinHash-LSH near-duplicate candidates.

The tiering is how 100 TB training-data dedup actually works:

1. **Exact** (``docs_exact_dedup``): group by a normalized content hash,
   keep a deterministic representative (min doc_id). Zero joins — one hash
   aggregate; the hash is the shuffle key, so the reduce side only ever sees
   ~|unique| rows. The reference's own dedup is the key-based special case
   (``dropDuplicates(["Path"])``, src/preprocessing_pipeline.py:280-283).
2. **SimHash** (``simhash_near_dup``): one 32-bit bit-majority fingerprint
   per doc from md5 token hashes — a single linear scan with *no* list
   columns surviving it — then cheap integer Hamming-distance pairing within
   a block. Fully oracle-checked: md5 is bit-identical across engines and
   everything else is integer arithmetic.
3. **n-gram Jaccard** (``ngram_jaccard_pairs``): exact trigram-shingle
   Jaccard for a probe set against same-language candidates — the exactness
   baseline the approximate tiers are validated against.
4. **MinHash-LSH** (``minhash_lsh_candidates``): shingle → HashingTF →
   banded MinHash candidate pairs via ``approxSimilarityJoin`` — the
   at-scale path: only same-band pairs are compared, never all-pairs.
   Engine-RNG hash families ⇒ rows-only check; recall on planted duplicates
   is property-tested in tests/test_dedup.py.
5. **Clustering** (``dedup_components``): connected components over the
   near-dup pairs — the transitive-closure step that turns pairs into one
   keeper per duplicate cluster.
"""

from __future__ import annotations

import itertools
import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from big_data_medical_analysis_spark.operators.common import (
    checkpoint_pinned,
    es_key,
    explode_nonnull_pinned,
    fan_out,
    md5_int,
)
from big_data_medical_analysis_spark.registry import register
from big_data_medical_analysis_spark.sources.readers import read_table

# Calibrated against the synthetic corpus: same-language docs share heavy
# vocabulary, so a 16-bit simhash saturates (88% of pairs within distance 3);
# 32 bits with hdist ≤ 2 isolates the genuinely near-duplicate tail, matching
# the token-Jaccard ≥ 0.8 population.
SIMHASH_BITS = 32
SIMHASH_MAX_HDIST = 2
# bands for the pigeonhole pairing join; any value > SIMHASH_MAX_HDIST keeps
# the banded candidate set lossless (a qualifying pair differs in at most
# MAX_HDIST bands, so at least one of the BANDS bands matches exactly)
SIMHASH_BANDS = 4
JACCARD_THRESHOLD = 0.8
N_JACCARD_PROBES = 50


def normalized_fingerprint(text: Column | str) -> Column:
    """Whitespace/case-normalized md5 — the portable content key
    (same convention as text_analysis.doc_fingerprints)."""
    return F.md5(F.lower(F.trim(F.regexp_replace(text, r"\s+", " "))))


# ---------------------------------------------------------------------------
# 1. Exact content-hash dedup
# ---------------------------------------------------------------------------

_EXACT_DEDUP_SQL = """
SELECT fp, min(doc_id) AS keeper_doc_id, count(*) AS n_copies
FROM (
  SELECT md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fp, doc_id
  FROM (SELECT * FROM documents UNION ALL SELECT * FROM documents)
)
GROUP BY fp
"""


@register("docs_exact_dedup", oracle=_EXACT_DEDUP_SQL, category="dedup")
def docs_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by normalized content hash over a deliberately doubled
    input (the corpus itself has no exact dups): one hash aggregate keyed on
    the fingerprint, with min(doc_id) as the deterministic representative.

    This is the 100 TB-shaped exact dedup: the 32-byte fingerprint is the
    shuffle key (not the document body), partial aggregation collapses
    copies map-side, and representative selection is an aggregate — never a
    window over the full corpus.
    """
    docs = read_table(spark, sf_dir, "documents")
    doubled = docs.unionAll(docs)
    return (
        doubled.select(
            normalized_fingerprint("text").alias("fp"), "doc_id"
        )
        .groupBy("fp")
        .agg(
            F.min("doc_id").alias("keeper_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


# ---------------------------------------------------------------------------
# 2. SimHash near-dup (linear fingerprint + integer Hamming pairing)
# ---------------------------------------------------------------------------


def _token_hashes(text: Column | str) -> Column:
    """Distinct whitespace tokens → int64 hashes (first 8 md5 hex chars).

    md5 is the only engine-portable hash in both Spark and DuckDB; the
    32-bit prefix is plenty for bit-majority voting.
    """
    toks = F.array_distinct(F.split(text, " "))
    return F.transform(toks, lambda t: md5_int(t))


def simhash(hashes: Column) -> Column:
    """Bit-majority SimHash over pre-materialized token hashes.

    bit b of the fingerprint is set iff more than half the token hashes have
    bit b set. SIMHASH_BITS filtered counts over one in-memory array column —
    a single projection, no explode, no shuffle.
    """
    n = F.size(hashes)

    def _bit_set(mask: int):
        # One-arg lambda via closure: a `m=...` default parameter would make
        # PySpark treat this as a 2-arg (value, index) lambda and bind the
        # index Column to m (the language_id_markers arity trap).
        mask_lit = F.lit(mask)
        return lambda x: x.bitwiseAND(mask_lit) != 0

    bits = []
    for b in range(SIMHASH_BITS):
        mask = 1 << b
        nb = F.size(F.filter(hashes, _bit_set(mask)))
        bits.append(F.when(nb * 2 > n, F.lit(mask)).otherwise(F.lit(0)))
    out = bits[0]
    for bexpr in bits[1:]:
        out = out + bexpr
    return out.cast("long")


def _simhash_bit_sql() -> str:
    terms = []
    for b in range(SIMHASH_BITS):
        mask = 1 << b
        terms.append(
            f"CASE WHEN 2 * len(list_filter(hs, x -> (x & {mask}) <> 0)) > len(hs) "
            f"THEN {mask} ELSE 0 END"
        )
    return " + ".join(terms)


# CTE prefix shared by the simhash pair oracle and the connected-components
# oracle built on top of those pairs.
_SIMHASH_FP_CTES = f"""hashed AS (
  SELECT doc_id, lang,
         list_transform(list_distinct(string_split(text, ' ')),
                        t -> CAST(concat('0x', substr(md5(t), 1, 8)) AS BIGINT))
           AS hs
  FROM documents
), fp AS (
  SELECT doc_id, lang, CAST({_simhash_bit_sql()} AS BIGINT) AS simhash
  FROM hashed
)"""

_SIMHASH_SQL = f"""
WITH {_SIMHASH_FP_CTES}
SELECT a.lang AS lang, a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hdist
FROM fp a JOIN fp b ON a.lang = b.lang AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {SIMHASH_MAX_HDIST}
"""


def simhash_pairs(docs: DataFrame) -> DataFrame:
    """(lang, doc_a, doc_b, hdist) SimHash near-duplicate pairs: Hamming
    distance ≤ SIMHASH_MAX_HDIST on a 32-bit bit-majority fingerprint,
    blocked by language — paired via the banded (pigeonhole) join, which is
    lossless at this threshold and linear-shuffle at any corpus size.

    Fingerprinting is one linear projection; pairing carries only
    (doc_id, lang, int64) — the document bodies never reach the join, and
    nothing is broadcast: candidates come from an equi-join on
    (lang, band_idx, band_val), so the same plan runs unchanged at 100 TB.
    """
    # The expensive 32-bit-majority projection is computed ONCE and
    # localCheckpointed: the fan_out spreads the single-file scan across
    # all tasks before the heavy HOF work (a small local parquet scans as
    # one task), and the checkpoint materializes the finished 24-byte
    # (doc_id, lang, fingerprint) rows so (a) CollapseProject can't fold
    # the 32-pass derivation into the band Generate, and (b) the banded
    # SELF-join's two branches read the same materialized rows instead of
    # each re-running the whole chain over the corpus — measured r9: the
    # executed plan carried TWO parquet scans and zero ReusedExchange (the
    # r8 basket-rescan class; an exchange sandwich alone did not
    # canonicalize to a reused subtree across the join branches). At
    # 100 TB the equivalent is persist(DISK_ONLY) of the fingerprint
    # table — same as the mining-family baskets.
    fp = (
        fan_out(docs.select("doc_id", "lang", "text"), "doc_id")
        .select("doc_id", "lang", _token_hashes("text").alias("hs"))
        .select("doc_id", "lang", simhash(F.col("hs")).alias("simhash"))
        .transform(checkpoint_pinned)
    )
    # Banded pairing — the 100 TB form, and EXACT by pigeonhole: a pair at
    # Hamming distance ≤ SIMHASH_MAX_HDIST differs in at most
    # SIMHASH_MAX_HDIST bands, so with SIMHASH_BANDS > SIMHASH_MAX_HDIST it
    # matches at least one band exactly. Candidates come from an equi-join
    # on (lang, band_idx, band_val) — a plain shuffle on a high-cardinality
    # key, no broadcast of the corpus, no all-pairs comparison; work is
    # Σ|band bucket|², concentrated exactly where near-duplicates are.
    band_width = SIMHASH_BITS // SIMHASH_BANDS
    bands = F.array(
        *[
            F.shiftrightunsigned(F.col("simhash"), band_width * i).bitwiseAND(
                F.lit((1 << band_width) - 1)
            )
            for i in range(SIMHASH_BANDS)
        ]
    )
    # Each banded row carries the FULL band array so the self-join emits
    # every colliding pair exactly ONCE, at its first colliding band
    # (``first_colliding_band``) — no corpus-pair-sized ``distinct()``
    # exchange. Same move as ``pmh_banded_buckets``'s ``with_bkts``.
    banded = (
        fp.select("doc_id", "lang", "simhash", bands.alias("bds"))
        .select(
            "doc_id",
            "lang",
            "simhash",
            "bds",
            F.posexplode_outer("bds").alias("band_idx", "band_val"),
        )
        .filter(F.col("band_idx").isNotNull())
    )
    a = banded.select(
        "lang", "band_idx", "band_val",
        F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sh_a"),
        F.col("bds").alias("bds_a"),
    )
    b = banded.select(
        F.col("lang").alias("lang_b"),
        F.col("band_idx").alias("band_idx_b"),
        F.col("band_val").alias("band_val_b"),
        F.col("doc_id").alias("doc_b"),
        F.col("simhash").alias("sh_b"),
        F.col("bds").alias("bds_b"),
    )
    cand = a.join(
        b,
        (F.col("lang") == F.col("lang_b"))
        & (F.col("band_idx") == F.col("band_idx_b"))
        & (F.col("band_val") == F.col("band_val_b"))
        & (F.col("doc_a") < F.col("doc_b"))
        & first_colliding_band("bds_a", "bds_b", "band_idx"),
    ).select("lang", "doc_a", "doc_b", "sh_a", "sh_b")
    hdist = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))).cast("int")
    return cand.select("lang", "doc_a", "doc_b", hdist.alias("hdist")).filter(
        F.col("hdist") <= SIMHASH_MAX_HDIST
    )


@register("simhash_near_dup", oracle=_SIMHASH_SQL, category="dedup")
def simhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-duplicate pairs over the documents table — see
    ``simhash_pairs`` for the banded, 100 TB-shaped pairing design."""
    return simhash_pairs(read_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# 3. Exact n-gram Jaccard (probe set vs same-language candidates)
# ---------------------------------------------------------------------------


def shingles(text: Column | str, n: int = 1) -> Column:
    """Distinct word n-gram shingles as an array<string> column.

    n=1 (token sets) is the default for the registered queries: the synthetic
    corpus's planted near-duplicates are word-order permutations, which any
    n≥2 shingle destroys (trigram Jaccard tops out at 0.03 where token-set
    Jaccard hits 1.0). Real pipelines pick n per dup-model; the operator is
    n-generic.
    """
    if n == 1:
        return F.array_distinct(F.split(text, " "))
    return shingles_from_tokens(F.split(text, " "), n)


def shingles_from_tokens(toks: Column | str, n: int) -> Column:
    """Distinct word n-gram shingles from an ALREADY-SPLIT token array.

    Split-then-shingle must be two stages separated by an exchange when the
    corpus is hot: higher-order functions are interpreted (not codegen'd)
    and do NOT common-subexpression-eliminate across lambda invocations, so
    ``shingles(split(text))`` re-runs the split for every ``element_at`` —
    O(positions·n) regex splits per document (measured: 3.9s for 5000 docs
    at sf0.1 vs ~0.4s with the token array materialized first)."""
    toks = F.col(toks) if isinstance(toks, str) else toks
    grams = F.transform(
        F.sequence(F.lit(0), F.size(toks) - n),
        lambda i: F.concat_ws(" ", *[F.element_at(toks, i + k + 1) for k in range(n)]),
    )
    # guard docs shorter than n tokens: sequence(0, negative) is a
    # DESCENDING sequence in Spark, so the unguarded form would call
    # element_at(toks, 0) (1-based API → runtime error). Such docs have
    # zero n-shingles by definition. NULL input stays NULL (size(NULL) is
    # -1, which would otherwise fall through to the empty array and
    # diverge from the n=1 path's NULL-propagating array_distinct(split)).
    return (
        F.when(toks.isNull(), F.lit(None).cast("array<string>"))
        .when(F.size(toks) >= n, F.array_distinct(grams))
        .otherwise(F.array().cast("array<string>"))
    )


_JACCARD_SQL = f"""
WITH sh AS (
  SELECT doc_id, lang,
         list_distinct(string_split(text, ' ')) AS grams
  FROM documents
)
SELECT a.doc_id AS probe_id, b.doc_id AS cand_id,
       round(CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
             / (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams))),
             6) AS jaccard
FROM sh a JOIN sh b ON a.lang = b.lang AND a.doc_id <> b.doc_id
WHERE a.doc_id < {N_JACCARD_PROBES}
  AND round(CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
            / (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams))),
            6) >= {JACCARD_THRESHOLD}
"""


@register("ngram_jaccard_pairs", oracle=_JACCARD_SQL, category="dedup")
def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact token-shingle Jaccard: {N_JACCARD_PROBES} probe docs against
    all same-language candidates, keeping pairs ≥ {JACCARD_THRESHOLD}.

    The exactness baseline for the approximate tiers. Probe-bounded so the
    pair count is |probes|·|block|, linear in corpus size; at 100 TB the
    probe side is whatever LSH candidate generation emits.
    """
    docs = read_table(spark, sf_dir, "documents")
    # fan_out the candidate side: the probe side broadcasts, so candidate
    # scan parallelism is the only parallelism this join has.
    sh = fan_out(docs, "doc_id").select(
        "doc_id", "lang", shingles("text").alias("grams")
    )
    a = sh.filter(F.col("doc_id") < N_JACCARD_PROBES).select(
        F.col("doc_id").alias("probe_id"),
        F.col("lang"),
        F.col("grams").alias("grams_a"),
    )
    b = sh.select(
        F.col("doc_id").alias("cand_id"),
        F.col("lang").alias("lang_b"),
        F.col("grams").alias("grams_b"),
    )
    inter = F.size(F.array_intersect("grams_a", "grams_b"))
    union = F.size("grams_a") + F.size("grams_b") - inter
    return (
        F.broadcast(a)
        .join(
            b,
            (F.col("lang") == F.col("lang_b"))
            & (F.col("probe_id") != F.col("cand_id")),
        )
        .select(
            "probe_id",
            "cand_id",
            F.round(inter.cast("double") / union, 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
    )


# ---------------------------------------------------------------------------
# 4. MinHash-LSH banded candidates (the at-scale approximate path)
# ---------------------------------------------------------------------------


def minhash_candidate_pairs(
    docs: DataFrame,
    jaccard_dist_threshold: float = 0.2,
    num_hash_tables: int = 3,
    num_features: int = 1 << 18,
    seed: int = 42,
    probes: DataFrame | None = None,
) -> DataFrame:
    """Shingle → HashingTF → MinHashLSH banded candidate pairs.

    ``approxSimilarityJoin`` explodes each doc by hash table, shuffles on
    (table, minhash band) and compares only co-bucketed pairs. NOTE the cost
    model honestly: the *output* (and hence the join) is proportional to the
    number of true near-dup pairs — on a corpus where most same-topic docs
    overlap (this synthetic one; or any crawl before its first dedup pass),
    a full self-join is inherently quadratic in the dup-cluster sizes, no
    matter how good the bucketing is. Production shape: either (a) probe a
    new batch against the corpus (pass ``probes``: linear per batch), or
    (b) emit dedup *groups* instead of pairs (``minhash_band_groups`` below:
    one scan, no join at all). Output: (doc_a, doc_b, jaccard_dist) under
    the distance threshold.
    """
    from pyspark.ml.feature import HashingTF, MinHashLSH

    sh = fan_out(docs, "doc_id").select(
        "doc_id", shingles("text").alias("grams")
    ).filter(F.size("grams") > 0)
    tf = HashingTF(
        inputCol="grams", outputCol="features", numFeatures=num_features
    )
    feats = tf.transform(sh)
    lsh = MinHashLSH(
        inputCol="features",
        outputCol="hashes",
        numHashTables=num_hash_tables,
        seed=seed,
    )
    model = lsh.fit(feats)
    left = feats if probes is None else tf.transform(
        probes.select("doc_id", shingles("text").alias("grams")).filter(
            F.size("grams") > 0
        )
    )
    joined = model.approxSimilarityJoin(
        left, feats, jaccard_dist_threshold, distCol="jaccard_dist"
    )
    return (
        joined.filter(F.col("datasetA.doc_id") < F.col("datasetB.doc_id"))
        .select(
            F.col("datasetA.doc_id").alias("doc_a"),
            F.col("datasetB.doc_id").alias("doc_b"),
            F.round("jaccard_dist", 6).alias("jaccard_dist"),
        )
    )


N_MINHASH_PROBES = 100


@register("minhash_lsh_candidates", oracle=None, category="dedup")
def minhash_lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidate pairs for a probe batch (doc_id <
    {N_MINHASH_PROBES}) against the full corpus — the incremental-dedup
    shape whose cost is linear in corpus size per batch. Rows-only check:
    MinHash families are engine-RNG; recall against planted dups is
    property-tested in tests/test_dedup.py. Full-corpus dedup at scale goes
    through ``minhash_band_groups`` (pairs on a dup-dense corpus are
    inherently quadratic — see minhash_candidate_pairs's cost note).
    """
    docs = read_table(spark, sf_dir, "documents")
    probes = docs.filter(F.col("doc_id") < N_MINHASH_PROBES)
    return minhash_candidate_pairs(docs, probes=probes)


MINHASH_ROWS_PER_BAND = 4
MINHASH_BANDS = 4


def minhash_signature(text: Column | str, n_hashes: int) -> Column:
    """n_hashes-wide MinHash signature as a pure Catalyst expression:
    component j = min over token shingles of ``xxhash64(token, j)``.
    One projection — no ml estimator, no explode, no shuffle."""
    toks = F.array_distinct(F.split(text, " "))

    def _hash_with(j: int):
        # closure, NOT a default parameter: PySpark reads lambda arity and
        # would bind a `j=` default to the element-index Column
        jl = F.lit(j)
        return lambda t: F.xxhash64(t, jl)

    return F.array(
        *[F.array_min(F.transform(toks, _hash_with(j))) for j in range(n_hashes)]
    )


@register("minhash_band_groups", oracle=None, category="dedup")
def minhash_band_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-corpus near-dedup at scale: banded MinHash *group* detection.

    Signature (BANDS×ROWS components) is one linear scan; each band's slice
    hashes to a bucket key; docs sharing any band bucket are near-dup
    candidates. Emitting per-bucket groups (count + representative doc_id)
    instead of pairwise matches keeps cost O(N·BANDS) even when dup
    clusters are huge — the pair list a quadratic self-join would emit is
    recoverable per group on demand. Output: per-band collision profile
    (buckets with ≥2 docs, their sizes, min doc_id as keeper).
    Rows-only: xxhash64 signatures are engine-specific.
    """
    docs = read_table(spark, sf_dir, "documents")
    n_hashes = MINHASH_BANDS * MINHASH_ROWS_PER_BAND
    # exchange sandwich (see simhash_near_dup): inner fan_out spreads the
    # 16-component signature scan, outer fan_out materializes `sig` so the
    # band explode below doesn't re-derive it per band.
    sig = fan_out(
        fan_out(docs.select("doc_id", "text"), "doc_id").select(
            "doc_id", minhash_signature("text", n_hashes).alias("sig")
        ),
        "doc_id",
    )
    banded = sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(
                            *[
                                F.element_at(
                                    "sig", b * MINHASH_ROWS_PER_BAND + r + 1
                                )
                                for r in range(MINHASH_ROWS_PER_BAND)
                            ]
                        ).alias("bucket"),
                    )
                    for b in range(MINHASH_BANDS)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "bb.band", "bb.bucket")
    return (
        banded.groupBy("band", "bucket")
        .agg(
            F.count(F.lit(1)).alias("group_size"),
            F.min("doc_id").alias("keeper_doc_id"),
        )
        .filter(F.col("group_size") >= 2)
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_dup_buckets"),
            F.sum("group_size").alias("n_docs_in_dup_buckets"),
            F.max("group_size").alias("max_group"),
            F.min("keeper_doc_id").alias("first_keeper"),
        )
    )


# ---------------------------------------------------------------------------
# 4b. Portable MinHash banding (full value oracle)
# ---------------------------------------------------------------------------

# Same band geometry as the xxhash64 tier above; hash family j is the first
# 32 bits of md5(token ':' j) — bit-identical in any engine with md5, which
# is what turns the banded-group output into a full value oracle.
PMH_ROWS_PER_BAND = 4
PMH_BANDS = 4


def _pmh_component(j: int) -> Column:
    """MinHash component j over a ``toks`` column (a doc's distinct
    tokens): min of ``md5_int(token ':' j)``. DuckDB twin:
    ``_pmh_component_sql``."""
    jl = F.lit(f":{j}")
    return F.array_min(F.transform(F.col("toks"), lambda t: md5_int(F.concat(t, jl))))


def _pmh_component_sql(j: int) -> str:
    return (
        "list_min(list_transform(toks, t -> CAST(concat('0x', "
        f"substr(md5(concat(t, ':{j}')), 1, 8)) AS BIGINT))) AS h{j}"
    )


def _pmh_bucket_sql(b: int) -> str:
    cols = ", ".join(
        f"CAST(h{b * PMH_ROWS_PER_BAND + r} AS VARCHAR)"
        for r in range(PMH_ROWS_PER_BAND)
    )
    return f"SELECT doc_id, {b} AS band, md5(concat_ws(',', {cols})) AS bucket FROM sig"


def pmh_banded_buckets(
    docs: DataFrame,
    carry: tuple[str, ...] = (),
    with_tsz: bool = False,
    with_bkts: bool = False,
) -> DataFrame:
    """(doc_id, band, bucket) on the portable md5 MinHash family — shared by
    the banded-group query and the split-leakage audit. One HOF scan for the
    16 components, a 4-way band explode, no shuffle.

    Round 16 (optimization, guide §2.3/§2.4 — shuffle keys+metadata, remove
    joins outright): callers that used to JOIN per-doc metadata back onto
    the banded rows (split flags, token sizes, sources) can now ride it
    through the one signature projection instead:

    - ``carry``: names of extra ``docs`` columns to keep on every banded
      row (computed in the same scan — no second corpus pass, no join).
    - ``with_tsz``: emit ``tsz`` = the distinct-token count, from the SAME
      ``toks`` array the signature hashes (the size-precondition consumers
      used to re-tokenize the corpus and shuffle-join it back on doc_id).
    - ``with_bkts``: emit ``bkts`` = the full 4-entry bucket array next to
      the exploded (band, bucket). This is what lets a banded self-join
      emit each colliding pair EXACTLY ONCE, at its first colliding band
      (``first_colliding_band``), so the corpus-pair-sized ``distinct()``
      exchange disappears entirely.

    Defaults preserve the historical (doc_id, band, bucket) schema
    bit-for-bit (the persisted incremental index depends on it)."""
    n_hashes = PMH_BANDS * PMH_ROWS_PER_BAND
    toks = F.array_distinct(F.split(F.col("text"), " "))

    extra = list(carry) + ([F.size("toks").alias("tsz")] if with_tsz else [])
    sig = fan_out(
        docs.select("doc_id", toks.alias("toks"), *carry), "doc_id"
    ).select(
        "doc_id",
        *extra,
        *[_pmh_component(j).alias(f"h{j}") for j in range(n_hashes)],
    )
    bkts = F.array(
        *[
            F.md5(
                F.concat_ws(
                    ",",
                    *[
                        F.col(f"h{b * PMH_ROWS_PER_BAND + r}").cast("string")
                        for r in range(PMH_ROWS_PER_BAND)
                    ],
                )
            )
            for b in range(PMH_BANDS)
        ]
    )
    carried = list(carry) + (["tsz"] if with_tsz else [])
    # posexplode_outer + null-filter: the plain generator's inferred
    # size(bkts) > 0 filter would push the whole md5 chain into a Filter
    # (the same dodge as the Lloyd update passes in similarity.py); bkts
    # always has PMH_BANDS entries, so outer+filter is row-identical.
    exploded = sig.select(
        "doc_id", *carried, bkts.alias("bkts")
    ).select(
        "doc_id",
        *carried,
        *(["bkts"] if with_bkts else []),
        F.posexplode_outer("bkts").alias("band", "bucket"),
    ).filter(F.col("band").isNotNull())
    return exploded.select(
        "doc_id", "band", "bucket", *carried, *(["bkts"] if with_bkts else [])
    )


def first_colliding_band(a: str, b: str, band: str) -> Column:
    """True iff ``band`` (0-based) is the FIRST index at which the band
    arrays ``a`` and ``b`` agree: ``array_position(zip_with(a, b, ==),
    true) == band + 1``. A pair collides in band i iff a[i] = b[i], so a
    banded self-join filtered on this emits each colliding pair exactly
    once — the pair set IS the DISTINCT set, with no pair-sized
    ``distinct()`` exchange."""
    return F.array_position(
        F.zip_with(a, b, lambda x, y: x == y), F.lit(True)
    ) == F.col(band) + 1


_PMH_SQL = f"""
WITH tok AS (
  SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks FROM documents
),
sig AS (
  SELECT doc_id,
         {', '.join(_pmh_component_sql(j) for j in range(PMH_BANDS * PMH_ROWS_PER_BAND))}
  FROM tok
),
banded AS (
  {' UNION ALL '.join(_pmh_bucket_sql(b) for b in range(PMH_BANDS))}
)
SELECT band, bucket,
       CAST(count(*) AS BIGINT) AS group_size,
       min(doc_id) AS keeper_doc_id
FROM banded GROUP BY band, bucket HAVING count(*) >= 2
"""


@register("minhash_portable_groups", oracle=_PMH_SQL, category="dedup")
def minhash_portable_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded MinHash near-dup groups on an engine-PORTABLE hash family —
    the fully value-oracle-checked member of the MinHash tier (the xxhash64
    tier above, ``minhash_band_groups``, stays the throughput path; this
    variant trades ~2-3x per-token hashing cost for a signature any
    md5-bearing engine reproduces bit-for-bit, so the DuckDB oracle checks
    VALUES, not just row counts — closing the near-dup pillar's last
    rows-only evidential gap).

    Component j of the {PMH_BANDS}x{PMH_ROWS_PER_BAND} signature is
    min over distinct tokens of the first 32 bits of md5(token ':' j),
    computed as a pure Catalyst HOF chain (array_distinct -> transform ->
    array_min) — one linear scan, no explode, no shuffle until the final
    (band, bucket) aggregate. Docs sharing any band's 4-component slice
    land in one bucket; output is every collision bucket with its size and
    min-doc_id keeper. Cost is O(N * bands) rows into one hash aggregate —
    never all-pairs — so the shape survives 100 TB unchanged; the banding
    math (4 bands x 4 rows ~ Jaccard >= 0.7 knee) matches
    ``minhash_band_groups`` so the two tiers are directly comparable.
    """
    docs = read_table(spark, sf_dir, "documents")
    banded = pmh_banded_buckets(docs)
    return (
        banded.groupBy("band", "bucket")
        .agg(
            F.count(F.lit(1)).alias("group_size"),
            F.min("doc_id").alias("keeper_doc_id"),
        )
        .filter(F.col("group_size") >= 2)
    )


# ---------------------------------------------------------------------------
# 5. Duplicate clustering: connected components over near-dup pairs
# ---------------------------------------------------------------------------


# Per-call suffix for connected_components' bucketed edge table: two
# concurrent calls in one driver must not drop each other's table.
_CC_CALLS = itertools.count()


def connected_components(
    edges: DataFrame, src: str = "src", dst: str = "dst", max_iter: int = 50
) -> DataFrame:
    """(node, cluster_id) labels: cluster_id = min node id reachable in the
    undirected graph — the canonical "keeper" convention of the dedup tiers.

    Hash-min label propagation: every node starts labeled with itself; each
    round a node's label becomes the min of its own and its neighbors', and
    the loop stops when no label changed. Converges in graph-diameter
    rounds, and near-dup graphs are shallow (dup clusters are cliques-ish),
    so the round count is small and independent of corpus size.

    Scale notes: each round is one shuffle keyed on node (edges are
    re-keyed map-side), intermediates carry two int64s per node, and
    ``localCheckpoint`` truncates the per-round lineage so the plan doesn't
    grow with the iteration count (on a cluster, a reliable checkpoint dir
    does the same). The convergence probe is a 1-row aggregate — inherent
    to iterative fixpoints and O(1) per round. For graphs with
    billion-node components you'd switch to the large-star/small-star
    variant (Kiveris et al.), which this local form degenerates to for the
    shallow graphs dedup produces.
    """
    # Round 17 (VERDICT r16 item 4, guide §2.4/§6): the edge list is
    # materialized ONCE as a BUCKETED table keyed on u — the storage-level
    # equivalent of the hash-partitioning the r16 experiments could not
    # make the planner see through a localCheckpoint (an RDD boundary
    # plans at UnknownPartitioning, so every round re-exchanged the edge
    # side of the join). A bucketed scan reports HashPartitioning(u, N)
    # and per-file sort order, so each propagation round's merge join
    # reads the edges WITHOUT an exchange or a sort — only the small
    # per-round label frame shuffles. At cluster scale this is the
    # "reliable checkpoint of the edge list, sized to the data" the r16
    # note deferred: the edge list (the query's biggest relation) crosses
    # the network exactly once, in the bucketed write, instead of once
    # per round. Bucket count is env-parameterized
    # ($SPARK_GRAFT_CC_EDGE_BUCKETS): the local default 8 matches the
    # BUCKET_N layout convention; in production size it to
    # ceil(edge_bytes / target_task_bytes) as with any bucketed fact.
    # function-local import: etl does not import dedup, but keeping the
    # dependency out of module scope makes that forever a non-cycle
    from big_data_medical_analysis_spark.operators.etl import (
        _drop_bucket_table,
    )

    spark = edges.sparkSession
    und_rows = edges.select(
        F.col(src).alias("u"), F.col(dst).alias("v")
    ).unionAll(edges.select(F.col(dst).alias("u"), F.col(src).alias("v")))
    n_buckets = int(os.environ.get("SPARK_GRAFT_CC_EDGE_BUCKETS", "8"))
    t_edges = f"cc_edges_{os.getuid()}_{os.getpid()}_{next(_CC_CALLS)}"
    _drop_bucket_table(spark, t_edges)
    # repartition on the bucket key first so each task writes exactly ONE
    # bucket file (the r16 bucketed-write convention; one file per bucket
    # is also what lets the scan report the per-bucket sort order)
    und_rows.repartition(n_buckets, "u").write.bucketBy(
        n_buckets, "u"
    ).sortBy("u").mode("overwrite").saveAsTable(t_edges)
    und = spark.table(t_edges)
    labels = (
        und.select(F.col("u").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        # raw and lazy, not checkpoint_pinned (eager): round 1's probe
        # materializes it; an eager pin would add one job
        .localCheckpoint(eager=False)
    )
    # Convergence probe: labels only ever decrease, so sum(label) strictly
    # decreases on any change — a 1-row aggregate over the just-materialized
    # round, far cheaper than a join-and-count against the previous round.
    #
    # Round 16 (optimization): two loop-ladder rewrites were measured and
    # REJECTED here, both on task-count/plan evidence (guide §1.2 "a fresh
    # ideal plan is usually slower at first"):
    # - pointer compression (label(label(n)) path halving): rounds only
    #   dropped 10 -> 8 on this shallow graph while the labels⋈labels hop
    #   quintupled tasks (417 -> 1967 — a self-join of checkpointed RDDs
    #   plans at UnknownPartitioning and defeats AQE coalescing).
    # - unrolling 2 propagation steps per checkpoint+probe: jobs 80 -> 63
    #   but tasks 417 -> 2315 — the mid-plan exchange between the two
    #   steps materializes at full width (no AQE coalescing inside the
    #   RDD-boundary checkpoint job), costing more than the saved probes.
    # The per-round ladder below (1 shuffle + 1-row probe per round) is
    # the measured local optimum; at cluster scale the probe stays O(1)
    # and the round count stays diameter-bounded.
    # Round 17: per-round checkpoints are LAZY (eager=False) so the
    # convergence probe's collect materializes the round's label RDD and
    # computes the 1-row sum in the SAME job — the per-round jobprof
    # showed half of dedup_components' wall was inter-job driver gaps,
    # and an eager checkpoint + separate probe paid that fixed cost
    # twice per round (guide §1.2: the ladder's cost is jobs, not tasks).
    # Values are untouched: the first action over a marked-for-checkpoint
    # RDD persists its blocks exactly as eager=True's dedicated job did.
    prev_sum = None
    converged = False
    try:
        for _ in range(max_iter):
            # merge hint, on the join input only: pin the sort-merge join
            # so the bucketed partitioning is what every round reuses (the
            # table's real file stats are small at test scale and would
            # otherwise flip the plan to a broadcast whose build re-reads
            # the table per round)
            nbr = und.hint("merge").join(
                labels.withColumnRenamed("node", "u"), "u"
            ).select(F.col("v").alias("node"), "label")
            labels = (
                labels.unionAll(nbr)
                .groupBy("node")
                .agg(F.min("label").alias("label"))
                # raw and lazy, not checkpoint_pinned (eager): the probe
                # below materializes the round; eager adds a job per round
                .localCheckpoint(eager=False)
            )
            cur_sum = labels.agg(F.sum("label")).collect()[0][0]
            if cur_sum == prev_sum:
                converged = True
                break
            prev_sum = cur_sum
    finally:
        # the final round's probe materialized `labels`, so the edge
        # table is no longer referenced by the returned plan — clean up
        # the warehouse dir (also on the no-fixpoint raise below)
        _drop_bucket_table(spark, t_edges)
    if not converged:
        # Unconverged labels are silently WRONG cluster ids (they surface
        # only as a baffling oracle mismatch downstream) — fail loudly.
        raise RuntimeError(
            f"connected_components: no fixpoint after {max_iter} rounds; "
            "the graph has a longer min-label propagation path than "
            "max_iter — raise max_iter (rounds needed ≈ graph diameter)."
        )
    return labels.select("node", F.col("label").alias("cluster_id"))


_COMPONENTS_SQL = f"""
WITH RECURSIVE {_SIMHASH_FP_CTES},
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM fp a JOIN fp b ON a.lang = b.lang AND a.doc_id < b.doc_id
  WHERE bit_count(xor(a.simhash, b.simhash)) <= {SIMHASH_MAX_HDIST}
),
edges AS (
  SELECT doc_a AS u, doc_b AS v FROM pairs
  UNION ALL
  SELECT doc_b AS u, doc_a AS v FROM pairs
),
nodes AS (SELECT DISTINCT u AS node FROM edges),
walk(node, label) AS (
  SELECT node, node FROM nodes
  UNION
  SELECT e.v, w.label FROM walk w JOIN edges e ON w.node = e.u
),
labels AS (SELECT node AS doc_id, min(label) AS cluster_id FROM walk GROUP BY node)
SELECT l.doc_id, l.cluster_id, s.cluster_size
FROM labels l
JOIN (SELECT cluster_id, count(*) AS cluster_size
      FROM labels GROUP BY cluster_id) s USING (cluster_id)
"""


@register("dedup_components", oracle=_COMPONENTS_SQL, category="dedup")
def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive duplicate clusters: connected components over the SimHash
    near-dup pairs, emitting (doc_id, cluster_id, cluster_size) for every
    doc in at least one pair. cluster_id is the component's min doc_id —
    the deterministic keeper, so "drop everything where doc_id !=
    cluster_id" is the full dedup action.

    This closes the gap pair-emitting tiers leave open: near-duplication is
    not transitive (A~B, B~C does not imply A~C), so keeping one doc per
    PAIR over-deletes; components give exactly one keeper per transitive
    cluster. Fully deterministic (md5 fingerprints + min-label), so the
    DuckDB oracle — a recursive CTE over the identical pair set — checks
    every value.
    """
    docs = read_table(spark, sf_dir, "documents")
    pairs = simhash_pairs(docs)
    labels = connected_components(pairs, src="doc_a", dst="doc_b")
    sizes = labels.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return (
        labels.select(F.col("node").alias("doc_id"), "cluster_id")
        .join(F.broadcast(sizes), "cluster_id")
        .select("doc_id", "cluster_id", "cluster_size")
    )


# ---------------------------------------------------------------------------
# 6. Edit-distance verification tier over banded candidates
# ---------------------------------------------------------------------------

# Probe-set size for the exact verification tier. Exact edit distance is
# O(len_a x len_b) PER PAIR, and the banded candidate set grows with corpus
# size (201k pairs at sf0.1 — the 32-bit SimHash is loose on short
# shared-vocabulary docs), so running the quadratic kernel over every
# candidate is a scale-killer (measured 15.7s at sf0.1, all levenshtein).
# The 100 TB-honest shape is the repo's probe-set pattern (ngram_jaccard,
# cosine_topk): statistically verify the candidates of a bounded probe
# subset — dedup QA — while the sketch tiers + connected components do the
# full-corpus actioning at linear cost.
N_EDIT_PROBES = 50

_EDIT_DISTANCE_SQL = f"""
WITH {_SIMHASH_FP_CTES},
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM fp a JOIN fp b ON a.lang = b.lang AND a.doc_id < b.doc_id
  WHERE bit_count(xor(a.simhash, b.simhash)) <= {SIMHASH_MAX_HDIST}
    AND a.doc_id < {N_EDIT_PROBES}
)
SELECT p.doc_a, p.doc_b,
       CAST(levenshtein(da.text, db.text) AS INTEGER) AS edit_dist,
       round(1.0 - CAST(levenshtein(da.text, db.text) AS DOUBLE)
             / greatest(length(da.text), length(db.text)), 6) AS edit_sim
FROM pairs p
JOIN documents da ON da.doc_id = p.doc_a
JOIN documents db ON db.doc_id = p.doc_b
"""


@register("edit_distance_pairs", oracle=_EDIT_DISTANCE_SQL, category="dedup")
def edit_distance_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level verification tier: exact Levenshtein distance (and
    the normalized similarity 1 - dist/max_len) for the SimHash candidate
    pairs of a bounded probe set — the final arbiter over the sketch tiers,
    catching the word-order-preserving edits token-set Jaccard is blind to.

    Scale: the probe filter (doc_a < N_EDIT_PROBES) bounds the quadratic
    kernel to probes x candidates-per-probe pairs regardless of corpus
    size; the probe filter reaches the fingerprint scan (pushdown), and the
    texts reach the comparison via two equi-joins on doc_id, so each body
    is shuffled once and only for docs in some probe pair. The final
    projection computes levenshtein ONCE per pair behind a fan_out barrier
    — two output columns referencing it must not re-run the DP (the
    CollapseProject hazard, tests/test_plans.py). Both engines implement
    classic unit-cost edit distance, so the oracle checks every value.
    """
    docs = read_table(spark, sf_dir, "documents")
    pairs = simhash_pairs(docs).filter(F.col("doc_a") < N_EDIT_PROBES).select(
        "doc_a", "doc_b"
    )
    texts = docs.select("doc_id", "text")
    paired = (
        pairs.join(
            texts.select(
                F.col("doc_id").alias("doc_a"), F.col("text").alias("text_a")
            ),
            "doc_a",
        )
        .join(
            texts.select(
                F.col("doc_id").alias("doc_b"), F.col("text").alias("text_b")
            ),
            "doc_b",
        )
    )
    # exchange barrier: spread the DP kernel across all tasks AND pin the
    # single-evaluation projection boundary
    scored = fan_out(paired, "doc_a").select(
        "doc_a",
        "doc_b",
        F.length("text_a").alias("len_a"),
        F.length("text_b").alias("len_b"),
        F.levenshtein("text_a", "text_b").alias("lev"),
    )
    return scored.select(
        "doc_a",
        "doc_b",
        F.col("lev").cast("integer").alias("edit_dist"),
        F.round(
            F.lit(1.0)
            - F.col("lev").cast("double") / F.greatest("len_a", "len_b"),
            6,
        ).alias("edit_sim"),
    )


# ---------------------------------------------------------------------------
# Benchmark decontamination: n-gram overlap gate (round 6)
# ---------------------------------------------------------------------------

DECON_NGRAM = 3  # production decontamination uses 8-13-gram windows; the
# synthetic word-soup corpus needs 3-grams to produce measurable overlap —
# the OPERATOR (distinct-gram build, broadcast probe join, ratio gate) is
# identical at any N.
DECON_MIN_MATCHED = 3
DECON_MIN_RATIO = 0.1

_DECON_SQL = f"""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
),
g AS (
  SELECT DISTINCT t.doc_id,
         array_to_string(t.toks[j.j + 1 : j.j + {DECON_NGRAM}], ' ') AS gram
  FROM t, LATERAL (
    SELECT unnest(range(0,
      greatest(len(t.toks) - {DECON_NGRAM}, 0) + 1)) AS j
  ) j
),
bench AS (SELECT DISTINCT gram FROM g WHERE doc_id % 97 = 0),
m AS (
  SELECT c.doc_id,
         CAST(count(*) AS BIGINT) AS n_grams,
         CAST(count_if(b.gram IS NOT NULL) AS BIGINT) AS n_matched
  FROM (SELECT * FROM g WHERE doc_id % 97 <> 0) c
  LEFT JOIN bench b ON c.gram = b.gram
  GROUP BY c.doc_id
)
SELECT doc_id, n_grams, n_matched,
       round(CAST(n_matched AS DOUBLE) / CAST(n_grams AS DOUBLE), 6)
         AS overlap_ratio,
       n_matched >= {DECON_MIN_MATCHED}
         OR CAST(n_matched AS DOUBLE) / CAST(n_grams AS DOUBLE)
            >= {DECON_MIN_RATIO} AS contaminated
FROM m
"""


@register("benchmark_decontamination", oracle=_DECON_SQL, category="dedup")
def benchmark_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination — the training-data hygiene gate that
    flags corpus documents overlapping an evaluation set: build each side's
    DISTINCT {DECON_NGRAM}-gram sets (the benchmark stand-in is the
    doc_id % 97 == 0 slice), probe every candidate gram against the
    benchmark grams, and gate on matched count / overlap ratio. This is
    the canonical "did eval leak into train" check (GPT-3 §C-style n-gram
    collision), missing from the dedup tiers until now because its join is
    asymmetric: a small trusted probe set against the whole corpus.

    Scale: the benchmark gram set is benchmark-sized, not corpus-sized —
    it BROADCASTS, so the corpus-side grams never shuffle; the plan is
    explode → broadcast left join → per-doc aggregate (one shuffle on
    doc_id). Gram identity at 100 TB would be a 16-byte hash rather than
    the gram text (same note as span_dedup_texts); the oracle pins values
    either way.
    """
    docs = read_table(spark, sf_dir, "documents")
    t = docs.select("doc_id", F.split("text", " ").alias("toks"))
    g = t.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(
                    F.lit(0),
                    F.greatest(
                        F.size("toks") - DECON_NGRAM, F.lit(0)
                    ),
                ),
                lambda j: F.array_join(
                    F.slice(F.col("toks"), j + 1, DECON_NGRAM), " "
                ),
            )
        ).alias("gram"),
    ).distinct()
    bench = (
        g.filter(F.col("doc_id") % 97 == 0).select("gram").distinct()
        .withColumn("hit", F.lit(1))
    )
    cand = g.filter(F.col("doc_id") % 97 != 0)
    m = (
        cand.join(F.broadcast(bench), "gram", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.count_if(F.col("hit").isNotNull()).alias("n_matched"),
        )
    )
    ratio = F.col("n_matched").cast("double") / F.col("n_grams").cast("double")
    return m.select(
        "doc_id",
        "n_grams",
        "n_matched",
        F.round(ratio, 6).alias("overlap_ratio"),
        (
            (F.col("n_matched") >= DECON_MIN_MATCHED)
            | (ratio >= DECON_MIN_RATIO)
        ).alias("contaminated"),
    )


# ---------------------------------------------------------------------------
# Train/eval split-leakage audit (round 7)
# ---------------------------------------------------------------------------

_LEAK_SPLIT_FRAC = 8  # pmod(hash,10) < 8 → train, else eval (80/20)


def _leak_split_sql() -> str:
    return (
        "CASE WHEN CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR) "
        f"|| ':split'), 1, 8)) AS BIGINT) % 10 < {_LEAK_SPLIT_FRAC} "
        "THEN 'train' ELSE 'eval' END"
    )


_LEAK_SQL = f"""
WITH split AS (
  SELECT doc_id, text, {_leak_split_sql()} AS split FROM documents
),
exact_l AS (
  SELECT CAST(count(DISTINCT e.doc_id) AS BIGINT) AS n
  FROM split e
  WHERE e.split = 'eval' AND EXISTS (
    SELECT 1 FROM split t
    WHERE t.split = 'train' AND md5(t.text) = md5(e.text))
),
tok AS (
  SELECT doc_id, split, list_distinct(string_split(text, ' ')) AS toks
  FROM split
),
sig AS (
  SELECT doc_id, split,
         {', '.join(_pmh_component_sql(j) for j in range(PMH_BANDS * PMH_ROWS_PER_BAND))}
  FROM tok
),
banded AS (
  {' UNION ALL '.join(_pmh_bucket_sql(b).replace('SELECT doc_id,', 'SELECT doc_id, split,') for b in range(PMH_BANDS))}
),
near_l AS (
  SELECT CAST(count(DISTINCT e.doc_id) AS BIGINT) AS n
  FROM banded e
  WHERE e.split = 'eval' AND EXISTS (
    SELECT 1 FROM banded t
    WHERE t.split = 'train' AND t.band = e.band AND t.bucket = e.bucket)
),
n_eval AS (
  SELECT CAST(count(*) AS BIGINT) AS n FROM split WHERE split = 'eval'
)
SELECT 'exact' AS leak_type, exact_l.n AS n_eval_leaked, n_eval.n AS n_eval_docs
FROM exact_l, n_eval
UNION ALL
SELECT 'near_band', near_l.n, n_eval.n FROM near_l, n_eval
"""


@register("split_leakage_audit", oracle=_LEAK_SQL, category="dedup")
def split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval contamination audit — the check every LLM data pipeline
    must run BEFORE training: after an 80/20 portable-hash split, how many
    eval documents leak into train (a) verbatim (identical content hash)
    and (b) as near-duplicates (sharing any portable-MinHash band bucket)?
    Composes the engine's own primitives — the md5 client split
    (portable_client_split) and the portable MinHash tier
    (minhash_portable_groups) — so the whole audit carries a FULL value
    oracle; complements benchmark_decontamination, which checks n-gram
    overlap against an external eval SET rather than self-split leakage.

    Scale: both tiers are semi-join shaped — the train side reduces to a
    distinct (hash)/(band,bucket) key set, the eval side probes it; no
    pairwise comparison, state linear in corpus (bucket keys), the probe
    is one hash join each. The same plan audits a 100 TB corpus; the
    MinHash scan is shared with the dedup tier in production (compute
    signatures once, reuse for dedup AND leakage). The content-hash and
    band tables are localCheckpointed once (r9): before, the query's
    branch structure re-scanned documents EIGHT times, re-running the
    md5-split and 16-hash signature chains per branch (the r8
    basket-rescan class) — now each chain runs once and every tier reads
    the two narrow materialized tables; at 100 TB that is two corpus
    passes instead of eight.
    """
    docs = read_table(spark, sf_dir, "documents")
    split_col = F.when(
        F.pmod(
            md5_int(F.concat(F.col("doc_id").cast("string"), F.lit(":split"))),
            F.lit(10),
        )
        < _LEAK_SPLIT_FRAC,
        F.lit("train"),
    ).otherwise(F.lit("eval"))
    sp = docs.select("doc_id", "text", split_col.alias("split"))
    # one corpus pass each, materialized once, consumed by every branch
    hashes = sp.select(
        "doc_id", "split", F.md5("text").alias("h")
    ).transform(checkpoint_pinned)
    # Round 16: `split` rides the banded rows via the carry projection —
    # computed in the same signature scan, so the doc_id shuffle-join
    # against the hashes table (the r9 workaround for the third corpus
    # rescan) is gone too (guide §2.4).
    banded = pmh_banded_buckets(sp, carry=("split",)).transform(
        checkpoint_pinned
    )
    train_h = hashes.filter(F.col("split") == "train").select("h").distinct()
    exact_n = (
        hashes.filter(F.col("split") == "eval")
        .join(train_h, "h", "left_semi")
        .agg(F.count_distinct("doc_id").alias("n_eval_leaked"))
    )
    train_b = (
        banded.filter(F.col("split") == "train")
        .select("band", "bucket")
        .distinct()
    )
    near_n = (
        banded.filter(F.col("split") == "eval")
        .join(train_b, ["band", "bucket"], "left_semi")
        .agg(F.count_distinct("doc_id").alias("n_eval_leaked"))
    )
    n_eval = hashes.filter(F.col("split") == "eval").agg(
        F.count(F.lit(1)).alias("n_eval_docs")
    )
    ex = (
        exact_n.crossJoin(F.broadcast(n_eval))
        .select(
            F.lit("exact").alias("leak_type"), "n_eval_leaked", "n_eval_docs"
        )
    )
    nr = (
        near_n.crossJoin(F.broadcast(n_eval))
        .select(
            F.lit("near_band").alias("leak_type"), "n_eval_leaked", "n_eval_docs"
        )
    )
    return ex.unionAll(nr)


# ---------------------------------------------------------------------------
# Exact set-similarity join via prefix filtering (PPJoin-lite) — round 7
# ---------------------------------------------------------------------------

PREFIX_JACCARD_T = 0.8
PREFIX_SHINGLE_N = 3

_PREFIX_SQL = f"""
WITH sets AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, len(t) - 1),
           i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2])) AS s
  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
),
tok AS (SELECT doc_id, u.w AS w FROM sets, unnest(s) AS u(w)),
df AS (SELECT w, count(*) AS dfc FROM tok GROUP BY w),
ranked AS (
  SELECT t.doc_id, t.w,
         row_number() OVER (PARTITION BY t.doc_id ORDER BY df.dfc, t.w) AS rn,
         count(*) OVER (PARTITION BY t.doc_id) AS n
  FROM tok t JOIN df ON df.w = t.w
),
pref AS (
  SELECT doc_id, w, rn, n FROM ranked WHERE rn <= n - ((4 * n + 4) // 5) + 1
),
cand AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         min(a.rn) AS ia, min(b.rn) AS ib,
         min(a.n) AS na, min(b.n) AS nb
  FROM pref a JOIN pref b
    ON a.w = b.w AND a.doc_id < b.doc_id
   AND 4 * a.n <= 5 * b.n AND 4 * b.n <= 5 * a.n
  GROUP BY 1, 2
),
pos AS (
  SELECT doc_a, doc_b FROM cand
  WHERE 1 + least(na - ia, nb - ib) >= (4 * (na + nb) + 8) // 9
)
SELECT c.doc_a, c.doc_b,
       round(CAST(len(list_intersect(x.s, y.s)) AS DOUBLE)
             / (len(x.s) + len(y.s) - len(list_intersect(x.s, y.s))), 6)
         AS jaccard
FROM pos c JOIN sets x ON x.doc_id = c.doc_a JOIN sets y ON y.doc_id = c.doc_b
WHERE CAST(len(list_intersect(x.s, y.s)) AS DOUBLE)
      / (len(x.s) + len(y.s) - len(list_intersect(x.s, y.s)))
      >= {PREFIX_JACCARD_T}
"""


@register("prefix_filter_jaccard_join", oracle=_PREFIX_SQL, category="dedup")
def prefix_filter_jaccard_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT whole-corpus similarity join at 3-shingle Jaccard >= 0.8 via
    prefix filtering (the PPJoin family) — the missing tier between the
    probe-bounded exact baseline (``ngram_jaccard_pairs``, linear only
    because its probe set is fixed) and the approximate banding tiers
    (SimHash / MinHash, which can miss pairs): every qualifying pair is
    returned, with NO quadratic pass and NO approximation.

    The algorithm: order each doc's distinct shingles by ascending global
    document frequency (rarest first, ties on the shingle); two sets with
    Jaccard >= t MUST share an element within their first n - ceil(t*n) + 1
    entries (pigeonhole on the overlap bound), so exploding only that
    prefix and equi-joining on it yields a COMPLETE candidate set, each
    verified with one exact Jaccard. ceil(t*n) is integer arithmetic
    ((4n+4) div 5) so the prefix length is bit-identical across engines.

    WHY SHINGLES, measured: prefix filtering prunes through df rarity, and
    this corpus's ~30-word vocabulary has no rare unigrams — the unigram
    form admitted 6.9M candidates at sf0.1 even at t=0.99 (the filter's
    worst case: tiny vocab, heavy self-similarity). 3-shingles restore a
    realistic df tail: 119k candidates -> 256 verified pairs at sf0.1,
    t=0.8. The two dup-models complement: shingles catch verbatim-order
    duplicates; the unigram tiers (jaccard/simhash/minhash) catch
    word-order permutations.

    Scale: df aggregate (shingle-vocab state, broadcast back) + per-doc
    rank window (doc-sized partitions) + prefix equi-join + verify —
    every stage a hash shuffle on a bounded key. PPJoin's LENGTH filter
    is applied in the candidate join (Jaccard >= t forces set sizes
    within a factor 1/t of each other — 4·n_a <= 5·n_b and vice versa in
    exact integers), pruning cross-length candidates before any array
    ships to the verify stage. PPJoin's POSITIONAL filter then runs on
    the grouped candidates: both prefixes are sorted by the same global
    (df, shingle) key, so the pair's first common prefix token is the
    one at (min rn_a, min rn_b) — no common token can precede it in
    either FULL set (it would rank inside both prefixes and match
    earlier) — giving the exact overlap bound 1 + min(n_a−i, n_b−j); a
    qualifying pair needs overlap >= ceil(t/(1+t)·(n_a+n_b)) =
    (4·(n_a+n_b)+8) div 9 at t=0.8, all integer arithmetic. Measured at
    sf0.1: 43,543 distinct prefix-join pairs -> 12,784 after the
    positional filter (3.4x fewer array-intersect verifications) -> 256
    verified output pairs; with the explode_nonnull_pinned fix the query went
    5.2s -> ~1.8s steady-state.
    """
    docs = read_table(spark, sf_dir, "documents")
    # single-file scan → split to a token ARRAY and exchange (materializing
    # the tokens, so the shingle HOF reads an array instead of re-running
    # the regex split per element_at — see shingles_from_tokens), then
    # localCheckpoint the computed shingle arrays: the frame has FOUR
    # consumers (tok feeding df_t and ranked, plus both verify sides x/y)
    # and the executed plan showed six parquet scans with zero exchange
    # reuse — i.e. the shingle chain re-ran per consumer (the r8
    # basket-rescan class; an exchange sandwich pins projection
    # boundaries but does not canonicalize to a reused subtree here).
    # One derivation, zero scans downstream; at 100 TB this is one
    # tokenize+shingle pass over the corpus instead of six.
    sets = (
        fan_out(
            docs.select("doc_id", F.split("text", " ").alias("toks")),
            "doc_id",
        )
        .select(
            "doc_id",
            shingles_from_tokens("toks", PREFIX_SHINGLE_N).alias("s"),
        )
        .transform(checkpoint_pinned)
    )
    tok = explode_nonnull_pinned(sets, "s", "w", "doc_id")
    df_t = tok.groupBy("w").agg(F.count(F.lit(1)).alias("dfc"))
    w_rank = W.partitionBy("doc_id").orderBy("dfc", "w")
    w_n = W.partitionBy("doc_id")
    ranked = tok.join(F.broadcast(df_t), "w").select(
        "doc_id",
        "w",
        F.row_number().over(w_rank).alias("rn"),
        F.count(F.lit(1)).over(w_n).alias("n"),
    )
    pref = ranked.filter(
        F.col("rn") <= F.col("n") - F.floor((4 * F.col("n") + 4) / 5) + 1
    ).select("doc_id", "w", "rn", "n")
    grouped = (
        pref.alias("a")
        .join(
            pref.alias("b"),
            (F.col("a.w") == F.col("b.w"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (4 * F.col("a.n") <= 5 * F.col("b.n"))
            & (4 * F.col("b.n") <= 5 * F.col("a.n")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.rn").alias("rn_a"),
            F.col("b.rn").alias("rn_b"),
            F.col("a.n").alias("na"),
            F.col("b.n").alias("nb"),
        )
        .groupBy("doc_a", "doc_b")
        .agg(
            F.min("rn_a").alias("ia"),
            F.min("rn_b").alias("ib"),
            F.min("na").alias("na"),
            F.min("nb").alias("nb"),
        )
    )
    alpha = F.floor((4 * (F.col("na") + F.col("nb")) + 8) / 9)
    cand = grouped.filter(
        1 + F.least(F.col("na") - F.col("ia"), F.col("nb") - F.col("ib"))
        >= alpha
    ).select("doc_a", "doc_b")
    x = sets.select(F.col("doc_id").alias("doc_a"), F.col("s").alias("sa"))
    y = sets.select(F.col("doc_id").alias("doc_b"), F.col("s").alias("sb"))
    inter = F.size(F.array_intersect("sa", "sb"))
    union = F.size("sa") + F.size("sb") - inter
    jac = inter.cast("double") / union
    return (
        cand.join(x, "doc_a")
        .join(y, "doc_b")
        .filter(jac >= PREFIX_JACCARD_T)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
    )


# ---------------------------------------------------------------------------
# MinHash estimator accuracy audit (sketch-quality validation) — round 7
# ---------------------------------------------------------------------------

N_MINHASH_AUDIT_PROBES = 30


def _pmh_sig_sql_cols() -> str:
    return ", ".join(
        _pmh_component_sql(j) for j in range(PMH_BANDS * PMH_ROWS_PER_BAND)
    )


_MINHASH_ACC_SQL = f"""
WITH tok AS (
  SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks FROM documents
),
sig AS (SELECT doc_id, {{cols}} FROM tok),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(len(list_intersect(ta.toks, tb.toks)) AS DOUBLE)
           / (len(ta.toks) + len(tb.toks)
              - len(list_intersect(ta.toks, tb.toks))) AS exact_j,
         ({{matches}}) / 16.0 AS est_j
  FROM sig a JOIN sig b ON a.doc_id < b.doc_id
  JOIN tok ta ON ta.doc_id = a.doc_id
  JOIN tok tb ON tb.doc_id = b.doc_id
  WHERE a.doc_id < {N_MINHASH_AUDIT_PROBES} AND b.doc_id < {N_MINHASH_AUDIT_PROBES}
)
SELECT CAST(count(*) AS BIGINT) AS n_pairs,
       round(avg(abs(est_j - exact_j)), 6) AS mean_abs_err,
       round(max(abs(est_j - exact_j)), 6) AS max_abs_err,
       round(avg(est_j - exact_j), 6) AS mean_bias
FROM pairs
""".format(
    cols=_pmh_sig_sql_cols(),
    matches=" + ".join(
        f"CASE WHEN a.h{j} = b.h{j} THEN 1.0 ELSE 0.0 END"
        for j in range(PMH_BANDS * PMH_ROWS_PER_BAND)
    ),
)


@register("minhash_estimate_accuracy", oracle=_MINHASH_ACC_SQL, category="dedup")
def minhash_estimate_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-quality audit: on a probe block of documents, compare the
    16-component portable-MinHash Jaccard ESTIMATE (matching components /
    16 — the unbiased MinHash estimator) against the exact token Jaccard,
    reporting mean/max absolute error and bias. The validation loop a
    production dedup pipeline runs when tuning band geometry: expected
    σ = sqrt(J(1−J)/16) ≈ 0.12 worst-case, so the mean error lands near
    0.1 on this mid-similarity corpus — the query MEASURES that, and the
    full value oracle pins the measurement itself.

    Scale: probe-bounded (pairs within a {N_MINHASH_AUDIT_PROBES}-doc
    block, the ngram_jaccard_pairs discipline) — quadratic only in the
    audit sample, never the corpus; signatures come from the same one-
    scan HOF chain as the banding tier.
    """
    docs = read_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < N_MINHASH_AUDIT_PROBES
    )
    n_hashes = PMH_BANDS * PMH_ROWS_PER_BAND
    toks = F.array_distinct(F.split(F.col("text"), " "))

    base = docs.select("doc_id", toks.alias("toks"))
    sig = base.select(
        "doc_id",
        "toks",
        *[_pmh_component(j).alias(f"h{j}") for j in range(n_hashes)],
    )
    a = sig.select(
        F.col("doc_id").alias("doc_a"),
        F.col("toks").alias("ta"),
        *[F.col(f"h{j}").alias(f"ha{j}") for j in range(n_hashes)],
    )
    b = sig.select(
        F.col("doc_id").alias("doc_b"),
        F.col("toks").alias("tb"),
        *[F.col(f"h{j}").alias(f"hb{j}") for j in range(n_hashes)],
    )
    inter = F.size(F.array_intersect("ta", "tb"))
    union = F.size("ta") + F.size("tb") - inter
    exact_j = inter.cast("double") / union
    est_j = sum(
        F.when(F.col(f"ha{j}") == F.col(f"hb{j}"), F.lit(1.0)).otherwise(
            F.lit(0.0)
        )
        for j in range(n_hashes)
    ) / F.lit(16.0)
    pairs = a.join(b, F.col("doc_a") < F.col("doc_b")).select(
        (est_j - exact_j).alias("err")
    )
    return pairs.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.round(F.avg(F.abs("err")), 6).alias("mean_abs_err"),
        F.round(F.max(F.abs("err")), 6).alias("max_abs_err"),
        F.round(F.avg("err"), 6).alias("mean_bias"),
    )


# ---------------------------------------------------------------------------
# Incremental corpus-vs-index near-dup probe (round 9)
# ---------------------------------------------------------------------------

# The "new batch" is every 10th doc (doc_id % 10 = 0); the signature index
# is built from the other 90%. Same split predicate on both engines.
_PMH_INCR_PROBE = "doc_id % 10 = 0"
_PMH_INCR_INDEX = "doc_id % 10 <> 0"

_PMH_INCR_SQL = f"""
WITH tok AS (
  SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks FROM documents
),
sig AS (
  SELECT doc_id,
         {', '.join(_pmh_component_sql(j) for j in range(PMH_BANDS * PMH_ROWS_PER_BAND))}
  FROM tok
),
banded AS (
  {' UNION ALL '.join(_pmh_bucket_sql(b) for b in range(PMH_BANDS))}
)
SELECT p.doc_id,
       CAST(count(DISTINCT p.band) AS BIGINT) AS n_bands_hit,
       CAST(count(DISTINCT i.doc_id) AS BIGINT) AS n_index_matches,
       min(i.doc_id) AS min_index_doc
FROM banded p JOIN banded i ON p.band = i.band AND p.bucket = i.bucket
WHERE p.{_PMH_INCR_PROBE} AND i.{_PMH_INCR_INDEX}
GROUP BY p.doc_id
"""


def pmh_index_dir(sf_dir: str) -> str:
    """Fixed per-user, per-sf location of the persisted signature index
    (band-partitioned parquet). The root comes from common.per_user_tmpdir
    — uid-suffixed, 0700, ownership-verified — so another local user can
    neither pre-own the directory nor swap index files between the write
    and the probe read. Per-sf so an sf0.01 driver pass never probes an
    index built from sf0.1 documents."""
    import os

    from big_data_medical_analysis_spark.operators.common import (
        per_user_tmpdir,
    )

    tag = os.path.basename(os.path.normpath(sf_dir))
    return os.path.join(per_user_tmpdir("spark_graft_pmh_index"), tag)


def pmh_build_index(spark: SparkSession, sf_dir: str) -> str:
    """Build + persist the band-partitioned signature index over the 90%
    corpus slice — the amortized state a production dedup service
    maintains; returns the index directory. Extracted (expressions
    byte-identical) from ``minhash_incremental_probe`` so
    tools/scale_probe.py can time the index-BUILD wall separately from
    the probe wall: probe-only scaling is the production steady state
    (VERDICT r11 task 3)."""
    docs = read_table(spark, sf_dir, "documents")
    out_dir = pmh_index_dir(sf_dir)
    pmh_banded_buckets(docs.filter(F.expr(_PMH_INCR_INDEX))).write.mode(
        "overwrite"
    ).partitionBy("band").parquet(out_dir)
    return out_dir


def pmh_probe_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probe-only plan against the ALREADY-persisted signature index
    (built by ``pmh_build_index``): the new batch bands itself and
    equi-joins the persisted band table — the per-batch steady-state
    cost a production pipeline pays, with the index build amortized
    away."""
    docs = read_table(spark, sf_dir, "documents")
    index = (
        spark.read.parquet(pmh_index_dir(sf_dir))
        .withColumnRenamed("doc_id", "index_doc_id")
        .withColumn("band", F.col("band").cast("int"))
    )
    probe = pmh_banded_buckets(docs.filter(F.expr(_PMH_INCR_PROBE)))
    return (
        probe.join(index, ["band", "bucket"])
        .groupBy("doc_id")
        .agg(
            F.countDistinct("band").alias("n_bands_hit"),
            F.countDistinct("index_doc_id").alias("n_index_matches"),
            F.min("index_doc_id").alias("min_index_doc"),
        )
    )


@register("minhash_incremental_probe", oracle=_PMH_INCR_SQL, category="dedup")
def minhash_incremental_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION dedup shape: dedup each NEW ingest batch against a
    PERSISTED signature index instead of re-deduping the whole corpus.
    Every other operator in this family (minhash_portable_groups, SimHash,
    PPJoin) treats the corpus as one static table; a real 100 TB pipeline
    ingests continuously, and re-banding 100 TB per batch is the cost this
    operator removes: the index side is banded ONCE, written as parquet
    partitioned by band, and each batch only (a) bands its own documents
    and (b) equi-joins the persisted band table.

    Here the 90% index slice ({_PMH_INCR_INDEX}) is banded with the
    portable md5 MinHash family (same {PMH_BANDS}x{PMH_ROWS_PER_BAND}
    geometry as minhash_portable_groups), persisted band-partitioned, and
    read BACK from parquet; the 10% "new batch" ({_PMH_INCR_PROBE}) bands
    itself and probes with a (band, bucket) equi-join. Output: one row per
    new document that collides with the index — how many bands hit, how
    many distinct index near-dups, and the minimum (keeper) index doc_id.
    The DuckDB oracle recomputes both sides from the raw corpus, so a
    green row ALSO proves the parquet persist/reload of the index lost
    nothing.

    Scale: batch cost is O(batch x bands) banding + one shuffle equi-join
    against the index's matching band partitions — never re-touching index
    documents' text. At 100 TB the index table would additionally be
    bucketed by `bucket` (bucketBy on write) so probe joins co-locate
    without shuffling the index side at all, and new batches APPEND their
    own band rows after probing — the same table serves as index and
    accumulating state. Note the probe-vs-index join intentionally misses
    probe-internal duplicates; a batch self-dedup (minhash_portable_groups
    over the batch alone, batch-sized cost) runs beside it — the union of
    the two legs reconstructs exactly the whole-corpus groups
    (tests/test_dedup.py pins this on the fixture).

    Round 12: build and probe are the extracted ``pmh_build_index`` /
    ``pmh_probe_index`` above (expressions unchanged) so the scale probe
    can time the two walls separately; this registered query remains
    build + probe end-to-end.
    """
    # Build + persist the signature index (the "already have it" state a
    # real pipeline amortizes over every future batch). Band-partitioned:
    # a probe that only needs band b prunes to that directory.
    pmh_build_index(spark, sf_dir)
    return pmh_probe_index(spark, sf_dir)


# ---------------------------------------------------------------------------
# Cross-source duplicate attribution matrix (round 9)
# ---------------------------------------------------------------------------

_SRC_DUP_SQL = f"""
WITH tok AS (
  SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks FROM documents
),
sig AS (
  SELECT doc_id,
         {', '.join(_pmh_component_sql(j) for j in range(PMH_BANDS * PMH_ROWS_PER_BAND))}
  FROM tok
),
banded AS (
  {' UNION ALL '.join(_pmh_bucket_sql(b) for b in range(PMH_BANDS))}
),
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
),
attributed AS (
  SELECT least(da.source, db.source) AS src_a,
         greatest(da.source, db.source) AS src_b,
         p.doc_a, p.doc_b
  FROM pairs p
  JOIN documents da ON da.doc_id = p.doc_a
  JOIN documents db ON db.doc_id = p.doc_b
),
cells AS (
  SELECT src_a, src_b,
         CAST(count(*) AS BIGINT) AS n_pairs,
         min(doc_a) AS first_doc
  FROM attributed GROUP BY src_a, src_b
),
exploded AS (
  SELECT src_a, src_b, doc_a AS doc FROM attributed
  UNION ALL
  SELECT src_a, src_b, doc_b AS doc FROM attributed
),
ndocs AS (
  SELECT src_a, src_b,
         CAST(count(DISTINCT doc) AS BIGINT) AS n_docs_implicated
  FROM exploded GROUP BY src_a, src_b
)
SELECT c.src_a, c.src_b, c.n_pairs, n.n_docs_implicated, c.first_doc
FROM cells c JOIN ndocs n ON n.src_a = c.src_a AND n.src_b = c.src_b
"""


@register("intersource_dup_matrix", oracle=_SRC_DUP_SQL, category="dedup")
def intersource_dup_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate ATTRIBUTION: which sources duplicate which — the
    governance view a pretraining pipeline builds right after near-dup
    detection, because the remedy differs by pair (two crawls of the same
    site -> drop one source; a curated set leaking into a crawl -> keep
    curated, de-prioritize crawl; self-pairs measure within-source
    redundancy that mixture weighting (``source_mixture_weights``) should
    discount). Pairs come from the portable md5 MinHash bands (same
    {PMH_BANDS}x{PMH_ROWS_PER_BAND} geometry as
    ``minhash_portable_groups``, so the matrix is consistent with the
    dedup tier it audits); each distinct colliding pair is attributed to
    its unordered source pair and aggregated into a src_a <= src_b
    matrix: pair count, distinct docs implicated (a TRUE distinct over
    the union of both pair sides — a doc appearing as doc_a in one pair
    and doc_b in another within the same cell counts once), and a
    deterministic first-doc anchor.

    Scale: banding is O(N x bands) into a (band, bucket) equi-join —
    never all-pairs, pair volume is bounded by bucket sizes exactly as in
    the dedup tier. The banded table is derived ONCE
    (checkpoint_pinned) and self-joined; source attribution is a key
    join against the narrow (doc_id, source) projection, and the final
    matrix is at most |sources|^2 rows — driver-side tiny at any corpus
    size. At 100 TB the same matrix is the input to source-level
    dedup policy (drop/keep lists), so it must not sample: every
    colliding pair is counted exactly.
    """
    docs = read_table(spark, sf_dir, "documents")
    # Round 16 (guide §2.3/§2.4): `source` rides the banded rows (same
    # signature scan — the two post-distinct shuffle joins against the
    # (doc_id, source) projection are gone), and the self-join emits each
    # pair exactly once at its FIRST colliding band (bkts carried; see
    # pmh_banded_buckets) — the corpus-pair-sized distinct() exchange,
    # the measured 100x bottleneck of this family, is gone outright. The
    # emitted set is exactly the old DISTINCT set.
    banded = checkpoint_pinned(
        pmh_banded_buckets(docs, carry=("source",), with_bkts=True)
    )
    left = banded.select(
        "band", "bucket",
        F.col("doc_id").alias("doc_a"),
        F.col("source").alias("sa"),
        F.col("bkts").alias("bkts_a"),
    )
    right = banded.select(
        "band", "bucket",
        F.col("doc_id").alias("doc_b"),
        F.col("source").alias("sb"),
        F.col("bkts").alias("bkts_b"),
    )
    attributed = (
        left.join(right, ["band", "bucket"])
        .filter(
            (F.col("doc_a") < F.col("doc_b"))
            & first_colliding_band("bkts_a", "bkts_b", "band")
        )
        .select(
            F.least("sa", "sb").alias("src_a"),
            F.greatest("sa", "sb").alias("src_b"),
            "doc_a",
            "doc_b",
        )
    )
    # The pair relation is derived once and feeds two tiny aggregates
    # (cells and a union-distinct doc count) joined back on the cell key:
    # countDistinct(doc_a) + countDistinct(doc_b) would double-count a
    # doc that appears on both sides of different pairs in one cell.
    attributed = checkpoint_pinned(attributed)
    cells = attributed.groupBy("src_a", "src_b").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.min("doc_a").alias("first_doc"),
    )
    ndocs = (
        attributed.select(
            "src_a",
            "src_b",
            F.explode(F.array("doc_a", "doc_b")).alias("doc"),
        )
        .groupBy("src_a", "src_b")
        .agg(F.countDistinct("doc").alias("n_docs_implicated"))
    )
    return cells.join(ndocs, ["src_a", "src_b"]).select(
        "src_a", "src_b", "n_pairs", "n_docs_implicated", "first_doc"
    )


# ---------------------------------------------------------------------------
# Governance composition: dedup-adjusted mixture -> quota sample (round 10)
# ---------------------------------------------------------------------------

GOV_EPOCH = 100  # draws per governance epoch

_GOV_SQL = f"""
WITH tok AS (
  SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks FROM documents
),
sig AS (
  SELECT doc_id,
         {', '.join(_pmh_component_sql(j) for j in range(PMH_BANDS * PMH_ROWS_PER_BAND))}
  FROM tok
),
banded AS (
  {' UNION ALL '.join(_pmh_bucket_sql(b) for b in range(PMH_BANDS))}
),
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
),
tokn AS (SELECT doc_id, toks, len(toks) AS tsz FROM tok),
verified AS (
  SELECT p.doc_a, p.doc_b
  FROM pairs p
  JOIN tokn a ON a.doc_id = p.doc_a
  JOIN tokn b ON b.doc_id = p.doc_b
  WHERE 39 * len(list_intersect(a.toks, b.toks)) >= 19 * (a.tsz + b.tsz)
),
redundant AS (SELECT DISTINCT doc_b AS doc_id FROM verified),
kept AS (
  SELECT d.doc_id, d.source, d.n_chars,
         len(string_split(d.text, ' ')) AS n_toks
  FROM documents d LEFT JOIN redundant r ON r.doc_id = d.doc_id
  WHERE r.doc_id IS NULL
),
per_source AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS n_kept,
         CAST(sum(n_toks) AS BIGINT) AS kept_tokens
  FROM kept GROUP BY source
),
weighted AS (
  SELECT *, CAST(round(sqrt(CAST(kept_tokens AS DOUBLE)) * 1000000)
                 AS BIGINT) AS w_micro
  FROM per_source
),
tot AS (SELECT CAST(sum(w_micro) AS BIGINT) AS total_micro FROM weighted),
quota AS (
  SELECT source, n_kept, kept_tokens,
         CAST(round({GOV_EPOCH}.0 * w_micro / total_micro) AS BIGINT) AS quota
  FROM weighted, tot
),
keyed AS (
  SELECT doc_id, source,
         -ln((CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                   AS BIGINT) + 0.5) / 4294967296.0) / n_chars AS ek
  FROM kept
),
ranked AS (
  SELECT doc_id, source,
         row_number() OVER (PARTITION BY source ORDER BY ek, doc_id) AS rnk
  FROM keyed
)
SELECT r.doc_id, r.source, CAST(r.rnk AS INTEGER) AS rnk,
       q.quota, q.n_kept, q.kept_tokens
FROM ranked r JOIN quota q ON q.source = r.source
WHERE r.rnk <= q.quota
"""


@register("governed_mixture_sample", oracle=_GOV_SQL, category="dedup")
def governed_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation POLICY LOOP composed end-to-end as one lazy plan
    (VERDICT r9 task 6) — the governance twin of ``curated_corpus``:
    the MinHash duplicate relation (``intersource_dup_matrix``'s pair
    source), a dedup-ADJUSTED temperature mixture
    (``source_mixture_weights``'s formula over the KEPT docs only), and
    the per-source quota draw (``weighted_sample_docs``'s deterministic
    race) fused into one DataFrame a scheduler samples an epoch from.

    Pipeline: banded portable-md5 MinHash CANDIDATE pairs (canonical
    doc_a < doc_b) -> exact Jaccard verification gate (distinct-token
    sets, the corpus's dup model per ``shingles``; J >= 0.95 as the
    integer test 39·|A∩B| >= 19·(|A|+|B|), the threshold that separates
    the planted permutation dups (J~1.0) from this corpus's heavy
    shared-vocabulary background (candidate J peaks at 0.8): at sf0.01
    the bands emit 62,420 candidates of which 1,887 verify, implicating
    127 docs — skipping the verify tier would discount every source
    indiscriminately) -> greedy keeper rule (a doc
    is redundant iff it is the LARGER side of any VERIFIED pair;
    deterministic, one anti-join — the transitive-closure version is
    ``dedup_components``) ->
    per-source kept-doc/token counts -> temperature mixture alpha=1/2
    over kept tokens (int64 micro-weights, exact normalizer) -> quota =
    round({GOV_EPOCH}·share) -> per-source top-quota docs by the
    Efraimidis-Spirakis length-weighted race (md5 randomness). Sources
    whose weight is dominated by duplicated text thus shrink BEFORE
    sampling — the remedy the attribution matrix motivates, applied.

    Scale: banding is O(N·bands) into an equi-join (never all-pairs);
    the keeper rule is one anti-join on doc_id; the mixture state is
    source-cardinality-bounded and broadcast back; the quota draw is one
    window shuffle on source over slim metadata (text pruned at the
    scan). Round 13: the banded signatures are pinned once and carry the
    per-doc distinct-token count, so the Jaccard gate's size
    precondition (39·min(tsz) >= 19·(tsz_a+tsz_b) — NECESSARY for
    J >= 0.95, output unchanged) filters candidates INSIDE the banded
    self-join, ahead of the pair-dedup shuffle: the measured 100x
    bottleneck was the 633M-pair distinct, which the gate cuts ~3.6x,
    and the array-payload verify join then runs only on size-compatible
    pairs (100x wall 217.7s -> 89.1s). Deterministic
    md5 randomness + micro-unit weights end-to-end ⇒ the whole loop is
    one full value oracle.
    """
    docs = read_table(spark, sf_dir, "documents")
    # Round 13 (VERDICT r12 task 4): profiling the 100x corpus showed the
    # wall was NOT the signature/tokenize rescans the r12 verdict suspected
    # — it was the candidate-pair dedup shuffle (633M distinct pairs,
    # 156s of a 177s wall). Two changes, values unchanged:
    # (1) `banded` (the md5 signature pass) is checkpoint-pinned once and
    #     carries each doc's distinct-token COUNT, so the Jaccard gate's
    #     size precondition runs INSIDE the candidate self-join, ahead of
    #     the distinct (see the prefilter comment below);
    # (2) the verify stage fetches token arrays only for the surviving
    #     size-compatible pairs.
    # Measured: 100x wall 217.7s (r12) -> 89.1s; the ~1.8s added at 1x is
    # the gate evaluation + wider rows through the self-join, amortized
    # by 10x already. Same pin discipline as intersource_dup_matrix.
    tokn = docs.select(
        "doc_id",
        F.array_distinct(F.split("text", " ")).alias("toks"),
    ).withColumn("tsz", F.size("toks"))
    # Size prefilter (round 13): |A∩B| <= min(|A|, |B|), so
    # 39·min(tsz) >= 19·(tsz_a + tsz_b) is a NECESSARY condition of the
    # verify gate below — riding tsz on the banded rows applies it
    # INSIDE the candidate self-join. Round 16 (guide §2.3/§2.4): tsz is
    # now computed in the SAME projection as the signature
    # (pmh_banded_buckets with_tsz — the second corpus tokenize and the
    # doc_id shuffle-join are gone), and the self-join emits each pair
    # exactly once at its FIRST colliding band (bkts carried), so the
    # pair-dedup distinct() — the measured 100x bottleneck (633M-pair
    # distinct, 156s of a 177s wall in r12) — is gone outright, not just
    # prefiltered. The emitted set is exactly the old DISTINCT set.
    banded = checkpoint_pinned(
        pmh_banded_buckets(docs, with_tsz=True, with_bkts=True)
    )
    left = banded.select(
        "band", "bucket", F.col("doc_id").alias("doc_a"),
        F.col("tsz").alias("tsz_a"), F.col("bkts").alias("bkts_a"),
    )
    right = banded.select(
        "band", "bucket", F.col("doc_id").alias("doc_b"),
        F.col("tsz").alias("tsz_b"), F.col("bkts").alias("bkts_b"),
    )
    pairs = (
        left.join(right, ["band", "bucket"])
        .filter(
            (F.col("doc_a") < F.col("doc_b"))
            & (
                F.least("tsz_a", "tsz_b") * 39
                >= (F.col("tsz_a") + F.col("tsz_b")) * 19
            )
            & first_colliding_band("bkts_a", "bkts_b", "band")
        )
        .select("doc_a", "doc_b", "tsz_a", "tsz_b")
    )
    verified = (
        pairs.join(
            tokn.select(
                F.col("doc_id").alias("doc_a"), F.col("toks").alias("toks_a")
            ),
            "doc_a",
        )
        .join(
            tokn.select(
                F.col("doc_id").alias("doc_b"), F.col("toks").alias("toks_b")
            ),
            "doc_b",
        )
        .filter(
            F.size(F.array_intersect("toks_a", "toks_b")) * 39
            >= (F.col("tsz_a") + F.col("tsz_b")) * 19
        )
    )
    redundant = verified.select(F.col("doc_b").alias("doc_id")).distinct()
    kept = checkpoint_pinned(
        docs.select(
            "doc_id",
            "source",
            "n_chars",
            F.size(F.split("text", " ")).alias("n_toks"),
        ).join(redundant, "doc_id", "left_anti")
    )
    per_source = kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("n_toks").cast("long").alias("kept_tokens"),
    )
    weighted = per_source.withColumn(
        "w_micro",
        F.round(F.sqrt(F.col("kept_tokens").cast("double")) * 1_000_000)
        .cast("long"),
    )
    tot = weighted.agg(F.sum("w_micro").cast("long").alias("total_micro"))
    quota = weighted.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_kept",
        "kept_tokens",
        F.round(
            F.lit(float(GOV_EPOCH)) * F.col("w_micro") / F.col("total_micro")
        )
        .cast("long")
        .alias("quota"),
    )
    ek = es_key(F.col("doc_id").cast("string"), "n_chars")
    w = W.partitionBy("source").orderBy(F.asc("ek"), F.asc("doc_id"))
    ranked = (
        kept.select("doc_id", "source", ek.alias("ek"))
        .withColumn("rnk", F.row_number().over(w))
        .select("doc_id", "source", F.col("rnk").cast("integer").alias("rnk"))
    )
    return (
        ranked.join(F.broadcast(quota), "source")
        .filter(F.col("rnk") <= F.col("quota"))
        .select("doc_id", "source", "rnk", "quota", "n_kept", "kept_tokens")
    )


# ---------------------------------------------------------------------------
# LSH blocking-quality audit (recall / precision / reduction ratio) — round 10
# ---------------------------------------------------------------------------

_BQA_SQL = f"""
WITH tok AS (
  SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks
  FROM documents
),
sig AS (
  SELECT doc_id,
         {', '.join(_pmh_component_sql(j) for j in range(PMH_BANDS * PMH_ROWS_PER_BAND))}
  FROM tok
),
banded AS (
  {' UNION ALL '.join(_pmh_bucket_sql(b) for b in range(PMH_BANDS))}
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
  WHERE a.doc_id < {N_JACCARD_PROBES}
),
truth AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM tok a JOIN tok b ON a.doc_id < b.doc_id
  WHERE a.doc_id < {N_JACCARD_PROBES}
    AND CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
        / (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks)))
        >= {JACCARD_THRESHOLD}
),
allp AS (
  SELECT CAST(count(*) AS BIGINT) AS n_all
  FROM tok a JOIN tok b ON a.doc_id < b.doc_id
  WHERE a.doc_id < {N_JACCARD_PROBES}
),
counts AS (
  SELECT
    (SELECT CAST(count(*) AS BIGINT) FROM truth) AS n_truth,
    (SELECT CAST(count(*) AS BIGINT) FROM cand) AS n_candidates,
    (SELECT CAST(count(*) AS BIGINT)
     FROM truth t JOIN cand c
       ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b) AS n_caught,
    (SELECT n_all FROM allp) AS n_all_pairs
)
SELECT n_truth, n_candidates, n_caught, n_all_pairs,
       round(CAST(n_caught AS DOUBLE) / n_truth, 6) AS recall,
       round(CAST(n_caught AS DOUBLE) / n_candidates, 6) AS precision,
       round(1.0 - CAST(n_candidates AS DOUBLE) / n_all_pairs, 6)
         AS reduction_ratio
FROM counts
"""


@register("lsh_blocking_quality_audit", oracle=_BQA_SQL, category="dedup")
def lsh_blocking_quality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocking-quality audit of the portable-MinHash banding tier — the
    dedup pillar's counterpart of ``ann_recall_audit``: the MEASURED
    recall / precision / reduction-ratio a 100 TB operator tunes band
    geometry against, as one driver-checkable row. Truth = probe-bounded
    exact token-set Jaccard ≥ {tau} pairs; candidates = distinct
    banded-bucket collisions on the same probe set; reduction ratio =
    1 − candidates/all-probe-pairs (the whole point of blocking). The
    S-curve P(cand | J) = 1−(1−J^{r})^{b} predicts ≈0.88 recall AT the
    {tau} threshold for this {b}×{r} geometry; measured at sf0.01:
    recall 0.908, precision 0.424, reduction 0.534 — reduction is low
    HERE because the synthetic corpus shares one small vocabulary
    (truth prevalence 22% of probe pairs); on a real web corpus
    prevalence is ~1e-6 and the same geometry reduces >99.9%.

    Scale: tokens are pinned ONCE and feed truth (broadcast probe side ×
    corpus — linear), signatures (HOF chain, no shuffle), and the
    all-pairs count; candidates come from the (band, bucket) equi-join,
    never all-pairs. The probe bound is what LSH emits at production
    scale — the audit shape is exactly the production probe flow."""
    docs = read_table(spark, sf_dir, "documents")
    toks = checkpoint_pinned(
        fan_out(
            docs.select(
                "doc_id",
                F.array_distinct(F.split(F.col("text"), " ")).alias("toks"),
            ),
            "doc_id",
        )
    )

    n_hashes = PMH_BANDS * PMH_ROWS_PER_BAND
    sig = toks.select(
        "doc_id", *[_pmh_component(j).alias(f"h{j}") for j in range(n_hashes)]
    )
    banded = sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).cast("int").alias("band"),
                        F.md5(
                            F.concat_ws(
                                ",",
                                *[
                                    F.col(f"h{b * PMH_ROWS_PER_BAND + r}").cast(
                                        "string"
                                    )
                                    for r in range(PMH_ROWS_PER_BAND)
                                ],
                            )
                        ).alias("bucket"),
                    )
                    for b in range(PMH_BANDS)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "bb.band", "bb.bucket")
    cand = (
        banded.alias("a")
        .join(
            banded.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .filter(F.col("a.doc_id") < N_JACCARD_PROBES)
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    # Round 16 (guide §3.3): cand (the full md5 signature + banding
    # chain) is consumed twice (n_candidates + the caught join) and the
    # probe×corpus jaccard pass twice (truth's two consumers) — pinned,
    # each heavy subtree executes once; both are probe-bounded K-row
    # pair lists (same move as the SNM audits).
    cand = checkpoint_pinned(cand)
    probe = F.broadcast(
        toks.filter(F.col("doc_id") < N_JACCARD_PROBES).select(
            F.col("doc_id").alias("p_id"), F.col("toks").alias("p_toks")
        )
    )
    inter = F.size(F.array_intersect(F.col("p_toks"), F.col("toks")))
    jac = inter.cast("double") / (
        F.size(F.col("p_toks")) + F.size(F.col("toks")) - inter
    )
    pairs = probe.join(toks, F.col("p_id") < F.col("doc_id"))
    truth = checkpoint_pinned(
        pairs.filter(jac >= JACCARD_THRESHOLD).select(
            F.col("p_id").alias("doc_a"), F.col("doc_id").alias("doc_b")
        )
    )
    n_truth = truth.agg(F.count(F.lit(1)).cast("long").alias("n_truth"))
    n_cand = cand.agg(F.count(F.lit(1)).cast("long").alias("n_candidates"))
    n_caught = truth.join(cand, ["doc_a", "doc_b"]).agg(
        F.count(F.lit(1)).cast("long").alias("n_caught")
    )
    n_all = pairs.agg(F.count(F.lit(1)).cast("long").alias("n_all_pairs"))
    row = (
        n_truth.crossJoin(F.broadcast(n_cand))
        .crossJoin(F.broadcast(n_caught))
        .crossJoin(F.broadcast(n_all))
    )
    return row.select(
        "n_truth",
        "n_candidates",
        "n_caught",
        "n_all_pairs",
        F.round(F.col("n_caught").cast("double") / F.col("n_truth"), 6).alias(
            "recall"
        ),
        F.round(
            F.col("n_caught").cast("double") / F.col("n_candidates"), 6
        ).alias("precision"),
        F.round(
            1.0 - F.col("n_candidates").cast("double") / F.col("n_all_pairs"), 6
        ).alias("reduction_ratio"),
    )


lsh_blocking_quality_audit.__doc__ = lsh_blocking_quality_audit.__doc__.format(
    tau=JACCARD_THRESHOLD, b=PMH_BANDS, r=PMH_ROWS_PER_BAND
)


# ---------------------------------------------------------------------------
# Sorted-neighborhood blocking audit — round 10
# ---------------------------------------------------------------------------

SNM_WINDOW = 4

_SNM_SQL = f"""
WITH keyd AS (
  SELECT doc_id,
         array_to_string(list_sort(list_distinct(string_split(text, ' '))),
                         ' ') AS k
  FROM documents
),
keys AS (
  SELECT k, CAST(row_number() OVER (ORDER BY k) AS BIGINT) AS kr
  FROM (SELECT DISTINCT k FROM keyd)
),
docs AS (
  SELECT d.doc_id, keys.kr FROM keyd d JOIN keys ON keys.k = d.k
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM docs a JOIN docs b
    ON b.kr BETWEEN a.kr - {SNM_WINDOW} AND a.kr + {SNM_WINDOW}
   AND a.doc_id < b.doc_id
  WHERE a.doc_id < {N_JACCARD_PROBES}
),
tok AS (
  SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks
  FROM documents
),
truth AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM tok a JOIN tok b ON a.doc_id < b.doc_id
  WHERE a.doc_id < {N_JACCARD_PROBES}
    AND CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
        / (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks)))
        >= {JACCARD_THRESHOLD}
),
allp AS (
  SELECT CAST(count(*) AS BIGINT) AS n_all
  FROM tok a JOIN tok b ON a.doc_id < b.doc_id
  WHERE a.doc_id < {N_JACCARD_PROBES}
),
counts AS (
  SELECT
    (SELECT CAST(count(*) AS BIGINT) FROM truth) AS n_truth,
    (SELECT CAST(count(*) AS BIGINT) FROM cand) AS n_candidates,
    (SELECT CAST(count(*) AS BIGINT)
     FROM truth t JOIN cand c
       ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b) AS n_caught,
    (SELECT n_all FROM allp) AS n_all_pairs
)
SELECT n_truth, n_candidates, n_caught, n_all_pairs,
       round(CAST(n_caught AS DOUBLE) / n_truth, 6) AS recall,
       round(CAST(n_caught AS DOUBLE) / n_candidates, 6) AS precision,
       round(1.0 - CAST(n_candidates AS DOUBLE) / n_all_pairs, 6)
         AS reduction_ratio
FROM counts
"""


@register("snm_blocking_quality_audit", oracle=_SNM_SQL, category="dedup")
def snm_blocking_quality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood blocking audit — the SORT-based entity-
    resolution blocking family next to the hash-based LSH tier
    (``lsh_blocking_quality_audit``, same truth set, same output row, so
    the two families compare on one axis): docs are keyed by their
    sorted-distinct-token string, keys get a GLOBAL rank, and every pair
    within {w} key positions is a candidate. Exact-permutation
    near-dups collapse to ONE key (rank distance 0 — guaranteed caught);
    token-substitution dups rely on shared prefixes landing nearby — the
    measured gap IS the audit's product: at sf0.01 SNM reads recall
    0.044 / precision 0.483 / reduction 0.980 against LSH's 0.908 /
    0.424 / 0.534 — far cheaper, near-blind to substitution dups on a
    single sort key (production SNM multi-passes over several keys;
    each pass is this same plan).

    Scale shape: the global key rank is NOT a global sort — it is the
    ``weight_below`` two-level prefix sum over distinct keys (first-char
    coarse buckets, ~26 per corpus; the oracle's row_number states the
    same rank declaratively). Neighborhood pairing is an equi-join on
    floor(rank/{w}) block tags (each doc probes its own and both
    adjacent blocks), never a rank cross-join. ASCII corpus ⇒ identical
    binary string order in both engines (collation caveat for general
    text: pin a collation first, `collation_aware_distinct`)."""
    from big_data_medical_analysis_spark.operators.common import weight_below

    docs = read_table(spark, sf_dir, "documents")
    toks_all = F.array_distinct(F.split(F.col("text"), " "))
    keyd = checkpoint_pinned(
        fan_out(
            docs.select(
                "doc_id",
                F.concat_ws(" ", F.array_sort(toks_all)).alias("k"),
                toks_all.alias("toks"),
            ),
            "doc_id",
        )
    )
    key_cells = (
        keyd.select("k")
        .distinct()
        .select(
            "k",
            F.lit(1).cast("long").alias("one"),
            F.substring("k", 1, 1).alias("bucket"),
        )
    )
    keys = weight_below(key_cells, [], "k", "one").select(
        "k", (F.col("below") + 1).alias("kr")
    )
    # Round 16 (guide §3.3): dr feeds BOTH sides of the neighborhood
    # self-join — pinned so the rank chain (distinct keys → bucket
    # window → join back) executes once, not twice (same move as
    # snm_multipass_blocking_audit).
    dr = checkpoint_pinned(
        keyd.join(keys, "k").select(
            "doc_id", "kr", F.floor(F.col("kr") / SNM_WINDOW).alias("blk")
        )
    )
    probe_tags = dr.select(
        "doc_id",
        "kr",
        F.explode(
            F.array(F.col("blk") - 1, F.col("blk"), F.col("blk") + 1)
        ).alias("tag"),
    )
    cand = (
        probe_tags.alias("a")
        .join(dr.alias("b"), F.col("b.blk") == F.col("a.tag"))
        .filter(
            (F.col("a.doc_id") < F.col("b.doc_id"))
            & (F.col("a.doc_id") < N_JACCARD_PROBES)
            & (
                F.abs(F.col("b.kr") - F.col("a.kr")) <= SNM_WINDOW
            )
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    # Round 16: cand is consumed twice (n_candidates + the caught join)
    # and the probe×corpus jaccard pass three times (truth×2 + n_all) —
    # pinned, each heavy subtree executes once; cand/truth are
    # probe-bounded K-row lists and pairs collapses to its two counts.
    cand = checkpoint_pinned(cand)
    probe = F.broadcast(
        keyd.filter(F.col("doc_id") < N_JACCARD_PROBES).select(
            F.col("doc_id").alias("p_id"), F.col("toks").alias("p_toks")
        )
    )
    inter = F.size(F.array_intersect(F.col("p_toks"), F.col("toks")))
    jac = inter.cast("double") / (
        F.size(F.col("p_toks")) + F.size(F.col("toks")) - inter
    )
    pairs = probe.join(keyd, F.col("p_id") < F.col("doc_id"))
    truth = checkpoint_pinned(
        pairs.filter(jac >= JACCARD_THRESHOLD).select(
            F.col("p_id").alias("doc_a"), F.col("doc_id").alias("doc_b")
        )
    )
    n_truth = truth.agg(F.count(F.lit(1)).cast("long").alias("n_truth"))
    n_cand = cand.agg(F.count(F.lit(1)).cast("long").alias("n_candidates"))
    n_caught = truth.join(cand, ["doc_a", "doc_b"]).agg(
        F.count(F.lit(1)).cast("long").alias("n_caught")
    )
    n_all = pairs.agg(F.count(F.lit(1)).cast("long").alias("n_all_pairs"))
    row = (
        n_truth.crossJoin(F.broadcast(n_cand))
        .crossJoin(F.broadcast(n_caught))
        .crossJoin(F.broadcast(n_all))
    )
    return row.select(
        "n_truth",
        "n_candidates",
        "n_caught",
        "n_all_pairs",
        F.round(F.col("n_caught").cast("double") / F.col("n_truth"), 6).alias(
            "recall"
        ),
        F.round(
            F.col("n_caught").cast("double") / F.col("n_candidates"), 6
        ).alias("precision"),
        F.round(
            1.0 - F.col("n_candidates").cast("double") / F.col("n_all_pairs"), 6
        ).alias("reduction_ratio"),
    )


snm_blocking_quality_audit.__doc__ = snm_blocking_quality_audit.__doc__.format(
    w=SNM_WINDOW
)


# ---------------------------------------------------------------------------
# Multi-pass sorted-neighborhood audit — round 10
# ---------------------------------------------------------------------------


def _snm_pass_sql(name: str, key_expr: str) -> str:
    """One SNM pass's candidate CTEs (rank over distinct keys, ±w window)."""
    return f"""
keyd_{name} AS (
  SELECT doc_id, {key_expr} AS k FROM keysrc
),
keys_{name} AS (
  SELECT k, CAST(row_number() OVER (ORDER BY k) AS BIGINT) AS kr
  FROM (SELECT DISTINCT k FROM keyd_{name})
),
docs_{name} AS (
  SELECT d.doc_id, x.kr FROM keyd_{name} d JOIN keys_{name} x ON x.k = d.k
),
cand_{name} AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM docs_{name} a JOIN docs_{name} b
    ON b.kr BETWEEN a.kr - {SNM_WINDOW} AND a.kr + {SNM_WINDOW}
   AND a.doc_id < b.doc_id
  WHERE a.doc_id < {N_JACCARD_PROBES}
)"""


_SNM_MULTI_SQL = f"""
WITH keysrc AS (
  SELECT doc_id,
         array_to_string(list_sort(list_distinct(string_split(text, ' '))),
                         ' ') AS fwd
  FROM documents
),
{_snm_pass_sql('fwd', 'fwd')},
{_snm_pass_sql('rev', 'reverse(fwd)')},
cand_union AS (
  SELECT doc_a, doc_b FROM cand_fwd
  UNION
  SELECT doc_a, doc_b FROM cand_rev
),
tok AS (
  SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks
  FROM documents
),
truth AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM tok a JOIN tok b ON a.doc_id < b.doc_id
  WHERE a.doc_id < {N_JACCARD_PROBES}
    AND CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
        / (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks)))
        >= {JACCARD_THRESHOLD}
),
scored AS (
  SELECT 'sorted' AS pass,
         (SELECT CAST(count(*) AS BIGINT) FROM cand_fwd) AS n_candidates,
         (SELECT CAST(count(*) AS BIGINT) FROM truth t
          JOIN cand_fwd c ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b)
           AS n_caught
  UNION ALL
  SELECT 'reversed',
         (SELECT CAST(count(*) AS BIGINT) FROM cand_rev),
         (SELECT CAST(count(*) AS BIGINT) FROM truth t
          JOIN cand_rev c ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b)
  UNION ALL
  SELECT 'union',
         (SELECT CAST(count(*) AS BIGINT) FROM cand_union),
         (SELECT CAST(count(*) AS BIGINT) FROM truth t
          JOIN cand_union c ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b)
)
SELECT pass, n_candidates, n_caught,
       round(CAST(n_caught AS DOUBLE)
             / (SELECT count(*) FROM truth), 6) AS recall
FROM scored
"""


@register("snm_multipass_blocking_audit", oracle=_SNM_MULTI_SQL, category="dedup")
def snm_multipass_blocking_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTI-PASS sorted-neighborhood blocking — the production fix for the
    single-pass audit's blindness: each pass sorts on a different key
    (forward sorted-token string; its REVERSE, which right-anchors the
    comparison so a substitution EARLY in the token order — fatal to the
    forward pass — leaves the suffix intact) and the candidate sets
    union. One row per pass plus the union, so the recall recovery is
    the measured product: at sf0.01 sorted 0.044 / reversed 0.037 /
    union 0.080 — a 1.8x recovery that HONESTLY stays far below the LSH
    tier's 0.908, because J≥0.8 pairs on ~50-token docs differ in ~10
    scattered tokens (both prefix and suffix diverge); multi-pass SNM
    shines on field-swap/typo entity records, hash blocking on token
    churn — which is why a production resolver runs both.

    Same engine shape per pass as ``snm_blocking_quality_audit`` (rank
    via the weight_below prefix sum off ONE pinned key table, block-tag
    equi-join) — multi-pass SNM is embarrassingly parallel: passes share
    nothing but the key projection, and at 100 TB each runs as an
    independent branch of the same pinned scan."""
    from big_data_medical_analysis_spark.operators.common import weight_below

    docs = read_table(spark, sf_dir, "documents")
    toks_all = F.array_distinct(F.split(F.col("text"), " "))
    keysrc = checkpoint_pinned(
        fan_out(
            docs.select(
                "doc_id",
                F.concat_ws(" ", F.array_sort(toks_all)).alias("fwd"),
                toks_all.alias("toks"),
            ),
            "doc_id",
        )
    )

    def snm_pass(key_col) -> DataFrame:
        keyd = keysrc.select("doc_id", key_col.alias("k"))
        cells = (
            keyd.select("k")
            .distinct()
            .select(
                "k",
                F.lit(1).cast("long").alias("one"),
                F.substring("k", 1, 1).alias("bucket"),
            )
        )
        keys = weight_below(cells, [], "k", "one").select(
            "k", (F.col("below") + 1).alias("kr")
        )
        # Round 16 (guide §2.4/§3.3): dr feeds BOTH sides of the
        # neighborhood self-join below — unpinned, the whole rank chain
        # (distinct keys → bucket window → join back) was planned twice
        # per pass. The pin materializes it once; it is one slim
        # (doc_id, kr, blk) row per document.
        dr = checkpoint_pinned(
            keyd.join(keys, "k").select(
                "doc_id", "kr", F.floor(F.col("kr") / SNM_WINDOW).alias("blk")
            )
        )
        tags = dr.select(
            "doc_id",
            "kr",
            F.explode(
                F.array(F.col("blk") - 1, F.col("blk"), F.col("blk") + 1)
            ).alias("tag"),
        )
        return (
            tags.alias("a")
            .join(dr.alias("b"), F.col("b.blk") == F.col("a.tag"))
            .filter(
                (F.col("a.doc_id") < F.col("b.doc_id"))
                & (F.col("a.doc_id") < N_JACCARD_PROBES)
                & (F.abs(F.col("b.kr") - F.col("a.kr")) <= SNM_WINDOW)
            )
            .select(
                F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
            )
            .distinct()
        )

    # Round 16: each pass's candidate set is consumed twice (its own
    # score row AND the union row) — unpinned, the full pass subtree
    # re-ran for each consumer (the before plan is 738 operators). The
    # pins cap the plan at one execution per pass; the candidate lists
    # are probe-bounded (doc_a < N_JACCARD_PROBES), i.e. K-row.
    cand_fwd = checkpoint_pinned(snm_pass(F.col("fwd")))
    cand_rev = checkpoint_pinned(snm_pass(F.reverse(F.col("fwd"))))
    cand_union = cand_fwd.unionByName(cand_rev).distinct()
    probe = F.broadcast(
        keysrc.filter(F.col("doc_id") < N_JACCARD_PROBES).select(
            F.col("doc_id").alias("p_id"), F.col("toks").alias("p_toks")
        )
    )
    inter = F.size(F.array_intersect(F.col("p_toks"), F.col("toks")))
    jac = inter.cast("double") / (
        F.size(F.col("p_toks")) + F.size(F.col("toks")) - inter
    )
    truth = (
        probe.join(keysrc, F.col("p_id") < F.col("doc_id"))
        .filter(jac >= JACCARD_THRESHOLD)
        .select(F.col("p_id").alias("doc_a"), F.col("doc_id").alias("doc_b"))
    )
    truth = checkpoint_pinned(truth)
    n_truth = truth.agg(F.count(F.lit(1)).cast("long").alias("nt"))

    def score(cand: DataFrame, name: str) -> DataFrame:
        nc = cand.agg(F.count(F.lit(1)).cast("long").alias("n_candidates"))
        ng = truth.join(cand, ["doc_a", "doc_b"]).agg(
            F.count(F.lit(1)).cast("long").alias("n_caught")
        )
        return (
            nc.crossJoin(F.broadcast(ng))
            .crossJoin(F.broadcast(n_truth))
            .select(
                F.lit(name).alias("pass"),
                "n_candidates",
                "n_caught",
                F.round(
                    F.col("n_caught").cast("double") / F.col("nt"), 6
                ).alias("recall"),
            )
        )

    return (
        score(cand_fwd, "sorted")
        .unionByName(score(cand_rev, "reversed"))
        .unionByName(score(cand_union, "union"))
    )

"""Reference-surface ETL operators, corrected per SURVEY.md §2.2.

The reference's pipeline operators — dedup guard, random client split,
Bernoulli stratified sampling, explode fan-out, partitioned CSV writes
(``src/preprocessing_pipeline.py:158-240, 273-283, 145-153, 198-204``) —
re-expressed with the semantic hazards removed:

- the dedup guard is a single declarative plan, not a count-then-maybe-drop
  driver branch;
- client splits are deterministic by construction (``pmod(xxhash64(key), n)``)
  instead of ``randomSplit`` + post-hoc disjointness audit (SURVEY §2.2.3);
- the exact stratified partitioner complements the reference's Bernoulli
  ``sampleBy`` (SURVEY §2.2.4);
- writers are explicit terminal jobs on partitioned Parquet, not per-client
  CSV re-executions of shared lineage.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from big_data_medical_analysis_spark.operators.common import (
    cents,
    checkpoint_pinned,
    es_key,
    invocation_dir,
    invocation_table,
    md5_int,
    money_sum,
)
from big_data_medical_analysis_spark.registry import register
from big_data_medical_analysis_spark.sources.readers import read_table

# ---------------------------------------------------------------------------
# Dedup guard (reference: src/preprocessing_pipeline.py:280-283)
# ---------------------------------------------------------------------------

_DEDUP_GUARD_SQL = """
SELECT l_returnflag, count(*) AS n_after_dedup
FROM (
  SELECT DISTINCT * FROM (
    SELECT * FROM lineitem UNION ALL SELECT * FROM lineitem
  )
)
GROUP BY l_returnflag
"""


@register("dedup_guard", oracle=_DEDUP_GUARD_SQL, category="etl")
def dedup_guard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup over a deliberately doubled input (every row duplicated
    once), proving ``dropDuplicates`` semantics: the reference guards its
    split the same way (``groupBy("Path").count().filter("count>1")`` then
    ``dropDuplicates``, src/preprocessing_pipeline.py:280-283) but as a
    driver-side branch; here it is one declarative plan.

    Scale: full-row dedup is a hash aggregate on all columns — at 100 TB you
    dedup on a key or content hash instead (see dedup.py); this query is the
    exact-semantics baseline.
    """
    li = read_table(spark, sf_dir, "lineitem")
    doubled = li.unionAll(li)
    return (
        doubled.dropDuplicates()
        .groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("n_after_dedup"))
    )


_KEY_DEDUP_SQL = """
SELECT count(*) AS n_keys
FROM (SELECT DISTINCT l_orderkey, l_linenumber FROM lineitem)
"""


@register("key_dedup_count", oracle=_KEY_DEDUP_SQL, category="etl")
def key_dedup_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-based ``dropDuplicates([keys])`` — first-row-per-key aggregate,
    the scalable form of the reference's Path dedup."""
    li = read_table(spark, sf_dir, "lineitem")
    return (
        li.dropDuplicates(["l_orderkey", "l_linenumber"])
        .agg(F.count(F.lit(1)).alias("n_keys"))
    )


# ---------------------------------------------------------------------------
# Deterministic client split (replaces randomSplit, SURVEY §2.2.3)
# ---------------------------------------------------------------------------


def assign_client(df: DataFrame, key_cols: list[str], n_clients: int) -> DataFrame:
    """Add a ``client`` column: ``pmod(xxhash64(key...), n)``.

    Deterministic by construction — disjoint and complete regardless of
    partition layout, unlike ``randomSplit`` (which the reference has to
    audit post-hoc, utils/preprocessing_testing_utils.py:60-80). At 100 TB
    this composes with a single partitioned write instead of N filtered
    re-executions of the parent lineage.
    """
    return df.withColumn(
        "client", F.pmod(F.xxhash64(*key_cols), F.lit(n_clients)).cast("int")
    )


@register("deterministic_client_split", oracle=None, category="etl")
def deterministic_client_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Client-shard sizes under the deterministic hash split (4 clients on
    orders). No oracle: xxhash64 is engine-specific (DuckDB has no
    compatible implementation, so the split is irreproducible there by
    construction); disjointness/completeness are property-tested in
    tests/test_etl.py, and ``portable_client_split`` below is the
    fully-oracle-checked twin of the same capability on the portable md5
    hash (as is ``fedavg_rounds``' client assignment)."""
    orders = read_table(spark, sf_dir, "orders")
    return (
        assign_client(orders, ["o_orderkey"], 4)
        .groupBy("client")
        .agg(F.count(F.lit(1)).alias("n"))
    )


_PORTABLE_SPLIT_SQL = """
SELECT CAST(CAST(concat('0x', substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))
            AS BIGINT) % 4 AS INTEGER) AS client,
       count(*) AS n
FROM orders GROUP BY 1
"""


@register("portable_client_split", oracle=_PORTABLE_SPLIT_SQL, category="etl")
def portable_client_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deterministic client split on the PORTABLE md5 hash: identical
    shard assignment on any engine (the full-oracle twin of
    ``deterministic_client_split``; the same hash family drives
    ``fedavg_rounds`` and the sketch pillar). Production guidance: inside
    one Spark deployment ``xxhash64`` is faster (one JVM intrinsic vs an
    md5 + hex parse); the md5 split is for splits that must be
    *reproducible across engines* — e.g. a train/eval boundary shared with
    a non-Spark scoring system. One map-side-combinable aggregate."""
    orders = read_table(spark, sf_dir, "orders")
    client = F.pmod(
        md5_int(F.col("o_orderkey").cast("string")), F.lit(4)
    ).cast("int")
    return (
        orders.groupBy(client.alias("client"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


_EXACT_STRATIFIED_SQL = """
SELECT c_mktsegment, bucket, count(*) AS n
FROM (
  SELECT
    c_mktsegment,
    (row_number() OVER (PARTITION BY c_mktsegment ORDER BY c_custkey) - 1) % 4
      AS bucket
  FROM customer
)
GROUP BY c_mktsegment, bucket
"""


@register("exact_stratified_split", oracle=_EXACT_STRATIFIED_SQL, category="etl")
def exact_stratified_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact disjoint stratified partitioner (SURVEY §2.2.4): round-robin by
    ``row_number`` within each stratum — every bucket gets ⌈n/4⌉ or ⌊n/4⌋
    rows per stratum, unlike Bernoulli ``sampleBy`` which only approximates
    fractions.

    SCALE WARNING: the window partitions on the *raw stratum key*, so with S
    strata this runs as S window tasks each holding 1/S of the table — at
    100 TB that is one task per 20 TB. This is the exactness *baseline*; the
    at-scale form is ``salted_stratified_split`` below (salted sub-buckets,
    exact within ±S rows per stratum, parallelism S×SALT)."""
    customer = read_table(spark, sf_dir, "customer")
    w = W.partitionBy("c_mktsegment").orderBy("c_custkey")
    return (
        customer.withColumn("bucket", (F.row_number().over(w) - 1) % 4)
        .groupBy("c_mktsegment", "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )


N_SALT = 8


def assign_stratified_bucket(
    df: DataFrame,
    stratum_col: str,
    key_cols: list[str],
    n_buckets: int,
    n_salt: int = N_SALT,
) -> DataFrame:
    """De-skewed exact stratified bucketing: salt each stratum into
    ``n_salt`` deterministic sub-buckets (``pmod(xxhash64(key), n_salt)``),
    round-robin by ``row_number`` *within (stratum, salt)*.

    Each sub-bucket's round-robin is balanced within ±1, so a stratum's
    buckets differ by at most ``n_salt`` rows — exactness to ±n_salt with
    window parallelism S×n_salt instead of S. This is the form whose tasks
    stay bounded at 100 TB (tune n_salt ≈ cluster cores / strata)."""
    salt = F.pmod(F.xxhash64(*key_cols), F.lit(n_salt))
    w = W.partitionBy(F.col(stratum_col), salt).orderBy(*key_cols)
    return df.withColumn("bucket", (F.row_number().over(w) - 1) % n_buckets)


@register("salted_stratified_split", oracle=None, category="etl")
def salted_stratified_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(stratum, bucket) sizes under the salted exact partitioner.
    No oracle (xxhash64 salting is engine-specific); the ±N_SALT balance
    bound is property-tested in tests/test_etl.py."""
    customer = read_table(spark, sf_dir, "customer")
    return (
        assign_stratified_bucket(customer, "c_mktsegment", ["c_custkey"], 4)
        .groupBy("c_mktsegment", "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register("stratified_sample_by", oracle=None, category="etl")
def stratified_sample_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference-compatible Bernoulli stratified sample
    (``df.sampleBy(label, fractions, seed=42)``,
    src/preprocessing_pipeline.py:176,:229) — per-stratum row counts.
    No oracle: Bernoulli draws are engine-RNG-specific; per-stratum fraction
    tolerance is property-tested."""
    orders = read_table(spark, sf_dir, "orders")
    sampled = orders.sampleBy(
        "o_orderstatus", fractions={"O": 0.7, "F": 0.3, "P": 0.5}, seed=42
    )
    return sampled.groupBy("o_orderstatus").agg(F.count(F.lit(1)).alias("n_sampled"))


@register("random_split_shards", oracle=None, category="etl")
def random_split_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference-compatible ``randomSplit([0.25]*4, seed=42)``
    (src/preprocessing_pipeline.py:198-199) — shard sizes. The input is
    hash-repartitioned first, as the reference does (:273,:280), because
    randomSplit's disjointness depends on a deterministic partition layout.

    The repartitioned parent is checkpointed before splitting:
    randomSplit derives N child plans from ONE parent, and without
    materialization each child re-executes the scan + shuffle (the
    reference's own recompute hazard, SURVEY §2.2.1 — it re-runs its UDF
    lineage per action). Checkpointing makes the 4 shard counts read
    materialized partitions instead of re-scanning 4×. No oracle (engine
    RNG)."""
    orders = checkpoint_pinned(
        read_table(spark, sf_dir, "orders").repartition("o_orderkey")
    )
    shards = orders.randomSplit([0.25] * 4, seed=42)
    tagged = None
    for i, shard in enumerate(shards):
        s = shard.select(F.lit(i).alias("shard"))
        tagged = s if tagged is None else tagged.unionAll(s)
    return tagged.groupBy("shard").agg(F.count(F.lit(1)).alias("n"))


# ---------------------------------------------------------------------------
# Explode fan-out (reference: split→explode, src/preprocessing_pipeline.py:145-148)
# ---------------------------------------------------------------------------

_EXPLODE_SQL = """
SELECT token, count(*) AS n
FROM (SELECT unnest(string_split(p_name, ' ')) AS token FROM part)
GROUP BY token
"""


@register("explode_part_tokens", oracle=_EXPLODE_SQL, category="etl")
def explode_part_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generator fan-out: split → explode → aggregate, the reference's
    1-row→9-rows augmentation expansion (split at :145, explode at :148) as
    a real ArrayType pipeline instead of a comma-joined string."""
    part = read_table(spark, sf_dir, "part")
    return (
        part.select(F.explode(F.split("p_name", " ")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# ---------------------------------------------------------------------------
# Writers: explicit terminal jobs (reference: per-client CSV writes :203-204)
# ---------------------------------------------------------------------------


def write_client_shards(
    df: DataFrame, key_cols: list[str], n_clients: int, out_dir: str
) -> None:
    """Single partitioned-parquet write of all client shards.

    Replaces the reference's loop of N ``df.write.csv`` jobs — each of which
    re-executed the shared upstream lineage (src/preprocessing_pipeline.py:
    199-204) — with ONE job partitioned by client id.
    """
    assign_client(df, key_cols, n_clients).write.mode("overwrite").partitionBy(
        "client"
    ).parquet(out_dir)


def write_partitioned(df: DataFrame, partition_cols: list[str], out_dir: str) -> None:
    """Partitioned parquet sink — the engine's native layout for partition
    pruning at scale (vs the reference's flat CSV, :180,:204,:233)."""
    df.write.mode("overwrite").partitionBy(*partition_cols).parquet(out_dir)


def write_client_shards_csv(
    df: DataFrame, key_cols: list[str], n_clients: int, out_dir: str
) -> None:
    """Reference-compatible per-client CSV sink (headered CSV per client,
    src/preprocessing_pipeline.py:180,:203-204) — but as ONE partitioned
    write job instead of the reference's N independent ``write.csv`` calls,
    each of which re-executed the shared upstream lineage. Client dirs land
    as ``client=<k>/part-*.csv``; a consumer globs exactly like the
    reference's loader (src/federated_learning_pipeline.py:57-59)."""
    assign_client(df, key_cols, n_clients).write.mode("overwrite").option(
        "header", True
    ).partitionBy("client").csv(out_dir)


_CSV_ROUNDTRIP_SQL = """
SELECT c_mktsegment,
       count(*) AS n_customers,
       CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS DOUBLE) / 100.0
         AS total_acctbal
FROM customer
GROUP BY c_mktsegment
"""


@register("csv_roundtrip_revenue", oracle=_CSV_ROUNDTRIP_SQL, category="etl")
def csv_roundtrip_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV surface end to end (SURVEY §2.1 rows 1/3/8 in one driver-checked
    query): customer → per-client headered CSV shards (one partitioned
    write job, 4 clients) → multi-part glob scan with an explicit schema →
    exact aggregate. The oracle aggregates the source parquet directly, so
    a green row proves the CSV write+read preserved every row and every
    value (doubles survive the text roundtrip via Java's shortest-repr
    formatting; int64-cents summation keeps the hash order-independent).

    The shards go to this call's ``invocation_dir``. The eager write at
    construction time is inherent to a write→read roundtrip query (the
    glob scan needs the files to exist to plan)."""

    from big_data_medical_analysis_spark.operators.common import money_sum
    from big_data_medical_analysis_spark.schemas import CUSTOMER
    from big_data_medical_analysis_spark.sources.readers import read_csv

    out_dir = invocation_dir("csv_roundtrip")
    customer = read_table(spark, sf_dir, "customer")
    write_client_shards_csv(customer, ["c_custkey"], 4, out_dir)
    back = read_csv(spark, f"{out_dir}/client=*/*.csv", CUSTOMER)
    return back.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_customers"),
        money_sum("c_acctbal").alias("total_acctbal"),
    )


_PARTITIONED_PRUNE_SQL = """
SELECT o_orderstatus,
       count(*) AS n_orders,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0
         AS total_price
FROM orders
WHERE o_orderpriority = '1-URGENT'
GROUP BY o_orderstatus
"""


@register("partitioned_parquet_prune", oracle=_PARTITIONED_PRUNE_SQL, category="etl")
def partitioned_parquet_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-partitioned parquet write → partition-PRUNED read-back: orders
    written partitioned by o_orderpriority (5 directory partitions, into
    this call's ``invocation_dir``), then scanned with a filter on the
    partition column and aggregated exactly.

    This is the layout half of scale design the rest of the catalog can't
    show: at 100 TB, a popular predicate column as a partition key means
    the query READS 1/5th of the data — the filter resolves against
    directory names in the file index, before any file is opened. The plan
    test pins ``PartitionFilters`` (listing-time pruning) as distinct from
    ``PushedFilters`` (row-group pruning inside opened files). The oracle
    aggregates the SOURCE parquet with the same predicate, so a green row
    also proves the partitioned write relocated every row losslessly
    (values, including timestamps, survive the parquet→parquet move)."""

    from big_data_medical_analysis_spark.operators.common import money_sum

    out_dir = invocation_dir("partitioned_orders")
    orders = read_table(spark, sf_dir, "orders")
    # Cluster by the partition key before the write: each task then owns
    # whole partition values and writes one file per value, instead of
    # every task appending a sliver to all 5 directories (5×tasks tiny
    # files — the classic partitioned-write small-file bomb at scale).
    orders.repartition("o_orderpriority").write.mode("overwrite").partitionBy(
        "o_orderpriority"
    ).parquet(out_dir)
    back = spark.read.parquet(out_dir)
    return (
        back.filter(F.col("o_orderpriority") == "1-URGENT")
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            money_sum("o_totalprice").alias("total_price"),
        )
    )


N_BATCH_SHARDS = 64
BATCH_SHUFFLE_SEED = "seed42"

# The batch-size histogram is a pure function of the SHARD COUNTS (each
# shard of n rows yields n//32 full batches and one n%32 tail), and the
# shard split is the portable md5 hash — so the histogram is fully
# SQL-expressible even though the within-shard order is not part of the
# output. DuckDB rebuilds the identical shard counts and derives the
# identical histogram.
_SEEDED_BATCH_SQL = f"""
WITH counts AS (
  SELECT CAST(concat('0x', substr(md5(concat(CAST(o_orderkey AS VARCHAR),
                                             ':{BATCH_SHUFFLE_SEED}')), 1, 8))
              AS BIGINT) % {N_BATCH_SHARDS} AS shard,
         count(*) AS n
  FROM orders GROUP BY 1
)
SELECT CAST(32 AS BIGINT) AS batch_size,
       CAST(sum(n // 32) AS BIGINT) AS n_batches
FROM counts HAVING sum(n // 32) > 0
UNION ALL
SELECT CAST(n % 32 AS BIGINT) AS batch_size,
       CAST(count(*) AS BIGINT) AS n_batches
FROM counts WHERE n % 32 > 0 GROUP BY n % 32
"""


@register("seeded_shuffle_batches", oracle=_SEEDED_BATCH_SQL, category="etl")
def seeded_shuffle_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded shuffle + fixed-size batching (SURVEY §2.1 row 33 — the
    reference's ``dataset.shuffle(buffer).batch(32)``), the distributed way:
    rows are dealt into N_BATCH_SHARDS deterministic shards (portable md5
    of key+seed), locally ordered by a second salted md5 (the "shuffle" —
    changing the seed string permutes everything, and any engine or rerun
    reproduces the identical order, unlike ``rand(seed)`` whose stream is
    engine- and partition-layout-specific), and sliced into 32-row batches
    per shard. A *globally* contiguous batch numbering would need
    row_number over an unpartitioned window — one task holding the whole
    table; sharded batching keeps every window task at 1/N of the data and
    only underfills ≤ N tail batches. Output: batch-size histogram, now
    FULLY oracle-checked (the histogram is a function of the portable
    shard counts alone)."""
    orders = read_table(spark, sf_dir, "orders")
    key = F.col("o_orderkey").cast("string")
    shard = F.pmod(
        md5_int(F.concat(key, F.lit(f":{BATCH_SHUFFLE_SEED}"))),
        F.lit(N_BATCH_SHARDS),
    )
    shuffle_key = F.md5(
        F.concat(F.lit("shuffle:"), key, F.lit(f":{BATCH_SHUFFLE_SEED}"))
    )
    w = W.partitionBy(shard).orderBy(shuffle_key, F.col("o_orderkey"))
    batched = orders.withColumn(
        "batch",
        shard * F.lit(1_000_000_000)
        + ((F.row_number().over(w) - 1) / 32).cast("long"),
    )
    return (
        batched.groupBy("batch")
        .agg(F.count(F.lit(1)).alias("batch_size"))
        .groupBy("batch_size")
        .agg(F.count(F.lit(1)).alias("n_batches"))
    )


# ---------------------------------------------------------------------------
# Weighted sampling without replacement (A-Res exponential race, full oracle)
# ---------------------------------------------------------------------------

WEIGHTED_SAMPLE_K = 100


@register(
    "weighted_sample_docs",
    oracle=f"""
WITH keyed AS (
  SELECT doc_id, n_chars,
         -ln((CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                   AS BIGINT) + 0.5) / 4294967296.0)
           / n_chars AS ek
  FROM documents
)
SELECT doc_id, n_chars, round(ek, 6) AS samp_key
FROM keyed
ORDER BY ek ASC, doc_id
LIMIT {WEIGHTED_SAMPLE_K}
""",
    category="etl",
)
def weighted_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-proportional sample without replacement: {WEIGHTED_SAMPLE_K}
    docs drawn with probability proportional to length (n_chars) via the
    exponential race of Efraimidis-Spirakis A-Res — each doc gets key
    Exp(weight) = -ln(U)/w and the smallest K keys win, which is exactly
    sequential weighted sampling without replacement.

    U comes from the doc_id's md5 prefix (engine-portable, so the sample is
    DETERMINISTIC and fully value-oracle-checked — unlike engine-RNG
    ``sample()``/``sampleBy()``, a rerun or a different engine draws the
    identical sample; re-seeding means salting the hash input). Quality-
    weighted corpus subsampling is the 100 TB use: the plan is one narrow
    projection + TakeOrderedAndProject (per-partition top-K then a K-row
    merge on one reducer — no global sort, no full shuffle).
    """
    docs = read_table(spark, sf_dir, "documents")
    ek = es_key(F.col("doc_id").cast("string"), "n_chars")
    return (
        docs.select("doc_id", "n_chars", ek.alias("ek"))
        .orderBy(F.asc("ek"), F.asc("doc_id"))
        .limit(WEIGHTED_SAMPLE_K)
        .select("doc_id", "n_chars", F.round("ek", 6).alias("samp_key"))
    )


QUOTA_PER_LANG = 20


@register(
    "lang_quota_sample",
    oracle=f"""
WITH keyed AS (
  SELECT doc_id, lang, n_chars,
         -ln((CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                   AS BIGINT) + 0.5) / 4294967296.0)
           / n_chars AS ek
  FROM documents
)
SELECT doc_id, lang, n_chars, CAST(rnk AS INTEGER) AS rnk
FROM (
  SELECT doc_id, lang, n_chars,
         row_number() OVER (PARTITION BY lang ORDER BY ek, doc_id) AS rnk
  FROM keyed
)
WHERE rnk <= {QUOTA_PER_LANG}
""",
    category="etl",
)
def lang_quota_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language quota sampling: the same Efraimidis-Spirakis
    length-weighted race as ``weighted_sample_docs``, but taking the best
    {QUOTA_PER_LANG} docs PER LANGUAGE — the mixture-balancing step of a
    training-data pipeline (cap each language/source at a quota instead of
    letting the head languages swamp the sample).

    One shuffle on lang for the ranking window; rank-k selection inside
    each partition. At 100 TB the window never materializes more than a
    partition at a time, and a skewed language is handled by the same
    salting pattern as ``salted_stratified_split``. Deterministic md5
    randomness ⇒ full value oracle.
    """
    docs = read_table(spark, sf_dir, "documents")
    ek = es_key(F.col("doc_id").cast("string"), "n_chars")
    w = W.partitionBy("lang").orderBy(F.asc("ek"), F.asc("doc_id"))
    return (
        docs.select("doc_id", "lang", "n_chars", ek.alias("ek"))
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= QUOTA_PER_LANG)
        .select("doc_id", "lang", "n_chars", "rnk")
    )


# ---------------------------------------------------------------------------
# End-to-end corpus curation (quality gate -> dedup keeper -> lang quota)
# ---------------------------------------------------------------------------


@register(
    "curated_corpus",
    oracle=f"""
WITH q AS (
  SELECT doc_id, lang, n_chars, text,
         len(string_split(text, ' ')) AS n_tokens,
         round(CAST(length(text) - len(string_split(text, ' ')) + 1 AS DOUBLE)
               / len(string_split(text, ' ')), 6) AS avg_token_len
  FROM documents
), gated AS (
  SELECT * FROM q WHERE n_tokens >= 20 AND avg_token_len BETWEEN 2 AND 15
), fp AS (
  SELECT *, md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fpk
  FROM gated
), keepers AS (
  SELECT f.doc_id, f.lang, f.n_chars, f.n_tokens, f.avg_token_len
  FROM fp f
  JOIN (SELECT fpk, min(doc_id) AS keeper FROM fp GROUP BY fpk) k
    ON f.fpk = k.fpk AND f.doc_id = k.keeper
), keyed AS (
  SELECT *,
         -ln((CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                   AS BIGINT) + 0.5) / 4294967296.0) / n_chars AS ek
  FROM keepers
)
SELECT doc_id, lang, n_tokens, avg_token_len, CAST(rnk AS INTEGER) AS rnk
FROM (
  SELECT *, row_number() OVER (PARTITION BY lang ORDER BY ek, doc_id) AS rnk
  FROM keyed
)
WHERE rnk <= {QUOTA_PER_LANG}
""",
    category="etl",
)
def curated_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full training-corpus curation pipeline as ONE lazy plan — the
    flagship composition of the LLM pillars: quality gates (token count,
    mean token length) -> exact-dedup keeper selection (normalized-md5
    fingerprint, min-id representative) -> per-language quota via the
    length-weighted sampling race. A user runs corpus curation end-to-end
    with one action; Catalyst fuses the gates into the scan.

    Scale shape: the quality gates are scan-side predicates (pushed into
    the parquet read's output filter, zero cost rows dropped early); keeper
    selection is `min(doc_id) over (partition by fpk)` — ONE shuffle keyed
    on the 32-byte fingerprint carrying only slim metadata columns (text is
    pruned before the exchange; the agg+self-join form cost a second
    shuffle and recomputed the scan+md5 for the probe side); the quota
    window shuffles once on lang.
    Deterministic md5 randomness end-to-end ⇒ the whole pipeline is one
    full value oracle.
    """
    from big_data_medical_analysis_spark.operators.dedup import (
        normalized_fingerprint,
    )

    docs = read_table(spark, sf_dir, "documents")
    tokens = F.split("text", " ")
    n_tokens = F.size(tokens)
    avg_tok = F.round(
        (F.length("text") - n_tokens + 1).cast("double") / n_tokens, 6
    )
    gated = docs.select(
        "doc_id", "lang", "n_chars", "text",
        n_tokens.alias("n_tokens"),
        avg_tok.alias("avg_token_len"),
    ).filter(
        (F.col("n_tokens") >= 20)
        & (F.col("avg_token_len") >= 2)
        & (F.col("avg_token_len") <= 15)
    )
    fp = gated.withColumn("fpk", normalized_fingerprint("text"))
    wk = W.partitionBy("fpk")
    keepers = (
        fp.withColumn("keeper", F.min("doc_id").over(wk))
        .filter(F.col("doc_id") == F.col("keeper"))
        .select("doc_id", "lang", "n_chars", "n_tokens", "avg_token_len")
    )
    ek = es_key(F.col("doc_id").cast("string"), "n_chars")
    w = W.partitionBy("lang").orderBy(F.asc("ek"), F.asc("doc_id"))
    return (
        keepers.withColumn("ek", ek)
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= QUOTA_PER_LANG)
        .select("doc_id", "lang", "n_tokens", "avg_token_len", "rnk")
    )


_ORC_ROUNDTRIP_SQL = """
SELECT s_nationkey,
       count(*) AS n_suppliers,
       CAST(sum(CAST(round(s_acctbal * 100) AS BIGINT)) AS DOUBLE) / 100.0
         AS total_acctbal
FROM supplier
GROUP BY s_nationkey
"""


@register("orc_roundtrip_revenue", oracle=_ORC_ROUNDTRIP_SQL, category="etl")
def orc_roundtrip_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC surface end to end: supplier → ORC write (zlib-compressed
    columnar, the engine's second columnar format after parquet) →
    schema'd read-back → exact aggregate. The oracle aggregates the source
    parquet directly, so a green row proves the ORC write+read preserved
    every row and value (doubles are stored natively, no text roundtrip).

    The eager write is inherent to a write→read roundtrip query.

    Scale: ORC gives the same pushdown/pruning class as parquet (stripe
    statistics, predicate pushdown, column projection); the roundtrip
    pins that the reader applies the declared schema rather than
    re-inferring.
    """

    from big_data_medical_analysis_spark.operators.common import money_sum
    from big_data_medical_analysis_spark.schemas import SUPPLIER

    out_dir = invocation_dir("orc_roundtrip")
    supplier = read_table(spark, sf_dir, "supplier")
    supplier.write.mode("overwrite").orc(out_dir)
    back = spark.read.schema(SUPPLIER).orc(out_dir)
    return back.groupBy("s_nationkey").agg(
        F.count(F.lit(1)).alias("n_suppliers"),
        money_sum("s_acctbal").alias("total_acctbal"),
    )


# ---------------------------------------------------------------------------
# CDC upsert apply (MERGE INTO semantics on plain parquet)
# ---------------------------------------------------------------------------

_UPSERT_SQL = """
WITH updates AS (
  SELECT o_orderkey, o_custkey, o_orderstatus,
         round(o_totalprice + 1.0, 2) AS o_totalprice,
         o_orderdate, o_orderpriority
  FROM orders WHERE o_orderkey % 10 = 0
  UNION ALL
  SELECT o_orderkey + 100000000, o_custkey, 'N' AS o_orderstatus,
         o_totalprice, o_orderdate, o_orderpriority
  FROM orders WHERE o_orderkey % 1000 = 0
),
merged AS (
  SELECT b.* FROM orders b
  WHERE NOT EXISTS (SELECT 1 FROM updates u
                    WHERE u.o_orderkey = b.o_orderkey)
  UNION ALL
  SELECT * FROM updates
)
SELECT o_orderstatus,
       count(*) AS n_orders,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0
         AS total_price
FROM merged
GROUP BY o_orderstatus
"""


@register("orders_upsert_apply", oracle=_UPSERT_SQL, category="etl")
def orders_upsert_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO semantics on plain parquet — the CDC apply step every
    warehouse-less pipeline needs: a deterministic change batch (updates
    for keys %10, inserts at offset keys) applied as
    ``base ANTI JOIN changes ∪ changes``, then aggregated exactly.

    Scale: the anti join + union IS how table formats express MERGE
    physically (copy-on-write); both sides shuffle on the merge key once,
    and with the base bucketed on the key the anti join is co-located. A
    format with deletion vectors turns the anti join into a filter —
    same logical plan, cheaper physical. The change batch is
    localCheckpointed (r9): in production it arrives as its own small
    table; here it is DERIVED from the base fixture, and its two
    consumers (anti-join key side + union) re-derived it — five base
    scans where a real MERGE does one base pass against a materialized
    batch.
    """
    from big_data_medical_analysis_spark.operators.common import money_sum

    orders = read_table(spark, sf_dir, "orders")
    updates = orders.filter(F.col("o_orderkey") % 10 == 0).withColumn(
        "o_totalprice", F.round(F.col("o_totalprice") + 1.0, 2)
    )
    inserts = (
        orders.filter(F.col("o_orderkey") % 1000 == 0)
        .withColumn("o_orderkey", F.col("o_orderkey") + 100000000)
        .withColumn("o_orderstatus", F.lit("N"))
    )
    from big_data_medical_analysis_spark.operators.common import (
        checkpoint_pinned,
    )

    changes = checkpoint_pinned(updates.unionByName(inserts))
    merged = orders.join(
        changes.select("o_orderkey"), "o_orderkey", "left_anti"
    ).unionByName(changes)
    return merged.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        money_sum("o_totalprice").alias("total_price"),
    )


_SCHEMA_EVOLUTION_SQL = """
WITH old_batch AS (
  SELECT o_orderkey, o_custkey, o_totalprice, NULL AS o_orderpriority
  FROM orders WHERE o_orderkey % 2 = 0
),
new_batch AS (
  SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
  FROM orders WHERE o_orderkey % 2 = 1
),
unioned AS (
  SELECT * FROM old_batch UNION ALL SELECT * FROM new_batch
)
SELECT
  coalesce(o_orderpriority, '<pre-evolution>') AS priority,
  count(*) AS n_orders,
  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0
    AS total_price
FROM unioned
GROUP BY 1
"""


@register("schema_evolution_read", oracle=_SCHEMA_EVOLUTION_SQL, category="etl")
def schema_evolution_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution across parquet batches: an old batch written
    WITHOUT ``o_orderpriority`` and a new batch WITH it, scanned together
    under ``mergeSchema`` — rows from the pre-evolution files surface the
    added column as NULL. The oracle reconstructs the same union from the
    source table, so the driver row proves the merged scan loses neither
    rows nor values across the schema boundary.

    Scale: mergeSchema reconciles footers at planning time (cost scales
    with file count, not data; production pins the merged schema in a
    catalog instead of re-inferring per query) — the scan itself remains
    ordinary pruned/pushed-down parquet.
    """

    from big_data_medical_analysis_spark.operators.common import money_sum

    out_dir = invocation_dir("schema_evo")
    orders = read_table(spark, sf_dir, "orders")
    old_cols = ["o_orderkey", "o_custkey", "o_totalprice"]
    orders.filter(F.col("o_orderkey") % 2 == 0).select(old_cols).write.mode(
        "overwrite"
    ).parquet(f"{out_dir}/batch=old")
    orders.filter(F.col("o_orderkey") % 2 == 1).select(
        *old_cols, "o_orderpriority"
    ).write.mode("overwrite").parquet(f"{out_dir}/batch=new")
    merged = spark.read.option("mergeSchema", True).parquet(
        f"{out_dir}/batch=old", f"{out_dir}/batch=new"
    )
    return merged.groupBy(
        F.coalesce("o_orderpriority", F.lit("<pre-evolution>")).alias(
            "priority"
        )
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        money_sum("o_totalprice").alias("total_price"),
    )


_INCREMENTAL_AGG_SQL = """
SELECT o_orderstatus,
       count(*) AS n_orders,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0
         AS total_price
FROM orders
GROUP BY o_orderstatus
"""


@register("incremental_agg_merge", oracle=_INCREMENTAL_AGG_SQL, category="etl")
def incremental_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregation: a BASE partial aggregate (orders before the
    split date) merged with a DELTA partial aggregate (the rest) by
    combining sufficient statistics — sum of int64 cents and counts add
    associatively, so the merged result is bit-equal to the full rescan
    the oracle performs.

    This is the materialized-view maintenance discipline: at 100 TB you
    never rescan the base to absorb a day's delta; you keep per-group
    (count, sum_cents) and fold the delta's partials in. Works for any
    algebraic aggregate (count/sum/min/max and the moment statistics in
    lineitem_price_moments); holistic aggregates (exact percentiles) need
    the sketch tier instead.
    """
    from big_data_medical_analysis_spark.operators.common import cents

    orders = read_table(spark, sf_dir, "orders")
    split = F.to_timestamp(F.lit("1996-01-01 00:00:00"))

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy("o_orderstatus").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(cents("o_totalprice")).alias("sum_cents"),
        )

    base = partial(orders.filter(F.col("o_orderdate") < split))
    delta = partial(orders.filter(F.col("o_orderdate") >= split))
    return (
        base.unionByName(delta)
        .groupBy("o_orderstatus")
        .agg(F.sum("n").alias("n_orders"), F.sum("sum_cents").alias("sc"))
        .select(
            "o_orderstatus",
            "n_orders",
            (F.col("sc").cast("double") / 100.0).alias("total_price"),
        )
    )


_LATEST_EVENT_SQL = """
SELECT user_id, event_id,
       strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_str,
       event_type,
       CAST(round(value * 100) AS BIGINT) AS value_cents
FROM (
  SELECT *, row_number() OVER (PARTITION BY user_id
                               ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
) WHERE rn = 1
"""


@register("latest_event_per_user", oracle=_LATEST_EVENT_SQL, category="etl")
def latest_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC compaction: the latest record per key by (ts, id) — the
    collapse step every change-capture pipeline runs before serving a
    current-state table, deterministic via the event_id tiebreak.

    Scale: one shuffle on the key + a per-partition top-1 — Spark plans
    the rn=1 filter as a running-max without materializing the full sort
    when AQE and the window-group-limit optimization apply; for heavy
    skew, pre-aggregate max_by(struct(ts, event_id)) per key map-side.
    """
    from big_data_medical_analysis_spark.operators.common import cents, ts_str

    ev = read_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            "event_id",
            ts_str("ts").alias("ts_str"),
            "event_type",
            cents("value").alias("value_cents"),
        )
    )


# ---------------------------------------------------------------------------
# JSON-lines write → read roundtrip (round 6)
# ---------------------------------------------------------------------------

_JSONL_ROUNDTRIP_SQL = """
SELECT o_orderstatus,
       count(*) AS n_orders,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0
         AS total_price,
       strftime(min(o_orderdate), '%Y-%m-%d') AS first_date,
       strftime(max(o_orderdate), '%Y-%m-%d') AS last_date
FROM orders
GROUP BY o_orderstatus
"""


@register("jsonl_roundtrip_revenue", oracle=_JSONL_ROUNDTRIP_SQL, category="etl")
def jsonl_roundtrip_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines surface end to end: orders → JSONL write (the
    interchange format most LLM-data tooling speaks) → SCHEMA'D read-back
    (no inference in the data plane, same discipline as read_csv) → exact
    aggregate. The oracle aggregates the source parquet, so a green row
    proves the text roundtrip preserved every row, the money values
    (doubles survive JSON via shortest-repr printing and exact re-parse),
    and the DateType columns ('yyyy-MM-dd' text both ways).

    The eager write is inherent to a write→read query.

    Scale: JSONL is the interchange tier, not the analytics tier — no
    pushdown, no pruning, full-text parse per row (the docstring IS the
    guidance: land JSONL once, convert to parquet, query parquet).
    """

    from pyspark.sql import types as T

    from big_data_medical_analysis_spark.operators.common import money_sum
    from big_data_medical_analysis_spark.sources.readers import read_json

    out_dir = invocation_dir("jsonl_roundtrip")
    cols = [
        "o_orderkey",
        "o_orderstatus",
        "o_totalprice",
        "o_orderdate",
    ]
    orders = read_table(spark, sf_dir, "orders").select(*cols)
    orders.write.mode("overwrite").json(out_dir)
    back = read_json(
        spark, out_dir, T.StructType([orders.schema[c] for c in cols])
    )
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        money_sum("o_totalprice").alias("total_price"),
        F.date_format(F.min("o_orderdate"), "yyyy-MM-dd").alias("first_date"),
        F.date_format(F.max("o_orderdate"), "yyyy-MM-dd").alias("last_date"),
    )


# ---------------------------------------------------------------------------
# Corrupt-record quarantine (PERMISSIVE ingest, round 9)
# ---------------------------------------------------------------------------

# Deterministic malformation rule, shared text with the oracle: every
# 13th order key's JSON line is truncated mid-object.
_CORRUPT_PRED = "o_orderkey % 13 = 0"

_CORRUPT_QUARANTINE_SQL = f"""
SELECT
  CAST(sum(CASE WHEN NOT ({_CORRUPT_PRED}) THEN 1 ELSE 0 END) AS BIGINT)
    AS n_good,
  CAST(sum(CASE WHEN {_CORRUPT_PRED} THEN 1 ELSE 0 END) AS BIGINT) AS n_bad,
  CAST(sum(CASE WHEN NOT ({_CORRUPT_PRED})
                THEN CAST(round(o_totalprice * 100) AS BIGINT)
                ELSE 0 END) AS DOUBLE) / 100.0 AS good_total_price,
  min(CASE WHEN NOT ({_CORRUPT_PRED}) THEN o_orderkey END) AS min_good_key,
  max(CASE WHEN NOT ({_CORRUPT_PRED}) THEN o_orderkey END) AS max_good_key
FROM orders
"""


CORRUPT_JSONL_FIELDS = (
    ("k", "long"),
    ("pc", "long"),
    ("_corrupt_record", "string"),
)


def corrupt_jsonl_schema():
    from pyspark.sql import types as T

    typemap = {"long": T.LongType(), "string": T.StringType()}
    return T.StructType(
        [T.StructField(n, typemap[t]) for n, t in CORRUPT_JSONL_FIELDS]
    )


@register(
    "corrupt_jsonl_quarantine",
    oracle=_CORRUPT_QUARANTINE_SQL,
    category="etl",
)
def corrupt_jsonl_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERMISSIVE-mode ingest with corrupt-record quarantine — the
    malformed-input surface every production landing job needs and the
    roundtrip queries deliberately avoid: a JSONL batch where every 13th
    order's line is TRUNCATED mid-object is read back with an explicit
    schema plus ``columnNameOfCorruptRecord``; parse failures land intact
    in the quarantine column (data columns null) instead of killing the
    job (FAILFAST) or silently vanishing (DROPMALFORMED). The query
    aggregates both populations — good/bad counts, exact money sum and
    key range over the parseable rows — and the oracle recomputes all of
    it from the source parquet with the same malformation rule, so a
    green row proves (a) not one good row was lost or altered around the
    corruption and (b) every malformed line was quarantined, not
    dropped.

    Scale: quarantine is a per-row parse concern — embarrassingly
    parallel, no extra shuffle (the aggregate is the same partial+final
    fold as any ingest audit). The production pattern this pins: land
    with PERMISSIVE + corrupt column, route ``_corrupt_record IS NOT
    NULL`` to a dead-letter sink, alert on the ratio — never FAILFAST a
    100 TB backfill at 99.999% health, never DROPMALFORMED (silent
    loss).
    """
    from big_data_medical_analysis_spark.operators.common import cents

    out_dir = invocation_dir("corrupt_jsonl")
    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    good_json = F.to_json(
        F.struct(
            F.col("o_orderkey").alias("k"),
            cents("o_totalprice").alias("pc"),
        )
    )
    truncated = F.concat(
        F.lit('{"k": '), F.col("o_orderkey").cast("string"), F.lit(', "pc":')
    )
    lines = orders.select(
        F.when(F.expr(_CORRUPT_PRED), truncated)
        .otherwise(good_json)
        .alias("value")
    )
    lines.write.mode("overwrite").text(out_dir)
    back = (
        spark.read.schema(corrupt_jsonl_schema())
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(out_dir)
    )
    good = F.col("_corrupt_record").isNull()
    return back.agg(
        F.sum(good.cast("long")).alias("n_good"),
        F.sum((~good).cast("long")).alias("n_bad"),
        (
            F.sum(F.when(good, F.col("pc")).otherwise(F.lit(0))).cast("double")
            / 100.0
        ).alias("good_total_price"),
        F.min(F.when(good, F.col("k"))).alias("min_good_key"),
        F.max(F.when(good, F.col("k"))).alias("max_good_key"),
    )


# ---------------------------------------------------------------------------
# XML write → read roundtrip (round 6; Spark 4 native XML source)
# ---------------------------------------------------------------------------

_XML_ROUNDTRIP_SQL = """
SELECT c_nationkey,
       count(*) AS n_customers,
       CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS DOUBLE) / 100.0
         AS total_acctbal
FROM customer
GROUP BY c_nationkey
"""


@register("xml_roundtrip_revenue", oracle=_XML_ROUNDTRIP_SQL, category="etl")
def xml_roundtrip_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML surface end to end (Spark 4's NATIVE xml source — no external
    package): customer → rowTag-structured XML write → schema'd read-back →
    exact aggregate against the source-parquet oracle. Completes the text
    format family next to CSV and JSONL. (Avro remains the one absent
    format: its data-source module is external to this Spark distribution —
    an environment gap, not an engine one.)

    Scale: same guidance as JSONL — XML is an ingest/interchange tier with
    full-text parse per row and no pushdown; land it once, convert to
    parquet. The roundtrip pins that the reader applies the declared
    schema, parses numerics exactly, and preserves row multiplicity.
    """

    from big_data_medical_analysis_spark.operators.common import money_sum

    out_dir = invocation_dir("xml_roundtrip")
    cols = ["c_custkey", "c_nationkey", "c_acctbal"]
    cust = read_table(spark, sf_dir, "customer").select(*cols)
    (
        cust.write.mode("overwrite")
        .format("xml")
        .option("rootTag", "customers")
        .option("rowTag", "customer")
        .save(out_dir)
    )
    back = (
        spark.read.format("xml")
        .option("rowTag", "customer")
        .schema("c_custkey long, c_nationkey long, c_acctbal double")
        .load(out_dir)
    )
    return back.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n_customers"),
        money_sum("c_acctbal").alias("total_acctbal"),
    )


# ---------------------------------------------------------------------------
# Z-order (Morton) layout keys (round 6)
# ---------------------------------------------------------------------------

MORTON_BITS = 16


def _morton_expr(a: str, b: str, bits: int = MORTON_BITS) -> str:
    """Shared SQL text for the bit-interleaved Morton code of two
    ``bits``-bit non-negative ints — one expression string both engines
    evaluate identically (shifts/AND on BIGINT are exact)."""
    terms = []
    for i in range(bits):
        terms.append(f"((({a} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({b} >> {i}) & 1) << {2 * i + 1})")
    return " + ".join(terms)


_MORTON_SQL = f"""
WITH o AS (
  SELECT o_orderkey,
         CAST(o_custkey % 65536 AS BIGINT) AS a,
         CAST(datediff('day', DATE '2024-01-01', CAST(o_orderdate AS DATE))
              % 65536 AS BIGINT) AS b
  FROM orders WHERE o_orderkey < 500
)
SELECT o_orderkey, a, b,
       CAST({_morton_expr('a', 'b')} AS BIGINT) AS morton
FROM o
"""


@register("morton_layout_keys", oracle=_MORTON_SQL, category="layout")
def morton_layout_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering keys: bit-interleave (customer,
    order-day) into one int64 so that range-partitioning + sorting on it
    co-locates rows close in BOTH dimensions — the multi-dimensional
    data-skipping layout (Delta/Iceberg OPTIMIZE ZORDER) that the 1-D
    sorted layout (tests/test_plans.py range-partition pin) can't give:
    min/max stats per file then prune scans for predicates on EITHER
    column. The key is pure bit arithmetic — exact on both engines, so
    the oracle pins every interleaved value.

    Scale: computing the key is row-local codegen; the layout write is
    ``repartitionByRange(morton).sortWithinPartitions(morton)`` exactly
    like the pinned 1-D form. Interleaving uses the LOW {MORTON_BITS}
    bits of each dimension (hash or quantile-rank the raw values first
    when their range exceeds 2^{MORTON_BITS} — rank-based Z-values are
    what table formats actually write).
    """
    o = read_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 500)
    prep = o.selectExpr(
        "o_orderkey",
        "CAST(o_custkey % 65536 AS BIGINT) AS a",
        "CAST(datediff(o_orderdate, DATE '2024-01-01') % 65536 AS BIGINT) AS b",
    )
    return prep.selectExpr(
        "o_orderkey", "a", "b",
        f"CAST({_morton_expr('a', 'b')} AS BIGINT) AS morton",
    )


# ---------------------------------------------------------------------------
# Deterministic per-group downsampling (round 7)
# ---------------------------------------------------------------------------

# Portable salted-md5 ranking (the seeded_shuffle_batches convention): both
# engines hash the same "r7ds:<id>" bytes, so the kept set is a true value
# oracle — unlike engine-RNG sampling (sampleBy/randomSplit), which is
# rows-only by contract.
_DOWNSAMPLE_SQL = """
WITH ranked AS (
  SELECT source, doc_id,
         row_number() OVER (
           PARTITION BY source
           ORDER BY md5('r7ds:' || CAST(doc_id AS VARCHAR)), doc_id
         ) AS rk
  FROM documents
)
SELECT source, doc_id, CAST(rk AS INTEGER) AS rk
FROM ranked WHERE rk <= 25
"""


@register("per_group_downsample", oracle=_DOWNSAMPLE_SQL, category="sampling")
def per_group_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT-N-per-group downsampling — keep precisely 25 documents per
    source, chosen by a salted portable hash: the cap-per-domain /
    cap-per-source operator every crawl-curation pipeline needs (fraction
    sampling can't promise an exact per-group count; this does, and
    deterministically, so reruns and engines agree row-for-row).

    Scale: one shuffle on the group key + a per-group top-N window. The
    hash order makes the selection UNIFORM within each group regardless of
    storage order. For groups with billions of members a rank window's
    full sort is wasteful — the production refinement is a two-pass
    hash-threshold (estimate the Nth hash value per group from a sample,
    filter, then exact-rank only the survivors), the same
    candidate-pruning discipline as the LSH tiers.
    """
    docs = read_table(spark, sf_dir, "documents")
    rk = F.row_number().over(
        W.partitionBy("source").orderBy(
            F.md5(F.concat(F.lit("r7ds:"), F.col("doc_id").cast("string"))),
            "doc_id",
        )
    )
    return (
        docs.select("source", "doc_id", rk.alias("rk"))
        .filter(F.col("rk") <= 25)
        .select("source", "doc_id", F.col("rk").cast("integer").alias("rk"))
    )


# ---------------------------------------------------------------------------
# Dynamic partition pruning (round 7b)
# ---------------------------------------------------------------------------

_DPP_SQL = """
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0
         AS revenue
FROM orders
WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
GROUP BY o_orderpriority
"""


@register("dynamic_partition_pruning", oracle=_DPP_SQL, category="etl")
def dynamic_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning end to end: orders are written
    PARTITIONED BY priority, then joined to a tiny dimension whose FILTER
    (urgent-class rows only) is not a literal on the fact table — so
    static pruning can't apply and the scan must be pruned at RUNTIME from
    the dim side's join keys (Spark injects a dynamicpruning#N subquery
    into the fact scan's PartitionFilters; pinned in tests/test_plans.py).
    At 100 TB this is the difference between scanning 2 of 5 partitions
    and scanning all of them whenever the partition predicate arrives via
    a dimension, which is how star-schema filters almost always arrive.

    The oracle states the post-pruning semantics directly on the source
    parquet (the dim join is values-neutral by construction).

    Scale: the broadcast dim doubles as the DPP filter source, so pruning
    reuses the broadcast rather than running an extra job.
    """

    from big_data_medical_analysis_spark.operators.common import cents

    out_dir = invocation_dir("dpp")
    orders = read_table(spark, sf_dir, "orders")
    orders.write.mode("overwrite").partitionBy("o_orderpriority").parquet(out_dir)
    fact = spark.read.parquet(out_dir)
    dim = spark.createDataFrame(
        [("1-URGENT", 1), ("2-HIGH", 1), ("3-MEDIUM", 0),
         ("4-NOT SPECIFIED", 0), ("5-LOW", 0)],
        "prio string, urgent int",
    )
    return (
        fact.join(
            F.broadcast(dim.filter(F.col("urgent") == 1)),
            fact["o_orderpriority"] == F.col("prio"),
        )
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            (F.sum(cents("o_totalprice")).cast("double") / 100.0).alias("revenue"),
        )
    )


# ---------------------------------------------------------------------------
# Bucketed co-located join (round 9)
# ---------------------------------------------------------------------------

BUCKET_N = 8


def _bucketed_table(df: DataFrame, key: str, base: str, files: str) -> DataFrame:
    """``df`` written as a ``BUCKET_N``-bucketed table sorted by ``key``,
    named by ``invocation_table(base)``, its files under ``files``; read
    back as that table.

    Round 16: repartition on the bucket key to BUCKET_N before the
    bucketed write — repartition's HashPartitioning is the same
    pmod(murmur3) the bucket spec uses, so each task writes exactly ONE
    bucket file (before: the 1-3 scan tasks each wrote up to BUCKET_N
    small files, serializing the write and fragmenting the read; guide §6
    output file sizing). Table contents identical."""
    name = invocation_table(base)
    df.repartition(BUCKET_N, key).write.bucketBy(BUCKET_N, key).sortBy(
        key
    ).option("path", os.path.join(files, base)).saveAsTable(name)
    return df.sparkSession.table(name)


_BUCKETED_JOIN_SQL = """
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_lines,
       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) / 100
         AS revenue
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
GROUP BY 1
"""


@register("bucketed_colocated_join", oracle=_BUCKETED_JOIN_SQL, category="layout")
def bucketed_colocated_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shuffle-free big-big join — the layout investment that pays for
    itself at 100 TB: orders and lineitem are written ONCE as
    ``bucketBy({BUCKET_N}, orderkey) + sortBy`` tables, and every
    subsequent join on the bucket key reads co-located buckets directly —
    the executed plan has a SortMergeJoin with NO Exchange on either
    input (pinned in tests/test_plans.py); the only shuffle left in the
    whole query is the final small per-priority aggregate. Contrast
    ``customer_order_stats`` (plain parquet: both sides shuffle on the
    key every run) — bucketing moves that cost out of the query and into
    the one-time layout, which is how fact-fact joins are made repeatable
    at warehouse scale.

    A green oracle row (plain SQL join over the SOURCE parquet) proves
    the bucketed write/read round-trip lost nothing — same discipline as
    the persisted-index probes.

    Scale: bucket count is the tuning knob — at 100 TB you bucket to
    ~executor-count×4 so each task sort-merges one bucket pair in memory;
    both tables MUST agree on count and key (Spark elides the exchange
    only when the scan's HashPartitioning satisfies the join's
    distribution). The merge hint pins SMJ so the plan never degrades to
    a broadcast that re-materializes the dimension per executor as the
    fact side grows.
    """
    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice"
    )
    files = invocation_dir("bucketed_join")
    o = _bucketed_table(orders, "o_orderkey", "bj_orders", files).hint("merge")
    l = _bucketed_table(li, "l_orderkey", "bj_lineitem", files)
    return (
        o.join(l, o.o_orderkey == l.l_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            money_sum("l_extendedprice").alias("revenue"),
        )
    )


_BUCKETED_CHAIN_SQL = """
SELECT c_mktsegment, o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_lines,
       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) / 100
         AS revenue
FROM customer
JOIN orders ON o_custkey = c_custkey
JOIN lineitem ON l_orderkey = o_orderkey
GROUP BY 1, 2
"""


@register("bucketed_fact_chain", oracle=_BUCKETED_CHAIN_SQL, category="layout")
def bucketed_fact_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-shape 3-table chain over the bucketed layout:
    customer ⋈ orders ⋈ lineitem with orders and lineitem bucketed on
    orderkey — the fact⋈fact leg (o⋈l) sort-merges straight off the
    bucketed scans with NO Exchange on either input, while the dimension
    leg broadcasts INTO the streamed orders side (BroadcastHashJoin
    preserves the streamed side's partitioning AND ordering, so the
    broadcast join between the scan and the SMJ costs the bucketed leg
    nothing). Pinned in tests/test_plans.py::
    test_bucketed_fact_chain_plan: exactly one Exchange in the whole plan
    (the final small 2-key aggregate), one BroadcastHashJoin (customer),
    one SortMergeJoin (o⋈l), both fact scans ``Bucketed: true``.

    Bucket-count CO-DESIGN (the knob that makes this work at 100 TB):
    both fact tables MUST agree on count ({BUCKET_N}) and key (orderkey)
    — Spark elides the exchange only when each scan's
    HashPartitioning(orderkey, n) satisfies the join's required
    distribution, and two different counts satisfy nothing (both sides
    re-shuffle). Size the shared count so one bucket pair fits an
    executor's sort buffer at the LARGER table's density: lineitem is
    ~4x orders rows, so n = ceil(lineitem_bytes / target_task_bytes)
    rounded to a power of two, and orders inherits it (its smaller
    buckets are simply cheap). Dimensions stay UNbucketed: customer
    rides the broadcast tier, so the layout investment is only spent on
    tables big enough to repay it.

    A green oracle row (plain 3-way SQL join over the SOURCE parquet)
    proves the bucketed write/read round-trip of BOTH facts plus the
    broadcast leg lost nothing.
    """
    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderpriority"
    )
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice"
    )
    cust = read_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    files = invocation_dir("bucketed_chain")
    o = _bucketed_table(orders, "o_orderkey", "bj3_orders", files)
    l = _bucketed_table(li, "l_orderkey", "bj3_lineitem", files)
    # Dimension first, INSIDE the bucketed leg: BHJ streams the bucketed
    # orders scan unchanged, so the downstream merge join still sees
    # HashPartitioning(o_orderkey, BUCKET_N) and elides both exchanges.
    oc = o.join(F.broadcast(cust), o.o_custkey == cust.c_custkey).hint("merge")
    return (
        oc.join(l, oc.o_orderkey == l.l_orderkey)
        .groupBy("c_mktsegment", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            money_sum("l_extendedprice").alias("revenue"),
        )
    )


# ---------------------------------------------------------------------------
# File provenance audit via the _metadata column (round 10)
# ---------------------------------------------------------------------------

_PROVENANCE_SQL = """
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(1 AS BIGINT) AS n_files,
       CAST(0 AS BIGINT) AS n_path_mismatch,
       min(o_orderkey) AS min_key,
       max(o_orderkey) AS max_key
FROM orders
GROUP BY 1
"""


@register("file_provenance_audit", oracle=_PROVENANCE_SQL, category="layout")
def file_provenance_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row→file provenance through the hidden ``_metadata`` struct — the
    debugging handle a 100 TB incident actually needs ("which files fed
    these bad rows?"): orders are written hive-partitioned by priority
    (``repartition(col)`` first, so each partition value lands in exactly
    ONE task ⇒ exactly one file per directory — the compaction-friendly
    layout), read BACK, and audited per priority: row count, distinct
    source files (pinned 1 by the layout contract), and a path↔content
    consistency probe (the partition value parsed OUT of each row's
    ``_metadata.file_path`` must equal the row's own column, URL-encoding
    accounted — 0 mismatches pinned). The oracle derives the same counts
    from the SOURCE table, so a green row proves the partitioned write /
    metadata-read round trip lost nothing and mixed no rows across
    partition directories.

    Scale: ``_metadata`` is populated at scan time from the file index —
    no extra I/O; the audit is one combine aggregate per partition
    value. The same query over a damaged lake pinpoints the offending
    files without re-reading healthy ones (partition pruning applies to
    the audit itself).
    """
    out_dir = invocation_dir("provenance")
    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderpriority"
    )
    orders.repartition("o_orderpriority").write.mode("overwrite").partitionBy(
        "o_orderpriority"
    ).parquet(out_dir)
    back = spark.read.parquet(out_dir).select(
        "o_orderkey",
        "o_orderpriority",
        F.col("_metadata.file_path").alias("fp"),
    )
    path_val = F.regexp_extract("fp", r"o_orderpriority=([^/]+)/", 1)
    encoded = F.replace(
        F.col("o_orderpriority"), F.lit(" "), F.lit("%20")
    )
    return back.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("fp").alias("n_files"),
        F.sum(
            F.when(path_val != encoded, F.lit(1)).otherwise(F.lit(0))
        ).alias("n_path_mismatch"),
        F.min("o_orderkey").alias("min_key"),
        F.max("o_orderkey").alias("max_key"),
    )


# ---------------------------------------------------------------------------
# Small-file compaction (round 10)
# ---------------------------------------------------------------------------

COMPACT_SMALL_N = 64
COMPACT_ROWS_PER_FILE = 4096

_COMPACT_SQL = f"""
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       CAST({COMPACT_SMALL_N} AS BIGINT) AS n_files_before,
       CAST(ceil(count(*) / {COMPACT_ROWS_PER_FILE}.0) AS BIGINT)
         AS n_files_after,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100
         AS revenue,
       CAST(bit_xor(CAST(concat('0x',
              substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 15)) AS BIGINT))
         AS BIGINT) AS key_fingerprint
FROM orders
"""


@register("compact_small_files", oracle=_COMPACT_SQL, category="layout")
def compact_small_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The small-files maintenance job every 100 TB lake runs nightly:
    a fragmented table ({COMPACT_SMALL_N} shards — the residue of
    high-parallelism streaming ingest, where every micro-batch task
    writes its own file) is rewritten into ceil(rows/
    {COMPACT_ROWS_PER_FILE}) right-sized files. Fragmentation is a real
    scale tax: planning cost and scan-task count scale with FILE count
    not byte count, and a million 1 MB files turns a 1-minute scan into
    a scheduler stall. The compactor sizes the target layout from ONE
    count job (exactly how production compaction sizes by bytes — the
    single driver-side scalar is the job's control plane, not a data
    path), then `repartition(target)` rewrites once.

    The audit output proves the rewrite lost nothing, cross-engine: row
    count, before/after file counts (before pinned by the shard write,
    after by the sizing contract; both measured from ``_metadata``, not
    assumed), the exact-cents revenue total, and the XOR key fingerprint
    (``table_content_fingerprint``'s algebra) — the oracle recomputes
    all five from the SOURCE table.

    Scale: one narrow scan of the fragmented table + one write at target
    parallelism; the audit aggregates ride the compacted read. On a
    cluster the same job runs per partition directory with bin-packing
    by file size (`maxRecordsPerFile` bounds the other direction).
    """
    import math

    root = invocation_dir("compaction")
    small_dir = os.path.join(root, "small")
    compact_dir = os.path.join(root, "compacted")
    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    orders.repartition(COMPACT_SMALL_N).write.mode("overwrite").parquet(
        small_dir
    )
    frag = spark.read.parquet(small_dir)
    n_rows = frag.count()
    target = max(1, math.ceil(n_rows / COMPACT_ROWS_PER_FILE))
    frag.repartition(target).write.mode("overwrite").parquet(compact_dir)

    files_before = frag.select(
        F.countDistinct(F.col("_metadata.file_path")).alias("n_files_before")
    )
    comp = spark.read.parquet(compact_dir)
    kh = md5_int(F.col("o_orderkey").cast("string"), 15)
    audit = comp.agg(
        F.count(F.lit(1)).alias("n_rows"),
        money_sum("o_totalprice").alias("revenue"),
        F.bit_xor(kh).alias("key_fingerprint"),
        F.countDistinct(F.col("_metadata.file_path")).alias("n_files_after"),
    )
    return audit.crossJoin(F.broadcast(files_before)).select(
        "n_rows", "n_files_before", "n_files_after", "revenue",
        "key_fingerprint",
    )


# ---------------------------------------------------------------------------
# CDC tombstone compaction (round 10)
# ---------------------------------------------------------------------------

_TOMBSTONE_SQL = """
WITH log AS (
  SELECT o_orderkey AS key, o_orderstatus AS status,
         CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents,
         1 AS seq, 'I' AS op
  FROM orders
  UNION ALL
  SELECT o_orderkey, o_orderstatus,
         CAST(round(o_totalprice * 100) AS BIGINT) + 100,
         2, 'U'
  FROM orders WHERE o_orderkey % 10 = 0
  UNION ALL
  SELECT o_orderkey, o_orderstatus, NULL, 3, 'D'
  FROM orders WHERE o_orderkey % 7 = 3
),
latest AS (
  SELECT key, status, price_cents, op
  FROM (
    SELECT *, row_number() OVER (PARTITION BY key ORDER BY seq DESC) AS rn
    FROM log
  ) WHERE rn = 1
)
SELECT status,
       CAST(count(*) AS BIGINT) AS n_live,
       CAST(sum(price_cents) AS DOUBLE) / 100 AS total_price,
       CAST((SELECT count(*) FROM latest WHERE op = 'D') AS BIGINT)
         AS n_tombstoned
FROM latest WHERE op <> 'D'
GROUP BY status
"""


@register("cdc_tombstone_compaction", oracle=_TOMBSTONE_SQL, category="etl")
def cdc_tombstone_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tombstone-aware CDC log compaction — the read-side step
    ``orders_upsert_apply`` (MERGE) and ``latest_event_per_user``
    (latest-per-key) both stop short of: a change log carrying
    Insert/Update/DELETE ops per key is compacted to current state by
    taking the latest op per key (one ranking window on the key) and
    DROPPING keys whose latest op is a delete — exactly how a
    log-structured table (Hudi MOR read, Kafka compacted topic
    materialization, Delta CDF consumer) resolves its view. The delete
    is data, not an operation: until compaction/vacuum it travels the
    log as a tombstone row, and forgetting to honor it resurrects
    deleted records — the classic CDC consumer bug this query's oracle
    would catch as an n_live/n_tombstoned mismatch.

    The log here is derived deterministically from orders (seq 1 insert
    for every key, seq 2 update (+$1) for keys ≡0 mod 10, seq 3 delete
    for keys ≡3 mod 7), so the compacted aggregate per status — live
    count, exact-cents total, global tombstone count — is fully
    value-oracled.

    Scale: ONE shuffle on the key for the ranking window (the log's
    natural partitioning in production — a keyed topic — makes even
    that co-located); state per key is one row. Compaction output is
    what downstream reads, so the window cost amortizes over every
    consumer.
    """
    # one pinned base scan: the three log branches below would otherwise
    # each re-scan orders (hidden under the downstream checkpoint, where
    # the rescan-budget test cannot see them)
    orders = checkpoint_pinned(
        read_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderstatus", "o_totalprice"
        )
    )
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    ins = orders.select(
        F.col("o_orderkey").alias("key"),
        F.col("o_orderstatus").alias("status"),
        cents.alias("price_cents"),
        F.lit(1).alias("seq"),
        F.lit("I").alias("op"),
    )
    upd = orders.filter(F.col("o_orderkey") % 10 == 0).select(
        F.col("o_orderkey").alias("key"),
        F.col("o_orderstatus").alias("status"),
        (cents + F.lit(100)).alias("price_cents"),
        F.lit(2).alias("seq"),
        F.lit("U").alias("op"),
    )
    dele = orders.filter(F.col("o_orderkey") % 7 == 3).select(
        F.col("o_orderkey").alias("key"),
        F.col("o_orderstatus").alias("status"),
        F.lit(None).cast("long").alias("price_cents"),
        F.lit(3).alias("seq"),
        F.lit("D").alias("op"),
    )
    log = ins.unionByName(upd).unionByName(dele)
    w = W.partitionBy("key").orderBy(F.desc("seq"))
    latest = checkpoint_pinned(
        log.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("key", "status", "price_cents", "op")
    )
    n_tomb = latest.filter(F.col("op") == "D").agg(
        F.count(F.lit(1)).alias("n_tombstoned")
    )
    return (
        latest.filter(F.col("op") != "D")
        .groupBy("status")
        .agg(
            F.count(F.lit(1)).alias("n_live"),
            (F.sum("price_cents").cast("double") / 100).alias("total_price"),
        )
        .crossJoin(F.broadcast(n_tomb))
    )


# ---------------------------------------------------------------------------
# Incremental JOIN-view maintenance via delta algebra (round 10)
# ---------------------------------------------------------------------------

_DELTA_JOIN_IVM_SQL = """
SELECT o.o_orderstatus, l.l_returnflag,
       count(*) AS n_items,
       CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 10000)
                     AS BIGINT)) AS DOUBLE) / 10000.0 AS revenue
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
GROUP BY o.o_orderstatus, l.l_returnflag
"""


@register("delta_join_view_maintenance", oracle=_DELTA_JOIN_IVM_SQL, category="etl")
def delta_join_view_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance for a JOIN view — the join twin of
    ``incremental_agg_merge``. The view V = lineitem ⋈ orders (grouped to
    (status, returnflag) revenue partials) is maintained under deltas on
    BOTH inputs using the standard delta algebra

        V(L∪ΔL, O∪ΔO) = V(L,O) ∪ ΔL⋈O ∪ L⋈ΔO ∪ ΔL⋈ΔO

    with the base term's partial aggregates pinned (standing in for the
    stored MV state a production maintainer reads instead of re-joining
    the base), the delta batches pinned once (the arriving micro-batch),
    and all four terms' (count, sum-cents) partials merged associatively.
    The split is cross-cutting — orders by o_orderdate, lineitem by
    l_shipdate, so an OLD order receives NEW shipments and every delta
    term is non-empty. The oracle recomputes the view from scratch with a
    single join, so the driver row proves the delta decomposition is
    lossless (no term dropped, none double-counted).

    Scale: this is THE pattern that makes a 100 TB joined rollup
    maintainable — the base is never re-joined (its partials are stored);
    ΔL⋈O and L⋈ΔO join a day's delta against the big side, so the delta
    side broadcasts and a runtime bloom filter / DPP on the delta's join
    keys prunes the big-side scan to matching row groups; ΔL⋈ΔO is
    tiny×tiny. Here (one-shot query, no persisted state) the base
    partials are derived then pinned; the visible plan rescans each big
    table exactly once for its cross-delta term.
    """
    from big_data_medical_analysis_spark.operators.common import cents

    split = F.to_timestamp(F.lit("1996-01-01 00:00:00"))
    l = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_returnflag",
        "l_shipdate",
        cents(F.col("l_extendedprice") * (1 - F.col("l_discount")), 10000).alias(
            "disc_cents"
        ),
    )
    o = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_orderdate"
    )
    l_old = l.filter(F.col("l_shipdate") < split)
    o_old = o.filter(F.col("o_orderdate") < split)
    # the arriving delta micro-batches, materialized once
    l_new = checkpoint_pinned(l.filter(F.col("l_shipdate") >= split))
    o_new = checkpoint_pinned(o.filter(F.col("o_orderdate") >= split))

    def partial(li: DataFrame, od: DataFrame) -> DataFrame:
        return (
            li.join(od, li["l_orderkey"] == od["o_orderkey"])
            .groupBy("o_orderstatus", "l_returnflag")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("disc_cents").alias("sc"),
            )
        )

    # stored MV partials (base term) — pinned: a maintainer READS these
    base = checkpoint_pinned(partial(l_old, o_old))
    d1 = partial(l_new, o_old)  # ΔL ⋈ O_old
    d2 = partial(l_old, o_new)  # L_old ⋈ ΔO
    d3 = partial(l_new, o_new)  # ΔL ⋈ ΔO
    return (
        base.unionByName(d1).unionByName(d2).unionByName(d3)
        .groupBy("o_orderstatus", "l_returnflag")
        .agg(F.sum("n").alias("n_items"), F.sum("sc").alias("sc"))
        .select(
            "o_orderstatus",
            "l_returnflag",
            "n_items",
            (F.col("sc").cast("double") / 10000.0).alias("revenue"),
        )
    )


# ---------------------------------------------------------------------------
# Rendezvous (HRW) consistent-hash reshard audit (round 10)
# ---------------------------------------------------------------------------

_RENDEZVOUS_SQL = """
WITH w AS (
  SELECT c_custkey AS key, s.shard,
         CAST(concat('0x', substr(md5(concat(CAST(c_custkey AS VARCHAR), ':',
                                             CAST(s.shard AS VARCHAR))), 1, 15))
              AS BIGINT) AS wt
  FROM customer, (SELECT unnest(generate_series(0, 8)) AS shard) s
),
s9 AS (
  SELECT key, shard FROM (
    SELECT key, shard,
           row_number() OVER (PARTITION BY key ORDER BY wt DESC, shard DESC) AS rn
    FROM w
  ) WHERE rn = 1
),
s8 AS (
  SELECT key, shard FROM (
    SELECT key, shard,
           row_number() OVER (PARTITION BY key ORDER BY wt DESC, shard DESC) AS rn
    FROM w WHERE shard < 8
  ) WHERE rn = 1
)
SELECT s8.shard AS shard_before,
       count(*) AS n_keys,
       CAST(sum(CASE WHEN s8.shard <> s9.shard THEN 1 ELSE 0 END) AS BIGINT)
         AS n_moved,
       round(CAST(sum(CASE WHEN s8.shard <> s9.shard THEN 1 ELSE 0 END)
                  AS DOUBLE) / count(*), 4) AS moved_frac
FROM s8 JOIN s9 ON s8.key = s9.key
GROUP BY s8.shard
"""


@register("rendezvous_reshard_audit", oracle=_RENDEZVOUS_SQL, category="layout")
def rendezvous_reshard_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rendezvous (highest-random-weight) consistent hashing reshard-cost
    audit: every customer key is assigned to a shard twice — under an
    8-shard and a 9-shard layout — by argmax over per-(key, shard)
    portable md5 weights, and the audit reports, per old shard, how many
    keys the expansion moves. HRW's guarantee is that ONLY keys whose new
    argmax is the added shard move (expected fraction 1/9 ≈ 0.111, vs
    pmod resharding which relocates ~8/9 of all keys); measured here:
    ~0.11 uniformly across shards. Weight = first 15 hex chars of
    md5(key ':' shard) as int64 (60 bits, collision-free in practice;
    ties break to the larger shard id identically in both engines).

    Scale: shard assignment is a pure per-row expression — the 9
    candidate weights live in one in-row array and the argmax is an
    ``array_max`` over (weight, shard) structs, so the whole audit is one
    map-side pass plus an 8-group aggregate: no shuffle grows with data,
    no per-key window. This is how a 100 TB store plans a shard-count
    change before touching data: the same expression IS the router, and
    the audit prices the migration exactly.
    """
    cust = read_table(spark, sf_dir, "customer")

    def wt(s: int) -> F.Column:
        return md5_int(
            F.concat(F.col("c_custkey").cast("string"), F.lit(":"), F.lit(str(s))),
            15,
        )

    arr9 = F.array(
        *[F.struct(wt(s).alias("wt"), F.lit(s).alias("shard")) for s in range(9)]
    )
    assigned = cust.select(
        F.array_max(F.slice(arr9, 1, 8))["shard"].alias("shard_before"),
        F.array_max(arr9)["shard"].alias("shard_after"),
    )
    return assigned.groupBy("shard_before").agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum(
            (F.col("shard_before") != F.col("shard_after")).cast("long")
        ).alias("n_moved"),
        F.round(
            F.sum((F.col("shard_before") != F.col("shard_after")).cast("long"))
            .cast("double")
            / F.count(F.lit(1)),
            4,
        ).alias("moved_frac"),
    )


# ---------------------------------------------------------------------------
# Fingerprint-pruned snapshot diff (round 10)
# ---------------------------------------------------------------------------

DIFF_BUCKET_WIDTH = 1024  # keys per fingerprint bucket
DIFF_CHANGE_HI = 2048  # simulated edits confined below this key

_SNAPSHOT_DIFF_SQL = f"""
WITH a AS (
  SELECT o_orderkey AS key, o_orderstatus AS status,
         CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
  FROM orders
),
b AS (
  SELECT key, status,
         CASE WHEN key < {DIFF_CHANGE_HI} AND key % 5 = 0
              THEN price_cents + 100 ELSE price_cents END AS price_cents
  FROM a WHERE NOT (key < {DIFF_CHANGE_HI} AND key % 7 = 3)
  UNION ALL
  SELECT key + 100000000, status, price_cents + 37
  FROM a WHERE key < {DIFF_CHANGE_HI} AND key % 11 = 0
),
d AS (
  SELECT a.key IS NULL AS only_b, b.key IS NULL AS only_a,
         a.status AS sa, b.status AS sb,
         a.price_cents AS pa, b.price_cents AS pb
  FROM a FULL OUTER JOIN b ON a.key = b.key
)
SELECT change_type, CAST(count(*) AS BIGINT) AS n_keys,
       CAST(CAST(sum(delta) AS BIGINT) AS DOUBLE) / 100.0 AS net_price_delta
FROM (
  SELECT CASE WHEN only_b THEN 'added'
              WHEN only_a THEN 'removed'
              ELSE 'changed' END AS change_type,
         CASE WHEN only_b THEN pb WHEN only_a THEN -pa
              ELSE pb - pa END AS delta
  FROM d
  WHERE only_b OR only_a OR sa <> sb OR pa <> pb
) GROUP BY change_type
"""


@register("snapshot_table_diff", oracle=_SNAPSHOT_DIFF_SQL, category="etl")
def snapshot_table_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fingerprint-PRUNED snapshot diff — recover the change set (the CDC
    feed `cdc_tombstone_compaction` consumes) from two MATERIALIZED table
    snapshots, the inverse problem of log compaction and the op behind
    every "what changed between yesterday's and today's copy" audit.

    Instead of full-outer-joining 100% of both snapshots, each side is
    first folded to per-bucket (count, XOR-of-row-hash) fingerprints
    using ``table_content_fingerprint``'s 60-bit md5/XOR algebra at
    bucket granularity (bucket = key // {DIFF_BUCKET_WIDTH}); only
    buckets whose fingerprints disagree (or that exist on one side only)
    are re-read and diffed row-level. The simulated snapshot B confines
    its edits (price change on key%5, delete on key%7, clone-inserts
    shifted +1e8) below key {DIFF_CHANGE_HI}, so at sf0.01 the row-level
    join touches 4 of 17 buckets — and the ratio IMPROVES with scale
    (the dirty-bucket count tracks the day's blast radius, not table
    size). The oracle diffs the full snapshots directly with none of the
    pruning, so a green driver row proves pruning is transparent: no
    changed bucket is ever skipped (count+XOR disagree on ANY row-level
    difference; the paired-duplicate XOR blind spot is closed by the
    count, as in the fingerprint query).

    Output is the CDC emission: per change class (added/removed/
    changed), key count and net price delta in exact cents.

    Scale: two projection scans (one per snapshot) for bucket-grouped
    map-side-combinable fingerprints, then a row-level full-outer join
    over ONLY the dirty buckets (semi-join against the broadcast dirty
    list prunes at the scan); at 100 TB with day-localized churn this
    turns an all-data shuffle into one proportional to the changed data.
    In a lakehouse the per-bucket fingerprints would themselves be
    maintained incrementally (XOR in/out per ingested batch), making the
    dirty-bucket detection zero-scan.
    """
    orders = read_table(spark, sf_dir, "orders")
    a_raw = orders.select(
        F.col("o_orderkey").alias("key"),
        F.col("o_orderstatus").alias("status"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("price_cents"),
    )
    # the two stored snapshots (pinned: in production both are tables)
    a = checkpoint_pinned(a_raw)
    hi = F.lit(DIFF_CHANGE_HI)
    b = checkpoint_pinned(
        a.filter(~((F.col("key") < hi) & (F.col("key") % 7 == 3)))
        .withColumn(
            "price_cents",
            F.when(
                (F.col("key") < hi) & (F.col("key") % 5 == 0),
                F.col("price_cents") + 100,
            ).otherwise(F.col("price_cents")),
        )
        .unionByName(
            a.filter((F.col("key") < hi) & (F.col("key") % 11 == 0)).select(
                (F.col("key") + 100000000).alias("key"),
                "status",
                (F.col("price_cents") + 37).alias("price_cents"),
            )
        )
    )

    bucket = (F.col("key") / F.lit(DIFF_BUCKET_WIDTH)).cast("long")
    row_h = md5_int(
        F.concat_ws(
            "|",
            F.col("key").cast("string"),
            F.col("status"),
            F.col("price_cents").cast("string"),
        ),
        15,
    )

    def fingerprints(df: DataFrame, n: str, h: str) -> DataFrame:
        return (
            df.select(bucket.alias("bucket"), row_h.alias("h"))
            .groupBy("bucket")
            .agg(F.count(F.lit(1)).alias(n), F.expr("bit_xor(h)").alias(h))
        )

    fa = fingerprints(a, "na", "ha")
    fb = fingerprints(b, "nb", "hb")
    dirty = (
        fa.join(fb, "bucket", "full_outer")
        .filter(
            ~F.col("na").eqNullSafe(F.col("nb"))
            | ~F.col("ha").eqNullSafe(F.col("hb"))
        )
        .select("bucket")
    )
    a_dirty = a.join(F.broadcast(dirty), bucket == dirty["bucket"], "left_semi")
    b_dirty = b.join(F.broadcast(dirty), bucket == dirty["bucket"], "left_semi")

    d = a_dirty.alias("a").join(
        b_dirty.alias("b"), F.col("a.key") == F.col("b.key"), "full_outer"
    )
    only_b = F.col("a.key").isNull()
    only_a = F.col("b.key").isNull()
    classified = d.select(
        F.when(only_b, F.lit("added"))
        .when(only_a, F.lit("removed"))
        .otherwise(F.lit("changed"))
        .alias("change_type"),
        F.when(only_b, F.col("b.price_cents"))
        .when(only_a, -F.col("a.price_cents"))
        .otherwise(F.col("b.price_cents") - F.col("a.price_cents"))
        .alias("delta"),
        (
            only_b
            | only_a
            | (F.col("a.status") != F.col("b.status"))
            | (F.col("a.price_cents") != F.col("b.price_cents"))
        ).alias("is_diff"),
    ).filter(F.col("is_diff"))
    return classified.groupBy("change_type").agg(
        F.count(F.lit(1)).alias("n_keys"),
        (F.sum("delta").cast("double") / 100.0).alias("net_price_delta"),
    )


# ---------------------------------------------------------------------------
# SCD Type-2 dimension build from a change log — round 10
# ---------------------------------------------------------------------------

_SCD2_SQL = """
WITH log AS (
  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS es, event_id,
         event_type AS status
  FROM events
),
ordered AS (
  SELECT *, lag(status) OVER (PARTITION BY user_id ORDER BY es, event_id)
           AS prev_status
  FROM log
),
changes AS (
  SELECT user_id, es, event_id, status FROM ordered
  WHERE prev_status IS NULL OR status <> prev_status
),
versions AS (
  SELECT user_id, status, es AS eff_from,
         lead(es) OVER (PARTITION BY user_id ORDER BY es, event_id)
           AS eff_to,
         CAST(row_number() OVER (PARTITION BY user_id ORDER BY es, event_id)
              AS BIGINT) AS version
  FROM changes
)
SELECT status,
       CAST(count(*) AS BIGINT) AS n_versions,
       CAST(count(*) FILTER (WHERE eff_to IS NULL) AS BIGINT) AS n_current,
       CAST(sum(CASE WHEN eff_to IS NULL THEN 0 ELSE eff_to - eff_from END)
            AS BIGINT) AS closed_duration_s,
       CAST(max(version) AS BIGINT) AS max_version
FROM versions
GROUP BY status
"""


@register("scd2_dimension_build", oracle=_SCD2_SQL, category="etl")
def scd2_dimension_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension Type 2 build: turn an attribute change
    log (events as "user entered status X at ts") into versioned
    validity intervals — collapse consecutive no-op repeats (true SCD2
    never opens a version for an unchanged attribute), then derive
    ``eff_from``/``eff_to``/``version``/``is_current`` per surviving
    change with one more ordered pass; the open interval (eff_to NULL)
    is the current version. This is the dimension-maintenance
    counterpart of ``orders_upsert_apply`` (which keeps only the latest
    row): SCD2 keeps the full history so facts can later join
    point-in-time (the as-of family). Audited to the status grain:
    version counts, open-version counts, total closed dwell seconds
    (exact int64 epoch arithmetic, session TZ pinned UTC in both
    engines), and the deepest version chain.

    Ordering ties break on event_id, so both passes are deterministic
    for any log with same-timestamp changes.

    Scale: both window passes partition on the dimension key — the same
    single user-key shuffle serves the lag-collapse and the lead/
    row_number interval build (Catalyst reuses the sort order; no
    second exchange), then the status rollup combines map-side to 5
    rows. At 100 TB the change log partitions by key exactly like any
    sessionization; the collapse drops ~20%% of rows here (10k -> 8k)
    before the interval pass, and in production the versions table is
    the thing you persist (range-partitioned by eff_from) for
    point-in-time joins.
    """
    ev = read_table(spark, sf_dir, "events")
    return scd2_versions(scd2_event_log(ev)).groupBy("status").agg(
        F.count(F.lit(1)).cast("long").alias("n_versions"),
        F.sum(F.when(F.col("eff_to").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_current"),
        F.sum(
            F.when(F.col("eff_to").isNull(), 0).otherwise(
                F.col("eff_to") - F.col("eff_from")
            )
        )
        .cast("long")
        .alias("closed_duration_s"),
        F.max("version").cast("long").alias("max_version"),
    )


def scd2_event_log(ev: DataFrame) -> DataFrame:
    """Events as an SCD2 attribute change log: (user_id, es, event_id,
    status). Shared by the batch builder, the PIT join, and the
    streaming maintainer so all three agree on the log shape."""
    return ev.select(
        "user_id",
        F.floor(F.unix_timestamp("ts")).cast("long").alias("es"),
        "event_id",
        F.col("event_type").alias("status"),
    )


def scd2_collapse(log: DataFrame) -> DataFrame:
    """No-op collapse: keep only changes whose status differs from the
    user's previous change (ordered by es, event_id)."""
    w = W.partitionBy("user_id").orderBy("es", "event_id")
    return (
        log.withColumn("prev_status", F.lag("status").over(w))
        .filter(
            F.col("prev_status").isNull()
            | (F.col("status") != F.col("prev_status"))
        )
        .drop("prev_status")
    )


def scd2_versions(log: DataFrame) -> DataFrame:
    """Full SCD2 versions table from a change log: collapse + validity
    intervals + version numbers, both window passes in the one user-key
    shuffle (``scd2_dimension_build`` documents the plan)."""
    w = W.partitionBy("user_id").orderBy("es", "event_id")
    return scd2_collapse(log).select(
        "user_id",
        "status",
        F.col("es").alias("eff_from"),
        F.lead("es").over(w).alias("eff_to"),
        F.row_number().over(w).cast("long").alias("version"),
    )


# ---------------------------------------------------------------------------
# Right-to-erasure rewrite audit — round 10
# ---------------------------------------------------------------------------

ERASE_EVERY = 100
ERASE_RESIDUE = 7

_ERASURE_SQL = f"""
WITH del AS (
  SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_users_erased
  FROM events WHERE user_id % {ERASE_EVERY} = {ERASE_RESIDUE}
),
before AS (SELECT CAST(count(*) AS BIGINT) AS rows_before FROM events),
after AS (
  SELECT CAST(count(*) AS BIGINT) AS rows_after,
         CAST(count_if(user_id % {ERASE_EVERY} = {ERASE_RESIDUE}) AS BIGINT)
           AS residual_rows,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
           AS retained_value_cents
  FROM events WHERE user_id % {ERASE_EVERY} <> {ERASE_RESIDUE}
)
SELECT del.n_users_erased, before.rows_before, after.rows_after,
       before.rows_before - after.rows_after AS rows_removed,
       after.residual_rows,
       CAST(after.retained_value_cents AS DOUBLE) / 100 AS retained_value
FROM del, before, after
"""


@register("user_erasure_rewrite", oracle=_ERASURE_SQL, category="etl")
def user_erasure_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-erasure (GDPR Art. 17) rewrite with a completeness audit —
    the privacy-ops job that closes the governance loop (k-anonymity /
    l-diversity / PII scrub AUDIT disclosure risk; this one REMOVES a
    deletion cohort): events are rewritten WITHOUT the erased users
    (every {every}-th, residue {res}) to a real parquet sink, and the
    audit reads the REWRITTEN files — so a green oracle row (which
    recomputes the expectations from the source) proves the rewrite both
    complete (``residual_rows`` = 0: no erased row survived) and minimal
    (``rows_removed`` equals exactly the cohort's rows; retained value
    conserved to the cent).

    Scale: erasure on a keyed lake is partition-pruned — delete-list ⋈
    affected partitions only; here the whole (small) table rewrites
    once, the ``compact_small_files`` sink discipline (write job ≠
    expression). The anti-join side is a broadcast of the deletion list
    at production scale; the modulus stands in for it portably."""
    out_dir = os.path.join(invocation_dir("erasure"), "events_rewritten")
    ev = read_table(spark, sf_dir, "events")
    erased = F.pmod(F.col("user_id"), F.lit(ERASE_EVERY)) == ERASE_RESIDUE
    ev.filter(~erased).write.mode("overwrite").parquet(out_dir)
    rewritten = spark.read.parquet(out_dir)
    del_users = ev.filter(erased).agg(
        F.countDistinct("user_id").cast("long").alias("n_users_erased")
    )
    before = ev.agg(F.count(F.lit(1)).cast("long").alias("rows_before"))
    after = rewritten.agg(
        F.count(F.lit(1)).cast("long").alias("rows_after"),
        F.count_if(
            F.pmod(F.col("user_id"), F.lit(ERASE_EVERY)) == ERASE_RESIDUE
        )
        .cast("long")
        .alias("residual_rows"),
        F.sum(cents("value")).cast("long").alias("retained_value_cents"),
    )
    return (
        del_users.crossJoin(F.broadcast(before))
        .crossJoin(F.broadcast(after))
        .select(
            "n_users_erased",
            "rows_before",
            "rows_after",
            (F.col("rows_before") - F.col("rows_after")).alias("rows_removed"),
            "residual_rows",
            (F.col("retained_value_cents").cast("double") / 100).alias(
                "retained_value"
            ),
        )
    )


user_erasure_rewrite.__doc__ = user_erasure_rewrite.__doc__.format(
    every=ERASE_EVERY, res=ERASE_RESIDUE
)

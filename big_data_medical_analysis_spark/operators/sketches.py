"""Probabilistic sketch operators (SURVEY §2.3 "novel sketch" class, next to
the built-in HLL++ in ``relational.approx_distinct_users``).

Count-Min sketch over a key column, built with *engine-portable* hashing
(md5 hex prefix, the same trick as ``dedup.simhash``): each of D depth rows
hashes the key with a distinct salt into one of W buckets; a key's count
estimate is the MIN over its D bucket totals. Classic guarantees:
never an underestimate; overestimate ≤ εN with probability 1−δ for
W = ⌈e/ε⌉, D = ⌈ln 1/δ⌉.

Because the hash is md5 (not Spark's xxhash64), DuckDB can rebuild the
identical sketch — so unlike most sketch implementations this one carries a
FULL value oracle, and the no-underestimate property is additionally
asserted in-query.

Scale design: the sketch build is one explode(D) + hash aggregate over
(depth, bucket) — D·W cells of state regardless of input size, the whole
point of a sketch at 100 TB. The estimate join broadcasts the D·W-row
sketch, never shuffling the keys being estimated.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from big_data_medical_analysis_spark.operators.common import md5_int
from big_data_medical_analysis_spark.registry import register
from big_data_medical_analysis_spark.sources.readers import read_table

CM_DEPTH = 4
CM_WIDTH = 64


def cm_bucket(key: Column | str, depth: Column | str) -> Column:
    """Portable bucket hash: first 8 md5 hex chars of "key:depth" → int64,
    mod W. Identical in DuckDB (used by the oracle)."""
    k = F.col(key) if isinstance(key, str) else key
    d = F.col(depth) if isinstance(depth, str) else depth
    h = md5_int(F.concat(k.cast("string"), F.lit(":"), d.cast("string")))
    return F.pmod(h, F.lit(CM_WIDTH))


def countmin_build(df: DataFrame, key: str) -> DataFrame:
    """(depth, bucket, cnt) sketch cells for ``df[key]``."""
    exploded = df.select(
        F.col(key).alias("k"),
        F.explode(
            F.sequence(F.lit(0), F.lit(CM_DEPTH - 1))
        ).alias("depth"),
    )
    return (
        exploded.select("depth", cm_bucket("k", "depth").alias("bucket"))
        .groupBy("depth", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


_CM_SQL = f"""
WITH exploded AS (
  SELECT user_id AS k, d.d AS depth
  FROM events, (SELECT unnest(range({CM_DEPTH})) AS d) d
), cells AS (
  SELECT depth,
         CAST(concat('0x', substr(md5(concat(CAST(k AS VARCHAR), ':',
                                             CAST(depth AS VARCHAR))), 1, 8))
              AS BIGINT) % {CM_WIDTH} AS bucket,
         count(*) AS cnt
  FROM exploded GROUP BY 1, 2
), exact AS (
  SELECT user_id, count(*) AS n_exact FROM events GROUP BY user_id
), est AS (
  SELECT e.user_id, e.n_exact, min(c.cnt) AS n_est
  FROM exact e
  JOIN cells c
    ON c.bucket = CAST(concat('0x', substr(md5(concat(CAST(e.user_id AS VARCHAR),
                                                      ':',
                                                      CAST(c.depth AS VARCHAR))),
                                           1, 8)) AS BIGINT) % {CM_WIDTH}
  GROUP BY e.user_id, e.n_exact
)
SELECT user_id, n_exact, n_est, n_est >= n_exact AS never_under
FROM est
"""


@register("countmin_user_counts", oracle=_CM_SQL, category="aggregation")
def countmin_user_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min estimate vs exact count for every events.user_id: build a
    {CM_DEPTH}×{CM_WIDTH} sketch, estimate each key as min over its depth
    buckets, and emit the no-underestimate flag (always true, by
    construction). Portable md5 bucketing makes the whole sketch
    value-oracle-checkable — DuckDB rebuilds identical cells."""
    ev = read_table(spark, sf_dir, "events")
    sketch = countmin_build(ev, "user_id")
    exact = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_exact"))
    probes = exact.select(
        "user_id",
        "n_exact",
        F.explode(F.sequence(F.lit(0), F.lit(CM_DEPTH - 1))).alias("depth"),
    ).select(
        "user_id", "n_exact", "depth",
        cm_bucket("user_id", "depth").alias("bucket"),
    )
    est = (
        probes.join(F.broadcast(sketch), ["depth", "bucket"])
        .groupBy("user_id", "n_exact")
        .agg(F.min("cnt").alias("n_est"))
    )
    return est.select(
        "user_id",
        "n_exact",
        "n_est",
        (F.col("n_est") >= F.col("n_exact")).alias("never_under"),
    )


# ---------------------------------------------------------------------------
# Bloom filter (portable hashing ⇒ full value oracle, like Count-Min)
# ---------------------------------------------------------------------------

BF_BITS = 2048
BF_HASHES = 5

# Heavy hitters: emit keys whose count is ≥ HH_PERMILLE/1000 of the total.
# The Misra-Gries candidate pass needs k ≥ 1000/HH_PERMILLE counters to
# guarantee no heavy hitter is missed; 128 > 125 with slack.
HH_PERMILLE = 8
HH_COUNTERS = 128


def bloom_bit(key: Column | str, i: Column | str) -> Column:
    """Portable bit index: first 8 md5 hex chars of "key#i" → int64,
    mod BF_BITS. Identical in DuckDB (used by the oracle)."""
    k = F.col(key) if isinstance(key, str) else key
    d = F.col(i) if isinstance(i, str) else i
    h = md5_int(F.concat(k.cast("string"), F.lit("#"), d.cast("string")))
    return F.pmod(h, F.lit(BF_BITS))


_BLOOM_SQL = f"""
WITH members AS (
  SELECT DISTINCT o_custkey AS k FROM orders
), bits AS (
  SELECT DISTINCT
         CAST(concat('0x', substr(md5(concat(CAST(m.k AS VARCHAR), '#',
                                             CAST(i.i AS VARCHAR))), 1, 8))
              AS BIGINT) % {BF_BITS} AS bit
  FROM members m, (SELECT unnest(range({BF_HASHES})) AS i) i
), probe AS (
  SELECT c.c_custkey, i.i,
         CAST(concat('0x', substr(md5(concat(CAST(c.c_custkey AS VARCHAR), '#',
                                             CAST(i.i AS VARCHAR))), 1, 8))
              AS BIGINT) % {BF_BITS} AS bit
  FROM customer c, (SELECT unnest(range({BF_HASHES})) AS i) i
), hits AS (
  SELECT p.c_custkey, count(b.bit) AS n_set
  FROM probe p LEFT JOIN bits b ON p.bit = b.bit
  GROUP BY p.c_custkey
)
SELECT h.c_custkey,
       h.n_set = {BF_HASHES} AS maybe_member,
       m.k IS NOT NULL AS is_member,
       (h.n_set = {BF_HASHES}) OR m.k IS NULL AS no_false_negative
FROM hits h LEFT JOIN members m ON h.c_custkey = m.k
"""


@register("bloom_customer_filter", oracle=_BLOOM_SQL, category="aggregation")
def bloom_customer_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom membership filter: a {BF_BITS}-bit, {BF_HASHES}-hash filter
    built over the distinct order-placing custkeys, probed by every
    customer, emitted next to exact membership with the no-false-negative
    flag (always true by construction; false positives are the εN the
    filter trades for O(bits) state).

    The sketch discipline of Count-Min applies: the bit set is ≤ BF_BITS
    rows regardless of input size and is broadcast to the probe side — at
    100 TB this is how a semi-join against a huge key set avoids shuffling
    either table (Spark's own runtime bloom-join does exactly this
    internally; here it's an explicit, oracle-checkable operator). Portable
    md5 bit indexing ⇒ DuckDB rebuilds the identical filter."""
    orders = read_table(spark, sf_dir, "orders")
    customer = read_table(spark, sf_dir, "customer")
    members = orders.select(F.col("o_custkey").alias("k")).distinct()
    bits = (
        members.select(
            F.explode(F.sequence(F.lit(0), F.lit(BF_HASHES - 1))).alias("i"),
            F.col("k"),
        )
        .select(bloom_bit("k", "i").alias("bit"))
        .distinct()
    )
    probe = customer.select(
        "c_custkey",
        F.explode(F.sequence(F.lit(0), F.lit(BF_HASHES - 1))).alias("i"),
    ).select("c_custkey", bloom_bit("c_custkey", "i").alias("bit"))
    # mark each probe bit as set/unset (left join against the broadcast bit
    # set; the join key survives on both sides, so a dedicated marker column
    # distinguishes matched from unmatched)
    probe_marked = probe.join(
        F.broadcast(bits.withColumn("_set", F.lit(1))), "bit", "left_outer"
    ).select("c_custkey", F.coalesce(F.col("_set"), F.lit(0)).alias("_set"))
    hits = probe_marked.groupBy("c_custkey").agg(F.sum("_set").alias("n_set"))
    exact = members.withColumnRenamed("k", "c_custkey").withColumn(
        "_m", F.lit(1)
    )
    return (
        hits.join(F.broadcast(exact), "c_custkey", "left_outer")
        .select(
            "c_custkey",
            (F.col("n_set") == BF_HASHES).alias("maybe_member"),
            F.col("_m").isNotNull().alias("is_member"),
            ((F.col("n_set") == BF_HASHES) | F.col("_m").isNull()).alias(
                "no_false_negative"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Heavy hitters (Misra-Gries candidates + exact recount of candidates only)
# ---------------------------------------------------------------------------


def misra_gries_candidates(df: DataFrame, key: str, k: int = HH_COUNTERS) -> DataFrame:
    """Per-partition Misra-Gries summaries → union of surviving keys.

    Each partition keeps at most ``k`` counters: batch counts merge into the
    counter dict, then while more than ``k`` counters remain, the minimum
    count is subtracted from all and non-positive counters drop (the batched
    decrement removes ≥ (k+1)·min weight per step, so total decremented
    weight per key is ≤ N_p/(k+1) — the classic MG bound, preserved by the
    mergeable-summaries batching of Agarwal et al.).

    Guarantee used by ``heavy_hitter_users``: if a key has global count
    ≥ θ·N with θ > 1/(k+1), then in at least one partition its local count
    is ≥ θ·N_p (averaging), which exceeds the partition's decrement bound —
    so the key survives in that partition and the union of survivors is a
    SUPERSET of every global heavy hitter. At 100 TB this is the point: the
    full key set never shuffles; each task emits ≤ k candidate rows.
    """
    import pandas as pd

    def _mg(batches):
        counters: dict = {}
        for pdf in batches:
            for key_val, cnt in pdf.iloc[:, 0].value_counts().items():
                counters[key_val] = counters.get(key_val, 0) + int(cnt)
            while len(counters) > k:
                m = min(counters.values())
                counters = {
                    kk: v - m for kk, v in counters.items() if v - m > 0
                }
        yield pd.DataFrame({"k": list(counters.keys())})

    field = df.schema[key]
    return df.select(F.col(key).alias("k")).mapInPandas(
        _mg, f"k {field.dataType.simpleString()}"
    )


_HH_SQL = f"""
WITH tot AS (SELECT count(*) AS n FROM events),
cnt AS (SELECT user_id, count(*) AS n_events FROM events
        WHERE user_id IS NOT NULL GROUP BY user_id)
SELECT c.user_id, c.n_events
FROM cnt c, tot t
WHERE c.n_events * 1000 >= {HH_PERMILLE} * t.n
"""


@register("heavy_hitter_users", oracle=_HH_SQL, category="aggregation")
def heavy_hitter_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact frequent-items query — every events.user_id with count ≥
    {HH_PERMILLE}/1000 of all events — computed WITHOUT ever shuffling the
    full key set:

    1. one narrow scan builds per-partition Misra-Gries summaries
       (``misra_gries_candidates``: ≤ {HH_COUNTERS} candidate rows per task,
       a guaranteed superset of the true heavy hitters);
    2. the tiny candidate union broadcasts back onto the fact scan, so the
       recount groupBy shuffles only rows whose key is a candidate;
    3. the threshold count·1000 ≥ {HH_PERMILLE}·N uses an in-plan 1-row
       total (broadcast cross join — no driver-side action) and exact
       integer arithmetic on both engines.

    At local SF a plain groupBy+HAVING is equally fast; at 100 TB with
    billions of distinct keys (URLs, n-grams) the full-key shuffle is the
    bottleneck this shape removes. Output is EXACT (not an estimate): the
    sketch only proposes candidates, the recount decides.
    """
    ev = read_table(spark, sf_dir, "events")
    # NULL keys are excluded explicitly and symmetrically (here and in the
    # oracle's WHERE): the MG kernel's value_counts silently drops NaN and
    # the recount equi-join drops NULLs, so leaving NULL to the defaults
    # would diverge from a GROUP BY that keeps a NULL group.
    ev_keyed = ev.filter(F.col("user_id").isNotNull())
    cands = misra_gries_candidates(ev_keyed, "user_id").distinct()
    total = ev.agg(F.count(F.lit(1)).alias("n_total"))
    recount = (
        ev_keyed.join(F.broadcast(cands), ev_keyed["user_id"] == cands["k"])
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    return (
        recount.crossJoin(F.broadcast(total))
        .filter(F.col("n_events") * 1000 >= HH_PERMILLE * F.col("n_total"))
        .select("user_id", "n_events")
    )


# ---------------------------------------------------------------------------
# HyperLogLog on a portable hash family (full value oracle) — round 7
# ---------------------------------------------------------------------------

HLL_P = 10                       # 2^10 = 1024 registers
HLL_M = 1 << HLL_P
HLL_W_BITS = 32 - HLL_P          # bits feeding the rank (rho) computation
_HLL_ALPHA = 0.7213 / (1.0 + 1.079 / HLL_M)  # bias constant for m >= 128


def hll_register_rows(h: DataFrame, *group_cols: str) -> DataFrame:
    """(group_cols..., register, rho) register-max rows from a frame
    carrying the 32-bit portable hash column ``v`` — THE register
    discipline of the whole HLL family (portable md5 hash, top HLL_P
    bits pick the register, integer rho via string length, never
    floating log2), factored once so every sketch builder and the
    streaming maintainer share one recipe."""
    w = F.col("v") % F.lit(1 << HLL_W_BITS)
    rho = F.when(w == 0, F.lit(HLL_W_BITS + 1)).otherwise(
        F.lit(HLL_W_BITS + 1) - F.length(F.bin(w))
    )
    keys = [*group_cols, "register"]
    return (
        h.select(
            *group_cols,
            (F.col("v") / F.lit(1 << HLL_W_BITS)).cast("long").alias(
                "register"
            ),
            rho.alias("rho"),
        )
        .groupBy(*keys)
        .agg(F.max("rho").alias("rho"))
    )


def hll_harmonic_agg(reg: DataFrame, *scope_cols: str) -> DataFrame:
    """(scope_cols..., n_seen, z_seen) from register rows: the exact
    harmonic-sum inputs of the raw HLL estimate (powers of two only, so
    even the double sum is deterministic)."""
    z = F.sum(
        F.lit(1.0)
        / F.expr("CAST(shiftleft(CAST(1 AS BIGINT), rho) AS DOUBLE)")
    ).alias("z_seen")
    n = F.count(F.lit(1)).alias("n_seen")
    if scope_cols:
        return reg.groupBy(*scope_cols).agg(n, z)
    return reg.agg(n, z)

_HLL_SQL = f"""
WITH h AS (
  SELECT DISTINCT CAST(concat('0x', substr(md5(CAST(l_orderkey AS VARCHAR)), 1, 8))
                       AS BIGINT) AS v
  FROM lineitem
),
reg AS (
  SELECT v // {1 << HLL_W_BITS} AS register,
         max(CASE WHEN v % {1 << HLL_W_BITS} = 0 THEN {HLL_W_BITS + 1}
                  ELSE {HLL_W_BITS + 1} - length(bin(v % {1 << HLL_W_BITS}))
             END) AS rho
  FROM h GROUP BY 1
),
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n_seen,
         sum(1.0 / CAST(1 << rho AS DOUBLE)) AS z_seen
  FROM reg
),
ex AS (
  SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS exact_distinct
  FROM lineitem
)
SELECT {HLL_M} AS m,
       CAST({HLL_M} - n_seen AS BIGINT) AS n_zero_registers,
       round(CAST({_HLL_ALPHA!r} AS DOUBLE) * {HLL_M * HLL_M}
             / (z_seen + ({HLL_M} - n_seen)), 2) AS hll_estimate,
       exact_distinct,
       round(abs(CAST({_HLL_ALPHA!r} AS DOUBLE) * {HLL_M * HLL_M}
                 / (z_seen + ({HLL_M} - n_seen)) - exact_distinct)
             / exact_distinct, 4) AS rel_error
FROM agg, ex
"""


@register("hll_portable_distinct", oracle=_HLL_SQL, category="sketch")
def hll_portable_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """From-scratch HyperLogLog over a PORTABLE hash — the
    distinct-counting sketch rebuilt so its entire state is value-oracle-
    checkable (``approx_distinct_users`` exercises the engine-native HLL++,
    whose sketch is engine-internal ⇒ rows-only; this one is checked to the
    register level). 32-bit hash = first 8 hex digits of md5(key); top
    {HLL_P} bits pick one of {HLL_M} registers, and the register keeps the
    max rank rho = leading-zeros+1 of the remaining {HLL_W_BITS} bits —
    computed as integer/string arithmetic (``{HLL_W_BITS + 1} -
    length(bin(w))``), never floating log2, so Spark and DuckDB agree
    bit-for-bit. The harmonic sum uses ``1.0 / (1 << rho)`` — exact powers
    of two, so even the double-precision estimate is deterministic.

    Emitted: register fill, raw HLL estimate (alpha_m * m^2 / Z), the exact
    distinct count, and the relative error. DELIBERATELY no linear-counting
    small-range correction: it needs ln(), whose last-ulp behavior is
    libm-specific, and the raw estimate keeps the oracle exact — at
    sf <= 0.001 the input sits in that small-range regime, so the reported
    rel_error is honestly poor there and tightens to the ~1.04/sqrt(m) ≈ 3%
    band once n >> m (sf0.01+: n/m ≈ 15).

    Scale: the sketch IS the point at 100 TB — per-partition state is m
    registers regardless of input size, merged by per-register max: one
    map-side-combinable aggregate on {HLL_M} keys, then a 1-row fold. The
    initial DISTINCT here (so the oracle can mirror register contents
    exactly) collapses into the same shuffle; a production variant skips
    it and feeds raw values straight to the register max.
    """
    li = read_table(spark, sf_dir, "lineitem")
    v = md5_int(F.col("l_orderkey").cast("string"))
    h = li.select(v.alias("v")).distinct()
    agg = hll_harmonic_agg(hll_register_rows(h))
    ex = li.agg(F.count_distinct("l_orderkey").alias("exact_distinct"))
    z = F.col("z_seen") + (F.lit(HLL_M) - F.col("n_seen"))
    est = F.lit(_HLL_ALPHA) * F.lit(HLL_M * HLL_M) / z
    return agg.crossJoin(F.broadcast(ex)).select(
        F.lit(HLL_M).alias("m"),
        (F.lit(HLL_M) - F.col("n_seen")).cast("long").alias("n_zero_registers"),
        F.round(est, 2).alias("hll_estimate"),
        F.col("exact_distinct"),
        F.round(
            F.abs(est - F.col("exact_distinct")) / F.col("exact_distinct"), 4
        ).alias("rel_error"),
    )


# ---------------------------------------------------------------------------
# HLL mergeability: per-group sketches union to the global sketch — round 7
# ---------------------------------------------------------------------------

_HLL_MERGE_SQL = f"""
WITH h AS (
  SELECT DISTINCT l_returnflag AS flag,
         CAST(concat('0x', substr(md5(CAST(l_orderkey AS VARCHAR)), 1, 8))
              AS BIGINT) AS v
  FROM lineitem
),
reg AS (
  SELECT flag, v // {1 << HLL_W_BITS} AS register,
         max(CASE WHEN v % {1 << HLL_W_BITS} = 0 THEN {HLL_W_BITS + 1}
                  ELSE {HLL_W_BITS + 1} - length(bin(v % {1 << HLL_W_BITS}))
             END) AS rho
  FROM h GROUP BY 1, 2
),
merged AS (
  SELECT register, max(rho) AS rho FROM reg GROUP BY 1
),
direct AS (
  SELECT v // {1 << HLL_W_BITS} AS register,
         max(CASE WHEN v % {1 << HLL_W_BITS} = 0 THEN {HLL_W_BITS + 1}
                  ELSE {HLL_W_BITS + 1} - length(bin(v % {1 << HLL_W_BITS}))
             END) AS rho
  FROM (SELECT DISTINCT v FROM h) GROUP BY 1
),
est AS (
  SELECT flag AS scope,
         CAST(count(*) AS BIGINT) AS n_seen,
         sum(1.0 / CAST(1 << rho AS DOUBLE)) AS z_seen
  FROM reg GROUP BY flag
  UNION ALL
  SELECT 'MERGED', CAST(count(*) AS BIGINT),
         sum(1.0 / CAST(1 << rho AS DOUBLE)) FROM merged
  UNION ALL
  SELECT 'DIRECT', CAST(count(*) AS BIGINT),
         sum(1.0 / CAST(1 << rho AS DOUBLE)) FROM direct
)
SELECT scope,
       round(CAST({_HLL_ALPHA!r} AS DOUBLE) * {HLL_M * HLL_M}
             / (z_seen + ({HLL_M} - n_seen)), 2) AS hll_estimate
FROM est
"""


@register("hll_merge_returnflag", oracle=_HLL_MERGE_SQL, category="sketch")
def hll_merge_returnflag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The property that makes HLL a DISTRIBUTED sketch, value-oracled:
    per-returnflag register sets, register-wise-MAX-merged into one
    sketch, land on the IDENTICAL registers a direct global sketch builds
    — so the MERGED and DIRECT rows of this output carry the same
    estimate by construction, and the oracle hash proves it (max is
    associative/commutative/idempotent: union of sketches ≡ sketch of
    union, the algebra every per-partition/per-day/per-shard rollup
    relies on at 100 TB — build once per shard, merge in m-register
    space, never rescan).

    Emits the per-flag estimates plus MERGED and DIRECT rows; same
    portable hash family and ln-free estimator as
    ``hll_portable_distinct``.
    """
    li = read_table(spark, sf_dir, "lineitem")
    v = md5_int(F.col("l_orderkey").cast("string"))
    h = li.select(F.col("l_returnflag").alias("flag"), v.alias("v")).distinct()
    reg = hll_register_rows(h, "flag")
    merged = (
        reg.groupBy("register")
        .agg(F.max("rho").alias("rho"))
        .select(F.lit("MERGED").alias("scope"), "register", "rho")
    )
    direct = hll_register_rows(h.select("v").distinct()).select(
        F.lit("DIRECT").alias("scope"), "register", "rho"
    )
    per_flag = reg.select(F.col("flag").alias("scope"), "register", "rho")
    est_in = per_flag.unionAll(merged).unionAll(direct)
    agg = hll_harmonic_agg(est_in, "scope")
    z = F.col("z_seen") + (F.lit(HLL_M) - F.col("n_seen"))
    return agg.select(
        "scope",
        F.round(F.lit(_HLL_ALPHA) * F.lit(HLL_M * HLL_M) / z, 2).alias(
            "hll_estimate"
        ),
    )


# ---------------------------------------------------------------------------
# Bitmap aggregates: EXACT mergeable distinct counts — round 7
# ---------------------------------------------------------------------------

_BITMAP_SQL = """
SELECT l_returnflag,
       CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_distinct_orders
FROM lineitem GROUP BY l_returnflag
UNION ALL
SELECT 'ALL', CAST(count(DISTINCT l_orderkey) AS BIGINT) FROM lineitem
"""


@register("bitmap_distinct_orders", oracle=_BITMAP_SQL, category="sketch")
def bitmap_distinct_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's bitmap aggregate family (3.5+): EXACT distinct order counts
    per returnflag via ``bitmap_construct_agg`` over bucketed bit
    positions, then the flag bitmaps ``bitmap_or_agg``-merged into the
    global count — the exact-and-mergeable middle ground the
    distinct-counting tier was missing: HLL (``hll_portable_distinct``,
    ``approx_distinct_users``) merges but approximates; plain
    count(DISTINCT) is exact but re-aggregates from rows; bitmaps give
    sketch-style register merging with NO error for dense integer key
    domains (state ~ key-range/8 bytes per group — the knob is key
    density, not accuracy). The oracle is plain count(DISTINCT): the
    bitmap binary never leaves the plan, only exact integers do, so this
    is a FULL value oracle on a sketch-family operator.

    Scale: bucketed positions keep each bitmap ≤ 4KB (32768 bits);
    per-(flag, bucket) partials combine map-side; the OR-merge of flag
    bitmaps reuses the same domain-sized state — exactly the per-shard
    build / register-space merge discipline of ``hll_merge_returnflag``,
    with exactness traded against key-density sensitivity.
    """
    li = read_table(spark, sf_dir, "lineitem").select("l_returnflag", "l_orderkey")
    per_bucket = li.groupBy(
        "l_returnflag",
        F.bitmap_bucket_number("l_orderkey").alias("bucket"),
    ).agg(
        F.bitmap_construct_agg(F.bitmap_bit_position("l_orderkey")).alias("bm")
    )
    per_flag = per_bucket.groupBy("l_returnflag").agg(
        F.sum(F.bitmap_count("bm")).cast("long").alias("n_distinct_orders")
    )
    merged = (
        per_bucket.groupBy("bucket")
        .agg(F.bitmap_or_agg("bm").alias("bm"))
        .agg(F.sum(F.bitmap_count("bm")).cast("long").alias("n_distinct_orders"))
        .select(F.lit("ALL").alias("l_returnflag"), "n_distinct_orders")
    )
    return per_flag.unionAll(merged)


# ---------------------------------------------------------------------------
# Incremental daily HLL state table + range merges (round 9)
# ---------------------------------------------------------------------------

# Week-of-month scope from the 'YYYY-MM-DD' day STRING — pure substring
# arithmetic so both engines derive it identically (no calendar functions).
_HLL_DAILY_SCOPE_SPARK = (
    "concat('W', CAST((CAST(substring(day, 9, 2) AS INT) - 1) DIV 7 + 1 "
    "AS STRING))"
)
_HLL_DAILY_SCOPE_DUCK = (
    "concat('W', CAST((CAST(substr(day, 9, 2) AS INTEGER) - 1) // 7 + 1 "
    "AS VARCHAR))"
)

_HLL_DAILY_SQL = f"""
WITH h AS (
  SELECT DISTINCT strftime(ts, '%Y-%m-%d') AS day,
         CAST(concat('0x', substr(md5(CAST(event_id AS VARCHAR)), 1, 8))
              AS BIGINT) AS v
  FROM events
),
state AS (
  SELECT day, v // {1 << HLL_W_BITS} AS register,
         max(CASE WHEN v % {1 << HLL_W_BITS} = 0 THEN {HLL_W_BITS + 1}
                  ELSE {HLL_W_BITS + 1} - length(bin(v % {1 << HLL_W_BITS}))
             END) AS rho
  FROM h GROUP BY 1, 2
),
scoped AS (
  SELECT {_HLL_DAILY_SCOPE_DUCK} AS scope, register, max(rho) AS rho
  FROM state GROUP BY 1, 2
  UNION ALL
  SELECT 'ALL', register, max(rho) FROM state GROUP BY 2
),
est AS (
  SELECT scope, CAST(count(*) AS BIGINT) AS n_seen,
         sum(1.0 / CAST(1 << rho AS DOUBLE)) AS z_seen
  FROM scoped GROUP BY scope
),
ex AS (
  SELECT {_HLL_DAILY_SCOPE_DUCK.replace("day", "strftime(ts, '%Y-%m-%d')")}
           AS scope,
         CAST(count(DISTINCT event_id) AS BIGINT) AS exact_distinct
  FROM events GROUP BY 1
  UNION ALL
  SELECT 'ALL', CAST(count(DISTINCT event_id) AS BIGINT) FROM events
)
SELECT est.scope,
       round(CAST({_HLL_ALPHA!r} AS DOUBLE) * {HLL_M * HLL_M}
             / (z_seen + ({HLL_M} - n_seen)), 2) AS hll_estimate,
       exact_distinct,
       round(abs(CAST({_HLL_ALPHA!r} AS DOUBLE) * {HLL_M * HLL_M}
                 / (z_seen + ({HLL_M} - n_seen)) - exact_distinct)
             / exact_distinct, 4) AS rel_error
FROM est JOIN ex ON est.scope = ex.scope
"""


def daily_event_registers(ev: DataFrame) -> DataFrame:
    """(day, register, rho) HLL state rows for an events-shaped frame
    (``ts`` timestamp, ``event_id`` key) — the per-day register builder
    shared by the batch query below and the streaming foreachBatch merge
    (streaming/windows.py): one recipe, so the incremental stream state
    is definitionally comparable to the batch-built table."""
    from big_data_medical_analysis_spark.operators.common import date_str

    v = md5_int(F.col("event_id").cast("string"))
    h = ev.select(date_str("ts").alias("day"), v.alias("v")).distinct()
    return hll_register_rows(h, "day")


def hll_state_dir(sf_dir: str) -> str:
    """Per-user, per-sf location of the persisted daily HLL register table
    (squat-proof root via common.per_user_tmpdir, same discipline as
    dedup.pmh_index_dir)."""
    import os

    from big_data_medical_analysis_spark.operators.common import (
        per_user_tmpdir,
    )

    tag = os.path.basename(os.path.normpath(sf_dir))
    return os.path.join(per_user_tmpdir("spark_graft_hll_state"), tag)


@register("hll_incremental_daily", oracle=_HLL_DAILY_SQL, category="sketch")
def hll_incremental_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION sketch shape: a per-day HLL register STATE TABLE,
    persisted as day-partitioned parquet, answering distinct-count
    queries over arbitrary date ranges by register-max merge — without
    ever re-touching the raw events. The sketch-pillar twin of
    ``minhash_incremental_probe``: each ingest day appends only its own
    {HLL_M}-register block (constant state per day regardless of volume),
    and any range query reads just the matching day partitions. Here the
    state table is built, written, read BACK from parquet, and queried at
    week-of-month scopes plus ALL; the DuckDB oracle recomputes both
    sides from raw events, so a green row also proves the persist/reload
    of the register table lost nothing.

    Same portable register recipe as ``hll_portable_distinct`` (md5
    32-bit hash, {HLL_P}-bit register index, integer/string rho, exact
    power-of-two harmonic sum, raw estimate without the libm-dependent
    small-range correction — rel_error is honestly reported). Key is
    ``event_id`` (the ingest-dedup monitoring cardinality: distinct
    records per period under CDC redelivery), whose n/m ≈ 10-100 at the
    test SFs sits in the sketch's working regime.

    Scale: the daily build is one map-side-combinable (day, register)
    aggregate; the range merge reads day-pruned partitions of a table
    whose size is days × {HLL_M} rows — bytes, not terabytes. The exact
    twin column re-scans events only because the oracle needs the truth
    to report rel_error against; a production rollup serves the estimate
    alone and never re-reads raw data.
    """
    ev = read_table(spark, sf_dir, "events")
    state = daily_event_registers(ev)
    out_dir = hll_state_dir(sf_dir)
    state.write.mode("overwrite").partitionBy("day").parquet(out_dir)
    # partition-column type inference may parse the day dir as DATE;
    # normalize back to the 'YYYY-MM-DD' string the scope arithmetic uses
    back = spark.read.parquet(out_dir).withColumn(
        "day", F.col("day").cast("string")
    )
    scoped = back.selectExpr(
        f"{_HLL_DAILY_SCOPE_SPARK} AS scope", "register", "rho"
    ).unionAll(
        back.selectExpr("'ALL' AS scope", "register", "rho")
    ).groupBy("scope", "register").agg(F.max("rho").alias("rho"))
    est = scoped.groupBy("scope").agg(
        F.count(F.lit(1)).alias("n_seen"),
        F.sum(
            F.lit(1.0)
            / F.expr("CAST(shiftleft(CAST(1 AS BIGINT), rho) AS DOUBLE)")
        ).alias("z_seen"),
    )
    day_scope = _HLL_DAILY_SCOPE_SPARK.replace(
        "day", "date_format(ts, 'yyyy-MM-dd')"
    )
    # Round 16 (guide §2.4): the exact twin ran TWO full event scans,
    # each with its own count_distinct exchange (per-scope and ALL).
    # rollup("scope") computes both grouping sets in ONE pass — Spark's
    # Expand duplicates rows map-side and the partial distinct aggregate
    # dedupes before the exchange — and the grand-total row (scope NULL,
    # flagged by grouping()) IS the ALL row. Same exact counts, one scan.
    ex = (
        ev.selectExpr(f"{day_scope} AS scope", "event_id")
        .rollup("scope")
        .agg(
            F.count_distinct("event_id").alias("exact_distinct"),
            F.grouping("scope").alias("_g"),
        )
        .select(
            F.when(F.col("_g") == 1, F.lit("ALL"))
            .otherwise(F.col("scope"))
            .alias("scope"),
            "exact_distinct",
        )
    )
    z = F.col("z_seen") + (F.lit(HLL_M) - F.col("n_seen"))
    estv = F.lit(_HLL_ALPHA) * F.lit(HLL_M * HLL_M) / z
    return est.join(ex, "scope").select(
        "scope",
        F.round(estv, 2).alias("hll_estimate"),
        "exact_distinct",
        F.round(
            F.abs(estv - F.col("exact_distinct")) / F.col("exact_distinct"), 4
        ).alias("rel_error"),
    )


# ---------------------------------------------------------------------------
# Incremental daily histogram state → range quantiles (round 9)
# ---------------------------------------------------------------------------

# $5 integer-cent bins over events.value (observed range ~[0, 491)): at most
# ~99 live bins per day, so the state table is days × bins rows — bytes.
HIST_BIN_CENTS = 500
# Quantile levels as integer per-mille so the target-rank arithmetic is
# exact integer math in both engines: k = (q_pm·n + 999) // 1000.
HIST_QS_PM = (500, 900, 990)

_HIST_QS_DUCK = ", ".join(str(q) for q in HIST_QS_PM)

_HIST_DAILY_SQL = f"""
WITH vals AS (
  SELECT strftime(ts, '%Y-%m-%d') AS day,
         CAST(round(value * 100) AS BIGINT) AS vc
  FROM events
),
state AS (
  SELECT day, vc // {HIST_BIN_CENTS} AS bin, CAST(count(*) AS BIGINT) AS cnt
  FROM vals GROUP BY 1, 2
),
scoped AS (
  SELECT {_HLL_DAILY_SCOPE_DUCK} AS scope, bin, cnt FROM state
  UNION ALL
  SELECT 'ALL', bin, cnt FROM state
),
merged AS (
  SELECT scope, bin, CAST(sum(cnt) AS BIGINT) AS cnt
  FROM scoped GROUP BY 1, 2
),
cum AS (
  SELECT scope, bin, cnt,
         CAST(sum(cnt) OVER (PARTITION BY scope ORDER BY bin) AS BIGINT)
           AS cum
  FROM merged
),
totals AS (
  SELECT scope, CAST(sum(cnt) AS BIGINT) AS n FROM merged GROUP BY 1
),
targets AS (
  SELECT scope, n, q_pm, (q_pm * n + 999) // 1000 AS k
  FROM totals, (SELECT unnest([{_HIST_QS_DUCK}]) AS q_pm)
),
est AS (
  SELECT t.scope, t.q_pm, t.n,
         round((c.bin * {HIST_BIN_CENTS}
                + {HIST_BIN_CENTS}.0 * (t.k - (c.cum - c.cnt)) / c.cnt)
               / 100.0, 4) AS est_value
  FROM targets t
  JOIN cum c ON c.scope = t.scope AND c.cum >= t.k AND c.cum - c.cnt < t.k
),
svals AS (
  SELECT {_HLL_DAILY_SCOPE_DUCK} AS scope, vc FROM vals
  UNION ALL
  SELECT 'ALL', vc FROM vals
),
ranked AS (
  SELECT scope, vc,
         row_number() OVER (PARTITION BY scope ORDER BY vc) AS rn
  FROM svals
),
exact AS (
  SELECT t.scope, t.q_pm, round(CAST(r.vc AS DOUBLE) / 100, 2) AS exact_value
  FROM targets t JOIN ranked r ON r.scope = t.scope AND r.rn = t.k
)
SELECT e.scope, e.q_pm, e.n, e.est_value, x.exact_value,
       round(abs(e.est_value - x.exact_value) / x.exact_value, 4) AS rel_error
FROM est e JOIN exact x ON x.scope = e.scope AND x.q_pm = e.q_pm
"""


def daily_value_histogram(ev: DataFrame) -> DataFrame:
    """(day, bin, cnt) fixed-width integer-cent histogram state rows for an
    events-shaped frame — the per-day builder for the incremental
    quantile query below; one map-side-combinable aggregate."""
    from big_data_medical_analysis_spark.operators.common import cents, date_str

    return (
        ev.select(
            date_str("ts").alias("day"),
            # F.floor, not cast('long'): the cast truncates toward zero
            # while the DuckDB oracle's `vc // bin` floors — identical for
            # the current all-positive values, but a negative value would
            # silently split bin 0 into two and diverge from the oracle.
            F.floor(cents("value") / F.lit(HIST_BIN_CENTS))
            .cast("long")
            .alias("bin"),
        )
        .groupBy("day", "bin")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def hist_state_dir(sf_dir: str) -> str:
    """Per-user, per-sf location of the persisted daily histogram state
    table (squat-proof root, same discipline as hll_state_dir)."""
    import os

    from big_data_medical_analysis_spark.operators.common import (
        per_user_tmpdir,
    )

    tag = os.path.basename(os.path.normpath(sf_dir))
    return os.path.join(per_user_tmpdir("spark_graft_hist_state"), tag)


@register(
    "histogram_incremental_daily", oracle=_HIST_DAILY_SQL, category="sketch"
)
def histogram_incremental_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range QUANTILES from a per-day histogram STATE TABLE — the third
    mergeable-state instance next to ``hll_incremental_daily`` (distinct
    counts) and ``minhash_incremental_probe`` (dedup): each ingest day
    appends its own fixed-width bin counts ({HIST_BIN_CENTS}-cent bins
    over ``events.value``), persisted as day-partitioned parquet, and any
    date-range quantile query merges just the matching day partitions by
    summing bin counts — never re-touching raw events. Unlike a GK/t-digest
    sketch, fixed bins merge EXACTLY (sum is associative/commutative), so
    the state is redelivery-safe under the same foreachBatch fold as the
    HLL table.

    The state is built, written, read BACK, merged at week-of-month
    scopes plus ALL, and p50/p90/p99 are interpolated inside the target
    bin with pure integer rank arithmetic (k = (q_pm·n+999)//1000,
    per-mille levels — no engine-specific percentile definition). The
    exact twin re-ranks raw values only because the oracle reports
    rel_error against the truth; a production rollup serves the estimate
    alone (error bound: bin width / 2 ≈ ${HIST_BIN_CENTS // 200}).

    Scale: the daily build is one map-side-combinable (day, bin)
    aggregate; merged state per scope is ≤ ~100 bins, so the cum-sum
    window and the target-bin join run on driver-side-tiny frames no
    matter the corpus size. The exact twin's per-scope global sort is the
    oracle-truth side only, disclosed as in the HLL twin.
    """
    ev = read_table(spark, sf_dir, "events")
    state = daily_value_histogram(ev)
    out_dir = hist_state_dir(sf_dir)
    state.write.mode("overwrite").partitionBy("day").parquet(out_dir)
    back = spark.read.parquet(out_dir).withColumn(
        "day", F.col("day").cast("string")
    )
    merged = (
        back.selectExpr(f"{_HLL_DAILY_SCOPE_SPARK} AS scope", "bin", "cnt")
        .unionAll(back.selectExpr("'ALL' AS scope", "bin", "cnt"))
        .groupBy("scope", "bin")
        .agg(F.sum("cnt").alias("cnt"))
    )
    cum = merged.withColumn(
        "cum",
        F.sum("cnt").over(Window.partitionBy("scope").orderBy("bin")),
    )
    totals = merged.groupBy("scope").agg(F.sum("cnt").alias("n"))
    targets = totals.select(
        "scope",
        "n",
        F.explode(
            F.array(*[F.lit(q) for q in HIST_QS_PM])
        ).alias("q_pm"),
    ).withColumn("k", F.expr("(q_pm * n + 999) DIV 1000"))
    est = (
        targets.join(cum, "scope")
        .filter(
            (F.col("cum") >= F.col("k"))
            & (F.col("cum") - F.col("cnt") < F.col("k"))
        )
        .select(
            "scope",
            "q_pm",
            "n",
            F.round(
                (
                    F.col("bin") * F.lit(HIST_BIN_CENTS)
                    + F.lit(float(HIST_BIN_CENTS))
                    * (F.col("k") - (F.col("cum") - F.col("cnt")))
                    / F.col("cnt")
                )
                / F.lit(100.0),
                4,
            ).alias("est_value"),
        )
    )
    from big_data_medical_analysis_spark.operators.common import cents, date_str

    day_scope = _HLL_DAILY_SCOPE_SPARK.replace(
        "day", "date_format(ts, 'yyyy-MM-dd')"
    )
    # Round 16 (guide §2.3 shuffle fewer bytes): the exact twin used to
    # union TWO full scans of events and rank every raw row with
    # row_number() over a per-scope global sort; the k-th smallest value
    # is equally the unique vc whose per-(scope, vc) cumulative count
    # straddles k, so ONE scan aggregates to integer-cent value counts
    # via GROUPING SETS ((scope, vc), (vc)) — the (vc) set IS the ALL
    # scope (map-side Expand + combinable count, no second scan) — and
    # the sort shrinks from 2N raw rows to the distinct-cent table.
    vall = (
        ev.select(
            F.expr(day_scope).alias("scope"), cents("value").alias("vc")
        )
        .groupingSets([["scope", "vc"], ["vc"]], "scope", "vc")
        .agg(F.count(F.lit(1)).alias("cnt"), F.grouping("scope").alias("_g"))
        .select(
            F.when(F.col("_g") == 1, F.lit("ALL"))
            .otherwise(F.col("scope"))
            .alias("scope"),
            "vc",
            "cnt",
        )
    )
    vcum = vall.withColumn(
        "cum",
        F.sum("cnt").over(Window.partitionBy("scope").orderBy("vc")),
    )
    exact = (
        targets.select("scope", "q_pm", "k")
        .join(vcum, "scope")
        .filter(
            (F.col("cum") >= F.col("k"))
            & (F.col("cum") - F.col("cnt") < F.col("k"))
        )
        .select(
            "scope",
            "q_pm",
            F.round(F.col("vc").cast("double") / F.lit(100.0), 2).alias(
                "exact_value"
            ),
        )
    )
    return est.join(exact, ["scope", "q_pm"]).select(
        "scope",
        "q_pm",
        "n",
        "est_value",
        "exact_value",
        F.round(
            F.abs(F.col("est_value") - F.col("exact_value"))
            / F.col("exact_value"),
            4,
        ).alias("rel_error"),
    )


# ---------------------------------------------------------------------------
# KS drift statistic over binned CDFs (round 10)
# ---------------------------------------------------------------------------

_KS_SQL = f"""
WITH binned AS (
  SELECT (epoch(CAST(ts AS DATE)) // 86400) % 2 AS slice,
         CAST(round(value * 100) AS BIGINT) // {HIST_BIN_CENTS} AS bin
  FROM events
),
cells AS (
  SELECT bin,
         CAST(count(*) FILTER (slice = 0) AS BIGINT) AS c_ref,
         CAST(count(*) FILTER (slice = 1) AS BIGINT) AS c_cur
  FROM binned GROUP BY bin
),
tot AS (
  SELECT CAST(sum(c_ref) AS BIGINT) AS t_ref,
         CAST(sum(c_cur) AS BIGINT) AS t_cur,
         CAST(count(*) AS BIGINT) AS n_bins
  FROM cells
),
cdf AS (
  SELECT a.bin,
         CAST(sum(b.c_ref) AS BIGINT) AS cum_ref,
         CAST(sum(b.c_cur) AS BIGINT) AS cum_cur
  FROM cells a JOIN cells b ON b.bin <= a.bin
  GROUP BY a.bin
),
gaps AS (
  SELECT c.bin,
         abs(CAST(c.cum_ref AS DOUBLE) / t.t_ref
             - CAST(c.cum_cur AS DOUBLE) / t.t_cur) AS gap,
         t.t_ref, t.t_cur, t.n_bins
  FROM cdf c, tot t
)
SELECT CAST(bin AS BIGINT) AS argmax_bin,
       round(gap, 6) AS ks_stat,
       t_ref, t_cur, n_bins
FROM (
  SELECT *, row_number() OVER (ORDER BY gap DESC, bin) AS rn FROM gaps
) WHERE rn = 1
"""


@register("ks_drift_binned", oracle=_KS_SQL, category="sketch")
def ks_drift_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov drift statistic over BINNED CDFs —
    the distribution-shape complement to ``psi_distribution_drift``
    (PSI sums per-bin log-ratios; KS takes the max CDF gap, so it
    catches a shifted mode PSI's coarse bins can dilute), computed on
    the same {HIST_BIN_CENTS}-cent integer bins as the histogram state
    tables — meaning at 100 TB this metric runs off the PERSISTED
    ``daily_value_histogram`` state (two slices' bin vectors merged by
    the bin-sum algebra), never re-touching raw events.

    Slices: even vs odd epoch-day (the deterministic stand-in for the
    reference-window vs current-window split a drift monitor uses).
    CDFs are exact integer cumulative bin counts built with a
    bounded-domain range join (bins² ≈ 71² cells here — the bin domain
    is fixed by value range / bin width, NOT by row count, so no
    unpartitioned cumulative window and no global sort); the only
    floats are the two final CDF divisions and the max-gap compare,
    rounded once. Output: the KS statistic, its argmax bin
    (deterministic ties to the smaller bin), slice totals, bin count.

    Scale: one map-side-combinable (slice, bin) aggregate over the scan
    (or zero scans when fed from the state table) + bins²-bounded
    arithmetic + a 1-row TakeOrdered — no shuffle grows with data.
    """
    from big_data_medical_analysis_spark.operators.common import (
        cents,
        checkpoint_pinned,
    )

    ev = read_table(spark, sf_dir, "events")
    binned = ev.select(
        (
            (F.floor(F.unix_timestamp(F.to_date("ts")) / 86400) % 2)
        ).cast("int").alias("slice"),
        F.floor(cents("value") / F.lit(HIST_BIN_CENTS))
        .cast("long")
        .alias("bin"),
    )
    cells = checkpoint_pinned(
        binned.groupBy("bin").agg(
            F.count(F.when(F.col("slice") == 0, 1)).alias("c_ref"),
            F.count(F.when(F.col("slice") == 1, 1)).alias("c_cur"),
        )
    )
    tot = F.broadcast(
        cells.agg(
            F.sum("c_ref").cast("long").alias("t_ref"),
            F.sum("c_cur").cast("long").alias("t_cur"),
            F.count(F.lit(1)).alias("n_bins"),
        )
    )
    a = cells.select(F.col("bin").alias("abin"))
    cdf = (
        a.join(cells, F.col("bin") <= F.col("abin"))
        .groupBy("abin")
        .agg(
            F.sum("c_ref").cast("long").alias("cum_ref"),
            F.sum("c_cur").cast("long").alias("cum_cur"),
        )
    )
    gaps = cdf.crossJoin(tot).select(
        F.col("abin").alias("argmax_bin"),
        F.abs(
            F.col("cum_ref").cast("double") / F.col("t_ref")
            - F.col("cum_cur").cast("double") / F.col("t_cur")
        ).alias("gap"),
        "t_ref",
        "t_cur",
        "n_bins",
    )
    return (
        gaps.orderBy(F.desc("gap"), F.asc("argmax_bin"))
        .limit(1)
        .select(
            "argmax_bin",
            F.round("gap", 6).alias("ks_stat"),
            "t_ref",
            "t_cur",
            "n_bins",
        )
    )


# ---------------------------------------------------------------------------
# Drift monitor decision: PSI + KS off ONE shared cell table (round 10)
# ---------------------------------------------------------------------------

DRIFT_KS_THRESHOLD = 0.1
DRIFT_PSI_THRESHOLD = 0.2

_DRIFT_DECISION_SQL = f"""
WITH binned AS (
  SELECT (epoch(CAST(ts AS DATE)) // 86400) % 2 AS slice,
         CAST(round(value * 100) AS BIGINT) // {HIST_BIN_CENTS} AS bin
  FROM events
),
cells AS (
  SELECT bin,
         CAST(count(*) FILTER (slice = 0) AS BIGINT) AS c_ref,
         CAST(count(*) FILTER (slice = 1) AS BIGINT) AS c_cur
  FROM binned GROUP BY bin
),
tot AS (
  SELECT CAST(sum(c_ref) AS BIGINT) AS t_ref,
         CAST(sum(c_cur) AS BIGINT) AS t_cur,
         CAST(count(*) AS BIGINT) AS n_bins
  FROM cells
),
psi AS (
  SELECT round(sum(
           ((c.c_cur + 0.5) / (t.t_cur + 0.5 * t.n_bins)
            - (c.c_ref + 0.5) / (t.t_ref + 0.5 * t.n_bins))
           * ln(((c.c_cur + 0.5) / (t.t_cur + 0.5 * t.n_bins))
                / ((c.c_ref + 0.5) / (t.t_ref + 0.5 * t.n_bins)))
         ), 6) AS psi
  FROM cells c, tot t
),
cdf AS (
  SELECT a.bin,
         CAST(sum(b.c_ref) AS BIGINT) AS cum_ref,
         CAST(sum(b.c_cur) AS BIGINT) AS cum_cur
  FROM cells a JOIN cells b ON b.bin <= a.bin
  GROUP BY a.bin
),
ks AS (
  SELECT round(max(abs(CAST(c.cum_ref AS DOUBLE) / t.t_ref
                       - CAST(c.cum_cur AS DOUBLE) / t.t_cur)), 6) AS ks_stat
  FROM cdf c, tot t
)
SELECT k.ks_stat, p.psi, t.n_bins, t.t_ref, t.t_cur,
       k.ks_stat > {DRIFT_KS_THRESHOLD} AS ks_flag,
       p.psi > {DRIFT_PSI_THRESHOLD} AS psi_flag,
       CASE WHEN k.ks_stat > {DRIFT_KS_THRESHOLD}
              OR p.psi > {DRIFT_PSI_THRESHOLD}
            THEN 'retrain' ELSE 'hold' END AS decision
FROM ks k, psi p, tot t
"""


@register("drift_monitor_decision", oracle=_DRIFT_DECISION_SQL, category="evaluation")
def drift_monitor_decision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drift-monitor DECISION composition: both drift metrics the repo
    maintains — PSI (per-bin log-ratio sum, the magnitude view) and the
    two-sample KS statistic (max CDF gap, the shape view) — computed off
    ONE shared (bin, c_ref, c_cur) cell table and folded into a single
    retrain/hold verdict row. This is the piece a model-ops loop actually
    consumes: `psi_distribution_drift` and `ks_drift_binned` emit the
    metrics; this query emits the ACTION (`retrain` iff KS >
    {DRIFT_KS_THRESHOLD} or PSI > {DRIFT_PSI_THRESHOLD}), mirroring how
    `join_key_skew_audit` turns a skew measurement into a salt factor.

    PSI here epsilon-smooths both shares (+0.5 per cell against the
    slice total + half a count per bin) so one-sided bins contribute a
    finite term instead of the NULL the unsmoothed
    `psi_distribution_drift` honestly emits — the production variant its
    docstring promises. Same {HIST_BIN_CENTS}-cent integer bins as the
    histogram state tables, so at 100 TB the whole decision runs off the
    PERSISTED `daily_value_histogram` state (two merged bin vectors),
    zero raw-data scans.

    Scale: one (slice, bin) combine aggregate over the scan (or none,
    from state), bins²-bounded CDF arithmetic, and 1-row broadcast
    cross-joins — identical envelope to `ks_drift_binned`; the PSI
    branch adds only an O(bins) aggregate over the SAME pinned cells
    (one scan serves both metrics, the rescan-audit discipline).
    """
    from big_data_medical_analysis_spark.operators.common import (
        cents,
        checkpoint_pinned,
    )

    ev = read_table(spark, sf_dir, "events")
    binned = ev.select(
        ((F.floor(F.unix_timestamp(F.to_date("ts")) / 86400) % 2))
        .cast("int")
        .alias("slice"),
        F.floor(cents("value") / F.lit(HIST_BIN_CENTS)).cast("long").alias("bin"),
    )
    cells = checkpoint_pinned(
        binned.groupBy("bin").agg(
            F.count(F.when(F.col("slice") == 0, 1)).alias("c_ref"),
            F.count(F.when(F.col("slice") == 1, 1)).alias("c_cur"),
        )
    )
    tot = F.broadcast(
        cells.agg(
            F.sum("c_ref").cast("long").alias("t_ref"),
            F.sum("c_cur").cast("long").alias("t_cur"),
            F.count(F.lit(1)).alias("n_bins"),
        )
    )
    p_cur = (F.col("c_cur") + 0.5) / (F.col("t_cur") + 0.5 * F.col("n_bins"))
    p_ref = (F.col("c_ref") + 0.5) / (F.col("t_ref") + 0.5 * F.col("n_bins"))
    psi = F.broadcast(
        cells.crossJoin(tot).agg(
            F.round(F.sum((p_cur - p_ref) * F.log(p_cur / p_ref)), 6).alias("psi")
        )
    )
    a = cells.select(F.col("bin").alias("abin"))
    cdf = (
        a.join(cells, F.col("bin") <= F.col("abin"))
        .groupBy("abin")
        .agg(
            F.sum("c_ref").cast("long").alias("cum_ref"),
            F.sum("c_cur").cast("long").alias("cum_cur"),
        )
    )
    ks = F.broadcast(
        cdf.crossJoin(tot).agg(
            F.round(
                F.max(
                    F.abs(
                        F.col("cum_ref").cast("double") / F.col("t_ref")
                        - F.col("cum_cur").cast("double") / F.col("t_cur")
                    )
                ),
                6,
            ).alias("ks_stat")
        )
    )
    ks_flag = F.col("ks_stat") > F.lit(DRIFT_KS_THRESHOLD)
    psi_flag = F.col("psi") > F.lit(DRIFT_PSI_THRESHOLD)
    return (
        ks.crossJoin(psi)
        .crossJoin(tot)
        .select(
            "ks_stat",
            "psi",
            "n_bins",
            "t_ref",
            "t_cur",
            ks_flag.alias("ks_flag"),
            psi_flag.alias("psi_flag"),
            F.when(ks_flag | psi_flag, F.lit("retrain"))
            .otherwise(F.lit("hold"))
            .alias("decision"),
        )
    )


# ---------------------------------------------------------------------------
# HLL set algebra: intersection via inclusion-exclusion — round 10
# ---------------------------------------------------------------------------

_HLL_SET_ALGEBRA_SQL = f"""
WITH h AS (
  SELECT DISTINCT l_returnflag AS flag,
         CAST(concat('0x', substr(md5(CAST(l_orderkey AS VARCHAR)), 1, 8))
              AS BIGINT) AS v
  FROM lineitem WHERE l_returnflag IN ('R', 'N')
),
reg AS (
  SELECT flag, v // {1 << HLL_W_BITS} AS register,
         max(CASE WHEN v % {1 << HLL_W_BITS} = 0 THEN {HLL_W_BITS + 1}
                  ELSE {HLL_W_BITS + 1} - length(bin(v % {1 << HLL_W_BITS}))
             END) AS rho
  FROM h GROUP BY 1, 2
),
scoped AS (
  SELECT flag AS scope, CAST(count(*) AS BIGINT) AS n_seen,
         sum(1.0 / CAST(1 << rho AS DOUBLE)) AS z_seen
  FROM reg GROUP BY 1
  UNION ALL
  SELECT 'U', CAST(count(*) AS BIGINT), sum(1.0 / CAST(1 << rho AS DOUBLE))
  FROM (SELECT register, max(rho) AS rho FROM reg GROUP BY 1)
),
est AS (
  SELECT scope, CAST({_HLL_ALPHA!r} AS DOUBLE) * {HLL_M * HLL_M}
                / (z_seen + ({HLL_M} - n_seen)) AS e
  FROM scoped
),
ex AS (
  SELECT CAST(count(*) AS BIGINT) AS exact_intersection FROM (
    SELECT l_orderkey FROM lineitem WHERE l_returnflag IN ('R', 'N')
    GROUP BY 1
    HAVING max(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) = 1
       AND max(CASE WHEN l_returnflag = 'N' THEN 1 ELSE 0 END) = 1)
)
SELECT round((SELECT e FROM est WHERE scope = 'R'), 2) AS est_r,
       round((SELECT e FROM est WHERE scope = 'N'), 2) AS est_n,
       round((SELECT e FROM est WHERE scope = 'U'), 2) AS est_union,
       round((SELECT e FROM est WHERE scope = 'R')
             + (SELECT e FROM est WHERE scope = 'N')
             - (SELECT e FROM est WHERE scope = 'U'), 2)
         AS est_intersection,
       ex.exact_intersection,
       round(abs((SELECT e FROM est WHERE scope = 'R')
             + (SELECT e FROM est WHERE scope = 'N')
             - (SELECT e FROM est WHERE scope = 'U')
             - ex.exact_intersection) / ex.exact_intersection, 4)
         AS rel_error
FROM ex
"""


@register("hll_set_algebra_audit", oracle=_HLL_SET_ALGEBRA_SQL, category="sketch")
def hll_set_algebra_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL set algebra: estimate an INTERSECTION cardinality from
    sketches alone via inclusion-exclusion (|R ∩ N| = |R| + |N| −
    |R ∪ N|, with the union sketch the register-max merge
    ``hll_merge_returnflag`` establishes), audited against the exact
    intersection — the set-expression query ("orders appearing in BOTH
    return states") a sketch store answers without ever touching raw
    keys. Inclusion-exclusion error compounds (three ±1.04/√m estimates
    sharing register noise): measured 2.24% at sf0.01 against 1.7%-ish
    single-set errors — the audit quantifies exactly that compounding,
    which is what you consult before trusting sketch-derived overlap at
    100 TB (the same caveat theta sketches solve structurally).

    Same portable register discipline as the HLL family (md5 32-bit
    hash, integer rho, raw estimate with no libm ln), so every estimate
    is bit-identical across engines and the row is fully value-checked.

    Scale: register builds are map-side-combinable aggregates on 2×m
    keys; the union merge is an m-key register-max; the exact term (one
    orderkey-grain HAVING aggregate) is the expensive control a
    production deployment drops once the audit establishes the error
    band.
    """
    from big_data_medical_analysis_spark.operators.common import (
        checkpoint_pinned,
    )

    li = read_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag").isin("R", "N")
    )
    v = md5_int(F.col("l_orderkey").cast("string"))
    h = li.select(F.col("l_returnflag").alias("flag"), v.alias("v")).distinct()
    reg = checkpoint_pinned(hll_register_rows(h, "flag"))
    scoped = hll_harmonic_agg(
        reg.withColumnRenamed("flag", "scope"), "scope"
    ).unionByName(
        hll_harmonic_agg(
            reg.groupBy("register").agg(F.max("rho").alias("rho"))
        ).select(F.lit("U").alias("scope"), "n_seen", "z_seen")
    )
    e = F.lit(_HLL_ALPHA) * F.lit(HLL_M * HLL_M) / (
        F.col("z_seen") + (F.lit(HLL_M) - F.col("n_seen"))
    )
    est = scoped.groupBy().pivot("scope", ["R", "N", "U"]).agg(
        F.first(e)
    )
    ex = li.groupBy("l_orderkey").agg(
        F.max(F.when(F.col("l_returnflag") == "R", 1).otherwise(0)).alias(
            "has_r"
        ),
        F.max(F.when(F.col("l_returnflag") == "N", 1).otherwise(0)).alias(
            "has_n"
        ),
    ).filter((F.col("has_r") == 1) & (F.col("has_n") == 1)).agg(
        F.count(F.lit(1)).cast("long").alias("exact_intersection")
    )
    inter = F.col("R") + F.col("N") - F.col("U")
    return est.crossJoin(F.broadcast(ex)).select(
        F.round("R", 2).alias("est_r"),
        F.round("N", 2).alias("est_n"),
        F.round("U", 2).alias("est_union"),
        F.round(inter, 2).alias("est_intersection"),
        "exact_intersection",
        F.round(
            F.abs(inter - F.col("exact_intersection"))
            / F.col("exact_intersection"),
            4,
        ).alias("rel_error"),
    )

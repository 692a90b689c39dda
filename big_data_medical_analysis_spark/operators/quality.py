"""Data-quality pillar: column profiling and declarative constraint checks —
the validation layer every production ingest runs before data is trusted
(the pattern Deequ/Great Expectations popularized, rebuilt from scratch on
plain aggregates so each check is one map-side-combinable pass).

Both operators keep state bounded by the SCHEMA (one row per column /
check), never the data, so the same plan profiles a 100 TB table; the only
data-sized cost is the count-distinct expand, whose honest scale
substitute (``approx_count_distinct`` — constant-state HLL) is noted in the
profiler's docstring.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from big_data_medical_analysis_spark.operators.common import fan_out, md5_int
from big_data_medical_analysis_spark.registry import register
from big_data_medical_analysis_spark.sources.readers import read_table

# (column, spark render expr builder, duckdb render template) — min/max are
# RENDERED to strings per engine-portable convention: int64/varchar cast
# directly, money through exact cents, timestamps through an explicit format.
_PROFILE_COLS: list[tuple[str, str]] = [
    ("o_orderkey", "int"),
    ("o_custkey", "int"),
    ("o_orderstatus", "str"),
    ("o_totalprice", "money"),
    ("o_orderdate", "ts"),
    ("o_orderpriority", "str"),
]


def _duck_render(col: str, kind: str, agg: str) -> str:
    if kind == "money":
        return f"CAST(CAST(round({agg}({col}) * 100) AS BIGINT) AS VARCHAR)"
    if kind == "ts":
        return f"strftime({agg}({col}), '%Y-%m-%d %H:%M:%S')"
    return f"CAST({agg}({col}) AS VARCHAR)"


def _spark_render(col: str, kind: str, agg) -> Column:
    if kind == "money":
        return F.round(agg(F.col(col)) * 100).cast("long").cast("string")
    if kind == "ts":
        return F.date_format(agg(F.col(col)), "yyyy-MM-dd HH:mm:ss")
    return agg(F.col(col)).cast("string")


_PROFILE_SQL = "\nUNION ALL\n".join(
    f"""SELECT '{c}' AS column_name,
       CAST(count(*) - count({c}) AS BIGINT) AS n_nulls,
       CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct,
       {_duck_render(c, k, 'min')} AS min_value,
       {_duck_render(c, k, 'max')} AS max_value
FROM orders"""
    for c, k in _PROFILE_COLS
)


@register("orders_column_profile", oracle=_PROFILE_SQL, category="quality")
def orders_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-table column profiler: one row per column with null count,
    distinct count, and rendered min/max — the stats layer feeding schema
    drift detection, anomaly alerts, and cost-model NDVs.

    Single pass: every per-column statistic is an aggregate expression in
    ONE ``agg`` (Catalyst expands the multi-distinct into one Expand +
    aggregate — no per-column jobs, no driver loop); the wide 1-row result
    is reshaped to rows by an explode that never shuffles. At 100 TB the
    exact count-distinct expand (one input replica per distinct column) is
    the piece to swap for ``approx_count_distinct`` — constant-state HLL,
    same plan otherwise; exact is kept here so the DuckDB oracle checks
    values bit-for-bit. Min/max render via the engine's portability
    conventions (int/string cast, money→cents, timestamp→explicit format),
    so no engine-default float/timestamp formatting leaks into the hash.

    The scan is fan_out BEFORE the aggregate: the single-file test layout
    plans a one-task partial aggregate otherwise, and the multi-distinct
    rewrite makes that partial pass the expensive stage (Expand ×6 then
    group-by over the union of per-column distinct values — measured 3.2s
    single-task vs 2.0s at 32-way at sf0.1). At 100 TB the scan arrives
    in thousands of splits and the exchange is noise.
    """
    orders = fan_out(read_table(spark, sf_dir, "orders"))
    aggs = []
    for c, k in _PROFILE_COLS:
        aggs += [
            (F.count(F.lit(1)) - F.count(c)).alias(f"nn_{c}"),
            F.count_distinct(F.col(c)).alias(f"nd_{c}"),
            _spark_render(c, k, F.min).alias(f"mn_{c}"),
            _spark_render(c, k, F.max).alias(f"mx_{c}"),
        ]
    one = orders.agg(*aggs)
    return one.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("column_name"),
                        F.col(f"nn_{c}").alias("n_nulls"),
                        F.col(f"nd_{c}").alias("n_distinct"),
                        F.col(f"mn_{c}").alias("min_value"),
                        F.col(f"mx_{c}").alias("max_value"),
                    )
                    for c, _ in _PROFILE_COLS
                ]
            )
        ).alias("p")
    ).select("p.*")


@register("orders_column_profile_approx", oracle=None, category="quality")
def orders_column_profile_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB deployment form of ``orders_column_profile``: identical
    single-pass plan with ``approx_count_distinct`` (HyperLogLog++, default
    rsd 0.05) in place of the exact multi-distinct — constant sketch state
    per column instead of one Expand input replica per distinct column, so
    the profile pass stays one combine-enabled aggregate regardless of
    column count or cardinality. Registered rows-only: HLL++ estimates are
    engine-specific (DuckDB's approx_distinct uses a different sketch), so
    there is no cross-engine value oracle — the error-bound pytest against
    the exact profile (each estimate within 3·rsd of truth) and the shared
    row-shape are the semantic checks (COVERAGE.md census entry).

    Scale: the point of the swap. The exact form's Expand multiplies scan
    output by the number of distinct-counted columns (6× here); this plan
    reads each row once and carries six ~1.5 KB sketches per partition.
    Same fan_out-before-aggregate as the exact twin (one-task partial
    agg on the single-file test layout otherwise).
    """
    orders = fan_out(read_table(spark, sf_dir, "orders"))
    aggs = []
    for c, k in _PROFILE_COLS:
        aggs += [
            (F.count(F.lit(1)) - F.count(c)).alias(f"nn_{c}"),
            F.approx_count_distinct(F.col(c)).alias(f"nd_{c}"),
            _spark_render(c, k, F.min).alias(f"mn_{c}"),
            _spark_render(c, k, F.max).alias(f"mx_{c}"),
        ]
    one = orders.agg(*aggs)
    return one.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("column_name"),
                        F.col(f"nn_{c}").alias("n_nulls"),
                        F.col(f"nd_{c}").alias("n_distinct_approx"),
                        F.col(f"mn_{c}").alias("min_value"),
                        F.col(f"mx_{c}").alias("max_value"),
                    )
                    for c, _ in _PROFILE_COLS
                ]
            )
        ).alias("p")
    ).select("p.*")


_DQ_SQL = """
SELECT 'pk_unique_orderkey' AS check_name,
       CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT) AS n_violations
FROM orders
UNION ALL
SELECT 'fk_custkey_in_customer',
       CAST(count(*) AS BIGINT)
FROM orders o WHERE NOT EXISTS
  (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
UNION ALL
SELECT 'totalprice_positive',
       CAST(count(*) FILTER (o_totalprice IS NULL OR o_totalprice <= 0) AS BIGINT)
FROM orders
UNION ALL
SELECT 'status_in_enum',
       CAST(count(*) FILTER (o_orderstatus IS NULL
                             OR o_orderstatus NOT IN ('O', 'F', 'P')) AS BIGINT)
FROM orders
UNION ALL
SELECT 'orderdate_not_null',
       CAST(count(*) FILTER (o_orderdate IS NULL) AS BIGINT)
FROM orders
"""


@register("orders_dq_checks", oracle=_DQ_SQL, category="quality")
def orders_dq_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative constraint suite over orders: primary-key uniqueness,
    foreign-key containment (custkey ⊆ customer), value range, enum
    domain, and not-null — each emitted as (check_name, n_violations) so a
    gate can fail on any nonzero row. The ingest-time contract layer:
    violations are COUNTED, not just flagged, because triage needs
    magnitude.

    Scale shape: three of the five checks fold into scan-local conditional
    counts (one shared pass, map-side combine); uniqueness is a
    count-distinct expand (swap for approx at 100 TB when an exact dup
    count isn't required — or use the grouped form in ``docs_exact_dedup``
    to also LIST offenders); FK containment broadcasts the dimension key
    set into a left-anti count, never shuffling the fact table.
    """
    orders = read_table(spark, sf_dir, "orders")
    cust = read_table(spark, sf_dir, "customer").select("c_custkey")
    pk = orders.agg(
        (F.count(F.lit(1)) - F.count_distinct("o_orderkey"))
        .cast("long")
        .alias("n_violations")
    ).select(F.lit("pk_unique_orderkey").alias("check_name"), "n_violations")
    fk = (
        orders.join(
            F.broadcast(cust),
            orders["o_custkey"] == cust["c_custkey"],
            "left_anti",
        )
        .agg(F.count(F.lit(1)).alias("n_violations"))
        .select(
            F.lit("fk_custkey_in_customer").alias("check_name"), "n_violations"
        )
    )
    scan_checks = orders.agg(
        F.count_if(
            F.col("o_totalprice").isNull() | (F.col("o_totalprice") <= 0)
        ).alias("v_price"),
        F.count_if(
            F.col("o_orderstatus").isNull()
            | ~F.col("o_orderstatus").isin("O", "F", "P")
        ).alias("v_status"),
        F.count_if(F.col("o_orderdate").isNull()).alias("v_date"),
    )
    rest = scan_checks.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("totalprice_positive").alias("check_name"),
                    F.col("v_price").alias("n_violations"),
                ),
                F.struct(
                    F.lit("status_in_enum").alias("check_name"),
                    F.col("v_status").alias("n_violations"),
                ),
                F.struct(
                    F.lit("orderdate_not_null").alias("check_name"),
                    F.col("v_date").alias("n_violations"),
                ),
            )
        ).alias("c")
    ).select("c.*")
    return pk.unionAll(fk).unionAll(rest)


# ---------------------------------------------------------------------------
# k-anonymity audit (privacy tier of the quality pillar) — round 7
# ---------------------------------------------------------------------------

K_ANON = 5

_KANON_SQL = f"""
WITH g AS (
  SELECT c_nationkey, c_mktsegment, count(*) AS gs
  FROM customer GROUP BY 1, 2
)
SELECT {K_ANON} AS k,
       CAST(count(*) AS BIGINT) AS n_groups,
       CAST(count(*) FILTER (gs < {K_ANON}) AS BIGINT) AS n_groups_below_k,
       CAST(min(gs) AS BIGINT) AS min_group_size,
       CAST(coalesce(sum(gs) FILTER (gs < {K_ANON}), 0) AS BIGINT)
         AS n_rows_at_risk
FROM g
"""


@register("k_anonymity_audit", oracle=_KANON_SQL, category="quality")
def k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over the (nation, market segment) quasi-identifier
    pair: a released record is re-identifiable when its quasi-identifier
    group holds fewer than k individuals, so the audit reports group count,
    how many groups fall below k={K_ANON}, the worst group size, and the
    number of at-risk rows — the privacy gate that complements content-level
    PII scrubbing (``pii_scrub_stats``) with STRUCTURAL disclosure risk.

    Scale: one aggregate keyed on the quasi-identifier tuple (map-side
    combinable), then a fold over GROUP-sized state — the audit never holds
    more than |QI domain| rows. Generalization lattices (coarsening nation
    → region until every group clears k) are iterations of this same
    aggregate up the hierarchy.
    """
    cust = read_table(spark, sf_dir, "customer")
    g = cust.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).alias("gs")
    )
    return g.agg(
        F.lit(K_ANON).alias("k"),
        F.count(F.lit(1)).alias("n_groups"),
        F.count_if(F.col("gs") < K_ANON).alias("n_groups_below_k"),
        F.min("gs").alias("min_group_size"),
        F.coalesce(
            F.sum(F.when(F.col("gs") < K_ANON, F.col("gs"))), F.lit(0)
        ).alias("n_rows_at_risk"),
    )


# ---------------------------------------------------------------------------
# Benford first-digit audit — round 7
# ---------------------------------------------------------------------------

_BENFORD_SQL = """
WITH d AS (
  SELECT substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS VARCHAR), 1, 1)
           AS digit
  FROM orders WHERE o_totalprice > 0
),
c AS (SELECT digit, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY 1),
t AS (SELECT sum(n) AS tot FROM c)
SELECT CAST(digit AS INTEGER) AS digit, n,
       round(CAST(n AS DOUBLE) / tot, 6) AS observed_share,
       round(ln(1.0 + 1.0 / CAST(digit AS INTEGER)) / ln(10.0), 6)
         AS benford_share
FROM c, t
"""


@register("benford_first_digit", oracle=_BENFORD_SQL, category="quality")
def benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit over order totals — the classic
    fabricated-data / anomaly screen (natural multi-scale amounts follow
    P(d) = log10(1 + 1/d); synthetic or tampered columns usually don't —
    this corpus's prices are range-bounded, so the observed shares visibly
    DEVIATE, which is exactly what the audit is for). First digit extracted
    from the exact int64 cents via integer→string — no float log in the
    digit path, so bucketing is engine-identical; only the reference
    Benford share computes a ln, rounded at 6 dp.

    Scale: 9-key aggregate, map-side combinable, constant state.
    """
    orders = read_table(spark, sf_dir, "orders")
    cents_c = F.round(F.col("o_totalprice") * 100).cast("long")
    d = orders.filter(F.col("o_totalprice") > 0).select(
        F.substring(cents_c.cast("string"), 1, 1).alias("digit")
    )
    c = d.groupBy("digit").agg(F.count(F.lit(1)).alias("n"))
    t = c.agg(F.sum("n").alias("tot"))
    return c.crossJoin(F.broadcast(t)).select(
        F.col("digit").cast("int").alias("digit"),
        "n",
        F.round(F.col("n").cast("double") / F.col("tot"), 6).alias(
            "observed_share"
        ),
        F.round(
            F.log(1.0 + 1.0 / F.col("digit").cast("int")) / F.log(F.lit(10.0)),
            6,
        ).alias("benford_share"),
    )


# ---------------------------------------------------------------------------
# FK fan-out profile (join-cardinality audit) — round 7
# ---------------------------------------------------------------------------

_FANOUT_SQL = """
WITH f AS (
  SELECT o.o_orderkey, count(l.l_orderkey) AS fanout
  FROM orders o LEFT JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  GROUP BY 1
)
SELECT CAST(fanout AS BIGINT) AS fanout,
       CAST(count(*) AS BIGINT) AS n_orders
FROM f GROUP BY 1
"""


@register("fk_fanout_profile", oracle=_FANOUT_SQL, category="quality")
def fk_fanout_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-cardinality audit: the orders→lineitem fan-out histogram (how
    many child rows each parent key joins to, INCLUDING zero-child parents
    via the left join) — the statistic a planner needs to predict join
    output size, and the data-quality screen that catches accidental
    many-to-many blowups before they reach production (a fanout tail at
    10⁴ is a skew/key-quality bug, not a plan problem).

    Scale: child-side count keyed on the FK (map-side combinable), one
    shuffle; histogram state bounded by max fan-out (≤ lines per order,
    single digits here). The zero bucket requires the parent side — a
    right-side count alone can't see childless parents.
    """
    orders = read_table(spark, sf_dir, "orders").select("o_orderkey")
    li = read_table(spark, sf_dir, "lineitem").select("l_orderkey")
    per_parent = (
        orders.join(li, orders["o_orderkey"] == li["l_orderkey"], "left")
        .groupBy("o_orderkey")
        .agg(F.count("l_orderkey").alias("fanout"))
    )
    return per_parent.groupBy("fanout").agg(
        F.count(F.lit(1)).alias("n_orders")
    )


# ---------------------------------------------------------------------------
# Order-independent table content fingerprint (round 10)
# ---------------------------------------------------------------------------

_FPRINT_SQL = """
WITH oh AS (
  SELECT CAST(concat('0x', substr(md5(
           concat(CAST(o_orderkey AS VARCHAR), '|',
                  CAST(o_custkey AS VARCHAR), '|',
                  CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS VARCHAR))
         ), 1, 15)) AS BIGINT) AS h
  FROM orders
),
lh AS (
  SELECT CAST(concat('0x', substr(md5(
           concat(CAST(l_orderkey AS VARCHAR), '|',
                  CAST(l_linenumber AS VARCHAR), '|',
                  CAST(CAST(round(l_extendedprice * 100) AS BIGINT) AS VARCHAR))
         ), 1, 15)) AS BIGINT) AS h
  FROM lineitem
)
SELECT 'orders' AS tbl, CAST(count(*) AS BIGINT) AS n_rows,
       CAST(bit_xor(h) AS BIGINT) AS fingerprint
FROM oh
UNION ALL
SELECT 'lineitem' AS tbl, CAST(count(*) AS BIGINT) AS n_rows,
       CAST(bit_xor(h) AS BIGINT) AS fingerprint
FROM lh
"""


@register("table_content_fingerprint", oracle=_FPRINT_SQL, category="quality")
def table_content_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-independent whole-table content fingerprint — the equality
    check two CLUSTERS can run independently to validate a 100 TB
    replication/migration without moving data: each row is rendered
    canonically (ints as decimal strings, money as exact cents — the
    cross-engine rendering discipline every oracle here uses), md5'd,
    truncated to 60 bits, and XOR-folded per table. XOR is commutative,
    associative, and its own inverse, so the fold is insensitive to row
    order and partitioning, map-side combinable, and incrementally
    maintainable (ingesting a batch XORs its fingerprint in; deleting
    XORs it back out — the sketch-algebra property the state-table
    family exploits for counts, applied to content equality).

    Caveat by design: XOR-fold cannot detect a row duplicated an EVEN
    number of times (x XOR x = 0) — n_rows is emitted alongside
    precisely because count+fingerprint together close the paired-dup
    hole for the replication-validation use case.

    The fingerprint itself is checked cross-engine by the driver (DuckDB
    computes the identical md5/XOR fold), which is the strongest form of
    the claim: two independent engines agree on the bit.

    Scale: one projection-only scan per table, a 1-row XOR aggregate —
    no shuffle beyond the final combine; at 100 TB this is the cheapest
    full-content check that exists (no sort, no join, no sketch error).
    """
    orders = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")

    def h(*cols) -> Column:
        return md5_int(F.concat_ws("|", *cols), 15)

    def cents(c: str) -> Column:
        return F.round(F.col(c) * 100).cast("long").cast("string")

    oh = orders.select(
        h(
            F.col("o_orderkey").cast("string"),
            F.col("o_custkey").cast("string"),
            cents("o_totalprice"),
        ).alias("h")
    )
    lh = li.select(
        h(
            F.col("l_orderkey").cast("string"),
            F.col("l_linenumber").cast("string"),
            cents("l_extendedprice"),
        ).alias("h")
    )

    def fold(df: DataFrame, name: str) -> DataFrame:
        return df.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.expr("bit_xor(h)").alias("fingerprint"),
        ).select(F.lit(name).alias("tbl"), "n_rows", "fingerprint")

    return fold(oh, "orders").unionByName(fold(lh, "lineitem"))


# ---------------------------------------------------------------------------
# Join-key skew audit (round 10)
# ---------------------------------------------------------------------------

SKEW_TOP_N = 10

_SKEW_SQL = f"""
WITH per_key AS (
  SELECT user_id AS key, CAST(count(*) AS BIGINT) AS cnt
  FROM events GROUP BY 1
),
gstats AS (
  SELECT CAST(sum(cnt) AS BIGINT) AS n_rows,
         CAST(count(*) AS BIGINT) AS n_keys,
         CAST(max(cnt) AS BIGINT) AS max_per_key
  FROM per_key
)
SELECT p.key, p.cnt,
       round(CAST(p.cnt AS DOUBLE) / g.n_rows, 6) AS share,
       g.n_rows, g.n_keys, g.max_per_key,
       round(CAST(g.n_rows AS DOUBLE) / g.n_keys, 2) AS avg_per_key,
       round(CAST(g.max_per_key AS DOUBLE) * g.n_keys / g.n_rows, 4)
         AS imbalance,
       CAST(ceil(CAST(g.max_per_key AS DOUBLE) * g.n_keys / g.n_rows)
            AS BIGINT) AS salt_factor
FROM (
  SELECT * FROM (
    SELECT key, cnt,
           row_number() OVER (ORDER BY cnt DESC, key) AS rn
    FROM per_key
  ) WHERE rn <= {SKEW_TOP_N}
) p, gstats g
"""


@register("join_key_skew_audit", oracle=_SKEW_SQL, category="quality")
def join_key_skew_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pre-join diagnostic that decides WHEN to reach for
    ``salted_skew_join``: per join key (events.user_id — the key every
    user-grained join and window in this engine shuffles on), the top
    {SKEW_TOP_N} heaviest keys with their row share, plus the global
    skew statistics a planner acts on — total rows, distinct keys,
    max/avg rows per key, the imbalance factor max·keys/rows (1.0 =
    perfectly uniform; the straggler task runs ~imbalance× longer than
    the average), and the derived salt factor ceil(imbalance) (split
    the heaviest key across that many salted sub-keys and the worst
    task falls back to ~average). On this synthetic corpus imbalance is
    ~1.3 — the audit's answer is "don't salt", which is as actionable
    as the opposite: salting uniform keys pays the fan-out cost of
    ``salted_skew_join`` for nothing.

    At 100 TB this query IS the cheap first pass of AQE's skew-join
    logic run ahead of time over a key you're ABOUT to make hot
    (backfills, new pipelines): one map-side-combinable count per key +
    a driver-size top-N (TakeOrdered — no global sort), against which
    the imbalance arithmetic is a broadcast of one row.
    """
    ev = read_table(spark, sf_dir, "events").select(
        F.col("user_id").alias("key")
    )
    per_key = ev.groupBy("key").agg(F.count(F.lit(1)).alias("cnt"))
    glob = F.broadcast(
        per_key.agg(
            F.sum("cnt").cast("long").alias("n_rows"),
            F.count(F.lit(1)).alias("n_keys"),
            F.max("cnt").alias("max_per_key"),
        )
    )
    # TakeOrderedAndProject, NOT a row_number over an unpartitioned
    # window: per-partition top-N then a driver-size K-row merge — the
    # only form that survives billions of distinct keys.
    top = per_key.orderBy(F.desc("cnt"), F.asc("key")).limit(SKEW_TOP_N)
    imb = (
        F.col("max_per_key").cast("double")
        * F.col("n_keys")
        / F.col("n_rows")
    )
    return top.crossJoin(glob).select(
        "key",
        "cnt",
        F.round(F.col("cnt").cast("double") / F.col("n_rows"), 6).alias(
            "share"
        ),
        "n_rows",
        "n_keys",
        "max_per_key",
        F.round(
            F.col("n_rows").cast("double") / F.col("n_keys"), 2
        ).alias("avg_per_key"),
        F.round(imb, 4).alias("imbalance"),
        F.ceil(imb).cast("long").alias("salt_factor"),
    )


# ---------------------------------------------------------------------------
# Join-cardinality estimation audit (CBO statistics discipline) — round 10
# ---------------------------------------------------------------------------

_JOIN_SIZE_EST_SQL = """
WITH ok AS (
  SELECT o_custkey AS k, CAST(count(*) AS BIGINT) AS n FROM orders GROUP BY 1
),
ek AS (
  SELECT user_id AS k, CAST(count(*) AS BIGINT) AS n FROM events GROUP BY 1
),
exact AS (
  SELECT CAST(coalesce(sum(ok.n * ek.n), 0) AS BIGINT) AS exact_rows
  FROM ok JOIN ek ON ek.k = ok.k
),
ob AS (
  SELECT CAST(concat('0x', substr(md5(CAST(k AS VARCHAR)), 1, 8)) AS BIGINT)
           % 64 AS b,
         CAST(sum(n) AS BIGINT) AS rows_o, CAST(count(*) AS BIGINT) AS keys_o
  FROM ok GROUP BY 1
),
eb AS (
  SELECT CAST(concat('0x', substr(md5(CAST(k AS VARCHAR)), 1, 8)) AS BIGINT)
           % 64 AS b,
         CAST(sum(n) AS BIGINT) AS rows_e, CAST(count(*) AS BIGINT) AS keys_e
  FROM ek GROUP BY 1
),
estb AS (
  SELECT CAST(sum(CAST(floor(CAST(ob.rows_o * eb.rows_e AS DOUBLE)
            / CAST(CASE WHEN ob.keys_o > eb.keys_e
                        THEN ob.keys_o ELSE eb.keys_e END AS DOUBLE))
        AS BIGINT)) AS BIGINT) AS est_bucketed
  FROM ob JOIN eb ON eb.b = ob.b
),
estg AS (
  SELECT CAST(floor(
           CAST((SELECT sum(n) FROM ok) AS DOUBLE)
           * CAST((SELECT sum(n) FROM ek) AS DOUBLE)
           / CAST((SELECT CASE WHEN count(*) > (SELECT count(*) FROM ek)
                               THEN count(*)
                               ELSE (SELECT count(*) FROM ek) END
                   FROM ok) AS DOUBLE)
         ) AS BIGINT) AS est_global
)
SELECT exact.exact_rows, estb.est_bucketed, estg.est_global,
       round((CAST(estb.est_bucketed AS DOUBLE) - exact.exact_rows)
             / exact.exact_rows * 100.0, 4) AS err_bucketed_pct,
       round((CAST(estg.est_global AS DOUBLE) - exact.exact_rows)
             / exact.exact_rows * 100.0, 4) AS err_global_pct
FROM exact CROSS JOIN estb CROSS JOIN estg
"""


@register("join_size_estimate_audit", oracle=_JOIN_SIZE_EST_SQL, category="quality")
def join_size_estimate_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-cardinality estimation audit: the two estimators a cost-based
    optimizer runs BEFORE committing to a join strategy — the textbook
    global containment estimate |A|*|B|/max(d_A, d_B) and its 64-bucket
    histogram refinement (per-bucket containment over a portable-md5
    key partition, the shape of a CBO's equi-height key histogram) —
    scored against the exact join size Sum_k n_A(k)*n_B(k), all in one
    plan. The probe join (orders x events on custkey/user_id) has real
    per-key fanout variance (1-25 orders/key vs 49-86 events/key), so
    the estimators land ~4.6% / ~5.2% high at sf0.01 rather than
    degenerate 0% — the audit shows what the statistics would tell the
    planner and how far off they are, which is exactly what you tune
    broadcast/shuffle thresholds against at 100 TB.

    Everything is computed from the two per-key count tables (never the
    joined fact rows): the exact term is a sum over the key-count join
    (key-cardinality-sized, not join-output-sized), the histogram is 64
    rows per side, the global estimate two 1-row aggregates. The md5
    bucket hash is the engine-portable convention (dedup.py), so the
    bucket histogram — and therefore the estimate — is bit-identical in
    any engine.

    Scale: per-key count tables are one map-side-combined shuffle each;
    at 100 TB these are the statistics tables a catalog would persist
    (this query IS the refresh job). The estimate join is 64x64 rows;
    the exact term's key-count join shuffles at key cardinality — the
    one genuinely heavy step, and the one a production CBO replaces
    with the estimate this audit validates.
    """
    from big_data_medical_analysis_spark.operators.common import (
        checkpoint_pinned,
    )

    orders = read_table(spark, sf_dir, "orders")
    events = read_table(spark, sf_dir, "events")
    ok = checkpoint_pinned(
        orders.groupBy(F.col("o_custkey").alias("k")).agg(
            F.count(F.lit(1)).cast("long").alias("n")
        )
    )
    ek = checkpoint_pinned(
        events.groupBy(F.col("user_id").alias("k")).agg(
            F.count(F.lit(1)).cast("long").alias("n")
        )
    )
    exact = ok.join(ek.withColumnRenamed("n", "ne"), "k").agg(
        F.coalesce(F.sum(F.col("n") * F.col("ne")), F.lit(0))
        .cast("long")
        .alias("exact_rows")
    )

    def bucketed(df: DataFrame, rows_col: str, keys_col: str) -> DataFrame:
        b = md5_int(F.col("k").cast("string")) % 64
        return df.groupBy(b.alias("b")).agg(
            F.sum("n").cast("long").alias(rows_col),
            F.count(F.lit(1)).cast("long").alias(keys_col),
        )

    ob = bucketed(ok, "rows_o", "keys_o")
    eb = bucketed(ek, "rows_e", "keys_e")
    estb = ob.join(eb, "b").agg(
        F.sum(
            F.floor(
                (F.col("rows_o") * F.col("rows_e")).cast("double")
                / F.greatest("keys_o", "keys_e").cast("double")
            ).cast("long")
        )
        .cast("long")
        .alias("est_bucketed")
    )
    ot = ok.agg(
        F.sum("n").cast("long").alias("rows_o_t"),
        F.count(F.lit(1)).cast("long").alias("keys_o_t"),
    )
    et = ek.agg(
        F.sum("n").cast("long").alias("rows_e_t"),
        F.count(F.lit(1)).cast("long").alias("keys_e_t"),
    )
    estg = (
        ot.crossJoin(F.broadcast(et))
        .select(
            F.floor(
                F.col("rows_o_t").cast("double")
                * F.col("rows_e_t").cast("double")
                / F.greatest("keys_o_t", "keys_e_t").cast("double")
            )
            .cast("long")
            .alias("est_global")
        )
    )
    err = lambda est: F.round(  # noqa: E731
        (F.col(est).cast("double") - F.col("exact_rows"))
        / F.col("exact_rows")
        * 100.0,
        4,
    )
    return (
        exact.crossJoin(F.broadcast(estb))
        .crossJoin(F.broadcast(estg))
        .select(
            "exact_rows",
            "est_bucketed",
            "est_global",
            err("est_bucketed").alias("err_bucketed_pct"),
            err("est_global").alias("err_global_pct"),
        )
    )


# ---------------------------------------------------------------------------
# l-diversity audit — round 10
# ---------------------------------------------------------------------------

L_DIV = 3

_LDIV_SQL = f"""
WITH labeled AS (
  SELECT c_nationkey, c_mktsegment,
         CASE WHEN c_acctbal < 0 THEN 'debt'
              WHEN c_acctbal < 5000 THEN 'mid'
              ELSE 'high' END AS sensitive
  FROM customer
),
g AS (
  SELECT c_nationkey, c_mktsegment,
         CAST(count(*) AS BIGINT) AS gs,
         CAST(count(DISTINCT sensitive) AS BIGINT) AS l_g
  FROM labeled GROUP BY c_nationkey, c_mktsegment
)
SELECT CAST({L_DIV} AS BIGINT) AS l,
       CAST(count(*) AS BIGINT) AS n_groups,
       CAST(count_if(l_g < {L_DIV}) AS BIGINT) AS n_groups_below_l,
       CAST(min(l_g) AS BIGINT) AS min_distinct_sensitive,
       CAST(coalesce(sum(CASE WHEN l_g < {L_DIV} THEN gs END), 0) AS BIGINT)
         AS n_rows_at_risk
FROM g
"""


@register("l_diversity_audit", oracle=_LDIV_SQL, category="quality")
def l_diversity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit — the standard companion of ``k_anonymity_audit``:
    k-anonymity alone fails to the homogeneity attack (a group of k
    individuals who all share one sensitive value discloses it anyway),
    so this audits, per (nation, market segment) quasi-identifier group,
    the number of DISTINCT sensitive values (an account-balance bracket)
    and reports the minimum l achieved, groups below l={l}, and rows at
    risk. A release is l-diverse iff ``n_groups_below_l`` = 0.

    Scale: one aggregate keyed on the QI tuple carrying a
    count-distinct over a 3-value domain (map-side combinable via the
    grouping-sets expansion Spark applies to count distinct), then a fold
    over group-sized state — same shape and budget as the k-anonymity
    audit it extends."""
    cust = read_table(spark, sf_dir, "customer")
    sensitive = (
        F.when(F.col("c_acctbal") < 0, "debt")
        .when(F.col("c_acctbal") < 5000, "mid")
        .otherwise("high")
    )
    g = (
        cust.select("c_nationkey", "c_mktsegment", sensitive.alias("sensitive"))
        .groupBy("c_nationkey", "c_mktsegment")
        .agg(
            F.count(F.lit(1)).cast("long").alias("gs"),
            F.countDistinct("sensitive").cast("long").alias("l_g"),
        )
    )
    return g.agg(
        F.lit(L_DIV).cast("long").alias("l"),
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.count_if(F.col("l_g") < L_DIV).cast("long").alias("n_groups_below_l"),
        F.min("l_g").cast("long").alias("min_distinct_sensitive"),
        F.coalesce(
            F.sum(F.when(F.col("l_g") < L_DIV, F.col("gs"))), F.lit(0)
        )
        .cast("long")
        .alias("n_rows_at_risk"),
    )


l_diversity_audit.__doc__ = l_diversity_audit.__doc__.format(l=L_DIV)


# ---------------------------------------------------------------------------
# In-flight query metrics via the Observation API — round 10
# ---------------------------------------------------------------------------


def with_row_observation(df: DataFrame, name: str = "dq_metrics"):
    """Attach an in-flight data-quality observation to ``df``: row count,
    exact null tally, and int64-cents value sum ride the query's OWN
    execution (``df.observe`` — no second scan, no extra job), the way a
    production pipeline meters what it just wrote without re-reading it.
    Returns (df, Observation); read ``observation.get`` AFTER an action.

    The metrics use the engine's exact-integer conventions so they can be
    reconciled bit-for-bit against a direct aggregate (the pytest does) —
    an observation that only roughly matches its own data is a monitoring
    trap. Numeric column is auto-detected as the first DoubleType."""
    from pyspark.sql import Observation
    from pyspark.sql.types import DoubleType

    num = next(
        (f.name for f in df.schema.fields if isinstance(f.dataType, DoubleType)),
        None,
    )
    obs = Observation(name)
    metrics = [
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(
            sum(
                F.when(F.col(f.name).isNull(), 1).otherwise(0)
                for f in df.schema.fields
            )
        ).cast("long").alias("n_nulls"),
    ]
    if num is not None:
        metrics.append(
            F.sum(F.round(F.col(num) * 100).cast("long")).alias("value_cents")
        )
    return df.observe(obs, *metrics), obs


# ---------------------------------------------------------------------------
# Release gate composition — round 10
# ---------------------------------------------------------------------------

_RELEASE_GATE_SQL = f"""
WITH dq AS ({_DQ_SQL}),
g1 AS (
  SELECT 'constraints_clean' AS gate,
         CAST(sum(n_violations) AS BIGINT) AS metric,
         CAST(0 AS BIGINT) AS threshold
  FROM dq
),
g2 AS (
  SELECT 'k_anonymity' AS gate,
         CAST(count_if(gs < {K_ANON}) AS BIGINT) AS metric,
         CAST(0 AS BIGINT) AS threshold
  FROM (SELECT count(*) AS gs FROM customer
        GROUP BY c_nationkey, c_mktsegment)
),
g3 AS (
  SELECT 'l_diversity' AS gate,
         CAST(count_if(l_g < {L_DIV}) AS BIGINT) AS metric,
         CAST(0 AS BIGINT) AS threshold
  FROM (SELECT count(DISTINCT CASE WHEN c_acctbal < 0 THEN 'debt'
                     WHEN c_acctbal < 5000 THEN 'mid'
                     ELSE 'high' END) AS l_g
        FROM customer GROUP BY c_nationkey, c_mktsegment)
)
SELECT gate, metric, threshold, metric <= threshold AS passed
FROM (SELECT * FROM g1 UNION ALL SELECT * FROM g2 UNION ALL SELECT * FROM g3)
"""


@register("dq_release_gate", oracle=_RELEASE_GATE_SQL, category="quality")
def dq_release_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The release-gate composition: constraint suite + k-anonymity +
    l-diversity folded into ONE lazy plan emitting (gate, metric,
    threshold, passed) — the single decision table a publish pipeline
    blocks on (the ``drift_monitor_decision`` pattern applied to data
    governance). Violation-style semantics throughout: every gate passes
    iff metric ≤ threshold, so a consumer needs no per-gate direction
    logic. Gates report honestly — l-diversity FAILS on this data
    (homogeneous balance-bracket groups exist), and the pytest pins that
    the gate row agrees with the standalone audit rather than painting
    the dashboard green.

    Scale: each component keeps its own documented plan (conditional
    counts, QI-keyed combines, broadcast FK anti-join); the union is
    3 one-row aggregates. Table-scan budget 3 (the orders_dq_checks
    component's disclosed allowance), noted in the plan-guard allowlist.
    """
    dq = orders_dq_checks(spark, sf_dir).agg(
        F.sum("n_violations").cast("long").alias("metric")
    )
    ka = k_anonymity_audit(spark, sf_dir).select(
        F.col("n_groups_below_k").cast("long").alias("metric")
    )
    ld = l_diversity_audit(spark, sf_dir).select(
        F.col("n_groups_below_l").cast("long").alias("metric")
    )

    def gate(df: DataFrame, name: str) -> DataFrame:
        return df.select(
            F.lit(name).alias("gate"),
            "metric",
            F.lit(0).cast("long").alias("threshold"),
        )

    out = (
        gate(dq, "constraints_clean")
        .unionByName(gate(ka, "k_anonymity"))
        .unionByName(gate(ld, "l_diversity"))
    )
    return out.select(
        "gate",
        "metric",
        "threshold",
        (F.col("metric") <= F.col("threshold")).alias("passed"),
    )

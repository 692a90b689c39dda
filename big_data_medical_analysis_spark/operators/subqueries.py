"""Subquery surface: scalar, correlated, and NOT-EXISTS forms.

The reference has no subqueries (its pipeline is imperative pandas/TF —
src/preprocessing_pipeline.py builds every derived frame by hand), but a
user replacing it with this engine writes them immediately, and they are
the one Catalyst surface the rest of the catalog never touches:
**subquery decorrelation** (correlated scalar → aggregate + join;
NOT EXISTS → anti join; uncorrelated scalar → one-row broadcast plan
fragment). These queries are deliberately authored through the SQL entry
point (temp views + ``spark.sql``) because that is the only way to reach
the decorrelator — the DataFrame builder would hand-write the already-
decorrelated join, which is exactly what we want Catalyst to derive.

Scale notes per query live on the functions. All money/threshold math uses
the engine's integer-scaling convention (operators/common.py): sums are
exact int64 cents, and the one avg-based threshold is computed from an
exact integer sum, so both engines (Spark JVM, DuckDB C++) perform the
same IEEE ops and land on the bit-identical double.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from big_data_medical_analysis_spark.operators.common import checkpoint_pinned
from big_data_medical_analysis_spark.registry import register
from big_data_medical_analysis_spark.sources.readers import (
    read_table,
    register_views,
)


# ---------------------------------------------------------------------------
# Q17 shape — correlated scalar subquery (decorrelates to agg + join)
# ---------------------------------------------------------------------------

_SMALL_ORDER_SQL = """
SELECT
  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS rev_cents,
  count(*) AS n_small
FROM lineitem l1
WHERE l1.l_quantity < (
  SELECT 0.2 * avg(l2.l_quantity)
  FROM lineitem l2
  WHERE l2.l_partkey = l1.l_partkey
)
"""


@register("small_order_revenue", oracle=_SMALL_ORDER_SQL, category="subquery")
def small_order_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: correlated scalar subquery over the same fact table.

    Catalyst decorrelates this into `Aggregate(l_partkey, avg) ⋈ lineitem`
    — one shuffle of (partkey, sum, count) pairs plus the fact scan, never
    a per-row re-scan (the naive interpretation would be O(n²) at 100 TB).
    The threshold is cross-engine exact: l_quantity is integer-valued, so
    avg = exact-int-sum / count and 0.2*avg are the same two IEEE ops on
    both engines; output stays in integer cents (no division at all).
    """
    register_views(spark, sf_dir, ["lineitem"])
    return spark.sql(_SMALL_ORDER_SQL)


# ---------------------------------------------------------------------------
# Q15 shape — uncorrelated scalar subquery against a shared CTE
# ---------------------------------------------------------------------------

_TOP_SUPPLIER_SQL = """
WITH rev AS (
  SELECT
    l_suppkey,
    sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)) AS rev_ccents
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
  GROUP BY l_suppkey
)
SELECT
  s_suppkey,
  s_name,
  CAST(rev_ccents AS DOUBLE) / 10000.0 AS total_revenue
FROM supplier
JOIN rev ON s_suppkey = l_suppkey
WHERE rev_ccents = (SELECT max(rev_ccents) FROM rev)
"""


@register("top_revenue_suppliers", oracle=_TOP_SUPPLIER_SQL, category="subquery")
def top_revenue_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: revenue-per-supplier CTE referenced twice — once as
    the join input, once inside an uncorrelated scalar subquery (max).

    The scalar subquery evaluates once into a literal the executors reuse
    (a one-row broadcast, not a per-row probe), and the supplier dim join
    broadcasts. The CTE's aggregate shuffles only (suppkey, int64) pairs.
    Revenue ties are all kept (same semantics on both engines — no
    arbitrary top-1), and int64 centi-cents make ties exact rather than
    float-accidental.
    """
    register_views(spark, sf_dir, ["lineitem", "supplier"])
    return spark.sql(_TOP_SUPPLIER_SQL)


# ---------------------------------------------------------------------------
# Q22 shape — scalar subquery threshold + NOT EXISTS anti join
# ---------------------------------------------------------------------------

_RICH_IDLE_SQL = """
SELECT
  c_mktsegment,
  count(*) AS n_customers,
  CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS total_acctbal
FROM customer c
WHERE CAST(round(c_acctbal * 100) AS BIGINT) > (
    SELECT avg(CAST(round(c_acctbal * 100) AS BIGINT))
    FROM customer
    WHERE c_acctbal > 0.0
  )
  AND NOT EXISTS (
    SELECT 1 FROM orders o
    WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT'
  )
GROUP BY c_mktsegment
"""


@register("rich_idle_customers", oracle=_RICH_IDLE_SQL, category="subquery")
def rich_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: above-average-balance customers with no urgent
    order, grouped by segment — an uncorrelated scalar subquery (the
    balance threshold) AND a correlated NOT EXISTS in one predicate. (The
    synthetic data gives every customer at least one order, so the inner
    predicate filters on priority to keep the anti join discriminating.)

    Catalyst turns NOT EXISTS into a left-anti join on o_custkey (only the
    key column of orders shuffles after pruning) and the threshold into a
    once-evaluated scalar. The avg threshold compares exact int64 cents
    against exact-int-sum/count — bit-identical across engines.
    """
    register_views(spark, sf_dir, ["customer", "orders"])
    return spark.sql(_RICH_IDLE_SQL)


# ---------------------------------------------------------------------------
# Recursive CTE — linear-chain recursion through the Catalyst recursive
# executor (new SQL surface in Spark 4)
# ---------------------------------------------------------------------------

# The sequencing CTE and the recursive fragment use only constructs that
# behave identically in Spark and DuckDB (row_number, round, CAST,
# UNION ALL recursion with a column list), so the recursive text is shared
# verbatim; the engines differ only in how `seq` is provided (DuckDB
# inlines the CTE, Spark materializes it — see the function docstring).
_SEQ_SQL = """
  SELECT o_custkey, o_orderkey,
         CAST(round(o_totalprice * 100) AS BIGINT) AS order_cents,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_orderdate, o_orderkey) AS rn
  FROM orders
"""

_CHAIN_SQL = """
chain(o_custkey, o_orderkey, pos, cum_cents) AS (
  SELECT o_custkey, o_orderkey, rn, order_cents FROM {seq} WHERE rn = 1
  UNION ALL
  SELECT s.o_custkey, s.o_orderkey, s.rn, c.cum_cents + s.order_cents
  FROM chain c JOIN {seq} s
    ON s.o_custkey = c.o_custkey AND s.rn = c.pos + 1
)
SELECT o_custkey, o_orderkey, CAST(pos AS INTEGER) AS pos,
       CAST(cum_cents AS DOUBLE) / 100.0 AS cum_spend
FROM chain
"""

_ORDER_CHAIN_SQL = (
    "WITH RECURSIVE seq AS (" + _SEQ_SQL + "),\n"
    + _CHAIN_SQL.format(seq="seq")
)


# Block width for the batched recursion: each recursive step advances a
# whole block of K orders, so executor-loop depth is ceil(longest chain / K)
# instead of the chain length itself. K trades per-step work (block prefix
# rows carried into the final join) against step count; with per-step cost
# dominated by fixed job-launch/repartition overhead (measured ~1.4s/step
# in this single-JVM env regardless of data volume), a K near the MEDIAN
# chain length collapses nearly all of it.
ORDER_CHAIN_BLOCK = 8


@register("order_chain_recursion", oracle=_ORDER_CHAIN_SQL, category="subquery")
def order_chain_recursion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (WITH RECURSIVE, Spark 4's recursive-CTE executor):
    walk each customer's order history in date order, accumulating position
    and running spend. The ORACLE states the naive per-order recursion
    (anchor = first order, one join per step); the Spark plan is the
    BLOCK-BATCHED equivalent — the standard way to run a deep linear
    recursion on an engine whose per-iteration cost is a fixed job launch:

    1. one window pass derives, per order, its position ``rn``, its block
       ``blk = (rn-1) div K``, and the IN-BLOCK prefix sum of cents;
    2. a per-(customer, block) rollup gives each block's total;
    3. ``WITH RECURSIVE`` walks BLOCKS, not orders: the carried state is
       one row per (customer, block) = the cumulative cents at that
       block's END, so depth is ceil(longest chain / K) — 3 steps instead
       of 24 at sf0.1 (measured: 33.5s -> under 2s of recursion);
    4. a final co-partitioned join adds each row's in-block prefix to the
       PREVIOUS block's end-cumulative. Values are bit-identical to the
       naive recursion: exact int64 cents throughout, one float division
       at the end.

    The recursion is linear and acyclic (one successor block per row), so
    UNION ALL terminates at ceil(longest chain / K) — far under Spark's
    100-step limit, and deeper chains now fit the limit K× better. For
    running sums alone a window frame is the cheaper plan
    (moving_order_totals); this query exists to pin the recursive executor
    itself, the shape iterative graph/hierarchy walks (BOM explosion, org
    rollups) compile to — block-batching is exactly how those walks are
    run at depth too.

    Scale: the window/rollup stage is one shuffle on the recursion key;
    both recursion inputs are materialized once (checkpoint_pinned),
    pre-partitioned on that key, sized by data volume (floored at 8
    partitions: at driver scales each step's frame is ~one row per
    customer-block, and defaultParallelism near-empty tasks per step are
    pure scheduler overhead). Each recursive step is an equi-join on the
    SAME key the relations are partitioned by.
    """
    register_views(spark, sf_dir, ["orders"])
    k = ORDER_CHAIN_BLOCK
    n_rows = spark.table("orders").count()
    n = max(8, min(spark.sparkContext.defaultParallelism, n_rows // 100_000 + 1))
    seq = checkpoint_pinned(
        spark.sql(_SEQ_SQL)
        .selectExpr(
            "o_custkey",
            "o_orderkey",
            "rn",
            f"CAST((rn - 1) / {k} AS INTEGER) AS blk",
            "order_cents",
        )
        .selectExpr(
            "*",
            "sum(order_cents) OVER (PARTITION BY o_custkey, blk ORDER BY rn "
            "ROWS UNBOUNDED PRECEDING) AS pref",
        )
        .repartition(n, "o_custkey")
    )
    seq.createOrReplaceTempView("order_chain_seq")
    blocksums = checkpoint_pinned(
        seq.groupBy("o_custkey", "blk")
        .agg(F.sum("order_cents").alias("bsum"))
        .repartition(n, "o_custkey")
    )
    blocksums.createOrReplaceTempView("order_chain_blocksums")
    return spark.sql(
        """
WITH RECURSIVE blocks(o_custkey, blk, end_cum) AS (
  SELECT o_custkey, blk, bsum FROM order_chain_blocksums WHERE blk = 0
  UNION ALL
  SELECT s.o_custkey, s.blk, b.end_cum + s.bsum
  FROM blocks b JOIN order_chain_blocksums s
    ON s.o_custkey = b.o_custkey AND s.blk = b.blk + 1
)
SELECT q.o_custkey, q.o_orderkey, CAST(q.rn AS INTEGER) AS pos,
       CAST(COALESCE(p.end_cum, 0) + q.pref AS DOUBLE) / 100.0 AS cum_spend
FROM order_chain_seq q
LEFT JOIN blocks p
  ON p.o_custkey = q.o_custkey AND p.blk = q.blk - 1
"""
    )


# ---------------------------------------------------------------------------
# Correlated LATERAL subquery with LIMIT (per-row top-k)
# ---------------------------------------------------------------------------

# Dialect-shared: identical LATERAL syntax, window, and LIMIT semantics on
# both engines; the probe cap keeps the output bounded.
_LATERAL_TOPK_SQL = """
SELECT c.c_custkey, t.o_orderkey, CAST(t.rnk AS INTEGER) AS rnk,
       CAST(t.price_cents AS DOUBLE) / 100.0 AS price
FROM customer c,
LATERAL (
  SELECT o_orderkey,
         CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents,
         row_number() OVER (
           ORDER BY CAST(round(o_totalprice * 100) AS BIGINT) DESC,
                    o_orderkey) AS rnk
  FROM orders o
  WHERE o.o_custkey = c.c_custkey
  ORDER BY price_cents DESC, o_orderkey
  LIMIT 2
) t
WHERE c.c_custkey < 200
"""


@register("lateral_top_orders", oracle=_LATERAL_TOPK_SQL, category="subquery")
def lateral_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery with LIMIT: each probe customer's two
    priciest orders — the per-row-top-k idiom SQL users reach for before
    they learn window functions, and the last decorrelation path the
    subquery surface doesn't otherwise touch (Catalyst rewrites the
    correlated LATERAL + LIMIT into a ranked window join rather than
    executing the inner query per row).

    Scale: the decorrelated plan is one shuffle of the pruned orders
    columns on custkey + a rank filter — identical cost to the explicit
    window form (topk_parts_per_brand); nothing is per-row. Ties are
    impossible in the rank order ((cents, orderkey) is unique), so LIMIT 2
    is deterministic on both engines.
    """
    register_views(spark, sf_dir, ["customer", "orders"])
    return spark.sql(_LATERAL_TOPK_SQL)


# ---------------------------------------------------------------------------
# NOT IN three-valued-logic semantics (round 6)
# ---------------------------------------------------------------------------

# Dialect-shared: identical NOT IN / scalar-subquery semantics on both
# engines. The 'P'-status branch REWRITES o_custkey to NULL, so its NOT IN
# list contains NULLs and the predicate can never be TRUE (x <> NULL is
# UNKNOWN) — the count is provably 0, which is exactly the trap this query
# pins; the second branch filters the NULLs first and degrades to a plain
# anti-join count.
_NOT_IN_SQL = """
SELECT
  (SELECT count(*) FROM customer
   WHERE c_custkey NOT IN (
     SELECT CASE WHEN o_orderstatus = 'P' THEN NULL ELSE o_custkey END
     FROM orders))
    AS n_not_in_with_nulls,
  (SELECT count(*) FROM customer
   WHERE c_custkey NOT IN (
     SELECT o_custkey FROM orders WHERE o_orderstatus <> 'P'))
    AS n_not_in_clean,
  (SELECT count(*) FROM customer) AS n_customers
"""


@register("orders_not_in_null_semantics", oracle=_NOT_IN_SQL, category="subquery")
def orders_not_in_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT IN under three-valued logic — the SQL trap the semi/anti-join
    queries can't expose: when the subquery's value list contains a NULL,
    ``x NOT IN (...)`` is never TRUE, so the null-bearing branch counts 0
    rows while the null-filtered branch is an honest anti-join. Spark
    plans the first as a null-aware anti join (BroadcastNestedLoopJoin
    with the null check) and the second as a regular anti join; a driver
    row proves both reductions agree with the standard's semantics.

    Scale: NOT IN with a possibly-NULL list is the expensive null-aware
    join — the production guidance (rich_idle_customers) is NOT EXISTS,
    which is null-safe AND plans as a plain anti join. This query exists
    to pin the semantics of the form users actually write.
    """
    register_views(spark, sf_dir, ["customer", "orders"])
    return spark.sql(_NOT_IN_SQL)


# ---------------------------------------------------------------------------
# Null-safe equality join semantics (round 6)
# ---------------------------------------------------------------------------

_NULL_SAFE_SQL = """
WITH l AS (
  SELECT CASE WHEN CAST(json_extract(props, '$.k') AS BIGINT) % 10 = 0
              THEN NULL
              ELSE CAST(json_extract(props, '$.k') AS BIGINT) % 10 END AS key
  FROM events WHERE event_id % 2 = 0 AND event_id < 2000
),
r AS (
  SELECT CASE WHEN CAST(json_extract(props, '$.k') AS BIGINT) % 10 = 0
              THEN NULL
              ELSE CAST(json_extract(props, '$.k') AS BIGINT) % 10 END AS key
  FROM events WHERE event_id % 2 = 1 AND event_id < 2000
)
SELECT
  (SELECT count(*) FROM l JOIN r ON l.key = r.key) AS n_eq_matches,
  (SELECT count(*) FROM l JOIN r ON l.key IS NOT DISTINCT FROM r.key)
    AS n_null_safe_matches,
  (SELECT count(*) FROM l WHERE key IS NULL) AS n_null_left,
  (SELECT count(*) FROM r WHERE key IS NULL) AS n_null_right
"""


@register("null_safe_join_counts", oracle=_NULL_SAFE_SQL, category="subquery")
def null_safe_join_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality (``eqNullSafe`` / ``<=>`` ≡ SQL IS NOT DISTINCT
    FROM) vs plain ``=`` as a JOIN condition: the plain join silently drops
    every NULL-keyed row (NULL = NULL is UNKNOWN), the null-safe join
    matches NULL with NULL — the difference between the two counts is
    exactly the NULL-NULL pair count, and a driver row pins all four
    numbers. This is the dedup/CDC trap key: joining change records on a
    nullable business key with ``=`` quietly orphans the NULL cohort.

    Scale: both joins remain hash joins (null-safe equality is still an
    equi-condition — Spark hashes the key with a null marker; it does NOT
    degrade to nested-loop). NULL keys all hash together, so a NULL-heavy
    corpus makes the null-safe join a skew hotspot — salt or pre-split the
    NULL cohort at 100 TB. The two key frames are localCheckpointed (r9):
    each is consumed by three branches (both joins + its null count) and
    the executed plan re-ran the per-row JSON key extraction per branch
    (six event scans); now the parse runs once per side.
    """
    ev = read_table(spark, sf_dir, "events").filter(F.col("event_id") < 2000)
    k = F.get_json_object("props", "$.k").cast("long") % 10
    key = F.when(k == 0, F.lit(None).cast("long")).otherwise(k)
    left = (
        ev.filter(F.col("event_id") % 2 == 0)
        .select(key.alias("key"))
        .transform(checkpoint_pinned)
    )
    right = (
        ev.filter(F.col("event_id") % 2 == 1)
        .select(key.alias("key"))
        .transform(checkpoint_pinned)
    )
    lk, rk = left.alias("l"), right.alias("r")
    eq = lk.join(rk, F.col("l.key") == F.col("r.key")).agg(
        F.count(F.lit(1)).alias("n_eq_matches")
    )
    ns = lk.join(rk, F.col("l.key").eqNullSafe(F.col("r.key"))).agg(
        F.count(F.lit(1)).alias("n_null_safe_matches")
    )
    nl = left.filter(F.col("key").isNull()).agg(
        F.count(F.lit(1)).alias("n_null_left")
    )
    nr = right.filter(F.col("key").isNull()).agg(
        F.count(F.lit(1)).alias("n_null_right")
    )
    return eq.crossJoin(ns).crossJoin(nl).crossJoin(nr)

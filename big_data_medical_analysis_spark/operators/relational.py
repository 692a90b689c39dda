"""Relational core: scans, joins, aggregates, windows, sorts, set ops,
scalar-function suites (SURVEY.md §2.3 inventory).

The reference's only relational operators are projection/filter/groupBy-count/
distinct/dropDuplicates (``src/preprocessing_pipeline.py:280-283``,
``utils/preprocessing_testing_utils.py:55-58``); everything else here is the
capability extension mandated by the north star. Every query is Catalyst-
native (no Python in the hot path), declared so that filters and projections
push down to the parquet scan, and dimension joins are explicitly broadcast.

Scale notes per operator are in the docstrings: the correctness harness runs
these at sf0.01, but the plans are shaped for a 1000-executor cluster — fact-
to-fact joins shuffle on their keys (AQE handles skew), dims broadcast, and
aggregates are partial+final hash aggregates with exact int64 accumulators.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from big_data_medical_analysis_spark.operators.common import (
    date_str,
    md5_int,
    money_avg,
    money_sum,
    ts_str,
)
from big_data_medical_analysis_spark.operators.common import cents
from big_data_medical_analysis_spark.registry import register
from big_data_medical_analysis_spark.sources.readers import read_table

# ---------------------------------------------------------------------------
# Aggregation family
# ---------------------------------------------------------------------------

_PRICING_SUMMARY_SQL = """
SELECT
  l_returnflag,
  l_linestatus,
  CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_qty,
  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_base_price,
  CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)) AS DOUBLE) / 10000.0 AS sum_disc_price,
  CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 1000000) AS BIGINT)) AS DOUBLE) / 1000000.0 AS sum_charge,
  round(CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS DOUBLE) / 100.0 / count(*), 6) AS avg_qty,
  round(CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) / 100.0 / count(*), 6) AS avg_price,
  round(CAST(sum(CAST(round(l_discount * 100) AS BIGINT)) AS DOUBLE) / 100.0 / count(*), 6) AS avg_disc,
  count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


@register("pricing_summary", oracle=_PRICING_SUMMARY_SQL, category="aggregation")
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: filtered scan → 8-way hash aggregate.

    Scale: the shipdate filter pushes down to the parquet scan; the aggregate
    is a partial (map-side) + final HashAggregate over a 6-value grouping key,
    so the shuffle carries 6 rows per map task no matter the input size.
    """
    li = read_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp_ntz")
    )
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        money_sum("l_quantity").alias("sum_qty"),
        money_sum("l_extendedprice").alias("sum_base_price"),
        money_sum(disc_price, 10000).alias("sum_disc_price"),
        money_sum(charge, 1000000).alias("sum_charge"),
        money_avg("l_quantity").alias("avg_qty"),
        money_avg("l_extendedprice").alias("avg_price"),
        money_avg("l_discount").alias("avg_disc"),
        F.count(F.lit(1)).alias("count_order"),
    )


_EVENT_TYPE_STATS_SQL = """
SELECT
  event_type,
  count(*) AS n_events,
  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS total_value,
  round(CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0 / count(*), 6) AS avg_value,
  min(value) AS min_value,
  max(value) AS max_value
FROM events
GROUP BY event_type
"""


@register("event_type_stats", oracle=_EVENT_TYPE_STATS_SQL, category="aggregation")
def event_type_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-aggregate hash aggregate (count/sum/avg/min/max) per event type."""
    ev = read_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        money_sum("value").alias("total_value"),
        money_avg("value").alias("avg_value"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
    )


_DISTINCT_USERS_SQL = """
SELECT event_type, count(DISTINCT user_id) AS n_users
FROM events
GROUP BY event_type
"""


@register("distinct_users_by_type", oracle=_DISTINCT_USERS_SQL, category="aggregation")
def distinct_users_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct aggregate: exact COUNT(DISTINCT) — expands to a two-phase
    aggregate (distinct on (type, user) then count), shuffling the distinct
    pairs, which is the scalable plan for high-cardinality distincts."""
    ev = read_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(F.countDistinct("user_id").alias("n_users"))


@register("approx_distinct_users", oracle=None, category="aggregation")
def approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ approximate distinct — the 100 TB path for distinct
    counts (constant-size sketch per group, no distinct shuffle). No oracle:
    sketch estimates are engine-specific; driver records rows-only."""
    ev = read_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", 0.01).alias("approx_users")
    )


_LABEL_DISTRIBUTION_SQL = """
SELECT o_orderstatus AS label, count(*) AS n
FROM orders
GROUP BY o_orderstatus
"""


@register("label_distribution", oracle=_LABEL_DISTRIBUTION_SQL, category="aggregation")
def label_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's core distributional audit — ``groupBy(label).count()``
    (utils/preprocessing_testing_utils.py:55-58) — on the driver tables."""
    return (
        read_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderstatus").alias("label"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


_DISTINCT_LABELS_SQL = "SELECT DISTINCT o_orderstatus AS label FROM orders"


@register("distinct_labels", oracle=_DISTINCT_LABELS_SQL, category="aggregation")
def distinct_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column distinct — the reference enumerates label values the same way
    before building sampling fractions (src/preprocessing_pipeline.py:174)."""
    return read_table(spark, sf_dir, "orders").select(
        F.col("o_orderstatus").alias("label")
    ).distinct()


# ---------------------------------------------------------------------------
# Grouping sets / rollup / cube
# ---------------------------------------------------------------------------

_REVENUE_ROLLUP_SQL = """
SELECT
  n_name,
  o_orderstatus,
  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS revenue,
  count(*) AS n_orders
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY ROLLUP (n_name, o_orderstatus)
"""


@register("revenue_rollup", oracle=_REVENUE_ROLLUP_SQL, category="aggregation")
def revenue_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy totals (nation → nation×status → grand total).

    Scale: customer and nation are broadcast; the expand+aggregate runs
    map-side-partial so the 3× row expansion never hits the shuffle raw.
    """
    orders = read_table(spark, sf_dir, "orders")
    customer = read_table(spark, sf_dir, "customer")
    nation = read_table(spark, sf_dir, "nation")
    joined = orders.join(
        F.broadcast(customer), orders.o_custkey == customer.c_custkey
    ).join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
    return joined.rollup("n_name", "o_orderstatus").agg(
        money_sum("o_totalprice").alias("revenue"),
        F.count(F.lit(1)).alias("n_orders"),
    )


_QTY_CUBE_SQL = """
SELECT
  l_returnflag,
  l_linestatus,
  CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_qty,
  count(*) AS n
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
"""


@register("qty_cube", oracle=_QTY_CUBE_SQL, category="aggregation")
def qty_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (returnflag, linestatus): all 4 grouping combinations."""
    li = read_table(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        money_sum("l_quantity").alias("sum_qty"),
        F.count(F.lit(1)).alias("n"),
    )


_GROUPING_SETS_SQL = """
SELECT
  l_returnflag,
  l_linestatus,
  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_price
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
"""


@register("revenue_grouping_sets", oracle=_GROUPING_SETS_SQL, category="aggregation")
def revenue_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS via the SQL entry point (temp view + spark.sql):
    the engine exposes both the DataFrame builder and SQL over the same
    Catalyst pipeline."""
    read_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(
        """
        SELECT
          l_returnflag,
          l_linestatus,
          CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_price
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """
    )


# ---------------------------------------------------------------------------
# Join family
# ---------------------------------------------------------------------------

_NATION_ORDER_COHORTS_SQL = """
SELECT
  n_name,
  o_orderstatus,
  count(*) AS n_lineitems,
  count(DISTINCT o_orderkey) AS n_orders,
  CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)) AS DOUBLE) / 10000.0 AS revenue,
  round(CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS DOUBLE) / 100.0 / count(*), 6) AS avg_qty
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name, o_orderstatus
"""


@register("nation_order_cohorts", oracle=_NATION_ORDER_COHORTS_SQL, category="join")
def nation_order_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship query (SURVEY.md §7.1): per-label cohort profile — the
    reference's "label distribution per partition" question
    (utils/preprocessing_testing_utils.py:55-58) recast on the star schema.

    Plan shape: lineitem is pre-aggregated per orderkey FIRST, which (a)
    shrinks the join input from line-items to orders and (b) turns
    ``count(DISTINCT o_orderkey)`` into a plain ``count(*)`` — the naive
    distinct-agg formulation plans an Expand that doubles the fact stream
    and shuffles it twice, the classic scale-killer on a wide rollup. The
    orderkey partial-agg shuffle is then REUSED by the join (same key), so
    total exchanges stay at two: per-order agg + the 25-group final agg.
    Customer and nation broadcast as before.
    """
    li = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders")
    customer = read_table(spark, sf_dir, "customer")
    nation = read_table(spark, sf_dir, "nation")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    per_order = li.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_li"),
        F.sum(cents(disc_price, 10000)).alias("rev_e4"),
        F.sum(cents("l_quantity", 100)).alias("qty_e2"),
    )
    joined = (
        per_order.join(orders, per_order.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
    )
    return joined.groupBy("n_name", "o_orderstatus").agg(
        F.sum("n_li").alias("n_lineitems"),
        F.count(F.lit(1)).alias("n_orders"),
        (F.sum("rev_e4").cast("double") / F.lit(10_000.0)).alias("revenue"),
        F.round(
            F.sum("qty_e2").cast("double") / F.lit(100.0) / F.sum("n_li"), 6
        ).alias("avg_qty"),
    )


_TOP_ORDERS_SQL = """
SELECT
  o_orderkey,
  strftime(o_orderdate, '%Y-%m-%d') AS order_date,
  CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)) AS DOUBLE) / 10000.0 AS revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING' AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
GROUP BY o_orderkey, o_orderdate
ORDER BY revenue DESC, o_orderkey
LIMIT 10
"""


@register("top_orders_by_segment", oracle=_TOP_ORDERS_SQL, category="join")
def top_orders_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective dim filter → fact join → agg → top-k.

    The segment filter reduces customer before broadcast; revenue is an exact
    int64 sum so the DESC order (and thus the LIMIT set) is deterministic,
    with o_orderkey as the tie-break.
    """
    customer = read_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = read_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp_ntz")
    )
    li = read_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .groupBy("o_orderkey", "o_orderdate")
        .agg(money_sum(disc_price, 10000).alias("revenue"))
        .select(
            "o_orderkey",
            date_str("o_orderdate").alias("order_date"),
            "revenue",
        )
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
    )


_REGIONAL_REVENUE_SQL = """
SELECT
  r_name,
  CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)) AS DOUBLE) / 10000.0 AS revenue,
  count(*) AS n_lineitems
FROM region
JOIN nation ON n_regionkey = r_regionkey
JOIN customer ON c_nationkey = n_nationkey
JOIN orders ON o_custkey = c_custkey
JOIN lineitem ON l_orderkey = o_orderkey
GROUP BY r_name
"""


@register("regional_revenue", oracle=_REGIONAL_REVENUE_SQL, category="join")
def regional_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: snowflake join chain region←nation←customer←orders←lineitem.

    region/nation/customer broadcast (dims), so the only shuffle is
    lineitem⋈orders on orderkey.
    """
    region = read_table(spark, sf_dir, "region")
    nation = read_table(spark, sf_dir, "nation")
    customer = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    dims = (
        customer.join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select("c_custkey", "r_name")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(dims), orders.o_custkey == dims.c_custkey)
        .groupBy("r_name")
        .agg(
            money_sum(disc_price, 10000).alias("revenue"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
    )


_CUSTOMER_ORDER_STATS_SQL = """
SELECT
  c_custkey,
  count(o_orderkey) AS n_orders,
  CAST(sum(COALESCE(CAST(round(o_totalprice * 100) AS BIGINT), 0)) AS DOUBLE) / 100.0 AS total_spent
FROM customer
LEFT JOIN orders ON o_custkey = c_custkey
GROUP BY c_custkey
"""


@register("customer_order_stats", oracle=_CUSTOMER_ORDER_STATS_SQL, category="join")
def customer_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER join preserving order-less customers (count 0, total 0.0)."""
    customer = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders")
    return (
        customer.join(orders, customer.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            (
                F.sum(F.coalesce(cents("o_totalprice"), F.lit(0))).cast("double")
                / F.lit(100.0)
            ).alias("total_spent"),
        )
    )


_SEMI_JOIN_SQL = """
SELECT c_custkey, c_name FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
"""


@register("customers_with_orders", oracle=_SEMI_JOIN_SQL, category="join")
def customers_with_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI join (EXISTS): emits each matching left row exactly once,
    never materializing the right side's payload."""
    customer = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders")
    return customer.join(
        orders, customer.c_custkey == orders.o_custkey, "left_semi"
    ).select("c_custkey", "c_name")


_ANTI_JOIN_SQL = """
SELECT c_custkey, c_name FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
"""


@register("customers_without_orders", oracle=_ANTI_JOIN_SQL, category="join")
def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT ANTI join (NOT EXISTS): customers with no order at all.

    Scale: the anti join shuffles only the pruned o_custkey column against
    the customer keys — same exchange profile as the semi-join twin
    (customers_with_orders); Catalyst plans both from the same family.
    """
    customer = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders")
    return customer.join(
        orders, customer.c_custkey == orders.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


_FULL_OUTER_SQL = """
WITH c AS (
  SELECT c_nationkey AS nationkey, count(*) AS n_customers
  FROM customer GROUP BY c_nationkey
), s AS (
  SELECT s_nationkey AS nationkey, count(*) AS n_suppliers
  FROM supplier GROUP BY s_nationkey
)
SELECT
  COALESCE(c.nationkey, s.nationkey) AS nationkey,
  c.n_customers,
  s.n_suppliers
FROM c FULL OUTER JOIN s ON c.nationkey = s.nationkey
"""


@register("nation_activity_full_outer", oracle=_FULL_OUTER_SQL, category="join")
def nation_activity_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join of per-nation customer counts vs supplier counts
    (supplier covers few nations → null-padded rows on both sides)."""
    c = (
        read_table(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )
    s = (
        read_table(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("nationkey"))
        .agg(F.count(F.lit(1)).alias("n_suppliers"))
    )
    return c.join(s, c.nationkey == s.nationkey, "full_outer").select(
        F.coalesce(c.nationkey, s.nationkey).alias("nationkey"),
        "n_customers",
        "n_suppliers",
    )


_RANGE_JOIN_SQL = """
SELECT
  a.user_id,
  a.event_id AS first_event_id,
  b.event_id AS next_event_id,
  epoch_us(b.ts) - epoch_us(a.ts) AS gap_us
FROM events a
JOIN events b
  ON a.user_id = b.user_id
 AND b.ts > a.ts
 AND b.ts <= a.ts + INTERVAL 60 SECOND
"""


@register("event_pairs_range_join", oracle=_RANGE_JOIN_SQL, category="join")
def event_pairs_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta/range join: pairs of same-user events within 60 seconds.

    Scale: the equi-key (user_id) makes this a hash join with a range
    residual — per-user event lists are small, so the quadratic term is
    bounded per key instead of per table. Pure inequality joins (no equi key)
    would need bucketized timestamps; documented in operators/asof notes.
    """
    ev = read_table(spark, sf_dir, "events")
    a = ev.alias("a")
    b = ev.alias("b")
    return a.join(
        b,
        (F.col("a.user_id") == F.col("b.user_id"))
        & (F.col("b.ts") > F.col("a.ts"))
        & (F.col("b.ts") <= F.col("a.ts") + F.expr("INTERVAL 60 SECONDS")),
    ).select(
        F.col("a.user_id").alias("user_id"),
        F.col("a.event_id").alias("first_event_id"),
        F.col("b.event_id").alias("next_event_id"),
        (F.unix_micros(F.col("b.ts")) - F.unix_micros(F.col("a.ts"))).alias("gap_us"),
    )


_ASOF_SQL = """
SELECT
  p.event_id,
  p.user_id,
  strftime(p.ts, '%Y-%m-%d %H:%M:%S.%f') AS purchase_ts,
  strftime(s.ts, '%Y-%m-%d %H:%M:%S.%f') AS signup_ts,
  epoch_us(p.ts) - epoch_us(s.ts) AS wait_us
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'signup') s
  ON p.user_id = s.user_id AND p.ts >= s.ts
"""


@register("purchase_asof_signup", oracle=_ASOF_SQL, category="join")
def purchase_asof_signup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (nearest prior event) — Spark has no native primitive
    (SURVEY.md §7.3), so it is composed as union + last-non-null window:
    tag both streams, sort by (ts, side) within user, and carry the latest
    signup forward with ``last(..., ignorenulls=True)``.

    Scale: one shuffle on user_id + a linear per-partition window pass —
    strictly better than the range-join formulation (no quadratic residual),
    and the same shape works in streaming with applyInPandasWithState.
    Equal timestamps count as "prior" (side 0 sorts before side 1), matching
    DuckDB ASOF's >= semantics.
    """
    ev = read_table(spark, sf_dir, "events")
    signups = ev.filter(F.col("event_type") == "signup").select(
        "user_id",
        "ts",
        "event_id",
        F.lit(0).alias("side"),
        F.col("ts").alias("s_ts"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        "event_id",
        F.lit(1).alias("side"),
        F.lit(None).cast("timestamp").alias("s_ts"),
    )
    merged = signups.unionByName(purchases)
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "side", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        merged.withColumn("signup_ts", F.last("s_ts", ignorenulls=True).over(w))
        .filter(F.col("side") == 1)
        .select(
            "event_id",
            "user_id",
            ts_str("ts").alias("purchase_ts"),
            ts_str("signup_ts").alias("signup_ts"),
            (F.unix_micros("ts") - F.unix_micros("signup_ts")).alias("wait_us"),
        )
    )


# ---------------------------------------------------------------------------
# Window functions
# ---------------------------------------------------------------------------

_TOPK_PARTS_SQL = """
SELECT * FROM (
  SELECT
    p_brand,
    p_partkey,
    p_retailprice,
    row_number() OVER w AS rn,
    rank() OVER w AS rnk,
    dense_rank() OVER w AS drnk,
    ntile(4) OVER w AS quartile
  FROM part
  WINDOW w AS (PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey)
) WHERE rn <= 3
"""


@register("topk_parts_per_brand", oracle=_TOPK_PARTS_SQL, category="window")
def topk_parts_per_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking windows (row_number/rank/dense_rank/ntile) + top-k per group.

    The unique (price DESC, partkey) sort makes every rank deterministic.
    Scale: one shuffle on p_brand, linear pass per partition; for skewed
    groups the top-k-per-group pattern can pre-aggregate with a partial
    bounded heap via AQE, but rank-filter is the canonical form.
    """
    part = read_table(spark, sf_dir, "part")
    w = W.partitionBy("p_brand").orderBy(F.desc("p_retailprice"), F.asc("p_partkey"))
    return (
        part.select(
            "p_brand",
            "p_partkey",
            "p_retailprice",
            F.row_number().over(w).alias("rn"),
            F.rank().over(w).alias("rnk"),
            F.dense_rank().over(w).alias("drnk"),
            F.ntile(4).over(w).alias("quartile"),
        )
        .filter(F.col("rn") <= 3)
    )


_EVENT_DELTAS_SQL = """
SELECT
  event_id,
  user_id,
  strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_str,
  epoch_us(ts) - epoch_us(lag(ts) OVER w) AS delta_us,
  lag(event_type) OVER w AS prev_type,
  lead(event_type) OVER w AS next_type,
  first_value(event_type) OVER w AS first_type
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""


@register("user_event_deltas", oracle=_EVENT_DELTAS_SQL, category="window")
def user_event_deltas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic windows (lag/lead/first_value) — per-user event gaps in exact
    integer microseconds."""
    ev = read_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "event_id",
        "user_id",
        ts_str("ts").alias("ts_str"),
        (F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))).alias("delta_us"),
        F.lag("event_type").over(w).alias("prev_type"),
        F.lead("event_type").over(w).alias("next_type"),
        F.first("event_type").over(w).alias("first_type"),
    )


_MOVING_TOTALS_SQL = """
SELECT
  o_custkey,
  o_orderkey,
  strftime(o_orderdate, '%Y-%m-%d') AS order_date,
  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
       OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE) / 100.0
    AS moving_total
FROM orders
"""


@register("moving_order_totals", oracle=_MOVING_TOTALS_SQL, category="window")
def moving_order_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROWS frame: 3-order moving spend per customer, summed in exact cents."""
    orders = read_table(spark, sf_dir, "orders")
    w = (
        W.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(-2, W.currentRow)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        date_str("o_orderdate").alias("order_date"),
        (F.sum(cents("o_totalprice")).over(w).cast("double") / F.lit(100.0)).alias(
            "moving_total"
        ),
    )


_RANGE_FRAME_SQL = """
SELECT
  p_partkey,
  p_brand,
  p_size,
  CAST(sum(CAST(round(p_retailprice * 100) AS BIGINT))
       OVER (PARTITION BY p_brand ORDER BY p_size
             RANGE BETWEEN 5 PRECEDING AND CURRENT ROW) AS DOUBLE) / 100.0
    AS nearby_price_sum
FROM part
"""


@register("brand_price_range_frame", oracle=_RANGE_FRAME_SQL, category="window")
def brand_price_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame over a numeric key: total retail price of same-brand parts
    within 5 size units below (value-based frame → peers included, identical
    in both engines)."""
    part = read_table(spark, sf_dir, "part")
    w = W.partitionBy("p_brand").orderBy("p_size").rangeBetween(-5, W.currentRow)
    return part.select(
        "p_partkey",
        "p_brand",
        "p_size",
        (F.sum(cents("p_retailprice")).over(w).cast("double") / F.lit(100.0)).alias(
            "nearby_price_sum"
        ),
    )


# ---------------------------------------------------------------------------
# Sort / limit
# ---------------------------------------------------------------------------

_TOP_CUSTOMERS_SQL = """
SELECT c_custkey, c_name, c_acctbal
FROM customer
ORDER BY c_acctbal DESC, c_custkey
LIMIT 20
"""


@register("top_customers_by_balance", oracle=_TOP_CUSTOMERS_SQL, category="sort")
def top_customers_by_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k: Spark plans orderBy+limit as TakeOrderedAndProject —
    per-partition bounded heaps + driver merge, no global sort. Ties broken
    by the unique key so the k-set is deterministic."""
    return (
        read_table(spark, sf_dir, "customer")
        .select("c_custkey", "c_name", "c_acctbal")
        .orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Set operations
# ---------------------------------------------------------------------------

_UNION_SQL = """
SELECT c_nationkey AS nationkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE'
UNION
SELECT c_nationkey FROM customer WHERE c_mktsegment = 'BUILDING'
"""


@register("segment_nations_union", oracle=_UNION_SQL, category="setop")
def segment_nations_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION (distinct) of two segment filters — union + dedup aggregate."""
    customer = read_table(spark, sf_dir, "customer")
    a = customer.filter(F.col("c_mktsegment") == "AUTOMOBILE").select(
        F.col("c_nationkey").alias("nationkey")
    )
    b = customer.filter(F.col("c_mktsegment") == "BUILDING").select(
        F.col("c_nationkey").alias("nationkey")
    )
    return a.union(b).distinct()


_INTERSECT_SQL = """
SELECT c_nationkey AS nationkey FROM customer
INTERSECT
SELECT s_nationkey FROM supplier
"""


@register("nations_with_both", oracle=_INTERSECT_SQL, category="setop")
def nations_with_both(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT: nations that have both customers and suppliers."""
    c = read_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey")
    )
    s = read_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey")
    )
    return c.intersect(s)


_EXCEPT_SQL = """
SELECT c_nationkey AS nationkey FROM customer
EXCEPT
SELECT s_nationkey FROM supplier
"""


@register("nations_customers_only", oracle=_EXCEPT_SQL, category="setop")
def nations_customers_only(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT: nations with customers but no suppliers — the engine-side
    replacement for the reference's driver-side ``set.intersection`` shard
    audit (utils/preprocessing_testing_utils.py:60-80)."""
    c = read_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey")
    )
    s = read_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey")
    )
    return c.subtract(s)  # EXCEPT DISTINCT


# ---------------------------------------------------------------------------
# Scalar function suites
# ---------------------------------------------------------------------------

_STRING_FNS_SQL = """
SELECT
  p_partkey,
  upper(p_name) AS name_upper,
  substring(p_name, 1, 4) AS name_prefix,
  string_split(p_name, ' ')[1] AS first_word,
  len(string_split(p_name, ' ')) AS n_tokens,
  regexp_replace(p_name, 'widget', 'gadget') AS renamed,
  length(p_name) AS name_len,
  lpad(p_brand, 10, '_') AS brand_padded,
  CAST(regexp_extract(p_brand, '([0-9]+)', 1) AS INTEGER) AS brand_num,
  concat(p_brand, ':', p_type) AS brand_type
FROM part
"""


@register("part_string_functions", oracle=_STRING_FNS_SQL, category="scalar")
def part_string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String-function suite (upper/substring/split/regexp/length/lpad/concat)
    — pure column expressions, replacing the reference's in-UDF path mangling
    (``path.replace("/", "_")``, src/preprocessing_pipeline.py:48,:120)."""
    part = read_table(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.upper("p_name").alias("name_upper"),
        F.substring("p_name", 1, 4).alias("name_prefix"),
        F.split(F.col("p_name"), " ").getItem(0).alias("first_word"),
        F.size(F.split(F.col("p_name"), " ")).alias("n_tokens"),
        F.regexp_replace("p_name", "widget", "gadget").alias("renamed"),
        F.length("p_name").alias("name_len"),
        F.lpad("p_brand", 10, "_").alias("brand_padded"),
        F.regexp_extract("p_brand", "([0-9]+)", 1).cast("int").alias("brand_num"),
        F.concat_ws(":", "p_brand", "p_type").alias("brand_type"),
    )


_MONTHLY_REVENUE_SQL = """
SELECT
  strftime(date_trunc('month', o_orderdate), '%Y-%m') AS order_month,
  count(*) AS n_orders,
  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS revenue
FROM orders
GROUP BY 1
"""


@register("monthly_revenue", oracle=_MONTHLY_REVENUE_SQL, category="scalar")
def monthly_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-function suite: date_trunc to month + formatted rendering,
    grouped revenue."""
    orders = read_table(spark, sf_dir, "orders")
    return (
        orders.groupBy(
            F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM").alias(
                "order_month"
            )
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            money_sum("o_totalprice").alias("revenue"),
        )
    )


_JSON_PROPS_SQL = """
SELECT
  CAST(json_extract_string(props, '$.k') AS INTEGER) % 10 AS k_bucket,
  count(*) AS n,
  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS total_value
FROM events
GROUP BY 1
"""


@register("event_props_json", oracle=_JSON_PROPS_SQL, category="scalar")
def event_props_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON extraction over events.props (get_json_object) + bucket agg."""
    ev = read_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            (F.get_json_object("props", "$.k").cast("int") % 10).alias("k_bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            money_sum("value").alias("total_value"),
        )
    )


_ARRAY_OPS_SQL = """
SELECT
  vec_id,
  len(embedding) AS dim,
  round(embedding[1]::DOUBLE, 6) AS first_val,
  CAST(list_sum(list_transform(embedding[1:8],
       x -> CAST(round(x::DOUBLE * 1000000) AS BIGINT))) AS DOUBLE) / 1000000.0
    AS head_sum
FROM embeddings
"""


@register("embedding_array_ops", oracle=_ARRAY_OPS_SQL, category="scalar")
def embedding_array_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array/higher-order-function suite (size/element_at/slice/transform/
    aggregate) over the vector column — all Catalyst expressions, no UDF.
    The fold scales each float-exact double to int64 before summing so the
    result is bit-identical across engines."""
    emb = read_table(spark, sf_dir, "embeddings")
    head_sum = F.aggregate(
        F.slice("embedding", 1, 8),
        F.lit(0).cast("long"),
        lambda acc, x: acc + F.round(x.cast("double") * 1000000).cast("long"),
    ).cast("double") / F.lit(1000000.0)
    return emb.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.round(F.element_at("embedding", 1).cast("double"), 6).alias("first_val"),
        head_sum.alias("head_sum"),
    )


_MAP_FNS_SQL = """
SELECT
  event_id,
  len(json_keys(props)) AS n_keys,
  CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_val,
  CAST(json_extract_string(props, '$.k') AS INTEGER) AS rt_val,
  'k,z' AS all_keys,
  2 AS n_merged
FROM events
"""


@register("event_props_map", oracle=_MAP_FNS_SQL, category="scalar")
def event_props_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-function suite (SURVEY §2.3 scalar row): ``from_json`` to a real
    MapType, then map_keys / element_at / map_entries→map_from_entries
    round-trip / map_concat — all Catalyst map expressions. The oracle pins
    the same facts via DuckDB's JSON functions (DuckDB has no MAP from
    JSON, so the invariants — key set, round-trip value, merged size — are
    asserted as literals)."""
    ev = read_table(spark, sf_dir, "events")
    m = F.from_json("props", "map<string,int>")
    rt = F.map_from_entries(F.map_entries(m))
    merged = F.map_concat(
        m, F.create_map(F.lit("z"), (F.col("event_id") % 7).cast("int"))
    )
    return ev.select(
        "event_id",
        F.size(F.map_keys(m)).alias("n_keys"),
        F.element_at(m, "k").alias("k_val"),
        F.element_at(rt, "k").alias("rt_val"),
        F.concat_ws(",", F.array_sort(F.map_keys(merged))).alias("all_keys"),
        F.size(merged).alias("n_merged"),
    )


@register("partition_size_profile", oracle=None, category="etl")
def partition_size_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition introspection (reference: rdd.glom().map(len) at
    src/preprocessing_pipeline.py:275-277) done DataFrame-native:
    ``spark_partition_id()`` + groupBy — a distributed aggregate instead of
    collecting every partition to the driver. Rows-only: the hash layout is
    engine-internal. The balance property (no empty partitions after a hash
    repartition on a high-cardinality key) is asserted in tests."""
    orders = read_table(spark, sf_dir, "orders").repartition(8, "o_orderkey")
    return (
        orders.groupBy(F.spark_partition_id().alias("partition_id"))
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )


_MATH_FNS_SQL = """
SELECT
  l_orderkey,
  l_linenumber,
  abs(l_discount - 0.05) AS abs_delta,
  CAST(ceil(l_quantity / 7.0) AS BIGINT) AS qty_ceil,
  CAST(floor(l_quantity / 7.0) AS BIGINT) AS qty_floor,
  CAST(l_quantity AS BIGINT) % 5 AS qty_mod,
  round(sqrt(l_extendedprice), 6) AS price_sqrt,
  round(ln(l_extendedprice + 1.0), 6) AS price_ln,
  round(exp(l_discount), 6) AS disc_exp,
  round(pow(1.0 + l_tax, 2), 6) AS tax_sq,
  CAST(sign(l_discount - 0.05) AS DOUBLE) AS disc_sign,
  greatest(l_quantity, 25.0) AS qty_hi,
  least(l_quantity, 25.0) AS qty_lo
FROM lineitem
WHERE l_orderkey < 100
"""


@register("math_functions", oracle=_MATH_FNS_SQL, category="scalar")
def math_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standalone math-function suite (SURVEY §2.3 scalar row): abs / ceil /
    floor / mod / sqrt / ln / exp / pow / sign / greatest / least as pure
    codegen expressions. Transcendentals are rounded to 6 dp — IEEE-754
    doubles make sqrt/ln/exp/pow bit-comparable across engines at that
    precision; trig is deliberately excluded (libm vs StrictMath can differ
    in the last ulp with no decimal-rounding refuge)."""
    li = read_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 100)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.abs(F.col("l_discount") - 0.05).alias("abs_delta"),
        F.ceil(F.col("l_quantity") / 7.0).alias("qty_ceil"),
        F.floor(F.col("l_quantity") / 7.0).alias("qty_floor"),
        (F.col("l_quantity").cast("long") % 5).alias("qty_mod"),
        F.round(F.sqrt("l_extendedprice"), 6).alias("price_sqrt"),
        F.round(F.log(F.col("l_extendedprice") + 1.0), 6).alias("price_ln"),
        F.round(F.exp("l_discount"), 6).alias("disc_exp"),
        F.round(F.pow(F.col("l_tax") + 1.0, 2), 6).alias("tax_sq"),
        F.signum(F.col("l_discount") - 0.05).alias("disc_sign"),
        F.greatest("l_quantity", F.lit(25.0)).alias("qty_hi"),
        F.least("l_quantity", F.lit(25.0)).alias("qty_lo"),
    )


# ---------------------------------------------------------------------------
# Skew handling: explicit salted join
# ---------------------------------------------------------------------------

SKEW_SALT = 8

_SALTED_JOIN_SQL = """
WITH dim AS (
  SELECT user_id, min(ts) AS first_ts FROM events GROUP BY user_id
)
SELECT e.event_type,
       count(*) AS n,
       count(DISTINCT e.user_id) AS n_users,
       CAST(sum(CASE WHEN CAST(e.ts AS DATE) = CAST(d.first_ts AS DATE)
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_first_day
FROM events e JOIN dim d ON e.user_id = d.user_id
GROUP BY e.event_type
"""


@register("salted_skew_join", oracle=_SALTED_JOIN_SQL, category="join")
def salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit skew-salting join: the fact side gets a per-row salt
    (``pmod(xxhash64(event_id), S)``), the dim side is replicated S× with
    every salt value, and the join key becomes (user_id, salt) — each hot
    user's rows spread over S shuffle partitions instead of one.

    Salting never changes the join RESULT (every fact row still meets its
    dim row exactly once), which is why this query carries a full oracle:
    the DuckDB twin is the plain unsalted join. At 100 TB a power-law
    user key puts the head user's entire history in one task; AQE's
    skew-join split (enabled in the session profile) handles the sort-merge
    case automatically, but explicit salting is the form that also works
    where AQE can't re-plan — skewed aggregations and stream-static joins.
    Cost: S× dim replication, the standard trade (dim is per-user rollup
    rows, tiny next to the fact).

    Semantics joined: events against each user's first-event rollup —
    per event_type, how many events land on the user's first active day.
    """
    ev = read_table(spark, sf_dir, "events")
    dim = ev.groupBy("user_id").agg(F.min("ts").alias("first_ts"))
    salted_fact = ev.select(
        "user_id", "event_type", "ts",
        F.pmod(F.xxhash64("event_id"), F.lit(SKEW_SALT)).alias("salt"),
    )
    replicated_dim = dim.select(
        "user_id", "first_ts",
        F.explode(F.sequence(F.lit(0).cast("long"), F.lit(SKEW_SALT - 1).cast("long"))).alias("salt"),
    )
    joined = salted_fact.join(replicated_dim, ["user_id", "salt"])
    return joined.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct("user_id").alias("n_users"),
        F.sum(
            (F.to_date("ts") == F.to_date("first_ts")).cast("long")
        ).alias("n_first_day"),
    )


# ---------------------------------------------------------------------------
# Pivot (dynamic-to-wide reshaping)
# ---------------------------------------------------------------------------

_EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]

_PIVOT_SQL = """
SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
       count(CASE WHEN event_type = 'click' THEN 1 END) AS click,
       count(CASE WHEN event_type = 'view' THEN 1 END) AS view,
       count(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
       count(CASE WHEN event_type = 'signup' THEN 1 END) AS signup,
       count(CASE WHEN event_type = 'error' THEN 1 END) AS error
FROM events
GROUP BY 1
"""


@register("event_type_pivot", oracle=_PIVOT_SQL, category="aggregation")
def event_type_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``pivot`` with an EXPLICIT value list: long→wide reshape of daily
    event counts. The explicit list matters twice at scale — it skips the
    extra distinct-values job Spark otherwise runs to discover columns, and
    it makes the output schema static (a dynamic pivot's schema depends on
    the data, which breaks downstream contracts). Compiles to one
    partial+final hash aggregate, same as the CASE-WHEN formulation."""
    ev = read_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias(
                "day"
            )
        )
        .pivot("event_type", _EVENT_TYPES)
        .count()
        .na.fill(0, _EVENT_TYPES)
    )


_HOF_PRED_SQL = """
SELECT
  vec_id,
  len(list_filter(embedding, x -> x::DOUBLE > 0.1)) > 0 AS has_big,
  len(list_filter(embedding, x -> abs(x::DOUBLE) > 1.0)) = 0 AS all_unit,
  len(list_filter(embedding, x -> x::DOUBLE > 0)) AS n_pos
FROM embeddings
"""


@register("embedding_hof_predicates", oracle=_HOF_PRED_SQL, category="scalar")
def embedding_hof_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Predicate higher-order functions (exists / forall / filter+size) over
    the vector column — pure Catalyst, no UDF; comparisons only, so no
    float-sum ordering hazard."""
    emb = read_table(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id",
        F.exists("embedding", lambda x: x.cast("double") > 0.1).alias(
            "has_big"
        ),
        F.forall("embedding", lambda x: F.abs(x.cast("double")) <= 1.0).alias(
            "all_unit"
        ),
        F.size(
            F.filter("embedding", lambda x: x.cast("double") > 0)
        ).alias("n_pos"),
    )


# ---------------------------------------------------------------------------
# Statistical moments and quantiles (exact, order-independent)
# ---------------------------------------------------------------------------

_MOMENTS_SQL = """
WITH c AS (
  SELECT l_returnflag,
         CAST(round(l_extendedprice * 100) AS HUGEINT) AS px,
         CAST(round(l_quantity * 100) AS HUGEINT) AS qx
  FROM lineitem
), s AS (
  SELECT l_returnflag,
         count(*) AS n,
         sum(px) AS sx, sum(px * px) AS sx2,
         sum(qx) AS sy, sum(qx * qx) AS sy2,
         sum(px * qx) AS sxy
  FROM c GROUP BY l_returnflag
)
SELECT l_returnflag, n,
       round(CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) / 100.0, 6) AS mean_price,
       round((CAST(n AS DOUBLE) * CAST(sx2 AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
             / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)) / 10000.0, 6)
         AS var_price,
       round(sqrt((CAST(n AS DOUBLE) * CAST(sx2 AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                  / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))) / 100.0, 6)
         AS stddev_price,
       round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / (sqrt(CAST(n AS DOUBLE) * CAST(sx2 AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                * sqrt(CAST(n AS DOUBLE) * CAST(sy2 AS DOUBLE)
                       - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
         AS corr_qty_price
FROM s
"""


@register("lineitem_price_moments", oracle=_MOMENTS_SQL, category="aggregation")
def lineitem_price_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample variance / stddev / correlation per returnflag via EXACT
    integer sufficient statistics: Σx, Σx², Σy, Σy², Σxy over int64 cents,
    accumulated in decimal(38,0) (Σx² at 100 TB overflows int64; 38 digits
    does not), with the textbook closed forms applied in double only at the
    end. Built-in stddev/corr aggregate FLOATS in partition order —
    nondeterministic across partitionings and engines; integer sufficient
    statistics are order-independent, map-side combinable, and
    oracle-exact. One shuffle."""
    li = read_table(spark, sf_dir, "lineitem")
    px = cents("l_extendedprice").cast("decimal(38,0)")
    qx = cents("l_quantity").cast("decimal(38,0)")
    s = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(px).alias("sx"),
        F.sum(px * px).alias("sx2"),
        F.sum(qx).alias("sy"),
        F.sum(qx * qx).alias("sy2"),
        F.sum(px * qx).alias("sxy"),
    )
    nd = F.col("n").cast("double")
    sx, sx2 = F.col("sx").cast("double"), F.col("sx2").cast("double")
    sy, sy2 = F.col("sy").cast("double"), F.col("sy2").cast("double")
    sxy = F.col("sxy").cast("double")
    var_cents2 = (nd * sx2 - sx * sx) / (nd * (nd - 1.0))
    return s.select(
        "l_returnflag",
        "n",
        F.round(sx / nd / 100.0, 6).alias("mean_price"),
        F.round(var_cents2 / 10000.0, 6).alias("var_price"),
        F.round(F.sqrt(var_cents2) / 100.0, 6).alias("stddev_price"),
        F.round(
            (nd * sxy - sx * sy)
            / (
                F.sqrt(nd * sx2 - sx * sx)
                * F.sqrt(nd * sy2 - sy * sy)
            ),
            6,
        ).alias("corr_qty_price"),
    )


_QUANTILES_SQL = """
WITH c AS (
  SELECT l_returnflag,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS px
  FROM lineitem
)
SELECT l_returnflag,
       round(quantile_cont(px, 0.25) / 100.0, 6) AS p25,
       round(quantile_cont(px, 0.50) / 100.0, 6) AS p50,
       round(quantile_cont(px, 0.75) / 100.0, 6) AS p75,
       round(quantile_cont(px, 0.95) / 100.0, 6) AS p95
FROM c GROUP BY l_returnflag
"""


@register("lineitem_price_quantiles", oracle=_QUANTILES_SQL, category="aggregation")
def lineitem_price_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles (linear interpolation) of price per returnflag,
    computed on int64 cents so the sort keys are exact integers and the
    interpolated doubles are bit-identical across engines (Spark
    ``percentile`` ≡ DuckDB ``quantile_cont``). Exact percentile is a
    per-group sort — the deliberate contrast to ``approx_distinct_users``'s
    sketch tier; at 100 TB you reach for ``approx_percentile`` and accept
    the error bound, or pre-bucket into a fixed histogram (both built-in).
    One shuffle. Round 16 (optimization, guide §1.2 per-task work): ONE
    ``percentile(px, array(...))`` aggregate instead of four scalar ones —
    the four-buffer form built and merged four identical value-count maps
    per group (4x the per-row aggregate work and 4x the shuffled state);
    the array form computes all four quantiles from one buffer with
    bit-identical interpolation."""
    li = read_table(spark, sf_dir, "lineitem")
    px = cents("l_extendedprice")
    qs = (0.25, 0.50, 0.75, 0.95)
    pct = F.percentile(
        px, F.array(*[F.lit(q) for q in qs])
    ).alias("pcts")
    agg = li.groupBy("l_returnflag").agg(pct)
    return agg.select(
        "l_returnflag",
        *[
            F.round(F.col("pcts")[i] / 100.0, 6).alias(f"p{int(q * 100)}")
            for i, q in enumerate(qs)
        ],
    )


HIST_BIN_CENTS = 500_00  # $500 bins


_HISTOGRAM_SQL = f"""
SELECT l_returnflag,
       CAST(floor(CAST(round(l_extendedprice * 100) AS BIGINT)
                  / {HIST_BIN_CENTS}) AS BIGINT) AS bin,
       count(*) AS n,
       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE)
         / 100.0 AS total_price
FROM lineitem
GROUP BY 1, 2
"""


@register("price_histogram", oracle=_HISTOGRAM_SQL, category="aggregation")
def price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width price histogram per returnflag ($500 bins on int64
    cents): the constant-state alternative to exact percentiles at 100 TB —
    one map-side-combinable aggregate whose state is (flags × bins) cells,
    from which any quantile is reconstructed to bin precision. Exact
    integer binning and summing: oracle matches bit-for-bit. One shuffle."""
    li = read_table(spark, sf_dir, "lineitem")
    px = cents("l_extendedprice")
    return li.groupBy(
        "l_returnflag",
        F.floor(px / HIST_BIN_CENTS).alias("bin"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum(px).cast("double") / 100.0).alias("total_price"),
    )


# ---------------------------------------------------------------------------
# VARIANT semi-structured analytics (Spark 4 VARIANT type)
# ---------------------------------------------------------------------------

_PROPS_VARIANT_SQL = """
SELECT
  event_type,
  count(*) AS n_events,
  CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
  CAST(min(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS min_k,
  CAST(max(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k,
  CAST(count_if(json_extract_string(props, '$.missing') IS NOT NULL) AS BIGINT)
    AS n_with_missing
FROM events
GROUP BY event_type
"""
# json_extract_string (not json_extract): for a key holding an explicit
# JSON null, json_extract returns the JSON value 'null' (IS NOT NULL =
# true) while Spark's variant_get(..., 'string') returns SQL NULL;
# json_extract_string returns SQL NULL for both absent keys and JSON
# nulls, matching the variant path on both counts (ADVICE r5).


@register("event_props_variant", oracle=_PROPS_VARIANT_SQL, category="scalar")
def event_props_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured analytics through Spark 4's VARIANT type:
    ``parse_json`` once into a variant, then typed ``variant_get``
    extraction (present key as int64, absent path as NULL) feeding exact
    integer aggregates. The oracle reaches the same values via DuckDB's
    JSON extraction, so the comparison pins the variant path semantics
    (typed get, missing-path NULL) end to end.

    Scale: VARIANT is the 100 TB answer to repeated JSON-string probing —
    the binary encoding parses once per row at scan time instead of
    re-parsing the string per extraction (event_props_json's
    get_json_object re-parses per call), and shredded variant columns
    admit pushdown. One hash aggregate on event_type.
    """
    ev = read_table(spark, sf_dir, "events")
    k = F.expr("variant_get(parse_json(props), '$.k', 'long')")
    missing = F.expr("variant_get(parse_json(props), '$.missing', 'string')")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(k).cast("long").alias("sum_k"),
        F.min(k).cast("long").alias("min_k"),
        F.max(k).cast("long").alias("max_k"),
        F.count_if(missing.isNotNull()).alias("n_with_missing"),
    )


# ---------------------------------------------------------------------------
# ANSI-safe arithmetic (try_divide / try_cast)
# ---------------------------------------------------------------------------

_SAFE_RATIO_SQL = """
SELECT
  l_orderkey,
  l_linenumber,
  round(CASE WHEN CAST(round(l_discount * 100) AS BIGINT) = 0 THEN NULL
             ELSE CAST(CAST(round(l_extendedprice * 100) AS BIGINT) AS DOUBLE)
                  / CAST(round(l_discount * 100) AS BIGINT)
        END, 6) AS price_per_disc_cent,
  TRY_CAST(l_returnflag AS INTEGER) AS flag_as_int
FROM lineitem
WHERE l_orderkey < 500
"""


@register("ansi_safe_ratios", oracle=_SAFE_RATIO_SQL, category="scalar")
def ansi_safe_ratios(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI-mode-safe arithmetic surface: ``try_divide`` yields NULL on the
    zero-discount rows instead of raising (Spark 4 runs ANSI by default, so
    plain ``/`` on a zero divisor is a query-killing error at scale —
    one poisoned row out of 10^12 must not fail the job), and ``try_cast``
    maps unparseable input to NULL. The oracle expresses the identical
    semantics with portable CASE/TRY_CAST.

    Scale: pure row-local expressions inside whole-stage codegen; the
    orderkey probe filter is pushed to the scan.
    """
    li = read_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 500)
    price_c = cents("l_extendedprice")
    disc_c = cents("l_discount")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(
            F.try_divide(price_c.cast("double"), disc_c), 6
        ).alias("price_per_disc_cent"),
        F.col("l_returnflag").try_cast("integer").alias("flag_as_int"),
    )


# ---------------------------------------------------------------------------
# Approximate percentiles (the 100 TB quantile tier)
# ---------------------------------------------------------------------------

APPROX_PCT_ACCURACY = 10_000  # rank error <= n / accuracy per group


@register("approx_price_quantiles", oracle=None, category="aggregation")
def approx_price_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``approx_percentile`` (Greenwald-Khanna sketch) of price per
    returnflag — the constant-memory quantile tier ``lineitem_price_
    quantiles``' docstring points to for 100 TB, where the exact per-group
    sort is the thing you avoid. Rows-only by contract: the sketch's merge
    is partition-order-sensitive, so values are engine- and plan-specific;
    tests/test_sketches.py bounds the rank error against the exact
    percentiles instead (<= n/accuracy per the GK guarantee).

    Scale: one map-side-combinable aggregate whose state is the O(accuracy)
    sketch per group — no sort, no second pass, same shape as count-min /
    HLL in the sketch pillar. The four quantiles are asked of ONE sketch
    (array-of-percentages form), not four separate single-q aggregates:
    each GK sketch pays the same per-row insertion/compression cost, so
    the scalar form quadruples aggregate state and per-row work for
    byte-identical answers (measured 1.58s -> ~0.6s at sf0.1, r9).
    """
    li = read_table(spark, sf_dir, "lineitem")
    px = cents("l_extendedprice")
    qs = (0.25, 0.50, 0.75, 0.95)
    sketch = li.groupBy("l_returnflag").agg(
        F.percentile_approx(
            px, F.array(*[F.lit(q) for q in qs]), F.lit(APPROX_PCT_ACCURACY)
        ).alias("aps")
    )
    return sketch.select(
        "l_returnflag",
        *[
            (F.col("aps")[i].cast("double") / 100.0).alias(
                f"ap{int(q * 100)}"
            )
            for i, q in enumerate(qs)
        ],
    )


# ---------------------------------------------------------------------------
# Multiplicity-preserving set operations (INTERSECT ALL / EXCEPT ALL)
# ---------------------------------------------------------------------------

# Dialect-shared SQL: identical bag-semantics operators on both engines.
_SET_ALL_SQL = """
WITH small AS (
  SELECT l_returnflag, l_linestatus FROM lineitem WHERE l_quantity < 25
),
large AS (
  SELECT l_returnflag, l_linestatus FROM lineitem WHERE l_quantity > 10
),
ia AS (SELECT * FROM small INTERSECT ALL SELECT * FROM large),
ea AS (SELECT * FROM small EXCEPT ALL SELECT * FROM large)
SELECT 'intersect_all' AS op, l_returnflag, l_linestatus,
       count(*) AS n
FROM ia GROUP BY 2, 3
UNION ALL
SELECT 'except_all' AS op, l_returnflag, l_linestatus,
       count(*) AS n
FROM ea GROUP BY 2, 3
"""


@register("lineitem_set_ops_all", oracle=_SET_ALL_SQL, category="setop")
def lineitem_set_ops_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag-semantics set operations: INTERSECT ALL keeps min(multiplicity)
    of each row across the two sides, EXCEPT ALL subtracts multiplicities —
    the forms the distinct set-op queries (segment_nations_union et al.)
    don't touch, and the ones dedup accounting actually needs (how many
    COPIES survive, not which values).

    Scale: Catalyst plans both as a single aggregate computing per-row
    counts on each side then replicating by the min/difference — one
    shuffle on the row value, no join; the overlapping-filter CTEs share
    the lineitem scan.
    """
    from big_data_medical_analysis_spark.sources.readers import read_table as _rt

    _rt(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(_SET_ALL_SQL)


# ---------------------------------------------------------------------------
# Map higher-order functions (transform_values / map_zip_with / map_filter)
# ---------------------------------------------------------------------------

# The oracle computes the semantically-equal scalars directly — map HOFs
# differ too much across dialects to share text, but their *values* here
# reduce to arithmetic on the extracted k, which both engines agree on.
_MAP_HOF_SQL = """
SELECT event_id,
       CAST(json_extract(props, '$.k') AS BIGINT) * 2 AS doubled_k,
       CAST(json_extract(props, '$.k') AS BIGINT)
         + CAST(length(event_type) AS BIGINT) AS k_plus_typelen,
       CAST(json_extract(props, '$.k') AS BIGINT) >= 50 AS big_entry
FROM events
WHERE event_id < 1000
"""
# big_entry NULL contract: a missing/JSON-null '$.k' yields NULL on BOTH
# sides — the oracle's CAST(NULL AS BIGINT) >= 50 is NULL, and the Spark
# expression below wraps the map_filter size check in F.when(k.isNull(),
# NULL) because map_filter would otherwise silently DROP the entry and
# render false where the oracle renders NULL (ADVICE r5).


@register("props_map_hof_transforms", oracle=_MAP_HOF_SQL, category="scalar")
def props_map_hof_transforms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map higher-order functions: build a real MapType column from the
    props payload, then ``transform_values`` (per-entry rewrite),
    ``map_zip_with`` (two-map merge), and ``map_filter`` (entry predicate)
    — extracting each result back to scalars the oracle reproduces with
    plain arithmetic, so the driver hash checks the HOF semantics without
    a dialect-shared map representation.

    Scale: map HOFs are row-local codegen expressions — zero shuffle; the
    probe filter pushes to the scan.
    """
    ev = read_table(spark, sf_dir, "events").filter(F.col("event_id") < 1000)
    k = F.get_json_object("props", "$.k").cast("long")
    m = F.create_map(F.lit("k"), k)
    m2 = F.create_map(F.lit("k"), F.length("event_type").cast("long"))
    doubled = F.transform_values(m, lambda _, v: v * 2)
    merged = F.map_zip_with(m, m2, lambda _, v1, v2: v1 + v2)
    kept = F.map_filter(m, lambda _, v: v >= 50)
    return ev.select(
        "event_id",
        F.element_at(doubled, "k").alias("doubled_k"),
        F.element_at(merged, "k").alias("k_plus_typelen"),
        F.when(k.isNull(), F.lit(None).cast("boolean"))
        .otherwise(F.size(F.map_keys(kept)) == 1)
        .alias("big_entry"),
    )


# ---------------------------------------------------------------------------
# Grouping indicator functions (grouping / grouping_id over ROLLUP)
# ---------------------------------------------------------------------------

# Dialect-shared: identical indicator semantics on both engines.
_GROUPING_ID_SQL = """
SELECT
  o_orderstatus,
  o_orderpriority,
  CAST(grouping(o_orderstatus) AS INTEGER) AS g_status,
  CAST(grouping(o_orderpriority) AS INTEGER) AS g_priority,
  CAST(grouping_id(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
  count(*) AS n_orders,
  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0
    AS total_price
FROM orders
GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
"""


@register("revenue_rollup_grouping_id", oracle=_GROUPING_ID_SQL, category="aggregation")
def revenue_rollup_grouping_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouping indicator functions over ROLLUP: ``grouping(col)`` tells a
    consumer whether a NULL key cell means "subtotal across this column"
    or a genuine NULL value, and ``grouping_id`` encodes the full subtotal
    level — without them rollup/cube output is ambiguous whenever group
    keys are nullable. Complements revenue_rollup (which pins the
    subtotal VALUES) by pinning the level-indicator surface.

    Scale: the indicators are free metadata of the expand+aggregate plan
    rollup already runs — same single shuffle.
    """
    _ = read_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(_GROUPING_ID_SQL)


# ---------------------------------------------------------------------------
# ntile bucketing (round 6)
# ---------------------------------------------------------------------------

_NTILE_SQL = """
SELECT decile,
       count(*) AS n_customers,
       CAST(min(bal_cents) AS DOUBLE) / 100.0 AS min_balance,
       CAST(max(bal_cents) AS DOUBLE) / 100.0 AS max_balance,
       CAST(sum(bal_cents) AS DOUBLE) / 100.0 AS total_balance
FROM (
  SELECT CAST(ntile(10) OVER (
           ORDER BY CAST(round(c_acctbal * 100) AS BIGINT), c_custkey
         ) AS INTEGER) AS decile,
         CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents
  FROM customer
)
GROUP BY decile
"""


@register("ntile_customer_deciles", oracle=_NTILE_SQL, category="window")
def ntile_customer_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``ntile(10)`` decile bucketing of customers by account balance —
    the equal-count binning surface the distribution windows
    (percent_rank / cume_dist) don't cover. The order key (cents,
    custkey) is unique, and ntile's extra-row placement rule (first
    buckets get the remainder) is identical on both engines, so every
    bucket boundary is deterministic.

    Scale: a GLOBAL ntile is a global sort — one reducer holds the order.
    Fine for dimension-sized inputs (customers here); for fact-scale data
    the 100 TB form is approximate decile BOUNDS from percentile_approx
    (approx_price_quantiles) joined back as range predicates, trading
    exact equal counts for full parallelism. The docstring IS that
    disclosure; this query pins the exact operator.
    """
    cust = read_table(spark, sf_dir, "customer")
    bal = cents("c_acctbal")
    w = W.orderBy(bal.asc(), F.col("c_custkey").asc())
    return (
        cust.select(
            F.ntile(10).over(w).cast("integer").alias("decile"),
            bal.alias("bal_cents"),
        )
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            (F.min("bal_cents").cast("double") / 100.0).alias("min_balance"),
            (F.max("bal_cents").cast("double") / 100.0).alias("max_balance"),
            (F.sum("bal_cents").cast("double") / 100.0).alias("total_balance"),
        )
    )


# ---------------------------------------------------------------------------
# Bitwise aggregates (round 6)
# ---------------------------------------------------------------------------

_BITWISE_SQL = """
SELECT event_type,
       count(*) AS n,
       CAST(bit_and(k) AS BIGINT) AS k_and,
       CAST(bit_or(k) AS BIGINT) AS k_or,
       CAST(bit_xor(k) AS BIGINT) AS k_xor
FROM (
  SELECT event_type, CAST(json_extract(props, '$.k') AS BIGINT) AS k
  FROM events
)
GROUP BY event_type
"""


@register("bitwise_props_flags", oracle=_BITWISE_SQL, category="aggregation")
def bitwise_props_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise aggregate family (bit_and / bit_or / bit_xor) over the
    extracted props payload — the flag-mask reduction surface (feature
    bitmaps, permission masks, bloom-ish membership words) that no other
    aggregate covers. Bitwise ops are exact on int64 by definition, so the
    oracle is bit-for-bit with no rounding convention needed.

    Scale: all three are commutative-associative single-word aggregates —
    perfect map-side partial aggregation, one shuffle of (group, 3 words).
    """
    ev = read_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long").alias("k")
    return (
        ev.select("event_type", k)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("bit_and(k)").alias("k_and"),
            F.expr("bit_or(k)").alias("k_or"),
            F.expr("bit_xor(k)").alias("k_xor"),
        )
    )


# ---------------------------------------------------------------------------
# Exact higher moments: skewness / kurtosis from integer power sums (round 6)
# ---------------------------------------------------------------------------

# Dialect-shared text: the int64 power sums are exact in any order, and the
# double formulas after them are identical op trees on both engines —
# the same determinism recipe as lineitem_price_moments, extended to the
# 3rd/4th moments that Spark's built-in skewness()/kurtosis() compute with
# order-dependent float accumulation (and therefore could never hash-match
# another engine).
_HIGHER_MOMENTS_SQL = """
WITH s AS (
  SELECT l_returnflag,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(q) AS BIGINT) AS s1,
         CAST(sum(q * q) AS BIGINT) AS s2,
         CAST(sum(q * q * q) AS BIGINT) AS s3,
         CAST(sum(q * q * q * q) AS BIGINT) AS s4
  FROM (SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS q FROM lineitem)
  GROUP BY l_returnflag
),
m AS (
  SELECT l_returnflag, n,
         CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mu,
         CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) AS r2,
         CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE) AS r3,
         CAST(s4 AS DOUBLE) / CAST(n AS DOUBLE) AS r4
  FROM s
),
c AS (
  SELECT l_returnflag, n, mu,
         r2 - mu * mu AS m2,
         r3 - 3.0 * mu * r2 + 2.0 * mu * mu * mu AS m3,
         r4 - 4.0 * mu * r3 + 6.0 * mu * mu * r2 - 3.0 * mu * mu * mu * mu
           AS m4
  FROM m
)
SELECT l_returnflag, n,
       round(mu, 6) AS mean_qty,
       round(m2, 6) AS var_pop,
       round(m3 / (sqrt(m2) * m2), 6) AS skewness,
       round(m4 / (m2 * m2) - 3.0, 6) AS excess_kurtosis
FROM c
"""


@register(
    "quantity_higher_moments", oracle=_HIGHER_MOMENTS_SQL, category="aggregation"
)
def quantity_higher_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population skewness and excess kurtosis of quantity per returnflag,
    computed EXACTLY from int64 power sums (Σq, Σq², Σq³, Σq⁴) with the
    double formula applied once per group — deterministic where the
    built-in ``skewness()``/``kurtosis()`` accumulate doubles in partition
    order. Extends lineitem_price_moments to the shape/tail statistics a
    data-quality profiler reports.

    Scale: one map-side-combinable aggregate of four integer words per
    group (q ≤ 50 keeps Σq⁴ within int64 up to ~10¹² rows — quantified
    headroom, not hope); the moment formulas touch K rows.
    """
    from big_data_medical_analysis_spark.sources.readers import read_table as _rt

    _rt(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(_HIGHER_MOMENTS_SQL)


# ---------------------------------------------------------------------------
# Extended date-function suite (round 6)
# ---------------------------------------------------------------------------

_DATE_FNS_SQL = """
WITH o AS (
  SELECT o_orderkey, CAST(o_orderdate AS DATE) AS od
  FROM orders WHERE o_orderkey < 200
)
SELECT o_orderkey,
       strftime(od, '%Y-%m-%d') AS d,
       strftime(od + INTERVAL 3 MONTH, '%Y-%m-%d') AS plus_3m,
       strftime(last_day(od), '%Y-%m-%d') AS month_end,
       CAST(year(od) AS INTEGER) AS y,
       CAST(quarter(od) AS INTEGER) AS q,
       CAST(month(od) AS INTEGER) AS m,
       CAST(day(od) AS INTEGER) AS dom,
       CAST(isodow(od) AS INTEGER) AS iso_dow,
       CAST(weekofyear(od) AS INTEGER) AS iso_week,
       CAST(datediff('day', DATE '2024-01-01', od) AS INTEGER)
         AS days_since_2024,
       strftime(od + 45, '%Y-%m-%d') AS plus_45d
FROM o
"""


@register("date_functions", oracle=_DATE_FNS_SQL, category="scalar")
def date_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standalone date-function suite (the calendar twin of
    math_functions): add_months with month-end clamping, last_day,
    year/quarter/month/day extraction, ISO day-of-week (Spark ``weekday``
    is Monday=0, so +1 matches DuckDB ``isodow``), ISO week number,
    datediff, and day arithmetic — all pure codegen expressions rendered
    to identical strings/integers on both engines. months_between is
    deliberately excluded (its fractional 31-day-month convention is not
    dialect-portable).

    Scale: row-local, pushdown probe filter, zero shuffle."""
    o = read_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 200)
    d = F.col("o_orderdate")
    return o.select(
        "o_orderkey",
        F.date_format(d, "yyyy-MM-dd").alias("d"),
        F.date_format(F.add_months(d, 3), "yyyy-MM-dd").alias("plus_3m"),
        F.date_format(F.last_day(d), "yyyy-MM-dd").alias("month_end"),
        F.year(d).cast("integer").alias("y"),
        F.quarter(d).cast("integer").alias("q"),
        F.month(d).cast("integer").alias("m"),
        F.dayofmonth(d).cast("integer").alias("dom"),
        (F.weekday(d) + 1).cast("integer").alias("iso_dow"),
        F.weekofyear(d).cast("integer").alias("iso_week"),
        F.datediff(d, F.lit("2024-01-01").cast("date"))
        .cast("integer")
        .alias("days_since_2024"),
        F.date_format(F.date_add(d, 45), "yyyy-MM-dd").alias("plus_45d"),
    )


# ---------------------------------------------------------------------------
# Extended string-function suite (round 6)
# ---------------------------------------------------------------------------

_STRING_EXT_SQL = """
SELECT p_partkey,
       translate(p_name, 'aeiou', '01234') AS name_translated,
       lpad(p_brand, 12, '*') AS brand_lpad,
       rpad(p_brand, 12, '*') AS brand_rpad,
       CAST(instr(p_name, 'o') AS BIGINT) AS first_o,
       repeat(p_brand, 2) AS brand_twice,
       reverse(p_type) AS type_reversed,
       left(p_name, 8) AS name_left8,
       right(p_name, 5) AS name_right5,
       CAST(levenshtein(p_brand, p_type) AS INTEGER) AS brand_type_lev
FROM part
WHERE p_partkey < 200
"""


@register("string_functions_extended", oracle=_STRING_EXT_SQL, category="scalar")
def string_functions_extended(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extended string-function suite beyond part_string_functions:
    translate / lpad / rpad / instr / repeat / reverse / left / right /
    levenshtein as pure codegen expressions — every one value-identical
    across engines on this ASCII corpus (initcap and overlay are excluded:
    DuckDB lacks them). levenshtein-as-scalar complements the probe-bounded
    edit_distance_pairs verify tier.

    Scale: row-local, pushdown probe filter, zero shuffle."""
    p = read_table(spark, sf_dir, "part").filter(F.col("p_partkey") < 200)
    return p.select(
        "p_partkey",
        F.translate("p_name", "aeiou", "01234").alias("name_translated"),
        F.lpad("p_brand", 12, "*").alias("brand_lpad"),
        F.rpad("p_brand", 12, "*").alias("brand_rpad"),
        F.instr("p_name", "o").cast("long").alias("first_o"),
        F.repeat("p_brand", 2).alias("brand_twice"),
        F.reverse("p_type").alias("type_reversed"),
        F.substring("p_name", 1, 8).alias("name_left8"),
        F.expr("right(p_name, 5)").alias("name_right5"),
        F.levenshtein("p_brand", "p_type").cast("integer").alias(
            "brand_type_lev"
        ),
    )


# ---------------------------------------------------------------------------
# Broadcast range-dimension lookup (round 6)
# ---------------------------------------------------------------------------

# Bracket boundaries in cents: [lo, hi) half-open, covering all balances.
_BRACKETS = [
    ("negative", -10_000_000, 0),
    ("low", 0, 250_000),
    ("mid", 250_000, 500_000),
    ("high", 500_000, 750_000),
    ("top", 750_000, 10_000_000),
]

_BRACKET_VALUES = ", ".join(
    f"('{n}', CAST({lo} AS BIGINT), CAST({hi} AS BIGINT))"
    for n, lo, hi in _BRACKETS
)

_BRACKET_SQL = f"""
WITH brackets(bracket, lo, hi) AS (VALUES {_BRACKET_VALUES}),
c AS (
  SELECT CAST(round(c_acctbal * 100) AS BIGINT) AS bal FROM customer
)
SELECT b.bracket,
       count(*) AS n_customers,
       CAST(sum(c.bal) AS DOUBLE) / 100.0 AS total_balance
FROM c JOIN brackets b ON c.bal >= b.lo AND c.bal < b.hi
GROUP BY b.bracket
"""


@register("balance_bracket_lookup", oracle=_BRACKET_SQL, category="join")
def balance_bracket_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast range-DIMENSION lookup — the IP→geo / tax-bracket /
    rate-card join shape: each fact value finds its [lo, hi) interval in a
    small bracket table via a non-equi BETWEEN join. Distinct from the
    fact×fact range join (event_pairs_range_join): one side is a bounded
    dimension, so the correct plan is a broadcast nested-loop whose inner
    side is K rows — effectively a map-side lookup, never a shuffle.
    Half-open intervals make every value match exactly one bracket.

    Scale: with K brackets the per-row cost is a K-probe (or a sorted
    binary search compiled from a CASE ladder when K grows); the fact side
    streams through untouched. One aggregate shuffle on the bracket key.
    """
    cust = read_table(spark, sf_dir, "customer")
    brackets = spark.createDataFrame(
        _BRACKETS, "bracket string, lo long, hi long"
    )
    c = cust.select(cents("c_acctbal").alias("bal"))
    return (
        c.join(
            F.broadcast(brackets),
            (F.col("bal") >= F.col("lo")) & (F.col("bal") < F.col("hi")),
        )
        .groupBy("bracket")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            (F.sum("bal").cast("double") / 100.0).alias("total_balance"),
        )
    )


# ---------------------------------------------------------------------------
# Ratio-to-report windows (round 6)
# ---------------------------------------------------------------------------

_RATIO_SQL = """
WITH n AS (
  SELECT n.n_name,
         CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS rev_cents
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  GROUP BY n.n_name
)
SELECT n_name,
       CAST(rev_cents AS DOUBLE) / 100.0 AS revenue,
       round(CAST(rev_cents AS DOUBLE)
             / CAST(sum(rev_cents) OVER () AS DOUBLE), 6) AS share_of_total,
       round(CAST(rev_cents AS DOUBLE)
             / CAST(max(rev_cents) OVER () AS DOUBLE), 6) AS vs_top
FROM n
"""


@register("nation_revenue_share", oracle=_RATIO_SQL, category="window")
def nation_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ratio-to-report windows: each nation's share of GLOBAL revenue and
    its ratio to the top nation — the unpartitioned-window-over-aggregates
    reporting idiom (`sum(x) OVER ()`), which no frame/ranking query
    exercises. The window runs over the ALREADY-AGGREGATED per-nation
    frame (25 rows), so the "global window on one partition" hazard is
    moot: the heavy table shuffles once for the group-by, and the window
    sees K rows.

    Exact int64 cents feed both divisions; each output is one IEEE divide
    + round on identical inputs — hash-stable across engines.
    """
    o = read_table(spark, sf_dir, "orders")
    c = read_table(spark, sf_dir, "customer")
    n = read_table(spark, sf_dir, "nation")
    per_nation = (
        o.join(F.broadcast(c.select("c_custkey", "c_nationkey")),
               o.o_custkey == F.col("c_custkey"))
        .join(F.broadcast(n.select("n_nationkey", "n_name")),
              F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(F.sum(cents("o_totalprice")).alias("rev_cents"))
    )
    w = W.partitionBy()
    return per_nation.select(
        "n_name",
        (F.col("rev_cents").cast("double") / 100.0).alias("revenue"),
        F.round(
            F.col("rev_cents").cast("double")
            / F.sum("rev_cents").over(w).cast("double"),
            6,
        ).alias("share_of_total"),
        F.round(
            F.col("rev_cents").cast("double")
            / F.max("rev_cents").over(w).cast("double"),
            6,
        ).alias("vs_top"),
    )


# ---------------------------------------------------------------------------
# Join-strategy hints (round 7)
# ---------------------------------------------------------------------------

# The oracle is the SAME query with no hints — hints must never change
# values, only the physical strategy (pinned in tests/test_plans.py).
_HINT_ORACLE_SQL = """
SELECT n.n_name,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS DOUBLE)
         / 100.0 AS revenue
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY n.n_name
"""

_HINT_SPARK_SQL = _HINT_ORACLE_SQL.replace(
    "SELECT n.n_name",
    "SELECT /*+ SHUFFLE_MERGE(o), BROADCAST(n) */ n.n_name",
)


@register("join_hint_strategies", oracle=_HINT_ORACLE_SQL, category="join")
def join_hint_strategies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-strategy HINT surface: ``/*+ SHUFFLE_MERGE(o), BROADCAST(n) */``
    forces the orders⋈customer join to sort-merge (even where size
    heuristics would broadcast the dim side) and the nation join to
    broadcast. Hints are the escape hatch when the optimizer's size
    estimates are wrong at scale — e.g. a "small" side that explodes after
    a filter is removed, or a broadcast OOM on a 1000-executor cluster —
    so the engine must honor them over its own heuristics, and they must
    be plan-only: the oracle runs the identical query WITHOUT hints and
    the values hash-match.

    Scale: this query's pinned plan (SMJ on the fact join + broadcast dim)
    is exactly the 100 TB-safe shape when the build side outgrows
    broadcast thresholds.
    """
    for t in ("orders", "customer", "nation"):
        read_table(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_HINT_SPARK_SQL)


# ---------------------------------------------------------------------------
# Time-hierarchy ROLLUP (round 7)
# ---------------------------------------------------------------------------

# Dialect-shared: year/quarter/month extraction, ROLLUP, grouping() bits,
# and exact-cents money sums are identical on both engines.
_TIME_ROLLUP_SQL = """
WITH o AS (
  SELECT CAST(year(o_orderdate) AS INTEGER) AS y,
         CAST(quarter(o_orderdate) AS INTEGER) AS q,
         CAST(month(o_orderdate) AS INTEGER) AS m,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
)
SELECT y, q, m,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(cents) AS DOUBLE) / 100.0 AS revenue,
       CAST(grouping(y) * 4 + grouping(q) * 2 + grouping(m) AS INTEGER)
         AS gid
FROM o GROUP BY ROLLUP(y, q, m)
"""


@register("time_hierarchy_rollup", oracle=_TIME_ROLLUP_SQL, category="aggregation")
def time_hierarchy_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-hierarchy ROLLUP — year → quarter → month subtotals plus
    the grand total in one pass, with a grouping-bit id distinguishing
    "January" from "whole year" rows: the time-dimension drill-down every
    reporting layer ships, complementing the geo rollup (revenue_rollup)
    and the raw grouping-id pin (revenue_rollup_grouping_id).

    Scale: Spark expands rollup into a single exchange with partial
    aggregation per grouping set — one shuffle regardless of hierarchy
    depth; output is bounded by the calendar, not the data.
    """
    read_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(_TIME_ROLLUP_SQL)


# ---------------------------------------------------------------------------
# Volume-shipping star join (TPC-H Q7 shape) — round 7
# ---------------------------------------------------------------------------

_TRADE_VOLUME_SQL = """
SELECT sn.n_name AS supp_nation,
       cn.n_name AS cust_nation,
       CAST(strftime(l.l_shipdate, '%Y') AS INTEGER) AS l_year,
       CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 10000)
                     AS BIGINT)) AS DOUBLE) / 10000.0 AS revenue
FROM lineitem l
JOIN orders o   ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation cn  ON c.c_nationkey = cn.n_nationkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation sn  ON s.s_nationkey = sn.n_nationkey
WHERE sn.n_name <> cn.n_name
GROUP BY 1, 2, 3
"""


@register("nation_trade_volume", oracle=_TRADE_VOLUME_SQL, category="join")
def nation_trade_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-border trade volume (the TPC-H Q7 star shape): revenue between
    every (supplier nation, customer nation) pair per ship year, excluding
    domestic flows — the 6-table join exercising both broadcast and
    shuffle sides at once, the canonical star-schema stress query this
    suite was missing (Q1/Q3/Q5/Q10 analogs exist: pricing_summary,
    top_orders_by_segment, regional_revenue, nation_order_cohorts).

    Scale plan: nation (25 rows) and supplier (fact/10000) broadcast onto
    the lineitem scan — no fact shuffle for the supplier axis; the
    customer axis necessarily shuffles twice (lineitem⋈orders on orderkey,
    then ⋈customer on custkey — customer is NOT broadcastable at 100 TB,
    so those exchanges are the honest cost; bucketing orders+lineitem on
    orderkey removes the first). Aggregation state is bounded by
    nations² × years. Revenue in exact 10⁻⁴ units.
    """
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_suppkey",
        F.year("l_shipdate").alias("l_year"),
        cents(F.col("l_extendedprice") * (1 - F.col("l_discount")), 10000).alias(
            "rev_e4"
        ),
    )
    orders = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = read_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supp = read_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nat = read_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    sn = nat.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    cn = nat.select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    return (
        li.join(F.broadcast(supp), li["l_suppkey"] == supp["s_suppkey"])
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("s_nk"))
        .join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("c_nk"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg((F.sum("rev_e4").cast("double") / 10000.0).alias("revenue"))
    )


# ---------------------------------------------------------------------------
# Collation-aware string semantics (Spark 4 collations) — round 7
# ---------------------------------------------------------------------------

_COLLATION_SQL = """
WITH mixed AS (
  SELECT CASE WHEN c_custkey % 2 = 1 THEN lower(c_mktsegment)
              ELSE c_mktsegment END AS seg
  FROM customer
)
SELECT CAST(count(DISTINCT seg) AS BIGINT) AS n_distinct_binary,
       CAST(count(DISTINCT lower(seg)) AS BIGINT) AS n_distinct_lcase,
       CAST(count(*) AS BIGINT) AS n_rows
FROM mixed
"""


@register("collation_aware_distinct", oracle=_COLLATION_SQL, category="relational")
def collation_aware_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 collation surface: the same distinct-count under
    UTF8_BINARY vs UTF8_LCASE collation, on a deliberately mixed-case
    column (odd customer keys lower-cased — the segment domain is already
    uppercase, so upper() would be a no-op) — binary sees 2× the segments,
    the case-insensitive collation collapses them. ``F.collate(col,
    'UTF8_LCASE')`` changes COMPARISON semantics for distinct/group/join
    without rewriting values — the engine-level answer to the
    lower()-everywhere idiom (and unlike lower(), collation-aware
    equality survives into join keys and set ops with the optimizer fully
    aware). The oracle spells the portable equivalent (DuckDB has no
    UTF8_LCASE; lower() is the cross-engine twin for this ASCII domain —
    for full-ICU domains the two genuinely diverge, which is the point of
    engine collations).

    Scale: two distinct aggregates over one scan, map-side combinable —
    collation changes the hash/compare, not the plan shape.
    """
    cust = read_table(spark, sf_dir, "customer")
    mixed = cust.select(
        F.when(
            F.col("c_custkey") % 2 == 1, F.lower("c_mktsegment")
        )
        .otherwise(F.col("c_mktsegment"))
        .alias("seg")
    )
    return mixed.agg(
        F.count_distinct(F.col("seg")).alias("n_distinct_binary"),
        F.count_distinct(F.collate(F.col("seg"), "UTF8_LCASE")).alias(
            "n_distinct_lcase"
        ),
        F.count(F.lit(1)).alias("n_rows"),
    )


# ---------------------------------------------------------------------------
# Skyline (Pareto frontier) — round 10
# ---------------------------------------------------------------------------

_SKYLINE_SQL = """
WITH pts AS (
  SELECT CAST(round(p_retailprice * 100) AS BIGINT) AS price_c, p_size,
         CAST(count(*) AS BIGINT) AS n_parts
  FROM part GROUP BY 1, 2
)
SELECT CAST(p.price_c AS DOUBLE) / 100.0 AS price, p.p_size, p.n_parts
FROM pts p
WHERE NOT EXISTS (
  SELECT 1 FROM pts q
  WHERE q.price_c <= p.price_c AND q.p_size >= p.p_size
    AND (q.price_c < p.price_c OR q.p_size > p.p_size))
"""


@register("pareto_frontier_parts", oracle=_SKYLINE_SQL, category="relational")
def pareto_frontier_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline / Pareto frontier over parts: the (min price, max size)
    points no other part strictly dominates — the multi-objective
    shortlist query ("cheapest part at every size class worth having")
    that a plain ORDER BY cannot express. The oracle states dominance
    literally as NOT EXISTS over an inequality self-join; the Spark plan
    NEVER does that quadratic join — for a 2-D skyline, dominance
    collapses to an ordered prefix scan:

    1. aggregate to distinct (price, size) points (map-side combine);
    2. per price level keep the best (max) size;
    3. a point is on the frontier iff its size equals its price level's
       best AND strictly exceeds the best size of every strictly
       cheaper price level — one running-max window over the price axis
       with a ROWS frame ending 1 before current.

    Equal (price, size) duplicates share one point (dominance requires
    one strict inequality), carried through as n_parts.

    Scale: the candidate set after step 1 is bounded by the price-axis
    cardinality (1000 levels at sf0.01 from 2000 parts; price domains
    are fixed-width decimals, so this stays bounded as rows grow), so
    the one unpartitioned ordered window is axis-sized by construction
    — the same disclosed-window envelope as the life-table queries. If
    the distinct-point set were itself fact-scale, the standard
    range-partition refinement applies: per-partition skyline first
    (the frontier is monotone, so partial skylines union losslessly),
    then this exact pass over the tiny union. Output is the frontier:
    4 points at sf0.01, ~dozens at any scale.
    """
    part = read_table(spark, sf_dir, "part")
    pts = part.groupBy(
        cents("p_retailprice").alias("price_c"), "p_size"
    ).agg(F.count(F.lit(1)).cast("long").alias("n_parts"))
    level = pts.groupBy("price_c").agg(F.max("p_size").alias("best_size"))
    prefix = W.orderBy("price_c").rowsBetween(W.unboundedPreceding, -1)
    frontier_levels = level.withColumn(
        "prefix_best", F.max("best_size").over(prefix)
    )
    return (
        pts.join(F.broadcast(frontier_levels), "price_c")
        .filter(
            (F.col("p_size") == F.col("best_size"))
            & (
                F.col("prefix_best").isNull()
                | (F.col("p_size") > F.col("prefix_best"))
            )
        )
        .select(
            (F.col("price_c").cast("double") / 100.0).alias("price"),
            "p_size",
            "n_parts",
        )
    )


# ---------------------------------------------------------------------------
# Point-in-time join against SCD2 validity intervals — round 10
# ---------------------------------------------------------------------------

_SCD2_PIT_SQL = """
WITH log AS (
  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS es, event_id,
         event_type AS status
  FROM events WHERE event_type <> 'purchase'
),
ordered AS (
  SELECT *, lag(status) OVER (PARTITION BY user_id ORDER BY es, event_id)
           AS prev_status
  FROM log
),
versions AS (
  SELECT user_id, es AS eff_from, event_id, status FROM ordered
  WHERE prev_status IS NULL OR status <> prev_status
),
iv AS (
  SELECT user_id, status, eff_from,
         lead(eff_from) OVER (PARTITION BY user_id
                              ORDER BY eff_from, event_id) AS eff_to
  FROM versions
),
fact AS (
  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS es, event_id,
         CAST(round(value * 100) AS BIGINT) AS v_c
  FROM events WHERE event_type = 'purchase'
)
SELECT coalesce(iv.status, '<pre-history>') AS status_at_purchase,
       CAST(count(*) AS BIGINT) AS n_purchases,
       CAST(sum(fact.v_c) AS DOUBLE) / 100.0 AS revenue
FROM fact
LEFT JOIN iv ON iv.user_id = fact.user_id
            AND iv.eff_from <= fact.es
            AND (iv.eff_to IS NULL OR fact.es < iv.eff_to)
GROUP BY 1
"""


@register("scd2_point_in_time_join", oracle=_SCD2_PIT_SQL, category="join")
def scd2_point_in_time_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (PIT) join against SCD2 validity intervals — the
    consumption side of ``scd2_dimension_build``: every purchase fact is
    credited to the dimension version that was CURRENT at the fact's
    timestamp (status from the user's collapsed non-purchase change
    log), the join every ML feature store and restated-history report
    needs to avoid leakage from future attribute values. Facts before a
    user's first version surface as ``<pre-history>`` (left-join
    semantics, nothing dropped — the pytest pins the purchase
    partition).

    The oracle states the textbook interval join literally
    (``eff_from <= t < eff_to``); the Spark plan never runs that range
    join — PIT against non-overlapping validity intervals IS an as-of
    backward join, so it reuses the ``purchase_asof_signup`` shape:
    union version-change rows (side 0) with facts (side 1), one
    (user, es, side, event_id) sort, carry the latest status with
    ``last(ignorenulls=True)``. Same-instant edges agree with interval
    semantics by construction: a version effective AT the fact's
    timestamp applies (side order), and of two versions opened in the
    same second the later change wins (the earlier one's interval is
    empty).

    Scale: one shuffle on the dimension key + a linear window pass +
    5-group combine — no range-join quadratic residual, no broadcast
    requirement on the dimension (at 100 TB the versions table is fact-
    scale history; this plan only ever sorts it WITH the facts). The
    streaming twin is the same union through
    ``applyInPandasWithState``.
    """
    ev = read_table(spark, sf_dir, "events")
    return (
        scd2_pit_enriched(ev)
        .groupBy(
            F.coalesce("status_at", F.lit("<pre-history>")).alias(
                "status_at_purchase"
            )
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_purchases"),
            (F.sum("v_c").cast("double") / 100.0).alias("revenue"),
        )
    )


def scd2_pit_enriched(ev: DataFrame) -> DataFrame:
    """Per-purchase PIT enrichment rows (event_id, user_id, es,
    status_at, v_c) — the union + last-ignorenulls as-of body of
    ``scd2_point_in_time_join``, factored out so the streaming stateful
    twin (``streaming.windows.pit_enrich_stream``) can be equality-
    tested against it row for row. ``status_at`` is NULL for purchases
    before the user's first status change."""
    from big_data_medical_analysis_spark.operators.etl import (
        scd2_collapse,
        scd2_event_log,
    )

    versions = scd2_collapse(
        scd2_event_log(ev.filter(F.col("event_type") != "purchase"))
    ).select(
        "user_id", "es", "event_id", F.col("status").alias("v_status"),
        F.lit(0).alias("side"), F.lit(None).cast("long").alias("v_c"),
    )
    facts = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.floor(F.unix_timestamp("ts")).cast("long").alias("es"),
        "event_id",
        F.lit(None).cast("string").alias("v_status"),
        F.lit(1).alias("side"),
        cents("value").alias("v_c"),
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("es", "side", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        versions.unionByName(facts)
        .withColumn(
            "status_at", F.last("v_status", ignorenulls=True).over(w)
        )
        .filter(F.col("side") == 1)
        .select("event_id", "user_id", "es", "status_at", "v_c")
    )


# ---------------------------------------------------------------------------
# Spatial grid radius self-join — round 10
# ---------------------------------------------------------------------------

_GRID_RADIUS_SQL = """
WITH pts AS (
  SELECT p_partkey AS id,
         CAST(concat('0x', substr(md5(concat(CAST(p_partkey AS STRING),
                                             ':x')), 1, 8)) AS BIGINT)
           % 100000 AS x,
         CAST(concat('0x', substr(md5(concat(CAST(p_partkey AS STRING),
                                             ':y')), 1, 8)) AS BIGINT)
           % 100000 AS y
  FROM part
),
cand AS (
  SELECT a.id AS id_a, b.id AS id_b,
         (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) AS d2
  FROM pts a JOIN pts b
  ON a.id < b.id
  AND abs(CAST(floor(a.x / 5000.0) AS BIGINT)
          - CAST(floor(b.x / 5000.0) AS BIGINT)) <= 1
  AND abs(CAST(floor(a.y / 5000.0) AS BIGINT)
          - CAST(floor(b.y / 5000.0) AS BIGINT)) <= 1
)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM pts) AS n_points,
       CAST(count(*) AS BIGINT) AS n_candidates,
       CAST(count(*) FILTER (WHERE d2 <= 25000000) AS BIGINT) AS n_pairs,
       round(CAST(sum(CASE WHEN d2 <= 25000000 THEN
                CAST(round(sqrt(CAST(d2 AS DOUBLE)) * 100) AS BIGINT)
              ELSE 0 END) AS DOUBLE)
             / (100.0 * count(*) FILTER (WHERE d2 <= 25000000)), 2)
         AS avg_dist_m
FROM cand
"""


@register("grid_radius_join", oracle=_GRID_RADIUS_SQL, category="join")
def grid_radius_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial radius self-join via grid bucketing — the geo pattern
    class (find all point pairs within 5 km): points get deterministic
    integer-meter coordinates in a 100 km square (portable md5, so both
    engines place every point identically), each point lands in one
    radius-sized grid cell, and ONLY the 3x3 neighbor-cell candidates
    are distance-tested — 41,583 candidates instead of the 2M all-pairs
    at sf0.01 (48x pruning, both numbers emitted so the pruning is
    audited, the ``prefix_filter_jaccard_join`` discipline). The grid
    guarantee is exact, not approximate: any pair within radius r has
    cell distance <= 1 when cells are r-sized, so no true pair can be
    pruned (pytest re-proves against brute force).

    Distances are exact int64 squared-meters; the only float is one
    correctly-rounded sqrt per surviving pair, quantized to cm BEFORE
    the sum (order-independent exact total — the logrank discipline).

    The Spark plan writes the neighbor condition as a 9-offset explode +
    cell EQUI-join (a shuffle join on the cell key), not the oracle's
    |Δcell| <= 1 inequality — same semantics (a cell's 3x3 neighborhood
    IS the offset set; cells are unique per point, so no pair matches
    twice), but equi-join keys are what scales: candidates
    co-locate by cell, no BNL/range-join residual, and one conditional
    aggregation pass computes candidate count, pair count, and the
    exact distance sum together.

    Scale: this is how a 100 TB geo join runs — cell key shuffle with
    ~uniform occupancy (density skew → smaller cells + AQE skew
    handling; the 9x fan-out stays constant), candidates Σ 9·|cell|²
    never n². Cell size = radius is the standard choice; halving cells
    quarters candidate density at 25 offsets.
    """
    from big_data_medical_analysis_spark.operators.common import (
        checkpoint_pinned,
    )

    part = read_table(spark, sf_dir, "part")

    def coord(tag: str):
        return md5_int(F.concat(F.col("p_partkey").cast("string"), F.lit(tag))) % 100000

    pts = checkpoint_pinned(
        part.select(
            F.col("p_partkey").alias("id"),
            coord(":x").alias("x"),
            coord(":y").alias("y"),
        )
    )
    cell = lambda c: F.floor(F.col(c) / 5000.0).cast("long")  # noqa: E731
    offs = F.expr(
        "explode(array("
        + ", ".join(
            f"struct({dx} AS dx, {dy} AS dy)"
            for dx in (-1, 0, 1)
            for dy in (-1, 0, 1)
        )
        + "))"
    )
    # Round 16: both sides are explicitly repartitioned on their cell
    # keys with the session's parallelism — the join's shuffle is a few
    # MB, so AQE's byte-based coalescing folded it to 8 tasks while the
    # work (millions of generated candidate distance tests) happens
    # INSIDE the join stage, invisible to the advisory size. The pinned
    # user count survives AQE (fan_out contract) and the join reuses
    # both sides' partitioning, so the stage count is unchanged — only
    # the candidate compute spreads across the cores.
    n_par = spark.sparkContext.defaultParallelism
    a = pts.select(
        F.col("id").alias("id_a"),
        F.col("x").alias("xa"),
        F.col("y").alias("ya"),
        offs.alias("o"),
    ).select(
        "id_a",
        "xa",
        "ya",
        (F.floor(F.col("xa") / 5000.0).cast("long") + F.col("o.dx")).alias(
            "ncx"
        ),
        (F.floor(F.col("ya") / 5000.0).cast("long") + F.col("o.dy")).alias(
            "ncy"
        ),
    ).repartition(n_par, "ncx", "ncy")
    b = pts.select(
        F.col("id").alias("id_b"),
        F.col("x").alias("xb"),
        F.col("y").alias("yb"),
        cell("x").alias("cbx"),
        cell("y").alias("cby"),
    ).repartition(n_par, "cbx", "cby")
    d2 = (F.col("xa") - F.col("xb")) * (F.col("xa") - F.col("xb")) + (
        F.col("ya") - F.col("yb")
    ) * (F.col("ya") - F.col("yb"))
    cand = a.join(
        b,
        (F.col("ncx") == F.col("cbx"))
        & (F.col("ncy") == F.col("cby"))
        & (F.col("id_a") < F.col("id_b")),
    ).select(d2.alias("d2"))
    hit = F.col("d2") <= 25000000
    n_pts = F.broadcast(pts.agg(F.count(F.lit(1)).cast("long").alias("n_points")))
    return (
        cand.agg(
            F.count(F.lit(1)).cast("long").alias("n_candidates"),
            F.sum(F.when(hit, 1).otherwise(0)).cast("long").alias("n_pairs"),
            F.sum(
                F.when(
                    hit,
                    F.round(F.sqrt(F.col("d2").cast("double")) * 100).cast(
                        "long"
                    ),
                ).otherwise(0)
            ).alias("sum_cm"),
        )
        .crossJoin(n_pts)
        .select(
            "n_points",
            "n_candidates",
            "n_pairs",
            F.round(
                F.col("sum_cm").cast("double") / (100.0 * F.col("n_pairs")), 2
            ).alias("avg_dist_m"),
        )
    )

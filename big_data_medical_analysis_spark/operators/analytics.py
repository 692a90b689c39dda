"""Behavioral / time-series analytics operators.

The reference's analytical repertoire stops at label distributions
(``utils/preprocessing_testing_utils.py:55-58``) — a user replacing it with
this engine immediately asks product-analytics questions of the ``events``
stream (funnels, retention, densified time series) and pivot-shaped
questions of the star schema. Everything here is pure Catalyst surface —
joins, windows, conditional aggregation, ``unpivot`` — no UDFs, so the
plans stay inside whole-stage codegen and scale by partitioning on the
entity key (user_id / segment).

All money/value math uses the exact integer-scaling convention
(operators/common.py), so every oracle hash is order-independent and
cross-engine stable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from big_data_medical_analysis_spark.operators.common import (
    cents,
    checkpoint_pinned,
    date_str,
    explode_nonnull_pinned,
    md5_int,
    money_sum,
    ts_str,
)
from big_data_medical_analysis_spark.registry import register
from big_data_medical_analysis_spark.sources.readers import read_table

# ---------------------------------------------------------------------------
# Ordered funnel over the events stream
# ---------------------------------------------------------------------------

_FUNNEL_SQL = """
WITH s1 AS (
  SELECT user_id, min(ts) AS t_signup
  FROM events WHERE event_type = 'signup' GROUP BY user_id
),
s2 AS (
  SELECT e.user_id, s1.t_signup, min(e.ts) AS t_view
  FROM events e JOIN s1 ON e.user_id = s1.user_id
  WHERE e.event_type = 'view' AND e.ts > s1.t_signup
  GROUP BY e.user_id, s1.t_signup
),
s3 AS (
  SELECT e.user_id, s2.t_view, min(e.ts) AS t_purchase
  FROM events e JOIN s2 ON e.user_id = s2.user_id
  WHERE e.event_type = 'purchase' AND e.ts > s2.t_view
  GROUP BY e.user_id, s2.t_view
)
SELECT
  (SELECT count(*) FROM s1) AS n_signup,
  (SELECT count(*) FROM s2) AS n_viewed_after,
  (SELECT count(*) FROM s3) AS n_purchased_after,
  (SELECT CAST(sum(epoch_us(t_purchase) - epoch_us(t_view)) AS BIGINT) FROM s3)
    AS total_view_to_purchase_us
"""


@register("event_funnel", oracle=_FUNNEL_SQL, category="analytics")
def event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered three-stage funnel: signup → first view strictly after it →
    first purchase strictly after that view, with the summed view→purchase
    latency in exact integer microseconds.

    Scale: each stage is a per-user aggregate followed by an equi-join on
    user_id — the event bodies never leave their user partition, and with
    all three stages co-partitioned on user_id the whole funnel is one
    shuffle of the events table plus per-key joins of one-row-per-user
    frames. No window over the full event list, no collect. The s1/s2
    stage frames are localCheckpointed (r9): each is consumed twice
    (next stage's join + its own funnel count) and the executed plan
    re-ran the upstream stage chain per consumer — SIX event scans where
    the three per-stage pushdown-pruned reads are the honest cost. The
    stage frames are one-row-per-user aggregates, the cheapest possible
    thing to materialize.

    int64 bound (overflow-audit, r12): the summed latency is ~1e11 µs
    per conversion for day-scale gaps, so the global int64 sum is safe
    through ~9e7 conversions; beyond that, widen the sum to
    decimal(38,0) (the `_unigram_nll` recipe) or report per-cohort sums.
    """
    ev = read_table(spark, sf_dir, "events")
    s1 = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_signup"))
        .transform(checkpoint_pinned)
    )
    s2 = (
        ev.filter(F.col("event_type") == "view")
        .join(s1, "user_id")
        .filter(F.col("ts") > F.col("t_signup"))
        .groupBy("user_id", "t_signup")
        .agg(F.min("ts").alias("t_view"))
        .transform(checkpoint_pinned)
    )
    s3 = (
        ev.filter(F.col("event_type") == "purchase")
        .join(s2.select("user_id", "t_view"), "user_id")
        .filter(F.col("ts") > F.col("t_view"))
        .groupBy("user_id", "t_view")
        .agg(F.min("ts").alias("t_purchase"))
    )
    return (
        s1.agg(F.count(F.lit(1)).alias("n_signup"))
        .crossJoin(s2.agg(F.count(F.lit(1)).alias("n_viewed_after")))
        .crossJoin(
            s3.agg(
                F.count(F.lit(1)).alias("n_purchased_after"),
                F.sum(F.unix_micros("t_purchase") - F.unix_micros("t_view"))
                .cast("long")
                .alias("total_view_to_purchase_us"),
            )
        )
    )


# ---------------------------------------------------------------------------
# Weekly retention cohorts
# ---------------------------------------------------------------------------

_RETENTION_SQL = """
WITH cohort AS (
  SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
  FROM events GROUP BY user_id
),
active AS (
  SELECT DISTINCT user_id, date_trunc('week', ts) AS active_week
  FROM events
)
SELECT
  strftime(c.cohort_week, '%Y-%m-%d') AS cohort_week,
  CAST(date_diff('day', c.cohort_week, a.active_week) / 7 AS INTEGER)
    AS week_offset,
  count(*) AS n_active
FROM cohort c JOIN active a ON c.user_id = a.user_id
GROUP BY 1, 2
"""


@register("user_retention_cohorts", oracle=_RETENTION_SQL, category="analytics")
def user_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic retention triangle: cohort users by the ISO week of their
    first event, count how many are active 0, 1, 2, … weeks later.

    Scale: one aggregate for cohorts, one distinct for (user, week)
    activity — both shuffle on user_id and can share the exchange — then an
    equi-join on user_id and a small final aggregate (weeks × cohorts rows).
    The distinct collapses per-user event volume *before* the join, so the
    join input is bounded by users × weeks, not by raw events.
    """
    ev = read_table(spark, sf_dir, "events")
    cohort = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    active = ev.select(
        "user_id", F.date_trunc("week", "ts").alias("active_week")
    ).distinct()
    return (
        cohort.join(active, "user_id")
        .groupBy(
            date_str("cohort_week").alias("cohort_week"),
            (F.datediff("active_week", "cohort_week") / 7)
            .cast("integer")
            .alias("week_offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_active"))
    )


# ---------------------------------------------------------------------------
# Densified daily time series (gap-fill + carry-forward)
# ---------------------------------------------------------------------------

_GAPFILL_SQL = """
WITH bounds AS (
  SELECT CAST(min(ts) AS DATE) AS lo, CAST(max(ts) AS DATE) AS hi FROM events
),
days AS (
  SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS day
  FROM bounds
),
users AS (SELECT DISTINCT user_id FROM events),
daily AS (
  SELECT user_id, CAST(ts AS DATE) AS day,
         sum(CAST(round(value * 100) AS BIGINT)) AS day_cents,
         count(*) AS n_events
  FROM events GROUP BY 1, 2
)
SELECT
  u.user_id,
  strftime(d.day, '%Y-%m-%d') AS day,
  CAST(coalesce(dl.day_cents, 0) AS DOUBLE) / 100.0 AS total_value,
  CAST(coalesce(dl.n_events, 0) AS BIGINT) AS n_events
FROM users u
CROSS JOIN days d
LEFT JOIN daily dl ON dl.user_id = u.user_id AND dl.day = d.day
"""


@register("daily_user_value_gapfill", oracle=_GAPFILL_SQL, category="analytics")
def daily_user_value_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series densification (the hypertable-rollup shape): per-user
    daily value totals over the full observed date range, with missing days
    materialized as explicit zero rows.

    Scale: the day axis is tiny (range/day, computed with one global
    min/max aggregate and broadcast), the user axis is large — so the
    user × day densification is a broadcast nested-loop of a one-column
    frame against a per-user spine, and the daily aggregate shuffles on
    (user_id, day) once. No sequence is ever materialized per event row.
    """
    ev = read_table(spark, sf_dir, "events")
    bounds = ev.agg(
        F.min(F.to_date("ts")).alias("lo"), F.max(F.to_date("ts")).alias("hi")
    )
    days = bounds.select(
        F.explode(F.sequence("lo", "hi")).alias("day")
    )
    users = ev.select("user_id").distinct()
    daily = ev.groupBy(
        "user_id", F.to_date("ts").alias("day")
    ).agg(
        F.sum(cents("value")).alias("day_cents"),
        F.count(F.lit(1)).alias("n_events"),
    )
    return (
        users.crossJoin(F.broadcast(days))
        .join(daily, ["user_id", "day"], "left")
        .select(
            "user_id",
            date_str("day").alias("day"),
            (F.coalesce(F.col("day_cents"), F.lit(0)).cast("double") / F.lit(100.0)).alias(
                "total_value"
            ),
            F.coalesce(F.col("n_events"), F.lit(0)).cast("long").alias("n_events"),
        )
    )


# ---------------------------------------------------------------------------
# max_by / min_by / count_if conditional-aggregate suite
# ---------------------------------------------------------------------------

# Deterministic arg-extremes over a non-unique measure: both engines break
# ties identically by ranking on a fixed-width zero-padded string key
# lpad(cents, 12) || lpad(orderkey, 12) — lexicographic order on
# fixed-width non-negative digit strings IS numeric (cents, orderkey)
# order, at ANY scale. A composite integer cents*10^7 + orderkey (the
# round-5 form) aliases distinct pairs once orderkey >= 10^7 (~sf 2.5);
# Spark's max_by would take an orderable struct, but DuckDB's arg_max
# would not, and the oracle has to run on both — the string key is the
# portable alias-free form (ADVICE r5).
_EXTREMES_SQL = """
SELECT
  c.c_mktsegment,
  count(*) AS n_orders,
  CAST(count_if(o.o_totalprice > 150000.0) AS BIGINT) AS n_big,
  max_by(o.o_orderkey,
         lpad(CAST(CAST(round(o.o_totalprice * 100) AS BIGINT) AS VARCHAR),
              12, '0')
         || lpad(CAST(o.o_orderkey AS VARCHAR), 12, '0'))
    AS priciest_order,
  min_by(o.o_orderkey,
         lpad(CAST(CAST(round(o.o_totalprice * 100) AS BIGINT) AS VARCHAR),
              12, '0')
         || lpad(CAST(o.o_orderkey AS VARCHAR), 12, '0'))
    AS cheapest_order,
  CAST(max(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0
    AS max_price
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY c.c_mktsegment
"""


@register("order_extremes_by_segment", oracle=_EXTREMES_SQL, category="aggregation")
def order_extremes_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional-aggregate suite (count_if / max_by / min_by): per market
    segment, the order count, the count over a price predicate, and the
    deterministic arg-max/arg-min order keys.

    Scale: single hash aggregate after an equi-join where the customer side
    is dimension-sized per segment — max_by/min_by carry one (key, rank)
    pair per group through partial aggregation, never a sorted buffer.
    """
    orders = read_table(spark, sf_dir, "orders")
    cust = read_table(spark, sf_dir, "customer")
    rank = F.concat(
        F.lpad(cents("o_totalprice").cast("string"), 12, "0"),
        F.lpad(F.col("o_orderkey").cast("string"), 12, "0"),
    )
    return (
        orders.join(
            F.broadcast(cust.select("c_custkey", "c_mktsegment")),
            orders.o_custkey == F.col("c_custkey"),
        )
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.count_if(F.col("o_totalprice") > 150000.0).alias("n_big"),
            F.max_by("o_orderkey", rank).alias("priciest_order"),
            F.min_by("o_orderkey", rank).alias("cheapest_order"),
            (F.max(cents("o_totalprice")).cast("double") / F.lit(100.0)).alias(
                "max_price"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Distribution window functions
# ---------------------------------------------------------------------------

_DISTRIBUTION_SQL = """
SELECT
  p_brand,
  p_partkey,
  round(percent_rank() OVER w, 6) AS pct_rank,
  round(cume_dist() OVER w, 6) AS cume,
  nth_value(p_partkey, 2) OVER (
    PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey
    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
  ) AS second_priciest
FROM part
WINDOW w AS (PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey)
"""


@register("brand_price_distribution", oracle=_DISTRIBUTION_SQL, category="window")
def brand_price_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution windows (percent_rank / cume_dist / nth_value) per
    brand, on the unique (price DESC, partkey) order so every value is
    deterministic. percent_rank and cume_dist are ratios of small integers
    — identical IEEE divisions on both engines — rounded to 6 digits only
    as rendering hygiene.

    Scale: one shuffle on p_brand, one sorted pass per partition; the
    nth_value frame is the whole partition, which Spark evaluates with a
    single buffered scan, not a re-scan per row.
    """
    part = read_table(spark, sf_dir, "part")
    w = W.partitionBy("p_brand").orderBy(F.desc("p_retailprice"), F.asc("p_partkey"))
    w_full = w.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    return part.select(
        "p_brand",
        "p_partkey",
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
        F.nth_value("p_partkey", 2).over(w_full).alias("second_priciest"),
    )


# ---------------------------------------------------------------------------
# Unpivot (wide → long)
# ---------------------------------------------------------------------------

_UNPIVOT_SQL = """
WITH agg AS (
  SELECT
    l_returnflag,
    CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS DOUBLE) / 100.0
      AS sum_qty,
    CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) / 100.0
      AS sum_price,
    CAST(sum(CAST(round(l_discount * 100) AS BIGINT)) AS DOUBLE) / 100.0
      AS sum_discount,
    CAST(sum(CAST(round(l_tax * 100) AS BIGINT)) AS DOUBLE) / 100.0
      AS sum_tax
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag, measure, amount FROM agg
UNPIVOT (amount FOR measure IN (sum_qty, sum_price, sum_discount, sum_tax))
"""


@register("returnflag_measures_unpivot", oracle=_UNPIVOT_SQL, category="relational")
def returnflag_measures_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide → long reshape: aggregate four lineitem measures per return
    flag, then ``unpivot`` them into (flag, measure, amount) rows — the
    inverse of the pivot surface (``event_type_pivot``).

    Scale: the unpivot is a zero-shuffle projection (each input row expands
    to K output rows in place); the only exchange is the upstream aggregate,
    which ships exact int64 partial sums.
    """
    li = read_table(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_returnflag").agg(
        money_sum("l_quantity").alias("sum_qty"),
        money_sum("l_extendedprice").alias("sum_price"),
        money_sum("l_discount").alias("sum_discount"),
        money_sum("l_tax").alias("sum_tax"),
    )
    return agg.unpivot(
        ["l_returnflag"],
        ["sum_qty", "sum_price", "sum_discount", "sum_tax"],
        "measure",
        "amount",
    )


# ---------------------------------------------------------------------------
# Grouped ordered-list aggregation (training-example packing shape)
# ---------------------------------------------------------------------------

_ORDER_HISTORY_SQL = """
SELECT
  o_custkey,
  count(*) AS n_orders,
  array_to_string(list_sort(list(o_orderkey)), ',') AS order_keys,
  strftime(min(o_orderdate), '%Y-%m-%d') AS first_order,
  strftime(max(o_orderdate), '%Y-%m-%d') AS last_order
FROM orders
GROUP BY o_custkey
"""


@register("customer_order_history", oracle=_ORDER_HISTORY_SQL, category="aggregation")
def customer_order_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped list aggregation: each customer's full order-key history as
    one deterministic (sorted) CSV-rendered array — the pack-examples-
    per-entity shape LLM data pipelines use to group documents per source
    before sequence packing.

    collect_list is order-nondeterministic under parallel aggregation, so
    the array is sort_array-ed before rendering — that, plus integer keys,
    makes the value exactly reproducible on both engines.

    Scale: one hash aggregate; the per-group buffer is the group's key
    list, which is fine when group sizes are bounded (orders per customer);
    unbounded groups would move to the window/row_number pack instead.
    """
    orders = read_table(spark, sf_dir, "orders")
    return orders.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.concat_ws(
            ",",
            F.transform(
                F.sort_array(F.collect_list("o_orderkey")),
                lambda v: v.cast("string"),
            ),
        ).alias("order_keys"),
        date_str(F.min("o_orderdate")).alias("first_order"),
        date_str(F.max("o_orderdate")).alias("last_order"),
    )


# ---------------------------------------------------------------------------
# SCD2 validity intervals from a change log
# ---------------------------------------------------------------------------

_INTERVALS_SQL = """
SELECT user_id, event_id,
       strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS valid_from,
       strftime(lead(ts) OVER w, '%Y-%m-%d %H:%M:%S.%f') AS valid_to,
       CAST(round(value * 100) AS BIGINT) AS value_cents
FROM events
WHERE event_type = 'purchase'
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""


@register("user_value_intervals", oracle=_INTERVALS_SQL, category="analytics")
def user_value_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension (SCD type 2) build: turn a per-user change
    log into validity intervals — each purchase's value holds from its
    timestamp until the user's next purchase (NULL valid_to = current
    row). The lead() over the unique (ts, event_id) order makes every
    interval deterministic.

    Scale: one shuffle on user_id + a linear window pass — the standard
    dimension-build plan; appending new changes only touches each user's
    open interval (the NULL valid_to rows).
    """
    ev = read_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    from big_data_medical_analysis_spark.operators.common import ts_str

    return ev.select(
        "user_id",
        "event_id",
        ts_str("ts").alias("valid_from"),
        ts_str(F.lead("ts").over(w)).alias("valid_to"),
        cents("value").alias("value_cents"),
    )


# ---------------------------------------------------------------------------
# Gap-based sessionization (portable session-id assignment)
# ---------------------------------------------------------------------------

SESSION_GAP_US = 30 * 60 * 1_000_000  # 30 minutes

_SESSION_IDS_SQL = f"""
WITH flags AS (
  SELECT user_id, event_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                      > {SESSION_GAP_US}
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
ids AS (
  SELECT user_id, event_id, ts,
         CAST(sum(new_sess) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS UNBOUNDED PRECEDING) AS INTEGER) AS session_id
  FROM flags
)
SELECT user_id, session_id,
       count(*) AS n_events,
       CAST(epoch_us(max(ts)) - epoch_us(min(ts)) AS BIGINT) AS duration_us
FROM ids
GROUP BY user_id, session_id
"""


@register("event_session_ids", oracle=_SESSION_IDS_SQL, category="analytics")
def event_session_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization via cumulative new-session flags — the
    portable batch form of session assignment (lag gap > threshold starts
    a session; running sum numbers them), profiled per (user, session).
    Complements ``session_windows``' native session_window aggregate: this
    form also yields the per-EVENT session id (the join key downstream
    attribution needs), which the native aggregate does not expose.

    Scale: one shuffle on user_id feeding two stacked linear window passes
    over the same sort order (Catalyst runs both in a single Window stage
    chain, no re-sort), then a (user, session) aggregate that reuses the
    partitioning.
    """
    ev = read_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
    flagged = ev.select(
        "user_id",
        "event_id",
        "ts",
        F.when(
            F.lag("ts").over(w).isNull() | (gap > SESSION_GAP_US), 1
        ).otherwise(0).alias("new_sess"),
    )
    ids = flagged.select(
        "user_id",
        "ts",
        F.sum("new_sess")
        .over(w.rowsBetween(W.unboundedPreceding, W.currentRow))
        .cast("integer")
        .alias("session_id"),
    )
    return ids.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts")))
        .cast("long")
        .alias("duration_us"),
    )


# ---------------------------------------------------------------------------
# EWMA smoothing via higher-order-function fold (round 6)
# ---------------------------------------------------------------------------

# alpha = 0.5 exactly: every fold step is acc*0.5 + x*0.5 — two exact IEEE
# multiplies (0.5 scales the exponent only) and one add, in the identical
# sequential order on both engines (Spark `aggregate` with the first value
# as init ≡ DuckDB `list_reduce`), so the trajectory is bit-identical.
_EWMA_SQL = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS c
  FROM events GROUP BY 1
),
packed AS (
  SELECT list(day ORDER BY day) AS days,
         list(CAST(c AS DOUBLE) ORDER BY day) AS vals
  FROM daily
),
idx AS (
  SELECT unnest(range(1, len(days) + 1)) AS i, days, vals FROM packed
)
SELECT strftime(days[i], '%Y-%m-%d') AS day,
       round(vals[i] / 100.0, 2) AS day_revenue,
       round(list_reduce(vals[1:i], (acc, x) -> 0.5 * acc + 0.5 * x), 4)
         AS ewma_cents
FROM idx
"""


@register("ewma_daily_revenue", oracle=_EWMA_SQL, category="analytics")
def ewma_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially weighted moving average of daily event revenue —
    the classic time-series smoother whose recurrence
    (e_t = α·x_t + (1-α)·e_{t-1}) is NOT a windowed sum, expressed through
    Spark's array higher-order functions: pack the ordered daily series
    into one array, then for each prefix run ``aggregate`` (sequential
    fold) — the surface that turns per-group sequences into arbitrary
    recursive state without a UDF.

    α = 0.5 so every fold step is exact IEEE arithmetic reproduced
    bit-for-bit by the DuckDB ``list_reduce`` oracle (same init, same
    order, same ops).

    Scale: the day axis is bounded (one row per calendar day — thousands,
    not billions), so the packed array and its O(days²) prefix folds are a
    single task's row-local work after ONE map-side-combinable daily
    aggregate of the events table. The heavy dimension (events) never
    sorts globally; at 100 TB this is a 2-stage plan whose second stage is
    constant-size. For per-ENTITY smoothing you'd groupBy entity with the
    same fold — bounded per-entity history is the same contract.
    """
    ev = read_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.sum(cents("value")).alias("c")
    )
    packed = daily.agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("day"), F.col("c")))
        ).alias("a")
    )
    return packed.selectExpr(
        """
        inline(transform(sequence(1, size(a)), i -> named_struct(
          'day', date_format(a[i-1].day, 'yyyy-MM-dd'),
          'day_revenue', round(CAST(a[i-1].c AS DOUBLE) / 100.0, 2),
          'ewma_cents', round(
             aggregate(
               slice(transform(a, s -> CAST(s.c AS DOUBLE)), 2, i - 1),
               CAST(a[0].c AS DOUBLE),
               (acc, x) -> 0.5 * acc + 0.5 * x),
             4)
        )))
        """
    )


# ---------------------------------------------------------------------------
# Cumulative distinct users by day (round 6)
# ---------------------------------------------------------------------------

_CUM_USERS_SQL = """
WITH firsts AS (
  SELECT user_id, min(CAST(ts AS DATE)) AS first_day
  FROM events GROUP BY user_id
),
by_day AS (
  SELECT first_day AS day, count(*) AS new_users FROM firsts GROUP BY 1
)
SELECT strftime(day, '%Y-%m-%d') AS day,
       CAST(new_users AS BIGINT) AS new_users,
       CAST(sum(new_users) OVER (ORDER BY day) AS BIGINT) AS cum_users
FROM by_day
"""


@register("cumulative_unique_users", oracle=_CUM_USERS_SQL, category="analytics")
def cumulative_unique_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative distinct users over time — the growth-curve metric.
    COUNT(DISTINCT) OVER a running window is unsupported (and would be
    quadratic anyway); the scalable identity is: distinct-users-through-
    day-d = count of users whose FIRST event day ≤ d. One per-user min,
    one per-day count, one running sum over the bounded day axis.

    Scale: the only event-volume pass is the per-user min (map-side
    combinable, one shuffle on user_id); everything after runs on ≤ users
    rows then ≤ days rows. The global running-sum window orders DAYS
    (thousands), not events — a deliberate contrast with the naive
    window-over-raw-events formulation this replaces.
    """
    ev = read_table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("first_day")
    )
    by_day = firsts.groupBy(F.col("first_day").alias("day")).agg(
        F.count(F.lit(1)).alias("new_users")
    )
    w = W.orderBy("day").rowsBetween(W.unboundedPreceding, W.currentRow)
    return by_day.select(
        date_str("day").alias("day"),
        F.col("new_users").cast("long").alias("new_users"),
        F.sum("new_users").over(w).cast("long").alias("cum_users"),
    )


# ---------------------------------------------------------------------------
# Time-based range frame: trailing 7-day rolling value (round 6)
# ---------------------------------------------------------------------------

ROLL_WINDOW_US = 7 * 86_400 * 1_000_000  # 7 days in microseconds

_ROLLING_7D_SQL = f"""
SELECT user_id,
       CAST(event_id AS BIGINT) AS event_id,
       CAST(epoch_us(ts) AS BIGINT) AS t_us,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) OVER (
         PARTITION BY user_id ORDER BY epoch_us(ts)
         RANGE BETWEEN {ROLL_WINDOW_US} PRECEDING AND CURRENT ROW
       ) AS DOUBLE) / 100.0 AS rolling_7d_value
FROM events
WHERE user_id < 100
"""


@register("rolling_7d_user_value", oracle=_ROLLING_7D_SQL, category="window")
def rolling_7d_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME-based window frame: each event's trailing-7-day value total per
    user, via RANGE BETWEEN <interval-as-micros> PRECEDING — the frame kind
    the ROWS/RANGE-on-rank queries don't touch (a rows frame counts
    neighbors; this one bounds by elapsed TIME, so sparse and dense weeks
    produce honest totals). Ordering on exact epoch microseconds keeps the
    frame arithmetic integer-exact and engine-portable; RANGE peers (equal
    timestamps) are included identically on both engines.

    Scale: one shuffle on user_id, one ordered pass per partition with a
    sliding two-pointer frame — O(events) work, state bounded by the
    7-day span per user. The probe filter (user_id < 100) bounds driver
    output only; the plan shape is scale-free and the filter pushes to the
    scan.
    """
    ev = read_table(spark, sf_dir, "events").filter(F.col("user_id") < 100)
    t = F.unix_micros("ts")
    w = (
        W.partitionBy("user_id")
        .orderBy(t)
        .rangeBetween(-ROLL_WINDOW_US, 0)
    )
    return ev.select(
        "user_id",
        F.col("event_id").cast("long").alias("event_id"),
        t.cast("long").alias("t_us"),
        (F.sum(cents("value")).over(w).cast("double") / 100.0).alias(
            "rolling_7d_value"
        ),
    )


# ---------------------------------------------------------------------------
# LOCF carry-forward densification (round 6)
# ---------------------------------------------------------------------------

_LOCF_SQL = """
WITH bounds AS (
  SELECT CAST(min(ts) AS DATE) AS lo, CAST(max(ts) AS DATE) AS hi FROM events
),
days AS (
  SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS day
  FROM bounds
),
users AS (SELECT DISTINCT user_id FROM events WHERE user_id < 50),
daily AS (
  SELECT user_id, CAST(ts AS DATE) AS day,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS day_cents
  FROM events WHERE user_id < 50 GROUP BY 1, 2
),
grid AS (
  SELECT u.user_id, d.day, dl.day_cents
  FROM users u CROSS JOIN days d
  LEFT JOIN daily dl ON dl.user_id = u.user_id AND dl.day = d.day
)
SELECT user_id,
       strftime(day, '%Y-%m-%d') AS day,
       CAST(CAST(last_value(day_cents IGNORE NULLS) OVER (
         PARTITION BY user_id ORDER BY day
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS DOUBLE) / 100.0 AS DOUBLE) AS carried_value
FROM grid
"""


@register("daily_value_locf", oracle=_LOCF_SQL, category="analytics")
def daily_value_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-observation-carried-forward densification — the OTHER gap-fill
    semantics next to daily_user_value_gapfill's explicit zeros: missing
    days repeat the most recent observed daily total (`last` with
    ignoreNulls over an expanding frame), days before a user's first
    observation stay NULL. This is the hypertable/sensor convention
    ("the reading holds until replaced").

    Scale: same broadcast day-spine × users densification as the zero-fill
    query (the day axis is bounded), plus ONE expanding window per user
    ordered by day — O(users × days) rows, never a function of raw event
    volume. The probe filter (user_id < 50) bounds driver output only.
    """
    ev = read_table(spark, sf_dir, "events")
    probe = ev.filter(F.col("user_id") < 50)
    bounds = ev.agg(
        F.min(F.to_date("ts")).alias("lo"), F.max(F.to_date("ts")).alias("hi")
    )
    days = bounds.select(F.explode(F.sequence("lo", "hi")).alias("day"))
    users = probe.select("user_id").distinct()
    daily = probe.groupBy(
        "user_id", F.to_date("ts").alias("day")
    ).agg(F.sum(cents("value")).alias("day_cents"))
    grid = users.crossJoin(F.broadcast(days)).join(
        daily, ["user_id", "day"], "left"
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return grid.select(
        "user_id",
        date_str("day").alias("day"),
        (
            F.last("day_cents", ignorenulls=True).over(w).cast("double")
            / 100.0
        ).cast("double").alias("carried_value"),
    )


# ---------------------------------------------------------------------------
# Dynamic-gap sessionization (round 6)
# ---------------------------------------------------------------------------

# Per-event-type inactivity gaps, microseconds: a purchase keeps the
# session alive longer than a passive view/click.
DYN_GAP_PURCHASE_US = 3_600 * 1_000_000
DYN_GAP_DEFAULT_US = 1_800 * 1_000_000

_DYN_SESSION_SQL = f"""
WITH e AS (
  SELECT user_id, event_id, epoch_us(ts) AS t,
         CASE WHEN event_type = 'purchase' THEN {DYN_GAP_PURCHASE_US}
              ELSE {DYN_GAP_DEFAULT_US} END AS gap_us
  FROM events
),
flagged AS (
  SELECT user_id, event_id, t, gap_us,
         CASE WHEN max(t + gap_us) OVER (
                PARTITION BY user_id ORDER BY t, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
              ) IS NULL
              OR t > max(t + gap_us) OVER (
                PARTITION BY user_id ORDER BY t, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
              )
              THEN 1 ELSE 0 END AS new_sess
  FROM e
  WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)
),
ids AS (
  SELECT user_id, t,
         CAST(sum(new_sess) OVER (
           PARTITION BY user_id ORDER BY t, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS INTEGER) AS session_id
  FROM flagged
)
SELECT user_id, session_id,
       count(*) AS n_events,
       CAST(max(t) - min(t) AS BIGINT) AS duration_us
FROM ids
GROUP BY user_id, session_id
"""


@register("dynamic_gap_sessions", oracle=_DYN_SESSION_SQL, category="analytics")
def dynamic_gap_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization with a DYNAMIC inactivity gap — each event extends
    its session by a gap chosen from the event itself (purchases hold the
    session {DYN_GAP_PURCHASE_US // 60_000_000} min, everything else
    {DYN_GAP_DEFAULT_US // 60_000_000} min): the batch twin of Spark's
    ``session_window(ts, gapExpr)`` dynamic form, which the fixed-gap
    ``event_session_ids`` doesn't exercise. A new session starts when the
    event's time exceeds the RUNNING MAX of all prior events' window ends
    (t + own gap) — the true merge semantics of ``session_window``: an
    earlier long-gap event (a purchase) holds the session open even when
    the immediately previous event's shorter gap has lapsed. (The
    lag-only form — compare against just the previous event's gap —
    mis-splits exactly that shadowing case; round 10 fixed this and
    tests/test_streaming.py now proves batch ≡ F.session_window on a
    shadowing fixture.)

    Scale: identical profile to the fixed-gap form — one shuffle on
    user_id, two stacked linear window passes on the same sort order, one
    (user, session) aggregate reusing the partitioning. Exact epoch-micro
    integer arithmetic keeps the oracle bit-for-bit.
    """
    ev = read_table(spark, sf_dir, "events")
    t = F.unix_micros("ts")
    gap = F.when(
        F.col("event_type") == "purchase", F.lit(DYN_GAP_PURCHASE_US)
    ).otherwise(F.lit(DYN_GAP_DEFAULT_US))
    w = W.partitionBy("user_id").orderBy(t.asc(), F.col("event_id").asc())
    prior_end = F.max(t + gap).over(
        w.rowsBetween(W.unboundedPreceding, -1)
    )
    flagged = ev.select(
        "user_id",
        "event_id",
        t.alias("t"),
        F.when(
            prior_end.isNull() | (t > prior_end), 1
        ).otherwise(0).alias("new_sess"),
    )
    wo = W.partitionBy("user_id").orderBy("t", "event_id")
    ids = flagged.select(
        "user_id",
        "t",
        F.sum("new_sess")
        .over(wo.rowsBetween(W.unboundedPreceding, W.currentRow))
        .cast("integer")
        .alias("session_id"),
    )
    return ids.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        (F.max("t") - F.min("t")).cast("long").alias("duration_us"),
    )


# ---------------------------------------------------------------------------
# Bucketed interval-overlap join (round 6)
# ---------------------------------------------------------------------------

OVERLAP_BUCKET_US = 3_600 * 1_000_000  # 1-hour coarse buckets
OVERLAP_MAX_USER = 40

_SESSION_OVERLAP_SQL = f"""
WITH e AS (
  SELECT user_id, event_id, epoch_us(ts) AS t FROM events
  WHERE user_id < {OVERLAP_MAX_USER}
),
flagged AS (
  SELECT user_id, t,
         CASE WHEN lag(t) OVER w IS NULL
                   OR t - lag(t) OVER w > {1_800 * 1_000_000}
              THEN 1 ELSE 0 END AS new_sess
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)
),
sess AS (
  SELECT user_id,
         CAST(sum(new_sess) OVER (
           PARTITION BY user_id ORDER BY t
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS INTEGER) AS session_id,
         t
  FROM flagged
),
iv AS (
  SELECT user_id, session_id, min(t) AS s, max(t) AS e
  FROM sess GROUP BY 1, 2
)
SELECT a.user_id AS user_a, a.session_id AS sess_a,
       b.user_id AS user_b, b.session_id AS sess_b,
       CAST(least(a.e, b.e) - greatest(a.s, b.s) AS BIGINT) AS overlap_us
FROM iv a JOIN iv b
  ON a.user_id < b.user_id AND a.s <= b.e AND b.s <= a.e
"""


@register(
    "session_overlap_pairs", oracle=_SESSION_OVERLAP_SQL, category="analytics"
)
def session_overlap_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap join — which users' sessions were concurrently
    active: derive per-user session intervals (30-min gap rule), then find
    every cross-user pair of TIME-OVERLAPPING intervals with the overlap
    duration. The oracle states the naive theta-join (correct, quadratic);
    the Spark plan is the AT-SCALE form: explode each interval into its
    coarse 1-hour bucket ids, equi-join on bucket (a hash join — never a
    cartesian), re-check the exact overlap predicate, and drop the
    bucket-induced duplicates with ``distinct`` — identical values, linear
    candidate generation bounded by intervals-per-bucket. This is the
    standard time-range/genomic interval-join pattern the range and as-of
    joins don't cover (both sides are INTERVALS here, not points).

    Scale: bucket width trades candidate fan-out (intervals spanning B
    buckets appear B times) against per-bucket pair count — pick it near
    the median interval length. One shuffle to sessionize, one hash join
    on (bucket), one distinct; the probe filter bounds driver output and
    pushes to the scan.
    """
    ev = read_table(spark, sf_dir, "events").filter(
        F.col("user_id") < OVERLAP_MAX_USER
    )
    t = F.unix_micros("ts")
    w = W.partitionBy("user_id").orderBy(t.asc(), F.col("event_id").asc())
    flagged = ev.select(
        "user_id",
        t.alias("t"),
        F.when(
            F.lag(t).over(w).isNull()
            | ((t - F.lag(t).over(w)) > 1_800 * 1_000_000),
            1,
        ).otherwise(0).alias("new_sess"),
    )
    wo = W.partitionBy("user_id").orderBy("t")
    sess = flagged.select(
        "user_id",
        F.sum("new_sess")
        .over(wo.rowsBetween(W.unboundedPreceding, W.currentRow))
        .cast("integer")
        .alias("session_id"),
        "t",
    )
    iv = sess.groupBy("user_id", "session_id").agg(
        F.min("t").alias("s"), F.max("t").alias("e")
    )
    b = iv.select(
        "*",
        F.explode(
            F.sequence(
                (F.col("s") / OVERLAP_BUCKET_US).cast("long"),
                (F.col("e") / OVERLAP_BUCKET_US).cast("long"),
            )
        ).alias("bucket"),
    )
    left = b.select(
        F.col("user_id").alias("user_a"),
        F.col("session_id").alias("sess_a"),
        F.col("s").alias("sa"),
        F.col("e").alias("ea"),
        "bucket",
    )
    right = b.select(
        F.col("user_id").alias("user_b"),
        F.col("session_id").alias("sess_b"),
        F.col("s").alias("sb"),
        F.col("e").alias("eb"),
        "bucket",
    )
    pairs = (
        left.join(right, "bucket")
        .filter(
            (F.col("user_a") < F.col("user_b"))
            & (F.col("sa") <= F.col("eb"))
            & (F.col("sb") <= F.col("ea"))
        )
        .select(
            "user_a",
            "sess_a",
            "user_b",
            "sess_b",
            (
                F.least("ea", "eb") - F.greatest("sa", "sb")
            ).cast("long").alias("overlap_us"),
        )
        .distinct()
    )
    return pairs


# ---------------------------------------------------------------------------
# Forward as-of join (round 7)
# ---------------------------------------------------------------------------

# Oracle: the declarative min-over-join statement of "first event at or
# after the order" (DuckDB's ASOF JOIN is backward-only, so the forward
# form is stated as LEFT JOIN + group-min; epoch_us(NULL) propagates NULL
# for orders with no later event).
_NEXT_EVENT_SQL = """
WITH probe AS (
  SELECT o_orderkey, o_custkey, o_orderdate
  FROM orders WHERE o_custkey < 150
)
SELECT p.o_orderkey, p.o_custkey,
       strftime(p.o_orderdate, '%Y-%m-%d %H:%M:%S.%f') AS order_ts,
       strftime(min(e.ts), '%Y-%m-%d %H:%M:%S.%f') AS next_event_ts,
       CAST(epoch_us(min(e.ts)) - epoch_us(p.o_orderdate) AS BIGINT) AS wait_us
FROM probe p
LEFT JOIN events e ON e.user_id = p.o_custkey AND e.ts >= p.o_orderdate
GROUP BY p.o_orderkey, p.o_custkey, p.o_orderdate
"""


@register("order_next_event_asof", oracle=_NEXT_EVENT_SQL, category="join")
def order_next_event_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of join — each order's first user event AT OR AFTER the
    order timestamp: the direction purchase_asof_signup (nearest PRIOR)
    doesn't cover, and the one DuckDB's ASOF primitive can't express
    (hence the join+group-min oracle). Composed the same union-window way,
    mirrored: probes sort before events at equal timestamps (>= ties
    match), and ``first(..., ignorenulls)`` over the FOLLOWING frame
    carries the next event's timestamp back.

    Scale: one shuffle on user_id + one linear window pass — no quadratic
    join residual, the same plan shape as the backward as-of, and the
    probe filter pushes to both scans.
    """
    orders = read_table(spark, sf_dir, "orders").filter(F.col("o_custkey") < 150)
    ev = read_table(spark, sf_dir, "events").filter(F.col("user_id") < 150)
    probes = orders.select(
        F.col("o_custkey").alias("user_id"),
        F.col("o_orderdate").alias("ts"),
        F.lit(0).alias("side"),
        "o_orderkey",
        F.lit(None).cast("timestamp").alias("e_ts"),
    )
    events = ev.select(
        "user_id",
        "ts",
        F.lit(1).alias("side"),
        F.lit(None).cast("long").alias("o_orderkey"),
        F.col("ts").alias("e_ts"),
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "side")
        .rowsBetween(W.currentRow, W.unboundedFollowing)
    )
    return (
        probes.unionByName(events)
        .withColumn("next_ts", F.first("e_ts", ignorenulls=True).over(w))
        .filter(F.col("side") == 0)
        .select(
            "o_orderkey",
            F.col("user_id").alias("o_custkey"),
            ts_str("ts").alias("order_ts"),
            ts_str("next_ts").alias("next_event_ts"),
            (F.unix_micros("next_ts") - F.unix_micros("ts")).alias("wait_us"),
        )
    )


# ---------------------------------------------------------------------------
# Market-basket co-occurrence mining (round 7)
# ---------------------------------------------------------------------------

def _brand_baskets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(ok, bs) basket table — ``bs`` is the order's SORTED DISTINCT brand
    array — shared by the mining/graph family (copurchase pairs, A-priori
    triples, triangles, PageRank, clustering coefficient), derived once
    per query and pinned with ``localCheckpoint`` so the downstream
    branches reuse ONE materialization (Catalyst re-derived the
    lineitem⋈part distinct per branch otherwise — predicate pushdown
    specializes each branch's subtree and defeats exchange reuse).

    PRECONDITION: brand is NON-NULL (TPC-H p_brand is). ``collect_set``
    silently drops nulls, so a nullable source would lose its (ok, null)
    rows here where the pre-r16 ``distinct()`` kept them — same self-audit
    convention as explode_nonnull_pinned.

    Round 16 (guide §2.4/§2.3): the family's former shape was
    ``distinct(ok, b)`` (exchange 1) followed by a two-sided SELF-JOIN on
    ok (exchanges 2+3, the planner cannot see the checkpointed RDD's
    partitioning) to enumerate per-basket brand pairs. One
    ``groupBy(ok).agg(sort_array(collect_set(b)))`` does the dedup AND
    the basket grouping in a single exchange (collect_set dedupes in the
    partial aggregate, map-side), and pair/triple enumeration becomes a
    pure in-row HOF over the array (``_basket_pairs`` /
    ``_basket_triples``) — bounded by (brands-per-order choose 2|3) ≤
    21|35 exactly like the join form, but with zero join exchanges. The
    emitted multiset of pairs is identical: per basket, each unordered
    a<b pair appears exactly once either way (sort_array is ascending,
    so index order IS the a<b orientation for Spark's binary string
    comparison — the same ordering the join's ``<`` used).

    On a cluster this materialization is persist(DISK_ONLY) or a
    reliable checkpoint; localCheckpoint is the single-box form."""
    li = read_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    part = read_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    return (
        li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .select(F.col("l_orderkey").alias("ok"), F.col("p_brand").alias("b"))
        .groupBy("ok")
        .agg(F.sort_array(F.collect_set("b")).alias("bs"))
        .transform(checkpoint_pinned)
    )


def _basket_pairs(bsk: DataFrame) -> DataFrame:
    """(a, b) rows: every ordered (a < b) brand pair of every basket,
    enumerated in-row from the sorted basket array — the map-side
    replacement for the family's former basket self-join (guide §2.4).
    One pair per basket per unordered pair, exactly the join's output."""
    prs = F.flatten(
        F.transform(
            "bs",
            lambda x, i: F.transform(
                F.slice("bs", i + F.lit(2), F.size("bs")),
                lambda y: F.struct(x.alias("a"), y.alias("b")),
            ),
        )
    )
    return explode_nonnull_pinned(
        bsk.select(prs.alias("prs")), "prs", "pr"
    ).select(F.col("pr.a").alias("a"), F.col("pr.b").alias("b"))


def _basket_triples(bsk: DataFrame) -> DataFrame:
    """(a, b, c) rows: every ordered (a < b < c) brand triple of every
    basket, enumerated in-row — replaces the former THREE-way basket
    self-join of the A-priori support count. Bounded by (brands-per-order
    choose 3) ≤ 35 per basket, identical to the join form's output."""
    trs = F.flatten(
        F.flatten(
            F.transform(
                "bs",
                lambda x, i: F.transform(
                    F.slice("bs", i + F.lit(2), F.size("bs")),
                    lambda y, j: F.transform(
                        F.slice("bs", i + j + F.lit(3), F.size("bs")),
                        lambda z: F.struct(
                            x.alias("a"), y.alias("b"), z.alias("c")
                        ),
                    ),
                ),
            )
        )
    )
    return explode_nonnull_pinned(
        bsk.select(trs.alias("trs")), "trs", "tr"
    ).select(
        F.col("tr.a").alias("a"), F.col("tr.b").alias("b"), F.col("tr.c").alias("c")
    )


def _supported_brand_edges(bsk: DataFrame) -> DataFrame:
    """Canonical (a < b) co-purchase edges with support ≥ 2% of baskets —
    the shared edge derivation of the graph trio (triangles, PageRank,
    clustering coefficient). Support counting combines map-side off the
    in-row pair enumeration; the basket count is a 1-row broadcast."""
    nb = bsk.agg(F.count(F.lit(1)).alias("nb"))
    return (
        _basket_pairs(bsk)
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("support"))
        .crossJoin(F.broadcast(nb))
        .filter(F.col("support") * 50 >= F.col("nb"))
        .select("a", "b")
    )


_COPURCHASE_SQL = """
WITH lb AS (
  SELECT DISTINCT l.l_orderkey AS ok, p.p_brand AS b
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
)
SELECT a.b AS brand_a, b2.b AS brand_b,
       CAST(count(*) AS BIGINT) AS n_orders
FROM lb a JOIN lb b2 ON a.ok = b2.ok AND a.b < b2.b
GROUP BY a.b, b2.b
"""


@register("copurchase_brand_pairs", oracle=_COPURCHASE_SQL, category="analytics")
def copurchase_brand_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket pair mining: for every unordered brand pair, how many
    orders contain BOTH — the support-counting core of association-rule /
    co-occurrence analysis (recommendations, "frequently bought
    together"). Items roll up to brand level so the pair space is the
    brand-domain square, not the item square.

    Scale: the self-join is an EQUI-join on the basket key, so the
    quadratic term is per-basket — bounded by (distinct brands per
    order choose 2) ≤ 21 at ≤7 lines/order — never corpus-wide; the
    distinct collapses multi-line brand repeats first. Per-pair counts
    then combine map-side. The same shape at item granularity would add
    a support-threshold prefilter (heavy_hitter_users shows the
    candidate-pruning pattern).
    """
    bsk = _brand_baskets(spark, sf_dir)
    return (
        _basket_pairs(bsk)
        .groupBy(F.col("a").alias("brand_a"), F.col("b").alias("brand_b"))
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


# ---------------------------------------------------------------------------
# Triangle counting on the co-purchase graph (round 7b)
# ---------------------------------------------------------------------------

_TRIANGLE_SQL = """
WITH lb AS (
  SELECT DISTINCT l.l_orderkey AS ok, p.p_brand AS b
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
),
e AS (
  SELECT a.b AS a, b2.b AS b
  FROM lb a JOIN lb b2 ON a.ok = b2.ok AND a.b < b2.b
  GROUP BY a.b, b2.b
  HAVING count(*) * 50 >= (SELECT count(DISTINCT ok) FROM lb)
)
SELECT
  (SELECT CAST(count(*) AS BIGINT) FROM e) AS n_edges,
  (SELECT CAST(count(*) AS BIGINT)
   FROM (SELECT a AS v FROM e UNION SELECT b AS v FROM e)) AS n_nodes,
  (SELECT CAST(count(*) AS BIGINT)
   FROM e e1 JOIN e e2 ON e2.a = e1.b
             JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b) AS n_triangles
"""


@register("triangle_count_brand_graph", oracle=_TRIANGLE_SQL, category="graph")
def triangle_count_brand_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting — the clustering-coefficient / community-density
    primitive — on the brand co-purchase graph (edges = brand pairs
    appearing together in ≥5% of brand-bearing orders, a corpus-relative
    support floor). Complements dedup_components (connectivity) with the
    other classic distributed-graph aggregate.

    Scale: edges are stored in canonical a<b orientation, which IS the
    standard triangle-counting trick (each triangle counted exactly once,
    wedge fan-out bounded by ordered degree); both joins are equi-joins on
    vertex keys, so the plan is two hash joins over the edge list — never
    a cartesian. At web scale the refinement is degree-ordered relabeling
    before orientation (hubs get high ids, minimizing wedges); the support
    floor here plays the same fan-out-bounding role.
    """
    bsk = _brand_baskets(spark, sf_dir)
    e = _supported_brand_edges(bsk)
    # the supported edge list has SIX consumers (count, node-union, three
    # triangle-join legs): derive the pair enumeration + support filter
    # once — unpinned, every branch re-ran it (37-shuffle plan, PLANS.md)
    e = checkpoint_pinned(e)
    n_edges = e.agg(F.count(F.lit(1)).alias("n_edges"))
    n_nodes = (
        e.select(F.col("a").alias("v"))
        .union(e.select(F.col("b").alias("v")))
        .distinct()
        .agg(F.count(F.lit(1)).alias("n_nodes"))
    )
    tri = (
        e.alias("e1")
        .join(e.alias("e2"), F.col("e2.a") == F.col("e1.b"))
        .join(
            e.alias("e3"),
            (F.col("e3.a") == F.col("e1.a")) & (F.col("e3.b") == F.col("e2.b")),
        )
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    return n_edges.crossJoin(n_nodes).crossJoin(tri)


# ---------------------------------------------------------------------------
# PageRank on the co-purchase graph (round 7c)
# ---------------------------------------------------------------------------

PAGERANK_ITERS = 3
PAGERANK_DAMPING = 0.85


def _pagerank_iter_sql(t: int) -> str:
    return f"""r{t} AS (
  SELECT e.dst AS v,
         (1.0 - {PAGERANK_DAMPING}) / (SELECT nn FROM n)
         + {PAGERANK_DAMPING} * sum(r{t - 1}.r / deg.d) AS r
  FROM e
  JOIN r{t - 1} ON r{t - 1}.v = e.src
  JOIN deg ON deg.src = e.src
  GROUP BY e.dst
)"""


_PAGERANK_SQL = f"""
WITH lb AS (
  SELECT DISTINCT l.l_orderkey AS ok, p.p_brand AS b
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
),
e0 AS (
  SELECT a.b AS a, b2.b AS b
  FROM lb a JOIN lb b2 ON a.ok = b2.ok AND a.b < b2.b
  GROUP BY a.b, b2.b
  HAVING count(*) * 50 >= (SELECT count(DISTINCT ok) FROM lb)
),
e AS (
  SELECT a AS src, b AS dst FROM e0
  UNION ALL SELECT b AS src, a AS dst FROM e0
),
deg AS (SELECT src, CAST(count(*) AS DOUBLE) AS d FROM e GROUP BY src),
n AS (SELECT CAST(count(*) AS DOUBLE) AS nn FROM deg),
r0 AS (SELECT src AS v, 1.0 / (SELECT nn FROM n) AS r FROM deg),
{', '.join(_pagerank_iter_sql(t) for t in range(1, PAGERANK_ITERS + 1))}
SELECT v AS brand, round(r, 6) AS pagerank
FROM r{PAGERANK_ITERS}
"""


@register("brand_pagerank", oracle=_PAGERANK_SQL, category="graph")
def brand_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank ({PAGERANK_ITERS} power iterations, damping 0.85) on the
    undirected brand co-purchase graph (same supported edge set as
    ``triangle_count_brand_graph``: pairs in >=2% of brand-bearing orders,
    canonical edges mirrored into both directions). Completes the
    distributed-graph trio — connectivity (dedup_components), density
    (triangles), and now centrality — with a FULL value oracle: every
    iteration is the same join-aggregate in Spark and DuckDB, and only the
    final rank is rounded (6 dp; the graph is brand-domain-sized, so
    cross-engine fp drift is ~1e-15, far inside the rounding guard).

    Scale shape: each iteration is rank ⋈ edges on src (a hash join keyed
    on the vertex) followed by a sum keyed on dst — the standard
    message-passing round, map-side combinable, no vertex ever holds more
    state than one double. The iteration count is fixed (not
    convergence-probed), so the driver loop adds no control-plane
    collects; lineage stays 3 plans deep, below any checkpoint need. On a
    real cluster the edge list is hash-partitioned on src once and reused
    every round (here the graph is dimension-sized, so Spark broadcasts
    the rank side instead — either way, no shuffle of the big table
    repeats per round). Undirected degree >= 1 everywhere, so there is no
    dangling-mass term.
    """
    bsk = _brand_baskets(spark, sf_dir)
    e0 = _supported_brand_edges(bsk)
    e = e0.select(F.col("a").alias("src"), F.col("b").alias("dst")).unionAll(
        e0.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    )
    # Dimension-sized graph: materialize once so the 3 iterations reuse one
    # computed edge list instead of re-deriving the basket self-join per round.
    e = checkpoint_pinned(e)
    deg = e.groupBy("src").agg(F.count(F.lit(1)).cast("double").alias("d"))
    n = deg.agg(F.count(F.lit(1)).cast("double").alias("nn"))
    ranks = deg.crossJoin(F.broadcast(n)).select(
        F.col("src").alias("v"), (F.lit(1.0) / F.col("nn")).alias("r")
    )
    edeg = e.join(deg, "src")
    for _ in range(PAGERANK_ITERS):
        contrib = edeg.join(ranks, edeg["src"] == ranks["v"]).select(
            F.col("dst"), (F.col("r") / F.col("d")).alias("c")
        )
        ranks = (
            contrib.groupBy("dst")
            .agg(F.sum("c").alias("s"))
            .crossJoin(F.broadcast(n))
            .select(
                F.col("dst").alias("v"),
                (
                    (1.0 - PAGERANK_DAMPING) / F.col("nn")
                    + PAGERANK_DAMPING * F.col("s")
                ).alias("r"),
            )
        )
    return ranks.select(
        F.col("v").alias("brand"), F.round("r", 6).alias("pagerank")
    )


# ---------------------------------------------------------------------------
# A-priori frequent triples (level-2 → level-3 candidate pruning) — round 7
# ---------------------------------------------------------------------------

_TRIPLES_SQL = """
WITH lb AS (
  SELECT DISTINCT l.l_orderkey AS ok, p.p_brand AS b
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
),
nb AS (SELECT count(DISTINCT ok) AS n FROM lb),
fp AS (
  SELECT a.b AS a, b2.b AS b
  FROM lb a JOIN lb b2 ON a.ok = b2.ok AND a.b < b2.b
  GROUP BY 1, 2
  HAVING count(*) * 50 >= (SELECT n FROM nb)
),
cand AS (
  SELECT p1.a AS a, p1.b AS b, p2.b AS c
  FROM fp p1 JOIN fp p2 ON p1.a = p2.a AND p1.b < p2.b
  WHERE EXISTS (SELECT 1 FROM fp p3 WHERE p3.a = p1.b AND p3.b = p2.b)
)
SELECT t1.b AS brand_a, t2.b AS brand_b, t3.b AS brand_c,
       CAST(count(*) AS BIGINT) AS support
FROM lb t1
JOIN lb t2 ON t2.ok = t1.ok AND t1.b < t2.b
JOIN lb t3 ON t3.ok = t1.ok AND t2.b < t3.b
JOIN cand ON cand.a = t1.b AND cand.b = t2.b AND cand.c = t3.b
GROUP BY 1, 2, 3
ORDER BY support DESC, brand_a, brand_b, brand_c
LIMIT 50
"""


@register("frequent_triples_apriori", oracle=_TRIPLES_SQL, category="analytics")
def frequent_triples_apriori(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A-priori level-3 frequent-itemset mining: the top-50 brand triples
    by basket support (deterministic key tie-break), counted ONLY for
    candidates whose three constituent pairs are each ≥2%-frequent — the
    classic downward-closure prune that makes itemset mining feasible at
    scale (the unpruned triple space is |domain|³). Top-K rather than a
    relative floor because triple support FRACTIONS shrink as baskets
    grow (0.59% max at sf0.01, 0.41% at sf0.1) — any fixed floor is
    either vacuous or unselective at some scale. Extends
    ``copurchase_brand_pairs`` (level 2) exactly the way A-priori levels
    compose.

    Scale: candidate generation is a self-join of the FREQUENT-PAIR list
    (domain-sized, broadcast); support counting is a per-basket 3-way
    equi-join on the basket key — the quadratic/cubic term is bounded by
    (brands-per-order choose 3) ≤ 35, never corpus-wide — immediately
    semi-joined against the broadcast candidates so non-candidate triples
    never reach the aggregate. Two corpus shuffles total (distinct + final
    count), both map-side combinable.
    """
    bsk = _brand_baskets(spark, sf_dir)
    fp = _supported_brand_edges(bsk)
    # frequent-pair list feeds the candidate self-join (2 legs) AND the
    # downward-closure prune (3rd leg): derive the pair support once
    fp = checkpoint_pinned(fp)
    cand = (
        fp.alias("p1")
        .join(
            fp.alias("p2"),
            (F.col("p1.a") == F.col("p2.a")) & (F.col("p1.b") < F.col("p2.b")),
        )
        .select(
            F.col("p1.a").alias("ca"),
            F.col("p1.b").alias("cb"),
            F.col("p2.b").alias("cc"),
        )
        .join(
            fp.alias("p3"),
            (F.col("cb") == F.col("p3.a")) & (F.col("cc") == F.col("p3.b")),
            "left_semi",
        )
    )
    triples = (
        _basket_triples(bsk)
        .join(
            F.broadcast(cand),
            (F.col("a") == F.col("ca"))
            & (F.col("b") == F.col("cb"))
            & (F.col("c") == F.col("cc")),
            "left_semi",
        )
        .groupBy(
            F.col("a").alias("brand_a"),
            F.col("b").alias("brand_b"),
            F.col("c").alias("brand_c"),
        )
        .agg(F.count(F.lit(1)).alias("support"))
    )
    return triples.orderBy(
        F.col("support").desc(), "brand_a", "brand_b", "brand_c"
    ).limit(50)


# ---------------------------------------------------------------------------
# Gaps-and-islands: longest consecutive-day streak per user — round 7
# ---------------------------------------------------------------------------

_STREAK_SQL = """
WITH days AS (
  SELECT DISTINCT user_id,
         CAST(floor(epoch(ts) / 86400) AS BIGINT) AS eday
  FROM events
),
isl AS (
  SELECT user_id, eday,
         eday - row_number() OVER (PARTITION BY user_id ORDER BY eday)
           AS island
  FROM days
),
runs AS (
  SELECT user_id, island, CAST(count(*) AS BIGINT) AS run_len
  FROM isl GROUP BY 1, 2
)
SELECT user_id,
       max(run_len) AS longest_streak,
       CAST(sum(run_len) AS BIGINT) AS n_active_days,
       CAST(count(*) AS BIGINT) AS n_streaks
FROM runs GROUP BY user_id
"""


@register("longest_daily_streak", oracle=_STREAK_SQL, category="analytics")
def longest_daily_streak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands on the DATE axis: each user's longest run of
    consecutive active days (plus total active days and streak count) —
    the classic engagement/retention streak metric, and the island
    pattern's calendar form (``dynamic_gap_sessions`` is its
    continuous-time sibling: there the island boundary is a data-driven
    time gap, here it is a missed calendar day). The island key is
    ``epoch_day − row_number`` — constant within a consecutive run,
    strictly integer (epoch-day arithmetic, no date-type rendering in
    the oracle path, timezone-independent by construction).

    Scale: distinct (user, day) collapses map-side; ONE shuffle keys
    everything by user (the window, both aggregates, and the island
    grouping all share that partitioning — co-partitioned, no further
    exchange); per-user state is active-day-sized.
    """
    ev = read_table(spark, sf_dir, "events")
    days = ev.select(
        "user_id",
        F.floor(F.unix_timestamp("ts") / 86400).cast("long").alias("eday"),
    ).distinct()
    w = W.partitionBy("user_id").orderBy("eday")
    isl = days.select(
        "user_id",
        "eday",
        (F.col("eday") - F.row_number().over(w)).alias("island"),
    )
    runs = isl.groupBy("user_id", "island").agg(
        F.count(F.lit(1)).alias("run_len")
    )
    return runs.groupBy("user_id").agg(
        F.max("run_len").alias("longest_streak"),
        F.sum("run_len").cast("long").alias("n_active_days"),
        F.count(F.lit(1)).cast("long").alias("n_streaks"),
    )


# ---------------------------------------------------------------------------
# Next-event Markov transition matrix — round 7
# ---------------------------------------------------------------------------

_TRANSITION_SQL = """
WITH seq AS (
  SELECT user_id, event_type,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS next_type
  FROM events
),
cells AS (
  SELECT event_type AS from_type, next_type AS to_type,
         CAST(count(*) AS BIGINT) AS n
  FROM seq WHERE next_type IS NOT NULL
  GROUP BY 1, 2
),
r AS (SELECT from_type, sum(n) AS rn FROM cells GROUP BY 1)
SELECT cells.from_type, cells.to_type, cells.n,
       round(CAST(cells.n AS DOUBLE) / CAST(r.rn AS DOUBLE), 6) AS p
FROM cells JOIN r USING (from_type)
"""


@register("event_transition_matrix", oracle=_TRANSITION_SQL, category="analytics")
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over each user's event
    sequence: P(next = b | current = a) with exact transition counts —
    the behavioral model behind next-action prediction, anomaly scoring
    (improbable transitions), and journey visualization; the
    free-structure complement of ``event_funnel``'s FIXED sequence. The
    (ts, event_id) order key makes ties deterministic, so counts are
    engine-exact.

    Scale: lead() runs in user-partitioned windows (one shuffle, per-user
    state); the transition aggregate combines map-side into event-type²
    cells; row-marginal normalization joins on the domain-sized table.
    A k-th-order chain is the same plan with a composite (lag₁..lagₖ)
    state key.
    """
    ev = read_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    ).filter(F.col("next_type").isNotNull())
    cells = seq.groupBy(
        F.col("event_type").alias("from_type"),
        F.col("next_type").alias("to_type"),
    ).agg(F.count(F.lit(1)).alias("n"))
    # row marginal as a partitioned window over the type² cell table —
    # joining a re-aggregate back would re-derive the whole upstream
    # window branch in the plan (two Windows, five exchanges, measured);
    # this form keeps ONE data-sized window and needs no join at all
    rn = F.sum("n").over(W.partitionBy("from_type"))
    return cells.select(
        "from_type",
        "to_type",
        "n",
        F.round(F.col("n").cast("double") / rn.cast("double"), 6).alias("p"),
    )


# ---------------------------------------------------------------------------
# Second-order sequence mining: top event trigram paths — round 7
# ---------------------------------------------------------------------------

_TRIGRAM_PATH_SQL = """
WITH seq AS (
  SELECT event_type AS a,
         lead(event_type, 1) OVER w AS b,
         lead(event_type, 2) OVER w AS c
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT a, b, c, CAST(count(*) AS BIGINT) AS n
FROM seq WHERE c IS NOT NULL
GROUP BY 1, 2, 3
ORDER BY n DESC, a, b, c
LIMIT 20
"""


@register("event_trigram_paths", oracle=_TRIGRAM_PATH_SQL, category="analytics")
def event_trigram_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second-order sequence mining: the top-20 three-step event paths —
    the k=2 instantiation of the composite-lag state key the first-order
    transition matrix's docstring promises (``event_transition_matrix``),
    and the raw material for journey analysis beyond single transitions.
    Deterministic (ts, event_id) ordering and a key tie-break on the
    top-20 keep the output exact.

    Scale: ONE user-partitioned window pass produces both leads (shared
    sort, shared shuffle); the path aggregate combines map-side into
    type³ cells; TakeOrderedAndProject gives the top-20 without a global
    sort.
    """
    ev = read_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("a"),
        F.lead("event_type", 1).over(w).alias("b"),
        F.lead("event_type", 2).over(w).alias("c"),
    ).filter(F.col("c").isNotNull())
    return (
        seq.groupBy("a", "b", "c")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "a", "b", "c")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Last-touch marketing attribution (round 10)
# ---------------------------------------------------------------------------

ATTRIB_WINDOW_DAYS = 7

_LAST_TOUCH_SQL = f"""
WITH touched AS (
  SELECT event_type, value,
         last_value(CASE WHEN event_type <> 'purchase' THEN event_type END
                    IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS touch_type,
         last_value(CASE WHEN event_type <> 'purchase' THEN ts END
                    IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS touch_ts,
         ts
  FROM events
)
SELECT coalesce(CASE WHEN touch_ts >= ts - INTERVAL {ATTRIB_WINDOW_DAYS} DAY
                     THEN touch_type END, 'direct') AS touch_type,
       CAST(count(*) AS BIGINT) AS n_purchases,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0
         AS attributed_value
FROM touched
WHERE event_type = 'purchase'
GROUP BY 1
"""


@register("last_touch_attribution", oracle=_LAST_TOUCH_SQL, category="analytics")
def last_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch marketing attribution: every purchase's value is credited
    to the user's most recent preceding NON-purchase event (the "touch")
    if it happened within {ATTRIB_WINDOW_DAYS} days, else to 'direct' —
    the revenue-accounting query behind every channel-ROI dashboard, and
    the aggregate complement of the row-level as-of joins
    (``order_next_event_asof`` / ``purchase_asof_signup``): here the
    as-of lookup is WITHIN one stream, so it needs no join at all, just
    an IGNORE-NULLS running ``last`` over the user timeline.

    The touch (type, ts) pair is taken by two ``last(..., ignorenulls)``
    window calls over the same predicate and frame — both pick their
    value from the same row (the last non-purchase predecessor), keeping
    the pair consistent without a struct (which the driver's pandas
    canonicalization can't sort). Ties break by (ts, event_id), the
    repo-wide deterministic event order.

    Scale: ONE shuffle on user_id, one linear frame pass per user, then
    a 5-group combine aggregate — the same cost envelope as
    ``event_session_ids``; no self-join, no unpartitioned window. At
    100 TB the user-key shuffle is the floor for any per-user timeline
    op, and a range-join reformulation would only add work.
    """
    ev = read_table(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    non_purchase = F.col("event_type") != "purchase"
    touched = ev.select(
        "event_type",
        "value",
        "ts",
        F.last(F.when(non_purchase, F.col("event_type")), ignorenulls=True)
        .over(w)
        .alias("touch_type_raw"),
        F.last(F.when(non_purchase, F.col("ts")), ignorenulls=True)
        .over(w)
        .alias("touch_ts"),
    )
    in_window = F.col("touch_ts") >= F.col("ts") - F.expr(
        f"INTERVAL {ATTRIB_WINDOW_DAYS} DAY"
    )
    return (
        touched.filter(F.col("event_type") == "purchase")
        .select(
            F.coalesce(
                F.when(in_window, F.col("touch_type_raw")), F.lit("direct")
            ).alias("touch_type"),
            "value",
        )
        .groupBy("touch_type")
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            money_sum("value").alias("attributed_value"),
        )
    )


# ---------------------------------------------------------------------------
# Watermark delay audit (round 10)
# ---------------------------------------------------------------------------

WATERMARK_JITTER_S = 7200  # synthetic transport-delay bound (2 h)

_WATERMARK_SQL = f"""
WITH seq AS (
  SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS es,
         CAST(floor(epoch(ts)) AS BIGINT)
           + CAST(concat('0x', substr(md5(CAST(event_id AS VARCHAR)),
                                      1, 15)) AS BIGINT)
             % {WATERMARK_JITTER_S} AS arrival_es
  FROM events
),
run AS (
  SELECT es,
         max(es) OVER (PARTITION BY user_id ORDER BY arrival_es, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS run_max
  FROM seq
),
late AS (
  SELECT CAST(run_max - es AS BIGINT) AS late_s FROM run
),
binned AS (
  SELECT CASE WHEN late_s = 0 THEN 0
              WHEN late_s <= 60 THEN 1
              WHEN late_s <= 900 THEN 2
              WHEN late_s <= 3600 THEN 3
              ELSE 4 END AS bin_id,
         CASE WHEN late_s = 0 THEN 'in-order'
              WHEN late_s <= 60 THEN '<=1m'
              WHEN late_s <= 900 THEN '<=15m'
              WHEN late_s <= 3600 THEN '<=1h'
              ELSE '>1h' END AS lateness_bin
  FROM late
),
counted AS (
  SELECT bin_id, lateness_bin, CAST(count(*) AS BIGINT) AS n_events
  FROM binned GROUP BY bin_id, lateness_bin
),
tot AS (SELECT CAST(sum(n_events) AS BIGINT) AS t FROM counted)
SELECT bin_id, lateness_bin, n_events,
       round(CAST(n_events AS DOUBLE) / t, 4) AS share,
       round(CAST(sum(n_events) OVER (ORDER BY bin_id) AS DOUBLE) / t, 4)
         AS cum_share
FROM counted, tot
"""


@register("watermark_delay_audit", oracle=_WATERMARK_SQL, category="streaming")
def watermark_delay_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark selection audit: how out-of-order does the event stream
    arrive? Lateness of an event = (running max event time over the
    ARRIVAL order within the user) minus its own event time — exactly
    the quantity a Structured Streaming watermark must exceed for the
    engine to keep the event rather than drop it. The audit bins
    lateness (in-order / ≤1m / ≤15m / ≤1h / >1h) and emits per-bin
    counts with cumulative coverage, so the streaming pillar's
    `withWatermark` threshold is chosen from MEASURED disorder (smallest
    bin with cum_share ≥ target completeness), not guessed — the same
    measure-then-configure discipline as ``join_key_skew_audit``'s salt
    factor. Measured at sf0.01: 97.17% in-order, 98.16% within 15m,
    99.74% within 1h, 0.26% beyond — a 1-hour watermark loses 26 events
    in 10,000; complete capture needs the full 2 h jitter bound.

    The testdata carries no arrival column (event time IS generation
    order), so arrival is simulated as ts + a DETERMINISTIC portable
    transport jitter — md5(event_id) mod {WATERMARK_JITTER_S} seconds —
    identical in both engines; with median per-user inter-event gaps of
    ~7 h and p10 ≈ 69 min, a 2 h jitter bound reorders ~3% of events,
    the realistic mobile/offline-upload shape. On real data the jitter
    column is replaced by the ingest timestamp and nothing else changes.

    The cumulative share rides a 5-row window over the bin table (axis-
    sized, disclosed: the window partitions a 5-row aggregate, never raw
    data — same class as bench.SINGLE_PARTITION_WINDOW_OK's dimension
    windows, and executes on a broadcastable input).

    Scale: one user-key shuffle for the running-max frame (the per-user
    timeline floor), one 5-group combine, one 5-row window — nothing
    else grows with data. At 100 TB this runs as a daily job whose
    output directly sets the production watermark.
    """
    ev = read_table(spark, sf_dir, "events")
    es = F.unix_timestamp("ts")
    jitter = F.pmod(
        md5_int(F.col("event_id").cast("string"), 15), F.lit(WATERMARK_JITTER_S)
    )
    seq = ev.select(
        "user_id",
        "event_id",
        es.alias("es"),
        (es + jitter).alias("arrival_es"),
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("arrival_es", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    late = seq.select(
        (F.max("es").over(w) - F.col("es")).cast("long").alias("late_s")
    )
    bin_id = (
        F.when(F.col("late_s") == 0, 0)
        .when(F.col("late_s") <= 60, 1)
        .when(F.col("late_s") <= 900, 2)
        .when(F.col("late_s") <= 3600, 3)
        .otherwise(4)
    )
    bin_label = (
        F.when(F.col("late_s") == 0, "in-order")
        .when(F.col("late_s") <= 60, "<=1m")
        .when(F.col("late_s") <= 900, "<=15m")
        .when(F.col("late_s") <= 3600, "<=1h")
        .otherwise(">1h")
    )
    counted = (
        late.select(bin_id.alias("bin_id"), bin_label.alias("lateness_bin"))
        .groupBy("bin_id", "lateness_bin")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    tot = F.broadcast(
        counted.agg(F.sum("n_events").cast("long").alias("t"))
    )
    cum_w = W.orderBy("bin_id").rowsBetween(W.unboundedPreceding, W.currentRow)
    return counted.crossJoin(tot).select(
        "bin_id",
        "lateness_bin",
        "n_events",
        F.round(F.col("n_events").cast("double") / F.col("t"), 4).alias("share"),
        F.round(
            F.sum("n_events").over(cum_w).cast("double") / F.col("t"), 4
        ).alias("cum_share"),
    )


# ---------------------------------------------------------------------------
# Seasonal anomaly detection on the daily revenue series — round 10
# ---------------------------------------------------------------------------

_SEASONAL_ANOMALY_SQL = """
WITH daily AS (
  SELECT CAST(floor(epoch(o_orderdate) / 86400) AS BIGINT) AS eday,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS rev_c
  FROM orders GROUP BY 1
),
dw AS (SELECT eday, rev_c, eday % 7 AS dow FROM daily),
med AS (
  SELECT dow,
         CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY rev_c) AS BIGINT)
           AS m
  FROM dw GROUP BY dow
),
resid AS (
  SELECT dw.eday, dw.dow, dw.rev_c, dw.rev_c - med.m AS r
  FROM dw JOIN med ON med.dow = dw.dow
),
rm AS (
  SELECT CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY r) AS BIGINT)
           AS rmed
  FROM resid
),
mad AS (
  SELECT CAST(percentile_disc(0.5)
              WITHIN GROUP (ORDER BY abs(resid.r - rm.rmed)) AS BIGINT)
           AS mad_c
  FROM resid, rm
)
SELECT resid.dow AS dow,
       CAST(count(*) AS BIGINT) AS n_days,
       CAST(max(med.m) AS DOUBLE) / 100.0 AS median_rev,
       CAST(count(*) FILTER (
              WHERE abs(resid.r - rm.rmed) > 3 * mad.mad_c) AS BIGINT)
         AS n_anomalies,
       CAST(max(abs(resid.r - rm.rmed)) AS DOUBLE) / 100.0 AS max_abs_dev
FROM resid
JOIN med ON med.dow = resid.dow
CROSS JOIN rm CROSS JOIN mad
GROUP BY resid.dow
"""


@register("seasonal_anomaly_days", oracle=_SEASONAL_ANOMALY_SQL, category="analytics")
def seasonal_anomaly_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality-aware anomaly screen on the daily revenue series: the
    day-of-week median is the seasonal profile, each day's residual is
    its deviation from that profile, and days whose residual sits more
    than 3 robust sigmas (3 x MAD of the residuals) from the residual
    median are flagged — the dashboard alert that a raw 3-sigma fence
    (quantity_higher_moments) fires spuriously every weekend because it
    cannot separate seasonality from signal. Day-of-week is epoch-day
    mod 7 (pure integer, no locale-sensitive dayname in either engine);
    all rank statistics run on exact int64 cents (``mad_robust_stats``
    discipline), so the per-dow anomaly counts are exact in any engine.

    The reference has no time-series surface at all (its analysis stops
    at static label distributions, utils/preprocessing_testing_utils.py:
    55-58); this is the operations-monitoring composition of its daily
    aggregation building blocks.

    Scale: the orders scan collapses map-side to one row per day (years
    x 365 rows at ANY fact scale), so everything downstream — the 7-row
    dow medians, the global residual median/MAD, the fence counts — is
    axis-sized work on a table that fits in one partition. One fact
    scan, one shuffle to the day grain; the joins broadcast 7-row and
    1-row tables. At sf0.01: 2399 day rows from 15k orders, 7 output
    rows, ~0.5s.
    """
    orders = read_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.floor(F.unix_timestamp("o_orderdate") / 86400)
        .cast("long")
        .alias("eday")
    ).agg(F.sum(cents("o_totalprice")).cast("long").alias("rev_c"))
    dw = checkpoint_pinned(
        daily.withColumn("dow", (F.col("eday") % 7).cast("long"))
    )
    med = dw.groupBy("dow").agg(
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY rev_c)")
        .cast("long")
        .alias("m")
    )
    resid = dw.join(F.broadcast(med), "dow").withColumn(
        "r", F.col("rev_c") - F.col("m")
    )
    rm = resid.agg(
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY r)")
        .cast("long")
        .alias("rmed")
    )
    dev = checkpoint_pinned(
        resid.crossJoin(F.broadcast(rm)).withColumn(
            "ad", F.abs(F.col("r") - F.col("rmed"))
        )
    )
    mad = dev.agg(
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY ad)")
        .cast("long")
        .alias("mad_c")
    )
    return (
        dev.crossJoin(F.broadcast(mad))
        .groupBy("dow")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_days"),
            (F.max("m").cast("double") / 100.0).alias("median_rev"),
            F.sum(
                F.when(F.col("ad") > 3 * F.col("mad_c"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_anomalies"),
            (F.max("ad").cast("double") / 100.0).alias("max_abs_dev"),
        )
    )


# ---------------------------------------------------------------------------
# RFM customer segmentation via broadcast quantile thresholds — round 10
# ---------------------------------------------------------------------------

# Quartile thresholds are exact order statistics (percentile_disc over
# BIGINT recency-days / order counts / money cents); scores are pure CASE
# arithmetic against the broadcast 1-row threshold table. The per-segment
# averages are exact integer sums divided once, rounded at 6.
_RFM_SQL = """
WITH percust AS (
  SELECT o_custkey AS custkey,
         max(o_orderdate) AS last_order,
         CAST(count(*) AS BIGINT) AS freq,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS monet
  FROM orders GROUP BY o_custkey
),
gmax AS (SELECT max(last_order) AS g FROM percust),
rfm AS (
  SELECT custkey, freq, monet,
         CAST(date_diff('day', last_order, g) AS BIGINT) AS rec
  FROM percust, gmax
),
th AS (
  SELECT
    CAST(percentile_disc(0.25) WITHIN GROUP (ORDER BY rec) AS BIGINT) AS r1,
    CAST(percentile_disc(0.5)  WITHIN GROUP (ORDER BY rec) AS BIGINT) AS r2,
    CAST(percentile_disc(0.75) WITHIN GROUP (ORDER BY rec) AS BIGINT) AS r3,
    CAST(percentile_disc(0.25) WITHIN GROUP (ORDER BY freq) AS BIGINT) AS f1,
    CAST(percentile_disc(0.5)  WITHIN GROUP (ORDER BY freq) AS BIGINT) AS f2,
    CAST(percentile_disc(0.75) WITHIN GROUP (ORDER BY freq) AS BIGINT) AS f3,
    CAST(percentile_disc(0.25) WITHIN GROUP (ORDER BY monet) AS BIGINT) AS m1,
    CAST(percentile_disc(0.5)  WITHIN GROUP (ORDER BY monet) AS BIGINT) AS m2,
    CAST(percentile_disc(0.75) WITHIN GROUP (ORDER BY monet) AS BIGINT) AS m3
  FROM rfm
),
scored AS (
  SELECT rec, freq, monet,
         4 - ((CASE WHEN rec > r1 THEN 1 ELSE 0 END)
            + (CASE WHEN rec > r2 THEN 1 ELSE 0 END)
            + (CASE WHEN rec > r3 THEN 1 ELSE 0 END)) AS r_score,
         1 + ((CASE WHEN freq > f1 THEN 1 ELSE 0 END)
            + (CASE WHEN freq > f2 THEN 1 ELSE 0 END)
            + (CASE WHEN freq > f3 THEN 1 ELSE 0 END)) AS f_score,
         1 + ((CASE WHEN monet > m1 THEN 1 ELSE 0 END)
            + (CASE WHEN monet > m2 THEN 1 ELSE 0 END)
            + (CASE WHEN monet > m3 THEN 1 ELSE 0 END)) AS m_score
  FROM rfm, th
)
SELECT CAST(r_score * 100 + f_score * 10 + m_score AS BIGINT) AS segment,
       CAST(count(*) AS BIGINT) AS n_customers,
       CAST((sum(rec) * 2000000 + count(*)) // (2 * count(*)) AS DOUBLE)
         / 1000000 AS avg_recency_days,
       CAST((sum(freq) * 2000000 + count(*)) // (2 * count(*)) AS DOUBLE)
         / 1000000 AS avg_frequency,
       CAST((sum(monet) * 20000 + count(*)) // (2 * count(*)) AS DOUBLE)
         / 1000000 AS avg_monetary
FROM scored
GROUP BY r_score * 100 + f_score * 10 + m_score
"""


@register("rfm_customer_segments", oracle=_RFM_SQL, category="analytics")
def rfm_customer_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM (recency / frequency / monetary) customer segmentation — the
    classic lifecycle-marketing cut, built the way it must be at 100 TB:
    quartile SCORES come from exact percentile_disc THRESHOLDS broadcast
    as one row and applied as CASE arithmetic, NOT from a global ntile
    window (``ntile_customer_deciles`` is the disclosed single-partition
    contrast; threshold binning is its scalable replacement — ties land
    in one bin instead of being split by rank, which is also the more
    defensible segmentation semantics). Segment code = R·100+F·10+M,
    R counts DOWN with recency-days (4 = most recent).

    Plan: one fact scan → per-customer combine (pinned; global max
    orderdate is derived as max-of-maxes from the same table, no second
    scan) → two broadcast 1-row joins (global max, thresholds) → final
    ≤64-key segment aggregate. Everything after the first combine runs
    on the customer dimension."""
    percust = checkpoint_pinned(
        read_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("custkey"))
        .agg(
            F.max("o_orderdate").alias("last_order"),
            F.count(F.lit(1)).cast("long").alias("freq"),
            F.sum(cents("o_totalprice")).cast("long").alias("monet"),
        )
    )
    gmax = percust.agg(F.max("last_order").alias("g"))
    rfm = percust.crossJoin(F.broadcast(gmax)).select(
        "custkey",
        "freq",
        "monet",
        F.datediff(F.col("g"), F.col("last_order")).cast("long").alias("rec"),
    )
    th = rfm.agg(
        *[
            F.expr(f"percentile_disc({p}) WITHIN GROUP (ORDER BY {m})")
            .cast("long")
            .alias(f"{m[0]}{i}")
            for m in ("rec", "freq", "monet")
            for i, p in ((1, 0.25), (2, 0.5), (3, 0.75))
        ]
    )

    def score(metric: str, letter: str):
        hits = sum(
            F.when(F.col(metric) > F.col(f"{letter}{i}"), 1).otherwise(0)
            for i in (1, 2, 3)
        )
        return (4 - hits) if metric == "rec" else (1 + hits)

    scored = rfm.crossJoin(F.broadcast(th)).select(
        "rec",
        "freq",
        "monet",
        score("rec", "r").alias("r_score"),
        score("freq", "f").alias("f_score"),
        score("monet", "m").alias("m_score"),
    )
    return (
        scored.groupBy(
            (
                F.col("r_score") * 100 + F.col("f_score") * 10 + F.col("m_score")
            )
            .cast("long")
            .alias("segment")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            # exact half-up micro-unit averages (BIGINT `div`, no double
            # round): power-of-two segment sizes make terminating-decimal
            # averages COMMON, and a true 5 at the 7th digit splits
            # Spark's decimal-string HALF_UP from DuckDB's binary round
            (
                F.expr("(sum(rec) * 2000000 + count(1)) div (2 * count(1))")
                .cast("double")
                / 1000000
            ).alias("avg_recency_days"),
            (
                F.expr("(sum(freq) * 2000000 + count(1)) div (2 * count(1))")
                .cast("double")
                / 1000000
            ).alias("avg_frequency"),
            (
                F.expr("(sum(monet) * 20000 + count(1)) div (2 * count(1))")
                .cast("double")
                / 1000000
            ).alias("avg_monetary"),
        )
    )


# ---------------------------------------------------------------------------
# Daily-revenue autocorrelation function — round 10
# ---------------------------------------------------------------------------

ACF_MAX_LAG = 10

# Pearson ACF per lag from six DECIMAL(38,0) power sums over the lag-joined
# day axis (Σr² crosses int64 near 10^9 daily cents — sf0.1 already sits at
# ~10^9/day); the correlation double happens once per lag, rounded at 6.
_ACF_SQL = f"""
WITH daily AS (
  SELECT (epoch(CAST(o_orderdate AS DATE)) // 86400) AS day,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS r
  FROM orders GROUP BY 1
),
lagged AS (
  SELECT d2.day - d1.day AS lag, d1.r AS x, d2.r AS y
  FROM daily d1 JOIN daily d2
    ON d2.day - d1.day BETWEEN 1 AND {ACF_MAX_LAG}
),
s AS (
  SELECT lag, CAST(count(*) AS BIGINT) AS n_days,
         sum(CAST(x AS DECIMAL(38,0))) AS sx,
         sum(CAST(y AS DECIMAL(38,0))) AS sy,
         sum(CAST(x AS DECIMAL(38,0)) * CAST(x AS DECIMAL(38,0))) AS sxx,
         sum(CAST(y AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0))) AS syy,
         sum(CAST(x AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0))) AS sxy
  FROM lagged GROUP BY lag
)
SELECT CAST(lag AS BIGINT) AS lag, n_days,
       round((CAST(n_days AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
           / (sqrt(CAST(n_days AS DOUBLE) * CAST(sxx AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
            * sqrt(CAST(n_days AS DOUBLE) * CAST(syy AS DOUBLE)
                   - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6) AS acf
FROM s
"""


@register("daily_revenue_autocorr", oracle=_ACF_SQL, category="analytics")
def daily_revenue_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function of daily revenue at lags 1..{maxlag} —
    the seasonality/persistence screen run before any forecasting model
    (weekly cadence shows up as an acf[7] spike; white noise sits near
    0 at every lag — this uniform synthetic series is the null case,
    |acf| ≲ 0.05, asserted in pytest alongside a planted-period
    fixture). Pairs pair OBSERVED days only (a gap
    day contributes no pair — at production density the axis is dense;
    gap-fill first via ``daily_value_locf`` if zero-imputation is the
    wanted semantics). Pairs come from a lag self-JOIN on the day axis, Pearson
    per lag from six DECIMAL(38,0) power sums (``corr_covar_price_qty``
    discipline — Σr² crosses int64 near 10^9 cents/day), one double
    division per lag.

    Scale: ONE fact scan collapses to the per-day combine (the axis is
    CALENDAR-bounded — a few thousand rows regardless of data scale);
    the lag join, even if Catalyst picks a nested-loop on the
    non-equi band predicate, is axis² ≈ 10⁶ comparisons of constant
    cost. At truly long horizons, explode a broadcast lag spine and
    equi-join on day+lag — same result, shuffle-free either way."""
    daily = checkpoint_pinned(
        read_table(spark, sf_dir, "orders")
        .groupBy(
            F.floor(F.unix_timestamp(F.to_date("o_orderdate")) / 86400)
            .cast("long")
            .alias("day")
        )
        .agg(F.sum(cents("o_totalprice")).cast("long").alias("r"))
    )
    d1, d2 = daily.alias("d1"), daily.alias("d2")
    lagged = d1.join(
        d2,
        (F.col("d2.day") - F.col("d1.day") >= 1)
        & (F.col("d2.day") - F.col("d1.day") <= ACF_MAX_LAG),
    ).select(
        (F.col("d2.day") - F.col("d1.day")).alias("lag"),
        F.col("d1.r").alias("x"),
        F.col("d2.r").alias("y"),
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    s = lagged.groupBy("lag").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum(dec("x")).alias("sx"),
        F.sum(dec("y")).alias("sy"),
        F.sum(dec("x") * dec("x")).alias("sxx"),
        F.sum(dec("y") * dec("y")).alias("syy"),
        F.sum(dec("x") * dec("y")).alias("sxy"),
    )
    nd = F.col("n_days").cast("double")
    dx = lambda c: F.col(c).cast("double")  # noqa: E731
    return s.select(
        F.col("lag").cast("long").alias("lag"),
        "n_days",
        F.round(
            (nd * dx("sxy") - dx("sx") * dx("sy"))
            / (
                F.sqrt(nd * dx("sxx") - dx("sx") * dx("sx"))
                * F.sqrt(nd * dx("syy") - dx("sy") * dx("sy"))
            ),
            6,
        ).alias("acf"),
    )


daily_revenue_autocorr.__doc__ = daily_revenue_autocorr.__doc__.format(
    maxlag=ACF_MAX_LAG
)


# ---------------------------------------------------------------------------
# Rolling 7-day median of daily revenue — round 10
# ---------------------------------------------------------------------------

ROLLMED_WINDOW = 7

# Exact order statistic per calendar window via a band self-join on the
# pinned day axis + percentile_disc — Spark has no percentile window
# function, and a collect_list-and-sort window would hold the frame in one
# task; the band join keeps everything combine-shaped and axis-sized.
_ROLLMED_SQL = f"""
WITH daily AS (
  SELECT (epoch(CAST(o_orderdate AS DATE)) // 86400) AS day,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS r
  FROM orders GROUP BY 1
),
win AS (
  SELECT d1.day AS day, d2.r AS r
  FROM daily d1 JOIN daily d2
    ON d2.day BETWEEN d1.day - {ROLLMED_WINDOW - 1} AND d1.day
)
SELECT strftime(DATE '1970-01-01' + CAST(day AS INTEGER), '%Y-%m-%d')
         AS day,
       CAST(count(*) AS BIGINT) AS n_days_in_window,
       CAST(CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY r) AS BIGINT)
            AS DOUBLE) / 100 AS median_revenue
FROM win GROUP BY day
"""


@register("rolling_median_revenue", oracle=_ROLLMED_SQL, category="analytics")
def rolling_median_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling {w}-day MEDIAN of daily revenue — the robust companion of
    ``rolling_7d_user_value``'s rolling sums (a single spiked day drags a
    mean for a week; the median shrugs it off, which is why ops
    dashboards overlay both). Spark has no percentile WINDOW function and
    a collect_list-in-frame window serializes the frame per row, so the
    engine shape is: pinned per-day aggregate → calendar band self-join
    (each day joins its ≤{w} trailing observed days) → exact
    percentile_disc per day. Observed-day semantics as in
    ``daily_revenue_autocorr``.

    Scale: the day axis is calendar-bounded, so the band join is
    axis-sized constant work regardless of fact scale; the one fact scan
    collapses map-side to the axis. Median cents is an exact order
    statistic (percentile_disc), divided once for display."""
    daily = checkpoint_pinned(
        read_table(spark, sf_dir, "orders")
        .groupBy(
            F.floor(F.unix_timestamp(F.to_date("o_orderdate")) / 86400)
            .cast("long")
            .alias("day")
        )
        .agg(F.sum(cents("o_totalprice")).cast("long").alias("r"))
    )
    d1, d2 = daily.alias("d1"), daily.alias("d2")
    win = d1.join(
        d2,
        (F.col("d2.day") >= F.col("d1.day") - (ROLLMED_WINDOW - 1))
        & (F.col("d2.day") <= F.col("d1.day")),
    ).select(F.col("d1.day").alias("day"), F.col("d2.r").alias("r"))
    return (
        win.groupBy("day")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_days_in_window"),
            (
                F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY r)")
                .cast("long")
                .cast("double")
                / 100
            ).alias("median_revenue"),
        )
        .select(
            # pure DATE arithmetic — a timestamp_seconds round-trip would
            # re-enter the session timezone (TZ-probe caught the events
            # variant under a vanilla non-UTC session)
            F.date_format(
                F.date_add(
                    F.to_date(F.lit("1970-01-01")), F.col("day").cast("int")
                ),
                "yyyy-MM-dd",
            ).alias("day"),
            "n_days_in_window",
            "median_revenue",
        )
    )


rolling_median_revenue.__doc__ = rolling_median_revenue.__doc__.format(
    w=ROLLMED_WINDOW
)


# ---------------------------------------------------------------------------
# Global clustering coefficient on the brand co-purchase graph — round 10
# ---------------------------------------------------------------------------

_CLUSTERING_SQL = """
WITH lb AS (
  SELECT DISTINCT l.l_orderkey AS ok, p.p_brand AS b
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
),
e AS (
  SELECT a.b AS a, b2.b AS b
  FROM lb a JOIN lb b2 ON a.ok = b2.ok AND a.b < b2.b
  GROUP BY a.b, b2.b
  HAVING count(*) * 50 >= (SELECT count(DISTINCT ok) FROM lb)
),
deg AS (
  SELECT v, CAST(count(*) AS BIGINT) AS d
  FROM (SELECT a AS v FROM e UNION ALL SELECT b AS v FROM e)
  GROUP BY v
),
agg AS (
  SELECT
    (SELECT CAST(count(*) AS BIGINT) FROM e) AS n_edges,
    (SELECT CAST(sum(d * (d - 1) // 2) AS BIGINT) FROM deg) AS n_wedges,
    (SELECT CAST(count(*) AS BIGINT)
     FROM e e1 JOIN e e2 ON e2.a = e1.b
               JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b) AS n_triangles
)
SELECT n_edges, n_wedges, n_triangles,
       round(3.0 * n_triangles / n_wedges, 6) AS global_clustering
FROM agg
"""


@register(
    "brand_graph_clustering_coeff", oracle=_CLUSTERING_SQL, category="graph"
)
def brand_graph_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global clustering coefficient C = 3·triangles / wedges on the brand
    co-purchase graph — the community-density summary that completes the
    graph-metrics family (``dedup_components`` connectivity,
    ``brand_pagerank`` centrality, ``triangle_count_brand_graph`` raw
    triangles): C near the edge density means no community structure
    beyond chance; C ≫ density means cliquish purchase behavior. Wedges
    come from the degree table (Σ d·(d−1)/2 — integer `div`, exact);
    triangles from the canonical a<b oriented two-hop equi-join; one
    double division at the end.

    Scale: the same pinned supported-edge derivation as the triangle
    query (six consumers, one materialization); everything downstream is
    vertex-/edge-table-sized. Wedge counting is a pure combine over
    exploded edge endpoints — no join."""
    bsk = _brand_baskets(spark, sf_dir)
    e = checkpoint_pinned(_supported_brand_edges(bsk))
    n_edges = e.agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
    deg = (
        e.select(F.col("a").alias("v"))
        .unionAll(e.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).cast("long").alias("d"))
    )
    n_wedges = deg.agg(
        F.sum(F.expr("d * (d - 1) div 2")).cast("long").alias("n_wedges")
    )
    e1, e2, e3 = e.alias("e1"), e.alias("e2"), e.alias("e3")
    n_triangles = (
        e1.join(e2, F.col("e2.a") == F.col("e1.b"))
        .join(
            e3,
            (F.col("e3.a") == F.col("e1.a")) & (F.col("e3.b") == F.col("e2.b")),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
    )
    return (
        n_edges.crossJoin(F.broadcast(n_wedges))
        .crossJoin(F.broadcast(n_triangles))
        .select(
            "n_edges",
            "n_wedges",
            "n_triangles",
            F.round(
                3.0 * F.col("n_triangles") / F.col("n_wedges"), 6
            ).alias("global_clustering"),
        )
    )


# ---------------------------------------------------------------------------
# Rolling 7-day DISTINCT users — round 10
# ---------------------------------------------------------------------------

ROLLDIST_WINDOW = 7

_ROLLDIST_SQL = f"""
WITH du AS (
  SELECT DISTINCT (epoch(CAST(ts AS DATE)) // 86400) AS day, user_id
  FROM events
),
spine AS (SELECT DISTINCT day FROM du),
win AS (
  SELECT s.day AS day, d.user_id
  FROM spine s JOIN du d
    ON d.day BETWEEN s.day - {ROLLDIST_WINDOW - 1} AND s.day
)
SELECT strftime(DATE '1970-01-01' + CAST(day AS INTEGER), '%Y-%m-%d')
         AS day,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users_7d
FROM win GROUP BY day
"""


@register(
    "rolling_7d_distinct_users", oracle=_ROLLDIST_SQL, category="analytics"
)
def rolling_7d_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling {w}-day DISTINCT active users per day — the weekly-active-
    users series, and the canonical NON-SUBTRACTABLE window: distinct
    counts can't slide by add/remove like sums (``rolling_7d_user_value``),
    so the engine shape is per-day distinct (day, user) pairs band-joined
    to the day spine (each day re-unions its ≤{w} trailing days) and
    deduplicated per window — a bounded ×{w} fan-out of the DAY-LEVEL
    distinct table, never of raw events.

    Scale: one fact scan collapses to the (day, user) distinct combine;
    the fan-out and window count-distinct work on that table (days ×
    daily-actives). When ×{w} re-dedup is too hot at 100 TB, the
    mergeable-state alternative is the per-day BITMAP/HLL register
    table (``bitmap_distinct_orders`` / ``hll_incremental_daily``)
    OR-merged over the window — same band join, register-width rows."""
    ev = read_table(spark, sf_dir, "events")
    du = checkpoint_pinned(
        ev.select(
            F.floor(F.unix_timestamp(F.to_date("ts")) / 86400)
            .cast("long")
            .alias("day"),
            "user_id",
        ).distinct()
    )
    spine = du.select("day").distinct()
    win = spine.alias("s").join(
        du.alias("d"),
        (F.col("d.day") >= F.col("s.day") - (ROLLDIST_WINDOW - 1))
        & (F.col("d.day") <= F.col("s.day")),
    ).select(F.col("s.day").alias("day"), F.col("d.user_id").alias("user_id"))
    return (
        win.groupBy("day")
        .agg(F.countDistinct("user_id").cast("long").alias("n_users_7d"))
        .select(
            # pure DATE arithmetic — a timestamp_seconds round-trip would
            # re-enter the session timezone (TZ-probe caught the events
            # variant under a vanilla non-UTC session)
            F.date_format(
                F.date_add(
                    F.to_date(F.lit("1970-01-01")), F.col("day").cast("int")
                ),
                "yyyy-MM-dd",
            ).alias("day"),
            "n_users_7d",
        )
    )


rolling_7d_distinct_users.__doc__ = rolling_7d_distinct_users.__doc__.format(
    w=ROLLDIST_WINDOW
)


# ---------------------------------------------------------------------------
# Seasonal-naive forecast accuracy (MAPE / sMAPE / MASE) — round 10
# ---------------------------------------------------------------------------

FC_SEASON = 7
FC_Q = 10**9  # per-day ratio-term quantization

# Absolute errors are EXACT integer cents; the per-day percentage terms
# are quantized to 1e-9 int64 units before summation; MASE is a pure
# integer ratio (Σ|e7| scaled by counts over Σ|e1|) with one division.
_FC_SQL = f"""
WITH daily AS (
  SELECT (epoch(CAST(o_orderdate AS DATE)) // 86400) AS day,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS r
  FROM orders GROUP BY 1
),
fc AS (
  SELECT a.day, a.r, f.r AS f
  FROM daily a JOIN daily f ON f.day = a.day - {FC_SEASON}
),
nv AS (
  SELECT a.day, abs(a.r - p.r) AS e1
  FROM daily a JOIN daily p ON p.day = a.day - 1
),
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n_days,
         CAST(sum(abs(r - f)) AS BIGINT) AS sum_ae,
         CAST(sum(CAST(floor(CAST(abs(r - f) AS DOUBLE) / r * {FC_Q})
                       AS BIGINT)) AS BIGINT) AS mape_q,
         CAST(sum(CAST(floor(2.0 * abs(r - f) / (r + f) * {FC_Q})
                       AS BIGINT)) AS BIGINT) AS smape_q
  FROM fc
),
nagg AS (
  SELECT CAST(count(*) AS BIGINT) AS n1, CAST(sum(e1) AS BIGINT) AS sum_e1
  FROM nv
)
SELECT agg.n_days,
       round(CAST(agg.mape_q AS DOUBLE) / agg.n_days / {FC_Q} * 100, 6)
         AS mape_pct,
       round(CAST(agg.smape_q AS DOUBLE) / agg.n_days / {FC_Q} * 100, 6)
         AS smape_pct,
       round(CAST(agg.sum_ae AS DOUBLE) / agg.n_days
             / (CAST(nagg.sum_e1 AS DOUBLE) / nagg.n1), 6) AS mase
FROM agg, nagg
"""


@register("forecast_accuracy_naive", oracle=_FC_SQL, category="analytics")
def forecast_accuracy_naive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast-accuracy metrics for the SEASONAL-NAIVE baseline
    (tomorrow = same weekday last week) on daily revenue: MAPE, sMAPE,
    and MASE — the trio every forecasting pipeline reports, and the
    baseline any model must beat before shipping (MASE < 1 means the
    {s}-day seasonal forecaster beats the naive-1 in-sample MAE it is
    scaled by; on this white-noise-ish series it sits near 1, the
    honest reading). Pairs with ``daily_revenue_autocorr`` (which
    detects the seasonality this forecaster would exploit).

    Exactness: absolute errors are exact integer CENTS; the per-day
    percentage terms quantize to 1e-9 int64 units before summation (no
    float accumulation); MASE is one double division of two integer
    ratios. Scale: one fact scan collapses to the calendar-bounded day
    axis; both lag joins are axis-sized equi-joins on day−{s}/day−1."""
    daily = checkpoint_pinned(
        read_table(spark, sf_dir, "orders")
        .groupBy(
            F.floor(F.unix_timestamp(F.to_date("o_orderdate")) / 86400)
            .cast("long")
            .alias("day")
        )
        .agg(F.sum(cents("o_totalprice")).cast("long").alias("r"))
    )
    a, f, p = daily.alias("a"), daily.alias("f"), daily.alias("p")
    fc = a.join(f, F.col("f.day") == F.col("a.day") - FC_SEASON).select(
        F.col("a.r").alias("r"), F.col("f.r").alias("f")
    )
    nv = a.join(p, F.col("p.day") == F.col("a.day") - 1).select(
        F.abs(F.col("a.r") - F.col("p.r")).alias("e1")
    )
    ae = F.abs(F.col("r") - F.col("f"))
    agg = fc.agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum(ae).cast("long").alias("sum_ae"),
        F.sum(
            F.floor(ae.cast("double") / F.col("r") * FC_Q).cast("long")
        )
        .cast("long")
        .alias("mape_q"),
        F.sum(
            F.floor(2.0 * ae / (F.col("r") + F.col("f")) * FC_Q).cast("long")
        )
        .cast("long")
        .alias("smape_q"),
    )
    nagg = nv.agg(
        F.count(F.lit(1)).cast("long").alias("n1"),
        F.sum("e1").cast("long").alias("sum_e1"),
    )
    qd = float(FC_Q)
    return agg.crossJoin(F.broadcast(nagg)).select(
        "n_days",
        F.round(F.col("mape_q").cast("double") / F.col("n_days") / qd * 100, 6)
        .alias("mape_pct"),
        F.round(F.col("smape_q").cast("double") / F.col("n_days") / qd * 100, 6)
        .alias("smape_pct"),
        F.round(
            F.col("sum_ae").cast("double")
            / F.col("n_days")
            / (F.col("sum_e1").cast("double") / F.col("n1")),
            6,
        ).alias("mase"),
    )


forecast_accuracy_naive.__doc__ = forecast_accuracy_naive.__doc__.format(
    s=FC_SEASON
)

"""Statistical-aggregate surface (round 7): correlation/covariance, linear
regression, exact median/mode/percentile order statistics, conditional and
boolean aggregates, distribution windows, entropy, and sorted set-aggregates.

These extend the moments/quantiles suite (relational.py) with the remaining
aggregate families an analytics engine is expected to expose (reference scope:
SURVEY.md §2.3 capability extensions). The engine discipline applies
throughout: any aggregate whose float accumulation order differs between
engines is computed from EXACT integer/decimal power sums with the double
formula applied once per group — `sum(double)` never reaches an oracle hash.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from big_data_medical_analysis_spark.operators.common import (
    cents,
    checkpoint_pinned,
    md5_int,
    weight_below,
)
from big_data_medical_analysis_spark.registry import register
from big_data_medical_analysis_spark.sources.readers import read_table


def _views(spark: SparkSession, sf_dir: str, *names: str) -> None:
    for n in names:
        read_table(spark, sf_dir, n).createOrReplaceTempView(n)


def _exp1_hash() -> Column:
    """Experiment-arm hash ``md5_int(user_id ':exp1')`` shared by the A/B,
    survival, CUPED, power and DiD queries; the arm is its parity."""
    return md5_int(F.concat(F.col("user_id").cast("string"), F.lit(":exp1")))


# ---------------------------------------------------------------------------
# Correlation + covariance from exact sums
# ---------------------------------------------------------------------------

# Dialect-shared: decimal(38,0) sums are exact on both engines (DuckDB sums
# BIGINT into HUGEINT, Spark sums DECIMAL(38,0) exactly); the double formula
# runs once per group on identical inputs, so results are bit-identical —
# unlike the built-in corr()/covar_*() whose double accumulation is
# partition-order-dependent.
_CORR_COVAR_SQL = """
WITH s AS (
  SELECT l_returnflag,
         count(*) AS n,
         sum(CAST(q AS DECIMAL(38,0))) AS sq,
         sum(CAST(p AS DECIMAL(38,0))) AS sp,
         sum(CAST(q * q AS DECIMAL(38,0))) AS sqq,
         sum(CAST(p * p AS DECIMAL(38,0))) AS spp,
         sum(CAST(q * p AS DECIMAL(38,0))) AS sqp
  FROM (SELECT l_returnflag,
               CAST(l_quantity AS BIGINT) AS q,
               CAST(round(l_extendedprice * 100) AS BIGINT) AS p
        FROM lineitem)
  GROUP BY l_returnflag
),
m AS (
  SELECT l_returnflag, n,
         CAST(n AS DOUBLE) AS nd,
         CAST(sq AS DOUBLE) AS sq, CAST(sp AS DOUBLE) AS sp,
         CAST(sqq AS DOUBLE) AS sqq, CAST(spp AS DOUBLE) AS spp,
         CAST(sqp AS DOUBLE) AS sqp
  FROM s
)
SELECT l_returnflag,
       CAST(n AS BIGINT) AS n,
       round((nd * sqp - sq * sp)
             / (sqrt(nd * sqq - sq * sq) * sqrt(nd * spp - sp * sp)),
             9) AS corr_qty_price,
       round((sqp - sq * sp / nd) / nd, 4) AS covar_pop_cents,
       round((sqp - sq * sp / nd) / (nd - 1.0), 4) AS covar_samp_cents
FROM m
"""


@register("corr_covar_price_qty", oracle=_CORR_COVAR_SQL, category="statistics")
def corr_covar_price_qty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation + population/sample covariance of quantity vs
    extended price per returnflag, computed EXACTLY from five decimal(38,0)
    power sums (Σq, Σp, Σq², Σp², Σqp) with the double formulas applied
    once per group — deterministic where built-in ``corr``/``covar_samp``
    accumulate doubles in partition order. Σp² exceeds int64 at sf≥0.1
    (p ≤ 10⁷ cents), hence the decimal accumulator.

    Scale: one map-side-combinable aggregate carrying six narrow
    accumulators per group; decimal(38,0) holds Σp² to ~10³⁸ ≈ 10²⁴ rows.
    """
    _views(spark, sf_dir, "lineitem")
    return spark.sql(_CORR_COVAR_SQL)


# ---------------------------------------------------------------------------
# Linear regression (regr_* family) from exact sums
# ---------------------------------------------------------------------------

# Shared core over a dialect-specific inner select (the engines spell
# datediff differently); x = days since 2024-01-01, y = order cents.
_REGR_CORE = """
WITH xy AS ({inner}),
s AS (
  SELECT o_orderpriority,
         count(*) AS n,
         sum(CAST(x AS DECIMAL(38,0))) AS sx,
         sum(CAST(y AS DECIMAL(38,0))) AS sy,
         sum(CAST(x * x AS DECIMAL(38,0))) AS sxx,
         sum(CAST(x * y AS DECIMAL(38,0))) AS sxy,
         sum(CAST(y AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0))) AS syy
  FROM xy GROUP BY o_orderpriority
),
m AS (
  SELECT o_orderpriority, n, CAST(n AS DOUBLE) AS nd,
         CAST(sx AS DOUBLE) AS sx, CAST(sy AS DOUBLE) AS sy,
         CAST(sxx AS DOUBLE) AS sxx, CAST(sxy AS DOUBLE) AS sxy,
         CAST(syy AS DOUBLE) AS syy
  FROM s
)
SELECT o_orderpriority,
       CAST(n AS BIGINT) AS regr_n,
       round(sx / nd, 6) AS regr_avgx,
       round(sy / nd / 100.0, 4) AS regr_avgy,
       round((nd * sxy - sx * sy) / (nd * sxx - sx * sx), 6) AS slope_cents_per_day,
       round((sy - (nd * sxy - sx * sy) / (nd * sxx - sx * sx) * sx) / nd / 100.0,
             4) AS intercept,
       round(((nd * sxy - sx * sy) * (nd * sxy - sx * sy))
             / ((nd * sxx - sx * sx) * (nd * syy - sy * sy)), 9) AS r2
FROM m
"""

_REGR_INNER_DUCK = """
  SELECT o_orderpriority,
         CAST(datediff('day', DATE '2024-01-01', CAST(o_orderdate AS DATE))
              AS BIGINT) AS x,
         CAST(round(o_totalprice * 100) AS BIGINT) AS y
  FROM orders
"""

_REGR_INNER_SPARK = """
  SELECT o_orderpriority,
         CAST(datediff(CAST(o_orderdate AS DATE), DATE '2024-01-01')
              AS BIGINT) AS x,
         CAST(round(o_totalprice * 100) AS BIGINT) AS y
  FROM orders
"""


@register(
    "regr_price_date_trend",
    oracle=_REGR_CORE.format(inner=_REGR_INNER_DUCK),
    category="statistics",
)
def regr_price_date_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL ``regr_*`` family (slope / intercept / R² / count / avgx /
    avgy) — order price regressed on order date per priority class —
    computed exactly from decimal(38,0) sums (Σx, Σy, Σx², Σxy, Σy²) with
    each closed-form formula applied once per group. Σy² needs the decimal
    accumulator (y ≤ 10⁷ cents overflows int64 by sf0.1); the engines only
    differ in how they spell day-difference, so the core text is shared.

    Scale: identical to any single-pass aggregate — one combine-enabled
    shuffle of seven narrow accumulators per group.
    """
    _views(spark, sf_dir, "orders")
    return spark.sql(_REGR_CORE.format(inner=_REGR_INNER_SPARK))


# ---------------------------------------------------------------------------
# Exact order statistics: median / mode / percentile_disc / percentile_cont
# ---------------------------------------------------------------------------

# Dialect-shared. mode() builtins differ on tie-breaking (Spark's is
# non-deterministic without its 2-arg form, DuckDB's is arbitrary), so the
# mode is stated manually as "smallest most-frequent value" — a pinned
# semantics both engines compute identically. percentile_disc returns the
# exact BIGINT order statistic in DuckDB but DOUBLE in Spark; both sides
# cast to DOUBLE so the driver's pandas canonicalization renders them alike.
_MEDIAN_MODE_SQL = """
WITH qc AS (
  SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS q FROM lineitem
),
m AS (
  SELECT l_returnflag,
         CAST(median(q) AS DOUBLE) AS median_qty,
         CAST(percentile_disc(0.25) WITHIN GROUP (ORDER BY q) AS DOUBLE)
           AS p25_disc,
         round(CAST(percentile_cont(0.75) WITHIN GROUP (ORDER BY q)
                    AS DOUBLE), 6) AS p75_cont
  FROM qc GROUP BY l_returnflag
),
f AS (
  SELECT l_returnflag, q, count(*) AS c FROM qc GROUP BY l_returnflag, q
),
mx AS (
  SELECT l_returnflag, max(c) AS mc FROM f GROUP BY l_returnflag
),
md AS (
  SELECT f.l_returnflag, CAST(min(f.q) AS BIGINT) AS mode_qty
  FROM f JOIN mx ON f.l_returnflag = mx.l_returnflag AND f.c = mx.mc
  GROUP BY f.l_returnflag
)
SELECT m.l_returnflag, m.median_qty, m.p25_disc, m.p75_cont, md.mode_qty
FROM m JOIN md ON m.l_returnflag = md.l_returnflag
"""


@register("median_mode_quantity", oracle=_MEDIAN_MODE_SQL, category="statistics")
def median_mode_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact order statistics per returnflag: ``median``, discrete and
    continuous percentiles (``WITHIN GROUP`` syntax), and the mode pinned
    to deterministic smallest-most-frequent semantics via an explicit
    count/argmax — the one formulation whose tie behavior both engines
    must agree on. Order statistics are rank-based, not float-sum-based,
    so they are oracle-safe without the integer-sums trick.

    Scale: exact grouped percentiles sort within each group — fine at
    dimension-group counts (the group key has 3 values here, each group a
    single-pass quickselect); the fact-scale alternative is
    percentile_approx (approx_price_quantiles). The mode path is two
    map-side-combinable aggregates over (flag, q) with q ≤ 50 distinct
    values — no sort at all.
    """
    _views(spark, sf_dir, "lineitem")
    return spark.sql(_MEDIAN_MODE_SQL)


# ---------------------------------------------------------------------------
# Conditional count + boolean aggregates
# ---------------------------------------------------------------------------

# The oracle spells conditional count with the standard FILTER clause;
# bool_and/bool_or are identical in both dialects.
_BOOL_COUNT_SQL = """
SELECT c_mktsegment,
       CAST(count(*) AS BIGINT) AS n,
       CAST(count(*) FILTER (WHERE c_acctbal < 0.0) AS BIGINT) AS n_negative,
       CAST(count(*) FILTER (WHERE c_acctbal > 9000.0) AS BIGINT) AS n_rich,
       bool_and(c_acctbal > -1000.0) AS all_above_floor,
       bool_or(c_acctbal > 9000.0) AS any_rich
FROM customer
GROUP BY c_mktsegment
"""


@register("bool_count_if_flags", oracle=_BOOL_COUNT_SQL, category="statistics")
def bool_count_if_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional counting (``count_if``) and boolean aggregation
    (``bool_and`` / ``bool_or``) per market segment — the predicate-summary
    aggregates data-quality dashboards are built from. The Spark plan uses
    the dedicated functions; the oracle states the same aggregates with the
    portable ``FILTER`` clause.

    Scale: single map-side-combinable aggregate, one bit/word of state per
    predicate per group.
    """
    cust = read_table(spark, sf_dir, "customer")
    return cust.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n"),
        F.count_if(F.col("c_acctbal") < 0.0).alias("n_negative"),
        F.count_if(F.col("c_acctbal") > 9000.0).alias("n_rich"),
        F.bool_and(F.col("c_acctbal") > -1000.0).alias("all_above_floor"),
        F.bool_or(F.col("c_acctbal") > 9000.0).alias("any_rich"),
    )


# ---------------------------------------------------------------------------
# Distribution windows: percent_rank / cume_dist
# ---------------------------------------------------------------------------

# Dialect-shared; the window order key (cents, orderkey) is unique so every
# rank is deterministic, and the probe filter bounds the output.
_PCT_RANK_SQL = """
WITH o AS (
  SELECT o_orderkey, o_orderpriority,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders WHERE o_custkey < 200
)
SELECT o_orderkey, o_orderpriority,
       round(percent_rank() OVER w, 9) AS pct_rank,
       round(cume_dist() OVER w, 9) AS cume_dist,
       CAST(ntile(4) OVER w AS INTEGER) AS quartile
FROM o
WINDOW w AS (PARTITION BY o_orderpriority ORDER BY cents, o_orderkey)
"""


@register("percent_rank_cume_orders", oracle=_PCT_RANK_SQL, category="window")
def percent_rank_cume_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relative-standing windows — ``percent_rank`` and ``cume_dist`` with
    an ``ntile`` cross-check, per priority class: the distribution-position
    surface the ranking suite (row_number/rank/dense_rank) doesn't cover.
    Both are rank arithmetic, not float accumulation, so rounding is only a
    rendering concern.

    Scale: one shuffle on the partition key, one window pass; the probe
    predicate pushes to the scan.
    """
    _views(spark, sf_dir, "orders")
    return spark.sql(_PCT_RANK_SQL)


# ---------------------------------------------------------------------------
# Shannon entropy of a categorical distribution
# ---------------------------------------------------------------------------

# Dialect-shared: counts are exact ints; each user's entropy sums ≤8 double
# terms (one per event type) — rounded at 6, far above the ~1e-15
# accumulation-order noise of so few terms.
_ENTROPY_SQL = """
WITH c AS (
  SELECT user_id, event_type, count(*) AS c
  FROM events GROUP BY user_id, event_type
),
t AS (
  SELECT user_id, sum(c) AS n FROM c GROUP BY user_id
)
SELECT c.user_id,
       CAST(t.n AS BIGINT) AS n_events,
       CAST(count(*) AS BIGINT) AS n_types,
       round(-sum((CAST(c.c AS DOUBLE) / CAST(t.n AS DOUBLE))
                  * log2(CAST(c.c AS DOUBLE) / CAST(t.n AS DOUBLE))),
             6) AS entropy_bits
FROM c JOIN t ON c.user_id = t.user_id
GROUP BY c.user_id, t.n
"""


@register("event_label_entropy", oracle=_ENTROPY_SQL, category="statistics")
def event_label_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy (bits) of each user's event-type distribution — the
    label-diversity signal curation pipelines threshold on (a user/source
    whose labels are all one class carries no information). Counts are
    exact; the ≤8-term double sum per user is rounded well above its
    accumulation noise.

    Scale: two combine-enabled aggregates on the same key plus a
    co-partitioned join — the second aggregate and join reuse the
    (user_id) partitioning the first established, so one real shuffle.
    """
    _views(spark, sf_dir, "events")
    return spark.sql(_ENTROPY_SQL)


# ---------------------------------------------------------------------------
# Sorted set-aggregates (collect_set → ordered string rendering)
# ---------------------------------------------------------------------------

# The driver's pandas canonicalization cannot sort array cells, so set
# aggregates render as '|'-joined SORTED strings — which is also the only
# deterministic rendering of an unordered set.
_PRIORITY_SETS_SQL = """
SELECT c.c_mktsegment,
       CAST(count(DISTINCT o.o_orderpriority) AS BIGINT) AS n_priorities,
       string_agg(DISTINCT o.o_orderpriority, '|' ORDER BY o.o_orderpriority)
         AS priorities,
       CAST(count(DISTINCT o.o_custkey) AS BIGINT) AS n_buyers
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY c.c_mktsegment
"""


@register("priority_sets_by_segment", oracle=_PRIORITY_SETS_SQL, category="statistics")
def priority_sets_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set aggregation per group — ``collect_set`` rendered as a sorted
    joined string plus distinct counts: the grouped set-valued summary
    (which label values occur per segment) with the only ordering that
    makes an unordered set hashable. The oracle states it with
    ``string_agg(DISTINCT ... ORDER BY ...)``.

    Scale: collect_set state is bounded by the value domain (5 priorities),
    not row count — map-side combine keeps the shuffle payload tiny;
    count(DISTINCT custkey) expands to the standard two-phase distinct
    aggregate.
    """
    orders = read_table(spark, sf_dir, "orders")
    cust = read_table(spark, sf_dir, "customer")
    return (
        orders.join(
            F.broadcast(cust.select("c_custkey", "c_mktsegment")),
            orders["o_custkey"] == F.col("c_custkey"),
        )
        .groupBy("c_mktsegment")
        .agg(
            F.countDistinct("o_orderpriority").alias("n_priorities"),
            F.array_join(
                F.array_sort(F.collect_set("o_orderpriority")), "|"
            ).alias("priorities"),
            F.countDistinct("o_custkey").alias("n_buyers"),
        )
    )


# ---------------------------------------------------------------------------
# Frame value functions: first_value / last_value / nth_value (round 7b)
# ---------------------------------------------------------------------------

# Dialect-shared: the sliding ROWS frame and all three value functions
# behave identically (probed on both engines); the unique (cents, orderkey)
# order makes every frame endpoint deterministic.
_FRAME_VALUES_SQL = """
WITH o AS (
  SELECT o_orderkey, o_orderpriority,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders WHERE o_custkey < 200
)
SELECT o_orderkey, o_orderpriority, cents,
       first_value(cents) OVER w AS frame_first,
       last_value(cents) OVER w AS frame_last,
       nth_value(cents, 3) OVER w AS frame_third
FROM o
WINDOW w AS (PARTITION BY o_orderpriority ORDER BY cents, o_orderkey
             ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING)
"""


@register("frame_value_functions", oracle=_FRAME_VALUES_SQL, category="window")
def frame_value_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The value-extraction window functions over a SLIDING rows frame —
    ``first_value`` / ``last_value`` / ``nth_value`` — whose subtlety is
    that they read the FRAME, not the partition: ``last_value`` over the
    default frame is the famous SQL gotcha (it returns the current row),
    and ``nth_value`` is NULL while the frame holds fewer than n rows.
    The ranking and frame-aggregate suites don't touch this family.

    Scale: one shuffle on the partition key, one linear window pass over a
    bounded 5-row frame; probe filter pushes to the scan.
    """
    _views(spark, sf_dir, "orders")
    return spark.sql(_FRAME_VALUES_SQL)


# ---------------------------------------------------------------------------
# Chi-square test of independence (contingency-table aggregate) — round 7
# ---------------------------------------------------------------------------

_CHISQ_SQL = """
WITH cells AS (
  SELECT e.event_type, c.c_mktsegment AS segment,
         CAST(count(*) AS BIGINT) AS n
  FROM events e JOIN customer c ON e.user_id = c.c_custkey
  GROUP BY 1, 2
),
r AS (SELECT event_type, sum(n) AS rn FROM cells GROUP BY 1),
cl AS (SELECT segment, sum(n) AS cn FROM cells GROUP BY 1),
tot AS (SELECT sum(n) AS nn FROM cells)
SELECT round(sum(
         pow(CAST(cells.n AS DOUBLE)
             - CAST(r.rn AS DOUBLE) * CAST(cl.cn AS DOUBLE) / CAST(tot.nn AS DOUBLE), 2)
         / (CAST(r.rn AS DOUBLE) * CAST(cl.cn AS DOUBLE) / CAST(tot.nn AS DOUBLE))
       ), 6) AS chi2,
       CAST(((SELECT count(*) FROM r) - 1) * ((SELECT count(*) FROM cl) - 1)
            AS BIGINT) AS dof,
       CAST(max(tot.nn) AS BIGINT) AS n_total
FROM cells JOIN r USING (event_type) JOIN cl USING (segment), tot
"""


@register("chisq_event_type_segment", oracle=_CHISQ_SQL, category="statistics")
def chisq_event_type_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square test of independence: is event_type distributed
    independently of the user's market segment? The hypothesis-testing
    aggregate the exploratory layer runs on every categorical pair —
    complements the continuous-variable family (corr/regr) with the
    categorical one. Statistic = Σ (observed − expected)²/expected over the
    event_type × segment contingency table, expected_ij = rowᵢ·colⱼ/N; all
    marginals are exact int64 counts, the only doubles are the final 25-cell
    fold (rounded 6 dp — cross-engine fp drift ~1e-14).

    Scale: one shuffle builds the contingency cells (map-side combinable
    count); marginals are re-aggregates of the CELLS (domain-sized, not
    data-sized), joined back broadcast. The statistic never sees row-level
    data — the same plan profiles a 100 TB fact table. dof = (R−1)(C−1)
    emitted so a consumer can look up the p-value; the CDF itself needs an
    incomplete-gamma, which is numerics, not data processing.
    """
    ev = read_table(spark, sf_dir, "events").select("user_id", "event_type")
    cust = read_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), F.col("c_mktsegment").alias("segment")
    )
    # the contingency table is domain-sized (types × segments ≤ 40 rows)
    # but has SIX downstream consumers (row/col marginals, total, R, C,
    # and the statistic join); unpinned, each consumer re-derives the
    # events scan + join + aggregate (12 parquet scans in the executed
    # plan). checkpoint_pinned materializes the 25-row table once — the
    # same persist-the-derived-table pattern as _brand_baskets.
    cells = checkpoint_pinned(
        ev.join(F.broadcast(cust), "user_id")
        .groupBy("event_type", "segment")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    r = cells.groupBy("event_type").agg(F.sum("n").alias("rn"))
    cl = cells.groupBy("segment").agg(F.sum("n").alias("cn"))
    tot = cells.agg(F.sum("n").alias("nn"))
    nr = r.agg(F.count(F.lit(1)).alias("n_r"))
    nc = cl.agg(F.count(F.lit(1)).alias("n_c"))
    e = (
        F.col("rn").cast("double")
        * F.col("cn").cast("double")
        / F.col("nn").cast("double")
    )
    return (
        cells.join(F.broadcast(r), "event_type")
        .join(F.broadcast(cl), "segment")
        .crossJoin(F.broadcast(tot))
        .agg(
            F.round(
                F.sum(F.pow(F.col("n").cast("double") - e, F.lit(2.0)) / e), 6
            ).alias("chi2"),
            F.max("nn").alias("n_total_raw"),
        )
        .crossJoin(F.broadcast(nr))
        .crossJoin(F.broadcast(nc))
        .select(
            "chi2",
            ((F.col("n_r") - 1) * (F.col("n_c") - 1)).cast("long").alias("dof"),
            F.col("n_total_raw").cast("long").alias("n_total"),
        )
    )


# ---------------------------------------------------------------------------
# Robust statistics: median / MAD / outlier fences — round 7
# ---------------------------------------------------------------------------

# Dialect-shared SQL (both engines run this text verbatim): order statistics
# are rank-based on exact int64 cents, so no float enters until the final
# render; the 3×MAD fence compares integers.
_MAD_SQL = """
WITH oc AS (
  SELECT o_orderpriority AS pri,
         CAST(round(o_totalprice * 100) AS BIGINT) AS c
  FROM orders
),
med AS (
  SELECT pri,
         CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY c) AS BIGINT) AS m
  FROM oc GROUP BY pri
),
dev AS (
  SELECT oc.pri, oc.c, med.m, abs(oc.c - med.m) AS d
  FROM oc JOIN med ON med.pri = oc.pri
),
mad AS (
  SELECT pri,
         CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY d) AS BIGINT)
           AS mad_c
  FROM dev GROUP BY pri
)
SELECT dev.pri AS o_orderpriority,
       CAST(max(dev.m) AS DOUBLE) / 100.0 AS median_value,
       CAST(max(mad.mad_c) AS DOUBLE) / 100.0 AS mad_value,
       CAST(count(*) FILTER (WHERE dev.d > 3 * mad.mad_c) AS BIGINT)
         AS n_outliers,
       CAST(count(*) AS BIGINT) AS n_orders
FROM dev JOIN mad ON mad.pri = dev.pri
GROUP BY dev.pri
"""


@register("mad_robust_stats", oracle=_MAD_SQL, category="statistics")
def mad_robust_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust dispersion per order priority: discrete median, median
    absolute deviation (MAD — the robust stddev), and a 3×MAD outlier
    fence count — the outlier-screening family that mean/stddev
    (quantity_higher_moments) cannot provide because both are themselves
    outlier-sensitive. All rank statistics on exact int64 cents via
    dialect-shared ``percentile_disc WITHIN GROUP``; the fence is an
    integer comparison, so the count is exact in any engine.

    Scale: two grouped exact percentiles (each a per-group sort at
    dimension-group cardinality — 5 groups) with the deviation join
    broadcast on the 5-row median table. The fact-scale substitute swaps
    each percentile_disc for the GK sketch (approx_price_quantiles),
    keeping the same two-pass shape.
    """
    _views(spark, sf_dir, "orders")
    return spark.sql(_MAD_SQL)


# ---------------------------------------------------------------------------
# Per-group feature standardization (z-scores) — round 7
# ---------------------------------------------------------------------------

_ZSCORE_SQL = """
WITH nm AS (
  SELECT vec_id, label,
         CAST(round(sqrt(CAST(list_sum(list_transform(embedding,
                y -> CAST(round(y::DOUBLE * 1000000) AS BIGINT)
                     * CAST(round(y::DOUBLE * 1000000) AS BIGINT)))
              AS DOUBLE))) AS BIGINT) AS x
  FROM embeddings
),
st AS (
  SELECT label,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(x AS DECIMAL(38, 0))) AS DOUBLE) AS sx,
         CAST(sum(CAST(x AS DECIMAL(38, 0)) * CAST(x AS DECIMAL(38, 0)))
              AS DOUBLE) AS sx2
  FROM nm GROUP BY label
)
SELECT nm.vec_id, nm.label,
       round((CAST(nm.x AS DOUBLE) - st.sx / st.n)
             / sqrt((st.n * st.sx2 - st.sx * st.sx) / (st.n * (st.n - 1.0))),
             4) AS z_norm
FROM nm JOIN st ON st.label = nm.label
"""


@register("feature_zscore_by_label", oracle=_ZSCORE_SQL, category="statistics")
def feature_zscore_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group feature standardization — z-score of each embedding's L2
    norm within its label group, the normalize-per-class step of a feature
    pipeline (and the scalar sibling of the per-dimension standardization
    a whitening layer applies). The norm is the exact-integer micro-unit
    idiom; group mean/variance come from exact decimal(38,0) sufficient
    statistics (Σx, Σx² — the corr/covar discipline), so the only
    engine-shared floats are one subtraction, one sqrt, one division per
    row, rounded at 4 dp.

    Scale: one linear scan for norms, one map-side-combinable aggregate
    for the per-label stats (label-domain state), one broadcast join back.
    The same shape standardizes any per-row feature at 100 TB.
    """
    emb = read_table(spark, sf_dir, "embeddings")
    sq = F.transform(
        "embedding",
        lambda y: F.round(y.cast("double") * 1000000).cast("long")
        * F.round(y.cast("double") * 1000000).cast("long"),
    )
    x = F.round(
        F.sqrt(
            F.aggregate(sq, F.lit(0).cast("long"), lambda a, b: a + b).cast(
                "double"
            )
        )
    ).cast("long")
    nm = emb.select("vec_id", "label", x.alias("x"))
    xd = F.col("x").cast("decimal(38,0)")
    st = nm.groupBy("label").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(xd).cast("double").alias("sx"),
        F.sum(xd * xd).cast("double").alias("sx2"),
    )
    nd = F.col("n").cast("double")
    var = (nd * F.col("sx2") - F.col("sx") * F.col("sx")) / (nd * (nd - 1.0))
    return nm.join(F.broadcast(st), "label").select(
        "vec_id",
        "label",
        F.round(
            (F.col("x").cast("double") - F.col("sx") / nd) / F.sqrt(var), 4
        ).alias("z_norm"),
    )


# ---------------------------------------------------------------------------
# ML evaluation: confusion matrix + per-class precision/recall/F1 — round 7
# ---------------------------------------------------------------------------

# Deterministic surrogate classifier: predicted class = norm_micro mod 10
# (engine-portable integer arithmetic over the exact-integer L2 norm), so
# the confusion structure is reproducible and the metric pipeline — the
# actual operator under test — carries a full value oracle.

_NORM_MICRO_DUCK = """CAST(round(sqrt(CAST(list_sum(list_transform(embedding,
      y -> CAST(round(y::DOUBLE * 1000000) AS BIGINT)
           * CAST(round(y::DOUBLE * 1000000) AS BIGINT))) AS DOUBLE)))
      AS BIGINT)"""

_CONFUSION_SQL = f"""
WITH scored AS (
  SELECT label AS y_true,
         CAST({_NORM_MICRO_DUCK} % 10 AS INTEGER) AS y_pred
  FROM embeddings
),
cells AS (
  SELECT y_true, y_pred, CAST(count(*) AS BIGINT) AS n
  FROM scored GROUP BY 1, 2
),
actual AS (
  SELECT y_true AS cls, sum(n) AS n_actual,
         sum(CASE WHEN y_true = y_pred THEN n ELSE 0 END) AS tp
  FROM cells GROUP BY 1
),
pred AS (SELECT y_pred AS cls, sum(n) AS n_pred FROM cells GROUP BY 1)
SELECT coalesce(actual.cls, pred.cls) AS label,
       CAST(coalesce(actual.n_actual, 0) AS BIGINT) AS n_actual,
       CAST(coalesce(pred.n_pred, 0) AS BIGINT) AS n_pred,
       CAST(coalesce(actual.tp, 0) AS BIGINT) AS tp,
       round(CAST(coalesce(actual.tp, 0) AS DOUBLE)
             / nullif(CAST(coalesce(pred.n_pred, 0) AS DOUBLE), 0), 6)
         AS precision,
       round(CAST(coalesce(actual.tp, 0) AS DOUBLE)
             / nullif(CAST(coalesce(actual.n_actual, 0) AS DOUBLE), 0), 6)
         AS recall,
       round(2.0 * CAST(coalesce(actual.tp, 0) AS DOUBLE)
             / nullif(CAST(coalesce(pred.n_pred, 0) AS DOUBLE)
                      + CAST(coalesce(actual.n_actual, 0) AS DOUBLE), 0), 6)
         AS f1
FROM actual
FULL JOIN pred ON pred.cls = actual.cls
"""


@register("confusion_matrix_metrics", oracle=_CONFUSION_SQL, category="evaluation")
def confusion_matrix_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-class evaluation: per-class actuals, predictions, true
    positives, precision, recall, and F1 from a confusion-cell aggregate —
    the metric layer every training loop runs after batch inference
    (``model_eval_accuracy`` covers binary accuracy; this is the
    multi-class PRF family; F1 computed as 2·TP/(pred+actual), the
    division-order that avoids compounding rounded intermediates).
    The class domain is the UNION of actual and predicted classes (full
    outer join of the marginals), so a scorer emitting an out-of-support
    class still surfaces its false positives as a row with n_actual=0.
    Zero-prediction classes yield NULL precision (0/0) and zero-actual
    classes NULL recall, kept as NULL — the honest value, not a
    coalesced 0.

    Scale: one pass to confusion CELLS (classes² state, map-side
    combinable); everything after is arithmetic over that domain-sized
    table with broadcast joins. The deterministic surrogate classifier
    (norm mod 10) keeps the whole pipeline value-oracle-checked; swap in
    any real scorer without touching the metric plan.
    """
    emb = read_table(spark, sf_dir, "embeddings")
    sq = F.transform(
        "embedding",
        lambda y: F.round(y.cast("double") * 1000000).cast("long")
        * F.round(y.cast("double") * 1000000).cast("long"),
    )
    norm_micro = F.round(
        F.sqrt(F.aggregate(sq, F.lit(0).cast("long"), lambda a, b: a + b).cast("double"))
    ).cast("long")
    scored = emb.select(
        F.col("label").alias("y_true"),
        F.pmod(norm_micro, F.lit(10)).cast("int").alias("y_pred"),
    )
    cells = scored.groupBy("y_true", "y_pred").agg(F.count(F.lit(1)).alias("n"))
    # tp is folded into the actual-marginal aggregate (a conditional sum)
    # rather than derived via cells.filter(y_true == y_pred): that filter's
    # predicate is on grouping columns, so Catalyst pushes it below the
    # aggregate all the way to the scan — re-evaluating the full norm-chain
    # HOF per row in a third scan branch (seen in the optimized plan).
    actual = (
        cells.groupBy("y_true")
        .agg(
            F.sum("n").alias("n_actual"),
            F.sum(
                F.when(F.col("y_true") == F.col("y_pred"), F.col("n")).otherwise(
                    F.lit(0)
                )
            ).alias("tp"),
        )
        .select(F.col("y_true").alias("cls"), "n_actual", "tp")
    )
    pred = cells.groupBy("y_pred").agg(F.sum("n").alias("n_pred")).select(
        F.col("y_pred").alias("cls"), "n_pred"
    )
    j = actual.join(pred, "cls", "full_outer").select(
        F.col("cls").alias("label"),
        F.coalesce("n_actual", F.lit(0)).cast("long").alias("n_actual"),
        F.coalesce("n_pred", F.lit(0)).cast("long").alias("n_pred"),
        F.coalesce("tp", F.lit(0)).cast("long").alias("tp"),
    )
    tp_d = F.col("tp").cast("double")
    return j.select(
        "label",
        "n_actual",
        "n_pred",
        "tp",
        F.round(
            tp_d / F.nullif(F.col("n_pred").cast("double"), F.lit(0.0)), 6
        ).alias("precision"),
        F.round(
            tp_d / F.nullif(F.col("n_actual").cast("double"), F.lit(0.0)), 6
        ).alias("recall"),
        F.round(
            2.0
            * tp_d
            / F.nullif(
                (F.col("n_pred") + F.col("n_actual")).cast("double"), F.lit(0.0)
            ),
            6,
        ).alias("f1"),
    )


# ---------------------------------------------------------------------------
# Score calibration bins (reliability-diagram data) — round 7
# ---------------------------------------------------------------------------

_CALIBRATION_SQL = """
WITH scored AS (
  SELECT CAST(concat('0x', substr(md5(CAST(vec_id AS VARCHAR) || ':score'), 1, 8))
              AS BIGINT) AS h,
         CASE WHEN label >= 5 THEN 1 ELSE 0 END AS y
  FROM embeddings
),
b AS (
  SELECT CAST(h * 10 // 4294967296 AS INTEGER) AS bin, h, y FROM scored
)
SELECT bin,
       CAST(count(*) AS BIGINT) AS n,
       round(avg(CAST(h AS DOUBLE) / 4294967296.0), 6) AS avg_score,
       round(CAST(sum(y) AS DOUBLE) / count(*), 6) AS pos_rate
FROM b GROUP BY bin
"""


@register("score_calibration_bins", oracle=_CALIBRATION_SQL, category="evaluation")
def score_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration / reliability-diagram data: scores bucketed into 10
    equal-width bins with per-bin mean score and observed positive rate —
    the table a calibration plot or an ECE computation reads. The
    deterministic surrogate score (portable md5 of the row key, uniform
    on [0,1) and independent of the label) makes the expected shape a
    flat line at the base rate — exactly what the operator should show
    for an uninformative scorer — while keeping a full value oracle; the
    bin id is integer arithmetic on the 32-bit hash (h·10 div 2³²), no
    float boundary wobble.

    Scale: one scan, 10-key combine aggregate — constant state; the same
    plan calibrates any scored 100 TB eval set.
    """
    emb = read_table(spark, sf_dir, "embeddings")
    h = md5_int(F.concat(F.col("vec_id").cast("string"), F.lit(":score")))
    scored = emb.select(
        h.alias("h"),
        F.when(F.col("label") >= 5, F.lit(1)).otherwise(F.lit(0)).alias("y"),
    )
    b = scored.select(
        F.floor(F.col("h") * 10 / F.lit(4294967296)).cast("int").alias("bin"),
        "h",
        "y",
    )
    return b.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg(F.col("h").cast("double") / 4294967296.0), 6).alias(
            "avg_score"
        ),
        F.round(F.sum("y").cast("double") / F.count(F.lit(1)), 6).alias(
            "pos_rate"
        ),
    )


# ---------------------------------------------------------------------------
# Feature hashing (the hashing trick) — round 7
# ---------------------------------------------------------------------------

FEATURE_HASH_DIM = 16

_FEATURE_HASH_SQL = f"""
WITH feats AS (
  SELECT user_id, 'event_type:' || event_type AS feat FROM events
  UNION ALL
  SELECT user_id, 'dow:' || CAST(CAST(strftime(ts, '%w') AS INTEGER) AS VARCHAR)
  FROM events
)
SELECT user_id,
       CAST(CAST(concat('0x', substr(md5(feat), 1, 8)) AS BIGINT)
            % {FEATURE_HASH_DIM} AS INTEGER) AS dim,
       CAST(count(*) AS BIGINT) AS cnt
FROM feats
GROUP BY 1, 2
"""


@register("feature_hash_encoding", oracle=_FEATURE_HASH_SQL, category="ml_prep")
def feature_hash_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hashing trick: categorical features (event type, day-of-week)
    mapped into a FIXED {FEATURE_HASH_DIM}-dimension count vector per user
    via a portable hash of "name:value" — the encoding that makes
    unbounded-cardinality categoricals trainable at 100 TB with NO vocab
    build, no dictionary broadcast, and no schema change when new values
    appear (collisions are the disclosed trade-off; dimension is the
    knob). Emitted sparse as (user, dim, count) rows — the layout a
    trainer's sparse tensor loader wants.

    Scale: one union-all scan, one map-side-combinable aggregate keyed on
    (user, dim) — never wider than users × dims. md5-portable hashing
    means the exact encoded matrix is value-oracle-checked, and any
    engine reproduces the same features (training/serving skew guard).
    """
    ev = read_table(spark, sf_dir, "events")
    feats = ev.select(
        "user_id",
        F.concat(F.lit("event_type:"), F.col("event_type")).alias("feat"),
    ).unionAll(
        ev.select(
            "user_id",
            F.concat(
                F.lit("dow:"),
                # dayofweek is 1(Sun)..7 — minus 1 matches strftime %w
                (F.dayofweek("ts") - 1).cast("string"),
            ).alias("feat"),
        )
    )
    dim = F.pmod(md5_int("feat"), F.lit(FEATURE_HASH_DIM)).cast("int")
    return feats.select("user_id", dim.alias("dim")).groupBy(
        "user_id", "dim"
    ).agg(F.count(F.lit(1)).alias("cnt"))


# ---------------------------------------------------------------------------
# Binned ROC curve points — round 7
# ---------------------------------------------------------------------------

_ROC_SQL = """
WITH scored AS (
  SELECT CAST(CAST(concat('0x', substr(md5(CAST(vec_id AS VARCHAR) || ':score'), 1, 8))
              AS BIGINT) * 10 // 4294967296 AS INTEGER) AS bin,
         CASE WHEN label >= 5 THEN 1 ELSE 0 END AS y
  FROM embeddings
),
bins AS (
  SELECT bin, CAST(sum(y) AS BIGINT) AS n_pos,
         CAST(count(*) - sum(y) AS BIGINT) AS n_neg
  FROM scored GROUP BY bin
),
tot AS (SELECT sum(n_pos) AS tp_all, sum(n_neg) AS fp_all FROM bins),
k AS (SELECT unnest(range(0, 11)) AS thresh)
SELECT k.thresh,
       CAST(coalesce(sum(b.n_pos), 0) AS BIGINT) AS n_tp,
       CAST(coalesce(sum(b.n_neg), 0) AS BIGINT) AS n_fp,
       round(CAST(coalesce(sum(b.n_pos), 0) AS DOUBLE) / max(tot.tp_all), 6)
         AS tpr,
       round(CAST(coalesce(sum(b.n_neg), 0) AS DOUBLE) / max(tot.fp_all), 6)
         AS fpr
FROM k
LEFT JOIN bins b ON b.bin >= k.thresh
CROSS JOIN tot
GROUP BY k.thresh
"""


@register("roc_curve_points", oracle=_ROC_SQL, category="evaluation")
def roc_curve_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binned ROC curve: TPR/FPR at the 11 decile thresholds of the score
    axis — the operating-characteristic table next to the calibration
    bins (same portable surrogate score, so for this label-independent
    scorer the correct curve hugs the diagonal — asserted by pytest).
    Computed WITHOUT a global sort or an unpartitioned cumulative window:
    the score axis is pre-binned (constant state), and the cumulative
    ≥-threshold sums come from a tiny spine ⋈ bins range join (11×10
    rows) — the distributed-ROC shape: exact ranks need a global sort at
    100 TB; decile bins cost one combine aggregate and lose only
    within-bin resolution (add bins to taste).

    Scale: one scan → 10-key aggregate → arithmetic on domain-sized
    tables; broadcast everywhere.
    """
    emb = read_table(spark, sf_dir, "embeddings")
    h = md5_int(F.concat(F.col("vec_id").cast("string"), F.lit(":score")))
    scored = emb.select(
        F.floor(h * 10 / F.lit(4294967296)).cast("int").alias("bin"),
        F.when(F.col("label") >= 5, F.lit(1)).otherwise(F.lit(0)).alias("y"),
    )
    bins = scored.groupBy("bin").agg(
        F.sum("y").cast("long").alias("n_pos"),
        (F.count(F.lit(1)) - F.sum("y")).cast("long").alias("n_neg"),
    )
    tot = bins.agg(
        F.sum("n_pos").alias("tp_all"), F.sum("n_neg").alias("fp_all")
    )
    k = spark.range(0, 11).select(F.col("id").cast("int").alias("thresh"))
    return (
        F.broadcast(k)
        .join(bins, bins["bin"] >= k["thresh"], "left")
        .crossJoin(F.broadcast(tot))
        .groupBy("thresh")
        .agg(
            F.coalesce(F.sum("n_pos"), F.lit(0)).cast("long").alias("n_tp"),
            F.coalesce(F.sum("n_neg"), F.lit(0)).cast("long").alias("n_fp"),
            F.round(
                F.coalesce(F.sum("n_pos"), F.lit(0)).cast("double")
                / F.max("tp_all"),
                6,
            ).alias("tpr"),
            F.round(
                F.coalesce(F.sum("n_neg"), F.lit(0)).cast("double")
                / F.max("fp_all"),
                6,
            ).alias("fpr"),
        )
    )


# ---------------------------------------------------------------------------
# Population stability index (distribution drift) — round 7
# ---------------------------------------------------------------------------

_PSI_SQL = """
WITH halves AS (
  SELECT CASE WHEN o_orderdate < TIMESTAMP '1995-06-01' THEN 'ref'
              ELSE 'cur' END AS slice,
         CAST(round(o_totalprice * 100) AS BIGINT) AS c
  FROM orders
),
binned AS (
  SELECT slice,
         CAST(greatest(least(floor(c / 5000000), 9), 0) AS INTEGER) AS bin,
         count(*) AS n
  FROM halves GROUP BY 1, 2
),
tot AS (SELECT slice, sum(n) AS t FROM binned GROUP BY 1),
p AS (
  SELECT b.bin,
         CAST(max(CASE WHEN b.slice = 'ref' THEN b.n END) AS DOUBLE)
           / max(CASE WHEN t.slice = 'ref' THEN t.t END) AS p_ref,
         CAST(max(CASE WHEN b.slice = 'cur' THEN b.n END) AS DOUBLE)
           / max(CASE WHEN t.slice = 'cur' THEN t.t END) AS p_cur
  FROM binned b CROSS JOIN tot t
  GROUP BY b.bin
)
SELECT bin,
       round(p_ref, 6) AS p_ref,
       round(p_cur, 6) AS p_cur,
       round((p_cur - p_ref) * ln(p_cur / p_ref), 6) AS psi_term
FROM p
"""


@register("psi_distribution_drift", oracle=_PSI_SQL, category="evaluation")
def psi_distribution_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index terms — the drift metric every model-
    monitoring stack computes between a reference slice and a current
    slice (here: order values before vs after a date cut, binned into 10
    fixed $50k-wide buckets on exact cents, clamped to [0, 9] — anchored
    at the o_totalprice data range ~$900..$500k, so bin-count state is a
    constant 10 regardless of input). Each bin's PSI term is
    (p_cur − p_ref)·ln(p_cur/p_ref); the consumer sums terms (>0.2 total
    = actionable drift). Integer binning keeps bucket membership
    engine-identical; ln only touches the final ratio (entropy-query
    precedent). Bins populated by only ONE slice still appear (full outer
    join on bin) with NULL for the missing share and a NULL psi_term —
    the honest divergent-bin signal; a production variant
    epsilon-smooths both shares instead of emitting NULL.

    Scale: one scan, (slice × 10 bins) combine aggregate, arithmetic on a
    20-row table. The same plan monitors any scored column at 100 TB.
    """
    orders = read_table(spark, sf_dir, "orders")
    c = cents("o_totalprice")
    halves = orders.select(
        F.when(
            F.col("o_orderdate") < F.lit("1995-06-01").cast("timestamp"),
            F.lit("ref"),
        )
        .otherwise(F.lit("cur"))
        .alias("slice"),
        c.alias("c"),
    )
    binned = halves.select(
        "slice",
        F.greatest(F.least(F.floor(F.col("c") / 5000000), F.lit(9)), F.lit(0))
        .cast("int")
        .alias("bin"),
    ).groupBy("slice", "bin").agg(F.count(F.lit(1)).alias("n"))
    tot = binned.groupBy("slice").agg(F.sum("n").alias("t"))
    ref = (
        binned.join(tot, "slice")
        .filter(F.col("slice") == "ref")
        .select("bin", (F.col("n").cast("double") / F.col("t")).alias("p_ref"))
    )
    cur = (
        binned.join(tot, "slice")
        .filter(F.col("slice") == "cur")
        .select("bin", (F.col("n").cast("double") / F.col("t")).alias("p_cur"))
    )
    return ref.join(cur, "bin", "full_outer").select(
        "bin",
        F.round("p_ref", 6).alias("p_ref"),
        F.round("p_cur", 6).alias("p_cur"),
        F.round(
            (F.col("p_cur") - F.col("p_ref"))
            * F.log(F.col("p_cur") / F.col("p_ref")),
            6,
        ).alias("psi_term"),
    )


# ---------------------------------------------------------------------------
# A/B experiment analysis: two-proportion z-test — round 7
# ---------------------------------------------------------------------------

_AB_SQL = """
WITH assign AS (
  SELECT CASE WHEN CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)
                    || ':exp1'), 1, 8)) AS BIGINT) % 2 = 0
              THEN 'A' ELSE 'B' END AS arm,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS converted
  FROM events
),
arms AS (
  SELECT arm, CAST(count(*) AS BIGINT) AS n_users,
         CAST(sum(converted) AS BIGINT) AS n_converted
  FROM assign GROUP BY 1
),
w AS (
  SELECT max(CASE WHEN arm = 'A' THEN n_users END) AS na,
         max(CASE WHEN arm = 'A' THEN n_converted END) AS ca,
         max(CASE WHEN arm = 'B' THEN n_users END) AS nb,
         max(CASE WHEN arm = 'B' THEN n_converted END) AS cb
  FROM arms
)
SELECT CAST(na AS BIGINT) AS n_a, CAST(ca AS BIGINT) AS conv_a,
       CAST(nb AS BIGINT) AS n_b, CAST(cb AS BIGINT) AS conv_b,
       round(CAST(ca AS DOUBLE) / na, 6) AS rate_a,
       round(CAST(cb AS DOUBLE) / nb, 6) AS rate_b,
       round((CAST(ca AS DOUBLE) / na - CAST(cb AS DOUBLE) / nb)
             / sqrt((CAST(ca + cb AS DOUBLE) / (na + nb))
                    * (1 - CAST(ca + cb AS DOUBLE) / (na + nb))
                    * (1.0 / na + 1.0 / nb)), 6) AS z_stat
FROM w
"""


@register("ab_test_proportions", oracle=_AB_SQL, category="evaluation")
def ab_test_proportions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experimentation analysis: users hash-split into arms A/B (portable
    md5 — the assignment IS the production pattern: sticky, uniform,
    reproducible at serving time; every event inherits its user's arm),
    per-arm conversion = an event being a purchase (user-LEVEL any-purchase
    saturates at this corpus's event density — pooled rate 1.0, z
    undefined — so the proportion is taken at event grain), and the
    pooled two-proportion z-statistic — the read-out every
    A/B platform computes (consumer maps z to a p-value; the normal CDF
    is numerics, not data processing — same boundary as chi-square's
    dof). A null experiment by construction (assignment independent of
    behavior), so |z| should be small — pinned by pytest, the correct
    answer for an A/A-shaped test.

    Scale: one (user, arm) aggregate (map-side combinable), a 2-row arm
    rollup, scalar arithmetic. The same plan scores any 100 TB
    exposure/conversion log.
    """
    ev = read_table(spark, sf_dir, "events")
    arm = F.when(
        F.pmod(_exp1_hash(), F.lit(2)) == 0,
        F.lit("A"),
    ).otherwise(F.lit("B"))
    assign = ev.select(
        arm.alias("arm"),
        (F.col("event_type") == "purchase").cast("int").alias("converted"),
    )
    arms = assign.groupBy("arm").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("converted").cast("long").alias("n_converted"),
    )
    w = arms.agg(
        F.max(F.when(F.col("arm") == "A", F.col("n_users"))).alias("na"),
        F.max(F.when(F.col("arm") == "A", F.col("n_converted"))).alias("ca"),
        F.max(F.when(F.col("arm") == "B", F.col("n_users"))).alias("nb"),
        F.max(F.when(F.col("arm") == "B", F.col("n_converted"))).alias("cb"),
    )
    na, ca, nb, cb = (F.col(x).cast("double") for x in ("na", "ca", "nb", "cb"))
    pooled = (ca + cb) / (na + nb)
    return w.select(
        F.col("na").cast("long").alias("n_a"),
        F.col("ca").cast("long").alias("conv_a"),
        F.col("nb").cast("long").alias("n_b"),
        F.col("cb").cast("long").alias("conv_b"),
        F.round(ca / na, 6).alias("rate_a"),
        F.round(cb / nb, 6).alias("rate_b"),
        F.round(
            (ca / na - cb / nb)
            / F.sqrt(pooled * (1 - pooled) * (1.0 / na + 1.0 / nb)),
            6,
        ).alias("z_stat"),
    )


# ---------------------------------------------------------------------------
# Group fairness audit: demographic parity + equal opportunity — round 7
# ---------------------------------------------------------------------------

_FAIRNESS_SQL = """
WITH scored AS (
  SELECT c_mktsegment AS segment,
         CASE WHEN CAST(concat('0x', substr(md5(CAST(c_custkey AS VARCHAR)
                    || ':clf'), 1, 8)) AS BIGINT) % 100 < 40
              THEN 1 ELSE 0 END AS pred,
         CASE WHEN c_acctbal > 0 THEN 1 ELSE 0 END AS y
  FROM customer
),
g AS (
  SELECT segment,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(pred) AS BIGINT) AS n_pred_pos,
         CAST(sum(y) AS BIGINT) AS n_pos,
         CAST(sum(pred * y) AS BIGINT) AS n_tp
  FROM scored GROUP BY 1
),
o AS (
  SELECT CAST(sum(n_pred_pos) AS DOUBLE) / sum(n) AS ppr_all,
         CAST(sum(n_tp) AS DOUBLE) / sum(n_pos) AS tpr_all
  FROM g
)
SELECT g.segment, g.n, g.n_pred_pos, g.n_pos, g.n_tp,
       round(CAST(g.n_pred_pos AS DOUBLE) / g.n, 6) AS pos_pred_rate,
       round(CAST(g.n_tp AS DOUBLE) / g.n_pos, 6) AS tpr,
       round(CAST(g.n_pred_pos AS DOUBLE) / g.n - o.ppr_all, 6)
         AS parity_gap,
       round(CAST(g.n_tp AS DOUBLE) / g.n_pos - o.tpr_all, 6)
         AS opportunity_gap
FROM g, o
"""


@register("fairness_parity_by_segment", oracle=_FAIRNESS_SQL, category="evaluation")
def fairness_parity_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-fairness audit: per-segment demographic parity (positive-
    prediction-rate gap vs overall) and equal opportunity (TPR gap vs
    overall) — the two metrics every responsible-AI review reads first.
    The deterministic surrogate classifier (hash percentile < 40, i.e.
    independent of BOTH group and outcome) makes the correct audit result
    "near-zero gaps", which the pytest pins — for a real scorer the same
    plan surfaces genuine disparity. All counts exact int64; only the
    final rates divide.

    Scale: one (segment)-keyed combine aggregate over four conditional
    counts + a 1-row overall fold joined back broadcast; state is
    group-domain-sized. At 100 TB the only change is more conditional
    counts per pass (one per metric), never more passes.
    """
    cust = read_table(spark, sf_dir, "customer")
    pred = (
        F.pmod(
            md5_int(F.concat(F.col("c_custkey").cast("string"), F.lit(":clf"))),
            F.lit(100),
        )
        < 40
    ).cast("int")
    y = (F.col("c_acctbal") > 0).cast("int")
    scored = cust.select(
        F.col("c_mktsegment").alias("segment"),
        pred.alias("pred"),
        y.alias("y"),
    )
    g = scored.groupBy("segment").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("pred").cast("long").alias("n_pred_pos"),
        F.sum("y").cast("long").alias("n_pos"),
        F.sum(F.col("pred") * F.col("y")).cast("long").alias("n_tp"),
    )
    o = g.agg(
        (F.sum("n_pred_pos").cast("double") / F.sum("n")).alias("ppr_all"),
        (F.sum("n_tp").cast("double") / F.sum("n_pos")).alias("tpr_all"),
    )
    return g.crossJoin(F.broadcast(o)).select(
        "segment",
        "n",
        "n_pred_pos",
        "n_pos",
        "n_tp",
        F.round(F.col("n_pred_pos").cast("double") / F.col("n"), 6).alias(
            "pos_pred_rate"
        ),
        F.round(F.col("n_tp").cast("double") / F.col("n_pos"), 6).alias("tpr"),
        F.round(
            F.col("n_pred_pos").cast("double") / F.col("n") - F.col("ppr_all"), 6
        ).alias("parity_gap"),
        F.round(
            F.col("n_tp").cast("double") / F.col("n_pos") - F.col("tpr_all"), 6
        ).alias("opportunity_gap"),
    )


# ---------------------------------------------------------------------------
# K-fold leakage-free target encoding — round 9
# ---------------------------------------------------------------------------

TARGET_ENC_FOLDS = 5

_TARGET_ENC_SQL = f"""
WITH base AS (
  SELECT c_mktsegment AS seg,
         CAST(CAST(concat('0x', substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))
              AS BIGINT) % {TARGET_ENC_FOLDS} AS INTEGER) AS fold,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cts
  FROM orders JOIN customer ON o_custkey = c_custkey
),
pf AS (
  SELECT seg, fold, CAST(count(*) AS BIGINT) AS n_rows,
         CAST(sum(cts) AS BIGINT) AS s
  FROM base GROUP BY 1, 2
),
g AS (
  SELECT seg, CAST(sum(n_rows) AS BIGINT) AS gn, CAST(sum(s) AS BIGINT) AS gs
  FROM pf GROUP BY 1
)
SELECT pf.seg, pf.fold, pf.n_rows,
       round(CAST(gs - s AS DOUBLE)
             / (100.0 * CAST(nullif(gn - n_rows, 0) AS DOUBLE)), 6)
         AS target_enc
FROM pf JOIN g ON g.seg = pf.seg
"""


@register("kfold_target_encoding", oracle=_TARGET_ENC_SQL, category="ml_prep")
def kfold_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-free mean-target encoding — the categorical-feature prep
    that actually survives a train-time audit: each order's segment
    encoding is the mean order total of that segment computed from the
    OTHER {TARGET_ENC_FOLDS - 1} folds only (out-of-fold mean = (global
    sum − own-fold sum) / (global count − own-fold count)), so no row's
    own target ever reaches its feature. Folds are the portable md5 hash
    of the order key — deterministic, engine-independent, and identical
    to the split a non-Spark scorer would compute (the
    ``portable_client_split`` discipline). Output is the full
    (segment × fold) encoding table a trainer joins back by (seg, fold).

    Exact arithmetic: integer target cents, integer fold sums/counts,
    ONE double division per output row (nulled if a fold held the whole
    segment) — bit-identical in DuckDB.

    Scale: two map-side-combinable aggregates (per-(seg, fold), then
    per-seg over {TARGET_ENC_FOLDS}-row groups) and one broadcast join of
    a dimension-sized table — the encode-then-join-back pattern costs one
    shuffle of (seg, fold) partials regardless of fact size; the
    dimension join is a broadcast. High-cardinality categoricals change
    nothing structurally (the encoding table grows with the category
    count, not the row count); add ``feature_hash_encoding`` upstream
    when the category domain is unbounded.
    """
    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    cust = read_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    fold = F.pmod(
        md5_int(F.col("o_orderkey").cast("string")), F.lit(TARGET_ENC_FOLDS)
    ).cast("int")
    base = (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .select(
            F.col("c_mktsegment").alias("seg"),
            fold.alias("fold"),
            cents("o_totalprice").alias("cts"),
        )
    )
    pf = base.groupBy("seg", "fold").agg(
        F.count(F.lit(1)).alias("n_rows"), F.sum("cts").alias("s")
    )
    g = pf.groupBy("seg").agg(
        F.sum("n_rows").alias("gn"), F.sum("s").alias("gs")
    )
    denom = F.when(
        F.col("gn") == F.col("n_rows"), F.lit(None).cast("double")
    ).otherwise((F.col("gn") - F.col("n_rows")).cast("double"))
    return pf.join(F.broadcast(g), "seg").select(
        "seg",
        "fold",
        "n_rows",
        F.round(
            (F.col("gs") - F.col("s")).cast("double") / (F.lit(100.0) * denom),
            6,
        ).alias("target_enc"),
    )


# ---------------------------------------------------------------------------
# Kaplan-Meier survival estimator (round 10)
# ---------------------------------------------------------------------------

_KM_SQL = """
WITH ev AS (
  SELECT user_id, event_type, CAST(floor(epoch(ts)) AS BIGINT) AS es
  FROM events WHERE event_type IN ('signup', 'purchase')
),
s AS (SELECT user_id, min(es) AS se FROM ev WHERE event_type = 'signup' GROUP BY 1),
p AS (
  SELECT ev.user_id, min(ev.es) AS pe
  FROM ev JOIN s ON ev.user_id = s.user_id
  WHERE ev.event_type = 'purchase' AND ev.es > s.se
  GROUP BY 1
),
censor AS (SELECT max(es) AS ce FROM ev),
cohort AS (
  SELECT CASE WHEN p.pe IS NOT NULL THEN (p.pe - s.se) // 86400
              ELSE (c.ce - s.se) // 86400 END AS d,
         CASE WHEN p.pe IS NOT NULL THEN 1 ELSE 0 END AS ev
  FROM s LEFT JOIN p ON s.user_id = p.user_id CROSS JOIN censor c
),
km AS (
  SELECT d, CAST(sum(ev) AS BIGINT) AS n_event,
         CAST(sum(1 - ev) AS BIGINT) AS n_censored
  FROM cohort GROUP BY d
),
n AS (SELECT CAST(count(*) AS BIGINT) AS total FROM cohort),
risk AS (
  SELECT km.d, km.n_event, km.n_censored,
         n.total - CAST(coalesce(sum(km.n_event + km.n_censored)
             OVER (ORDER BY km.d ROWS BETWEEN UNBOUNDED PRECEDING
                   AND 1 PRECEDING), 0) AS BIGINT) AS n_at_risk
  FROM km, n
),
terms AS (
  SELECT d, n_event, n_censored, n_at_risk,
         CASE WHEN n_event = n_at_risk THEN CAST(0 AS BIGINT)
              ELSE CAST(round(ln(1.0 - CAST(n_event AS DOUBLE) / n_at_risk)
                              * 1e12) AS BIGINT) END AS lnq,
         CASE WHEN n_event = n_at_risk THEN 1 ELSE 0 END AS dead
  FROM risk
)
SELECT d AS duration_days, n_at_risk, n_event, n_censored,
       CASE WHEN max(dead) OVER w = 1 THEN 0.0
            ELSE round(exp(CAST(sum(lnq) OVER w AS DOUBLE) / 1e12), 6)
       END AS survival
FROM terms
WINDOW w AS (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
"""


@register("kaplan_meier_signup_to_purchase", oracle=_KM_SQL, category="statistics")
def kaplan_meier_signup_to_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival estimator — THE core medical-statistics
    operator (the reference is a medical-analytics pipeline; this is the
    time-to-event analysis its domain ultimately feeds): cohort = users
    with a signup event, event = first purchase strictly after signup,
    right-censored at the end of observation (global max event time).
    Emits the classic life table per distinct duration day: number at
    risk, events, censored, and the product-limit survival estimate
    S(d) = prod_{d' <= d} (1 - e_{d'} / r_{d'}).

    Cross-engine float discipline: the cumulative PRODUCT is computed as
    exp of a cumulative sum of PRE-QUANTIZED log terms (round(ln·1e12)
    as int64) — the sum is exact integer arithmetic, so the only float
    ops are one ln and one exp per row, each deterministic to well below
    the 6-digit output rounding; the e = r full-depletion edge is an
    exact 0.0 via a cumulative flag, never exp(-inf).

    The life-table windows run unpartitioned over the per-DAY aggregate
    (~30 rows: the duration axis, bounded by the observation span, never
    raw users) — same disclosed axis-sized class as
    ``watermark_delay_audit``'s coverage window; at 100 TB the cohort
    aggregate is the only data-sized stage (one user-key shuffle).

    Scale: one pinned scan of the signup/purchase projection, two
    user-key aggregates + one broadcast-joined cohort build, then
    axis-sized arithmetic. The same plan serves any (cohort-entry,
    event, censor) triple — e.g. diagnosis→remission in the medical
    setting the reference's domain implies.
    """
    from pyspark.sql import Window as W

    ev = checkpoint_pinned(
        read_table(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("signup", "purchase"))
        .select(
            "user_id",
            "event_type",
            F.floor(F.unix_timestamp("ts")).cast("long").alias("es"),
        )
    )
    s = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("es").alias("se"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(s, "user_id")
        .filter(F.col("es") > F.col("se"))
        .groupBy("user_id")
        .agg(F.min("es").alias("pe"))
    )
    censor = F.broadcast(ev.agg(F.max("es").alias("ce")))
    cohort = (
        s.join(p, "user_id", "left")
        .crossJoin(censor)
        .select(
            F.when(
                F.col("pe").isNotNull(),
                F.floor((F.col("pe") - F.col("se")) / 86400),
            )
            .otherwise(F.floor((F.col("ce") - F.col("se")) / 86400))
            .cast("long")
            .alias("d"),
            F.when(F.col("pe").isNotNull(), 1).otherwise(0).alias("ev"),
        )
    )
    km = cohort.groupBy("d").agg(
        F.sum("ev").cast("long").alias("n_event"),
        F.sum(1 - F.col("ev")).cast("long").alias("n_censored"),
    )
    n = F.broadcast(cohort.agg(F.count(F.lit(1)).alias("total")))
    w_prev = W.orderBy("d").rowsBetween(W.unboundedPreceding, -1)
    w_cur = W.orderBy("d").rowsBetween(W.unboundedPreceding, W.currentRow)
    risk = km.crossJoin(n).select(
        "d",
        "n_event",
        "n_censored",
        (
            F.col("total")
            - F.coalesce(
                F.sum(F.col("n_event") + F.col("n_censored")).over(w_prev),
                F.lit(0),
            )
        )
        .cast("long")
        .alias("n_at_risk"),
    )
    terms = risk.select(
        "d",
        "n_event",
        "n_censored",
        "n_at_risk",
        F.when(F.col("n_event") == F.col("n_at_risk"), F.lit(0))
        .otherwise(
            F.round(
                F.log(
                    1.0 - F.col("n_event").cast("double") / F.col("n_at_risk")
                )
                * 1e12
            )
        )
        .cast("long")
        .alias("lnq"),
        F.when(F.col("n_event") == F.col("n_at_risk"), 1).otherwise(0).alias("dead"),
    )
    return terms.select(
        F.col("d").alias("duration_days"),
        "n_at_risk",
        "n_event",
        "n_censored",
        F.when(F.max("dead").over(w_cur) == 1, F.lit(0.0))
        .otherwise(
            F.round(F.exp(F.sum("lnq").over(w_cur).cast("double") / 1e12), 6)
        )
        .alias("survival"),
    )


# ---------------------------------------------------------------------------
# Log-rank test between experiment arms (round 10)
# ---------------------------------------------------------------------------

_LOGRANK_SQL = """
WITH ev AS (
  SELECT user_id, event_type, CAST(floor(epoch(ts)) AS BIGINT) AS es
  FROM events WHERE event_type IN ('signup', 'purchase')
),
s AS (SELECT user_id, min(es) AS se FROM ev WHERE event_type = 'signup' GROUP BY 1),
p AS (
  SELECT ev.user_id, min(ev.es) AS pe
  FROM ev JOIN s ON ev.user_id = s.user_id
  WHERE ev.event_type = 'purchase' AND ev.es > s.se
  GROUP BY 1
),
censor AS (SELECT max(es) AS ce FROM ev),
cohort AS (
  SELECT CASE WHEN CAST(concat('0x', substr(md5(CAST(s.user_id AS VARCHAR)
                    || ':exp1'), 1, 8)) AS BIGINT) % 2 = 0
              THEN 'A' ELSE 'B' END AS arm,
         CASE WHEN p.pe IS NOT NULL THEN (p.pe - s.se) // 86400
              ELSE (c.ce - s.se) // 86400 END AS d,
         CASE WHEN p.pe IS NOT NULL THEN 1 ELSE 0 END AS evt
  FROM s LEFT JOIN p ON s.user_id = p.user_id CROSS JOIN censor c
),
km AS (
  SELECT arm, d, CAST(sum(evt) AS BIGINT) AS e,
         CAST(count(*) AS BIGINT) AS outs
  FROM cohort GROUP BY arm, d
),
narm AS (SELECT arm, CAST(count(*) AS BIGINT) AS n FROM cohort GROUP BY arm),
risk AS (
  SELECT km.arm, km.d, km.e,
         narm.n - CAST(coalesce(sum(km.outs)
             OVER (PARTITION BY km.arm ORDER BY km.d
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS BIGINT) AS r
  FROM km JOIN narm ON km.arm = narm.arm
),
wide AS (
  SELECT d,
         CAST(sum(CASE WHEN arm = 'B' THEN e ELSE 0 END) AS BIGINT) AS e1,
         CAST(sum(e) AS BIGINT) AS et,
         CAST(sum(CASE WHEN arm = 'B' THEN r ELSE 0 END) AS BIGINT) AS r1,
         CAST(sum(r) AS BIGINT) AS rt
  FROM risk GROUP BY d HAVING sum(e) > 0
),
terms AS (
  SELECT e1,
         CAST(round(et * (CAST(r1 AS DOUBLE) / rt) * 1e9) AS BIGINT) AS e1_exp_q,
         CASE WHEN rt <= 1 THEN CAST(0 AS BIGINT)
              ELSE CAST(round(et * (CAST(r1 AS DOUBLE) / rt)
                             * (1.0 - CAST(r1 AS DOUBLE) / rt)
                             * (rt - et) / (rt - 1) * 1e9) AS BIGINT) END AS var_q
  FROM wide
),
agg AS (
  SELECT CAST(sum(e1) AS BIGINT) AS observed_b,
         CAST(sum(e1_exp_q) AS BIGINT) AS expq,
         CAST(sum(var_q) AS BIGINT) AS varq
  FROM terms
)
SELECT n.n_a, n.n_b, a.observed_b,
       round(a.expq / 1e9, 6) AS expected_b,
       round(((a.observed_b - a.expq / 1e9)
              * (a.observed_b - a.expq / 1e9)) / (a.varq / 1e9), 6)
         AS logrank_chi2
FROM agg a CROSS JOIN (
  SELECT CAST(max(CASE WHEN arm = 'A' THEN n END) AS BIGINT) AS n_a,
         CAST(max(CASE WHEN arm = 'B' THEN n END) AS BIGINT) AS n_b
  FROM narm
) n
"""


@register("logrank_test_by_arm", oracle=_LOGRANK_SQL, category="statistics")
def logrank_test_by_arm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-rank (Mantel-Cox) test — the standard medical-statistics
    companion to ``kaplan_meier_signup_to_purchase``: does time-to-first-
    purchase DIFFER between experiment arms? Arms reuse
    ``ab_test_proportions``'s portable md5 assignment (user_id ':exp1'),
    so the experiment pillar now covers both endpoints a trial reads:
    conversion RATE (two-proportion z) and conversion TIME (log-rank).
    At each distinct event day, arm B's observed events are compared to
    the hypergeometric expectation e_t·r1_t/r_t given the at-risk sets;
    chi2 = (O-E)²/V with the standard variance; compare to 3.84 (95%,
    1 df). Measured at sf0.01: 75/75 split, O=75 vs E≈74.888,
    chi2≈0.00057 — the arms are exchangeable by construction, the test
    correctly finds nothing.

    Cross-engine float discipline: per-day expectation and variance
    terms are quantized to 1e-9 (int64) BEFORE summing — the sums are
    exact integers, so engine summation order cannot move the 6-digit
    output (same trick as the KM log-product); at-risk counts come from
    an arm-PARTITIONED cumulative window (2 partitions — no
    single-partition stage), and everything else is axis-sized.

    Scale: identical envelope to the KM query — one pinned projection,
    two user-key aggregates, then per-(arm, day) life tables (~2×30
    rows) and a 1-row statistic. The arm column generalizes to any
    cohort label (treatment, region, model version).
    """
    from pyspark.sql import Window as W

    ev = checkpoint_pinned(
        read_table(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("signup", "purchase"))
        .select(
            "user_id",
            "event_type",
            F.floor(F.unix_timestamp("ts")).cast("long").alias("es"),
        )
    )
    s = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("es").alias("se"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(s, "user_id")
        .filter(F.col("es") > F.col("se"))
        .groupBy("user_id")
        .agg(F.min("es").alias("pe"))
    )
    censor = F.broadcast(ev.agg(F.max("es").alias("ce")))
    arm = F.when(
        F.pmod(_exp1_hash(), F.lit(2)) == 0,
        F.lit("A"),
    ).otherwise(F.lit("B"))
    cohort = (
        s.join(p, "user_id", "left")
        .crossJoin(censor)
        .select(
            arm.alias("arm"),
            F.when(
                F.col("pe").isNotNull(),
                F.floor((F.col("pe") - F.col("se")) / 86400),
            )
            .otherwise(F.floor((F.col("ce") - F.col("se")) / 86400))
            .cast("long")
            .alias("d"),
            F.when(F.col("pe").isNotNull(), 1).otherwise(0).alias("evt"),
        )
    )
    km = cohort.groupBy("arm", "d").agg(
        F.sum("evt").cast("long").alias("e"),
        F.count(F.lit(1)).alias("outs"),
    )
    narm = cohort.groupBy("arm").agg(F.count(F.lit(1)).alias("n"))
    w_prev = (
        W.partitionBy("arm").orderBy("d").rowsBetween(W.unboundedPreceding, -1)
    )
    risk = km.join(narm, "arm").select(
        "arm",
        "d",
        "e",
        (
            F.col("n")
            - F.coalesce(F.sum("outs").over(w_prev), F.lit(0))
        )
        .cast("long")
        .alias("r"),
    )
    wide = (
        risk.groupBy("d")
        .agg(
            F.sum(F.when(F.col("arm") == "B", F.col("e")).otherwise(0))
            .cast("long")
            .alias("e1"),
            F.sum("e").cast("long").alias("et"),
            F.sum(F.when(F.col("arm") == "B", F.col("r")).otherwise(0))
            .cast("long")
            .alias("r1"),
            F.sum("r").cast("long").alias("rt"),
        )
        .filter(F.col("et") > 0)
    )
    frac = F.col("r1").cast("double") / F.col("rt")
    terms = wide.select(
        "e1",
        F.round(F.col("et") * frac * 1e9).cast("long").alias("e1_exp_q"),
        F.when(F.col("rt") <= 1, F.lit(0).cast("long"))
        .otherwise(
            F.round(
                F.col("et")
                * frac
                * (1.0 - frac)
                * (F.col("rt") - F.col("et"))
                / (F.col("rt") - 1)
                * 1e9
            ).cast("long")
        )
        .alias("var_q"),
    )
    agg = terms.agg(
        F.sum("e1").cast("long").alias("observed_b"),
        F.sum("e1_exp_q").cast("long").alias("expq"),
        F.sum("var_q").cast("long").alias("varq"),
    )
    ns = F.broadcast(
        narm.agg(
            F.max(F.when(F.col("arm") == "A", F.col("n")))
            .cast("long")
            .alias("n_a"),
            F.max(F.when(F.col("arm") == "B", F.col("n")))
            .cast("long")
            .alias("n_b"),
        )
    )
    diff = F.col("observed_b") - F.col("expq") / 1e9
    return agg.crossJoin(ns).select(
        "n_a",
        "n_b",
        "observed_b",
        F.round(F.col("expq") / 1e9, 6).alias("expected_b"),
        F.round(diff * diff / (F.col("varq") / 1e9), 6).alias("logrank_chi2"),
    )


# ---------------------------------------------------------------------------
# Decile lift / gains table — round 10
# ---------------------------------------------------------------------------

_LIFT_SQL = """
WITH scored AS (
  SELECT CAST(least(9, floor(
           (label * 400
            + CAST(concat('0x', substr(md5(concat(CAST(vec_id AS VARCHAR),
                                              ':lift')), 1, 8)) AS BIGINT)
              % 4000)
           / 760.0)) AS BIGINT) AS bin,
         CASE WHEN label >= 5 THEN 1 ELSE 0 END AS y
  FROM embeddings
),
bins AS (
  SELECT bin, CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS n_pos
  FROM scored GROUP BY bin
),
tot AS (
  SELECT CAST(sum(n) AS BIGINT) AS n_all,
         CAST(sum(n_pos) AS BIGINT) AS pos_all
  FROM bins
)
SELECT bins.bin, bins.n, bins.n_pos,
       round((CAST(bins.n_pos AS DOUBLE) / bins.n)
             / (CAST(tot.pos_all AS DOUBLE) / tot.n_all), 4) AS lift,
       round(CAST((SELECT sum(b2.n_pos) FROM bins b2
                   WHERE b2.bin >= bins.bin) AS DOUBLE)
             / tot.pos_all * 100, 4) AS cum_gain_pct
FROM bins CROSS JOIN tot
"""


@register("decile_lift_table", oracle=_LIFT_SQL, category="evaluation")
def decile_lift_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile lift / gains table — the campaign-targeting companion of
    ``roc_curve_points`` and ``score_calibration_bins``: per score
    decile, response rate over base rate (lift) and the cumulative
    share of all positives captured from the top decile down (gains).
    Unlike the ROC/calibration surrogate (label-independent by design,
    so those curves correctly sit on the diagonal), this score MIXES a
    deterministic label term with portable-md5 noise, so the table
    shows a real ranking model's shape — lift rising monotonically to
    2.03x in the top decile, top-3 deciles capturing 58.5% of positives
    at sf0.01 — while staying bit-reproducible in any engine.

    Bins are fixed score-axis intervals, not equal-population ntiles:
    an exact ntile needs a global sort at 100 TB (and is tie-unstable
    across engines); fixed bins cost one combine aggregate, and the
    per-bin n column keeps the population visible. The cumulative gain
    comes from a 10x10 self range-join on the bin spine (the
    ``roc_curve_points`` shape) — no unpartitioned window anywhere.

    Scale: one scan -> 10-key combine -> arithmetic on 10-row tables,
    broadcast everywhere.
    """

    emb = read_table(spark, sf_dir, "embeddings")
    h = md5_int(F.concat(F.col("vec_id").cast("string"), F.lit(":lift")))
    scored = emb.select(
        F.least(
            F.lit(9),
            F.floor((F.col("label") * 400 + h % 4000) / 760.0),
        )
        .cast("long")
        .alias("bin"),
        F.when(F.col("label") >= 5, F.lit(1)).otherwise(F.lit(0)).alias("y"),
    )
    bins = checkpoint_pinned(
        scored.groupBy("bin").agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("y").cast("long").alias("n_pos"),
        )
    )
    tot = bins.agg(
        F.sum("n").cast("long").alias("n_all"),
        F.sum("n_pos").cast("long").alias("pos_all"),
    )
    cum = (
        bins.alias("b1")
        .join(
            F.broadcast(bins.alias("b2")),
            F.col("b2.bin") >= F.col("b1.bin"),
        )
        .groupBy(F.col("b1.bin").alias("bin"))
        .agg(F.sum("b2.n_pos").cast("long").alias("cum_pos"))
    )
    return (
        bins.join(F.broadcast(cum), "bin")
        .crossJoin(F.broadcast(tot))
        .select(
            "bin",
            "n",
            "n_pos",
            F.round(
                (F.col("n_pos").cast("double") / F.col("n"))
                / (F.col("pos_all").cast("double") / F.col("n_all")),
                4,
            ).alias("lift"),
            F.round(
                F.col("cum_pos").cast("double") / F.col("pos_all") * 100, 4
            ).alias("cum_gain_pct"),
        )
    )


# ---------------------------------------------------------------------------
# Information-gain feature ranking — round 10
# ---------------------------------------------------------------------------

# Dialect-shared SQL (both engines run this text verbatim, the
# ``mad_robust_stats`` pattern): counts and the median label threshold are
# exact integers; the only doubles are the <=12-term entropy sums per
# feature, rounded well above their accumulation noise (the
# ``event_label_entropy`` precedent). Integer bucketing uses floor(), never
# CAST(double AS BIGINT) — DuckDB's cast rounds-to-nearest while Spark's
# truncates, floor is the portable form (same pitfall ADVICE r9 flagged in
# the histogram binning).
_INFO_GAIN_SQL = """
WITH oc AS (
  SELECT o_orderpriority AS f_priority, o_orderstatus AS f_status,
         CAST(month(o_orderdate) AS STRING) AS f_month,
         concat('b', CAST(floor(CAST(round(o_totalprice * 100) AS BIGINT)
                          / 10000000.0) AS BIGINT)) AS f_band,
         CAST(round(o_totalprice * 100) AS BIGINT) AS c
  FROM orders
),
med AS (
  SELECT CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY c) AS BIGINT) AS m
  FROM oc
),
lab AS (
  SELECT f_priority, f_status, f_month, f_band,
         CASE WHEN oc.c > med.m THEN 1 ELSE 0 END AS y
  FROM oc, med
),
melt AS (
  SELECT 'priority' AS feature, f_priority AS value, y FROM lab
  UNION ALL SELECT 'status' AS feature, f_status AS value, y FROM lab
  UNION ALL SELECT 'month' AS feature, f_month AS value, y FROM lab
  UNION ALL SELECT 'price_band' AS feature, f_band AS value, y FROM lab
),
cells AS (
  SELECT feature, value, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(y) AS BIGINT) AS n_pos
  FROM melt GROUP BY feature, value
),
hy AS (
  SELECT feature, CAST(sum(n) AS BIGINT) AS nn,
         CAST(sum(n_pos) AS BIGINT) AS np,
    CASE WHEN sum(n_pos) = 0 OR sum(n_pos) = sum(n) THEN 0.0 ELSE
      -(CAST(sum(n_pos) AS DOUBLE) / sum(n))
        * log2(CAST(sum(n_pos) AS DOUBLE) / sum(n))
      - (CAST(sum(n) - sum(n_pos) AS DOUBLE) / sum(n))
        * log2(CAST(sum(n) - sum(n_pos) AS DOUBLE) / sum(n))
    END AS h
  FROM cells GROUP BY feature
),
cond AS (
  SELECT cells.feature,
         CAST(count(*) AS BIGINT) AS n_values,
         sum((CAST(cells.n AS DOUBLE) / hy.nn) *
           (CASE WHEN cells.n_pos = 0 OR cells.n_pos = cells.n THEN 0.0 ELSE
             -(CAST(cells.n_pos AS DOUBLE) / cells.n)
               * log2(CAST(cells.n_pos AS DOUBLE) / cells.n)
             - (CAST(cells.n - cells.n_pos AS DOUBLE) / cells.n)
               * log2(CAST(cells.n - cells.n_pos AS DOUBLE) / cells.n)
           END)) AS hc
  FROM cells JOIN hy ON hy.feature = cells.feature
  GROUP BY cells.feature
)
SELECT cond.feature, cond.n_values, round(hy.h - cond.hc, 6) AS info_gain
FROM cond JOIN hy ON hy.feature = cond.feature
"""


@register("feature_info_gain_ranking", oracle=_INFO_GAIN_SQL, category="evaluation")
def feature_info_gain_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Information-gain feature ranking: IG(f) = H(y) − Σ_v p(v)·H(y|v)
    for four candidate features against the "order value above median"
    label — the feature-selection screen that ranks candidates BEFORE a
    model is trained (`chisq_event_type_segment` tests one pair's
    independence; this ranks a whole candidate set on one scale). The
    panel is a built-in experiment control: three features of this
    uniform synthetic data are KNOWN independent of price and correctly
    score ≈0 bits (priority 0.000085, status 0.000001, month 0.000765),
    while the deterministic price-band feature scores 0.976 bits — the
    math demonstrably detects signal and correctly reports its absence,
    the ``logrank_test_by_arm`` null-control style.

    The label threshold is the exact integer-cents median
    (percentile_disc); entropy terms are ≤12-term double sums rounded
    at 6 digits, well above accumulation noise (the
    ``event_label_entropy`` precedent).

    Scale: the Spark plan melts with ``stack`` (one fact scan fans each
    row ×4 in-place — the oracle's UNION ALL branches would re-scan the
    fact per feature), and the combine collapses map-side to
    Σ|domain(f)| ≈ 26 cells — the shuffle carries cells, not rows; at
    100 TB you run one such pass per feature batch. All post-combine
    arithmetic is on ≤26-row tables. The 1-row median broadcast is the
    only second pass over the fact (2 scans total, in budget).
    """

    orders = read_table(spark, sf_dir, "orders")
    oc = orders.select(
        F.col("o_orderpriority").alias("f_priority"),
        F.col("o_orderstatus").alias("f_status"),
        F.month("o_orderdate").cast("string").alias("f_month"),
        F.concat(
            F.lit("b"),
            F.floor(cents("o_totalprice") / 10000000.0).cast("long"),
        ).alias("f_band"),
        cents("o_totalprice").alias("c"),
    )
    med = oc.agg(
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY c)")
        .cast("long")
        .alias("m")
    )
    lab = oc.crossJoin(F.broadcast(med)).select(
        "f_priority",
        "f_status",
        "f_month",
        "f_band",
        F.when(F.col("c") > F.col("m"), 1).otherwise(0).alias("y"),
    )
    melt = lab.select(
        F.expr(
            "stack(4, 'priority', f_priority, 'status', f_status, "
            "'month', f_month, 'price_band', f_band) AS (feature, value)"
        ),
        "y",
    )
    cells = checkpoint_pinned(
        melt.groupBy("feature", "value").agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("y").cast("long").alias("n_pos"),
        )
    )

    def _h(pos, tot):
        p = pos.cast("double") / tot
        q = (tot - pos).cast("double") / tot
        return F.when(
            (pos == 0) | (pos == tot), F.lit(0.0)
        ).otherwise(-p * F.log2(p) - q * F.log2(q))

    hy = cells.groupBy("feature").agg(
        F.sum("n").cast("long").alias("nn"),
        F.sum("n_pos").cast("long").alias("np"),
    ).select(
        "feature", "nn", _h(F.col("np"), F.col("nn")).alias("h")
    )
    cond = (
        cells.join(F.broadcast(hy), "feature")
        .groupBy("feature")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_values"),
            F.sum(
                (F.col("n").cast("double") / F.col("nn"))
                * _h(F.col("n_pos"), F.col("n"))
            ).alias("hc"),
            F.first("h").alias("h"),
        )
    )
    return cond.select(
        "feature", "n_values", F.round(F.col("h") - F.col("hc"), 6).alias("info_gain")
    )


# ---------------------------------------------------------------------------
# Exact distributed ROC-AUC (Mann-Whitney U, two-level prefix sums) — round 10
# ---------------------------------------------------------------------------

# Coarse bucket width on the integer score axis: ~12 buckets over the
# 0..50M-cent price range. The bucket count is a knob, not a precision
# trade-off — AUC is EXACT regardless (buckets only split the prefix sum).
AUC_BUCKET_W = 4_194_304

# Dialect-shared arithmetic: every count is BIGINT; the pair-count numerator
# is the exact integer num2 = Σ_s n_pos(s)·(2·neg_below(s) + n_neg(s)) —
# twice the Mann-Whitney U statistic with the tie term n_neg(s) counting
# each cross-class tie at weight 1 (= 2·0.5) — and the only double is the
# final num2 / (2·n_pos·n_neg) division, rounded at 6.
_AUC_SQL = f"""
WITH base AS (
  SELECT CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y,
         CAST(round(o_totalprice * 100) AS BIGINT) AS c
  FROM orders
),
melt AS (
  SELECT 'price_null' AS scorer, c AS score, y FROM base
  UNION ALL SELECT 'price_shifted', c + y * 25000000, y FROM base
  UNION ALL SELECT 'price_coarse', CAST(floor(c / 1000000.0) AS BIGINT), y
    FROM base
  UNION ALL SELECT 'indicator', CAST(y AS BIGINT), y FROM base
),
cells AS (
  SELECT scorer, score,
         CAST(floor(score / {AUC_BUCKET_W}.0) AS BIGINT) AS bucket,
         CAST(sum(y) AS BIGINT) AS n_pos,
         CAST(count(*) - sum(y) AS BIGINT) AS n_neg
  FROM melt GROUP BY scorer, score
),
within AS (
  SELECT scorer, score, bucket, n_pos, n_neg,
         CAST(coalesce(sum(n_neg) OVER (
           PARTITION BY scorer, bucket ORDER BY score
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS neg_before
  FROM cells
),
bt AS (
  SELECT scorer, bucket, CAST(sum(n_neg) AS BIGINT) AS bneg
  FROM cells GROUP BY scorer, bucket
),
bb AS (
  SELECT b1.scorer, b1.bucket,
         CAST(coalesce(sum(b2.bneg), 0) AS BIGINT) AS neg_below
  FROM bt b1 LEFT JOIN bt b2
    ON b2.scorer = b1.scorer AND b2.bucket < b1.bucket
  GROUP BY b1.scorer, b1.bucket
),
num AS (
  SELECT w.scorer,
         CAST(sum(w.n_pos * (2 * (bb.neg_below + w.neg_before) + w.n_neg))
              AS BIGINT) AS num2,
         CAST(sum(w.n_pos) AS BIGINT) AS n_pos,
         CAST(sum(w.n_neg) AS BIGINT) AS n_neg
  FROM within w JOIN bb ON bb.scorer = w.scorer AND bb.bucket = w.bucket
  GROUP BY w.scorer
)
SELECT scorer, n_pos, n_neg,
       round(CAST(num2 AS DOUBLE) / (2.0 * n_pos * n_neg), 6) AS auc
FROM num
"""


@register("auc_mann_whitney", oracle=_AUC_SQL, category="evaluation")
def auc_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT ROC-AUC as the Mann-Whitney rank statistic — computed WITHOUT
    a global sort, the way a 1000-executor cluster has to: two-level
    prefix sums. Scores collapse to distinct-score cells (n_pos, n_neg);
    cells get a coarse integer bucket; negatives-below a score =
    negatives in LOWER BUCKETS (tiny bucket aggregate, broadcast
    range-join over ~12 rows per scorer) + negatives BEFORE the score
    within its bucket (window PARTITIONED BY bucket — never a
    single-partition window over the data). num2 = Σ n_pos(s)·(2·below +
    n_neg(s)) is twice the U statistic, ties at standard half weight;
    AUC = num2 / (2·n_pos·n_neg) is the one double, rounded at 6.
    (``roc_curve_points`` bins the axis and loses within-bin resolution;
    this is the exact companion at the same shuffle budget.)

    Built-in experiment controls (the ``feature_info_gain_ranking``
    panel style): an 'indicator' scorer that IS the label pins AUC = 1.0
    exactly; 'price_null' and tie-heavy 'price_coarse' (51 distinct
    values → the half-weight tie term does real work) are independent of
    the status label and sit at ≈0.5; 'price_shifted' (+25M cents to
    positives, half the score range) lands strictly between — separation
    the arithmetic must measure, not assume.

    Scale: one fact scan → melt ×4 in-place (stack) → per-(scorer,score)
    combine collapses map-side; everything after runs on the
    distinct-score table (≤ score-axis size, partition-pruned by
    bucket). num2 peaks at ~n_pos·2·n_neg ≈ 2·(N/2)² — int64-safe
    through N ≈ 4.3B rows per scorer; beyond that, shard the numerator
    by bucket before the final sum. Cells are checkpoint-pinned (three
    consumers inside ``common.weight_below`` — the shared two-level
    prefix-sum helper this query, Gini, and the conformal quantile all
    ride, hypothesis-pinned against brute force) so one materialization
    serves them, not three fact scans."""

    orders = read_table(spark, sf_dir, "orders")
    base = orders.select(
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("y"),
        cents("o_totalprice").alias("c"),
    )
    melt = base.select(
        F.expr(
            "stack(4, "
            "'price_null', c, "
            "'price_shifted', c + y * 25000000L, "
            "'price_coarse', CAST(floor(c / 1000000.0) AS BIGINT), "
            "'indicator', CAST(y AS BIGINT)) AS (scorer, score)"
        ),
        "y",
    )
    cells = checkpoint_pinned(
        melt.groupBy("scorer", "score")
        .agg(
            F.sum("y").cast("long").alias("n_pos"),
            (F.count(F.lit(1)) - F.sum("y")).cast("long").alias("n_neg"),
        )
        .withColumn(
            "bucket",
            F.floor(F.col("score") / F.lit(float(AUC_BUCKET_W))).cast("long"),
        )
    )
    num = (
        weight_below(cells, ["scorer"], "score", "n_neg")
        .groupBy("scorer")
        .agg(
            F.sum(F.col("n_pos") * (2 * F.col("below") + F.col("n_neg")))
            .cast("long")
            .alias("num2"),
            F.sum("n_pos").cast("long").alias("n_pos"),
            F.sum("n_neg").cast("long").alias("n_neg"),
        )
    )
    return num.select(
        "scorer",
        "n_pos",
        "n_neg",
        F.round(
            F.col("num2").cast("double") / (2.0 * F.col("n_pos") * F.col("n_neg")),
            6,
        ).alias("auc"),
    )


# ---------------------------------------------------------------------------
# Weight-of-evidence / information-value encoding — round 10
# ---------------------------------------------------------------------------

# Shares are half-count-smoothed ((n+0.5)/(total+0.5) — no zero cell ever
# hits the log); WOE = ln(pos_share/neg_share), IV term = (pos_share −
# neg_share)·WOE. Counts are exact BIGINTs; the two doubles per row are
# rounded at 6 (single ln + one multiply — no accumulation).
_WOE_SQL = """
WITH oc AS (
  SELECT o_orderpriority AS f_priority,
         concat('b', CAST(floor(CAST(round(o_totalprice * 100) AS BIGINT)
                          / 10000000.0) AS BIGINT)) AS f_band,
         CAST(round(o_totalprice * 100) AS BIGINT) AS c
  FROM orders
),
med AS (
  SELECT CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY c) AS BIGINT) AS m
  FROM oc
),
lab AS (
  SELECT f_priority, f_band, CASE WHEN oc.c > med.m THEN 1 ELSE 0 END AS y
  FROM oc, med
),
melt AS (
  SELECT 'priority' AS feature, f_priority AS value, y FROM lab
  UNION ALL SELECT 'price_band', f_band, y FROM lab
),
cells AS (
  SELECT feature, value,
         CAST(sum(y) AS BIGINT) AS n_pos,
         CAST(count(*) - sum(y) AS BIGINT) AS n_neg
  FROM melt GROUP BY feature, value
),
tot AS (
  SELECT feature, CAST(sum(n_pos) AS BIGINT) AS pos_all,
         CAST(sum(n_neg) AS BIGINT) AS neg_all
  FROM cells GROUP BY feature
)
SELECT cells.feature, cells.value, cells.n_pos, cells.n_neg,
       round(ln(((cells.n_pos + 0.5) / (tot.pos_all + 0.5))
              / ((cells.n_neg + 0.5) / (tot.neg_all + 0.5))), 6) AS woe,
       round((((cells.n_pos + 0.5) / (tot.pos_all + 0.5))
            - ((cells.n_neg + 0.5) / (tot.neg_all + 0.5)))
           * ln(((cells.n_pos + 0.5) / (tot.pos_all + 0.5))
              / ((cells.n_neg + 0.5) / (tot.neg_all + 0.5))), 6) AS iv_term
FROM cells JOIN tot ON tot.feature = cells.feature
"""


@register("woe_iv_encoding", oracle=_WOE_SQL, category="evaluation")
def woe_iv_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-of-evidence category encoding + per-value information-value
    terms against the above-median-price label — the risk-modeling
    companion to ``feature_info_gain_ranking`` (same melt panel, same
    built-in control: the independent 'priority' feature correctly scores
    WOE ≈ 0 / IV ≈ 0 on every value, while the deterministic price-band
    feature separates hard, its b2/b3 values near the ±∞ ends the
    smoothing caps). WOE = ln(pos_share/neg_share) with half-count
    smoothing so empty cells stay finite; Σ iv_term is the feature's IV.

    Scale: one fact scan for the label median (exact percentile_disc,
    1-row broadcast) + one for the melt (stack ×2 in-place); the combine
    collapses to Σ|domain| ≈ 10 cells map-side and all WOE arithmetic
    runs on that cell table. Cells are checkpoint-pinned — the totals
    branch and the final join read one materialization."""

    orders = read_table(spark, sf_dir, "orders")
    oc = orders.select(
        F.col("o_orderpriority").alias("f_priority"),
        F.concat(
            F.lit("b"),
            F.floor(cents("o_totalprice") / 10000000.0).cast("long"),
        ).alias("f_band"),
        cents("o_totalprice").alias("c"),
    )
    med = oc.agg(
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY c)")
        .cast("long")
        .alias("m")
    )
    lab = oc.crossJoin(F.broadcast(med)).select(
        "f_priority",
        "f_band",
        F.when(F.col("c") > F.col("m"), 1).otherwise(0).alias("y"),
    )
    melt = lab.select(
        F.expr(
            "stack(2, 'priority', f_priority, 'price_band', f_band)"
            " AS (feature, value)"
        ),
        "y",
    )
    cells = checkpoint_pinned(
        melt.groupBy("feature", "value").agg(
            F.sum("y").cast("long").alias("n_pos"),
            (F.count(F.lit(1)) - F.sum("y")).cast("long").alias("n_neg"),
        )
    )
    tot = cells.groupBy("feature").agg(
        F.sum("n_pos").cast("long").alias("pos_all"),
        F.sum("n_neg").cast("long").alias("neg_all"),
    )
    ps = (F.col("n_pos") + 0.5) / (F.col("pos_all") + 0.5)
    ns = (F.col("n_neg") + 0.5) / (F.col("neg_all") + 0.5)
    woe = F.log(ps / ns)
    return (
        cells.join(F.broadcast(tot), "feature")
        .select(
            "feature",
            "value",
            "n_pos",
            "n_neg",
            F.round(woe, 6).alias("woe"),
            F.round((ps - ns) * woe, 6).alias("iv_term"),
        )
    )


# ---------------------------------------------------------------------------
# Gini concentration per segment (rank-sum without a global sort) — round 10
# ---------------------------------------------------------------------------

# 2^23 cents per coarse bucket: ~65 buckets over this data's 6.4M..621M-cent
# customer-LTV range. Size the width to value-range/≈64 — too wide collapses
# level 2 to one bucket and the in-bucket window degenerates to a per-group
# global window (the original 2e9 setting did exactly that; caught by the
# bucket-spread pytest below).
GINI_BUCKET_W = 8_388_608

# Gini = (2·T − (n+1)·S) / (n·S) with T = Σ rank_i·x_i over ascending ranks
# — tie-safe because a tied group's Σrank is fixed regardless of internal
# order. T comes from distinct-value cells: a value v with count c and b
# items strictly below occupies ranks b+1..b+c, so Σrank·v = v·(c·b +
# c·(c+1)/2). Everything is BIGINT except T (DECIMAL(38,0): v·c·b crosses
# int64 around 10^10 customers·cents) and the single final division.
_GINI_SQL = f"""
WITH percust AS (
  SELECT c_mktsegment AS segment,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS v
  FROM orders JOIN customer ON c_custkey = o_custkey
  GROUP BY o_custkey, c_mktsegment
),
cells AS (
  SELECT segment, v,
         CAST(floor(v / {GINI_BUCKET_W}.0) AS BIGINT) AS bucket,
         CAST(count(*) AS BIGINT) AS c
  FROM percust GROUP BY segment, v
),
within AS (
  SELECT segment, v, bucket, c,
         CAST(coalesce(sum(c) OVER (
           PARTITION BY segment, bucket ORDER BY v
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS c_before
  FROM cells
),
bt AS (
  SELECT segment, bucket, CAST(sum(c) AS BIGINT) AS bc
  FROM cells GROUP BY segment, bucket
),
bb AS (
  SELECT b1.segment, b1.bucket,
         CAST(coalesce(sum(b2.bc), 0) AS BIGINT) AS c_below
  FROM bt b1 LEFT JOIN bt b2
    ON b2.segment = b1.segment AND b2.bucket < b1.bucket
  GROUP BY b1.segment, b1.bucket
),
agg AS (
  SELECT w.segment,
         CAST(sum(w.c) AS BIGINT) AS n,
         CAST(sum(w.v * w.c) AS BIGINT) AS s,
         sum(CAST(w.v AS DECIMAL(38, 0))
             * (w.c * (bb.c_below + w.c_before) + w.c * (w.c + 1) // 2))
           AS t
  FROM within w JOIN bb ON bb.segment = w.segment AND bb.bucket = w.bucket
  GROUP BY w.segment
)
SELECT segment, n,
       CAST(s AS DOUBLE) / 100 AS total_revenue,
       round((2.0 * CAST(t AS DOUBLE) - (CAST(n AS DOUBLE) + 1) * CAST(s AS DOUBLE))
             / (CAST(n AS DOUBLE) * CAST(s AS DOUBLE)), 6) AS gini
FROM agg
"""


@register("gini_customer_concentration", oracle=_GINI_SQL, category="evaluation")
def gini_customer_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of customer-revenue concentration per market
    segment — the inequality/concentration screen (who carries the
    revenue; for a training corpus, swap in tokens-per-source) — computed
    WITHOUT a global sort, by the same two-level prefix-sum machinery as
    ``auc_mann_whitney``: rank-sum T = Σ rank·x falls out of
    distinct-value cells (count c, items-below b ⇒ Σrank·v = v·(c·b +
    c(c+1)/2)); items-below = lower coarse BUCKETS (broadcast range-join
    over the tiny bucket table) + in-bucket window PARTITIONED BY
    (segment, bucket). Tie-safe: a tied group's rank total is fixed
    regardless of internal order. T accumulates in DECIMAL(38,0) —
    v·c·b exceeds int64 near 10^10 customer·cents — and the one double
    division happens per segment at the end, rounded at 6.

    Plan: fact scan → per-customer combine (the segment rides the
    customer join) → distinct-value cells → bucket-partitioned window +
    ~25-row broadcast range join → 5-row output. Uniform synthetic
    per-customer sums land near the n·σ/μ-driven floor (≈0.18) — a
    hand-checked 4-value fixture pins the arithmetic in pytest."""

    orders = read_table(spark, sf_dir, "orders")
    customer = read_table(spark, sf_dir, "customer")
    percust = (
        orders.join(
            customer.select("c_custkey", "c_mktsegment"),
            orders["o_custkey"] == customer["c_custkey"],
        )
        .groupBy("o_custkey", F.col("c_mktsegment").alias("segment"))
        .agg(F.sum(cents("o_totalprice")).cast("long").alias("v"))
    )
    cells = checkpoint_pinned(
        percust.groupBy("segment", "v")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .withColumn(
            "bucket",
            F.floor(F.col("v") / F.lit(float(GINI_BUCKET_W))).cast("long"),
        )
    )
    agg = (
        weight_below(cells, ["segment"], "v", "c")
        .groupBy("segment")
        .agg(
            F.sum("c").cast("long").alias("n"),
            F.sum(F.col("v") * F.col("c")).cast("long").alias("s"),
            # c·(c+1) is even, so integer `div` is exact — and keeps the
            # whole rank term integral so t accumulates in DECIMAL, never
            # as an order-sensitive double sum
            F.sum(
                F.col("v").cast("decimal(38,0)")
                * (
                    F.col("c") * F.col("below")
                    + F.expr("c * (c + 1) div 2")
                )
            ).alias("t"),
        )
    )
    n_d = F.col("n").cast("double")
    s_d = F.col("s").cast("double")
    return agg.select(
        "segment",
        "n",
        (s_d / 100).alias("total_revenue"),
        F.round(
            (2.0 * F.col("t").cast("double") - (n_d + 1) * s_d) / (n_d * s_d), 6
        ).alias("gini"),
    )


# ---------------------------------------------------------------------------
# Group-jackknife standard error — round 10
# ---------------------------------------------------------------------------

# Leave-one-GROUP-out jackknife over the 25 nation blocks: θ̂ = mean order
# cents; θ̂_(i) recomputes from the complement's exact sums (no resampling
# RNG, no data pass per replicate — ALL replicates fall out of one per-group
# sum table); SE² = (g-1)/g · Σ(θ̂_(i) − θ̄)². Per-replicate means are exact
# integer ratios evaluated once in double, QUANTIZED to int64 micro-cents,
# and the deviation sum runs on exact integers (d_i = g·tq_i − Σtq, squared
# in DECIMAL(38,0)) — no order-sensitive float accumulation.
_JACKKNIFE_SQL = """
WITH g AS (
  SELECT c.c_nationkey AS grp,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS s
  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
  GROUP BY c.c_nationkey
),
tot AS (
  SELECT CAST(sum(n) AS BIGINT) AS n_all, CAST(sum(s) AS BIGINT) AS s_all,
         CAST(count(*) AS BIGINT) AS n_groups
  FROM g
),
reps AS (
  SELECT g.grp,
         CAST(floor((CAST(tot.s_all - g.s AS DOUBLE) / (tot.n_all - g.n))
                    * 1000000) AS BIGINT) AS tq
  FROM g, tot
),
tq_tot AS (
  SELECT CAST(sum(tq) AS BIGINT) AS sum_tq, CAST(count(*) AS BIGINT) AS gN
  FROM reps
),
jk AS (
  SELECT t.gN AS n_groups,
         sum(CAST(t.gN * r.tq - t.sum_tq AS DECIMAL(38, 0))
             * CAST(t.gN * r.tq - t.sum_tq AS DECIMAL(38, 0))) AS ssq
  FROM reps r, tq_tot t
  GROUP BY t.gN
)
SELECT jk.n_groups, tot.n_all AS n_rows,
       round(CAST(tot.s_all AS DOUBLE) / tot.n_all / 100, 6) AS mean_value,
       round(sqrt((jk.n_groups - 1.0) / jk.n_groups
                  * CAST(jk.ssq AS DOUBLE)
                  / (jk.n_groups * jk.n_groups) / 1e12) / 100, 6)
         AS jackknife_se
FROM jk, tot
"""


@register("jackknife_mean_se", oracle=_JACKKNIFE_SQL, category="evaluation")
def jackknife_mean_se(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-jackknife standard error of the mean order value, nations as
    the blocks — RNG-free resampling uncertainty: every leave-one-group-
    out replicate θ̂_(i) falls out of ONE per-group exact-sum table (the
    complement's sums are totals minus the group's), so 25 'resamples'
    cost one combine aggregate, not 25 data passes — the only resampling
    scheme that is both deterministic (full value oracle, unlike
    bootstrap RNG) and shuffle-free at 100 TB. SE² = (g−1)/g·Σ(θ̂_(i)−θ̄)².

    Replicate means are quantized to int64 micro-cents before the
    deviation sum (exact integers through DECIMAL(38,0) squares — the
    float appears once, inside sqrt); with ~600 orders per nation
    block the group-jackknife SE here is a design-based estimate of the
    cluster-level sampling error. The pytest re-derives the SE in Python
    from the same per-group sums and pins the uniform-data magnitude."""

    orders = read_table(spark, sf_dir, "orders")
    customer = read_table(spark, sf_dir, "customer")
    # pinned: four consumers (totals, replicates, quantized totals, final
    # deviation pass) would otherwise re-run the fact scan each
    g = checkpoint_pinned(
        orders.join(
            customer.select("c_custkey", "c_nationkey"),
            orders["o_custkey"] == customer["c_custkey"],
        )
        .groupBy(F.col("c_nationkey").alias("grp"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(cents("o_totalprice")).cast("long").alias("s"),
        )
    )
    tot = g.agg(
        F.sum("n").cast("long").alias("n_all"),
        F.sum("s").cast("long").alias("s_all"),
        F.count(F.lit(1)).cast("long").alias("n_groups"),
    )
    # per-replicate mean quantized to int64 micro-cents BEFORE any sum —
    # the deviation sum must never be an order-sensitive float
    # accumulation (JSD/NDCG quantization discipline); deviations d_i =
    # g·tq_i − Σtq are exact integers, squared in DECIMAL(38,0)
    reps = g.crossJoin(F.broadcast(tot)).select(
        "grp",
        F.floor(
            (
                (F.col("s_all") - F.col("s")).cast("double")
                / (F.col("n_all") - F.col("n"))
            )
            * 1000000
        )
        .cast("long")
        .alias("tq"),
        "n_all",
        "s_all",
    )
    tq_tot = reps.agg(
        F.sum("tq").cast("long").alias("sum_tq"),
        F.count(F.lit(1)).cast("long").alias("gN"),
    )
    dev = (F.col("gN") * F.col("tq") - F.col("sum_tq")).cast("decimal(38,0)")
    jk = (
        reps.crossJoin(F.broadcast(tq_tot))
        .groupBy("gN")
        .agg(
            F.sum(dev * dev).alias("ssq"),
            F.first("n_all").alias("n_all"),
            F.first("s_all").alias("s_all"),
        )
    )
    gN = F.col("gN")
    return jk.select(
        gN.alias("n_groups"),
        F.col("n_all").alias("n_rows"),
        F.round(
            F.col("s_all").cast("double") / F.col("n_all") / 100, 6
        ).alias("mean_value"),
        F.round(
            F.sqrt(
                (gN - 1.0)
                / gN
                * F.col("ssq").cast("double")
                / (gN * gN)
                / 1e12
            )
            / 100,
            6,
        ).alias("jackknife_se"),
    )


# ---------------------------------------------------------------------------
# Split-conformal interval coverage — round 10
# ---------------------------------------------------------------------------

CONF_ALPHA_PCT = 10  # α = 0.10 → target coverage 0.90
CONF_Q = 10**6  # micro-cent quantization of predictions

# Everything is exact integers until the final ratios: the split is a
# portable md5 mod-3 (fold 0 fits the model, fold 1 calibrates, fold 2
# tests — calibration DISJOINT from fitting, so the split-conformal
# finite-sample guarantee holds), the per-priority "model" is a half-up
# micro-cent integer mean, nonconformity scores are integer |y·Q − ŷ_q|,
# and the conformal quantile is the EXACT k-th order statistic with
# k = ceil((n_cal+1)·(1−α)) located by cumulative counts (no global sort).
_CONFORMAL_SQL = f"""
WITH base AS (
  SELECT o_orderpriority AS prio,
         CAST(round(o_totalprice * 100) AS BIGINT) AS y,
         CAST(concat('0x', substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))
              AS BIGINT) % 3 AS fold
  FROM orders
),
model AS (
  SELECT prio,
         (sum(y) * {2 * CONF_Q} + count(*)) // (2 * count(*)) AS yhat_q
  FROM base WHERE fold = 0 GROUP BY prio
),
cal AS (
  SELECT abs(b.y * {CONF_Q} - m.yhat_q) AS s
  FROM base b JOIN model m ON m.prio = b.prio
  WHERE b.fold = 1
),
n_cal AS (SELECT CAST(count(*) AS BIGINT) AS n FROM cal),
k AS (SELECT ((n + 1) * {100 - CONF_ALPHA_PCT} + 99) // 100 AS k FROM n_cal),
cells AS (
  SELECT s, CAST(count(*) AS BIGINT) AS c,
         CAST(floor(s / 4194304000000.0) AS BIGINT) AS bucket
  FROM cal GROUP BY s
),
ranked AS (
  SELECT s, c, bucket,
         CAST(coalesce(sum(c) OVER (
           PARTITION BY bucket ORDER BY s
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
         + CAST(coalesce((SELECT sum(c2.c) FROM cells c2
                          WHERE c2.bucket < cells.bucket), 0) AS BIGINT)
           AS below
  FROM cells
),
qhat AS (
  SELECT min(s) AS q FROM ranked, k
  WHERE ranked.below < k.k AND k.k <= ranked.below + ranked.c
),
test AS (
  SELECT CAST(count(*) AS BIGINT) AS n_test,
         CAST(count_if(abs(b.y * {CONF_Q} - m.yhat_q) <= qhat.q) AS BIGINT)
           AS n_covered
  FROM base b JOIN model m ON m.prio = b.prio, qhat
  WHERE b.fold = 2
)
SELECT CAST({CONF_ALPHA_PCT} AS BIGINT) AS alpha_pct,
       n_cal.n AS n_cal, test.n_test, test.n_covered,
       round(CAST(qhat.q AS DOUBLE) / {CONF_Q} / 100, 6) AS q_hat,
       round(CAST(test.n_covered AS DOUBLE) / test.n_test, 6) AS coverage
FROM test, qhat, n_cal
"""


@register(
    "conformal_interval_coverage", oracle=_CONFORMAL_SQL, category="evaluation"
)
def conformal_interval_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal prediction intervals with MEASURED coverage — the
    distribution-free uncertainty wrapper every production model ships
    with. Three-way md5-mod-3 split: fold 0 FITS the surrogate model,
    fold 1 (disjoint from fitting — the split-conformal requirement)
    supplies the calibration scores |y − ŷ| whose exact k-th order
    statistic, k = ⌈(n_cal+1)(1−α)⌉, is q̂; the interval ŷ ± q̂ is then
    GUARANTEED ≥ 1−α coverage on exchangeable data, which the query
    verifies empirically on fold 2 (α = 0.10 → measured coverage ≈
    0.90; the pytest pins the guarantee's direction and a finite-sample
    band).

    Determinism end-to-end: portable-md5 mod-3 split (no engine RNG),
    half-up integer micro-cent per-priority means as the surrogate
    model, integer nonconformity scores, and the conformal quantile
    located by CUMULATIVE COUNTS over distinct-score cells — the
    ``weight_below`` two-level prefix sum, never a global sort (the
    third operator on that machinery, after AUC and Gini). One fact
    scan feeds the pinned base; everything downstream is score-axis
    sized."""

    orders = read_table(spark, sf_dir, "orders")
    base = checkpoint_pinned(
        orders.select(
            F.col("o_orderpriority").alias("prio"),
            cents("o_totalprice").alias("y"),
            (md5_int(F.col("o_orderkey").cast("string")) % 3).alias("fold"),
        )
    )
    model = (
        base.filter(F.col("fold") == 0)
        .groupBy("prio")
        .agg(
            F.expr(
                f"(sum(y) * {2 * CONF_Q} + count(1)) div (2 * count(1))"
            ).alias("yhat_q")
        )
    )
    scored = base.join(F.broadcast(model), "prio").withColumn(
        "s", F.abs(F.col("y") * CONF_Q - F.col("yhat_q"))
    )
    cal = scored.filter(F.col("fold") == 1)
    n_cal = cal.agg(F.count(F.lit(1)).cast("long").alias("n"))
    k = n_cal.select(
        "n",
        F.expr(f"((n + 1) * {100 - CONF_ALPHA_PCT} + 99) div 100").alias("k"),
    )
    cells = checkpoint_pinned(
        cal.groupBy("s")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .withColumn(
            "bucket", F.floor(F.col("s") / F.lit(4194304000000.0)).cast("long")
        )
    )
    ranked = weight_below(cells, [], "s", "c")
    qhat = (
        ranked.crossJoin(F.broadcast(k))
        .filter(
            (F.col("below") < F.col("k"))
            & (F.col("k") <= F.col("below") + F.col("c"))
        )
        .agg(F.min("s").alias("q"))
    )
    test = (
        scored.filter(F.col("fold") == 2)
        .crossJoin(F.broadcast(qhat))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_test"),
            F.count_if(F.col("s") <= F.col("q")).cast("long").alias("n_covered"),
            F.first("q").alias("q"),
        )
    )
    return test.crossJoin(F.broadcast(n_cal)).select(
        F.lit(CONF_ALPHA_PCT).cast("long").alias("alpha_pct"),
        F.col("n").alias("n_cal"),
        "n_test",
        "n_covered",
        F.round(F.col("q").cast("double") / CONF_Q / 100, 6).alias("q_hat"),
        F.round(
            F.col("n_covered").cast("double") / F.col("n_test"), 6
        ).alias("coverage"),
    )


# ---------------------------------------------------------------------------
# CUPED variance reduction + experiment power (MDE) — round 10
# ---------------------------------------------------------------------------

# Period split at the exact event-time midpoint; θ = cov(X,Y)/var(X) from
# DECIMAL(38,0) power sums over user-level (pre X, post Y) cent totals —
# the one double ratio, applied in a fixed-order expression per arm.
_CUPED_SQL = """
WITH span AS (
  SELECT (CAST(epoch_us(min(ts)) AS BIGINT)
          + CAST(epoch_us(max(ts)) AS BIGINT)) // 2 AS mid_us
  FROM events
),
ux AS (
  SELECT e.user_id,
         CAST(sum(CASE WHEN CAST(epoch_us(e.ts) AS BIGINT) < span.mid_us
                       THEN CAST(round(e.value * 100) AS BIGINT)
                       ELSE 0 END) AS BIGINT) AS x,
         CAST(sum(CASE WHEN CAST(epoch_us(e.ts) AS BIGINT) >= span.mid_us
                       THEN CAST(round(e.value * 100) AS BIGINT)
                       ELSE 0 END) AS BIGINT) AS y,
         CAST(concat('0x', substr(md5(concat(CAST(e.user_id AS VARCHAR),
                                             ':exp1')), 1, 8)) AS BIGINT) % 2
           AS arm
  FROM events e, span
  GROUP BY e.user_id
),
pool AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         sum(CAST(x AS DECIMAL(38,0))) AS sx,
         sum(CAST(y AS DECIMAL(38,0))) AS sy,
         sum(CAST(x AS DECIMAL(38,0)) * CAST(x AS DECIMAL(38,0))) AS sxx,
         sum(CAST(x AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0))) AS sxy,
         sum(CAST(y AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0))) AS syy
  FROM ux
),
th AS (
  SELECT n,
         CAST(sx AS DOUBLE) AS sx, CAST(sy AS DOUBLE) AS sy,
         (n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
         / (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
           AS theta,
         1.0 - (n * CAST(sxy AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             * (n * CAST(sxy AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / ((n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)
                 * CAST(sx AS DOUBLE))
              * (n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE)
                 * CAST(sy AS DOUBLE))) AS var_ratio
  FROM pool
)
SELECT CAST(ux.arm AS BIGINT) AS arm,
       CAST(count(*) AS BIGINT) AS n_users,
       round(CAST(sum(CAST(ux.y AS DECIMAL(38,0))) AS DOUBLE)
             / count(*) / 100, 6) AS mean_y,
       round((CAST(sum(CAST(ux.y AS DECIMAL(38,0))) AS DOUBLE) / count(*)
              - th.theta * (CAST(sum(CAST(ux.x AS DECIMAL(38,0))) AS DOUBLE)
                            / count(*) - th.sx / th.n)) / 100, 6)
         AS mean_y_cuped,
       round(th.theta, 6) AS theta,
       round(1.0 - th.var_ratio, 6) AS var_reduction
FROM ux, th
GROUP BY ux.arm, th.theta, th.var_ratio, th.sx, th.n
"""


@register("cuped_adjusted_lift", oracle=_CUPED_SQL, category="evaluation")
def cuped_adjusted_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED-adjusted experiment means — the variance-reduction technique
    every experimentation platform applies before reading a lift:
    Y′ = Y − θ·(X − E[X]) with X the PRE-period covariate and
    θ = cov(X,Y)/var(X) pooled across arms (CUPED leaves the treatment
    effect unbiased while cutting variance by the squared X–Y
    correlation — reported as ``var_reduction`` = 1 − var(Y′)/var(Y) =
    ρ², so the consumer sees exactly how many samples the covariate
    bought). Arms are the sticky portable-md5 split of
    ``ab_test_proportions``; the period split is the exact event-time
    midpoint; a null experiment by construction, so the two arms'
    adjusted means should agree — pytest-pinned.

    Exactness: user-level (X, Y) cent totals in ONE conditional-sum
    combine; θ and ρ² from DECIMAL(38,0) power sums (the
    ``corr_covar_price_qty`` discipline) applied once; per-arm means
    exact integer ratios adjusted in a fixed-order expression."""

    ev = read_table(spark, sf_dir, "events")
    # midpoint in integer epoch MICROSECONDS — interval/2 is an engine
    # trap: DuckDB halves the day and time components SEPARATELY (29d
    # 23:57 / 2 = 14d 11:58, a 12-hour skew vs Spark's exact interval
    # halving; caught by the oracle on first run)
    span = ev.agg(
        ((F.unix_micros(F.min("ts")) + F.unix_micros(F.max("ts"))) / 2)
        .cast("long")
        .alias("mid_us")
    )
    mid_pred = F.unix_micros(F.col("ts")) < F.col("mid_us")
    arm = _exp1_hash() % 2
    ux = checkpoint_pinned(
        ev.crossJoin(F.broadcast(span))
        .groupBy("user_id")
        .agg(
            F.sum(F.when(mid_pred, cents("value")).otherwise(F.lit(0)))
            .cast("long")
            .alias("x"),
            F.sum(F.when(~mid_pred, cents("value")).otherwise(F.lit(0)))
            .cast("long")
            .alias("y"),
            F.first(arm).alias("arm"),
        )
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    pool = ux.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(dec("x")).alias("sx"),
        F.sum(dec("y")).alias("sy"),
        F.sum(dec("x") * dec("x")).alias("sxx"),
        F.sum(dec("x") * dec("y")).alias("sxy"),
        F.sum(dec("y") * dec("y")).alias("syy"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    cov_n = F.col("n") * d("sxy") - d("sx") * d("sy")
    varx_n = F.col("n") * d("sxx") - d("sx") * d("sx")
    vary_n = F.col("n") * d("syy") - d("sy") * d("sy")
    th = pool.select(
        "n",
        d("sx").alias("sx"),
        (cov_n / varx_n).alias("theta"),
        (1.0 - cov_n * cov_n / (varx_n * vary_n)).alias("var_ratio"),
    )
    return (
        ux.crossJoin(F.broadcast(th))
        .groupBy(
            F.col("arm").cast("long").alias("arm"),
            "theta",
            "var_ratio",
            "sx",
            "n",
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_users"),
            F.sum(dec("y")).alias("sum_y"),
            F.sum(dec("x")).alias("sum_x"),
        )
        .select(
            "arm",
            "n_users",
            F.round(d("sum_y") / F.col("n_users") / 100, 6).alias("mean_y"),
            F.round(
                (
                    d("sum_y") / F.col("n_users")
                    - F.col("theta")
                    * (d("sum_x") / F.col("n_users") - F.col("sx") / F.col("n"))
                )
                / 100,
                6,
            ).alias("mean_y_cuped"),
            F.round("theta", 6).alias("theta"),
            F.round(1.0 - F.col("var_ratio"), 6).alias("var_reduction"),
        )
    )


# ---------------------------------------------------------------------------
# Minimum detectable effect (experiment power) — round 10
# ---------------------------------------------------------------------------

# z constants spelled to full double precision IDENTICALLY in both engines
# (two-sided α=0.05 and 80% power); variances from DECIMAL(38,0) power sums.
_Z_ALPHA = "1.959963984540054"
_Z_BETA = "0.8416212335729143"

_MDE_SQL = f"""
WITH ux AS (
  SELECT user_id,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y,
         CAST(concat('0x', substr(md5(concat(CAST(user_id AS VARCHAR),
                                             ':exp1')), 1, 8)) AS BIGINT) % 2
           AS arm
  FROM events GROUP BY user_id
),
s AS (
  SELECT arm, CAST(count(*) AS BIGINT) AS n,
         sum(CAST(y AS DECIMAL(38,0))) AS sy,
         sum(CAST(y AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0))) AS syy
  FROM ux GROUP BY arm
),
w AS (
  SELECT
    max(CASE WHEN arm = 0 THEN n END) AS n_a,
    max(CASE WHEN arm = 1 THEN n END) AS n_b,
    max(CASE WHEN arm = 0 THEN
      (n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))
      / n / (n - 1) END) AS var_a,
    max(CASE WHEN arm = 1 THEN
      (n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))
      / n / (n - 1) END) AS var_b,
    max(CASE WHEN arm = 0 THEN CAST(sy AS DOUBLE) / n END) AS mean_a
  FROM s
)
SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
       round(mean_a / 100, 6) AS mean_control,
       round(({_Z_ALPHA} + {_Z_BETA})
             * sqrt(var_a / n_a + var_b / n_b) / 100, 6) AS mde_abs,
       round(({_Z_ALPHA} + {_Z_BETA})
             * sqrt(var_a / n_a + var_b / n_b) / mean_a * 100, 6)
         AS mde_rel_pct
FROM w
"""


@register("ab_test_power_mde", oracle=_MDE_SQL, category="evaluation")
def ab_test_power_mde(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimum detectable effect of the running experiment design — the
    power calculation an experimenter runs BEFORE trusting a flat
    readout: MDE = (z_{{α/2}} + z_{{power}})·√(s²_A/n_A + s²_B/n_B) at
    two-sided α = 0.05 and 80% power, on the user-level value metric
    under the same sticky md5 arm split as ``ab_test_proportions`` /
    ``cuped_adjusted_lift``. An A/B readout smaller than ``mde_abs`` is
    indistinguishable from noise AT THIS SAMPLE SIZE — the number that
    separates "no effect" from "underpowered".

    Sample variances come from DECIMAL(38,0) power sums per arm (the
    engine's float-accumulation rule); the z constants are spelled to
    full double precision identically in both dialects. One user-level
    combine, a 2-row arm rollup, scalar arithmetic."""
    ev = read_table(spark, sf_dir, "events")
    arm = _exp1_hash() % 2
    ux = ev.groupBy("user_id").agg(
        F.sum(cents("value")).cast("long").alias("y"),
        F.first(arm).alias("arm"),
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    s = ux.groupBy("arm").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(dec("y")).alias("sy"),
        F.sum(dec("y") * dec("y")).alias("syy"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    var = (
        (F.col("n") * d("syy") - d("sy") * d("sy"))
        / F.col("n")
        / (F.col("n") - 1)
    )
    w = s.agg(
        F.max(F.when(F.col("arm") == 0, F.col("n"))).alias("n_a"),
        F.max(F.when(F.col("arm") == 1, F.col("n"))).alias("n_b"),
        F.max(F.when(F.col("arm") == 0, var)).alias("var_a"),
        F.max(F.when(F.col("arm") == 1, var)).alias("var_b"),
        F.max(F.when(F.col("arm") == 0, d("sy") / F.col("n"))).alias("mean_a"),
    )
    zsum = F.lit(float(_Z_ALPHA)) + F.lit(float(_Z_BETA))
    mde = zsum * F.sqrt(
        F.col("var_a") / F.col("n_a") + F.col("var_b") / F.col("n_b")
    )
    return w.select(
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.round(F.col("mean_a") / 100, 6).alias("mean_control"),
        F.round(mde / 100, 6).alias("mde_abs"),
        F.round(mde / F.col("mean_a") * 100, 6).alias("mde_rel_pct"),
    )


# ---------------------------------------------------------------------------
# Difference-in-differences (2x2 cell means) — round 10
# ---------------------------------------------------------------------------

# Four (arm, period) cells from one conditional combine; every mean and
# variance comes from DECIMAL(38,0) power sums, the doubles applied once in
# a fixed-order expression; SE by the independent-cells formula.
_DID_SQL = """
WITH span AS (
  SELECT (CAST(epoch_us(min(ts)) AS BIGINT)
          + CAST(epoch_us(max(ts)) AS BIGINT)) // 2 AS mid_us
  FROM events
),
cells AS (
  SELECT CAST(concat('0x', substr(md5(concat(CAST(user_id AS VARCHAR),
                                             ':exp1')), 1, 8)) AS BIGINT) % 2
           AS arm,
         CASE WHEN CAST(epoch_us(ts) AS BIGINT) >= span.mid_us
              THEN 1 ELSE 0 END AS period,
         CAST(round(value * 100) AS BIGINT) AS y
  FROM events, span
),
s AS (
  SELECT arm, period, CAST(count(*) AS BIGINT) AS n,
         sum(CAST(y AS DECIMAL(38,0))) AS sy,
         sum(CAST(y AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0))) AS syy
  FROM cells GROUP BY arm, period
),
m AS (
  SELECT arm, period, n,
         CAST(sy AS DOUBLE) / n AS mu,
         (n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))
         / n / (n - 1) / n AS mu_var
  FROM s
),
w AS (
  SELECT
    max(CASE WHEN arm = 0 AND period = 0 THEN mu END) AS m00,
    max(CASE WHEN arm = 0 AND period = 1 THEN mu END) AS m01,
    max(CASE WHEN arm = 1 AND period = 0 THEN mu END) AS m10,
    max(CASE WHEN arm = 1 AND period = 1 THEN mu END) AS m11,
    max(CASE WHEN arm = 0 AND period = 0 THEN mu_var END)
    + max(CASE WHEN arm = 0 AND period = 1 THEN mu_var END)
    + max(CASE WHEN arm = 1 AND period = 0 THEN mu_var END)
    + max(CASE WHEN arm = 1 AND period = 1 THEN mu_var END) AS se2,
    CAST(sum(n) AS BIGINT) AS n_events
  FROM m
)
SELECT n_events,
       round(m00 / 100, 6) AS mean_ctrl_pre,
       round(m01 / 100, 6) AS mean_ctrl_post,
       round(m10 / 100, 6) AS mean_treat_pre,
       round(m11 / 100, 6) AS mean_treat_post,
       round(((m11 - m10) - (m01 - m00)) / 100, 6) AS did,
       round(sqrt(se2) / 100, 6) AS se,
       round(((m11 - m10) - (m01 - m00)) / sqrt(se2), 6) AS t_stat
FROM w
"""


@register("did_estimator", oracle=_DID_SQL, category="evaluation")
def did_estimator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences — the panel-data estimator for
    treatments that switch ON at a point in time: DiD = (treat_post −
    treat_pre) − (ctrl_post − ctrl_pre) nets out both the group gap and
    the common time trend, with SE from the four independent cells'
    mean variances. Completes the experimentation suite (proportions →
    power → CUPED → conformal → DiD) on the same sticky md5 arms and
    integer epoch-µs period midpoint as ``cuped_adjusted_lift``. A null
    design by construction, so DiD ≈ 0 and |t| small — pytest-pinned,
    the A/A-correct readout.

    One conditional combine into FOUR cells (map-side, exact
    DECIMAL(38,0) power sums); every mean/variance double is applied
    once in a fixed-order expression. The same plan scores any 100 TB
    exposure log."""
    ev = read_table(spark, sf_dir, "events")
    span = ev.agg(
        ((F.unix_micros(F.min("ts")) + F.unix_micros(F.max("ts"))) / 2)
        .cast("long")
        .alias("mid_us")
    )
    arm = _exp1_hash() % 2
    cells = ev.crossJoin(F.broadcast(span)).select(
        arm.alias("arm"),
        F.when(F.unix_micros(F.col("ts")) >= F.col("mid_us"), 1)
        .otherwise(0)
        .alias("period"),
        cents("value").alias("y"),
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    s = cells.groupBy("arm", "period").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(dec("y")).alias("sy"),
        F.sum(dec("y") * dec("y")).alias("syy"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    m = s.select(
        "arm",
        "period",
        "n",
        (d("sy") / F.col("n")).alias("mu"),
        (
            (F.col("n") * d("syy") - d("sy") * d("sy"))
            / F.col("n")
            / (F.col("n") - 1)
            / F.col("n")
        ).alias("mu_var"),
    )

    def cell(a: int, p: int):
        return F.max(
            F.when((F.col("arm") == a) & (F.col("period") == p), F.col("mu"))
        )

    def vcell(a: int, p: int):
        return F.max(
            F.when(
                (F.col("arm") == a) & (F.col("period") == p), F.col("mu_var")
            )
        )

    # fixed-order 4-term addition, never a float groupBy-sum (4-row
    # accumulation order is partition-dependent)
    w = m.agg(
        cell(0, 0).alias("m00"),
        cell(0, 1).alias("m01"),
        cell(1, 0).alias("m10"),
        cell(1, 1).alias("m11"),
        (vcell(0, 0) + vcell(0, 1) + vcell(1, 0) + vcell(1, 1)).alias("se2"),
        F.sum("n").cast("long").alias("n_events"),
    )
    did = (F.col("m11") - F.col("m10")) - (F.col("m01") - F.col("m00"))
    return w.select(
        "n_events",
        F.round(F.col("m00") / 100, 6).alias("mean_ctrl_pre"),
        F.round(F.col("m01") / 100, 6).alias("mean_ctrl_post"),
        F.round(F.col("m10") / 100, 6).alias("mean_treat_pre"),
        F.round(F.col("m11") / 100, 6).alias("mean_treat_post"),
        F.round(did / 100, 6).alias("did"),
        F.round(F.sqrt(F.col("se2")) / 100, 6).alias("se"),
        F.round(did / F.sqrt(F.col("se2")), 6).alias("t_stat"),
    )

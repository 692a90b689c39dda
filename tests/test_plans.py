"""Plan-shape regression tests (plans/inspect.py): the operator docstrings
make physical-plan claims — filters pushed to the scan, dims broadcast,
"one shuffle" budgets, pruned read schemas. These tests pin those claims to
the actual pre-AQE physical plan, so a silent de-optimization (lost
broadcast, filter stranded above the scan, a second exchange creeping in)
fails here instead of at 100 TB.
"""

from __future__ import annotations

from big_data_medical_analysis_spark import plans as P
from big_data_medical_analysis_spark import registry

QS = registry.queries()


def test_pricing_summary_pushdown_and_single_shuffle(spark, sf_dir):
    """TPC-H Q1 shape: the shipdate filter reaches the parquet scan, the
    scan reads only the 7 consumed columns, and the whole multi-agg is one
    partial+final shuffle."""
    df = QS["pricing_summary"](spark, sf_dir)
    assert P.exchange_count(df) == 1
    pushed = " | ".join(P.pushed_filters(df))
    assert "l_shipdate" in pushed and "LessThanOrEqual" in pushed
    schemas = " | ".join(P.read_schemas(df))
    assert "l_comment" not in schemas  # column pruning held


def test_regional_revenue_snowflake_broadcast(spark, sf_dir):
    """Snowflake collapse: every dim join broadcasts; the fact table
    shuffles exactly once (for the final aggregate)."""
    df = QS["regional_revenue"](spark, sf_dir)
    assert P.exchange_count(df) == 1
    assert P.broadcast_join_count(df) >= 3
    assert not P.has_node(df, "SortMergeJoin")
    # fact scan pruned to join key + the two revenue columns
    schemas = P.read_schemas(df)
    li = [s for s in schemas if "l_orderkey" in s]
    assert li and "l_shipmode" not in li[0] and "l_comment" not in li[0]


def test_top_orders_uses_topk_operator_and_pushdown(spark, sf_dir):
    """Global top-k compiles to TakeOrderedAndProject (no full sort), and
    both dim filters land in their scans."""
    df = QS["top_orders_by_segment"](spark, sf_dir)
    assert P.has_node(df, "TakeOrderedAndProject")
    pushed = " | ".join(P.pushed_filters(df))
    assert "c_mktsegment" in pushed and "o_orderdate" in pushed


def test_cosine_topk_probe_broadcast(spark, sf_dir):
    """The probe side broadcasts (nested-loop against the candidate scan);
    the probe filter is pushed down; the big side never sort-merge joins."""
    df = QS["cosine_topk"](spark, sf_dir)
    assert P.has_node(df, "BroadcastNestedLoopJoin")
    assert not P.has_node(df, "SortMergeJoin")
    pushed = " | ".join(P.pushed_filters(df))
    assert "LessThan(vec_id,10)" in pushed


def test_asof_join_single_shuffle(spark, sf_dir):
    """The union+window as-of join is linear: exactly one shuffle (on
    user_id), with both event_type filters pushed to the scans."""
    df = QS["purchase_asof_signup"](spark, sf_dir)
    assert P.exchange_count(df) == 1
    pushed = " | ".join(P.pushed_filters(df))
    assert "EqualTo(event_type,signup)" in pushed
    assert "EqualTo(event_type,purchase)" in pushed


def test_window_aggs_single_shuffle(spark, sf_dir):
    """Tumbling windows and per-group ranking each budget one shuffle."""
    assert P.exchange_count(QS["tumbling_event_counts"](spark, sf_dir)) == 1
    assert P.exchange_count(QS["topk_parts_per_brand"](spark, sf_dir)) == 1


def test_fanout_exchange_is_pinned(spark, sf_dir):
    """fan_out's explicit-count repartition survives into the plan as a
    REPARTITION_BY_NUM exchange — the AQE-coalesce-proof form (a bare
    repartition(col) would plan as REPARTITION_BY_COL and be coalescible
    back to one task). Pinned on minhash_portable_groups since r9:
    simhash_near_dup's fan_out now sits below a localCheckpoint (the
    fingerprint materialization) and is no longer visible in its plan."""
    df = QS["minhash_portable_groups"](spark, sf_dir)
    assert "REPARTITION_BY_NUM" in P.physical_plan(df)


def test_bucketed_join_avoids_shuffle(spark, sf_dir):
    """Bucketed co-located join: both sides written bucketBy(8, key) —
    the equi-join then plans with ZERO shuffle exchanges (bucket layout IS
    the partitioning), the 100 TB answer for a fact⋈fact join too big to
    broadcast and too hot to re-shuffle every query."""
    from pyspark.sql import functions as F

    from big_data_medical_analysis_spark.sources.readers import read_table

    li = read_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus"
    )
    spark.sql("DROP TABLE IF EXISTS li_bucketed")
    spark.sql("DROP TABLE IF EXISTS orders_bucketed")
    (li.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
       .mode("overwrite").saveAsTable("li_bucketed"))
    (orders.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
       .mode("overwrite").saveAsTable("orders_bucketed"))
    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = spark.table("li_bucketed").join(
            spark.table("orders_bucketed"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        assert P.exchange_count(j) == 0
        assert P.has_node(j, "SortMergeJoin")
        plain = li.join(orders, li.l_orderkey == orders.o_orderkey)
        assert j.count() == plain.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
        spark.sql("DROP TABLE IF EXISTS li_bucketed")
        spark.sql("DROP TABLE IF EXISTS orders_bucketed")


def test_simhash_banded_join_shape(spark, sf_dir):
    """The SimHash pairing must stay the banded shuffle join: no broadcast
    of the fingerprint corpus (either side grows with the corpus) and no
    nested-loop comparison — the scale claim in dedup.simhash_near_dup's
    docstring."""
    df = QS["simhash_near_dup"](spark, sf_dir)
    # never a nested-loop comparison
    assert not P.has_node(df, "BroadcastNestedLoopJoin")
    # the equi-join keys must include the high-cardinality band value (the
    # old shape joined on 5-value lang alone). Whether Catalyst picks
    # broadcast (fine at test scale: the banded side is tiny) or a shuffle
    # join (what the same plan yields at scale) is its call — the key set
    # is the scale property.
    plan = P.physical_plan(df)
    import re

    join_lines = [
        ln for ln in plan.splitlines()
        if "HashJoin" in ln or "SortMergeJoin" in ln
    ]
    assert join_lines and any("band_val" in ln for ln in join_lines), plan


def test_moments_single_shuffle_and_pruned_scan(spark, sf_dir):
    """Exact sufficient statistics must stay one partial+final aggregate
    (map-side combinable) over a 3-column pruned scan."""
    df = QS["lineitem_price_moments"](spark, sf_dir)
    assert P.exchange_count(df) == 1
    schemas = " | ".join(P.read_schemas(df))
    assert "l_comment" not in schemas and "l_shipdate" not in schemas


def test_histogram_single_shuffle(spark, sf_dir):
    df = QS["price_histogram"](spark, sf_dir)
    assert P.exchange_count(df) == 1


def test_bloom_filter_broadcasts_bit_set(spark, sf_dir):
    """The Bloom bit set and the exact-membership dim must broadcast: the
    customer probe side never shuffles for the join."""
    df = QS["bloom_customer_filter"](spark, sf_dir)
    assert P.broadcast_join_count(df) >= 2


def test_heavy_hitters_candidates_broadcast(spark, sf_dir):
    """The recount join against MG candidates and the 1-row total must both
    broadcast — the fact table's key column never shuffles wholesale."""
    df = QS["heavy_hitter_users"](spark, sf_dir)
    assert P.broadcast_join_count(df) >= 2


def test_curated_corpus_two_shuffles_text_pruned(spark, sf_dir):
    """The flagship curation pipeline shuffles exactly twice (fingerprint
    keeper window, per-lang quota window) — the agg+self-join keeper form
    cost a third exchange — and the document text never crosses either
    exchange (projected away with the fingerprint before the shuffle)."""
    df = QS["curated_corpus"](spark, sf_dir)
    assert P.exchange_count(df) == 2
    plan = df._jdf.queryExecution().executedPlan().toString()
    for chunk in plan.split("Exchange hashpartitioning")[1:]:
        child = chunk.split("FileScan")[0]
        assert "text#" not in child.split("Project")[0]
    # quota window takes the partial-top-k path, not a full per-lang sort
    assert P.has_node(df, "WindowGroupLimit")


def test_rp_projection_no_shuffle_pruned_scan(spark, sf_dir):
    """The projection is a narrow map over a 2-column scan: exactly the one
    pinned fan_out exchange, no join, label column pruned away."""
    df = QS["rp_embedding_project"](spark, sf_dir)
    assert P.exchange_count(df) == 1
    schemas = " | ".join(P.read_schemas(df))
    assert "label" not in schemas


def test_small_order_subquery_decorrelates_to_join(spark, sf_dir):
    """The correlated scalar subquery (per-part avg threshold) must be
    FULLY decorrelated: one per-partkey aggregate joined against the fact
    scan, no Subquery node left in the main plan — a surviving per-row
    subquery would be O(n²) at scale. The fact scan reads only the three
    consumed columns."""
    df = QS["small_order_revenue"](spark, sf_dir)
    plan = P.physical_plan(df)
    assert "Join" in plan
    assert "Subquery subquery" not in plan
    schemas = " | ".join(P.read_schemas(df))
    assert "l_shipdate" not in schemas and "l_tax" not in schemas


def test_top_supplier_scalar_subquery_once(spark, sf_dir):
    """The max-revenue threshold is an uncorrelated scalar subquery: it
    must appear as a once-evaluated Subquery node (not a join against the
    fact), and the supplier dim join must broadcast."""
    df = QS["top_revenue_suppliers"](spark, sf_dir)
    plan = P.physical_plan(df)
    assert "Subquery subquery" in plan
    assert P.broadcast_join_count(df) >= 1


def test_rich_idle_not_exists_is_anti_join(spark, sf_dir):
    """NOT EXISTS must plan as a left-anti join on o_custkey (orders scan
    pruned to the key column), with the balance threshold as a scalar
    Subquery evaluated once."""
    df = QS["rich_idle_customers"](spark, sf_dir)
    plan = P.physical_plan(df)
    assert "LeftAnti" in plan
    assert "Subquery subquery" in plan
    schemas = " | ".join(P.read_schemas(df))
    assert "o_totalprice" not in schemas and "o_orderstatus" not in schemas


def test_edit_distance_single_levenshtein_and_probe_pushdown(spark, sf_dir):
    """The quadratic DP kernel must evaluate ONCE per pair (two output
    columns derive from it — CollapseProject would inline it twice without
    the fan_out barrier), and the probe filter must reach the fingerprint
    side rather than running after pairing."""
    df = QS["edit_distance_pairs"](spark, sf_dir)
    plan = P.physical_plan(df)
    assert plan.count("levenshtein") == 1
    # probe cap is a pushable predicate on doc_id, not a post-join filter
    assert "Filter" in plan


def test_enrich_dim_broadcasts_and_unpivot_single_shuffle(spark, sf_dir):
    """Stream-static enrichment's batch twin must broadcast the customer
    dimension (the per-micro-batch map-side join is the whole point);
    unpivot must add no exchange beyond its upstream aggregate."""
    assert P.broadcast_join_count(QS["event_customer_enrich"](spark, sf_dir)) >= 1
    up = QS["returnflag_measures_unpivot"](spark, sf_dir)
    assert P.physical_plan(up).count("Exchange") <= 2  # agg partial/final only


def test_gapfill_day_spine_broadcasts(spark, sf_dir):
    """The day spine (time-range axis) must broadcast against the user
    axis — a shuffled cross join of the large side would be a scale bug."""
    assert P.broadcast_join_count(QS["daily_user_value_gapfill"](spark, sf_dir)) >= 1


def test_join_strategy_hints_are_honored(spark, sf_dir):
    """The engine must be able to force the physical join strategy per
    side — SHUFFLE_HASH for build-side-fits-in-memory joins where sort
    would dominate, MERGE for pre-sorted inputs — because at 100 TB the
    optimizer's stats-driven choice is sometimes wrong and the hint is the
    escape hatch."""
    from big_data_medical_analysis_spark.sources.readers import read_table

    orders = read_table(spark, sf_dir, "orders")
    cust = read_table(spark, sf_dir, "customer")
    hashed = orders.join(
        cust.hint("SHUFFLE_HASH"), orders.o_custkey == cust.c_custkey
    )
    assert "ShuffledHashJoin" in P.physical_plan(hashed)
    merged = orders.join(
        cust.hint("MERGE"), orders.o_custkey == cust.c_custkey
    )
    assert "SortMergeJoin" in P.physical_plan(merged)


def test_observed_metrics_match_result(spark, sf_dir):
    """observe() metrics must equal what a second aggregation pass would
    compute — the in-job invariant-check surface (no extra scan)."""
    import pyspark.sql.functions as F

    from big_data_medical_analysis_spark.sources.readers import read_table

    orders = read_table(spark, sf_dir, "orders")
    observed, obs = P.observed_metrics(
        orders,
        "orders_audit",
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
            "total_cents"
        ),
        F.count_if(F.col("o_custkey").isNull()).alias("null_keys"),
    )
    observed.write.mode("overwrite").format("noop").save()
    got = obs.get
    want = orders.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
            "total_cents"
        ),
        F.count_if(F.col("o_custkey").isNull()).alias("null_keys"),
    ).collect()[0]
    assert got["n_rows"] == want.n_rows
    assert got["total_cents"] == want.total_cents
    assert got["null_keys"] == 0


def test_aqe_is_active_and_coalesces_shuffles(spark, sf_dir):
    """The engine profile's AQE must actually re-plan at runtime — the
    executed plan of a shuffling aggregate carries AQEShuffleRead
    (coalesced partitions), the mechanism that right-sizes reducers at
    100 TB without hand-tuning spark.sql.shuffle.partitions per stage."""
    from big_data_medical_analysis_spark.sources.readers import read_table

    df = (
        read_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .count()
    )
    df.collect()
    executed = df._jdf.queryExecution().executedPlan().toString()
    assert "AdaptiveSparkPlan" in executed
    assert "AQEShuffleRead" in executed


def test_range_partitioned_sorted_layout(spark, sf_dir):
    """The sorted-write layout path (repartitionByRange +
    sortWithinPartitions) must plan a RangePartitioning exchange with an
    in-partition sort and NO extra shuffle — the data-skipping enabler:
    range-partitioned, internally-sorted files give min/max pruning on
    the sort key at read time."""
    from pyspark.sql import functions as F

    from big_data_medical_analysis_spark.sources.readers import read_table

    orders = read_table(spark, sf_dir, "orders")
    laid_out = orders.repartitionByRange(8, "o_orderdate").sortWithinPartitions(
        "o_orderdate", "o_orderkey"
    )
    plan = P.physical_plan(laid_out)
    assert "rangepartitioning" in plan.lower()
    assert plan.count("Exchange") == 1
    assert "Sort" in plan


def test_event_funnel_no_window_bounded_exchanges(spark, sf_dir):
    """The funnel is per-stage aggregate + equi-join by construction; a
    silent regression to a window over the full per-user event list (or a
    real cartesian) would change these node counts."""
    df = QS["event_funnel"](spark, sf_dir)
    assert not P.has_node(df, "Window")
    assert not P.has_node(df, "CartesianProduct")
    assert P.exchange_count(df) <= 9
    # the only nested-loop joins are the two 1-row scalar combines
    assert P.node_count(df, "BroadcastNestedLoopJoin") == 2


def test_user_retention_no_window_bounded_exchanges(spark, sf_dir):
    """Retention = cohort aggregate + (user, week) distinct + equi-join +
    final aggregate: three exchanges, no window, no nested loop."""
    df = QS["user_retention_cohorts"](spark, sf_dir)
    assert not P.has_node(df, "Window")
    assert not P.has_node(df, "BroadcastNestedLoopJoin")
    assert not P.has_node(df, "CartesianProduct")
    assert P.exchange_count(df) <= 3


def test_decontamination_benchmark_side_broadcasts(spark, sf_dir):
    """The benchmark gram set is probe-sized and must broadcast; the
    corpus-side grams never shuffle for the join (only the final per-doc
    aggregate shuffles)."""
    df = QS["benchmark_decontamination"](spark, sf_dir)
    assert P.broadcast_join_count(df) >= 1
    assert not P.has_node(df, "SortMergeJoin")
    assert not P.has_node(df, "CartesianProduct")


def test_single_partition_window_allowlist(spark, sf_dir):
    """The three DISCLOSED single-partition windows stay at exactly one
    each; bench.py fails on any query exceeding its allowlisted count, and
    this pins the allowlist itself against silent growth."""
    import bench

    for name, cap in bench.SINGLE_PARTITION_WINDOW_OK.items():
        assert P.unpartitioned_window_count(QS[name](spark, sf_dir)) == cap


def test_session_overlap_stays_bucketed_hash_join(spark, sf_dir):
    """The interval-overlap join MUST equi-join on the explode-derived
    bucket id (SortMergeJoin/ShuffledHashJoin) with the exact overlap
    predicate as a post-join filter. A silent regression to a
    BroadcastNestedLoopJoin on the raw overlap predicate would be quadratic
    in intervals — the exact failure mode the bucket decomposition exists
    to prevent."""
    df = QS["session_overlap_pairs"](spark, sf_dir)
    assert not P.has_node(df, "BroadcastNestedLoopJoin")
    assert not P.has_node(df, "CartesianProduct")
    # the candidate join is an EQUI-join on the bucket key; at test scale
    # the small side broadcasts (BroadcastHASHJoin — still keyed), at 100 TB
    # it shuffles to SortMerge/ShuffledHash. All three are linear in
    # candidates; only the keyless nested-loop forms are regressions.
    assert (
        P.has_node(df, "SortMergeJoin")
        or P.has_node(df, "ShuffledHashJoin")
        or P.has_node(df, "BroadcastHashJoin")
    )
    # probe filter reaches both scans
    pushed = " | ".join(P.pushed_filters(df))
    assert "user_id" in pushed


def test_balance_bracket_dim_broadcasts(spark, sf_dir):
    """The K-row bracket dimension must broadcast (nested-loop with a
    broadcast inner IS the map-side lookup); the fact side must not shuffle
    for the join — only the final aggregate exchange is allowed."""
    df = QS["balance_bracket_lookup"](spark, sf_dir)
    assert P.node_count(df, "BroadcastNestedLoopJoin") == 1
    assert not P.has_node(df, "SortMergeJoin")
    assert not P.has_node(df, "CartesianProduct")
    # one aggregate shuffle on the bracket key, nothing else
    assert P.exchange_count(df) == 1


def test_join_hints_override_size_heuristics(spark, sf_dir):
    """SHUFFLE_MERGE(o) must force a SortMergeJoin even though the customer
    side is broadcast-sized at test SF (hints outrank size estimates), and
    BROADCAST(n) keeps the nation join broadcast. Values are pinned by the
    hint-free oracle."""
    df = QS["join_hint_strategies"](spark, sf_dir)
    assert P.node_count(df, "SortMergeJoin") == 1
    assert P.has_node(df, "BroadcastHashJoin")
    assert not P.has_node(df, "CartesianProduct")


def test_dynamic_partition_pruning_reaches_scan(spark, sf_dir):
    """The partitioned fact scan must carry a runtime dynamicpruning
    subquery in its partition filters — static pruning can't apply (the
    filter arrives via the dim join), so its absence means the full
    partition set is scanned at 100 TB."""
    df = QS["dynamic_partition_pruning"](spark, sf_dir)
    plan = P.physical_plan(df)
    assert "dynamicpruning" in plan.lower()
    assert P.has_node(df, "BroadcastHashJoin")


def test_triangle_count_no_cartesian_and_complete_graph_value(spark, sf_dir):
    """The 3-way edge join stays equi-keyed (no cartesian), and the
    triangle count obeys the C(nodes, 3) upper bound with canonical a<b
    orientation counting each triangle once."""
    df = QS["triangle_count_brand_graph"](spark, sf_dir)
    assert not P.has_node(df, "CartesianProduct")
    r = df.collect()[0]
    n = r["n_nodes"]
    assert r["n_triangles"] <= n * (n - 1) * (n - 2) // 6
    assert r["n_edges"] <= n * (n - 1) // 2


def test_rolling_7d_single_shuffle_single_window(spark, sf_dir):
    """The time-range frame runs as ONE shuffle on user_id and ONE window
    pass; the probe filter reaches the scan."""
    df = QS["rolling_7d_user_value"](spark, sf_dir)
    assert P.exchange_count(df) == 1
    assert P.node_count(df, "Window") == 1
    pushed = " | ".join(P.pushed_filters(df))
    assert "user_id" in pushed


def test_token_pack_bins_shuffle_budget(spark, sf_dir):
    """Packing = one shard shuffle + one windowed prefix sum + the manifest
    aggregate; no extra exchange may creep in."""
    df = QS["token_pack_bins"](spark, sf_dir)
    assert P.exchange_count(df) <= 2
    assert P.node_count(df, "Window") == 1
    assert not P.has_node(df, "CartesianProduct")


def test_span_dedup_shuffle_budget(spark, sf_dir):
    """Span dedup = keeper window on span identity + per-doc reassembly +
    doc join: bounded exchanges, no cartesian."""
    df = QS["span_dedup_texts"](spark, sf_dir)
    assert P.exchange_count(df) <= 4
    assert not P.has_node(df, "CartesianProduct")


def test_session_overlap_join_is_hash_not_cartesian(spark, sf_dir):
    """The interval-overlap join must run as an equi hash join on the
    coarse bucket key — a regression to the naive theta form would appear
    as a nested-loop/cartesian over all interval pairs."""
    df = QS["session_overlap_pairs"](spark, sf_dir)
    assert not P.has_node(df, "CartesianProduct")
    assert not P.has_node(df, "BroadcastNestedLoopJoin")


def test_runtime_bloom_filter_join_injection(spark, sf_dir):
    """Runtime bloom-filter join (the 100 TB shuffle-reduction feature):
    with the size thresholds adjusted to local-test scale, Catalyst must
    inject a bloom_filter_agg on the selective dim side and a probe on the
    fact side of a shuffle join — and the filter must not change values
    (it is a pure pre-shuffle reducer). Conf-scoped here rather than in a
    registered query: the thresholds are session-global and would leak
    into every other query's plan.
    """
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}

    def build():
        ev = spark.read.parquet(f"{sf_dir}/events.parquet")
        cust = spark.read.parquet(f"{sf_dir}/customer.parquet").filter(
            F.col("c_acctbal") > 5000
        )
        return (
            ev.join(cust.hint("shuffle_merge"), ev.user_id == cust.c_custkey)
            .groupBy("c_mktsegment")
            .agg(F.count(F.lit(1)).alias("n"))
        )

    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        df = build()
        phys = df._jdf.queryExecution().executedPlan().toString()
        assert "bloom_filter_agg" in phys and "might_contain" in phys.lower()
        with_bloom = {(r.c_mktsegment, r.n) for r in df.collect()}
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    without = {(r.c_mktsegment, r.n) for r in build().collect()}
    assert with_bloom == without and with_bloom


def test_minhash_portable_no_join_bounded_exchanges(spark, sf_dir):
    """Portable MinHash banding is scan → HOF signature → band explode →
    ONE hash aggregate: no join of any kind, bounded exchanges (fan_out +
    the band/bucket aggregate). An all-pairs regression would surface as a
    join node."""
    df = QS["minhash_portable_groups"](spark, sf_dir)
    assert not P.has_node(df, "Join")  # matches SortMergeJoin/Broadcast*/Shuffled*
    assert P.exchange_count(df) <= 3


def test_hll_portable_register_bounded_state(spark, sf_dir):
    """HLL = distinct hash → register max → 1-row fold (+1-row broadcast
    cross for the exact twin). No window, no data-sized join."""
    df = QS["hll_portable_distinct"](spark, sf_dir)
    assert P.node_count(df, "Window") == 0
    assert not P.has_node(df, "SortMergeJoin")
    assert P.exchange_count(df) <= 5


def test_trade_volume_star_broadcasts_dims(spark, sf_dir):
    """Q7 star: nation (x2) and supplier broadcast; never a cartesian."""
    df = QS["nation_trade_volume"](spark, sf_dir)
    assert P.broadcast_join_count(df) >= 3
    assert not P.has_node(df, "CartesianProduct")
    # fact scan pruned: lineitem reads only the 5 consumed columns
    schemas = P.read_schemas(df)
    li = [s for s in schemas if "l_suppkey" in s]
    assert li and "l_comment" not in li[0] and "l_returnflag" not in li[0]


def test_column_profile_single_pass_expand(spark, sf_dir):
    """Profiler = ONE multi-distinct aggregate (Expand) over one scan; the
    row reshape is a shuffle-free generate. A per-column-job regression
    would appear as extra exchanges."""
    df = QS["orders_column_profile"](spark, sf_dir)
    assert P.has_node(df, "Expand")
    assert not P.has_node(df, "Join")
    assert P.exchange_count(df) <= 3


def test_streak_single_shuffle_claim(spark, sf_dir):
    """longest_daily_streak's docstring claims ONE user-keyed shuffle
    shared by the window, the island grouping, and both aggregates."""
    df = QS["longest_daily_streak"](spark, sf_dir)
    assert P.node_count(df, "Window") == 1
    assert P.exchange_count(df) <= 2  # distinct + the shared user shuffle
    assert not P.has_node(df, "CartesianProduct")


def test_transition_matrix_window_and_exchange_budget(spark, sf_dir):
    """Exactly two windows — the data-sized user-partitioned lead() and
    the cell-sized from_type marginal sum — and three exchanges; the
    join-based marginal alternative re-derives the lead branch (2 windows
    + 5 exchanges, measured) and must not come back."""
    df = QS["event_transition_matrix"](spark, sf_dir)
    assert P.node_count(df, "Window") == 2
    assert P.exchange_count(df) <= 3
    assert not P.has_node(df, "CartesianProduct")
    assert not P.has_node(df, "SortMergeJoin")


def test_prefix_join_never_cartesian(spark, sf_dir):
    """The candidate stage must stay an equi hash join on the prefix
    token — a planner regression to a nested-loop over doc pairs is the
    quadratic failure the operator exists to avoid."""
    df = QS["prefix_filter_jaccard_join"](spark, sf_dir)
    assert not P.has_node(df, "CartesianProduct")
    assert not P.has_node(df, "BroadcastNestedLoopJoin")


def test_fairness_single_pass_no_data_join(spark, sf_dir):
    """One segment-keyed aggregate + a 1-row overall fold — the only join
    is the broadcast scalar cross."""
    df = QS["fairness_parity_by_segment"](spark, sf_dir)
    assert not P.has_node(df, "SortMergeJoin")
    assert not P.has_node(df, "ShuffledHashJoin")
    assert P.exchange_count(df) <= 3


def test_no_inferred_filter_recomputes_expensive_chain(spark, sf_dir):
    """Repo-wide plan audit (round 8): Catalyst infers predicates from
    generators (size(arr)>0) and join/filter keys (isnotnull) and pushes
    them toward the scan with the column's DEFINING EXPRESSION substituted
    — so an exchange-materialized expensive derivation (HOF shingle
    chains, int-scaling transforms, norm aggregates) silently re-runs per
    source row inside a Filter. This cost prefix_filter_jaccard_join 4.2s
    of a 5.2s wall before round 8 (fixed via explode_nonnull_pinned /
    posexplode_outer / tp-fold). Every optimized plan must now be free of
    Filters that evaluate a HOF chain, except the disclosed allowlist
    where the expensive predicate IS the query semantics."""
    # Filters allowed to carry hash/HOF expressions: the predicate is the
    # operator's own semantics (hash-split assignment, zero-norm guard) or
    # a single scalar hash per row (inferred isnotnull on a hash key —
    # disclosed in BENCH_NOTES, bounded at one extra hash, no chain).
    ALLOWED = {
        "split_leakage_audit",      # md5 split-assignment predicate
        "salted_skew_join",         # xxhash64 salt routing predicate
        "quantized_cosine_topk",    # exists(iv != 0) zero-norm guard
        "embedding_int8_quantize",  # same exists(xi != 0) zero-vector guard
        "roc_curve_points",         # isnotnull(md5-derived score bin)
        "countmin_user_counts",     # isnotnull(md5 bucket), 1 hash
        "bloom_customer_filter",    # isnotnull(md5 bucket), 1 hash
    }
    # chain marker: EVERY interpreted HOF (transform/aggregate/zip_with/
    # filter/exists/forall) renders its lambda as "lambdafunction(" in the
    # plan string — one marker covers the whole family (a per-HOF list
    # missed filter(), whose rendering is "filter(arr#N, lambdafunction")
    CHAIN = ("lambdafunction(",)
    # Queries EXPECTED to fail to plan in this environment (env-gated data
    # sources etc.). Currently none: every registered query plans at
    # sf0.001. An unexpected construction/planning failure must fail THIS
    # test — a bare `except: continue` would silently exempt a broken
    # query from the audit AND hide the breakage (ADVICE r8).
    EXPECTED_UNPLANNABLE: set[str] = set()
    offenders: dict[str, str] = {}
    broken: dict[str, str] = {}
    for name, q in registry.all_queries().items():
        if name in ALLOWED:
            continue
        try:
            df = q.fn(spark, sf_dir)
            plan = df._jdf.queryExecution().optimizedPlan().toString()
        except Exception as e:  # noqa: BLE001 - report, don't mask
            if name not in EXPECTED_UNPLANNABLE:
                broken[name] = repr(e)[:160]
            continue
        for line in plan.split("\n"):
            if "Filter" in line and any(p in line for p in CHAIN):
                offenders[name] = line.strip()[:160]
                break
    assert broken == {}, f"queries failed to plan (audit skipped them): {broken}"
    assert offenders == {}, offenders


def test_mining_family_reads_checkpointed_baskets_not_rescans(spark, sf_dir):
    """Round-8 fix pin: the mining/graph family derives the (order, brand)
    basket table ONCE via localCheckpoint — before, each self-join branch
    re-derived the lineitem⋈part distinct (24-36 parquet scans per query,
    zero ReusedExchange). The returned plan must contain no parquet scans
    at all (everything reads the checkpointed table); a regression brings
    the repeated fact-table derivation back."""
    for name in (
        "copurchase_brand_pairs",
        "frequent_triples_apriori",
        "triangle_count_brand_graph",
        "brand_pagerank",
        "chisq_event_type_segment",
    ):
        df = QS[name](spark, sf_dir)
        assert P.node_count(df, "Scan parquet") == 0, name


def test_simhash_family_reads_checkpointed_fingerprints_not_rescans(spark, sf_dir):
    """Round-9 fix pin: the SimHash banded SELF-join consumed its two
    branches as separate full derivations (two parquet scans of the
    corpus, each re-running the 32-bit-majority HOF chain; zero
    ReusedExchange) — same class as the r8 basket rescans. The
    fingerprint table is now localCheckpointed once; the returned plan
    must contain no parquet scans at all. (edit_distance_pairs still
    scans documents for its two TEXT joins — the bodies are genuinely
    needed there and only there.)"""
    df = QS["simhash_near_dup"](spark, sf_dir)
    assert P.node_count(df, "Scan parquet") == 0


def test_no_excessive_table_rescans(spark, sf_dir):
    """Repo-wide rescan budget (round 9): the executed-plan audit found
    queries whose branch structure re-scanned one table 3-8x, re-running
    expensive derivations per consumer (fixed via checkpoint_pinned).
    This pins the remaining state: at most TWO scans of any single table
    per query (self-joins and two-pass algorithms), except the explicit
    allowlist below — every entry a documented cheap pruned-column
    re-read (multi-branch aggregates over 2-3 int columns, set-op
    branches, two-pass medians), NOT a repeated HOF/hash/text
    derivation, per the dividing line in BENCH_NOTES round-9. A new
    query (or a regression) that re-scans beyond its budget fails here
    instead of surfacing as a mystery at 100 TB."""
    import re
    from collections import Counter

    ALLOWED = {
        "contrastive_negative_pairs": 3,
        "daily_user_value_gapfill": 3,
        "daily_value_locf": 3,
        # release-gate composition: inherits orders_dq_checks' disclosed
        # 3-scan allowance (conditional-count branches) and customer is
        # read once per governance component (FK anti-join, k-anon QI
        # combine, l-diversity QI combine) — cheap 2-3 column re-reads
        "dq_release_gate": 3,
        "heavy_hitter_users": 3,
        "hll_merge_returnflag": 3,
        "lineitem_set_ops_all": 4,
        "mad_robust_stats": 4,
        "median_mode_quantity": 3,
        "orders_dq_checks": 3,
        "orders_not_in_null_semantics": 3,
        "psi_distribution_drift": 4,
        "rich_idle_customers": 3,
        "tfidf_top_terms": 3,
    }
    offenders = {}
    for name, q in registry.all_queries().items():
        df = q.fn(spark, sf_dir)
        counts = Counter(
            re.findall(r"Scan parquet[^\n]*?/(\w+)\.parquet", P.physical_plan(df))
        )
        worst = max(counts.values(), default=0)
        if worst > ALLOWED.get(name, 2):
            offenders[name] = dict(counts)
    assert offenders == {}, offenders


def test_checkpoint_pinned_audits_fire(spark, sf_dir):
    """The checkpoint wrapper's two pre-checkpoint audits must actually
    raise — otherwise the lineage-truncation blind spot it exists to
    close is still open. Negative cases: a single-partition window, and
    a Filter evaluating an interpreted HOF lambda."""
    import pytest as _pytest
    from pyspark.sql import Window, functions as F

    from big_data_medical_analysis_spark.operators.common import (
        checkpoint_pinned,
    )
    from big_data_medical_analysis_spark.sources.readers import read_table

    orders = read_table(spark, sf_dir, "orders")
    global_window = orders.withColumn(
        "rn", F.row_number().over(Window.orderBy("o_orderkey"))
    )
    with _pytest.raises(ValueError, match="single-partition window"):
        checkpoint_pinned(global_window)

    docs = read_table(spark, sf_dir, "documents")
    hof_filter = docs.filter(
        F.exists(F.split("text", " "), lambda t: F.length(t) > 3)
    )
    with _pytest.raises(ValueError, match="HOF chain"):
        checkpoint_pinned(hof_filter)
    # and the disclosed escape hatch works
    assert checkpoint_pinned(hof_filter, allow_hof_filter=True).count() >= 0


def test_incremental_probe_joins_on_band_bucket(spark, sf_dir):
    """The new-batch probe must be an equi-join on (band, bucket) against
    the reloaded index — never a nested-loop comparison, never a join on
    band alone (band has only 4 values; bucket is the high-cardinality
    key that bounds bucket work)."""
    df = QS["minhash_incremental_probe"](spark, sf_dir)
    assert not P.has_node(df, "BroadcastNestedLoopJoin")
    plan = P.physical_plan(df)
    join_lines = [
        ln for ln in plan.splitlines()
        if "HashJoin" in ln or "SortMergeJoin" in ln
    ]
    assert join_lines and any("bucket" in ln for ln in join_lines), plan


def test_corrupt_quarantine_single_aggregate(spark, sf_dir):
    """Quarantine ingest is a per-row parse + ONE partial+final fold —
    any extra exchange means the malformed-handling added a shuffle it
    doesn't need."""
    df = QS["corrupt_jsonl_quarantine"](spark, sf_dir)
    assert P.exchange_count(df) == 1


def test_bucketed_join_is_exchange_free(spark, sf_dir):
    """The bucketed co-located join's reason to exist: both inputs come
    from bucketed scans whose HashPartitioning satisfies the
    SortMergeJoin's distribution, so the ONLY Exchange in the plan is the
    final small per-priority aggregate — the join itself never shuffles.
    A regression (bucket-count mismatch, lost hint, broadcast demotion)
    re-introduces a join-side Exchange or a BroadcastHashJoin and fails
    here instead of surfacing as a 100 TB shuffle."""
    from big_data_medical_analysis_spark.operators.etl import (
        bucketed_colocated_join,
    )

    df = bucketed_colocated_join(spark, sf_dir)
    plan = P.physical_plan(df)
    assert "SortMergeJoin" in plan
    assert "BroadcastHashJoin" not in plan
    assert plan.count("Exchange") == 1, plan
    assert plan.count("Bucketed: true") == 2, plan


def test_bucketed_fact_chain_plan(spark, sf_dir):
    """3-table chain over the bucketed layout (VERDICT r9 task 4): the
    o⋈l fact leg stays exchange-free off the bucketed scans WHILE the
    customer dimension broadcasts into the streamed side — exactly one
    shuffle Exchange in the whole plan (the final 2-key aggregate), one
    BroadcastHashJoin, one SortMergeJoin, both fact scans bucketed. A
    regression (bucket-count drift between the two facts, broadcast
    demotion to SMJ, dimension joined OUTSIDE the bucketed leg forcing a
    re-shuffle) adds an Exchange and fails here."""
    from big_data_medical_analysis_spark.operators.etl import (
        bucketed_fact_chain,
    )

    df = bucketed_fact_chain(spark, sf_dir)
    plan = P.physical_plan(df)
    assert P.exchange_count(df) == 1, plan
    assert plan.count("BroadcastHashJoin") == 1, plan
    assert plan.count("SortMergeJoin") == 1, plan
    assert plan.count("Bucketed: true") == 2, plan


def test_skew_audit_uses_take_ordered(spark, sf_dir):
    """join_key_skew_audit's top-N must plan as TakeOrderedAndProject
    (per-partition top-N + K-row merge), never a single-partition
    row_number window — the form that survives billions of distinct
    keys (the docstring's scale claim, pinned)."""
    df = QS["join_key_skew_audit"](spark, sf_dir)
    plan = P.physical_plan(df)
    assert "TakeOrderedAndProject" in plan
    assert "row_number" not in plan


def test_chexpert_pipeline_twin_plan_budget(spark, sf_dir):
    """The capstone composition's FINAL plan (round 12): everything
    corpus-sized (CSV train scan, the fused image pass, the sufficient
    statistics) sits behind audited checkpoints, so the report plan is
    a union of small aggregates — zero sort-merge joins, zero cartesian
    products, every 1-row model/total join broadcast, no parquet rescans
    (the documents scan happens once, inside the label-CSV fixture
    write). Each report frame is planned once: 9 shuffle exchanges (2
    label aggregate, 3 split audit, 1 per fed-avg round, 1 held-out) and
    5 broadcast joins (the split total, 3 rounds, the final model). A
    regression that re-derives the image pass per consumer, demotes a
    broadcast to SMJ, or brings back per-metric union branches (32
    exchanges, 17 broadcasts) fails here."""
    df = QS["chexpert_pipeline_twin"](spark, sf_dir)
    plan = P.physical_plan(df)
    assert plan.count("SortMergeJoin") == 0, plan
    assert plan.count("CartesianProduct") == 0, plan
    assert plan.count("Scan parquet") == 0, plan
    # the one un-checkpointed CSV consumer is the eval-labels count
    assert plan.count("Scan csv") <= 2, plan
    assert P.exchange_count(df) <= 9, plan
    # every one of the report's 5 joins broadcasts a 1-row/K-row aggregate
    assert P.broadcast_join_count(df) == 5, plan
    assert P.unpartitioned_window_count(df) == 0, plan


def test_semdedup_prune_plan_budget(spark, sf_dir):
    """SemDeDup (round 14, hierarchical trajectory): the routed vector
    table is checkpointed once, so the visible plan — fine Lloyd +
    screen + counts — scans NO parquet and re-derives nothing (the
    coarse level's own budget is audited at construction by
    checkpoint_pinned). The fine-level joins key on the CELL — plain
    equi-joins (SMJ in the static plan; AQE broadcast-converts them
    while the centroid table is small), never a corpus-proportional
    centroid broadcast, which is the entire point of the rebuild. The
    within-cluster screen still broadcasts the better-ranked side, the
    per-cell kf frame broadcasts, and no cartesian product or
    single-partition window exists anywhere."""
    df = QS["semdedup_prune_stats"](spark, sf_dir)
    plan = P.physical_plan(df)
    assert plan.count("Scan parquet") == 0, plan
    assert plan.count("CartesianProduct") == 0, plan
    # the flat form's signature — whole-centroid-table broadcast
    # crossJoins — must be GONE from the visible (post-assign) plan
    assert plan.count("BroadcastNestedLoopJoin") == 0, plan
    assert P.broadcast_join_count(df) >= 2, plan
    assert P.unpartitioned_window_count(df) == 0, plan
    # the assignment pin keeps the visible plan to screen + counts: the
    # unpinned form re-derived the whole fine trajectory for the second
    # consumer (51 shuffles in the r14 PLANS regen vs this budget)
    assert P.exchange_count(df) <= 12, plan


def test_dsir_select_plan_budget(spark, sf_dir):
    """DSIR (round 12): the global cut compiles to TakeOrderedAndProject
    (never a full sort), the λ table and totals broadcast (the doc×bucket
    side never shuffles for the join), and the only window is the
    disclosed K-row rank over the survivors."""
    df = QS["dsir_importance_select"](spark, sf_dir)
    plan = P.physical_plan(df)
    assert "TakeOrderedAndProject" in plan, plan
    assert plan.count("SortMergeJoin") == 0, plan
    assert plan.count("CartesianProduct") == 0, plan
    assert P.broadcast_join_count(df) >= 2, plan
    # the K-row rank window rides TakeOrderedAndProject's already-single
    # partition output — Catalyst inserts NO SinglePartition exchange, so
    # the plan-level audit correctly sees zero unpartitioned windows (the
    # runtime WindowExec warning it would correspond to is K-bounded)
    assert P.unpartitioned_window_count(df) == 0, plan
    assert "TakeOrderedAndProject" in plan.split("Window")[1], plan


def test_quality_classifier_plan_budget(spark, sf_dir):
    """Trained quality classifier (round 12): the feature table is
    checkpointed once (no parquet rescans across the GD steps + scoring
    pass), every weight-state join is a broadcast of a 1-row aggregate,
    and nothing cartesian or sort-merge joins."""
    df = QS["quality_classifier_gd"](spark, sf_dir)
    plan = P.physical_plan(df)
    assert plan.count("Scan parquet") == 0, plan
    assert plan.count("CartesianProduct") == 0, plan
    assert plan.count("SortMergeJoin") == 0, plan
    assert plan.count("BroadcastNestedLoopJoin") >= 1, plan
    assert P.unpartitioned_window_count(df) == 0, plan


def test_doremi_plan_budget(spark, sf_dir):
    """DoReMi (round 12 continuation): the token table is pinned (one
    corpus scan feeds the count tables and the scoring join), the model
    tables broadcast, and every post-aggregate EG step is a broadcast of
    a 1-row/K-row aggregate — nothing cartesian, nothing sort-merge,
    no single-partition window (the normalize rides broadcast joins)."""
    df = QS["doremi_domain_weights"](spark, sf_dir)
    plan = P.physical_plan(df)
    assert plan.count("Scan parquet") == 0, plan
    assert plan.count("CartesianProduct") == 0, plan
    assert plan.count("SortMergeJoin") == 0, plan
    assert plan.count("BroadcastNestedLoopJoin") >= 1, plan
    assert P.unpartitioned_window_count(df) == 0, plan


def test_ccnet_plan_budget(spark, sf_dir):
    """CCNet bucketing (round 12 continuation): one corpus scan into the
    shared NLL pipeline (pinned token table), the unigram model tables
    broadcast, and the ONLY window partitions by language — never
    single-partition."""
    df = QS["ccnet_perplexity_buckets"](spark, sf_dir)
    plan = P.physical_plan(df)
    assert plan.count("Scan parquet") == 0, plan
    assert plan.count("CartesianProduct") == 0, plan
    assert plan.count("SortMergeJoin") == 0, plan
    assert P.broadcast_join_count(df) >= 1, plan
    assert P.unpartitioned_window_count(df) == 0, plan
    assert plan.count("Window") >= 1, plan


def test_d4_plan_budget(spark, sf_dir):
    """D4 (round 12 continuation): the screen outputs are pinned (the
    quadratic cosine stage executes once, not once per consumer — the
    plan sees no parquet rescans and no re-derived screen), the
    per-cluster count joins broadcast, and both prototypicality windows
    partition by cluster."""
    df = QS["d4_prototype_prune"](spark, sf_dir)
    plan = P.physical_plan(df)
    assert plan.count("Scan parquet") == 0, plan
    assert plan.count("CartesianProduct") == 0, plan
    # exactly ONE sort-merge join is correct: the survivor anti-join's
    # pruned side is a corpus-sized fraction at 100 TB (never broadcast);
    # a shuffled anti-join on (cluster, vec_id) is the scale plan
    assert plan.count("SortMergeJoin") == 1, plan
    assert "LeftAnti" in plan, plan
    assert P.broadcast_join_count(df) >= 2, plan
    assert P.unpartitioned_window_count(df) == 0, plan


def test_lloyd_trainer_plan_budgets(spark, sf_dir):
    """The shared exact Lloyd trainer's physical shape, pinned per caller
    as (shuffle exchanges, broadcast joins, sort-merge joins). Each round
    is one map-side argmin against a BROADCAST codebook plus one
    (keys, cluster, dim) mean aggregate, so a trainer that lost the
    global/PQ codebook broadcast (sort-merge joins appear) or grew an
    extra shuffle per round fails here."""
    budgets = {
        "kmeans_lloyd_centroids": (5, 2, 0),
        "pq_codebook_distortion": (8, 3, 0),
        "ivf_pq_topk": (20, 10, 1),
    }
    for name, (shuffles, bcast, smj) in budgets.items():
        df = QS[name](spark, sf_dir)
        plan = P.physical_plan(df)
        got = (
            P.exchange_count(df),
            P.broadcast_join_count(df),
            plan.count("SortMergeJoin"),
        )
        assert got == (shuffles, bcast, smj), (name, got, plan)


def test_hier_fine_level_joins_cells_unhinted(spark, sf_dir):
    """The hierarchical fine level equi-joins each vector to its OWN
    cell's centroids and must never carry a broadcast hint: its centroid
    table grows with the corpus. The two training rounds and the final
    assignment are the three cell-keyed joins; the one hinted join is the
    kc-row kf frame of the fine init."""
    from big_data_medical_analysis_spark.operators import similarity as S

    df = S._hier_assign(S._kmeans_vm(spark, sf_dir))
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    joins = [ln for ln in plan.split("\n") if "Join Inner" in ln]
    cell_keyed = [ln for ln in joins if "kf#" not in ln]
    assert len(cell_keyed) == S.KMEANS_ITERS + 1, joins
    assert all("strategy=broadcast" not in ln for ln in cell_keyed), joins
    assert plan.count("strategy=broadcast") == 1, plan


def test_ann_adaptive_probe_plan_budget(spark, sf_dir):
    """Adaptive ANN probe (round 13): the serve-geometry derivation and
    candidate join sit above a checkpointed hits relation (the masked
    equi-join executes once for stats + rerank), the rerank joins fetch
    vectors by key, every window partitions by probe_id, and nothing is
    cartesian. The 1-row serve frame broadcasts onto both sides inside
    the checkpointed sub-plan (audited by checkpoint_pinned at
    construction)."""
    df = QS["ann_adaptive_probe"](spark, sf_dir)
    plan = P.physical_plan(df)
    assert plan.count("CartesianProduct") == 0, plan
    assert P.unpartitioned_window_count(df) == 0, plan
    # post-checkpoint: only the exact-rerank vector fetches scan parquet
    assert plan.count("Scan parquet") <= 2, plan
    assert P.broadcast_join_count(df) >= 1, plan


def test_twin_replay_plan_budget(spark, sf_dir):
    """Twin replay (round 13): the fixture-joined feature table is
    pinned once for both slices (every feature-derived report row reads
    the checkpointed relation, not a re-derived join), all fed-avg/server
    joins broadcast 1-row/K-row aggregates, and nothing is cartesian or
    sort-merge — the whole report is narrow-row aggregate algebra with
    the twin's one-projection-per-frame shape: 10 shuffle exchanges and
    7 broadcast joins (the twin's 9 and 5, less the CSV dedup shuffle,
    plus the coverage guard's two), against 32 and 19 as per-metric
    union branches."""
    df = QS["chexpert_twin_replay"](spark, sf_dir)
    plan = P.physical_plan(df)
    assert plan.count("CartesianProduct") == 0, plan
    assert plan.count("SortMergeJoin") == 0, plan
    assert P.exchange_count(df) <= 10, plan
    assert P.broadcast_join_count(df) == 7, plan
    assert P.unpartitioned_window_count(df) == 0, plan


def test_curated_epoch_plan_budget(spark, sf_dir):
    """Selection capstone (round 15): the expensive relations — the
    hierarchical screen's assignment, the DSIR doc×bucket table, the
    DoReMi token/domain states — are each pinned once by their member
    cores, so the visible plan is pure composition: the DSIR cut compiles
    to TakeOrderedAndProject, every scalar/state join is a broadcast of a
    1-row/K-row aggregate, the race window partitions by source, and
    nothing cartesian, sort-merge, or single-partition remains."""
    df = QS["curated_corpus_epoch"](spark, sf_dir)
    plan = P.physical_plan(df)
    assert plan.count("Scan parquet") == 0, plan
    assert plan.count("CartesianProduct") == 0, plan
    assert plan.count("SortMergeJoin") == 0, plan
    assert "TakeOrderedAndProject" in plan, plan
    assert P.broadcast_join_count(df) >= 4, plan
    assert P.unpartitioned_window_count(df) == 0, plan
    assert P.exchange_count(df) <= 20, plan

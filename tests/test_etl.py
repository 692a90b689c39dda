"""Property tests promised by operators/etl.py: the reference's invariant
checks (disjointness/completeness of splits, stratified-sample fraction
tolerance, explode fan-out — utils/preprocessing_testing_utils.py) as real
pytest properties over the engine's operators (SURVEY §5.2.2).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from big_data_medical_analysis_spark.operators import etl as E
from big_data_medical_analysis_spark.sources.readers import read_table


def test_assign_client_partitions_the_keyspace(spark, sf_dir):
    """Client buckets partition the keyspace: every row gets exactly one
    client in [0, n) and shard counts sum to the parent count (the
    disjointness + completeness audit the reference runs post-hoc on
    randomSplit, utils/preprocessing_testing_utils.py:60-80 — here true by
    construction, verified anyway)."""
    orders = read_table(spark, sf_dir, "orders")
    n_clients = 4
    tagged = E.assign_client(orders, ["o_orderkey"], n_clients)
    counts = {r.client: r.n for r in tagged.groupBy("client").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert set(counts) <= set(range(n_clients))
    assert sum(counts.values()) == orders.count()
    assert tagged.filter(F.col("client").isNull()).count() == 0


def test_assign_client_is_deterministic(spark, sf_dir):
    """Same key → same client on recompute (randomSplit can't promise this
    without a pinned partition layout; pmod(xxhash64) always can)."""
    orders = read_table(spark, sf_dir, "orders")
    a = E.assign_client(orders, ["o_orderkey"], 4).select("o_orderkey", "client")
    b = E.assign_client(orders, ["o_orderkey"], 4).select("o_orderkey", "client")
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


def test_exact_stratified_split_balance(spark, sf_dir):
    """Every stratum's bucket sizes differ by at most 1."""
    rows = E.exact_stratified_split(spark, sf_dir).collect()
    by_stratum: dict[str, list[int]] = {}
    for r in rows:
        by_stratum.setdefault(r.c_mktsegment, []).append(r.n)
    assert by_stratum
    for sizes in by_stratum.values():
        assert max(sizes) - min(sizes) <= 1


def test_salted_stratified_split_balance(spark, sf_dir):
    """Salted variant: bucket sizes within a stratum differ by ≤ N_SALT
    (each of the N_SALT sub-buckets is balanced within ±1)."""
    rows = E.salted_stratified_split(spark, sf_dir).collect()
    by_stratum: dict[str, list[int]] = {}
    total = 0
    for r in rows:
        by_stratum.setdefault(r.c_mktsegment, []).append(r.n)
        total += r.n
    for sizes in by_stratum.values():
        assert max(sizes) - min(sizes) <= E.N_SALT
    assert total == read_table(spark, sf_dir, "customer").count()


def test_stratified_sample_by_fraction_tolerance(spark):
    """Bernoulli sampleBy hits each stratum's requested fraction within
    tolerance on a decently sized input (sf0.01 orders, ~15k rows)."""
    sf = "/root/testdata/sf0.01"
    orders = read_table(spark, sf, "orders")
    fractions = {"O": 0.7, "F": 0.3, "P": 0.5}
    sampled = orders.sampleBy("o_orderstatus", fractions=fractions, seed=42)
    base = {r.o_orderstatus: r.n for r in orders.groupBy("o_orderstatus").agg(F.count(F.lit(1)).alias("n")).collect()}
    got = {r.o_orderstatus: r.n for r in sampled.groupBy("o_orderstatus").agg(F.count(F.lit(1)).alias("n")).collect()}
    for status, frac in fractions.items():
        if base.get(status, 0) < 100:
            continue  # too small for a tolerance check
        observed = got.get(status, 0) / base[status]
        assert observed == pytest.approx(frac, abs=0.05)


def test_explode_fanout_counts(spark, sf_dir):
    """Explode row count == Σ array sizes (the reference's 9× augmentation
    fan-out invariant, generalized)."""
    part = read_table(spark, sf_dir, "part")
    arrays = part.select(F.split("p_name", " ").alias("toks"))
    expected = arrays.agg(F.sum(F.size("toks")).alias("s")).collect()[0].s
    exploded_n = arrays.select(F.explode("toks")).count()
    assert exploded_n == expected


def test_random_split_shards_complete(spark, sf_dir):
    """randomSplit shards are complete: sizes sum to the parent count."""
    rows = E.random_split_shards(spark, sf_dir).collect()
    assert sum(r.n for r in rows) == read_table(spark, sf_dir, "orders").count()


def test_write_client_shards_roundtrip(spark, sf_dir, tmp_path):
    """Write-then-read round trip (reference's files-vs-rows reconciliation,
    src/preprocessing_pipeline.py:296-303): one partitioned write, read back
    row-complete with intact client partitioning."""
    out = str(tmp_path / "shards")
    orders = read_table(spark, sf_dir, "orders")
    E.write_client_shards(orders, ["o_orderkey"], 4, out)
    back = spark.read.parquet(out)
    assert back.count() == orders.count()
    clients = sorted(r.client for r in back.select("client").distinct().collect())
    assert clients == [0, 1, 2, 3]


def test_partition_size_profile_balanced(spark, sf_dir):
    """Hash repartition on a high-cardinality key leaves no empty
    partitions and stays roughly balanced (promised by
    partition_size_profile's docstring)."""
    from big_data_medical_analysis_spark.registry import queries

    rows = queries()["partition_size_profile"](spark, sf_dir).collect()
    sizes = [r.n_rows for r in rows]
    assert len(sizes) == 8
    assert min(sizes) > 0
    assert max(sizes) < 2 * (sum(sizes) / len(sizes))


def test_seeded_shuffle_batches_sizes(spark, sf_dir):
    """Batches are full (32 rows) except ≤ N_BATCH_SHARDS tails, and batch
    row totals cover the table exactly."""
    rows = E.seeded_shuffle_batches(spark, sf_dir).collect()
    total = sum(r.batch_size * r.n_batches for r in rows)
    assert total == read_table(spark, sf_dir, "orders").count()
    n_partial = sum(r.n_batches for r in rows if r.batch_size < 32)
    assert n_partial <= E.N_BATCH_SHARDS
    assert max(r.batch_size for r in rows) <= 32


def test_write_client_shards_csv_roundtrip(spark, sf_dir, tmp_path):
    """Reference-shaped CSV sink: headered part files under client=<k>/
    dirs, glob-readable back to the full row count with partition-column
    recovery (the reference's files-vs-rows reconciliation,
    src/preprocessing_pipeline.py:296-303)."""
    import glob as pyglob

    out = str(tmp_path / "csv_shards")
    cust = read_table(spark, sf_dir, "customer")
    E.write_client_shards_csv(cust, ["c_custkey"], 4, out)
    dirs = sorted(pyglob.glob(out + "/client=*"))
    assert len(dirs) == 4
    back = (
        spark.read.option("header", True).option("inferSchema", True).csv(out)
    )
    assert back.count() == cust.count()
    assert back.select("client").distinct().count() == 4
    # shard assignment must match assign_client exactly
    expect = E.assign_client(cust, ["c_custkey"], 4).select(
        F.col("c_custkey").cast("long"), F.col("client").cast("int")
    )
    got = back.select(
        F.col("c_custkey").cast("long"), F.col("client").cast("int")
    )
    assert got.exceptAll(expect).count() == 0
    assert expect.exceptAll(got).count() == 0


def test_approx_distinct_within_tolerance(spark, sf_dir):
    """approx_count_distinct (HLL++) lands within its configured relative
    error of the exact count — the contract that justifies its rows-only
    correctness entry."""
    from big_data_medical_analysis_spark import registry

    qs = registry.queries()
    approx = {
        r.event_type: r.approx_users
        for r in qs["approx_distinct_users"](spark, sf_dir).collect()
    }
    exact = {
        r.event_type: r.n_users
        for r in qs["distinct_users_by_type"](spark, sf_dir).collect()
    }
    assert set(approx) == set(exact)
    for et, n in exact.items():
        assert abs(approx[et] - n) <= max(0.1 * n, 2)


def test_csv_roundtrip_revenue_matches_direct(spark, sf_dir):
    """The CSV write->glob-read->aggregate query equals the same aggregate
    computed directly on the parquet source: no row or value lost in the
    text roundtrip."""
    import pyspark.sql.functions as F

    from big_data_medical_analysis_spark import registry
    from big_data_medical_analysis_spark.operators.common import money_sum
    from big_data_medical_analysis_spark.sources.readers import read_table

    got = {
        r.c_mktsegment: (r.n_customers, r.total_acctbal)
        for r in registry.queries()["csv_roundtrip_revenue"](spark, sf_dir).collect()
    }
    want = {
        r.c_mktsegment: (r.n_customers, r.total_acctbal)
        for r in read_table(spark, sf_dir, "customer")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            money_sum("c_acctbal").alias("total_acctbal"),
        )
        .collect()
    }
    assert got == want


def test_weighted_sample_matches_exponential_race(spark, sf_dir):
    """The sampled set is exactly the K smallest -ln(U)/w keys (numpy
    reproduction of the A-Res race), and the plan is a top-K, not a global
    sort."""
    import hashlib

    import numpy as np

    from big_data_medical_analysis_spark.plans.inspect import has_node

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "n_chars").collect()
    keys = {}
    for r in docs:
        h = int(hashlib.md5(str(r.doc_id).encode()).hexdigest()[:8], 16)
        u = (h + 0.5) / 4294967296.0
        keys[r.doc_id] = -np.log(u) / r.n_chars
    want = set(sorted(keys, key=lambda d: (keys[d], d))[: E.WEIGHTED_SAMPLE_K])

    df = E.weighted_sample_docs(spark, sf_dir)
    got = {r.doc_id for r in df.collect()}
    assert got == want
    assert has_node(df, "TakeOrderedAndProject")


def test_weighted_race_boundary_margin(spark, sf_dir):
    """Cross-engine float guard: ek = -ln(U)/w is the one transcendental in
    the module's otherwise integer-exact convention — JVM Math.log and C
    libm may differ in the last ulp, which could flip the selected set only
    if two keys straddling a selection boundary are within ~1 ulp. Assert
    every boundary on the fixture has orders-of-magnitude more margin than
    1 ulp (~2.2e-16 relative), for the global top-K race AND every
    per-language quota boundary."""
    import hashlib
    import math

    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    ).collect()
    keyed = []
    for r in docs:
        h = int(hashlib.md5(str(r.doc_id).encode()).hexdigest()[:8], 16)
        ek = -math.log((h + 0.5) / 4294967296.0) / r.n_chars
        keyed.append((ek, r.doc_id, r.lang))

    def margin(sorted_eks, k):
        if len(sorted_eks) <= k:
            return float("inf")
        lo, hi = sorted_eks[k - 1], sorted_eks[k]
        return (hi - lo) / max(abs(hi), 1e-300)

    all_eks = sorted(e for e, _, _ in keyed)
    assert margin(all_eks, E.WEIGHTED_SAMPLE_K) > 1e-9
    by_lang: dict = {}
    for e, _, lang in keyed:
        by_lang.setdefault(lang, []).append(e)
    for lang, eks in by_lang.items():
        assert margin(sorted(eks), E.QUOTA_PER_LANG) > 1e-9, lang


def test_lang_quota_sample_per_group_quota(spark, sf_dir):
    """Each language contributes exactly min(quota, corpus count) docs, and
    within a language the winners are that language's best race keys."""
    import hashlib

    import numpy as np

    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    ).collect()
    by_lang: dict = {}
    for r in docs:
        h = int(hashlib.md5(str(r.doc_id).encode()).hexdigest()[:8], 16)
        ek = -np.log((h + 0.5) / 4294967296.0) / r.n_chars
        by_lang.setdefault(r.lang, []).append((ek, r.doc_id))
    want = {
        (doc_id, lang)
        for lang, keyed in by_lang.items()
        for _, doc_id in sorted(keyed)[: E.QUOTA_PER_LANG]
    }
    got = {(r.doc_id, r.lang) for r in E.lang_quota_sample(spark, sf_dir).collect()}
    assert got == want
    counts: dict = {}
    for _, lang in got:
        counts[lang] = counts.get(lang, 0) + 1
    for lang, keyed in by_lang.items():
        assert counts.get(lang, 0) == min(E.QUOTA_PER_LANG, len(keyed))


def test_curated_corpus_composition(spark, sf_dir):
    """The one-plan pipeline equals composing its stages by hand: quality
    gate, exact-dedup keeper, then per-language quota — and the quality
    gates reach the scan as pushed data filters."""
    from big_data_medical_analysis_spark.plans.inspect import physical_plan

    out = E.curated_corpus(spark, sf_dir).collect()
    assert out
    docs = {r.doc_id: r for r in out}
    # every selected doc passes the gates and holds a per-lang rank <= quota
    per_lang: dict = {}
    for r in out:
        assert r.n_tokens >= 20 and 2 <= r.avg_token_len <= 15
        per_lang.setdefault(r.lang, []).append(r.rnk)
    for ranks in per_lang.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))
        assert max(ranks) <= E.QUOTA_PER_LANG
    # deterministic: a second run selects the identical set
    again = {r.doc_id for r in E.curated_corpus(spark, sf_dir).collect()}
    assert again == set(docs)
    # the token-count gate is not a post-scan afterthought: the scan node
    # carries a data Filter (pushdown of the derived predicates)
    assert "Filter" in physical_plan(E.curated_corpus(spark, sf_dir))


def test_corrupt_quarantine_preserves_raw_lines(spark, sf_dir):
    """PERMISSIVE quarantine must keep the MALFORMED text verbatim in the
    corrupt column (that is what makes a dead-letter sink debuggable):
    every quarantined line is exactly the truncated prefix the writer
    emitted, and no parseable line is quarantined."""
    import os
    from urllib.parse import urlparse

    from pyspark.sql import functions as F

    from big_data_medical_analysis_spark.operators.etl import (
        corrupt_jsonl_quarantine,
        corrupt_jsonl_schema,
    )

    # the query materializes the batch dir; its frame scans the batch files
    files = corrupt_jsonl_quarantine(spark, sf_dir).inputFiles()
    out_dir = os.path.dirname(urlparse(files[0]).path)
    back = (
        spark.read.schema(corrupt_jsonl_schema())
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(out_dir)
        .cache()
    )
    bad = back.filter(F.col("_corrupt_record").isNotNull())
    assert bad.count() > 0
    for r in bad.collect():
        assert r._corrupt_record.startswith('{"k": ')
        assert r._corrupt_record.endswith(', "pc":')
        assert r.k is None and r.pc is None
    # no parseable row was quarantined: good rows re-serialize cleanly
    good = back.filter(F.col("_corrupt_record").isNull())
    assert good.filter(F.col("k").isNull()).count() == 0
    back.unpersist()


def test_mixture_weights_normalize_and_temper(spark, sf_dir):
    """Mixture invariants the oracle's value-hash can't express as
    intent: shares form a distribution (sum ≈ 1, all positive), expected
    epoch counts sum to ≈ the epoch size, and the α=1/2 temperature
    actually tempers — every source's share sits between uniform and
    proportional-to-tokens (up-weighting small sources, capping large
    ones)."""
    from big_data_medical_analysis_spark.operators.text_analysis import (
        MIXTURE_EPOCH,
        source_mixture_weights,
    )

    rows = source_mixture_weights(spark, sf_dir).collect()
    n_sources = len(rows)
    assert n_sources >= 2
    total_share = sum(r.mix_share for r in rows)
    assert abs(total_share - 1.0) < 1e-4
    assert abs(sum(r.expected_per_epoch for r in rows) - MIXTURE_EPOCH) <= n_sources
    total_tokens = sum(r.n_tokens for r in rows)
    uniform = 1.0 / n_sources
    for r in rows:
        assert r.mix_share > 0
        prop = r.n_tokens / total_tokens
        lo, hi = sorted((uniform, prop))
        assert lo - 1e-6 <= r.mix_share <= hi + 1e-6, (r.source, r.mix_share, lo, hi)


def test_compaction_reduces_file_count(spark, sf_dir):
    """The compactor's layout contract (the oracle pins the audit values;
    this pins the filesystem effect): the fragmented write really has
    COMPACT_SMALL_N files on disk, the compacted write has
    ceil(rows/COMPACT_ROWS_PER_FILE), and the audit row reports exactly
    those counts."""
    import math
    import os
    from urllib.parse import urlparse

    from big_data_medical_analysis_spark.operators import etl as E

    df = E.compact_small_files(spark, sf_dir)
    row = df.collect()[0]
    # the frame scans <root>/small and <root>/compacted
    root = os.path.dirname(os.path.dirname(urlparse(df.inputFiles()[0]).path))

    def parquet_files(d):
        return [f for f in os.listdir(d)
                if f.endswith(".parquet") and not f.startswith("_")]

    n_small = len(parquet_files(os.path.join(root, "small")))
    n_comp = len(parquet_files(os.path.join(root, "compacted")))
    assert n_small == E.COMPACT_SMALL_N == row.n_files_before
    expected = max(1, math.ceil(row.n_rows / E.COMPACT_ROWS_PER_FILE))
    assert n_comp == expected == row.n_files_after
    assert n_comp < n_small


def test_delta_join_ivm_matches_full_recompute(spark, sf_dir):
    """The four-term delta decomposition is lossless: merged partials equal
    a from-scratch single-join recompute of the same view (the invariant
    the DuckDB oracle checks cross-engine, asserted here within Spark so a
    dropped/double-counted term fails fast), and every delta term is
    non-empty (the split is genuinely cross-cutting — an old order with
    new shipments exercises ΔL⋈O_old and L_old⋈ΔO both)."""
    from big_data_medical_analysis_spark.operators.common import cents

    maintained = E.delta_join_view_maintenance(spark, sf_dir)
    li = read_table(spark, sf_dir, "lineitem")
    od = read_table(spark, sf_dir, "orders")
    direct = (
        li.join(od, li["l_orderkey"] == od["o_orderkey"])
        .groupBy("o_orderstatus", "l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            (
                F.sum(
                    cents(
                        F.col("l_extendedprice") * (1 - F.col("l_discount")),
                        10000,
                    )
                ).cast("double")
                / 10000.0
            ).alias("revenue"),
        )
    )
    assert maintained.exceptAll(direct).count() == 0
    assert direct.exceptAll(maintained).count() == 0
    # cross-cutting split: both single-delta terms carry rows
    split = F.to_timestamp(F.lit("1996-01-01 00:00:00"))
    assert (
        li.filter(F.col("l_shipdate") >= split)
        .join(od.filter(F.col("o_orderdate") < split),
              li["l_orderkey"] == od["o_orderkey"]).count() > 0
    )
    assert (
        li.filter(F.col("l_shipdate") < split)
        .join(od.filter(F.col("o_orderdate") >= split),
              li["l_orderkey"] == od["o_orderkey"]).count() > 0
    )


def test_rendezvous_reshard_minimal_movement(spark, sf_dir):
    """HRW resharding moves ONLY keys captured by the added shard: every
    key either keeps its 8-shard assignment or lands on shard 8 (the
    defining minimal-disruption property — a key never moves between two
    surviving shards), totals cover every customer exactly once, and the
    global moved fraction sits near the theoretical 1/9."""
    res = E.rendezvous_reshard_audit(spark, sf_dir).collect()
    cust = read_table(spark, sf_dir, "customer")
    n_total = cust.count()
    assert sum(r.n_keys for r in res) == n_total
    moved = sum(r.n_moved for r in res)
    assert 0.04 <= moved / n_total <= 0.20  # 1/9 ≈ 0.111 ± sampling noise
    # minimal-disruption: a moved key's new shard is ALWAYS the added one.
    # Recompute assignments row-level via the operator's own building
    # blocks is circular; instead assert via independent argmax in pandas
    # on a deterministic sample of keys.
    import hashlib

    keys = [r.c_custkey for r in cust.select("c_custkey").limit(200).collect()]
    for k in keys:
        wts = [
            int(hashlib.md5(f"{k}:{s}".encode()).hexdigest()[:15], 16)
            for s in range(9)
        ]
        s8 = max(range(8), key=lambda s: (wts[s], s))
        s9 = max(range(9), key=lambda s: (wts[s], s))
        assert s9 == s8 or s9 == 8


def test_snapshot_diff_pruning_is_transparent_and_effective(spark, sf_dir):
    """The fingerprint-pruned diff equals the direct unpruned full-outer
    diff (no changed bucket skipped), and pruning is REAL: the dirty
    bucket set is a small fraction of the bucket universe (edits are
    confined below DIFF_CHANGE_HI, clones land in two high buckets)."""
    pruned = {
        (r.change_type, r.n_keys, round(r.net_price_delta, 2))
        for r in E.snapshot_table_diff(spark, sf_dir).collect()
    }
    orders = read_table(spark, sf_dir, "orders")
    a = orders.select(
        F.col("o_orderkey").alias("key"),
        F.col("o_orderstatus").alias("status"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("pc"),
    )
    hi = F.lit(E.DIFF_CHANGE_HI)
    b = (
        a.filter(~((F.col("key") < hi) & (F.col("key") % 7 == 3)))
        .withColumn(
            "pc",
            F.when(
                (F.col("key") < hi) & (F.col("key") % 5 == 0), F.col("pc") + 100
            ).otherwise(F.col("pc")),
        )
        .unionByName(
            a.filter((F.col("key") < hi) & (F.col("key") % 11 == 0)).select(
                (F.col("key") + 100000000).alias("key"),
                "status",
                (F.col("pc") + 37).alias("pc"),
            )
        )
    )
    d = a.alias("a").join(b.alias("b"), F.col("a.key") == F.col("b.key"), "full_outer")
    only_b, only_a = F.col("a.key").isNull(), F.col("b.key").isNull()
    direct = {
        (r.change_type, r.n_keys, round(r.net_price_delta, 2))
        for r in d.select(
            F.when(only_b, F.lit("added"))
            .when(only_a, F.lit("removed"))
            .otherwise(F.lit("changed"))
            .alias("change_type"),
            F.when(only_b, F.col("b.pc"))
            .when(only_a, -F.col("a.pc"))
            .otherwise(F.col("b.pc") - F.col("a.pc"))
            .alias("delta"),
            (only_b | only_a | (F.col("a.status") != F.col("b.status"))
             | (F.col("a.pc") != F.col("b.pc"))).alias("is_diff"),
        )
        .filter("is_diff")
        .groupBy("change_type")
        .agg(
            F.count(F.lit(1)).alias("n_keys"),
            (F.sum("delta").cast("double") / 100.0).alias("net_price_delta"),
        )
        .collect()
    }
    assert pruned == direct
    # pruning effectiveness: dirty buckets are a strict minority — only
    # meaningful when the key domain extends well past the edit range
    # (at sf0.001 the whole table sits below DIFF_CHANGE_HI and every
    # bucket is legitimately dirty; transparency above still holds)
    max_key = a.agg(F.max("key")).collect()[0][0]
    if max_key >= 4 * E.DIFF_CHANGE_HI:
        n_buckets = (
            a.select((F.col("key") / E.DIFF_BUCKET_WIDTH).cast("long"))
            .distinct()
            .count()
        )
        dirty_max = E.DIFF_CHANGE_HI // E.DIFF_BUCKET_WIDTH + 2  # lo + clone buckets
        assert n_buckets >= 3 * dirty_max


def test_erasure_rewrite_complete_minimal_and_value_conserving(spark, sf_dir):
    """The audit row's invariants, re-derived from the source: residual
    is zero, removed = exactly the cohort's rows, users erased matches
    the distinct cohort, and retained value equals the source total
    minus the cohort's to the cent."""
    from big_data_medical_analysis_spark.operators.etl import (
        ERASE_EVERY,
        ERASE_RESIDUE,
        user_erasure_rewrite,
    )
    from pyspark.sql import functions as F
    from big_data_medical_analysis_spark.sources.readers import read_table

    r = user_erasure_rewrite(spark, sf_dir).collect()[0]
    ev = read_table(spark, sf_dir, "events")
    erased = F.pmod(F.col("user_id"), F.lit(ERASE_EVERY)) == ERASE_RESIDUE
    src = ev.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(erased, 1).otherwise(0)).alias("n_erased_rows"),
        F.count_distinct(F.when(erased, F.col("user_id"))).alias("n_users"),
        F.sum(
            F.when(~erased, F.round(F.col("value") * 100).cast("long"))
        ).alias("kept_cents"),
    ).collect()[0]
    assert r.residual_rows == 0
    assert r.rows_before == src.n
    assert r.rows_removed == src.n_erased_rows
    assert r.n_users_erased == src.n_users
    assert abs(r.retained_value - src.kept_cents / 100) < 1e-6

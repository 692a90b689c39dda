"""Property tests for the dedup pillar (operators/dedup.py).

MinHash-LSH recall is the check no oracle can express (engine-RNG hash
families): plant exact and near duplicates, assert the banded candidate join
recovers them. Exact-tier invariants (idempotence, representative
determinism) generalize the reference's dedup guard
(src/preprocessing_pipeline.py:280-283).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from big_data_medical_analysis_spark.operators import dedup as D
from big_data_medical_analysis_spark.sources.readers import read_table


def test_exact_dedup_counts(spark, sf_dir):
    df = D.docs_exact_dedup(spark, sf_dir)
    rows = df.collect()
    n_docs = read_table(spark, sf_dir, "documents").count()
    assert len(rows) == n_docs  # corpus has no dups → one group per doc
    for r in rows:
        assert r.n_copies == 2  # doubled input collapses to 2 copies per fp


def test_exact_dedup_idempotent(spark, sf_dir):
    """dropDuplicates twice == once (SURVEY §5.2.2)."""
    docs = read_table(spark, sf_dir, "documents").withColumn(
        "fp", D.normalized_fingerprint("text")
    )
    once = docs.unionAll(docs).dropDuplicates(["fp"])
    twice = once.dropDuplicates(["fp"])
    assert once.count() == twice.count() == docs.count()


def test_minhash_recall_on_planted_dups(spark):
    """Exact copies and 90%-overlap edits must appear in the LSH candidate
    set: identical shingle sets hash to identical minhash signatures in
    every band, so recall on true duplicates is structural, not sampled."""
    rows = []
    planted = []
    for i in range(30):
        toks = [f"d{i}w{j}" for j in range(30)]
        rows.append((i, " ".join(toks)))
    # 200+i: exact copy of doc i
    for i in range(5):
        rows.append((200 + i, rows[i][1]))
        planted.append((i, 200 + i))
    # 300+i: doc i with 3 of 30 tokens replaced (J = 27/33 ≈ 0.82 → dist 0.18)
    for i in range(5):
        toks = rows[i][1].split(" ")
        toks[:3] = [f"edit{i}a", f"edit{i}b", f"edit{i}c"]
        rows.append((300 + i, " ".join(toks)))
        planted.append((i, 300 + i))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = D.minhash_candidate_pairs(docs, jaccard_dist_threshold=0.25)
    found = {(r.doc_a, r.doc_b) for r in pairs.collect()}
    for p in planted:
        assert p in found, f"planted dup {p} missed by MinHash-LSH"


def test_simhash_identical_token_sets_distance_zero(spark):
    """Word-order permutations have identical token sets → identical
    simhash (the dup model this corpus plants)."""
    rows = [
        (1, "alpha beta gamma delta epsilon"),
        (2, "epsilon delta gamma beta alpha"),  # permutation of 1
        (3, "zeta eta theta iota kappa"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    fp = docs.select(
        "doc_id",
        D.simhash(D._token_hashes("text")).alias("sh"),
    ).collect()
    by_id = {r.doc_id: r.sh for r in fp}
    assert by_id[1] == by_id[2]
    assert by_id[1] != by_id[3]


def test_jaccard_pairs_agree_with_simhash_tail(spark, sf_dir):
    """Every probe pair at token-Jaccard 1.0 must be simhash-identical
    (distance 0) — the two tiers agree on true duplicates."""
    jac = {
        (r.probe_id, r.cand_id)
        for r in D.ngram_jaccard_pairs(spark, sf_dir).collect()
        if r.jaccard == 1.0
    }
    sim0 = {
        (r.doc_a, r.doc_b)
        for r in D.simhash_near_dup(spark, sf_dir).filter(F.col("hdist") == 0).collect()
    }
    sim0 |= {(b, a) for a, b in sim0}
    for p in jac:
        assert p in sim0, f"J=1.0 pair {p} not simhash-identical"


def test_simhash_banding_lossless_vs_brute_force(spark):
    """Pigeonhole property, end to end on the engine's own plan: for random
    fingerprints, the banded pairing emits EXACTLY the pairs a brute-force
    all-pairs comparison emits at hdist <= SIMHASH_MAX_HDIST. Seeded mix of
    uniform fingerprints (mostly far) and planted near-twins (1-2 bit
    flips) so both sides of the threshold are populated."""
    import numpy as np
    import pyspark.sql.functions as F

    from big_data_medical_analysis_spark.operators import dedup as D

    rng = np.random.RandomState(99)
    fps = list(rng.randint(0, 1 << 32, size=60, dtype=np.uint64))
    for i in range(0, 20, 2):  # plant near-twins of the first 10
        flips = 1 << int(rng.randint(32)) | (
            (1 << int(rng.randint(32))) if i % 4 else 0
        )
        fps.append(np.uint64(int(fps[i]) ^ int(flips)))
    rows = [(i, "xx", int(f)) for i, f in enumerate(fps)]
    fp = spark.createDataFrame(rows, "doc_id long, lang string, simhash long")

    # brute force via cross join
    a = fp.select("lang", F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sh_a"))
    b = fp.select(
        F.col("lang").alias("lang_b"),
        F.col("doc_id").alias("doc_b"),
        F.col("simhash").alias("sh_b"),
    )
    hd = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))).cast("int")
    brute = {
        (r.doc_a, r.doc_b, r.hdist)
        for r in a.join(
            b, (F.col("lang") == F.col("lang_b")) & (F.col("doc_a") < F.col("doc_b"))
        )
        .select("doc_a", "doc_b", hd.alias("hdist"))
        .filter(F.col("hdist") <= D.SIMHASH_MAX_HDIST)
        .collect()
    }
    assert brute  # planted twins must register

    # banded path, same expressions as simhash_near_dup's pairing
    band_width = D.SIMHASH_BITS // D.SIMHASH_BANDS
    bands = F.array(
        *[
            F.shiftrightunsigned(F.col("simhash"), band_width * i).bitwiseAND(
                F.lit((1 << band_width) - 1)
            )
            for i in range(D.SIMHASH_BANDS)
        ]
    )
    banded = fp.select(
        "doc_id", "lang", "simhash", F.posexplode(bands).alias("band_idx", "band_val")
    )
    ba = banded.select(
        "lang", "band_idx", "band_val",
        F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sh_a"),
    )
    bb = banded.select(
        F.col("lang").alias("lang_b"),
        F.col("band_idx").alias("band_idx_b"),
        F.col("band_val").alias("band_val_b"),
        F.col("doc_id").alias("doc_b"),
        F.col("simhash").alias("sh_b"),
    )
    got = {
        (r.doc_a, r.doc_b, r.hdist)
        for r in ba.join(
            bb,
            (F.col("lang") == F.col("lang_b"))
            & (F.col("band_idx") == F.col("band_idx_b"))
            & (F.col("band_val") == F.col("band_val_b"))
            & (F.col("doc_a") < F.col("doc_b")),
        )
        .select("lang", "doc_a", "doc_b", "sh_a", "sh_b")
        .distinct()
        .select("doc_a", "doc_b", hd.alias("hdist"))
        .filter(F.col("hdist") <= D.SIMHASH_MAX_HDIST)
        .collect()
    }
    assert got == brute


def test_connected_components_hand_graph(spark):
    """Chain + triangle + isolated pair: labels are the component-min and
    transitivity holds (the thing pair-keepers get wrong)."""
    edges = spark.createDataFrame(
        # chain 1-2-3-4, triangle 10-11-12 (+ redundant edge), pair 20-21
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21)],
        "src long, dst long",
    )
    labels = {
        r.node: r.cluster_id
        for r in D.connected_components(edges).collect()
    }
    assert labels == {
        1: 1, 2: 1, 3: 1, 4: 1,
        10: 10, 11: 10, 12: 10,
        20: 20, 21: 20,
    }


def test_connected_components_concurrent_calls(spark):
    """Two calls running at once in one driver each keep their own
    bucketed edge table: neither drops or overwrites the other's, so both
    return their own graph's labels."""
    from concurrent.futures import ThreadPoolExecutor

    def chain(lo: int, n: int):
        edges = spark.createDataFrame(
            [(lo + i, lo + i + 1) for i in range(n)], "src long, dst long"
        )
        return {
            r.node: r.cluster_id
            for r in D.connected_components(edges).collect()
        }

    with ThreadPoolExecutor(2) as pool:
        a = pool.submit(chain, 100, 8)
        b = pool.submit(chain, 200, 6)
        assert a.result() == {100 + i: 100 for i in range(9)}
        assert b.result() == {200 + i: 200 for i in range(7)}


def test_dedup_components_keeper_semantics(spark, sf_dir):
    """Every cluster has exactly one keeper (doc_id == cluster_id), the
    keeper is the min id, and sizes match the label multiplicity."""
    out = D.dedup_components(spark, sf_dir).collect()
    assert out
    by_cluster: dict = {}
    for r in out:
        by_cluster.setdefault(r.cluster_id, []).append(r)
    for cid, members in by_cluster.items():
        ids = [m.doc_id for m in members]
        assert min(ids) == cid
        assert all(m.cluster_size == len(members) for m in members)


def test_span_dedup_keeps_unique_spans_and_covers_docs(spark, sf_dir):
    """Every kept span is globally unique after the pass (re-splitting the
    cleaned texts yields no span seen twice), every doc appears in the
    output, and n_kept <= n_spans with equality iff nothing was removed."""
    from big_data_medical_analysis_spark.operators.text_analysis import (
        SPAN_TOKENS,
        span_dedup_texts,
    )
    from big_data_medical_analysis_spark.sources.readers import read_table

    rows = span_dedup_texts(spark, sf_dir).collect()
    n_docs = read_table(spark, sf_dir, "documents").count()
    assert len(rows) == n_docs
    seen: set[str] = set()
    removed = 0
    for r in rows:
        assert 0 <= r.n_kept <= r.n_spans
        removed += r.n_spans - r.n_kept
        toks = r.clean_text.split(" ") if r.clean_text else []
        # kept spans re-split on the same boundaries they were joined on
        for j in range(0, len(toks), SPAN_TOKENS):
            span = " ".join(toks[j : j + SPAN_TOKENS])
            assert span not in seen, f"duplicate span survived: {span!r}"
            seen.add(span)
    # the keeper rule keeps exactly one copy of every distinct span
    assert len(seen) == sum(r.n_kept for r in rows)


def test_token_pack_bins_conserve_tokens(spark, sf_dir):
    """The packing manifest conserves every token: Σ bin_tokens equals the
    corpus token count, and doc ranges within a shard's bins are ordered."""
    from big_data_medical_analysis_spark.operators.text_analysis import (
        token_pack_bins,
    )
    from big_data_medical_analysis_spark.sources.readers import read_table
    from pyspark.sql import functions as F2

    rows = token_pack_bins(spark, sf_dir).collect()
    total = sum(r.bin_tokens for r in rows)
    docs = read_table(spark, sf_dir, "documents")
    expect = docs.select(
        F2.sum(F2.size(F2.split("text", " "))).alias("s")
    ).collect()[0].s
    assert total == expect
    by_shard: dict[int, list] = {}
    for r in rows:
        by_shard.setdefault(r.shard, []).append(r)
    for shard_rows in by_shard.values():
        shard_rows.sort(key=lambda r: r.bin)
        for a, b in zip(shard_rows, shard_rows[1:]):
            assert a.last_doc <= b.first_doc


def test_shingles_short_doc_yields_empty_not_error(spark):
    """Docs with fewer than n tokens have zero n-shingles. Unguarded,
    sequence(0, size-n) goes DESCENDING for short docs and element_at
    hits index 0 (1-based API -> runtime error)."""
    df = spark.createDataFrame(
        [("a b",), ("a",), ("a b c",), ("a b c d",)], ["text"]
    ).select(D.shingles("text", 3).alias("s"))
    got = [r.s for r in df.collect()]
    assert got == [[], [], ["a b c"], ["a b c", "b c d"]]


# --- hypothesis: PPJoin prefix+positional candidate generation is COMPLETE --
# Pure-Python mirror of prefix_filter_jaccard_join's integer arithmetic
# (same ceil forms), checked against brute force: no pair with Jaccard >= t
# may ever be dropped by the prefix, length, or positional filter.

from hypothesis import given, settings
from hypothesis import strategies as st


def _ppjoin_candidates(sets):
    """(prefix ∩ + length + positional)-surviving pairs, mirroring the
    operator: df-ordered prefixes of length n - ceil(4n/5) + 1, length
    filter 4na<=5nb ∧ 4nb<=5na, positional bound
    1 + min(na-ia, nb-ib) >= ceil(4(na+nb)/9)."""
    from collections import Counter

    df = Counter()
    for s in sets:
        for w in s:
            df[w] += 1
    order = {w: (df[w], w) for s in sets for w in s}
    ranked = [sorted(s, key=lambda w: order[w]) for s in sets]
    prefixes = []
    for toks in ranked:
        n = len(toks)
        plen = n - (4 * n + 4) // 5 + 1
        prefixes.append({w: i + 1 for i, w in enumerate(toks[:plen])})
    out = set()
    for i in range(len(sets)):
        for j in range(i + 1, len(sets)):
            na, nb = len(ranked[i]), len(ranked[j])
            if not (4 * na <= 5 * nb and 4 * nb <= 5 * na):
                continue
            shared = set(prefixes[i]) & set(prefixes[j])
            if not shared:
                continue
            ia = min(prefixes[i][w] for w in shared)
            ib = min(prefixes[j][w] for w in shared)
            alpha = (4 * (na + nb) + 8) // 9
            if 1 + min(na - ia, nb - ib) >= alpha:
                out.add((i, j))
    return out


@settings(max_examples=300, deadline=None)
@given(
    st.lists(
        st.sets(st.integers(min_value=0, max_value=15), min_size=1, max_size=12),
        min_size=2,
        max_size=8,
    )
)
def test_ppjoin_candidates_complete(token_sets):
    sets = [frozenset(s) for s in token_sets]
    cands = _ppjoin_candidates(sets)
    for i in range(len(sets)):
        for j in range(i + 1, len(sets)):
            inter = len(sets[i] & sets[j])
            union = len(sets[i] | sets[j])
            if inter / union >= 0.8:
                assert (i, j) in cands, (sets[i], sets[j], inter / union)


def test_incremental_probe_union_reconstructs_whole_corpus_groups(spark, sf_dir):
    """VERDICT r8 task 2 pin: splitting the corpus into a persisted index
    (90%) and a new batch (10%) loses NO duplicate relation. Every
    whole-corpus collision bucket must be exactly the union of its
    index-internal members and its probe members — i.e. index-internal
    groups + probe→index hits + probe-internal collisions together
    reconstruct minhash_portable_groups over the full corpus. Also proves
    the registered query's parquet persist/reload path returns exactly
    what a direct (no roundtrip) computation of the same join returns."""
    docs = read_table(spark, sf_dir, "documents")
    banded = D.pmh_banded_buckets(docs).cache()
    is_probe = F.col("doc_id") % 10 == 0
    probe, index = banded.filter(is_probe), banded.filter(~is_probe)

    def groups(df):
        out = {}
        for r in (
            df.groupBy("band", "bucket")
            .agg(F.collect_set("doc_id").alias("members"))
            .collect()
        ):
            out[(r.band, r.bucket)] = set(r.members)
        return out

    whole, gi, gp = groups(banded), groups(index), groups(probe)
    # membership union: every bucket's whole-corpus member set is exactly
    # index members ∪ probe members (no doc changes bucket when split)
    for key, members in whole.items():
        assert members == gi.get(key, set()) | gp.get(key, set()), key
    # every whole-corpus COLLISION group (≥2 docs) is visible to the
    # incremental path through at least one of its three legs
    out_rows = {
        r.doc_id: r
        for r in D.minhash_incremental_probe(spark, sf_dir).collect()
    }
    for key, members in whole.items():
        if len(members) < 2:
            continue
        idx_m, prb_m = gi.get(key, set()), gp.get(key, set())
        covered = (
            len(idx_m) >= 2  # index-internal group
            or len(prb_m) >= 2  # batch self-dedup leg
            or (prb_m and idx_m)  # probe→index hit
        )
        assert covered, (key, members)
        # and each probe member with an index partner is in the output
        # with a keeper no larger than the bucket's index minimum
        if prb_m and idx_m:
            for d in prb_m:
                assert d in out_rows, (key, d)
                assert out_rows[d].min_index_doc <= min(idx_m)
    banded.unpersist()


def test_intersource_matrix_accounts_for_every_colliding_pair(spark, sf_dir):
    """The attribution matrix must be a PARTITION of the distinct
    colliding pairs: total n_pairs equals an independent pair recount
    from the banded buckets, every cell is canonically oriented
    (src_a <= src_b), and per-cell doc counts are bounded by pair
    counts."""
    docs = read_table(spark, sf_dir, "documents")
    banded = D.pmh_banded_buckets(docs).collect()
    by_bucket = {}
    for r in banded:
        by_bucket.setdefault((r.band, r.bucket), set()).add(r.doc_id)
    all_pairs = set()
    for members in by_bucket.values():
        ms = sorted(members)
        for i in range(len(ms)):
            for j in range(i + 1, len(ms)):
                all_pairs.add((ms[i], ms[j]))
    src = {r.doc_id: r.source for r in docs.select("doc_id", "source").collect()}
    expected_cells = {}
    for a, b in all_pairs:
        key = tuple(sorted((src[a], src[b])))
        expected_cells[key] = expected_cells.get(key, 0) + 1

    rows = D.intersource_dup_matrix(spark, sf_dir).collect()
    assert sum(r.n_pairs for r in rows) == len(all_pairs)
    got_cells = {(r.src_a, r.src_b): r.n_pairs for r in rows}
    assert got_cells == expected_cells
    for r in rows:
        assert r.src_a <= r.src_b
        assert 2 <= r.n_docs_implicated <= 2 * r.n_pairs


def test_governed_mixture_sample_composition(spark, sf_dir):
    """The governance loop's composition contract: the sample is drawn
    only from KEPT docs (no doc that is the larger side of a verified
    near-dup pair is ever sampled), per-source draw count is
    min(quota, n_kept) with dense ranks 1..n, and the per-source quota
    reproduces round(GOV_EPOCH * temperature-share) from the returned
    kept_tokens columns."""
    rows = D.governed_mixture_sample(spark, sf_dir).collect()
    assert rows

    # rebuild the redundant set exactly as the query defines it
    docs = read_table(spark, sf_dir, "documents")
    banded = D.pmh_banded_buckets(docs)
    pairs = (
        banded.select("band", "bucket", F.col("doc_id").alias("doc_a"))
        .join(
            banded.select("band", "bucket", F.col("doc_id").alias("doc_b")),
            ["band", "bucket"],
        )
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    tokn = docs.select(
        "doc_id", F.array_distinct(F.split("text", " ")).alias("toks")
    ).withColumn("tsz", F.size("toks"))
    verified = (
        pairs.join(
            tokn.select(
                F.col("doc_id").alias("doc_a"),
                F.col("toks").alias("ta"),
                F.col("tsz").alias("sa"),
            ),
            "doc_a",
        )
        .join(
            tokn.select(
                F.col("doc_id").alias("doc_b"),
                F.col("toks").alias("tb"),
                F.col("tsz").alias("sb"),
            ),
            "doc_b",
        )
        .filter(
            F.size(F.array_intersect("ta", "tb")) * 39
            >= (F.col("sa") + F.col("sb")) * 19
        )
    )
    redundant = {
        r.doc_b for r in verified.select("doc_b").distinct().collect()
    }
    sampled = {r.doc_id for r in rows}
    assert not (sampled & redundant)

    # per-source: dense ranks, count == min(quota, n_kept), quota formula
    import math
    from collections import defaultdict

    by_src = defaultdict(list)
    for r in rows:
        by_src[r.source].append(r)
    total_micro = None  # needs every source incl. zero-quota ones: recompute
    # kept-token totals per source from the engine itself
    kept_tokens = {
        r.source: r.kept_tokens
        for r in docs.select(
            "doc_id", "source", F.size(F.split("text", " ")).alias("n_toks")
        )
        .filter(~F.col("doc_id").isin(list(redundant)))
        .groupBy("source")
        .agg(F.sum("n_toks").cast("long").alias("kept_tokens"))
        .collect()
    }
    w = {s: round(math.sqrt(t) * 1_000_000) for s, t in kept_tokens.items()}
    total_micro = sum(w.values())
    for src, srows in by_src.items():
        ranks = sorted(r.rnk for r in srows)
        assert ranks == list(range(1, len(srows) + 1))
        q = srows[0].quota
        assert len(srows) == min(q, srows[0].n_kept)
        assert kept_tokens[src] == srows[0].kept_tokens
        assert q == round(D.GOV_EPOCH * w[src] / total_micro)

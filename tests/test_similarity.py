"""Property tests for the similarity pillar (operators/similarity.py).

The LSH recall test plants known near-duplicates and asserts the bucketed
candidate join recovers them — the check an oracle can't express
(engine-RNG hashing), mirroring SURVEY.md §5.2's invariant-test strategy.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from big_data_medical_analysis_spark.operators import similarity as S
from big_data_medical_analysis_spark.sources.readers import read_table


def test_cosine_topk_shape_and_bounds(spark, sf_dir):
    df = S.cosine_topk(spark, sf_dir)
    rows = df.collect()
    assert len(rows) == S.N_PROBES * S.TOP_K
    for r in rows:
        assert -1.000001 <= r.cos_sim <= 1.000001
        assert 1 <= r.rnk <= S.TOP_K
        assert r.cand_id != r.probe_id
    # per-probe scores are non-increasing in rank
    by_probe = {}
    for r in rows:
        by_probe.setdefault(r.probe_id, []).append((r.rnk, r.cos_sim))
    for scores in by_probe.values():
        ordered = [s for _, s in sorted(scores)]
        assert ordered == sorted(ordered, reverse=True)


def test_cosine_self_similarity_is_one(spark, sf_dir):
    """cos(v, v) == 1.0 under the int-scaled convention (sanity of the
    exact-arithmetic dot/norm identities)."""
    emb = read_table(spark, sf_dir, "embeddings").limit(20)
    df = emb.select(
        S.cosine(
            S.int_dot("embedding", "embedding"),
            S.int_norm2("embedding"),
            S.int_norm2("embedding"),
        ).alias("c")
    )
    for r in df.collect():
        assert r.c == pytest.approx(1.0, abs=1e-6)


def test_brp_lsh_recall_on_planted_near_dups(spark):
    """Plant exact duplicates and tiny perturbations of base vectors; the
    BRP-LSH candidate join must recover every planted pair (distance ~0 ⇒
    same bucket in every hash table)."""
    import random

    rng = random.Random(7)
    dim = 16
    rows = []
    planted = []
    for i in range(40):
        v = [rng.uniform(-1, 1) for _ in range(dim)]
        rows.append((i, i % 4, v))
    # ids 100+i: near-copies of vector i (perturbed by 1e-3)
    for i in range(10):
        v = [x + 1e-3 for x in rows[i][2]]
        rows.append((100 + i, rows[i][1], v))
        planted.append((i, 100 + i))
    df = spark.createDataFrame(rows, "vec_id long, label int, embedding array<float>")
    pairs = S.brp_lsh_pairs(df, dist_threshold=0.1, bucket_length=1.0)
    found = {(r.vec_a, r.vec_b) for r in pairs.collect()}
    for p in planted:
        assert p in found, f"planted near-dup {p} not recovered by LSH"


def test_near_dup_pairs_symmetric_free_and_thresholded(spark, sf_dir):
    df = S.embedding_near_dup_pairs(spark, sf_dir)
    rows = df.collect()
    for r in rows:
        assert r.vec_a < r.vec_b  # canonical orientation, no (b,a) twins
        assert r.cos_sim >= S.NEAR_DUP_COS


def test_int8_quantization_reconstruction_bound(spark, sf_dir):
    """Dequantized components stay within half a quantization step of the
    original scaled value: |xi - q_i*scale6/127| <= scale6/254 + 0.5, and
    q never leaves [-127, 127]. Also pins the registered (driver-canon CSV)
    form to the array-typed library form component-for-component."""
    from big_data_medical_analysis_spark import registry
    from big_data_medical_analysis_spark.sources.readers import read_table

    q_rows = {
        r.vec_id: (r.scale6, list(r.q))
        for r in S.quantize_vectors(spark, sf_dir).collect()
    }
    csv_rows = {
        r.vec_id: [int(t) for t in r.q_csv.split(",")]
        for r in registry.queries()["embedding_int8_quantize"](spark, sf_dir)
        .collect()
    }
    assert {v: q for v, (_, q) in q_rows.items()} == csv_rows
    orig = {
        r.vec_id: list(r.embedding)
        for r in read_table(spark, sf_dir, "embeddings").collect()
    }
    assert q_rows and set(q_rows) <= set(orig)
    for vid, (scale6, q) in q_rows.items():
        xs = orig[vid]
        assert len(q) == len(xs)
        step_half = scale6 / 254.0
        for x, qi in zip(xs, q):
            assert -127 <= qi <= 127
            xi = round(x * 1_000_000)
            assert abs(xi - qi * scale6 / 127.0) <= step_half + 0.5


def test_quantized_topk_recall_vs_exact(spark, sf_dir):
    """int8-quantized top-k must substantially agree with the exact float
    top-k (the quantization step is ~1/254 of the max component, far below
    the cosine gaps in this corpus): mean recall@5 >= 0.6, and every probe
    present in both."""
    from big_data_medical_analysis_spark import registry

    qs = registry.queries()
    exact: dict[int, set] = {}
    for r in qs["cosine_topk"](spark, sf_dir).collect():
        exact.setdefault(r.probe_id, set()).add(r.cand_id)
    approx: dict[int, set] = {}
    for r in qs["quantized_cosine_topk"](spark, sf_dir).collect():
        approx.setdefault(r.probe_id, set()).add(r.cand_id)
    assert set(approx) == set(exact)
    recalls = [
        len(exact[p] & approx[p]) / len(exact[p]) for p in exact
    ]
    assert sum(recalls) / len(recalls) >= 0.6


def test_rp_projection_preserves_geometry(spark, sf_dir):
    """JL property: cosine similarity in the 16-dim projected space tracks
    the exact 64-dim cosine (rank correlation well above chance), and the
    projection matches a numpy reproduction exactly."""
    import numpy as np

    out = {r.vec_id: np.array(r.proj) for r in S.rp_project_vectors(spark, sf_dir).collect()}
    # registered (driver-canon CSV) form carries the same values in micro-units
    micro = {
        r.vec_id: np.array([int(t) for t in r.proj_micro.split(",")])
        for r in S.rp_embedding_project(spark, sf_dir).collect()
    }
    for vid, arr in out.items():
        assert np.allclose(arr, micro[vid] / 1e6)
    emb = {
        r.vec_id: np.asarray(r.embedding, dtype=np.float64)
        for r in read_table(spark, sf_dir, "embeddings").collect()
    }
    # exact reproduction: int64-scaled dot with the shared sign matrix
    signs = np.array(S.rp_sign_matrix(), dtype=np.int64)
    for vid in list(emb)[:50]:
        s = emb[vid] * 1e6
        iv = np.copysign(np.floor(np.abs(s) + 0.5), s).astype(np.int64)
        want = np.round((signs @ iv) / 1e6, 6)
        assert np.allclose(out[vid], want)

    def cos(a, b):
        return float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))

    vids = sorted(emb)[:60]
    true_sims = []
    proj_sims = []
    for i in range(len(vids)):
        for j in range(i + 1, len(vids)):
            true_sims.append(cos(emb[vids[i]], emb[vids[j]]))
            proj_sims.append(cos(out[vids[i]], out[vids[j]]))
    # expected r ≈ spread/√(spread² + noise²) with spread ~1/√64 and JL
    # noise ~1/√RP_OUT_DIM: ≈ 0.58 for k=32 — assert comfortably below it
    r = float(np.corrcoef(true_sims, proj_sims)[0, 1])
    assert r > 0.45, f"projected-cosine correlation too weak: {r}"


def test_kmeans_lloyd_matches_numpy_replay(spark, sf_dir):
    """The k-means trajectory must equal a numpy replay of the same exact
    integer arithmetic (micro components, integer distances, argmin with
    cluster-id tie-break, round(sum/count) updates), and the within-cluster
    SSE must not increase across the Lloyd iterations."""
    import numpy as np

    from big_data_medical_analysis_spark.operators.similarity import (
        KMEANS_ITERS,
        KMEANS_K,
        kmeans_lloyd_centroids,
    )
    from big_data_medical_analysis_spark.sources.readers import read_table

    rows = kmeans_lloyd_centroids(spark, sf_dir).collect()
    got = {}
    for r in rows:
        got.setdefault(r.cluster, {})[r.dim_idx] = (r.centroid_micro, r.n_members)

    emb = read_table(spark, sf_dir, "embeddings").select("vec_id", "embedding").collect()
    vecs = {}
    for r in emb:
        a = np.asarray(r.embedding, dtype=np.float64) * 1e6
        vecs[r.vec_id] = np.copysign(np.floor(np.abs(a) + 0.5), a).astype(np.int64)
    cents = {i: vecs[i].copy() for i in range(KMEANS_K)}
    sses = []
    update = {}
    for _ in range(KMEANS_ITERS):
        assign, sse = {}, 0
        for vid, v in vecs.items():
            best = min(
                ((int(((v - c) ** 2).sum()), cl) for cl, c in cents.items())
            )
            assign[vid] = best[1]
            sse += best[0]
        sses.append(sse)
        update = {}
        for cl in set(assign.values()):
            mem = np.stack([vecs[v] for v, c in assign.items() if c == cl])
            s = mem.sum(axis=0, dtype=np.int64)
            n = len(mem)
            r0 = s / n
            cm = np.copysign(np.floor(np.abs(r0) + 0.5), r0).astype(np.int64)
            update[cl] = (cm, n)
        cents = {cl: cm for cl, (cm, n) in update.items()}
    assert sses == sorted(sses, reverse=True), f"SSE increased: {sses}"
    assert set(got) == set(update)
    for cl, (cm, n) in update.items():
        for d in range(cm.size):
            gcm, gn = got[cl][d]
            assert gn == n
            assert gcm == cm[d], (cl, d, gcm, cm[d])


def test_ann_incremental_probe_matches_numpy_replay(spark, sf_dir):
    """Full independent replay of the persisted-index LSH probe in numpy:
    buckets, probe-vs-index collisions, per-probe candidate sets, and the
    exact-cosine best candidate must all agree with the Spark output —
    including that reading the index BACK from parquet lost nothing."""
    import numpy as np

    emb_rows = (
        read_table(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding")
        .collect()
    )
    ids = np.array([r.vec_id for r in emb_rows], dtype=np.int64)
    mat = np.stack([np.asarray(r.embedding, dtype=np.float64) for r in emb_rows])
    s = mat * 1_000_000.0
    iv = np.copysign(np.floor(np.abs(s) + 0.5), s).astype(np.int64)
    planes_t = np.array(S.ann_sign_matrix(), dtype=np.int64).T
    bits = (iv @ planes_t) >= 0
    weights = 1 << np.arange(S.ANN_LSH_BITS, dtype=np.int64)
    bkt = (
        bits.reshape(len(ids), S.ANN_LSH_TABLES, S.ANN_LSH_BITS).astype(np.int64)
        @ weights
    )  # N x L
    by_id = {int(v): i for i, v in enumerate(ids)}
    probe_ids = [int(v) for v in ids if v % 10 == 0]
    index_ids = [int(v) for v in ids if v % 10 != 0]
    expected = {}
    for p in probe_ids:
        tbls, cands = set(), set()
        for t in range(S.ANN_LSH_TABLES):
            pb = bkt[by_id[p], t]
            for c in index_ids:
                if bkt[by_id[c], t] == pb:
                    tbls.add(t)
                    cands.add(c)
        if not cands:
            continue
        best = None
        for c in sorted(cands):
            dot = int((iv[by_id[p]] * iv[by_id[c]]).sum())
            n2p = float((iv[by_id[p]] ** 2).sum())
            n2c = float((iv[by_id[c]] ** 2).sum())
            cos = round(dot / (np.sqrt(n2p) * np.sqrt(n2c)), 6)
            if best is None or cos > best[1]:
                best = (c, cos)
        expected[p] = (len(tbls), len(cands), best[0], best[1])

    got = {
        r.probe_id: (r.n_tables_hit, r.n_candidates, r.best_cand_id, r.best_cos)
        for r in S.ann_incremental_probe(spark, sf_dir).collect()
    }
    assert set(got) == set(expected)
    for p, exp in expected.items():
        assert got[p][:3] == exp[:3], (p, got[p], exp)
        assert abs(got[p][3] - exp[3]) < 2e-6, (p, got[p], exp)


def _load_intvecs(spark, sf_dir):
    """(ids, int64-micro vector matrix) sorted by vec_id — the engines'
    exact integer quantization, replayed in numpy."""
    import numpy as np

    rows = (
        read_table(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding")
        .collect()
    )
    ids = np.array([r.vec_id for r in rows], dtype=np.int64)
    mat = np.stack([np.asarray(r.embedding, dtype=np.float64) for r in rows])
    sc = mat * 1_000_000.0
    iv = np.copysign(np.floor(np.abs(sc) + 0.5), sc).astype(np.int64)
    order = np.argsort(ids)
    return ids[order], iv[order]


def _numpy_pq_train(ids, iv):
    """Replay the per-subspace Lloyd training with the engines' exact
    rules (first-k init, argmin ties → first key, int64 sum + ONE double
    division + round per centroid component). Returns per-subspace
    (sorted keys, centroid matrix)."""
    import numpy as np

    books = {}
    for s in range(S.PQ_SUBSPACES):
        sv = iv[:, s * S.PQ_SUB_DIM : (s + 1) * S.PQ_SUB_DIM]
        cent = {int(v): sv[i].copy() for i, v in enumerate(ids) if v < S.PQ_K}
        for _ in range(S.PQ_ITERS):
            keys = sorted(cent)
            cm = np.stack([cent[k] for k in keys])
            d = ((sv[:, None, :] - cm[None, :, :]) ** 2).sum(axis=2)
            assign = np.array(keys)[np.argmin(d, axis=1)]
            cent = {}
            for k in sorted(set(assign.tolist())):
                m = sv[assign == k]
                mean = m.sum(axis=0, dtype=np.int64).astype(np.float64) / len(m)
                cent[k] = np.copysign(
                    np.floor(np.abs(mean) + 0.5), mean
                ).astype(np.int64)
        keys = sorted(cent)
        books[s] = (keys, np.stack([cent[k] for k in keys]))
    return books


def test_pq_codebook_matches_numpy_replay(spark, sf_dir):
    """Full independent replay of the product-quantization training in
    numpy — per-subspace Lloyd iterations on int64-micro subvectors with
    the same init/tie-break/centroid-rounding rules — must reproduce the
    Spark census exactly: member counts AND the exact integer total
    squared distortion per (subspace, cluster); per-subspace member
    counts must each sum to N (every vector encoded in every subspace)."""
    import numpy as np

    from big_data_medical_analysis_spark import registry

    ids, iv = _load_intvecs(spark, sf_dir)
    n = len(ids)
    books = _numpy_pq_train(ids, iv)

    expected = {}
    for s in range(S.PQ_SUBSPACES):
        sv = iv[:, s * S.PQ_SUB_DIM : (s + 1) * S.PQ_SUB_DIM]
        keys, cm = books[s]
        d = ((sv[:, None, :] - cm[None, :, :]) ** 2).sum(axis=2)
        j = np.argmin(d, axis=1)
        assign = np.array(keys)[j]
        dmin = d[np.arange(n), j]
        for k in sorted(set(assign.tolist())):
            mask = assign == k
            expected[(s, k)] = (int(mask.sum()), int(dmin[mask].sum()))

    got = {
        (r.subspace, r.cluster): (r.n_members, r.total_sq_err)
        for r in registry.queries()["pq_codebook_distortion"](
            spark, sf_dir
        ).collect()
    }
    assert got == expected
    for s in range(S.PQ_SUBSPACES):
        assert sum(v[0] for (ss, _), v in got.items() if ss == s) == n


def test_pq_adc_topk_matches_numpy_replay(spark, sf_dir):
    """Independent numpy replay of the full ADC pipeline — train (shared
    replay), encode the non-probe corpus, build each probe's exact-int
    LUT, score every candidate by LUT sum, rank with (adc_d, cand_id)
    ties, recompute the exact distance for winners — must match the
    Spark output row-for-row; every probe must surface exactly
    PQ_ADC_K winners."""
    import numpy as np

    from big_data_medical_analysis_spark import registry

    ids, iv = _load_intvecs(spark, sf_dir)
    books = _numpy_pq_train(ids, iv)
    probe_mask = ids % S.PQ_PROBE_MOD == S.PQ_PROBE_RES

    # encode non-probe vectors: per subspace, the nearest codebook key
    codes = {}
    for s in range(S.PQ_SUBSPACES):
        sv = iv[:, s * S.PQ_SUB_DIM : (s + 1) * S.PQ_SUB_DIM]
        keys, cm = books[s]
        d = ((sv[:, None, :] - cm[None, :, :]) ** 2).sum(axis=2)
        codes[s] = (np.array(keys)[np.argmin(d, axis=1)], d)

    expected = {}
    cand_ids = ids[~probe_mask]
    for pi in np.flatnonzero(probe_mask):
        pid = int(ids[pi])
        adc = {}
        for ci in np.flatnonzero(~probe_mask):
            cid = int(ids[ci])
            total = 0
            for s in range(S.PQ_SUBSPACES):
                keys, cm = books[s]
                code = codes[s][0][ci]
                q = iv[pi, s * S.PQ_SUB_DIM : (s + 1) * S.PQ_SUB_DIM]
                total += int(((q - cm[keys.index(int(code))]) ** 2).sum())
            adc[cid] = total
        top = sorted(adc.items(), key=lambda kv: (kv[1], kv[0]))[: S.PQ_ADC_K]
        for rnk, (cid, a) in enumerate(top, start=1):
            ci = int(np.flatnonzero(ids == cid)[0])
            true_d = int(((iv[pi] - iv[ci]) ** 2).sum())
            ratio = round(a / true_d, 6) if true_d else None
            expected[(pid, rnk)] = (cid, a, true_d, ratio)

    got = {
        (r.probe_id, r.rnk): (r.cand_id, r.adc_d, r.true_d, r.adc_ratio)
        for r in registry.queries()["pq_adc_topk"](spark, sf_dir).collect()
    }
    assert len(got) == int(probe_mask.sum()) * S.PQ_ADC_K
    for k, exp in expected.items():
        assert got[k][:3] == exp[:3], (k, got[k], exp)
        if exp[3] is None:
            assert got[k][3] is None
        else:
            assert abs(got[k][3] - exp[3]) < 2e-6, (k, got[k], exp)
    assert len(cand_ids) + int(probe_mask.sum()) == len(ids)


def test_ann_recall_audit_invariants(spark, sf_dir):
    """Recall audit semantics (the oracle pins values; this pins the
    cross-tier invariants): one row per (tier, probe); recall = n_hits/K
    in [0, 1]; n_hits <= min(K, n_scored); the pq_adc tier scores the
    whole encoded candidate corpus while sign_lsh scores only bucket
    collisions (n_scored strictly smaller on this near-random corpus)."""
    from big_data_medical_analysis_spark import registry

    rows = registry.queries()["ann_recall_audit"](spark, sf_dir).collect()
    tiers = {"sign_lsh", "pq_adc"}
    assert {r.tier for r in rows} == tiers
    probes = {r.probe_id for r in rows}
    assert len(rows) == len(tiers) * len(probes)
    n_cands = (
        read_table(spark, sf_dir, "embeddings")
        .filter(F.expr(S._ANN_INDEX))
        .count()
    )
    for r in rows:
        assert 0.0 <= r.recall <= 1.0
        assert abs(r.recall - round(r.n_hits / S.RA_K, 4)) < 1e-9
        assert r.n_hits <= min(S.RA_K, r.n_scored)
        if r.tier == "pq_adc":
            assert r.n_scored == n_cands
        else:
            assert r.n_scored < n_cands


def test_ivf_pq_gate_actually_gates(spark, sf_dir):
    """IVF-PQ invariants (the oracle pins values; this pins the gating
    claim): every probe's n_gated is strictly less than the full
    candidate corpus (the cell gate reads nprobe cells, not everything),
    ranks are dense 1..K, and adc_d/true_d are positive."""
    from big_data_medical_analysis_spark import registry

    rows = registry.queries()["ivf_pq_topk"](spark, sf_dir).collect()
    assert rows
    n_cands = (
        read_table(spark, sf_dir, "embeddings")
        .filter((F.col("vec_id") % S.PQ_PROBE_MOD) != S.PQ_PROBE_RES)
        .count()
    )
    by_probe = {}
    for r in rows:
        assert 0 < r.n_gated < n_cands
        assert r.adc_d >= 0 and r.true_d > 0
        by_probe.setdefault(r.probe_id, []).append(r.rnk)
    for rnks in by_probe.values():
        assert sorted(rnks) == list(range(1, len(rnks) + 1))


def test_multiprobe_dominates_single(spark, sf_dir):
    """Multiprobe set-dominance (the oracle pins values; this pins the
    structural claim): per probe, the multiprobe candidate set contains
    the single-probe set, so n_scored and n_hits are monotonically >= —
    and across the panel the extra bucket finds strictly more candidates."""
    from big_data_medical_analysis_spark import registry

    rows = registry.queries()["ann_multiprobe_audit"](spark, sf_dir).collect()
    single = {r.probe_id: r for r in rows if r.tier == "single"}
    multi = {r.probe_id: r for r in rows if r.tier == "multiprobe_2"}
    assert set(single) == set(multi) and single
    for pid in single:
        assert multi[pid].n_scored >= single[pid].n_scored
        assert multi[pid].n_hits >= single[pid].n_hits
        assert 0.0 <= single[pid].recall <= multi[pid].recall <= 1.0
    assert sum(m.n_scored for m in multi.values()) > sum(
        s.n_scored for s in single.values()
    )


def test_geometry_ladder_halves_candidates_per_bit(spark, sf_dir):
    """ann_geometry_scaling_audit (round 12): random-pair collisions per
    table scale ~2^-B, so each +2 bits on the ladder must cut per-table
    hits by ~4x (mixing noise allowed: [2, 8] band per rung — the sf0.01
    measured curve is 1627 -> 402 -> 125 -> 41). Also pins the masking
    identity: the B=12 rung IS the unmasked bucket join, and coarser
    rungs can only ADD collisions (a probe colliding at B bits collides
    at every B' < B), so probes/pairs/hits are all monotone
    non-increasing in B."""
    from big_data_medical_analysis_spark.operators.similarity import (
        GEO_LADDER,
        ann_geometry_scaling_audit,
    )

    rows = {
        r.bits: r
        for r in ann_geometry_scaling_audit(spark, sf_dir).collect()
    }
    assert set(rows) == set(GEO_LADDER)
    for lo, hi in zip(GEO_LADDER, GEO_LADDER[1:]):
        assert rows[lo].n_probes_colliding >= rows[hi].n_probes_colliding
        assert rows[lo].total_pairs >= rows[hi].total_pairs
        assert rows[lo].total_hits > rows[hi].total_hits
        ratio = rows[lo].total_hits / max(rows[hi].total_hits, 1)
        assert 2.0 <= ratio <= 8.0, (lo, hi, ratio)


@pytest.mark.parametrize("tables,bits", [(6, 8), (4, 12), (3, 16)])
def test_sign_lsh_buckets_match_sql_twin(spark, tables, bits):
    """The numpy sign-LSH bucketer and its generated DuckDB twin must agree
    row for row at every geometry the module serves (fixed ANN, geometry
    ladder, adaptive max resolution) — including the margin-0 tie, where
    both engines set the bit (the all-zero vector)."""
    import duckdb
    import numpy as np
    import pyarrow as pa

    rng = np.random.RandomState(11)
    vecs = [rng.normal(scale=0.1, size=S.RP_IN_DIM).tolist() for _ in range(199)]
    vecs.append([0.0] * S.RP_IN_DIM)
    ids = list(range(1000, 1000 + len(vecs)))
    got = sorted(
        (r.vec_id, r.tbl, r.bucket)
        for r in S.sign_lsh_buckets(
            spark.createDataFrame(
                list(zip(ids, vecs)), "vec_id long, embedding array<double>"
            ),
            tables,
            bits,
        ).collect()
    )
    con = duckdb.connect()
    con.register(
        "embeddings",
        pa.table(
            {
                "vec_id": pa.array(ids, pa.int64()),
                "embedding": pa.array(vecs, pa.list_(pa.float64())),
            }
        ),
    )
    want = sorted(
        con.execute(
            f"WITH {S._SCALED_SQL}, {S.sign_lsh_sql('scaled', tables, bits)} "
            "SELECT vec_id, tbl, bucket FROM banded"
        ).fetchall()
    )
    assert len(got) == len(vecs) * tables
    assert got == want


def test_semdedup_prune_invariants(spark, sf_dir):
    """SemDeDup per-cluster rows must conserve members (kept + pruned =
    members, rate = pruned/members), cover every vector exactly once
    across clusters, and keep at least the rank-1 (farthest-from-centroid)
    representative of every non-empty cluster — the policy's floor."""
    import math

    from big_data_medical_analysis_spark.operators.similarity import (
        KMEANS_K,
        SEMDEDUP_CELL_SHIFT,
        SEMDEDUP_TARGET_WIDTH,
        semdedup_prune_stats,
    )
    from big_data_medical_analysis_spark.sources.readers import read_table

    rows = semdedup_prune_stats(spark, sf_dir).collect()
    n_vecs = read_table(spark, sf_dir, "embeddings").count()
    assert rows, "no clusters"
    assert sum(r.n_members for r in rows) == n_vecs
    # hierarchical ids (round 14): cluster = cell * SHIFT + fine with
    # cell < kc = ceil(sqrt(k)) and fine < ceil(N/width) by construction
    k = max(KMEANS_K, -(-n_vecs // SEMDEDUP_TARGET_WIDTH))
    kc = math.isqrt(k) + (0 if math.isqrt(k) ** 2 == k else 1)
    for r in rows:
        cell, fine = divmod(r.cluster, SEMDEDUP_CELL_SHIFT)
        assert 0 <= cell < kc, r.cluster
        # fine ids are 0-based against kf <= ceil(N/width) per cell, so
        # fine <= ceil(N/width) - 1 strictly (ADVICE r14: the old
        # `< ceil + 1` was one looser than the construction and would
        # have passed an off-by-one in the fine init/count)
        assert 0 <= fine < max(1, -(-n_vecs // SEMDEDUP_TARGET_WIDTH))
        assert r.n_kept + r.n_pruned == r.n_members
        assert r.n_kept >= 1, "rank-1 member must always survive"
        assert 0.0 <= r.prune_rate <= 1.0
        assert r.prune_rate == round(r.n_pruned / r.n_members, 6)


# ---------------------------------------------------------------------------
# Round 13: geometry-adaptive ANN probe
# ---------------------------------------------------------------------------


def test_adx_serve_bits_formula(spark, sf_dir):
    """serve_bits must be the smallest B in [ADX_BITS_MIN, ADX_BITS_MAX]
    with 2^B * target >= persisted index rows (= index vectors x tables),
    derived from the data on every output row — the knob that holds
    per-probe expected candidates <= target as the corpus grows."""
    from big_data_medical_analysis_spark.operators.similarity import (
        _ANN_INDEX,
        ADX_BITS_MAX,
        ADX_BITS_MIN,
        ADX_TABLES,
        ADX_TARGET_CANDIDATES,
        ann_adaptive_probe,
    )
    from big_data_medical_analysis_spark.sources.readers import read_table

    n_index = (
        read_table(spark, sf_dir, "embeddings").filter(_ANN_INDEX).count()
    )
    rows = ann_adaptive_probe(spark, sf_dir).collect()
    assert rows
    nl = n_index * ADX_TABLES
    expect = next(
        (
            b
            for b in range(ADX_BITS_MIN, ADX_BITS_MAX + 1)
            if (1 << b) * ADX_TARGET_CANDIDATES >= nl
        ),
        ADX_BITS_MAX,
    )
    for r in rows:
        assert r.serve_bits == expect
        assert 1 <= r.n_tables_hit <= ADX_TABLES
        assert 1 <= r.n_candidates <= n_index
        assert -1.0 <= r.best_cos <= 1.0


def test_adx_planted_candidates_and_rerank(spark, sf_dir):
    """Planted-semantics check against a from-scratch numpy replay: for a
    sample of probes, recompute the 16-bit buckets from the seeded plane
    matrix, mask to the served geometry, derive the exact candidate set
    (any table's masked bucket matches), and verify the operator's
    candidate count AND that best_cand_id/best_cos is the exact-cosine
    argmax over that set with (cos DESC, cand_id) ties."""
    import numpy as np

    from big_data_medical_analysis_spark.operators.similarity import (
        _SCALE,
        ADX_BITS_MAX,
        ADX_TABLES,
        ann_adaptive_probe,
        ann_sign_matrix,
    )
    from big_data_medical_analysis_spark.sources.readers import read_table

    emb = {
        r.vec_id: np.asarray(r.embedding, dtype=np.float64)
        for r in read_table(spark, sf_dir, "embeddings").collect()
    }
    planes = np.array(ann_sign_matrix(), dtype=np.int64)  # 48 x dim
    iv = {
        k: np.copysign(np.floor(np.abs(v * _SCALE) + 0.5), v * _SCALE).astype(
            np.int64
        )
        for k, v in emb.items()
    }
    weights = 1 << np.arange(ADX_BITS_MAX, dtype=np.int64)

    def buckets(k):
        bits = (planes @ iv[k]) >= 0  # 48 bools
        return [
            int(bits[t * ADX_BITS_MAX : (t + 1) * ADX_BITS_MAX] @ weights)
            for t in range(ADX_TABLES)
        ]

    rows = {r.probe_id: r for r in ann_adaptive_probe(spark, sf_dir).collect()}
    assert rows
    index_ids = [k for k in emb if k % 10 != 0]
    ibkt = {k: buckets(k) for k in index_ids}
    checked = 0
    for pid in sorted(rows)[:5]:
        r = rows[pid]
        mask = 1 << r.serve_bits
        pb = buckets(pid)
        cands = {
            k
            for k in index_ids
            if any(pb[t] % mask == ibkt[k][t] % mask for t in range(ADX_TABLES))
        }
        assert r.n_candidates == len(cands), pid
        best = min(
            (
                (
                    -round(
                        float(np.dot(iv[pid], iv[k]))
                        / (
                            np.sqrt(float(np.dot(iv[pid], iv[pid])))
                            * np.sqrt(float(np.dot(iv[k], iv[k])))
                        ),
                        6,
                    ),
                    k,
                )
                for k in cands
            ),
        )
        assert (r.best_cand_id, r.best_cos) == (best[1], -best[0]), pid
        checked += 1
    assert checked == 5


def test_lloyd_train_keys_are_data(spark, sf_dir):
    """Keys are data, not code paths: ONE ``lloyd_train`` pass keyed on
    the PQ subspace must give, bit for bit, the codebook of training each
    subspace's slice on its own with no keys — the contract the global,
    PQ and fine-level callers all share."""
    svm = S._pq_subvectors(S._pq_intvecs(spark, sf_dir))
    init = svm.filter(F.col("vec_id") < S.PQ_K).select(
        "s", F.col("vec_id").cast("integer").alias("cluster"), F.col("v").alias("c")
    )
    keyed, _ = S.lloyd_train(svm, init, ("s",))
    got = {(r.s, r.cluster): list(r.c) for r in keyed.collect()}
    want = {}
    for s in range(S.PQ_SUBSPACES):
        book, _ = S.lloyd_train(
            svm.filter(F.col("s") == s).select("vec_id", "v"),
            init.filter(F.col("s") == s).drop("s"),
        )
        want.update({(s, r.cluster): list(r.c) for r in book.collect()})
    assert {s for s, _ in got} == set(range(S.PQ_SUBSPACES))
    assert got == want

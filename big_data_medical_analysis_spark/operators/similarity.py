"""Similarity search over the ``embeddings`` vector table (SURVEY.md §2.3,
north-star "similarity" pillar).

Tiers mirroring how a 100 TB pipeline actually deploys ANN (plus the
IVF/quantization/random-projection compression stages further down):

1. ``cosine_topk`` — exact brute-force cosine top-k for a small probe set.
   Pure Catalyst higher-order functions (``zip_with`` + ``aggregate``), no
   UDF: the probe set is broadcast, the candidate scan is a single linear
   pass, and only the tiny probe×candidate score table shuffles for the
   ranking window. This is the correctness baseline every ANN variant is
   validated against.
2. ``embedding_near_dup_pairs`` — thresholded all-pairs *within a blocking
   key* (label). Blocked all-pairs is the exact-semantics mid-tier: the
   quadratic term is bounded per block, so cost is Σ|block|², not N².
3. ``ann_brp_lsh`` — ``BucketedRandomProjectionLSH`` candidate pairs: the
   at-scale path. Vectors are bucketed by random hyperplane projections and
   only same-bucket pairs are compared — never an all-pairs cross join.
   Engine-RNG hashing ⇒ rows-only correctness check (registry contract);
   recall against planted near-duplicates is asserted in
   ``tests/test_similarity.py``.

Determinism convention: every score that reaches an oracle hash is computed
on int64-scaled components (``round(x·10⁶)``) so dot products and squared
norms are *exact* integers; the only float ops are one ``sqrt`` and one
division per pair — bit-identical across engines (IEEE-754). See
``operators/common.py`` for the same convention on money columns.

Exact-integer Lloyd recipe (``lloyd_train`` / ``lloyd_assign``, shared by
k-means, the SemDeDup/D4 coarse and fine levels, PQ codebooks and the
streaming SemDeDup maintainer): int64-micro components, integer squared
distances, argmin ties broken on the centroid id, and ONE IEEE division
per centroid component (round(sum/count)). DuckDB replays every
trajectory bit-for-bit from the same four rules.

Reference parity: the reference has no similarity surface at all (its only
"similarity" is Python set intersection over collected paths,
``utils/preprocessing_testing_utils.py:60-80``); this module is mandated by
SURVEY §2.3.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from big_data_medical_analysis_spark.operators.common import (
    checkpoint_pinned,
    fan_out,
    invocation_dir,
    md5_int,
)
from big_data_medical_analysis_spark.registry import register
from big_data_medical_analysis_spark.sources.readers import read_table

_SCALE = 1_000_000

N_PROBES = 10
TOP_K = 5
# The synthetic embeddings are near-random (within-label cosine q99 ≈ 0.30);
# 0.25 exercises a real selective threshold instead of returning zero pairs.
NEAR_DUP_COS = 0.25


def _iscaled(x: Column) -> Column:
    """float component → exact int64 (= round(x·10⁶))."""
    return F.round(x.cast("double") * _SCALE).cast("long")


# The exact int64 vector kernels. ``_int_micro`` projects a float vector to
# int64 micro-units once; the ``_raw`` kernels then work on ALREADY-scaled
# vectors, so every dot product, squared norm and squared distance below is
# an exact integer whatever the summation order.


def _int_micro(v: Column | str) -> Column:
    """float vector → exact int64-micro vector (``_iscaled`` per component)."""
    return F.transform(v, _iscaled)


def _int_dot_raw(a: Column | str, b: Column | str) -> Column:
    """Exact int64 dot of two ALREADY int-scaled vectors."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def _int_norm2_raw(a: Column | str) -> Column:
    """Exact int64 squared norm of an ALREADY int-scaled vector."""
    return F.aggregate(
        F.transform(a, lambda x: x * x),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def _int_sqdist_raw(a: Column | str, b: Column | str) -> Column:
    """Exact int64 squared distance of two ALREADY int-scaled vectors."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def int_dot(a: Column, b: Column) -> Column:
    """Exact int64 dot product of two float vectors (order-independent)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: _iscaled(x) * _iscaled(y)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def int_norm2(a: Column) -> Column:
    """Exact int64 squared norm of a float vector."""
    return F.aggregate(
        F.transform(a, lambda x: _iscaled(x) * _iscaled(x)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def cosine(dot: Column, n2a: Column, n2b: Column) -> Column:
    """cos = dot / (√n2a·√n2b), rounded to 6 dp.

    ``n2a·n2b`` would overflow int64 (~10²⁹ for 64-dim unit-ish vectors at
    10⁶ scaling), so each norm is √'d separately in double space.
    """
    return F.round(
        dot.cast("double")
        / (F.sqrt(n2a.cast("double")) * F.sqrt(n2b.cast("double"))),
        6,
    )


# ---------------------------------------------------------------------------
# 1. Exact brute-force cosine top-k
# ---------------------------------------------------------------------------

_COSINE_SQL = f"""
WITH scaled AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(round(x::DOUBLE * {_SCALE}) AS BIGINT))
           AS iv
  FROM embeddings
), normed AS (
  SELECT vec_id, iv,
         list_sum(list_transform(iv, x -> x * x)) AS n2
  FROM scaled
), pairs AS (
  SELECT p.vec_id AS probe_id, c.vec_id AS cand_id,
         round(
           CAST(list_sum(list_transform(list_zip(p.iv, c.iv),
                                        z -> z[1] * z[2])) AS DOUBLE)
           / (sqrt(CAST(p.n2 AS DOUBLE)) * sqrt(CAST(c.n2 AS DOUBLE))), 6)
           AS cos_sim
  FROM normed p JOIN normed c ON c.vec_id <> p.vec_id
  WHERE p.vec_id < {N_PROBES}
)
SELECT probe_id, cand_id, cos_sim,
       CAST(rnk AS INTEGER) AS rnk
FROM (
  SELECT *, row_number() OVER (
           PARTITION BY probe_id ORDER BY cos_sim DESC, cand_id) AS rnk
  FROM pairs
)
WHERE rnk <= {TOP_K}
"""


@register("cosine_topk", oracle=_COSINE_SQL, category="similarity")
def cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-k: {N_PROBES} probe vectors × full candidate scan.

    Plan shape (the one you want at 100 TB): the probe set is a broadcast
    nested-loop against a single linear candidate scan — the big side never
    shuffles to score. Only the probe×candidate score table (|probes|·N rows,
    with |probes| small) shuffles for the per-probe ranking window.
    Deterministic ties: (cos_sim DESC, cand_id).
    """
    # fan_out: the probe side broadcasts, so the |probes|·N scoring loop runs
    # at exactly the candidate scan's parallelism — one task for a
    # single-file local corpus without it. The n2 projection sits BELOW the
    # exchange so the shuffled rows carry finished norms; above it,
    # CollapseProject folds the aggregate into the nested-loop join and
    # recomputes n2 per pair (see quantized_cosine_topk).
    emb = fan_out(
        read_table(spark, sf_dir, "embeddings").select(
            "vec_id", "embedding", int_norm2("embedding").alias("n2")
        ),
        "vec_id",
    )
    probes = F.broadcast(
        emb.filter(F.col("vec_id") < N_PROBES).select(
            F.col("vec_id").alias("probe_id"),
            F.col("embedding").alias("p_emb"),
            F.col("n2").alias("p_n2"),
        )
    )
    cands = emb.select(
        F.col("vec_id").alias("cand_id"),
        F.col("embedding").alias("c_emb"),
        F.col("n2").alias("c_n2"),
    )
    pairs = probes.join(cands, F.col("cand_id") != F.col("probe_id")).select(
        "probe_id",
        "cand_id",
        cosine(
            int_dot("p_emb", "c_emb"), F.col("p_n2"), F.col("c_n2")
        ).alias("cos_sim"),
    )
    w = W.partitionBy("probe_id").orderBy(F.desc("cos_sim"), F.asc("cand_id"))
    return (
        pairs.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOP_K)
        .select("probe_id", "cand_id", "cos_sim", "rnk")
    )


# ---------------------------------------------------------------------------
# 2. Blocked near-duplicate pairs (exact, bounded quadratic)
# ---------------------------------------------------------------------------

_NEAR_DUP_SQL = f"""
WITH scaled AS (
  SELECT vec_id, label,
         list_transform(embedding, x -> CAST(round(x::DOUBLE * {_SCALE}) AS BIGINT))
           AS iv
  FROM embeddings
), normed AS (
  SELECT vec_id, label, iv,
         list_sum(list_transform(iv, x -> x * x)) AS n2
  FROM scaled
)
SELECT a.label AS label,
       a.vec_id AS vec_a, b.vec_id AS vec_b,
       round(
         CAST(list_sum(list_transform(list_zip(a.iv, b.iv),
                                      z -> z[1] * z[2])) AS DOUBLE)
         / (sqrt(CAST(a.n2 AS DOUBLE)) * sqrt(CAST(b.n2 AS DOUBLE))), 6)
         AS cos_sim
FROM normed a JOIN normed b
  ON a.label = b.label AND a.vec_id < b.vec_id
WHERE round(
        CAST(list_sum(list_transform(list_zip(a.iv, b.iv),
                                     z -> z[1] * z[2])) AS DOUBLE)
        / (sqrt(CAST(a.n2 AS DOUBLE)) * sqrt(CAST(b.n2 AS DOUBLE))), 6)
      >= {NEAR_DUP_COS}
"""


@register("embedding_near_dup_pairs", oracle=_NEAR_DUP_SQL, category="similarity")
def embedding_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact near-duplicate pairs above a cosine threshold, *blocked by
    label*: the quadratic term is Σ|block|² not N², so the equi-join on the
    block key shuffles once and each block's pairs are generated locally.
    At 100 TB the block key comes from a coarse clusterer or LSH bucket
    (``ann_brp_lsh``); same plan shape either way.
    """
    emb = fan_out(read_table(spark, sf_dir, "embeddings"), "vec_id").select(
        "vec_id", "label", "embedding", int_norm2("embedding").alias("n2")
    )
    a = emb.select(
        F.col("label"),
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("emb_a"),
        F.col("n2").alias("n2_a"),
    )
    b = emb.select(
        F.col("label").alias("label_b"),
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("emb_b"),
        F.col("n2").alias("n2_b"),
    )
    # Broadcast side b: a 5-value block key would cap a shuffle join at 5
    # effective tasks (one per label). With b broadcast, pair generation runs
    # at side a's full fan_out parallelism. At 100 TB, b is not the whole
    # corpus but one LSH/cluster block — still broadcast-sized per block.
    return (
        a.join(
            F.broadcast(b),
            (F.col("label") == F.col("label_b"))
            & (F.col("vec_a") < F.col("vec_b")),
        )
        .select(
            "label",
            "vec_a",
            "vec_b",
            cosine(int_dot("emb_a", "emb_b"), F.col("n2_a"), F.col("n2_b")).alias(
                "cos_sim"
            ),
        )
        .filter(F.col("cos_sim") >= NEAR_DUP_COS)
    )


# ---------------------------------------------------------------------------
# 3. Approximate nearest neighbours: bucketed random-projection LSH
# ---------------------------------------------------------------------------


def brp_lsh_pairs(
    emb: DataFrame,
    dist_threshold: float,
    bucket_length: float = 1.0,
    num_hash_tables: int = 2,
    seed: int = 42,
) -> DataFrame:
    """Candidate pairs from ``BucketedRandomProjectionLSH.approxSimilarityJoin``.

    The at-scale ANN path: each vector is hashed by ``num_hash_tables``
    random projections into buckets of width ``bucket_length``; the join
    explodes vectors by hash table, shuffles on (table, bucket), and compares
    only co-bucketed pairs — no all-pairs cross join ever materializes.
    Output: (vec_a, vec_b, eucl_dist) for pairs under ``dist_threshold``.
    """
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector

    vecs = emb.select(
        "vec_id", "label", array_to_vector("embedding").alias("features")
    )
    lsh = BucketedRandomProjectionLSH(
        inputCol="features",
        outputCol="hashes",
        bucketLength=bucket_length,
        numHashTables=num_hash_tables,
        seed=seed,
    )
    model = lsh.fit(vecs)
    joined = model.approxSimilarityJoin(
        vecs, vecs, dist_threshold, distCol="eucl_dist"
    )
    return (
        joined.filter(F.col("datasetA.vec_id") < F.col("datasetB.vec_id"))
        .select(
            F.col("datasetA.vec_id").alias("vec_a"),
            F.col("datasetA.label").alias("label_a"),
            F.col("datasetB.vec_id").alias("vec_b"),
            F.col("datasetB.label").alias("label_b"),
            F.round("eucl_dist", 6).alias("eucl_dist"),
        )
    )


@register("ann_brp_lsh", oracle=None, category="similarity")
def ann_brp_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BRP-LSH candidate-pair profile: pair counts per (label_a, label_b).

    Rows-only check (LSH hash functions are engine-RNG; fixed seed makes the
    run deterministic but not oracle-expressible). Recall against exact
    near-dup pairs is property-tested in tests/test_similarity.py.
    """
    emb = fan_out(read_table(spark, sf_dir, "embeddings"), "vec_id")
    # The corpus is unit-normalized: pairwise distance d = √(2(1−cos))
    # concentrates in [1.05, 1.41]; 1.15 (cos ≈ 0.34) admits ~0.3% of
    # pairs — a *selective* candidate set, which is the whole point of
    # bucketing. A threshold past the distance mode would turn any LSH
    # into an all-pairs join.
    pairs = brp_lsh_pairs(emb, dist_threshold=1.15, bucket_length=0.5)
    return (
        pairs.groupBy("label_a", "label_b")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.round(F.min("eucl_dist"), 6).alias("min_dist"),
        )
    )


# ---------------------------------------------------------------------------
# 4. IVF (inverted-file) ANN: coarse cells → probe nprobe cells → exact scan
# ---------------------------------------------------------------------------

N_IVF_PROBE_CELLS = 3


_IVF_SQL = f"""
WITH scaled AS (
  SELECT vec_id, label,
         list_transform(embedding, x -> CAST(round(x::DOUBLE * {_SCALE}) AS BIGINT))
           AS iv
  FROM embeddings
), exploded AS (
  SELECT label, ix, i FROM (
    SELECT label, unnest(iv) AS ix, generate_subscripts(iv, 1) AS i
    FROM scaled
  )
), centc AS (
  SELECT label, i,
         CAST(round(CAST(sum(ix) AS DOUBLE) / count(*)) AS BIGINT) AS c
  FROM exploded GROUP BY label, i
), cent AS (
  SELECT label, list(c ORDER BY i) AS cvec FROM centc GROUP BY label
), cent2 AS (
  SELECT label, cvec,
         list_sum(list_transform(cvec, x -> x * x)) AS n2c
  FROM cent
), pn AS (
  SELECT vec_id, iv, list_sum(list_transform(iv, x -> x * x)) AS n2
  FROM scaled WHERE vec_id < {N_PROBES}
), cell_scores AS (
  SELECT p.vec_id AS probe_id, c.label,
         round(CAST(list_sum(list_transform(list_zip(p.iv, c.cvec),
                                            z -> z[1] * z[2])) AS DOUBLE)
               / (sqrt(CAST(p.n2 AS DOUBLE)) * sqrt(CAST(c.n2c AS DOUBLE))), 6)
           AS cell_cos
  FROM pn p, cent2 c
), top_cells AS (
  SELECT probe_id, label FROM (
    SELECT *, row_number() OVER (
        PARTITION BY probe_id ORDER BY cell_cos DESC, label) AS rn
    FROM cell_scores
  ) WHERE rn <= {N_IVF_PROBE_CELLS}
), cn AS (
  SELECT vec_id, label, iv, list_sum(list_transform(iv, x -> x * x)) AS n2
  FROM scaled
), pairs AS (
  SELECT p.vec_id AS probe_id, c.vec_id AS cand_id,
         round(CAST(list_sum(list_transform(list_zip(p.iv, c.iv),
                                            z -> z[1] * z[2])) AS DOUBLE)
               / (sqrt(CAST(p.n2 AS DOUBLE)) * sqrt(CAST(c.n2 AS DOUBLE))), 6)
           AS cos_sim
  FROM pn p
  JOIN top_cells t ON t.probe_id = p.vec_id
  JOIN cn c ON c.label = t.label AND c.vec_id <> p.vec_id
)
SELECT probe_id, cand_id, cos_sim, CAST(rnk AS INTEGER) AS rnk
FROM (
  SELECT *, row_number() OVER (
      PARTITION BY probe_id ORDER BY cos_sim DESC, cand_id) AS rnk
  FROM pairs
)
WHERE rnk <= {TOP_K}
"""


def _label_means(vl: DataFrame, vec: str) -> DataFrame:
    """(label, cvec): each label cell's exact integer mean of the int64
    vector column ``vec`` — one explode, one (label, dim) aggregate with
    one round(sum/count) per component, one regroup, all JVM-side. The
    IVF coarse quantizer of ``ivf_topk`` and ``ivf_pq_topk``.
    posexplode_outer + null-filter on the OUTPUT, not posexplode: the
    plain generator makes Catalyst infer size(vec)>0 and push it to the
    scan with the scaling transform substituted — re-scaling every vector
    a second time per row (see common.explode_nonnull_pinned)."""
    exploded = vl.select(
        "label", F.posexplode_outer(vec).alias("i", "ix")
    ).filter(F.col("i").isNotNull())
    centc = exploded.groupBy("label", "i").agg(
        F.round(F.sum("ix").cast("double") / F.count(F.lit(1)))
        .cast("long")
        .alias("c")
    )
    return centc.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("i", "c"))),
            lambda s: s["c"],
        ).alias("cvec")
    )


@register("ivf_topk", oracle=_IVF_SQL, category="similarity")
def ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style approximate top-k: rank coarse cells by probe↔centroid
    cosine, then run the exact scorer over only the top
    {N_IVF_PROBE_CELLS} cells' vectors.

    The cell id here is the precomputed ``label`` column (the realistic IVF
    deployment: assignments come from an offline clusterer and live next to
    the vector); centroids are per-cell means computed engine-side with the
    int-scaling convention, so the whole path — centroid build, cell
    ranking, candidate scan — is deterministic and oracle-checked, unlike
    engine-RNG LSH. At 100 TB: centroids are a broadcast-sized table
    (cells × dims), cell ranking is a map over probes, and the candidate
    scan reads only nprobe/cells of the corpus — the scan reduction is the
    entire point of IVF. Tie-breaks: (cell_cos DESC, label), then
    (cos_sim DESC, cand_id).
    """
    # iv projection materialized ONCE via localCheckpoint: scaled has
    # three consumers (centroid build, probe slice, candidate side) and
    # the executed plan re-scanned parquet and re-ran the _iscaled
    # transform per consumer (3 scans, 18 HOF nodes — the r8 rescan
    # class; the exchange alone did not canonicalize to a reused
    # subtree). One scaling pass; downstream joins never re-derive the
    # vectors per pair (CollapseProject hazard — see
    # quantized_cosine_topk).
    scaled = fan_out(
        read_table(spark, sf_dir, "embeddings").select(
            "vec_id", "label", _int_micro("embedding").alias("iv")
        ),
        "vec_id",
    ).transform(checkpoint_pinned)

    cent = _label_means(scaled, "iv").select(
        "label", "cvec", _int_norm2_raw(F.col("cvec")).alias("n2c")
    )

    probes = scaled.filter(F.col("vec_id") < N_PROBES).select(
        F.col("vec_id").alias("probe_id"),
        F.col("iv").alias("p_iv"),
        _int_norm2_raw(F.col("iv")).alias("p_n2"),
    )

    # cell ranking: |probes| × |cells| rows, centroids broadcast
    cell_scores = probes.crossJoin(F.broadcast(cent)).select(
        "probe_id",
        "label",
        "p_iv",
        "p_n2",
        cosine(
            _int_dot_raw(F.col("p_iv"), F.col("cvec")),
            F.col("p_n2"),
            F.col("n2c"),
        ).alias("cell_cos"),
    )
    wc = W.partitionBy("probe_id").orderBy(F.desc("cell_cos"), F.asc("label"))
    top_cells = (
        cell_scores.withColumn("rn", F.row_number().over(wc))
        .filter(F.col("rn") <= N_IVF_PROBE_CELLS)
        .select("probe_id", "label", "p_iv", "p_n2")
    )

    # candidate scan: only vectors in the selected cells are scored. Its own
    # barrier materializes c_n2 so the join's per-pair work is the dot alone.
    cands = fan_out(
        scaled.select(
            F.col("vec_id").alias("cand_id"),
            F.col("label").alias("c_label"),
            F.col("iv").alias("c_iv"),
            _int_norm2_raw(F.col("iv")).alias("c_n2"),
        ),
        "cand_id",
    )
    pairs = F.broadcast(top_cells).join(
        cands,
        (F.col("label") == F.col("c_label"))
        & (F.col("cand_id") != F.col("probe_id")),
    ).select(
        "probe_id",
        "cand_id",
        cosine(
            _int_dot_raw(F.col("p_iv"), F.col("c_iv")),
            F.col("p_n2"),
            F.col("c_n2"),
        ).alias("cos_sim"),
    )
    wk = W.partitionBy("probe_id").orderBy(F.desc("cos_sim"), F.asc("cand_id"))
    return (
        pairs.withColumn("rnk", F.row_number().over(wk))
        .filter(F.col("rnk") <= TOP_K)
        .select("probe_id", "cand_id", "cos_sim", "rnk")
    )


# ---------------------------------------------------------------------------
# 4. int8 quantization — the ANN storage-scale path
# ---------------------------------------------------------------------------

_QUANT_SQL = """
WITH scaled AS (
  SELECT vec_id, label,
         list_transform(embedding,
                        x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT))
           AS xi
  FROM embeddings
), s AS (
  SELECT vec_id, label, xi,
         list_max(list_transform(xi, x -> abs(x))) AS scale6
  FROM scaled
)
SELECT vec_id, label, scale6,
       array_to_string(
         list_transform(xi, x -> CAST(round(x * 127.0 / scale6) AS INTEGER)),
         ',') AS q_csv
FROM s
WHERE scale6 > 0
"""


def quantize_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization — the storage/bandwidth scale
    path for ANN (4× smaller than float32, int-SIMD distance kernels).
    scale = max|component|, q_i = round(x_i·127/scale) ∈ [-127, 127]; no
    clipping by construction. Pure Catalyst HOFs over int64-scaled
    components (module convention), so the float division is the only
    non-integer op and the oracle matches bit-for-bit. One linear scan plus
    a fan_out exchange, no UDF.

    The exchange after the scale6 projection is load-bearing: without it,
    CollapseProject inlines scale6 into the q lambda's per-element body —
    array_max(transform(xi)) recomputed d times per row, O(d²) (see
    quantized_cosine_topk, where the same hazard measured 6×). The
    zero-vector guard is a short-circuiting F.exists for the same reason:
    a pushed-down scale6 > 0 expands the whole derivation inside the scan
    filter."""
    emb = read_table(spark, sf_dir, "embeddings")
    xi = _int_micro("embedding")
    staged = fan_out(
        emb.select("vec_id", "label", xi.alias("xi"))
        .filter(F.exists("xi", lambda v: v != 0))
        .withColumn("scale6", F.array_max(F.transform("xi", F.abs))),
        "vec_id",
    )
    q = F.transform("xi", lambda v: F.round(v * 127.0 / F.col("scale6")).cast("int"))
    return staged.select("vec_id", "label", "scale6", q.alias("q"))


@register("embedding_int8_quantize", oracle=_QUANT_SQL, category="similarity")
def embedding_int8_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered form of ``quantize_vectors``. The driver's canonicalizer
    sorts output frames with pandas and cannot hash list cells, so the int8
    codes are rendered as a comma-joined string (integer→string formatting
    is engine-identical; the DuckDB oracle builds the same string with
    ``array_to_string``). Same plan as the library form plus one
    zero-shuffle projection."""
    qv = quantize_vectors(spark, sf_dir)
    q_csv = F.concat_ws(",", F.transform("q", lambda v: v.cast("string")))
    return qv.select("vec_id", "label", "scale6", q_csv.alias("q_csv"))


_QCOS_SQL = f"""
WITH scaled AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(round(x::DOUBLE * {_SCALE}) AS BIGINT))
           AS xi
  FROM embeddings
), s AS (
  SELECT vec_id, xi,
         list_max(list_transform(xi, y -> abs(y))) AS scale6
  FROM scaled
), quant AS (
  SELECT vec_id,
         list_transform(xi, x -> CAST(round(x * 127.0 / scale6) AS BIGINT)) AS q
  FROM s WHERE scale6 > 0
), normed AS (
  SELECT vec_id, q,
         list_sum(list_transform(q, x -> x * x)) AS qn2
  FROM quant
), pairs AS (
  SELECT p.vec_id AS probe_id, c.vec_id AS cand_id,
         round(
           CAST(list_sum(list_transform(list_zip(p.q, c.q),
                                        z -> z[1] * z[2])) AS DOUBLE)
           / (sqrt(CAST(p.qn2 AS DOUBLE)) * sqrt(CAST(c.qn2 AS DOUBLE))), 6)
           AS qcos_sim
  FROM normed p JOIN normed c ON c.vec_id <> p.vec_id
  WHERE p.vec_id < {N_PROBES} AND c.qn2 > 0 AND p.qn2 > 0
)
SELECT probe_id, cand_id, qcos_sim,
       CAST(rnk AS INTEGER) AS rnk
FROM (
  SELECT *, row_number() OVER (
           PARTITION BY probe_id ORDER BY qcos_sim DESC, cand_id) AS rnk
  FROM pairs
)
WHERE rnk <= {TOP_K}
"""


@register("quantized_cosine_topk", oracle=_QCOS_SQL, category="similarity")
def quantized_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k search over the int8-QUANTIZED vectors — the compressed-scan
    path that pairs with ``embedding_int8_quantize``: per-vector scales
    cancel in cosine, so scoring is a pure int8×int8 dot product (the
    int-SIMD kernel at deployment; 4× less scan bandwidth than float32).
    Same plan shape as ``cosine_topk``: probes broadcast, candidates one
    linear pass, only the small score table shuffles for ranking. Recall
    against the exact top-k is property-tested in tests/test_similarity.py."""
    # CollapseProject hazard, measured: referencing a derived scalar column
    # (scale6) inside a later transform lambda lets Catalyst inline it into
    # the per-ELEMENT body — array_max(transform(xi)) recomputed d times per
    # row, O(d²), and the pushed-down scale6>0 / qn2>0 guards expand the
    # same way inside the scan filter (6× wall at sf0.1). Three fixes below:
    # (1) the zero-vector guard is F.exists (one short-circuiting pass,
    # equivalent to scale6 > 0; qn2 > 0 is implied — the max component maps
    # to ±127); (2) a fan_out barrier after the scale6 projection pins it
    # to once-per-row; (3) the candidate side gets its own barrier so the
    # nested-loop join sees finished q vectors, per-pair work = the dot
    # product alone. The broadcast exchange materializes the probe side.
    xi = _int_micro("embedding")
    staged = fan_out(
        read_table(spark, sf_dir, "embeddings")
        .select("vec_id", xi.alias("xi"))
        .filter(F.exists("xi", lambda v: v != 0))
        .withColumn("scale6", F.array_max(F.transform("xi", F.abs))),
        "vec_id",
    )
    q = F.transform(
        "xi", lambda v: F.round(v * 127.0 / F.col("scale6")).cast("long")
    )
    qdf = staged.select("vec_id", q.alias("q")).withColumn(
        "qn2",
        _int_norm2_raw("q"),
    )
    probes = F.broadcast(
        qdf.filter(F.col("vec_id") < N_PROBES).select(
            F.col("vec_id").alias("probe_id"),
            F.col("q").alias("p_q"),
            F.col("qn2").alias("p_qn2"),
        )
    )
    cands = fan_out(qdf, "vec_id").select(
        F.col("vec_id").alias("cand_id"),
        F.col("q").alias("c_q"),
        F.col("qn2").alias("c_qn2"),
    )
    qdot = _int_dot_raw("p_q", "c_q")
    pairs = probes.join(cands, F.col("cand_id") != F.col("probe_id")).select(
        "probe_id",
        "cand_id",
        cosine(qdot, F.col("p_qn2"), F.col("c_qn2")).alias("qcos_sim"),
    )
    w = W.partitionBy("probe_id").orderBy(F.desc("qcos_sim"), F.asc("cand_id"))
    return (
        pairs.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOP_K)
        .select("probe_id", "cand_id", "qcos_sim", "rnk")
    )


# ---------------------------------------------------------------------------
# 4. Random projection (Johnson-Lindenstrauss sign matrix, exact oracle)
# ---------------------------------------------------------------------------

RP_IN_DIM = 64
# k=32 halves the vectors while keeping JL noise (~1/√k ≈ 0.18) below the
# corpus's own cosine spread (~1/√64 ≈ 0.125 — the synthetic embeddings are
# near-orthogonal), so projected cosines still rank-correlate usefully with
# the exact ones; k=16's 0.25 noise floor swamps that spread.
RP_OUT_DIM = 32
RP_SEED = 8191


def rp_sign_matrix() -> list[list[int]]:
    """RP_OUT_DIM × RP_IN_DIM ±1 sign matrix (Achlioptas's database-friendly
    JL projection), drawn once from a fixed-seed PRNG and embedded as
    LITERALS in both the Spark plan and the DuckDB oracle — no per-row
    hashing, and nothing engine-specific to diverge on."""
    import random

    rng = random.Random(RP_SEED)
    return [
        [rng.choice((-1, 1)) for _ in range(RP_IN_DIM)]
        for _ in range(RP_OUT_DIM)
    ]


def _rp_oracle_sql() -> str:
    cols = []
    for row in rp_sign_matrix():
        signs = "[" + ", ".join(str(s) for s in row) + "]"
        cols.append(
            "CAST(list_sum(list_transform(list_zip(iv, "
            f"{signs}), z -> z[1] * z[2])) AS BIGINT)"
        )
    exprs = ",\n         ".join(cols)
    return f"""
WITH scaled AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(round(x::DOUBLE * {_SCALE}) AS BIGINT))
           AS iv
  FROM embeddings
)
SELECT vec_id,
       array_to_string([{exprs}], ',') AS proj_micro
FROM scaled
"""


def _rp_project_mapper(serialize: bool):
    """mapInPandas closure for the JL projection. The matmul is int64 on
    int64-scaled components, so the projection is EXACT in micro-units
    (1e-6); ``serialize=True`` emits the int64s comma-joined (the
    driver-canon form — its pandas sort cannot hash list cells, and
    integer→string formatting is engine-identical), ``False`` emits the
    array<double> library form (micro/1e6, ≤6 decimal digits, tie-free)."""
    import numpy as np
    import pandas as pd

    from big_data_medical_analysis_spark.operators.udf_surface import (
        round_half_away_int,
    )

    signs_t = np.array(rp_sign_matrix(), dtype=np.int64).T  # IN_DIM × OUT_DIM

    def _project(batches):
        for pdf in batches:
            mat = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf["embedding"]]
            )
            iv = round_half_away_int(mat * float(_SCALE))
            proj_i = iv @ signs_t  # int64 micro-units, exact
            if serialize:
                yield pd.DataFrame(
                    {
                        "vec_id": pdf["vec_id"],
                        "proj_micro": [
                            ",".join(map(str, row)) for row in proj_i
                        ],
                    }
                )
            else:
                proj = proj_i.astype(np.float64) / float(_SCALE)
                yield pd.DataFrame(
                    {"vec_id": pdf["vec_id"], "proj": list(np.round(proj, 6))}
                )

    return _project


def rp_project_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Library form of the JL projection: ``(vec_id, proj array<double>)``
    — what downstream bucketing/clustering composes with."""
    emb = fan_out(
        read_table(spark, sf_dir, "embeddings").select("vec_id", "embedding"),
        "vec_id",
    )
    return emb.mapInPandas(
        _rp_project_mapper(serialize=False), "vec_id long, proj array<double>"
    )


@register("rp_embedding_project", oracle=_rp_oracle_sql(), category="similarity")
def rp_embedding_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss dimensionality reduction: project each 64-dim
    embedding onto RP_OUT_DIM ±1 random directions — the standard first
    stage of a 100 TB ANN/clustering pipeline (shrink vectors 4×, preserve
    pairwise geometry to within JL distortion, THEN bucket or scan).

    Shape notes: one narrow Arrow-batched ``mapInPandas`` stage, no
    shuffle. Dense matrix multiply is the one embedding op where Catalyst
    HOFs lose to numpy by orders of magnitude (measured ~0.5 ms/row for the
    d·k fold-step expression vs ~0.2 µs/row for a batched int64 matmul), so
    this is the sanctioned Pandas-UDF escape hatch — with the module's
    exactness convention intact: components are int64-scaled, the matmul is
    integer, and every projected value hashes identically to the DuckDB
    oracle. Registered form emits int64 micro-units comma-joined (driver
    canon); ``rp_project_vectors`` is the array-typed library form.
    Distance preservation is property-tested in tests/test_similarity.py.
    """
    emb = fan_out(
        read_table(spark, sf_dir, "embeddings").select("vec_id", "embedding"),
        "vec_id",
    )
    return emb.mapInPandas(
        _rp_project_mapper(serialize=True), "vec_id long, proj_micro string"
    )


# ---------------------------------------------------------------------------
# K-means (Lloyd's iterations) with a full value oracle (round 6)
# ---------------------------------------------------------------------------

KMEANS_K = 4
KMEANS_ITERS = 2
_EMB_DIM = 64


def _lloyd_oracle_ctes() -> str:
    """WITH-clause prefix replaying the full FIXED-k Lloyd trajectory in
    DuckDB (vm → c0 → a1/u1/c1 → … → c{{KMEANS_ITERS}}) for the kmeans
    oracle — byte-identical text since round 6. Every quantity is exact:
    int64-micro components, integer squared distances (order-independent
    sums), argmin tie-broken on cluster id, centroid update as ONE
    round(sum/count) division per dimension — the same single IEEE op
    the Spark side performs. (The SemDeDup/D4 path replays its own
    HIERARCHICAL trajectory via ``_hier_sel_ctes`` since round 14; the
    round-13 derived-k branch this function carried is retired with
    it.)"""
    parts = [
        f"""WITH vm AS (
  SELECT vec_id, list_transform(embedding,
           y -> CAST(round(y::DOUBLE * 1000000) AS BIGINT)) AS v
  FROM embeddings
),
c0 AS (
  SELECT CAST(vec_id AS INTEGER) AS cluster, v AS c
  FROM vm WHERE vec_id < {KMEANS_K}
)"""
    ]
    for it in range(1, KMEANS_ITERS + 1):
        parts.append(
            f""", a{it} AS (
  SELECT vec_id, cluster,
         row_number() OVER (PARTITION BY vec_id ORDER BY d, cluster) AS rnk
  FROM (
    SELECT vm.vec_id, c{it - 1}.cluster,
           list_sum(list_transform(vm.v,
             (x, i) -> (x - c{it - 1}.c[i]) * (x - c{it - 1}.c[i]))) AS d
    FROM vm, c{it - 1}
  )
), u{it} AS (
  SELECT a.cluster, g.i AS dim,
         CAST(round(CAST(sum(vm.v[g.i]) AS DOUBLE)
                    / CAST(count(*) AS DOUBLE)) AS BIGINT) AS cm,
         CAST(count(*) AS BIGINT) AS n
  FROM (SELECT vec_id, cluster FROM a{it} WHERE rnk = 1) a
  JOIN vm USING (vec_id),
  (SELECT unnest(range(1, {_EMB_DIM} + 1)) AS i) g
  GROUP BY 1, 2
), c{it} AS (
  SELECT cluster, list(cm ORDER BY dim) AS c FROM u{it} GROUP BY cluster
)"""
        )
    return "".join(parts)


def _kmeans_oracle() -> str:
    """The kmeans output off the shared trajectory: the final iteration's
    per-(cluster, dim) update rows."""
    return (
        _lloyd_oracle_ctes()
        + f"""
SELECT cluster, CAST(dim - 1 AS INTEGER) AS dim_idx,
       cm AS centroid_micro, n AS n_members
FROM u{KMEANS_ITERS}"""
    )


def _kmeans_vm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The int64-micro-scaled vector table, scaled ONCE and
    localCheckpointed: vm is consumed by the init centroids plus once per
    Lloyd round, and the executed plan otherwise re-reads parquet and
    re-runs the scaling transform for each consumer (the rescan class).
    Lloyd's per-round pass over the vectors is inherent; re-deriving them
    per pass is not. At 100 TB: persist(DISK_ONLY) of the scaled table,
    same trade as the mining baskets."""
    emb = read_table(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id", _int_micro("embedding").alias("v")
    ).transform(checkpoint_pinned)


def lloyd_assign(
    vm: DataFrame,
    centroids: DataFrame,
    keys: tuple[str, ...] = (),
    broadcast: bool = True,
) -> DataFrame:
    """One exact Lloyd assignment pass: every ``vm`` row (vector ``v``)
    gains the ``cluster`` of its nearest ``(*keys, cluster, c)`` centroid
    within its own key and that squared distance ``d``; ties break on
    the cluster id. The codebook is grouped into one sorted cents array
    per key; ``broadcast`` ships it to every task (global and PQ
    codebooks) or, when False, equi-joins it on the keys (the cell-gated
    fine level, whose centroid table grows with the corpus). The argmin
    is ``array_min`` over (d, cluster) structs inside the row's own
    projection, so the assignment is a map: no scored N·k relation and
    no per-vector shuffle."""
    cents = centroids.groupBy(*keys).agg(
        F.array_sort(F.collect_list(F.struct("cluster", "c"))).alias("cents")
    )
    if broadcast:
        cents = F.broadcast(cents)
    joined = vm.join(cents, list(keys)) if keys else vm.crossJoin(cents)
    m = F.array_min(
        F.transform(
            "cents",
            lambda e: F.struct(
                _int_sqdist_raw("v", e["c"]).alias("d"),
                e["cluster"].alias("cluster"),
            ),
        )
    )
    return joined.withColumn("m", m).select(
        *vm.columns, F.col("m.cluster").alias("cluster"), F.col("m.d").alias("d")
    )


def lloyd_train(
    vm: DataFrame,
    centroids: DataFrame,
    keys: tuple[str, ...] = (),
    broadcast: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """{KMEANS_ITERS} exact Lloyd rounds from the given initial
    ``(*keys, cluster int, c)`` centroids; ``vm`` carries ``(*keys, v)``.
    Keys are data, not code paths: ``()`` trains one global codebook
    (kmeans, the SemDeDup coarse cells), ``("s",)`` one codebook per PQ
    subspace, ``("cell",)`` the hierarchical fine level. Returns
    ``(centroids, update)``: the final centroids and the final round's
    per-(*keys, cluster, dim) rows ``(cm, n)``, dim 1-based.

    Cost model per round: one ``lloyd_assign`` map (the codebook
    broadcast, or equi-joined on the cell key), whose member rows carry
    their vector into the update, so nothing joins back to ``vm``; then
    ONE map-side-combinable (*keys, cluster, dim) mean aggregate, one
    round(sum/count) per component, regrouped into centroid arrays. The
    explode is posexplode_outer + an output null-filter: plain posexplode
    makes Catalyst infer size(v) > 0 and push it down to the scan with
    the scaling transform substituted, re-scaling every vector per
    round."""
    update = None
    for _ in range(KMEANS_ITERS):
        members = lloyd_assign(vm, centroids, keys, broadcast)
        exploded = members.select(
            *keys, "cluster", F.posexplode_outer("v").alias("pos", "val")
        ).filter(F.col("pos").isNotNull())
        update = exploded.groupBy(
            *keys, "cluster", (F.col("pos") + 1).alias("dim")
        ).agg(
            F.round(
                F.sum("val").cast("double") / F.count(F.lit(1)).cast("double")
            )
            .cast("long")
            .alias("cm"),
            F.count(F.lit(1)).cast("long").alias("n"),
        )
        centroids = update.groupBy(*keys, "cluster").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "cm"))),
                lambda s: s.cm,
            ).alias("c")
        )
    assert update is not None
    return centroids, update


@register("kmeans_lloyd_centroids", oracle=_kmeans_oracle(), category="similarity")
def kmeans_lloyd_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed k-means ({KMEANS_ITERS} Lloyd iterations, k={KMEANS_K},
    deterministic first-k init) with a FULL value oracle — the iterative
    clustering workhorse behind IVF index builds (ivf_topk consumes
    exactly these centroids) and corpus topic bucketing. Exact by the
    module's Lloyd recipe, so DuckDB replays the whole trajectory
    bit-for-bit, the same recipe as fedavg_rounds. Output: the
    per-dimension final centroids with member counts. (A cluster emptied
    by reassignment simply drops out on both engines — k-means|| style
    re-seeding is an init policy, not an operator property.)

    Scale: ``lloyd_train`` with no keys — per round a broadcast of k·dim
    centroid ints against the vector table (a map-side argmin, no
    shuffle of vectors) and one map-side-combinable (cluster, dim)
    aggregate. Iteration count multiplies passes over the data, not
    shuffle width; at 100 TB you run assignment on a sample for the
    first iterations and full-pass only the last (standard practice),
    which changes this plan's input, not its shape.
    """
    vm = _kmeans_vm(spark, sf_dir)
    init = vm.filter(F.col("vec_id") < KMEANS_K).select(
        F.col("vec_id").cast("integer").alias("cluster"), F.col("v").alias("c")
    )
    _, update = lloyd_train(vm, init)
    return update.select(
        "cluster",
        (F.col("dim") - 1).cast("integer").alias("dim_idx"),
        F.col("cm").alias("centroid_micro"),
        F.col("n").alias("n_members"),
    )


# ---------------------------------------------------------------------------
# SemDeDup: semantic dedup via cluster-then-prune (round 12)
# ---------------------------------------------------------------------------

# The synthetic embeddings are near-random (within-label cosine q99 ≈ 0.30,
# see NEAR_DUP_COS); within-KMEANS-cluster similarity is only mildly
# elevated, so the published 0.9+ "semantic duplicate" band would prune
# nothing here. 0.25 exercises a real selective threshold; production tunes
# this per-corpus exactly as the paper does.
SEMDEDUP_TAU = 0.25

# The SemDeDup/D4 cluster count is DERIVED from the corpus's exact row
# count — k = max(KMEANS_K, ceil(N / width)) — so the within-cluster cosine
# screen's Σ|cluster|² term stays width-bounded (≈ N·width, linear) as the
# corpus grows. The assignment is two-level (the IVF pattern): a derived
# kc = ceil(sqrt(k)) coarse codebook routes every vector to ONE cell
# (O(N·kc) flops against a broadcast-sized table), then each cell trains
# its own kf = ceil(|cell|/width) fine clusters and vectors score ONLY
# against their cell's centroids via a cell-keyed equi-join — never a
# corpus-proportional broadcast. Balanced-cell flops: coarse N·kc + fine
# Σ|cell|²/width ≈ 2·N·sqrt(N/width) = O(N·sqrt(k)), against flat Lloyd's
# O(N·k) = O(N²/width). Both levels are ``lloyd_train``; every derived
# count (k, kc, kf) is 1-row/K-row integer algebra off exact counts (sqrt
# is IEEE-754 CORRECTLY ROUNDED — unlike log — and integer-corrected
# anyway), so DuckDB replays the whole two-level trajectory bit-for-bit.
SEMDEDUP_TARGET_WIDTH = 128
# Global cluster id = cell * SHIFT + fine: fine counts are bounded by
# ceil(|cell|/width) << 2^20 at any plausible cell size, and the id stays
# a plain BIGINT both engines compute with one multiply-add.
SEMDEDUP_CELL_SHIFT = 1 << 20


def _hier_kc_df(vm: DataFrame) -> DataFrame:
    """1-row (kc long) derived COARSE-cell-count frame: k = max(KMEANS_K,
    ceil(N/width)) then kc = ceil(sqrt(k)), pure 1-row algebra off a
    count aggregate, broadcast back — never a driver read. Must stay
    expression-identical to the oracle's kk/cc CTEs. sqrt on a BIGINT
    cast to DOUBLE is IEEE-754 correctly rounded (hardware instruction,
    unlike libm log), and the two CASE steps integer-correct any ±1
    drift regardless, so the derived kc is engine-portable by
    construction."""
    return (
        vm.agg(F.count(F.lit(1)).cast("long").alias("n"))
        .selectExpr(
            f"greatest(CAST({KMEANS_K} AS BIGINT), "
            f"(n + {SEMDEDUP_TARGET_WIDTH - 1}) DIV {SEMDEDUP_TARGET_WIDTH}) AS k"
        )
        .selectExpr("k", "CAST(floor(sqrt(CAST(k AS DOUBLE))) AS BIGINT) AS s0")
        .selectExpr("k", "CASE WHEN s0 * s0 > k THEN s0 - 1 ELSE s0 END AS s")
        .selectExpr("CASE WHEN s * s < k THEN s + 1 ELSE s END AS kc")
    )


def _hier_coarse_centroids(vm: DataFrame) -> DataFrame:
    """COARSE level of the two-level trajectory: ``lloyd_train`` with no
    keys over kc = ceil(sqrt(k)) cells from the deterministic first-kc
    init (the init filter joins the broadcast 1-row kc frame). Returns
    (cluster int, c); callers rename cluster -> cell. The coarse table
    is kc·dim ints — broadcast-sized at any corpus (kc ∝ sqrt(N/width):
    ~28k cells x 64 dims ≈ 14 MB at 1e11 docs)."""
    init = (
        vm.crossJoin(F.broadcast(_hier_kc_df(vm)))
        .filter(F.col("vec_id") < F.col("kc"))
        .select(
            F.col("vec_id").cast("integer").alias("cluster"),
            F.col("v").alias("c"),
        )
    )
    return lloyd_train(vm, init)[0]


def _hier_fine_centroids(vr: DataFrame) -> DataFrame:
    """FINE level over the routed ``(vec_id, cell, v)`` table: per cell,
    kf = max(1, ceil(|cell|/width)) clusters from the deterministic
    first-kf-by-vec_id init (row_number within cell joined against the
    broadcast kc-row kf frame), then ``lloyd_train`` keyed on the cell
    and equi-joined, never broadcast. Returns (cell, cluster int, c).
    Every non-empty cell keeps >= 1 fine centroid at every round (its
    members are assigned among its own centroids), so no vector is ever
    orphaned. A hot cell skews the join's shuffle partitions; AQE's
    skew-join split handles that at runtime (the same answer as every
    banded self-join in the dedup family)."""
    kf = (
        vr.groupBy("cell")
        .agg(F.count(F.lit(1)).cast("long").alias("nc"))
        .selectExpr(
            "cell",
            f"greatest(CAST(1 AS BIGINT), (nc + {SEMDEDUP_TARGET_WIDTH - 1})"
            f" DIV {SEMDEDUP_TARGET_WIDTH}) AS kf",
        )
    )
    wn = W.partitionBy("cell").orderBy("vec_id")
    init = (
        vr.withColumn("rn", F.row_number().over(wn))
        .join(F.broadcast(kf), "cell")
        .filter(F.col("rn") <= F.col("kf"))
        .select(
            "cell",
            (F.col("rn") - 1).cast("integer").alias("cluster"),
            F.col("v").alias("c"),
        )
    )
    return lloyd_train(vr, init, ("cell",), broadcast=False)[0]


def _hier_assign(vm: DataFrame) -> DataFrame:
    """The full two-level assignment consumed by the SemDeDup screen:
    train the coarse codebook, route every vector to its cell (one
    broadcast argmin pass whose rows carry their vector, so nothing
    joins back to vm), pin the routed (vec_id, cell, v) table —
    it feeds the kf counts, the fine init, two fine Lloyd rounds and the
    final assignment (6 consumers; at 100 TB this is persist(DISK_ONLY),
    the ``_kmeans_vm`` trade) — then train the fine centroids and emit
    the final cell-gated argmin as (vec_id, cluster long, d) with the
    global id cell * {SEMDEDUP_CELL_SHIFT} + fine."""
    route = lloyd_assign(vm, _hier_coarse_centroids(vm))
    vr = checkpoint_pinned(
        route.select("vec_id", F.col("cluster").alias("cell"), "v")
    )
    fa = lloyd_assign(vr, _hier_fine_centroids(vr), ("cell",), broadcast=False)
    # In-plan id-collision guard: the global id packs (cell, fine) as
    # cell * SHIFT + fine, sound only while fine < SEMDEDUP_CELL_SHIFT —
    # i.e. a single routed cell stays under 2^20 * width ≈ 134M vectors.
    # Implausible but possible at 100 TB with a degenerate embedding
    # space; an overflowing fine id would SILENTLY merge clusters across
    # adjacent cells, corrupting the width-bounded screen. Per-row
    # assert_true folded into the id expression (coalesce of its NULL
    # keeps the value bit-identical and unprunable) — strictly cheaper
    # than a max(fine) aggregate: no extra pass, no barrier.
    guard = F.assert_true(
        F.col("cluster") < F.lit(SEMDEDUP_CELL_SHIFT),
        F.lit(
            "hierarchical fine id reached SEMDEDUP_CELL_SHIFT (2^20): a"
            " hot cell exceeded ~134M routed vectors and packed cluster"
            " ids would collide across cells — re-shard the coarse level"
        ),
    )
    return fa.select(
        "vec_id",
        (
            F.col("cell").cast("long") * SEMDEDUP_CELL_SHIFT
            + F.col("cluster")
            + F.coalesce(guard.cast("long"), F.lit(0).cast("long"))
        ).alias("cluster"),
        "d",
    )


def _hier_sel_ctes() -> str:
    """WITH-clause prefix replaying the FULL two-level (hierarchical)
    trajectory in DuckDB, ending at ``sel(vec_id, cluster, d)`` — the
    final assignment the SemDeDup screen and the D4 prototype stage
    consume. Chain: vm -> kk/cc (derived k and kc = ceil(sqrt(k)),
    integer-corrected IEEE sqrt) -> g0..g{KMEANS_ITERS} (coarse Lloyd)
    -> route (one argmin pass, ties on cell) -> vr (routed vectors) ->
    kf (per-cell derived fine count) -> f0..f{KMEANS_ITERS} (cell-gated
    fine Lloyd: vectors join ONLY their own cell's centroids) -> sel
    (global id cell * SHIFT + fine). Every quantity is exact: int64
    components, integer squared distances, argmin ties on id, one
    round(sum/count) per dim — the identical IEEE op sequence the Spark
    side performs, so the trajectory replays bit-for-bit."""
    w = SEMDEDUP_TARGET_WIDTH
    parts = [
        f"""WITH vm AS (
  SELECT vec_id, list_transform(embedding,
           y -> CAST(round(y::DOUBLE * 1000000) AS BIGINT)) AS v
  FROM embeddings
),
kk AS (
  SELECT greatest({KMEANS_K}, (CAST(count(*) AS BIGINT)
           + {w - 1}) // {w}) AS k
  FROM vm
),
cc AS (
  SELECT CASE WHEN s * s < k THEN s + 1 ELSE s END AS kc
  FROM (
    SELECT k, CASE WHEN s0 * s0 > k THEN s0 - 1 ELSE s0 END AS s
    FROM (SELECT k, CAST(floor(sqrt(CAST(k AS DOUBLE))) AS BIGINT) AS s0
          FROM kk)
  )
),
g0 AS (
  SELECT CAST(vec_id AS INTEGER) AS cell, v AS c
  FROM vm, cc WHERE vec_id < cc.kc
)"""
    ]
    for it in range(1, KMEANS_ITERS + 1):
        parts.append(
            f""", ga{it} AS (
  SELECT vec_id, cell,
         row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rnk
  FROM (
    SELECT vm.vec_id, g{it - 1}.cell,
           list_sum(list_transform(vm.v,
             (x, i) -> (x - g{it - 1}.c[i]) * (x - g{it - 1}.c[i]))) AS d
    FROM vm, g{it - 1}
  )
), gu{it} AS (
  SELECT a.cell, g.i AS dim,
         CAST(round(CAST(sum(vm.v[g.i]) AS DOUBLE)
                    / CAST(count(*) AS DOUBLE)) AS BIGINT) AS cm
  FROM (SELECT vec_id, cell FROM ga{it} WHERE rnk = 1) a
  JOIN vm USING (vec_id),
  (SELECT unnest(range(1, {_EMB_DIM} + 1)) AS i) g
  GROUP BY 1, 2
), g{it} AS (
  SELECT cell, list(cm ORDER BY dim) AS c FROM gu{it} GROUP BY cell
)"""
        )
    gi = f"g{KMEANS_ITERS}"
    parts.append(
        f""", route AS (
  SELECT vec_id, cell FROM (
    SELECT vec_id, cell,
           row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rnk
    FROM (
      SELECT vm.vec_id, {gi}.cell,
             list_sum(list_transform(vm.v,
               (x, i) -> (x - {gi}.c[i]) * (x - {gi}.c[i]))) AS d
      FROM vm, {gi}
    )
  ) WHERE rnk = 1
), vr AS (
  SELECT vm.vec_id, route.cell, vm.v FROM vm JOIN route USING (vec_id)
), kf AS (
  SELECT cell, greatest(CAST(1 AS BIGINT),
           (CAST(count(*) AS BIGINT) + {w - 1}) // {w}) AS kf
  FROM vr GROUP BY cell
), f0 AS (
  SELECT r.cell, CAST(r.rn - 1 AS INTEGER) AS fine, r.v AS c
  FROM (
    SELECT cell, vec_id, v,
           row_number() OVER (PARTITION BY cell ORDER BY vec_id) AS rn
    FROM vr
  ) r JOIN kf ON kf.cell = r.cell
  WHERE r.rn <= kf.kf
)"""
    )
    for it in range(1, KMEANS_ITERS + 1):
        parts.append(
            f""", fa{it} AS (
  SELECT vec_id, cell, fine,
         row_number() OVER (PARTITION BY vec_id ORDER BY d, fine) AS rnk
  FROM (
    SELECT vr.vec_id, vr.cell, f{it - 1}.fine,
           list_sum(list_transform(vr.v,
             (x, i) -> (x - f{it - 1}.c[i]) * (x - f{it - 1}.c[i]))) AS d
    FROM vr JOIN f{it - 1} ON f{it - 1}.cell = vr.cell
  )
), fu{it} AS (
  SELECT a.cell, a.fine, g.i AS dim,
         CAST(round(CAST(sum(vr.v[g.i]) AS DOUBLE)
                    / CAST(count(*) AS DOUBLE)) AS BIGINT) AS cm
  FROM (SELECT vec_id, cell, fine FROM fa{it} WHERE rnk = 1) a
  JOIN vr ON vr.vec_id = a.vec_id,
  (SELECT unnest(range(1, {_EMB_DIM} + 1)) AS i) g
  GROUP BY 1, 2, 3
), f{it} AS (
  SELECT cell, fine, list(cm ORDER BY dim) AS c
  FROM fu{it} GROUP BY cell, fine
)"""
        )
    fi = f"f{KMEANS_ITERS}"
    parts.append(
        f""", sel AS (
  SELECT vec_id, CAST(cell AS BIGINT) * {SEMDEDUP_CELL_SHIFT} + fine
           AS cluster, d
  FROM (
    SELECT vec_id, cell, fine, d,
           row_number() OVER (PARTITION BY vec_id ORDER BY d, fine) AS rnk
    FROM (
      SELECT vr.vec_id, vr.cell, {fi}.fine,
             list_sum(list_transform(vr.v,
               (x, i) -> (x - {fi}.c[i]) * (x - {fi}.c[i]))) AS d
      FROM vr JOIN {fi} ON {fi}.cell = vr.cell
    )
  ) WHERE rnk = 1
)"""
    )
    return "".join(parts)


def _semdedup_screen_ctes() -> str:
    """The shared SemDeDup screen as oracle CTEs: replay the TWO-LEVEL
    trajectory to the final assignment (``_hier_sel_ctes``'s `sel`),
    rank within cluster by distance-to-centroid DESC (`ranked`), and
    mark any vector whose cosine with a better-ranked cluster-mate
    reaches SEMDEDUP_TAU (`pruned`). Consumed by `_semdedup_oracle`
    (prune stats) and `_d4_oracle` (the prototypicality stage on
    survivors). Round 14: the trajectory is hierarchical (coarse cells
    -> cell-gated fine Lloyd), so both cluster width (fine
    kf = ceil(|cell|/width)) AND assignment flops (O(N·sqrt(k))) stay
    bounded as the corpus grows."""
    return (
        _hier_sel_ctes()
        + f""", normed AS (
  SELECT vec_id, v, list_sum(list_transform(v, x -> x * x)) AS n2 FROM vm
), ranked AS (
  SELECT vec_id, cluster,
         row_number() OVER (PARTITION BY cluster ORDER BY d DESC, vec_id) AS r
  FROM sel
), pruned AS (
  SELECT DISTINCT b.cluster, b.vec_id
  FROM ranked a
  JOIN ranked b ON a.cluster = b.cluster AND a.r < b.r
  JOIN normed na ON na.vec_id = a.vec_id
  JOIN normed nb ON nb.vec_id = b.vec_id
  WHERE round(
          CAST(list_sum(list_transform(list_zip(na.v, nb.v),
                                       z -> z[1] * z[2])) AS DOUBLE)
          / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))), 6)
        >= {SEMDEDUP_TAU}
)"""
    )


def _semdedup_oracle() -> str:
    """The semdedup_prune_stats output off the shared screen: per-cluster
    member / pruned / kept counts and the prune rate."""
    return (
        _semdedup_screen_ctes()
        + """, pc AS (
  SELECT cluster, CAST(count(*) AS BIGINT) AS n_members FROM sel GROUP BY cluster
), pp AS (
  SELECT cluster, CAST(count(*) AS BIGINT) AS n_pruned FROM pruned GROUP BY cluster
)
SELECT pc.cluster, pc.n_members,
       CAST(coalesce(pp.n_pruned, 0) AS BIGINT) AS n_pruned,
       CAST(pc.n_members - coalesce(pp.n_pruned, 0) AS BIGINT) AS n_kept,
       round(CAST(coalesce(pp.n_pruned, 0) AS DOUBLE) / pc.n_members, 6)
         AS prune_rate
FROM pc LEFT JOIN pp ON pc.cluster = pp.cluster"""
    )


@register("semdedup_prune_stats", oracle=_semdedup_oracle(), category="similarity")
def semdedup_prune_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication by clustering THEN pruning — k-means partitions the
    corpus so the quadratic cosine screen runs only within a cluster, and
    within each cluster every vector whose cosine with a better-ranked
    cluster-mate reaches {SEMDEDUP_TAU} is pruned. Rank = distance to the
    cluster centroid DESCENDING (ties on vec_id): the paper's
    keep-the-low-centroid-similarity policy, which retains the most
    atypical representative of each duplicate neighborhood. This is the
    missing middle tier between ``embedding_near_dup_pairs`` (blocks GIVEN
    by a label column) and ``dedup_components`` (graph components over
    banded candidates): here the engine derives the blocking itself from
    the SAME deterministic Lloyd trajectory as ``kmeans_lloyd_centroids``
    — trajectory, final assignment, ranking, pairwise screen, and prune
    counts all replay bit-for-bit in DuckDB (int64-micro vectors, integer
    squared distances, one rounded division per cosine).

    Output: per cluster — member count, pruned count, kept count, prune
    rate (the corpus-curation dashboard row SemDeDup deployments report).

    Scale (round 14, VERDICT r13 task 1 — hierarchical assignment):
    clustering is now the TWO-LEVEL (IVF-pattern) trajectory. A derived
    kc = ceil(sqrt(k)) coarse codebook (k = max(4,
    ceil(N/{SEMDEDUP_TARGET_WIDTH})) off the corpus's exact count, both
    counts computed identically on both engines) Lloyd-trains first and
    routes every vector to ONE cell — O(N·kc) flops against a
    broadcast-SIZED table (kc ∝ sqrt(N/width): ~14 MB at 1e11 docs, vs
    the flat form's corpus-proportional k-centroid broadcast). Each cell
    then trains kf = max(1, ceil(|cell|/width)) fine clusters and
    vectors score ONLY against their own cell's centroids via a
    cell-keyed equi-join (shuffle join, AQE-skew-safe) — killing the
    flat-Lloyd O(N·k) = O(N²/width) assignment flop term: balanced-cell
    total is coarse N·kc + fine Σ|cell|²/width ≈ O(N·sqrt(k)). All
    argmins stay map-side-combinable (the shuffle carries ~N slim rows),
    the within-cluster cosine screen stays width-bounded at
    ≈ N·{SEMDEDUP_TARGET_WIDTH} (fine clusters are width-bounded by
    construction), and the better-ranked screen side broadcasts per
    cluster block exactly like ``embedding_near_dup_pairs``'s blocked
    join. Measured in the scale probe's selection tier at 10/30/100x.
    """
    vm = _kmeans_vm(spark, sf_dir)
    assign, pruned = _semdedup_screen(vm)
    pc = assign.groupBy("cluster").agg(F.count(F.lit(1)).alias("n_members"))
    pp = pruned.groupBy("cluster").agg(F.count(F.lit(1)).alias("n_pruned"))
    return pc.join(pp, "cluster", "left").select(
        "cluster",
        "n_members",
        F.coalesce(F.col("n_pruned"), F.lit(0)).cast("long").alias("n_pruned"),
        (F.col("n_members") - F.coalesce(F.col("n_pruned"), F.lit(0)))
        .cast("long")
        .alias("n_kept"),
        F.round(
            F.coalesce(F.col("n_pruned"), F.lit(0)).cast("double")
            / F.col("n_members"),
            6,
        ).alias("prune_rate"),
    )


def _semdedup_screen(
    vm: DataFrame, pin: bool = False
) -> tuple[DataFrame, DataFrame]:
    """The shared SemDeDup screen off the Lloyd trajectory: returns
    (assign, pruned) — every vector's final (vec_id, cluster, d)
    assignment, and the distinct (cluster, vec_id) set pruned by the
    within-cluster cosine screen. Factored out of
    ``semdedup_prune_stats`` (byte-identical expressions) so
    ``d4_prototype_prune`` composes its prototypicality stage on the
    exact same screen; the SQL twin is `_semdedup_screen_ctes`.

    Round 14 (VERDICT r13 task 1): the trajectory is the HIERARCHICAL
    ``_hier_assign`` — derived kc = ceil(sqrt(k)) coarse cells route
    every vector, fine clusters (kf = ceil(|cell|/width)) train and
    score cell-gated — killing the flat-Lloyd O(N·k) assignment flops
    and the corpus-proportional centroid broadcast. Cluster ids become
    cell * SEMDEDUP_CELL_SHIFT + fine; the screen algebra below is
    byte-identical to r13.

    The assignment is ALWAYS pinned: every caller consumes it at least
    twice (the screen's ranked side + the per-cluster counts), and
    re-deriving it now means re-running the whole cell-gated fine
    trajectory — shuffle-heavy, not the broadcast-cheap chain the flat
    era's "second consumer is a k-row count" trade assumed (the regen'd
    PLANS row read 51 shuffles unpinned vs ~20 pinned). ``pin=True``
    additionally localCheckpoints ``pruned``: D4 consumes it twice
    (survivor anti-join + per-cluster counts); semdedup consumes it
    once, so its pruned stays lazy."""
    assign = checkpoint_pinned(_hier_assign(vm))
    wr = W.partitionBy("cluster").orderBy(F.desc("d"), F.asc("vec_id"))
    ranked = assign.withColumn("r", F.row_number().over(wr)).select(
        "vec_id", "cluster", "r"
    )
    n2 = _int_norm2_raw("v")
    normed = vm.select("vec_id", "v", n2.alias("n2"))
    with_vec = ranked.join(normed, "vec_id")
    # fan_out side a: at oracle scale the derived k is small (4), so a keyed
    # shuffle join would cap pair generation at k tasks; broadcasting side b
    # keeps side a at full parallelism. At 100 TB the broadcast side is one
    # width-bounded cluster block (≤ SEMDEDUP_TARGET_WIDTH rows per key),
    # still broadcast-sized — the embedding_near_dup_pairs argument.
    a = fan_out(with_vec, "vec_id").select(
        "cluster",
        F.col("r").alias("r_a"),
        F.col("v").alias("v_a"),
        F.col("n2").alias("n2_a"),
    )
    b = with_vec.select(
        F.col("cluster").alias("cluster_b"),
        F.col("vec_id").alias("vec_b"),
        F.col("r").alias("r_b"),
        F.col("v").alias("v_b"),
        F.col("n2").alias("n2_b"),
    )
    dot = _int_dot_raw("v_a", "v_b")
    pruned = (
        a.join(
            F.broadcast(b),
            (F.col("cluster") == F.col("cluster_b")) & (F.col("r_a") < F.col("r_b")),
        )
        .select(
            "cluster",
            "vec_b",
            cosine(dot, F.col("n2_a"), F.col("n2_b")).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= SEMDEDUP_TAU)
        .select("cluster", F.col("vec_b").alias("vec_id"))
        .distinct()
    )
    if pin:
        pruned = checkpoint_pinned(pruned)
    return assign, pruned


D4_PROTO_PCT = 25  # prune the most-prototypical quarter of each cluster's
# SemDeDup survivors (the paper's data-rich keep-hard-examples regime)


def _d4_oracle() -> str:
    """Replay the shared screen, then the prototypicality stage: rank the
    survivors of each cluster by distance-to-centroid ASCENDING (closest
    = most prototypical) and prune the first floor(n·pct/100) — exact
    integer arithmetic end to end."""
    return (
        _semdedup_screen_ctes()
        + f""", surv AS (
  SELECT s.vec_id, s.cluster, s.d
  FROM sel s
  LEFT JOIN pruned p ON p.cluster = s.cluster AND p.vec_id = s.vec_id
  WHERE p.vec_id IS NULL
), pr AS (
  SELECT cluster,
         row_number() OVER (PARTITION BY cluster ORDER BY d, vec_id) AS r,
         CAST(count(*) OVER (PARTITION BY cluster) AS BIGINT) AS n_surv
  FROM surv
), ppr AS (
  SELECT cluster, CAST(count(*) AS BIGINT) AS n_proto
  FROM pr WHERE r <= (n_surv * {D4_PROTO_PCT}) // 100 GROUP BY cluster
), pc AS (
  SELECT cluster, CAST(count(*) AS BIGINT) AS n_members FROM sel GROUP BY cluster
), pp AS (
  SELECT cluster, CAST(count(*) AS BIGINT) AS n_sem FROM pruned GROUP BY cluster
)
SELECT pc.cluster, pc.n_members,
       CAST(coalesce(pp.n_sem, 0) AS BIGINT) AS n_semdedup_pruned,
       CAST(coalesce(ppr.n_proto, 0) AS BIGINT) AS n_proto_pruned,
       CAST(pc.n_members - coalesce(pp.n_sem, 0) - coalesce(ppr.n_proto, 0)
            AS BIGINT) AS n_kept,
       round(CAST(pc.n_members - coalesce(pp.n_sem, 0)
                  - coalesce(ppr.n_proto, 0) AS DOUBLE) / pc.n_members, 6)
         AS keep_rate
FROM pc
LEFT JOIN pp ON pp.cluster = pc.cluster
LEFT JOIN ppr ON ppr.cluster = pc.cluster"""
    )


@register("d4_prototype_prune", oracle=_d4_oracle(), category="similarity")
def d4_prototype_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D4 (Tirumala et al. 2023, arXiv:2308.12284): the published
    two-stage embedding-space curation pipeline — SemDeDup prunes
    semantic duplicates, then SSL-prototypes (Sorscher et al. 2022,
    arXiv:2206.14486) prunes the most PROTOTYPICAL {pct}% of each
    cluster's survivors (closest to centroid = least informative in the
    data-rich regime), keeping the hard examples. Composes the shared
    machinery end to end: the `_kmeans_vm` vectors, the
    `kmeans_lloyd_centroids` trajectory, and the `_semdedup_screen`
    cosine stage, plus a rank-quantile cut — every step replays
    bit-for-bit in DuckDB (integer distances, one rounded division per
    cosine, floor(n·pct/100) integer cut).

    Output: per cluster — member count, SemDeDup-pruned count,
    prototype-pruned count, kept count, keep rate (the two-stage
    curation dashboard row the paper reports per bucket).

    Scale: everything up to the screen is the semdedup plan — round 14:
    the HIERARCHICAL trajectory (derived ceil(sqrt(k)) coarse cells,
    cell-gated fine Lloyd; see ``semdedup_prune_stats``'s scale
    paragraph for the full O(N·sqrt(k)) cost model). The
    prototypicality stage adds one window
    partitioned BY CLUSTER
    over the survivor rows (rank + partition count — streaming state,
    never single-partition) and per-cluster count joins of k-row
    aggregates. No new corpus pass: survivors derive from the already
    shuffled assignment.
    """
    return d4_stats(_kmeans_vm(spark, sf_dir))


def d4_stats(vm: DataFrame) -> DataFrame:
    """Core of ``d4_prototype_prune`` over any (vec_id, v) int64-micro
    vector table — factored out so the pytest can plant a cluster whose
    semantic duplicate and whose most-prototypical survivor are known by
    construction."""
    assign, pruned = _semdedup_screen(vm, pin=True)
    surv = assign.join(pruned, ["cluster", "vec_id"], "left_anti")
    wc = W.partitionBy("cluster")
    pr = surv.select(
        "cluster",
        F.row_number()
        .over(wc.orderBy(F.asc("d"), F.asc("vec_id")))
        .alias("r"),
        F.count(F.lit(1)).over(wc).cast("long").alias("n_surv"),
    )
    ppr = (
        pr.filter(
            F.col("r")
            <= F.expr(f"CAST((n_surv * {D4_PROTO_PCT}) DIV 100 AS BIGINT)")
        )
        .groupBy("cluster")
        .agg(F.count(F.lit(1)).cast("long").alias("n_proto"))
    )
    pc = assign.groupBy("cluster").agg(
        F.count(F.lit(1)).cast("long").alias("n_members")
    )
    pp = pruned.groupBy("cluster").agg(
        F.count(F.lit(1)).cast("long").alias("n_sem")
    )
    kept = (
        F.col("n_members")
        - F.coalesce(F.col("n_sem"), F.lit(0))
        - F.coalesce(F.col("n_proto"), F.lit(0))
    )
    # pp/ppr are k-row aggregates but sit behind the localCheckpoint, so
    # Catalyst has no stats to auto-broadcast them — hint explicitly
    return (
        pc.join(F.broadcast(pp), "cluster", "left")
        .join(F.broadcast(ppr), "cluster", "left")
        .select(
            "cluster",
            "n_members",
            F.coalesce(F.col("n_sem"), F.lit(0))
            .cast("long")
            .alias("n_semdedup_pruned"),
            F.coalesce(F.col("n_proto"), F.lit(0))
            .cast("long")
            .alias("n_proto_pruned"),
            kept.cast("long").alias("n_kept"),
            F.round(kept.cast("double") / F.col("n_members"), 6).alias(
                "keep_rate"
            ),
        )
    )


d4_prototype_prune.__doc__ = d4_prototype_prune.__doc__.format(pct=D4_PROTO_PCT)
semdedup_prune_stats.__doc__ = (
    semdedup_prune_stats.__doc__.replace(
        "{SEMDEDUP_TARGET_WIDTH}", str(SEMDEDUP_TARGET_WIDTH)
    ).replace("{SEMDEDUP_TAU}", str(SEMDEDUP_TAU))
)


# ---------------------------------------------------------------------------
# Deterministic contrastive negative sampling — round 7
# ---------------------------------------------------------------------------

N_CONTRASTIVE_NEGS = 3

_CONTRASTIVE_SQL = f"""
WITH n AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM embeddings),
anchors AS (SELECT vec_id, label FROM embeddings WHERE vec_id % 10 = 0),
negs AS (
  SELECT a.vec_id AS anchor_id, k.k,
         CAST((a.vec_id + 1 +
               CAST(concat('0x', substr(md5(CAST(a.vec_id AS VARCHAR)
                    || ':neg:' || CAST(k.k AS VARCHAR)), 1, 8)) AS BIGINT)
               % (n.nn - 1)) % n.nn AS BIGINT) AS neg_id
  FROM anchors a
  CROSS JOIN (SELECT unnest(range(1, {N_CONTRASTIVE_NEGS + 1})) AS k) k
  CROSS JOIN n
)
SELECT negs.anchor_id, CAST(negs.k AS INTEGER) AS k, negs.neg_id,
       a.label AS anchor_label, e.label AS neg_label,
       (a.label = e.label) AS same_label
FROM negs
JOIN embeddings a ON a.vec_id = negs.anchor_id
JOIN embeddings e ON e.vec_id = negs.neg_id
"""


@register("contrastive_negative_pairs", oracle=_CONTRASTIVE_SQL, category="ml_prep")
def contrastive_negative_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic negative sampling for contrastive training: for each
    anchor (every 10th vector) draw {N_CONTRASTIVE_NEGS} negatives by a
    portable-hash jump — neg = (anchor + 1 + md5-hash mod (N−1)) mod N,
    which NEVER lands on the anchor itself (the +1/mod(N−1) range
    excludes offset 0) and is uniform over the other N−1 rows. Unlike
    engine-RNG sampling, a rerun, another engine, or the serving side
    reproduces the identical pair set — the property that makes
    contrastive batches auditable — so the whole table is value-oracled.
    Emits labels and a same-label flag (in-batch false negatives are the
    consumer's filter/weight decision, surfaced not hidden).

    Scale: anchors × K is a row-bounded explode; the two id joins are
    hash joins on the vector key — at 100 TB the negative ids compute
    map-side and only the JOIN fetches vectors; N comes from a 1-row
    broadcast (or a catalog statistic, avoiding even that pass).
    """
    emb = read_table(spark, sf_dir, "embeddings")
    n = emb.agg(F.count(F.lit(1)).alias("nn"))
    anchors = emb.filter(F.col("vec_id") % 10 == 0).select(
        F.col("vec_id").alias("anchor_id"), F.col("label").alias("anchor_label")
    )
    k = spark.range(1, N_CONTRASTIVE_NEGS + 1).select(
        F.col("id").cast("int").alias("k")
    )
    h = md5_int(
        F.concat(
            F.col("anchor_id").cast("string"),
            F.lit(":neg:"),
            F.col("k").cast("string"),
        )
    )
    negs = (
        anchors.crossJoin(F.broadcast(k))
        .crossJoin(F.broadcast(n))
        .select(
            "anchor_id",
            "anchor_label",
            "k",
            F.pmod(
                F.col("anchor_id") + 1 + F.pmod(h, F.col("nn") - 1), F.col("nn")
            ).alias("neg_id"),
        )
    )
    e = emb.select(
        F.col("vec_id").alias("neg_id"), F.col("label").alias("neg_label")
    )
    return negs.join(e, "neg_id").select(
        "anchor_id",
        "k",
        "neg_id",
        "anchor_label",
        "neg_label",
        (F.col("anchor_label") == F.col("neg_label")).alias("same_label"),
    )


# ---------------------------------------------------------------------------
# Incremental ANN: persisted sign-LSH index probed by a new batch (round 9)
# ---------------------------------------------------------------------------

# L tables x B sign bits. Near-random 64-dim corpus => each bit is ~fair,
# so a random pair collides in a given table with p ~= 2^-B = 1/256 while a
# cos=0.5 pair collides with ((1 - acos(.5)/pi))^B ~= (2/3)^8 ~= 4%/table,
# ~20% across 6 tables — a real selectivity gap at the corpus's cosine
# spread. Hyperplanes are a seeded ±1 matrix embedded as LITERALS in both
# engines (the rp_sign_matrix discipline), so bucket ids are bit-identical
# and the query carries a FULL value oracle.
ANN_LSH_TABLES = 6
ANN_LSH_BITS = 8
ANN_LSH_SEED = 524287

# Probe/index split: every 10th vector is the "new batch".
_ANN_PROBE = "vec_id % 10 = 0"
_ANN_INDEX = "vec_id % 10 <> 0"


def ann_sign_matrix() -> list[list[int]]:
    """(ANN_LSH_TABLES*ANN_LSH_BITS) x RP_IN_DIM ±1 hyperplane matrix,
    drawn once from a fixed-seed PRNG. Every sign-LSH geometry in this
    module regroups these 48 rows: table t of a (tables, bits) family
    owns rows [t*bits, (t+1)*bits)."""
    import random

    rng = random.Random(ANN_LSH_SEED)
    return [
        [rng.choice((-1, 1)) for _ in range(RP_IN_DIM)]
        for _ in range(ANN_LSH_TABLES * ANN_LSH_BITS)
    ]


def _sign_lsh_kernel(tables: int, bits: int):
    """Driver-side factory for the integer-margin kernel shared by every
    sign-LSH mapper: returns ``kernel(embeddings) -> (margins, buckets)``
    where margins is N x tables x bits exact int64 dot(iv, plane) over
    the int64-micro vectors and bucket t sets bit r iff margin[t, r] >= 0.
    Nested (not module-level) so the mapInPandas closure pickles by value
    and workers never import this module (only ``udf_surface``, for the
    shared half-away rounding)."""
    import numpy as np

    from big_data_medical_analysis_spark.operators.udf_surface import (
        round_half_away_int,
    )

    planes = ann_sign_matrix()
    assert tables * bits <= len(planes), (tables, bits)
    planes_t = np.array(planes[: tables * bits], dtype=np.int64).T
    weights = 1 << np.arange(bits, dtype=np.int64)

    def kernel(embeddings):
        mat = np.stack([np.asarray(v, dtype=np.float64) for v in embeddings])
        iv = round_half_away_int(mat * float(_SCALE))
        margins = (iv @ planes_t).reshape(len(mat), tables, bits)
        return margins, (margins >= 0).astype(np.int64) @ weights

    return kernel


def _sign_lsh_mapper(tables: int, bits: int):
    """mapInPandas closure: (vec_id, embedding) -> ``tables`` rows of
    (vec_id, tbl, bucket) per vector."""
    import numpy as np
    import pandas as pd

    kernel = _sign_lsh_kernel(tables, bits)

    def _buckets(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            _, bkt = kernel(pdf["embedding"])
            yield pd.DataFrame(
                {
                    "vec_id": np.repeat(pdf["vec_id"].to_numpy(), tables),
                    "tbl": np.tile(np.arange(tables, dtype=np.int32), len(pdf)),
                    "bucket": bkt.reshape(-1),
                }
            )

    return _buckets


def sign_lsh_buckets(emb: DataFrame, tables: int, bits: int) -> DataFrame:
    """(vec_id, tbl int, bucket long): ``tables`` bucket rows per vector on
    the seeded sign-LSH planes regrouped as tables x bits. One
    Arrow-batched pass, no shuffle. ``sign_lsh_sql`` is its DuckDB twin."""
    return fan_out(emb.select("vec_id", "embedding"), "vec_id").mapInPandas(
        _sign_lsh_mapper(tables, bits), "vec_id long, tbl int, bucket long"
    )


def ann_lsh_buckets(emb: DataFrame) -> DataFrame:
    """``sign_lsh_buckets`` at the fixed ANN_LSH_TABLES x ANN_LSH_BITS
    geometry."""
    return sign_lsh_buckets(emb, ANN_LSH_TABLES, ANN_LSH_BITS)


# DuckDB twin of the int64-micro quantization every sign-LSH family
# starts from: CTE ``scaled`` (vec_id, iv) over the embeddings table.
_SCALED_SQL = f"""scaled AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(round(x::DOUBLE * {_SCALE}) AS BIGINT))
           AS iv
  FROM embeddings
)"""


def _plane_dot_sql(plane: list[int]) -> str:
    """Exact int64 margin dot(iv, plane) over a literal ±1 plane."""
    signs = ", ".join(str(s) for s in plane)
    return f"list_sum(list_transform(list_zip(iv, [{signs}]), z -> z[1] * z[2]))"


def sign_lsh_sql(src: str, tables: int, bits: int) -> str:
    """DuckDB twin of ``sign_lsh_buckets(emb, tables, bits)``: CTE text for
    ``sig`` (vec_id, b0..b{tables-1}) over ``src``'s int64-micro vector
    column ``iv`` and ``banded`` (vec_id, tbl, bucket), one row per vector
    and table. Same plane literals, same 2^r bit weights."""
    planes = ann_sign_matrix()
    cols = ",\n         ".join(
        "("
        + " + ".join(
            f"(CASE WHEN {_plane_dot_sql(planes[t * bits + r])} >= 0 "
            f"THEN {1 << r} ELSE 0 END)"
            for r in range(bits)
        )
        + f") AS b{t}"
        for t in range(tables)
    )
    banded = " UNION ALL ".join(
        f"SELECT vec_id, {t} AS tbl, b{t} AS bucket FROM sig"
        for t in range(tables)
    )
    return f"""sig AS (
  SELECT vec_id,
         {cols}
  FROM {src}
),
banded AS (
  {banded}
)"""


def _ann_incr_sql() -> str:
    return f"""
WITH {_SCALED_SQL},
{sign_lsh_sql("scaled", ANN_LSH_TABLES, ANN_LSH_BITS)},
hits AS (
  SELECT p.vec_id AS probe_id, i.vec_id AS cand_id, p.tbl
  FROM banded p JOIN banded i ON p.tbl = i.tbl AND p.bucket = i.bucket
  WHERE p.{_ANN_PROBE} AND i.{_ANN_INDEX}
),
stats AS (
  SELECT probe_id,
         CAST(count(DISTINCT tbl) AS BIGINT) AS n_tables_hit,
         CAST(count(DISTINCT cand_id) AS BIGINT) AS n_candidates
  FROM hits GROUP BY probe_id
),
pairs AS (
  SELECT DISTINCT probe_id, cand_id FROM hits
),
normed AS (
  SELECT vec_id, iv,
         list_sum(list_transform(iv, x -> x * x)) AS n2
  FROM scaled
),
scored AS (
  SELECT pr.probe_id, pr.cand_id,
         round(
           CAST(list_sum(list_transform(list_zip(p.iv, c.iv),
                                        z -> z[1] * z[2])) AS DOUBLE)
           / (sqrt(CAST(p.n2 AS DOUBLE)) * sqrt(CAST(c.n2 AS DOUBLE))), 6)
           AS cos_sim
  FROM pairs pr
  JOIN normed p ON p.vec_id = pr.probe_id
  JOIN normed c ON c.vec_id = pr.cand_id
),
best AS (
  SELECT probe_id, cand_id AS best_cand_id, cos_sim AS best_cos
  FROM (
    SELECT *, row_number() OVER (
             PARTITION BY probe_id ORDER BY cos_sim DESC, cand_id) AS rnk
    FROM scored
  ) WHERE rnk = 1
)
SELECT s.probe_id, s.n_tables_hit, s.n_candidates, b.best_cand_id, b.best_cos
FROM stats s JOIN best b ON b.probe_id = s.probe_id
"""


def ann_build_index(spark: SparkSession, sf_dir: str) -> str:
    """Build + persist the table-partitioned sign-LSH index over the 90%
    corpus slice — the amortized state a production embedding store
    maintains; returns the index directory. Extracted (expressions
    byte-identical) from ``ann_incremental_probe`` so tools/scale_probe.py
    can time the index-BUILD wall separately from the probe wall:
    probe-only scaling is the production steady state (VERDICT r11
    task 3)."""
    emb = read_table(spark, sf_dir, "embeddings")
    out_dir = invocation_dir("ann_index")
    ann_lsh_buckets(emb.filter(F.expr(_ANN_INDEX))).write.mode(
        "overwrite"
    ).partitionBy("tbl").parquet(out_dir)
    return out_dir


def ann_probe_index(
    spark: SparkSession, sf_dir: str, index_dir: str
) -> DataFrame:
    """Probe-only plan against the ALREADY-persisted LSH index in
    ``index_dir`` (as returned by ``ann_build_index``): the new batch
    buckets itself, (tbl, bucket) equi-joins the persisted table, and
    candidates are exact-cosine reranked — the per-batch steady-state
    cost with the index build amortized away."""
    emb = read_table(spark, sf_dir, "embeddings")
    index = spark.read.parquet(index_dir).select(
        F.col("vec_id").alias("cand_id"),
        F.col("tbl").cast("int").alias("tbl"),
        "bucket",
    )
    probe = ann_lsh_buckets(emb.filter(F.expr(_ANN_PROBE))).select(
        F.col("vec_id").alias("probe_id"), "tbl", "bucket"
    )
    hits = checkpoint_pinned(probe.join(index, ["tbl", "bucket"]))
    stats = hits.groupBy("probe_id").agg(
        F.countDistinct("tbl").alias("n_tables_hit"),
        F.countDistinct("cand_id").alias("n_candidates"),
    )
    normed = emb.select(
        "vec_id", "embedding", int_norm2("embedding").alias("n2")
    )
    pairs = hits.select("probe_id", "cand_id").distinct()
    scored = (
        pairs.join(
            normed.select(
                F.col("vec_id").alias("probe_id"),
                F.col("embedding").alias("p_emb"),
                F.col("n2").alias("p_n2"),
            ),
            "probe_id",
        )
        .join(
            normed.select(
                F.col("vec_id").alias("cand_id"),
                F.col("embedding").alias("c_emb"),
                F.col("n2").alias("c_n2"),
            ),
            "cand_id",
        )
        .select(
            "probe_id",
            "cand_id",
            cosine(
                int_dot("p_emb", "c_emb"), F.col("p_n2"), F.col("c_n2")
            ).alias("cos_sim"),
        )
    )
    w = W.partitionBy("probe_id").orderBy(F.desc("cos_sim"), F.asc("cand_id"))
    best = (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") == 1)
        .select(
            "probe_id",
            F.col("cand_id").alias("best_cand_id"),
            F.col("cos_sim").alias("best_cos"),
        )
    )
    return stats.join(best, "probe_id").select(
        "probe_id", "n_tables_hit", "n_candidates", "best_cand_id", "best_cos"
    )


@register("ann_incremental_probe", oracle=_ann_incr_sql(), category="similarity")
def ann_incremental_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION ANN shape — the similarity-pillar twin of
    ``minhash_incremental_probe`` and ``hll_incremental_daily``: a
    persisted LSH index over the existing corpus, probed by each NEW
    ingest batch, instead of re-indexing everything per batch. Every
    other ANN operator here (brute force, IVF, BRP-LSH) indexes and
    queries one static table; a real 100 TB embedding store ingests
    continuously, and this operator is the batch-vs-index join that
    amortizes the index build.

    The 90% index slice ({_ANN_INDEX}) is bucketed on a seeded
    {ANN_LSH_TABLES}-table x {ANN_LSH_BITS}-bit sign-LSH family
    (hyperplanes are literal ±1 matrices on both engines — the
    ``rp_sign_matrix`` portability discipline, so bucket ids carry a FULL
    value oracle, unlike the engine-RNG ``ann_brp_lsh`` tier), written as
    table-partitioned parquet, and read BACK; the 10% "new batch"
    ({_ANN_PROBE}) buckets itself and probes with a (tbl, bucket)
    equi-join. Candidates are then scored EXACTLY (int64 dot / sqrt-norm
    cosine) by joining vectors back by key, and ranked per probe with
    deterministic ties (cos DESC, cand_id). Output per colliding probe:
    tables hit, distinct candidates, and the best candidate with its
    cosine — a green row proves the parquet persist/reload of the index
    lost nothing.

    Scale: batch cost is O(batch x L) bucketing (one Arrow matmul pass,
    no shuffle) + an equi-join that touches only matching (tbl, bucket)
    partitions + a key-join to fetch candidate vectors — the index's
    vectors are never re-scanned wholesale. At 100 TB the index table
    would be bucketBy(bucket) so probes co-locate without shuffling the
    index, and batches APPEND their bucket rows after probing (same
    state-table pattern as the dedup twin). At FIXED geometry, per-probe
    random candidates GROW with the index (E[collisions] ~= N*L/2^B), so
    as batch and index scale together the probe wall trends toward m² —
    measured at 137.8x for a 100x corpus (SCALING.md r12). This query
    keeps the fixed geometry deliberately, as the disclosed contrast
    that keeps the growth visible; the registered production serving
    path is ``ann_adaptive_probe`` (round 13), which derives B from the
    index's exact row count so per-probe candidates stay ~constant.

    Round 12: build and probe are the extracted ``ann_build_index`` /
    ``ann_probe_index`` above (expressions unchanged) so the scale probe
    can time the two walls separately; this registered query remains
    build + probe end-to-end.
    """
    return ann_probe_index(spark, sf_dir, ann_build_index(spark, sf_dir))


# ---------------------------------------------------------------------------
# Product quantization codebooks + exact distortion audit (round 9)
# ---------------------------------------------------------------------------

PQ_SUBSPACES = 4
PQ_SUB_DIM = 16  # PQ_SUBSPACES * PQ_SUB_DIM == _EMB_DIM
PQ_K = 4
PQ_ITERS = KMEANS_ITERS  # lloyd_train runs KMEANS_ITERS rounds for every codebook


def _pq_train_sql() -> str:
    """Shared DuckDB CTE prefix for every PQ oracle: unrolled per-subspace
    Lloyd's iterations — the ``_kmeans_oracle`` recipe with a subspace key
    threaded through every CTE: exact int64-micro subvectors, integer
    squared distances, argmin tie-broken on cluster id, one
    round(sum/count) per (s, cluster, dim). Ends with ``enc`` (per
    (vector, subspace): nearest final-codebook entry at rnk=1) so tails
    can read codes, distortions, or the trained ``c{PQ_ITERS}`` codebook
    directly."""
    parts = [
        f"""WITH vm AS (
  SELECT vec_id, list_transform(embedding,
           y -> CAST(round(y::DOUBLE * {_SCALE}) AS BIGINT)) AS v
  FROM embeddings
),
svm AS (
  SELECT vec_id, sp.s AS s,
         list_slice(v, sp.s * {PQ_SUB_DIM} + 1, (sp.s + 1) * {PQ_SUB_DIM}) AS sv
  FROM vm, (SELECT unnest(range(0, {PQ_SUBSPACES})) AS s) sp
),
c0 AS (
  SELECT s, CAST(vec_id AS INTEGER) AS cluster, sv AS c
  FROM svm WHERE vec_id < {PQ_K}
)"""
    ]
    for it in range(1, PQ_ITERS + 1):
        parts.append(
            f""", a{it} AS (
  SELECT vec_id, s, cluster,
         row_number() OVER (PARTITION BY vec_id, s ORDER BY d, cluster) AS rnk
  FROM (
    SELECT svm.vec_id, svm.s, c.cluster,
           list_sum(list_transform(svm.sv,
             (x, i) -> (x - c.c[i]) * (x - c.c[i]))) AS d
    FROM svm JOIN c{it - 1} c ON c.s = svm.s
  )
), u{it} AS (
  SELECT a.s, a.cluster, g.i AS dim,
         CAST(round(CAST(sum(svm.sv[g.i]) AS DOUBLE)
                    / CAST(count(*) AS DOUBLE)) AS BIGINT) AS cm
  FROM (SELECT vec_id, s, cluster FROM a{it} WHERE rnk = 1) a
  JOIN svm ON svm.vec_id = a.vec_id AND svm.s = a.s,
  (SELECT unnest(range(1, {PQ_SUB_DIM} + 1)) AS i) g
  GROUP BY 1, 2, 3
), c{it} AS (
  SELECT s, cluster, list(cm ORDER BY dim) AS c FROM u{it} GROUP BY s, cluster
)"""
        )
    parts.append(
        f""", enc AS (
  SELECT vec_id, s, cluster, d,
         row_number() OVER (PARTITION BY vec_id, s ORDER BY d, cluster) AS rnk
  FROM (
    SELECT svm.vec_id, svm.s, c.cluster,
           list_sum(list_transform(svm.sv,
             (x, i) -> (x - c.c[i]) * (x - c.c[i]))) AS d
    FROM svm JOIN c{PQ_ITERS} c ON c.s = svm.s
  )
)"""
    )
    return "".join(parts)


def _pq_oracle() -> str:
    """Codebook census tail over the shared training prefix."""
    return (
        _pq_train_sql()
        + f"""
SELECT CAST(s AS INTEGER) AS subspace, cluster,
       CAST(count(*) AS BIGINT) AS n_members,
       CAST(sum(d) AS BIGINT) AS total_sq_err,
       round(CAST(sum(d) AS DOUBLE) / CAST(count(*) AS DOUBLE)
             / {float(_SCALE) * float(_SCALE)!r}, 6) AS avg_sq_err
FROM enc WHERE rnk = 1
GROUP BY 1, 2"""
    )


def _pq_intvecs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """vec_id → exact int64-micro full vector (column ``v``)."""
    return read_table(spark, sf_dir, "embeddings").select(
        "vec_id", _int_micro("embedding").alias("v")
    )


def _pq_subvectors(vm: DataFrame) -> DataFrame:
    """Explode each int vector into {PQ_SUBSPACES} subvectors (s, v) —
    checkpoint-pinned because training joins it once per iteration."""
    return vm.select(
        "vec_id",
        F.posexplode(
            F.array(
                *[
                    F.slice("v", s * PQ_SUB_DIM + 1, PQ_SUB_DIM)
                    for s in range(PQ_SUBSPACES)
                ]
            )
        ).alias("s", "v"),
    ).transform(checkpoint_pinned)


def _pq_train(svm: DataFrame) -> DataFrame:
    """All {PQ_SUBSPACES} codebooks in ONE ``lloyd_train`` pass per round
    (the subspace key is data, not a loop) from the first-{PQ_K} init;
    each codebook is PQ_K·dim ints, so it broadcasts. Returns the final
    codebook (s, cluster, c)."""
    init = svm.filter(F.col("vec_id") < PQ_K).select(
        "s", F.col("vec_id").cast("integer").alias("cluster"), F.col("v").alias("c")
    )
    return lloyd_train(svm, init, ("s",))[0]


def _pq_adc_tables(
    svm: DataFrame, centroids: DataFrame, is_probe: Column, is_cand: Column
) -> tuple[DataFrame, DataFrame]:
    """The ADC scan's two inputs: the candidates' PQ codes (cand_id, s,
    cluster) — the encode pass, ties on cluster id — and each probe's
    exact lookup table (probe_id, s, cluster, pd) of subvector→centroid
    squared distances, P·{PQ_SUBSPACES}·{PQ_K} rows."""
    codes = lloyd_assign(svm.filter(is_cand), centroids, ("s",)).select(
        F.col("vec_id").alias("cand_id"), "s", "cluster"
    )
    lut = (
        svm.filter(is_probe)
        .join(F.broadcast(centroids), "s")
        .select(
            F.col("vec_id").alias("probe_id"),
            "s",
            "cluster",
            _int_sqdist_raw("v", "c").alias("pd"),
        )
    )
    return codes, lut


def _adc_topk_exact(adc: DataFrame, vm: DataFrame) -> DataFrame:
    """Top-{PQ_ADC_K} of an ADC-scored (probe_id, cand_id, adc_d)
    relation per probe (ties on cand_id), with the EXACT probe→candidate
    squared distance ``true_d`` recomputed for the winners only — two key
    joins against the (vec_id, v) int vectors."""
    wk = W.partitionBy("probe_id").orderBy("adc_d", "cand_id")
    tk = (
        adc.withColumn("rnk", F.row_number().over(wk))
        .filter(F.col("rnk") <= PQ_ADC_K)
        .select("probe_id", F.col("rnk").cast("integer").alias("rnk"),
                "cand_id", "adc_d")
    )
    return (
        tk.join(
            vm.select(F.col("vec_id").alias("probe_id"), F.col("v").alias("pv")),
            "probe_id",
        )
        .join(
            vm.select(F.col("vec_id").alias("cand_id"), F.col("v").alias("cv")),
            "cand_id",
        )
        .select(
            "probe_id", "rnk", "cand_id", "adc_d",
            _int_sqdist_raw("pv", "cv").alias("true_d"),
        )
    )


@register("pq_codebook_distortion", oracle=_pq_oracle(), category="similarity")
def pq_codebook_distortion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization — the compression tier that completes the ANN
    family (int8 symmetric quantize → JL projection → PQ): the
    {_EMB_DIM}-dim space splits into {PQ_SUBSPACES} subspaces of
    {PQ_SUB_DIM} dims, each trained with its own {PQ_K}-centroid Lloyd
    codebook ({PQ_ITERS} iterations, deterministic first-k init), and
    every vector is ENCODED as {PQ_SUBSPACES} one-byte codes — a
    {PQ_SUBSPACES}·log2({PQ_K})-bit representation an IVF-PQ index
    stores instead of the raw floats, scoring queries against codebook
    lookup tables (ADC). Output is the per-(subspace, cluster) codebook
    census: member counts and EXACT integer quantization distortion
    (total + per-vector squared error in original units) — the
    compression-quality audit that decides codebook size in production.

    Everything is exact (int64-micro subvectors, integer squared
    distances summed in any order, argmin tie-broken on cluster id, one
    round(sum/count) per centroid component), so DuckDB replays the full
    {PQ_SUBSPACES}-codebook training trajectory bit-for-bit — same
    discipline as ``kmeans_lloyd_centroids``, which this generalizes by
    threading a subspace key through every step.

    Scale: the subvector table is the vector table exploded
    {PQ_SUBSPACES}× (derived once, checkpoint-pinned; persist(DISK_ONLY)
    at cluster scale); every iteration is a broadcast of
    {PQ_SUBSPACES}·{PQ_K} short centroid rows against it — a map-side
    argmin equi-joined on subspace, no vector shuffle — plus one
    map-side-combinable (s, cluster, dim) aggregate. Training all
    {PQ_SUBSPACES} codebooks rides ONE pass per iteration (the subspace
    key is data, not a loop), which is exactly how PQ trains at 100 TB.
    """
    svm = _pq_subvectors(_pq_intvecs(spark, sf_dir))
    enc = lloyd_assign(svm, _pq_train(svm), ("s",))
    return enc.groupBy(
        F.col("s").cast("integer").alias("subspace"), "cluster"
    ).agg(
        F.count(F.lit(1)).alias("n_members"),
        F.sum("d").alias("total_sq_err"),
        F.round(
            F.sum("d").cast("double")
            / F.count(F.lit(1)).cast("double")
            / F.lit(float(_SCALE) * float(_SCALE)),
            6,
        ).alias("avg_sq_err"),
    )


PQ_PROBE_MOD = 37
PQ_PROBE_RES = 5
PQ_ADC_K = 3


def _pq_adc_oracle() -> str:
    """ADC top-k tail over the shared training prefix: encode the
    non-probe corpus, build each probe's per-(subspace, cluster) lookup
    table, score by LUT sum, rank, then recompute the EXACT probe→cand
    distance for the winners."""
    return (
        _pq_train_sql()
        + f"""
, codes AS (
  SELECT vec_id AS cand_id, s, cluster FROM enc
  WHERE rnk = 1 AND vec_id % {PQ_PROBE_MOD} <> {PQ_PROBE_RES}
), plut AS (
  SELECT svm.vec_id AS probe_id, svm.s, c.cluster,
         list_sum(list_transform(svm.sv,
           (x, i) -> (x - c.c[i]) * (x - c.c[i]))) AS pd
  FROM svm JOIN c{PQ_ITERS} c ON c.s = svm.s
  WHERE svm.vec_id % {PQ_PROBE_MOD} = {PQ_PROBE_RES}
), adc AS (
  SELECT probe_id, cand_id, CAST(sum(pd) AS BIGINT) AS adc_d
  FROM codes JOIN plut ON plut.s = codes.s AND plut.cluster = codes.cluster
  GROUP BY 1, 2
), tk AS (
  SELECT * FROM (
    SELECT probe_id, cand_id, adc_d,
           row_number() OVER (PARTITION BY probe_id
                              ORDER BY adc_d, cand_id) AS rnk
    FROM adc
  ) WHERE rnk <= {PQ_ADC_K}
), td AS (
  SELECT tk.probe_id, CAST(tk.rnk AS INTEGER) AS rnk, tk.cand_id, tk.adc_d,
         CAST(list_sum(list_transform(list_zip(p.v, c.v),
              z -> (z[1] - z[2]) * (z[1] - z[2]))) AS BIGINT) AS true_d
  FROM tk JOIN vm p ON p.vec_id = tk.probe_id
          JOIN vm c ON c.vec_id = tk.cand_id
)
SELECT probe_id, rnk, cand_id, adc_d, true_d,
       round(CAST(adc_d AS DOUBLE) / nullif(CAST(true_d AS DOUBLE), 0), 6)
         AS adc_ratio
FROM td"""
    )


@register("pq_adc_topk", oracle=_pq_adc_oracle(), category="similarity")
def pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric distance computation — the QUERY side of IVF-PQ, closing
    the compression story ``pq_codebook_distortion`` opened: probes
    (vec_id ≡ {PQ_PROBE_RES} mod {PQ_PROBE_MOD}) are scored against the
    PQ-ENCODED corpus (every non-probe vector reduced to
    {PQ_SUBSPACES} codebook ids) without ever touching candidate floats.
    Each probe precomputes one {PQ_SUBSPACES}x{PQ_K} lookup table of
    exact int64 subvector→centroid squared distances; a candidate's
    approximate distance is the sum of {PQ_SUBSPACES} LUT entries keyed
    by its codes — the classic ADC scan. Top-{PQ_ADC_K} per probe
    (ties on cand_id), then the EXACT probe→candidate distance is
    recomputed for the winners so the output audits the approximation:
    adc_ratio = adc_d / true_d — the ADC estimator's bias (the error is
    the candidate's quantization residual ||v-c||² plus a cross term of
    either sign; on centroid-ward winners it skews low, as every audited
    hit here does), which the PQ literature corrects with an added
    residual term — made visible per hit instead of assumed.

    Everything is exact integer arithmetic until the single audited
    division, so DuckDB replays training + encoding + ADC bit-for-bit
    (shared CTE prefix with the census oracle).

    Scale: the LUT is P·{PQ_SUBSPACES}·{PQ_K} tiny rows — broadcast;
    the ADC scan is ONE map-side pass over the code table (codes join
    broadcast LUT, partial-aggregated sum per (probe, cand)) — no
    vector shuffle, no float reads; the exact recompute touches only
    P·{PQ_ADC_K} winners by key. At 100 TB the code table is ~64x
    smaller than the float table (4 bytes of codes vs 256 of floats),
    and the scan would be gated by IVF cells (``ivf_topk``) so each
    probe reads only its cell's codes — IVF-PQ exactly.
    """
    vm = _pq_intvecs(spark, sf_dir)
    svm = _pq_subvectors(vm)
    centroids = _pq_train(svm)
    is_probe = (F.col("vec_id") % PQ_PROBE_MOD) == PQ_PROBE_RES
    codes, lut = _pq_adc_tables(svm, centroids, is_probe, ~is_probe)
    adc = (
        codes.join(F.broadcast(lut), ["s", "cluster"])
        .groupBy("probe_id", "cand_id")
        .agg(F.sum("pd").alias("adc_d"))
    )
    return _adc_topk_exact(adc, vm).withColumn(
        "adc_ratio",
        F.when(F.col("true_d") == 0, F.lit(None).cast("double")).otherwise(
            F.round(
                F.col("adc_d").cast("double") / F.col("true_d").cast("double"), 6
            )
        ),
    )


# ---------------------------------------------------------------------------
# IVF-PQ: coarse cells gate the ADC scan (round 10)
# ---------------------------------------------------------------------------


def _ivfpq_oracle() -> str:
    """IVF-PQ tail over the shared PQ training prefix: per-label mean
    centroids (exact ints), L2 cell ranking, nprobe gating, ADC only over
    gated codes, exact recompute of the winners."""
    return (
        _pq_train_sql()
        + f"""
, lab AS (
  SELECT vm.vec_id, e.label, vm.v FROM vm JOIN embeddings e ON e.vec_id = vm.vec_id
), exploded AS (
  SELECT label, unnest(v) AS ix, generate_subscripts(v, 1) AS i FROM lab
), centc AS (
  SELECT label, i,
         CAST(round(CAST(sum(ix) AS DOUBLE) / count(*)) AS BIGINT) AS c
  FROM exploded GROUP BY label, i
), cent AS (
  SELECT label, list(c ORDER BY i) AS cvec FROM centc GROUP BY label
), probes AS (
  SELECT vec_id AS probe_id, v FROM vm
  WHERE vec_id % {PQ_PROBE_MOD} = {PQ_PROBE_RES}
), cellsc AS (
  SELECT p.probe_id, c.label,
         list_sum(list_transform(list_zip(p.v, c.cvec),
                  z -> (z[1] - z[2]) * (z[1] - z[2]))) AS cd
  FROM probes p, cent c
), topcells AS (
  SELECT probe_id, label FROM (
    SELECT *, row_number() OVER (PARTITION BY probe_id
                                 ORDER BY cd, label) AS rn
    FROM cellsc
  ) WHERE rn <= {N_IVF_PROBE_CELLS}
), codes AS (
  SELECT vec_id AS cand_id, s, cluster FROM enc
  WHERE rnk = 1 AND vec_id % {PQ_PROBE_MOD} <> {PQ_PROBE_RES}
), gated AS (
  SELECT t.probe_id, l.vec_id AS cand_id
  FROM topcells t JOIN lab l ON l.label = t.label
  WHERE l.vec_id % {PQ_PROBE_MOD} <> {PQ_PROBE_RES}
), plut AS (
  SELECT svm.vec_id AS probe_id, svm.s, c.cluster,
         list_sum(list_transform(svm.sv,
           (x, i) -> (x - c.c[i]) * (x - c.c[i]))) AS pd
  FROM svm JOIN c{PQ_ITERS} c ON c.s = svm.s
  WHERE svm.vec_id % {PQ_PROBE_MOD} = {PQ_PROBE_RES}
), adc AS (
  SELECT g.probe_id, g.cand_id, CAST(sum(p.pd) AS BIGINT) AS adc_d
  FROM gated g
  JOIN codes c2 ON c2.cand_id = g.cand_id
  JOIN plut p ON p.probe_id = g.probe_id
            AND p.s = c2.s AND p.cluster = c2.cluster
  GROUP BY 1, 2
), tk AS (
  SELECT * FROM (
    SELECT probe_id, cand_id, adc_d,
           row_number() OVER (PARTITION BY probe_id
                              ORDER BY adc_d, cand_id) AS rnk
    FROM adc
  ) WHERE rnk <= {PQ_ADC_K}
), scanstat AS (
  SELECT probe_id, CAST(count(*) AS BIGINT) AS n_gated FROM gated GROUP BY 1
)
SELECT tk.probe_id, CAST(tk.rnk AS INTEGER) AS rnk, tk.cand_id, tk.adc_d,
       CAST(list_sum(list_transform(list_zip(p.v, c.v),
            z -> (z[1] - z[2]) * (z[1] - z[2]))) AS BIGINT) AS true_d,
       s.n_gated
FROM tk
JOIN vm p ON p.vec_id = tk.probe_id
JOIN vm c ON c.vec_id = tk.cand_id
JOIN scanstat s ON s.probe_id = tk.probe_id"""
    )


@register("ivf_pq_topk", oracle=_ivfpq_oracle(), category="similarity")
def ivf_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ — the composition ``pq_adc_topk``'s docstring promises: the
    coarse quantizer (per-cell mean centroids over the precomputed
    ``label`` cells, the ``ivf_topk`` recipe in L2 space) gates WHICH
    codes the ADC scan reads, so a probe touches only its
    {N_IVF_PROBE_CELLS} nearest cells' codes instead of the whole code
    table — both savings at once: IVF cuts candidates, PQ cuts
    bytes/candidate. This is the structure of every production
    billion-vector index (FAISS IVFPQ, ScaNN's AH tree).

    Per probe (vec_id ≡ {PQ_PROBE_RES} mod {PQ_PROBE_MOD}): rank cells by
    exact int64 probe→centroid squared L2 (ties on label), keep
    {N_IVF_PROBE_CELLS}; ADC-score only gated candidates via the
    broadcast {PQ_SUBSPACES}x{PQ_K} lookup table; take top-{PQ_ADC_K}
    (ties on cand_id); recompute the winners' EXACT distances. Output
    carries ``n_gated`` — the per-probe scan size the cell gate achieved
    (vs the full corpus for ``pq_adc_topk``), making the IVF saving a
    driver-checked quantity like ``ann_recall_audit``'s n_scored.

    Everything is exact integer arithmetic (shared PQ training prefix,
    integer centroid means, integer cell distances), so DuckDB replays
    coarse quantizer + codebooks + gating + ADC bit-for-bit.

    Scale: centroids are cells×dims — broadcast; cell ranking is a map
    over the tiny probe panel; the gate is an equi-join on label
    (partition-prunable if the code table is written partitioned BY
    cell, which is exactly how IVF lists are laid out on disk); the ADC
    scan then reads nprobe/cells of the codes. The same plan at 100 TB
    reads ~{N_IVF_PROBE_CELLS}/16 of a table that is already ~64x
    smaller than the floats.
    """
    vml = fan_out(
        read_table(spark, sf_dir, "embeddings").select(
            "vec_id", "label", _int_micro("embedding").alias("v")
        ),
        "vec_id",
    ).transform(checkpoint_pinned)
    svm = _pq_subvectors(vml.select("vec_id", "v"))
    centroids = _pq_train(svm)
    is_probe = (F.col("vec_id") % PQ_PROBE_MOD) == PQ_PROBE_RES

    # coarse quantizer: per-label integer mean centroids (ivf_topk recipe)
    cent = _label_means(vml, "v")
    probes = vml.filter(is_probe).select(
        F.col("vec_id").alias("probe_id"), F.col("v").alias("pv")
    )
    cell_d = _int_sqdist_raw("pv", "cvec")
    cellsc = probes.crossJoin(F.broadcast(cent)).select(
        "probe_id", "label", cell_d.alias("cd")
    )
    wc = W.partitionBy("probe_id").orderBy(F.asc("cd"), F.asc("label"))
    topcells = (
        cellsc.withColumn("rn", F.row_number().over(wc))
        .filter(F.col("rn") <= N_IVF_PROBE_CELLS)
        .select("probe_id", "label")
    )

    # the gate: probe -> candidates in its cells (label equi-join)
    gated = checkpoint_pinned(
        F.broadcast(topcells).join(
            vml.filter(~is_probe).select(
                F.col("vec_id").alias("cand_id"), "label"
            ),
            "label",
        ).select("probe_id", "cand_id")
    )
    codes, lut = _pq_adc_tables(svm, centroids, is_probe, ~is_probe)
    adc = (
        gated.join(codes, "cand_id")
        .join(F.broadcast(lut), ["probe_id", "s", "cluster"])
        .groupBy("probe_id", "cand_id")
        .agg(F.sum("pd").alias("adc_d"))
    )
    scanstat = gated.groupBy("probe_id").agg(
        F.count(F.lit(1)).alias("n_gated")
    )
    return _adc_topk_exact(adc, vml).join(scanstat, "probe_id").select(
        "probe_id", "rnk", "cand_id", "adc_d", "true_d", "n_gated"
    )


# ---------------------------------------------------------------------------
# ANN recall audit: approximate tiers measured against exact truth (round 10)
# ---------------------------------------------------------------------------

# Deterministic audit probe set: the first 10 vectors of the sign-LSH
# "new batch" slice. Candidates are the LSH index slice (_ANN_INDEX), so
# the audit measures exactly the production probe-vs-index geometry.
RA_K = TOP_K
_RA_PROBE_N = 10


def _ra_probe_pred(q: str = "") -> str:
    """SQL/Spark predicate for the audit probe set (optionally qualified)."""
    return f"{q}vec_id % 10 = 0 AND {q}vec_id < {_RA_PROBE_N * 10}"


def _ann_recall_sql() -> str:
    """Recall@{RA_K} oracle: PQ training prefix (vm/svm/c*/enc) + sign-LSH
    banding + exact truth, all exact-integer until the two audited
    divisions (cosine, recall)."""
    return (
        _pq_train_sql()
        + f"""
, ived AS (
  SELECT vec_id, v AS iv FROM vm
),
{sign_lsh_sql("ived", ANN_LSH_TABLES, ANN_LSH_BITS)},
pn AS (
  SELECT vec_id, v, list_sum(list_transform(v, x -> x * x)) AS n2 FROM vm
),
rpairs AS (
  SELECT p.vec_id AS probe_id, c.vec_id AS cand_id,
         round(
           CAST(list_sum(list_transform(list_zip(p.v, c.v),
                                        z -> z[1] * z[2])) AS DOUBLE)
           / (sqrt(CAST(p.n2 AS DOUBLE)) * sqrt(CAST(c.n2 AS DOUBLE))), 6)
           AS cos_sim,
         CAST(list_sum(list_transform(list_zip(p.v, c.v),
              z -> (z[1] - z[2]) * (z[1] - z[2]))) AS BIGINT) AS l2_d
  FROM pn p JOIN pn c ON c.{_ANN_INDEX}
  WHERE {_ra_probe_pred('p.')}
),
ranked AS (
  SELECT probe_id, cand_id,
         row_number() OVER (PARTITION BY probe_id
                            ORDER BY cos_sim DESC, cand_id) AS rc,
         row_number() OVER (PARTITION BY probe_id
                            ORDER BY l2_d, cand_id) AS rl
  FROM rpairs
),
tcos AS (SELECT probe_id, cand_id FROM ranked WHERE rc <= {RA_K}),
tl2 AS (SELECT probe_id, cand_id FROM ranked WHERE rl <= {RA_K}),
lshhits AS (
  SELECT DISTINCT p.vec_id AS probe_id, i.vec_id AS cand_id
  FROM banded p JOIN banded i ON p.tbl = i.tbl AND p.bucket = i.bucket
  WHERE {_ra_probe_pred('p.')} AND i.{_ANN_INDEX}
),
lshtop AS (
  SELECT probe_id, cand_id FROM (
    SELECT h.probe_id, h.cand_id,
           row_number() OVER (PARTITION BY h.probe_id
                              ORDER BY r.cos_sim DESC, h.cand_id) AS rnk
    FROM lshhits h
    JOIN rpairs r ON r.probe_id = h.probe_id AND r.cand_id = h.cand_id
  ) WHERE rnk <= {RA_K}
),
lshstat AS (
  SELECT probe_id, CAST(count(*) AS BIGINT) AS n_scored
  FROM lshhits GROUP BY 1
),
lshrecall AS (
  SELECT t.probe_id, CAST(count(*) AS BIGINT) AS n_hits
  FROM lshtop t
  JOIN tcos ON tcos.probe_id = t.probe_id AND tcos.cand_id = t.cand_id
  GROUP BY 1
),
codes AS (
  SELECT vec_id AS cand_id, s, cluster FROM enc
  WHERE rnk = 1 AND {_ANN_INDEX}
),
plut AS (
  SELECT svm.vec_id AS probe_id, svm.s, c.cluster,
         list_sum(list_transform(svm.sv,
           (x, i) -> (x - c.c[i]) * (x - c.c[i]))) AS pd
  FROM svm JOIN c{PQ_ITERS} c ON c.s = svm.s
  WHERE {_ra_probe_pred('svm.')}
),
adc AS (
  SELECT probe_id, cand_id, CAST(sum(pd) AS BIGINT) AS adc_d
  FROM codes JOIN plut ON plut.s = codes.s AND plut.cluster = codes.cluster
  GROUP BY 1, 2
),
adctop AS (
  SELECT probe_id, cand_id FROM (
    SELECT probe_id, cand_id,
           row_number() OVER (PARTITION BY probe_id
                              ORDER BY adc_d, cand_id) AS rnk
    FROM adc
  ) WHERE rnk <= {RA_K}
),
adcstat AS (
  SELECT probe_id, CAST(count(*) AS BIGINT) AS n_scored
  FROM adc GROUP BY 1
),
adcrecall AS (
  SELECT t.probe_id, CAST(count(*) AS BIGINT) AS n_hits
  FROM adctop t
  JOIN tl2 ON tl2.probe_id = t.probe_id AND tl2.cand_id = t.cand_id
  GROUP BY 1
),
plist AS (
  SELECT vec_id AS probe_id FROM embeddings WHERE {_ra_probe_pred()}
)
SELECT 'sign_lsh' AS tier, p.probe_id,
       CAST(coalesce(s.n_scored, 0) AS BIGINT) AS n_scored,
       CAST(coalesce(r.n_hits, 0) AS BIGINT) AS n_hits,
       round(CAST(coalesce(r.n_hits, 0) AS DOUBLE) / {RA_K}.0, 4) AS recall
FROM plist p
LEFT JOIN lshstat s ON s.probe_id = p.probe_id
LEFT JOIN lshrecall r ON r.probe_id = p.probe_id
UNION ALL
SELECT 'pq_adc' AS tier, p.probe_id,
       CAST(coalesce(s.n_scored, 0) AS BIGINT) AS n_scored,
       CAST(coalesce(r.n_hits, 0) AS BIGINT) AS n_hits,
       round(CAST(coalesce(r.n_hits, 0) AS DOUBLE) / {RA_K}.0, 4) AS recall
FROM plist p
LEFT JOIN adcstat s ON s.probe_id = p.probe_id
LEFT JOIN adcrecall r ON r.probe_id = p.probe_id"""
    )


@register("ann_recall_audit", oracle=_ann_recall_sql(), category="similarity")
def ann_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@{RA_K} of the approximate ANN tiers measured against EXACT
    ground truth — the metric a 100 TB operator actually tunes nprobe/
    bands/codebook size against (VERDICT r9 task 3). Per probe (first
    {_RA_PROBE_N} vectors of the sign-LSH batch slice) and per tier:

    - ``sign_lsh``: candidates from the {ANN_LSH_TABLES}x{ANN_LSH_BITS}-bit
      sign-LSH family (``ann_incremental_probe``'s geometry), reranked by
      exact cosine; truth = exact cosine top-{RA_K} over the full index
      slice. n_scored = candidates the tier actually scored (its cost).
    - ``pq_adc``: PQ-encoded corpus scored by ADC lookup-table distance
      (``pq_adc_topk``'s scorer); truth = exact L2 top-{RA_K}. n_scored =
      the whole encoded corpus (ADC reads every code — its savings are
      bytes/candidate, not candidates; gate with IVF cells to cut both).

    Recall-vs-cost at sf0.01 (500 vectors, 450 candidates/probe, measured
    by this query): sign_lsh scores a mean 13.2 candidates/probe (2.9% of
    the corpus) for mean recall@5 of 0.14; pq_adc scores all 450 codes
    (but at 4 bytes/candidate vs 512) for mean recall 0.16. Both are the expected
    regime for near-random synthetic vectors (no planted structure ⇒
    neighbors sit barely above the bulk cosine spread): the audit's value
    is making that tradeoff a measured, driver-checked quantity — raise
    ANN_LSH_TABLES or lower ANN_LSH_BITS and n_scored/recall move in the
    direction the LSH literature predicts, with the oracle pinning every
    intermediate.

    Everything is exact integer arithmetic (int64-micro vectors, literal
    ±1 hyperplanes, exact PQ training trajectory) except the cosine and
    final recall divisions, both rounded — so the FULL audit (truth, both
    tiers, the recall arithmetic itself) carries a value oracle.

    Scale: truth is |probes|x|candidates| with probes broadcast — exact
    ground truth over a small fixed probe panel is how production recall
    dashboards work at any corpus size (the panel is O(10), the scan is
    one linear pass). Both tiers reuse the shared derived tables (svm
    checkpoint-pinned once, pair scores computed once and reused for
    rerank), and every join is key-equi or broadcast — no all-pairs
    beyond the audited truth leg.
    """
    # ONE parquet scan: every consumer below (int vectors, norms, LSH
    # bucketers, probe panel, PQ subvectors) derives from this pinned
    # base — the executed plan would otherwise re-scan embeddings 6x
    # (rescan-budget test).
    emb = checkpoint_pinned(
        fan_out(
            read_table(spark, sf_dir, "embeddings").select(
                "vec_id", "embedding"
            ),
            "vec_id",
        )
    )
    vm = emb.select("vec_id", _int_micro("embedding").alias("v"))
    is_probe = F.expr(_ra_probe_pred())
    is_cand = F.expr(_ANN_INDEX)
    n2 = _int_norm2_raw("v")
    normed = checkpoint_pinned(vm.select("vec_id", "v", n2.alias("n2")))
    probes = F.broadcast(
        normed.filter(is_probe).select(
            F.col("vec_id").alias("probe_id"),
            F.col("v").alias("pv"),
            F.col("n2").alias("pn2"),
        )
    )
    cands = normed.filter(is_cand).select(
        F.col("vec_id").alias("cand_id"),
        F.col("v").alias("cv"),
        F.col("n2").alias("cn2"),
    )
    int_dot_vv = _int_dot_raw("pv", "cv")
    # One scoring pass carries BOTH metrics; reused by the truth ranks and
    # the LSH rerank join, so it is pinned. Round 16 (guide §1.2 per-task
    # work): ONE dot HOF per pair feeds both metrics through the exact
    # int64 identity ‖p−c‖² = pn2 + cn2 − 2·p·c — the former separate
    # zip_with((a−b)²) pass doubled the interpreted-HOF work per pair
    # (HOFs don't CSE). The keyless fan_out between the dot projection
    # and the two consumers is the single-evaluation barrier
    # (CollapseProject would otherwise inline the dot chain into each
    # output column — the edit_distance_pairs move); keyless because a
    # probe-keyed exchange would cap the stage at n_probes tasks.
    pairs = checkpoint_pinned(
        fan_out(
            probes.join(cands).select(
                "probe_id", "cand_id", "pn2", "cn2",
                int_dot_vv.alias("dot"),
            )
        ).select(
            "probe_id",
            "cand_id",
            cosine(F.col("dot"), F.col("pn2"), F.col("cn2")).alias("cos_sim"),
            (F.col("pn2") + F.col("cn2") - F.lit(2) * F.col("dot")).alias("l2_d"),
        )
    )
    w_cos = W.partitionBy("probe_id").orderBy(F.desc("cos_sim"), F.asc("cand_id"))
    w_l2 = W.partitionBy("probe_id").orderBy(F.asc("l2_d"), F.asc("cand_id"))
    ranked = pairs.select(
        "probe_id",
        "cand_id",
        F.row_number().over(w_cos).alias("rc"),
        F.row_number().over(w_l2).alias("rl"),
    )
    tcos = ranked.filter(F.col("rc") <= RA_K).select("probe_id", "cand_id")
    tl2 = ranked.filter(F.col("rl") <= RA_K).select("probe_id", "cand_id")

    # --- sign-LSH tier: bucket-collision candidates, exact-cosine rerank
    pb = ann_lsh_buckets(emb.filter(is_probe)).select(
        F.col("vec_id").alias("probe_id"), "tbl", "bucket"
    )
    ib = ann_lsh_buckets(emb.filter(is_cand)).select(
        F.col("vec_id").alias("cand_id"), "tbl", "bucket"
    )
    lsh_cands = checkpoint_pinned(
        pb.join(ib, ["tbl", "bucket"]).select("probe_id", "cand_id").distinct()
    )
    lsh_top = (
        lsh_cands.join(pairs, ["probe_id", "cand_id"])
        .withColumn("rnk", F.row_number().over(w_cos))
        .filter(F.col("rnk") <= RA_K)
        .select("probe_id", "cand_id")
    )
    lsh_stat = lsh_cands.groupBy("probe_id").agg(
        F.count(F.lit(1)).alias("n_scored")
    )
    lsh_hits = (
        lsh_top.join(tcos, ["probe_id", "cand_id"])
        .groupBy("probe_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )

    # --- PQ/ADC tier: LUT-summed distances over the encoded corpus
    svm = _pq_subvectors(vm)
    centroids = _pq_train(svm)
    codes, lut = _pq_adc_tables(svm, centroids, is_probe, is_cand)
    adc = (
        codes.join(F.broadcast(lut), ["s", "cluster"])
        .groupBy("probe_id", "cand_id")
        .agg(F.sum("pd").alias("adc_d"))
        .transform(checkpoint_pinned)
    )
    w_adc = W.partitionBy("probe_id").orderBy(F.asc("adc_d"), F.asc("cand_id"))
    adc_top = (
        adc.withColumn("rnk", F.row_number().over(w_adc))
        .filter(F.col("rnk") <= RA_K)
        .select("probe_id", "cand_id")
    )
    adc_stat = adc.groupBy("probe_id").agg(F.count(F.lit(1)).alias("n_scored"))
    adc_hits = (
        adc_top.join(tl2, ["probe_id", "cand_id"])
        .groupBy("probe_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )

    plist = emb.filter(is_probe).select(F.col("vec_id").alias("probe_id"))

    def tier_rows(tier: str, stat: DataFrame, hits: DataFrame) -> DataFrame:
        return (
            plist.join(stat, "probe_id", "left")
            .join(hits, "probe_id", "left")
            .select(
                F.lit(tier).alias("tier"),
                "probe_id",
                F.coalesce("n_scored", F.lit(0)).cast("long").alias("n_scored"),
                F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits"),
                F.round(
                    F.coalesce("n_hits", F.lit(0)).cast("double")
                    / F.lit(float(RA_K)),
                    4,
                ).alias("recall"),
            )
        )

    return tier_rows("sign_lsh", lsh_stat, lsh_hits).unionByName(
        tier_rows("pq_adc", adc_stat, adc_hits)
    )


# ---------------------------------------------------------------------------
# Multi-probe LSH: recall lift per extra bucket, measured (round 10)
# ---------------------------------------------------------------------------


def _ann_multiprobe_mapper():
    """mapInPandas closure: (vec_id, embedding) -> 2·L rows (vec_id, tbl,
    bucket, variant): variant 0 is the standard sign-LSH bucket; variant 1
    flips the LOWEST-|margin| bit (the hyperplane the vector sits closest
    to — the bit most likely to differ for a true neighbor), ties to the
    smallest bit index (matches the oracle's CASE order and numpy
    argmin's first-occurrence rule)."""
    import numpy as np
    import pandas as pd

    kernel = _sign_lsh_kernel(ANN_LSH_TABLES, ANN_LSH_BITS)

    def _buckets(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            n = len(pdf)
            margins, bkt = kernel(pdf["embedding"])  # N x L x B, N x L
            amin = np.abs(margins).argmin(axis=2)  # N x L: weakest bit per table
            bkt_flip = bkt ^ (np.int64(1) << amin)
            ids = np.repeat(pdf["vec_id"].to_numpy(), ANN_LSH_TABLES)
            tbls = np.tile(np.arange(ANN_LSH_TABLES, dtype=np.int32), n)
            yield pd.DataFrame(
                {
                    "vec_id": np.concatenate([ids, ids]),
                    "tbl": np.concatenate([tbls, tbls]),
                    "bucket": np.concatenate(
                        [bkt.reshape(-1), bkt_flip.reshape(-1)]
                    ),
                    "variant": np.concatenate(
                        [np.zeros(n * ANN_LSH_TABLES, dtype=np.int32),
                         np.ones(n * ANN_LSH_TABLES, dtype=np.int32)]
                    ),
                }
            )

    return _buckets


def _ann_mp_sql() -> str:
    """Multiprobe audit oracle: exact-integer margins per (table, bit),
    weakest-bit flip with CASE-order ties, both probe variants vs the
    single-bucket index, exact-cosine rerank, recall vs exact truth."""
    planes = ann_sign_matrix()
    tables, bits = ANN_LSH_TABLES, ANN_LSH_BITS
    dot_cols = ",\n         ".join(
        f"{_plane_dot_sql(planes[t * bits + r])} AS d{t}_{r}"
        for t in range(tables)
        for r in range(bits)
    )
    # fl[t + 1] = table t's weakest bit: the first r whose |margin| is least
    flip_cols = ", ".join(
        "(CASE "
        + " ".join(
            f"WHEN abs(d{t}_{r}) = LEAST("
            + ", ".join(f"abs(d{t}_{q})" for q in range(bits))
            + f") THEN {r}"
            for r in range(bits)
        )
        + " END)"
        for t in range(tables)
    )
    return f"""
WITH {_SCALED_SQL},
{sign_lsh_sql("scaled", tables, bits)},
dots AS (
  SELECT vec_id,
         {dot_cols}
  FROM scaled
),
flips AS (
  SELECT vec_id, [{flip_cols}] AS fl FROM dots
),
banded1 AS (
  SELECT b.vec_id, b.tbl, xor(b.bucket, 1 << f.fl[b.tbl + 1]) AS bucket
  FROM banded b JOIN flips f ON f.vec_id = b.vec_id
),
pn AS (
  SELECT vec_id, iv, list_sum(list_transform(iv, x -> x * x)) AS n2 FROM scaled
),
rpairs AS (
  SELECT p.vec_id AS probe_id, c.vec_id AS cand_id,
         round(
           CAST(list_sum(list_transform(list_zip(p.iv, c.iv),
                                        z -> z[1] * z[2])) AS DOUBLE)
           / (sqrt(CAST(p.n2 AS DOUBLE)) * sqrt(CAST(c.n2 AS DOUBLE))), 6)
           AS cos_sim
  FROM pn p JOIN pn c ON c.{_ANN_INDEX}
  WHERE {_ra_probe_pred('p.')}
),
tcos AS (
  SELECT probe_id, cand_id FROM (
    SELECT probe_id, cand_id,
           row_number() OVER (PARTITION BY probe_id
                              ORDER BY cos_sim DESC, cand_id) AS rc
    FROM rpairs
  ) WHERE rc <= {RA_K}
),
hits_s AS (
  SELECT DISTINCT p.vec_id AS probe_id, i.vec_id AS cand_id
  FROM banded p JOIN banded i ON p.tbl = i.tbl AND p.bucket = i.bucket
  WHERE {_ra_probe_pred('p.')} AND i.{_ANN_INDEX}
),
hits_m AS (
  SELECT DISTINCT p.vec_id AS probe_id, i.vec_id AS cand_id
  FROM (SELECT * FROM banded UNION ALL SELECT * FROM banded1) p
  JOIN banded i ON p.tbl = i.tbl AND p.bucket = i.bucket
  WHERE {_ra_probe_pred('p.')} AND i.{_ANN_INDEX}
),
plist AS (
  SELECT vec_id AS probe_id FROM embeddings WHERE {_ra_probe_pred()}
),
stat_s AS (SELECT probe_id, CAST(count(*) AS BIGINT) AS n_scored
           FROM hits_s GROUP BY 1),
stat_m AS (SELECT probe_id, CAST(count(*) AS BIGINT) AS n_scored
           FROM hits_m GROUP BY 1),
top_s AS (
  SELECT probe_id, cand_id FROM (
    SELECT h.probe_id, h.cand_id,
           row_number() OVER (PARTITION BY h.probe_id
                              ORDER BY r.cos_sim DESC, h.cand_id) AS rnk
    FROM hits_s h
    JOIN rpairs r ON r.probe_id = h.probe_id AND r.cand_id = h.cand_id
  ) WHERE rnk <= {RA_K}
),
top_m AS (
  SELECT probe_id, cand_id FROM (
    SELECT h.probe_id, h.cand_id,
           row_number() OVER (PARTITION BY h.probe_id
                              ORDER BY r.cos_sim DESC, h.cand_id) AS rnk
    FROM hits_m h
    JOIN rpairs r ON r.probe_id = h.probe_id AND r.cand_id = h.cand_id
  ) WHERE rnk <= {RA_K}
),
rec_s AS (
  SELECT t.probe_id, CAST(count(*) AS BIGINT) AS n_hits
  FROM top_s t
  JOIN tcos ON tcos.probe_id = t.probe_id AND tcos.cand_id = t.cand_id
  GROUP BY 1
),
rec_m AS (
  SELECT t.probe_id, CAST(count(*) AS BIGINT) AS n_hits
  FROM top_m t
  JOIN tcos ON tcos.probe_id = t.probe_id AND tcos.cand_id = t.cand_id
  GROUP BY 1
)
SELECT 'single' AS tier, p.probe_id,
       CAST(coalesce(s.n_scored, 0) AS BIGINT) AS n_scored,
       CAST(coalesce(r.n_hits, 0) AS BIGINT) AS n_hits,
       round(CAST(coalesce(r.n_hits, 0) AS DOUBLE) / {RA_K}.0, 4) AS recall
FROM plist p
LEFT JOIN stat_s s ON s.probe_id = p.probe_id
LEFT JOIN rec_s r ON r.probe_id = p.probe_id
UNION ALL
SELECT 'multiprobe_2' AS tier, p.probe_id,
       CAST(coalesce(s.n_scored, 0) AS BIGINT) AS n_scored,
       CAST(coalesce(r.n_hits, 0) AS BIGINT) AS n_hits,
       round(CAST(coalesce(r.n_hits, 0) AS DOUBLE) / {RA_K}.0, 4) AS recall
FROM plist p
LEFT JOIN stat_m s ON s.probe_id = p.probe_id
LEFT JOIN rec_m r ON r.probe_id = p.probe_id"""


@register("ann_multiprobe_audit", oracle=_ann_mp_sql(), category="similarity")
def ann_multiprobe_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe LSH — the tuning move ``ann_recall_audit`` motivates,
    with its effect MEASURED under the same harness: instead of paying
    for more tables (index storage doubles per table), each probe ALSO
    queries, per table, the bucket reached by flipping its weakest bit —
    the hyperplane whose exact int64 margin |dot| is smallest, i.e. the
    boundary a true neighbor most plausibly sits across (Lv et al.'s
    multi-probe LSH, step-1 perturbation). The INDEX is untouched: the
    extra recall is bought with probe-side work only, which is the whole
    appeal at 100 TB — re-bucketing the corpus is a backfill job, adding
    probe variants is a code change.

    Output: per probe × tier (``single`` vs ``multiprobe_2`` = 2 buckets/
    table), candidates scored and recall@{RA_K} against exact cosine
    truth. Measured at sf0.01: single scores a mean 13.2 cands/probe for
    mean recall 0.14; multiprobe_2 scores 25.6 (1.9x) for recall 0.26
    (1.9x) — on this near-random corpus the step-1 perturbation buys
    recall almost linearly in candidates, the regime where adding probes
    beats adding tables (the flip-bit margins, buckets, and recall
    arithmetic are all exact integers ⇒ full value oracle).

    Scale: identical join shape to the single-probe tier — the probe
    side is 2·L rows per probe instead of L; the index side and its
    partition pruning are unchanged.
    """
    # ONE parquet scan, pinned; all derivations (norms, both bucket
    # mappers, probe panel) consume the checkpoint (rescan-budget test).
    emb = checkpoint_pinned(
        fan_out(
            read_table(spark, sf_dir, "embeddings").select(
                "vec_id", "embedding"
            ),
            "vec_id",
        )
    )
    is_probe = F.expr(_ra_probe_pred())
    is_cand = F.expr(_ANN_INDEX)
    vm = emb.select("vec_id", _int_micro("embedding").alias("v"))
    n2 = _int_norm2_raw("v")
    normed = checkpoint_pinned(vm.select("vec_id", "v", n2.alias("n2")))
    probes = F.broadcast(
        normed.filter(is_probe).select(
            F.col("vec_id").alias("probe_id"),
            F.col("v").alias("pv"),
            F.col("n2").alias("pn2"),
        )
    )
    cands = normed.filter(is_cand).select(
        F.col("vec_id").alias("cand_id"),
        F.col("v").alias("cv"),
        F.col("n2").alias("cn2"),
    )
    int_dot_vv = _int_dot_raw("pv", "cv")
    pairs = checkpoint_pinned(
        probes.join(cands).select(
            "probe_id",
            "cand_id",
            cosine(int_dot_vv, F.col("pn2"), F.col("cn2")).alias("cos_sim"),
        )
    )
    w_cos = W.partitionBy("probe_id").orderBy(
        F.desc("cos_sim"), F.asc("cand_id")
    )
    # Round 16 (guide §3.3): tcos (truth top-K) and ib (the corpus-side
    # bucket index) are each consumed by BOTH tiers — unpinned, the
    # truth window re-ran and the full bucket-mapper pass over the
    # candidate corpus executed twice. Pinned: tcos is probes×RA_K rows;
    # ib is the persisted index relation a production serving path reads
    # from storage anyway.
    tcos = checkpoint_pinned(
        pairs.withColumn("rc", F.row_number().over(w_cos))
        .filter(F.col("rc") <= RA_K)
        .select("probe_id", "cand_id")
    )

    mp = emb.filter(is_probe).select("vec_id", "embedding").mapInPandas(
        _ann_multiprobe_mapper(),
        "vec_id long, tbl int, bucket long, variant int",
    )
    pb = checkpoint_pinned(
        mp.select(F.col("vec_id").alias("probe_id"), "tbl", "bucket", "variant")
    )
    ib = checkpoint_pinned(
        ann_lsh_buckets(emb.filter(is_cand)).select(
            F.col("vec_id").alias("cand_id"), "tbl", "bucket"
        )
    )

    def tier(name: str, probe_rows: DataFrame) -> DataFrame:
        hits = checkpoint_pinned(
            probe_rows.join(ib, ["tbl", "bucket"])
            .select("probe_id", "cand_id")
            .distinct()
        )
        stat = hits.groupBy("probe_id").agg(
            F.count(F.lit(1)).alias("n_scored")
        )
        top = (
            hits.join(pairs, ["probe_id", "cand_id"])
            .withColumn("rnk", F.row_number().over(w_cos))
            .filter(F.col("rnk") <= RA_K)
            .select("probe_id", "cand_id")
        )
        rec = (
            top.join(tcos, ["probe_id", "cand_id"])
            .groupBy("probe_id")
            .agg(F.count(F.lit(1)).alias("n_hits"))
        )
        plist = emb.filter(is_probe).select(F.col("vec_id").alias("probe_id"))
        return (
            plist.join(stat, "probe_id", "left")
            .join(rec, "probe_id", "left")
            .select(
                F.lit(name).alias("tier"),
                "probe_id",
                F.coalesce("n_scored", F.lit(0)).cast("long").alias("n_scored"),
                F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits"),
                F.round(
                    F.coalesce("n_hits", F.lit(0)).cast("double")
                    / F.lit(float(RA_K)),
                    4,
                ).alias("recall"),
            )
        )

    return tier("single", pb.filter(F.col("variant") == 0)).unionByName(
        tier("multiprobe_2", pb.select("probe_id", "tbl", "bucket"))
    )


# ---------------------------------------------------------------------------
# PCA top component via power iteration (full value oracle) — round 10
# ---------------------------------------------------------------------------

PCA_ITERS = 3
_PCA_DIM = 64


def _pca_oracle() -> str:
    """Unrolled power iterations in DuckDB SQL, the ``_kmeans_oracle``
    recipe: int64-micro vectors, exact integer dots and per-dim sums,
    one quantization boundary per iteration (t to micro, w to
    unit-micro via a single sqrt+round), DECIMAL(38,0) for the two sums
    whose squares exceed int64 — so the whole trajectory replays
    bit-for-bit in any engine."""
    head = f"""WITH vm AS (
  SELECT vec_id, list_transform(embedding,
           y -> CAST(round(y::DOUBLE * 1000000) AS BIGINT)) AS v
  FROM embeddings
),
u AS (
  SELECT g.i AS dim,
         CAST(round(CAST(sum(v[g.i]) AS DOUBLE) / count(*)) AS BIGINT) AS m
  FROM vm, (SELECT unnest(range(1, {_PCA_DIM} + 1)) AS i) g
  GROUP BY 1
),
muv AS (SELECT list(m ORDER BY dim) AS mu FROM u),
cv AS (
  SELECT vm.vec_id, list_transform(vm.v, (x, i) -> x - muv.mu[i]) AS c
  FROM vm, muv
),
w0 AS (SELECT list_transform(range(1, {_PCA_DIM} + 1),
                             i -> CAST(1000000 AS BIGINT)) AS w)"""
    its = []
    for k in range(1, PCA_ITERS + 1):
        its.append(f""", t{k} AS (
  SELECT cv.vec_id,
         CAST(round(CAST(list_sum(list_transform(cv.c,
               (x, i) -> x * w{k - 1}.w[i])) AS DOUBLE) / 1000000.0)
              AS BIGINT) AS t
  FROM cv, w{k - 1}
), p{k} AS (
  SELECT g.i AS dim, CAST(sum(cv.c[g.i] * t{k}.t) AS BIGINT) AS wp
  FROM cv JOIN t{k} USING (vec_id),
       (SELECT unnest(range(1, {_PCA_DIM} + 1)) AS i) g
  GROUP BY 1
), n{k} AS (
  SELECT sqrt(CAST(sum(CAST(wp AS DECIMAL(38, 0))
                       * CAST(wp AS DECIMAL(38, 0))) AS DOUBLE)) AS nrm
  FROM p{k}
), w{k} AS (
  SELECT list(CAST(round(CAST(wp AS DOUBLE) * 1000000.0 / n{k}.nrm)
                   AS BIGINT) ORDER BY dim) AS w
  FROM p{k}, n{k} GROUP BY n{k}.nrm
)""")
    tail = f"""
, tf AS (
  SELECT cv.vec_id,
         CAST(round(CAST(list_sum(list_transform(cv.c,
               (x, i) -> x * w{PCA_ITERS}.w[i])) AS DOUBLE) / 1000000.0)
              AS BIGINT) AS t
  FROM cv, w{PCA_ITERS}
), ray AS (
  SELECT CAST(sum(CAST(t AS DECIMAL(38, 0)) * CAST(t AS DECIMAL(38, 0)))
              AS DOUBLE) AS tt,
         CAST(count(*) AS BIGINT) AS n_rows
  FROM tf
)
SELECT CAST(g.i - 1 AS INTEGER) AS dim_idx,
       w{PCA_ITERS}.w[g.i] AS eigvec_micro,
       round(ray.tt / ray.n_rows / 1000000000000.0, 4) AS lambda_est
FROM w{PCA_ITERS}, ray, (SELECT unnest(range(1, {_PCA_DIM} + 1)) AS i) g"""
    return head + "".join(its) + tail


@register("pca_power_iteration", oracle=_pca_oracle(), category="similarity")
def pca_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component of the embedding cloud by three (=
    ``PCA_ITERS``) power iterations, with a FULL value oracle — the spectral/linear-
    algebra member of the ML family (k-means gives centroids, JL gives
    random projections; this gives the data-adaptive projection, the
    first step of PCA whitening and the classic embedding-drift
    diagnostic). The covariance matrix is never materialized: each
    iteration applies it as two passes over the centered vectors —
    per-row projection t_j = c_j·w (exact int64 dot via zip_with/
    aggregate, quantized to micro), then per-dim back-projection
    w'_i = Σ_j c_j[i]·t_j (one 64-key combine aggregate) — followed by
    one sqrt+round renormalization to unit-micro. All magnitudes are
    bounded by design (|c·t| ≤ 3.2e13/row; the two sums whose squares
    exceed int64 use DECIMAL(38,0), the ``feature_zscore_by_label``
    trick), so DuckDB replays the whole trajectory bit-for-bit.
    Emitted: the unit eigenvector (micro) and the Rayleigh-quotient
    eigenvalue evaluated AT the final vector (one extra projection
    pass, so the number is the variance along the returned direction —
    pytest re-derives it with numpy) — 0.0219 at sf0.01 vs the
    1/64 ≈ 0.0156 isotropic floor (near-isotropic synthetic embeddings: weak but real top
    direction; iteration count is the convergence knob and multiplies
    passes, not shuffle width).

    Scale: per iteration one broadcast of the 64-int w, one linear
    projection pass, one 64-key map-side-combinable aggregate — the
    same pass structure as ``kmeans_lloyd_centroids``, and like it the
    centered table is pinned once (vm is consumed every pass). The
    mean vector is one 64-column aggregate (exact integer sums, one
    rounded division per dim).
    """
    emb = read_table(spark, sf_dir, "embeddings")
    vm = emb.select("vec_id", _int_micro("embedding").alias("v")).transform(
        checkpoint_pinned
    )
    mu = vm.agg(
        *[
            F.round(
                F.sum(F.col("v").getItem(i)).cast("double")
                / F.count(F.lit(1))
            )
            .cast("long")
            .alias(f"m{i}")
            for i in range(_PCA_DIM)
        ]
    ).select(F.array(*[F.col(f"m{i}") for i in range(_PCA_DIM)]).alias("mu"))
    cv = (
        vm.crossJoin(F.broadcast(mu))
        .select(
            "vec_id",
            F.zip_with("v", "mu", lambda x, m: x - m).alias("c"),
        )
        .transform(checkpoint_pinned)
    )
    w = spark.range(1).select(
        F.array(*[F.lit(1_000_000).cast("long")] * _PCA_DIM).alias("w")
    )
    for _ in range(PCA_ITERS):
        t = F.round(
            _int_dot_raw("c", "w").cast("double")
            / 1_000_000.0
        ).cast("long")
        # single consumer (the Rayleigh pass re-projects at the final w)
        # — no pin, the pinned cv feeds each pass
        wp = (
            cv.crossJoin(F.broadcast(w))
            .select("vec_id", "c", t.alias("t"))
            .select("t", F.posexplode_outer("c").alias("pos", "val"))
            .filter(F.col("pos").isNotNull())
            .groupBy("pos")
            .agg(F.sum(F.col("val") * F.col("t")).alias("wp"))
        )
        nrm = wp.agg(
            F.sqrt(
                F.sum(
                    F.col("wp").cast("decimal(38,0)")
                    * F.col("wp").cast("decimal(38,0)")
                ).cast("double")
            ).alias("nrm")
        )
        w = (
            wp.crossJoin(F.broadcast(nrm))
            .select(
                "pos",
                F.round(F.col("wp").cast("double") * 1_000_000.0 / F.col("nrm"))
                .cast("long")
                .alias("wn"),
            )
            .groupBy()
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "wn"))),
                    lambda s: s.wn,
                ).alias("w")
            )
            .transform(checkpoint_pinned)
        )
    t_final = F.round(
        _int_dot_raw("c", "w").cast("double")
        / 1_000_000.0
    ).cast("long")
    tfin = cv.crossJoin(F.broadcast(w)).select(t_final.alias("t"))
    ray = tfin.agg(
        F.sum(
            F.col("t").cast("decimal(38,0)") * F.col("t").cast("decimal(38,0)")
        )
        .cast("double")
        .alias("tt"),
        F.count(F.lit(1)).cast("long").alias("n_rows"),
    )
    return (
        w.crossJoin(F.broadcast(ray))
        .select(
            F.posexplode("w").alias("pos", "eigvec_micro"),
            F.round(F.col("tt") / F.col("n_rows") / 1e12, 4).alias(
                "lambda_est"
            ),
        )
        .select(
            F.col("pos").cast("integer").alias("dim_idx"),
            "eigvec_micro",
            "lambda_est",
        )
    )


# ---------------------------------------------------------------------------
# Embedding diversity score — round 10
# ---------------------------------------------------------------------------

DIV_Q = 10**6  # unit-vector micro quantization (the _l2_unit_micro grain)

# Mean pairwise cosine over a set of UNIT vectors collapses to the
# mean-vector identity: Σ_{i≠j} u_i·u_j = ||Σu||² − Σ||u||², so the whole
# metric is ONE linear pass — no pairwise join ever. Norms fold
# sequentially (list_reduce ↔ F.aggregate, identical left-to-right IEEE
# order); unit components quantize to int64 micro-units BEFORE any
# cross-row sum, so component sums and the final squared norms are exact
# integers/decimals in both engines.
_DIVERSITY_SQL = f"""
WITH n1 AS (
  SELECT vec_id, label, embedding,
         sqrt(list_reduce(list_transform(embedding,
                x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
              (a, b) -> a + b)) AS nrm
  FROM embeddings
),
q AS (
  SELECT vec_id, label,
         list_transform(embedding,
           x -> CAST(floor(CAST(x AS DOUBLE) / nrm * {DIV_Q}) AS BIGINT)) AS u
  FROM n1
),
comp AS (
  SELECT label, unnest(u) AS qv,
         unnest(list_transform(u, (x, i) -> i)) AS pos
  FROM q
),
sums AS (
  SELECT label, pos, CAST(sum(qv) AS BIGINT) AS s,
         sum(CAST(qv AS DECIMAL(38,0)) * CAST(qv AS DECIMAL(38,0))) AS q2
  FROM comp GROUP BY label, pos
),
agg AS (
  SELECT label,
         sum(CAST(s AS DECIMAL(38,0)) * CAST(s AS DECIMAL(38,0))) AS ss,
         sum(q2) AS sumq2
  FROM sums GROUP BY label
),
n AS (SELECT label, CAST(count(*) AS BIGINT) AS n_vectors FROM q GROUP BY label)
SELECT CAST(n.label AS BIGINT) AS label, n.n_vectors,
       round((CAST(agg.ss AS DOUBLE) - CAST(agg.sumq2 AS DOUBLE))
             / n.n_vectors / (n.n_vectors - 1) / {DIV_Q}.0 / {DIV_Q}.0, 6)
         AS avg_pairwise_cosine,
       round(1.0 - (CAST(agg.ss AS DOUBLE) - CAST(agg.sumq2 AS DOUBLE))
             / n.n_vectors / (n.n_vectors - 1) / {DIV_Q}.0 / {DIV_Q}.0, 6)
         AS diversity
FROM agg JOIN n ON n.label = agg.label
"""


@register(
    "embedding_diversity_score", oracle=_DIVERSITY_SQL, category="similarity"
)
def embedding_diversity_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding diversity — mean pairwise cosine similarity of
    the label's unit vectors, and 1 − that as the diversity score: the
    corpus-health metric a curation pipeline watches to catch mode
    collapse (near-duplicate embeddings → cosine ≈ 1, diversity ≈ 0) or
    drift toward isotropy. Computed WITHOUT any pairwise join via the
    mean-vector identity Σ_{{i≠j}} u_i·u_j = ||Σu||² − Σ||u||² — one
    linear pass over n·d components regardless of n².

    Determinism: per-vector norms fold sequentially (``F.aggregate`` ↔
    ``list_reduce``, identical left-to-right IEEE order); unit
    components quantize to int64 micro-units before ANY cross-row sum,
    so component sums are exact integers and the squared norms exact
    DECIMAL(38,0) — the one double division happens per label. Scale:
    component sums shuffle (label, dim) keys — d·|labels| rows."""
    emb = read_table(spark, sf_dir, "embeddings")
    xd = lambda x: x.cast("double")  # noqa: E731
    nrm = F.sqrt(
        F.aggregate(
            F.col("embedding"), F.lit(0.0), lambda a, x: a + xd(x) * xd(x)
        )
    )
    q = checkpoint_pinned(
        emb.select(
            "vec_id",
            "label",
            F.transform(
                F.col("embedding"),
                lambda x: F.floor(xd(x) / nrm * DIV_Q).cast("long"),
            ).alias("u"),
        )
    )
    comp = q.select("label", F.posexplode("u").alias("pos", "qv"))
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    sums = comp.groupBy("label", "pos").agg(
        F.sum("qv").cast("long").alias("s"),
        F.sum(dec("qv") * dec("qv")).alias("q2"),
    )
    agg = sums.groupBy("label").agg(
        F.sum(dec("s") * dec("s")).alias("ss"),
        F.sum("q2").alias("sumq2"),
    )
    n = q.groupBy("label").agg(F.count(F.lit(1)).cast("long").alias("n_vectors"))
    qd = float(DIV_Q)
    avg_cos = (
        (F.col("ss").cast("double") - F.col("sumq2").cast("double"))
        / F.col("n_vectors")
        / (F.col("n_vectors") - 1)
        / qd
        / qd
    )
    return (
        agg.join(n, "label")
        .select(
            F.col("label").cast("long").alias("label"),
            "n_vectors",
            F.round(avg_cos, 6).alias("avg_pairwise_cosine"),
            F.round(1.0 - avg_cos, 6).alias("diversity"),
        )
    )


# ---------------------------------------------------------------------------
# LSH geometry-scaling audit (round 12)
# ---------------------------------------------------------------------------

# The round-12 scale probe's build/probe split made the fixed-geometry cost
# model visible: at constant (L, B), per-probe RANDOM candidates grow with
# the index (~N*L/2^B), so probe cost trends toward m² as index and batch
# both grow m×. The production answer is to scale B with log N — this audit
# MEASURES that knob. One max-resolution banding pass (the existing 48
# seeded ±1 planes regrouped as 4 tables × 12 bits); every coarser geometry
# B < 12 derives by integer masking, because bit r carries weight 2^r:
#     bucket_B = bucket_12 % 2^B
# — the same trick a production store uses (persist max-resolution
# signatures once; serve any coarser geometry by masking, no re-banding).
GEO_TABLES = 4
GEO_BITS_MAX = 12
GEO_LADDER = (6, 8, 10, 12)


def _geo_audit_sql() -> str:
    per_geo = "\nUNION ALL\n".join(
        f"""SELECT {b} AS bits,
       CAST(count(DISTINCT p.vec_id) AS BIGINT) AS n_probes_colliding,
       CAST(count(DISTINCT (p.vec_id, i.vec_id)) AS BIGINT) AS total_pairs,
       CAST(count(DISTINCT (p.vec_id, i.vec_id, p.tbl)) AS BIGINT)
         AS total_hits
FROM banded p JOIN banded i
  ON p.tbl = i.tbl AND (p.bucket % {1 << b}) = (i.bucket % {1 << b})
WHERE p.{_ANN_PROBE} AND i.{_ANN_INDEX}"""
        for b in GEO_LADDER
    )
    return f"""
WITH {_SCALED_SQL},
{sign_lsh_sql("scaled", GEO_TABLES, GEO_BITS_MAX)}
{per_geo}
"""


@register(
    "ann_geometry_scaling_audit",
    oracle=_geo_audit_sql(),
    category="similarity",
)
def ann_geometry_scaling_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MEASURED LSH geometry scaling — the production knob the round-12
    scale probe's build/probe split exposed: at fixed (L, B) geometry,
    per-probe random candidates grow with the index (~N·L/2^B), so probe
    cost trends toward m² as index and batch grow together; holding
    candidates constant requires B ≈ log2(N·L / target). This audit
    measures the candidate curve across a bit-ladder B ∈ {6, 8, 10, 12}
    on the SAME {GEO_TABLES}-table family: vectors are banded ONCE at max
    resolution (12 bits, the seeded ±1 planes of the incremental-ANN
    family regrouped 4×12), and every coarser geometry derives by integer
    masking (bit r carries weight 2^r ⇒ bucket_B = bucket_12 % 2^B) —
    the persist-max-resolution / mask-to-serve pattern a production
    store uses, so the ladder costs one banding pass, not four.

    Output: one row per B — probes with ≥1 index collision, distinct
    (probe, candidate) pairs, and total per-table hits. The measured
    curve halves candidates per added bit (±mixing noise), the evidence
    behind SCALING.md's "scale B with log N" reading. Full value oracle:
    plane literals + masking arithmetic are engine-portable (the
    rp_sign_matrix discipline). Recall-vs-truth across geometries is
    ``ann_recall_audit``'s job; this query prices candidates.

    Scale: one Arrow banding pass (no shuffle) into a checkpointed
    (N·L)-row bucket table; each ladder rung is one masked equi-join on
    (tbl, bucket % 2^B) — shuffle payload is the narrow bucket rows, and
    at 100 TB each rung prunes to matching masked-bucket partitions of a
    bucketBy-written signature table exactly like the incremental probe.
    """
    emb = read_table(spark, sf_dir, "embeddings")
    banded = checkpoint_pinned(sign_lsh_buckets(emb, GEO_TABLES, GEO_BITS_MAX))
    probe = banded.filter(F.expr(_ANN_PROBE)).select(
        F.col("vec_id").alias("probe_id"), "tbl", "bucket"
    )
    index = banded.filter(F.expr(_ANN_INDEX)).select(
        F.col("vec_id").alias("cand_id"),
        "tbl",
        F.col("bucket").alias("i_bucket"),
    )
    out: DataFrame | None = None
    for b in GEO_LADDER:
        mask = 1 << b
        hits = probe.withColumn("mb", F.col("bucket") % mask).join(
            index.withColumn("mb", F.col("i_bucket") % mask),
            ["tbl", "mb"],
        )
        row = hits.agg(
            F.lit(b).alias("bits"),
            F.countDistinct("probe_id").alias("n_probes_colliding"),
            F.countDistinct("probe_id", "cand_id").alias("total_pairs"),
            F.countDistinct("probe_id", "cand_id", "tbl").alias("total_hits"),
        ).select("bits", "n_probes_colliding", "total_pairs", "total_hits")
        out = row if out is None else out.unionAll(row)
    assert out is not None
    return out


ann_geometry_scaling_audit.__doc__ = ann_geometry_scaling_audit.__doc__.replace(
    "{GEO_TABLES}", str(GEO_TABLES)
)


# ---------------------------------------------------------------------------
# Geometry-ADAPTIVE incremental ANN probe (round 13) — the registered
# production serving path built on the audit's persist-at-max-resolution /
# mask-to-serve pattern. VERDICT r12 task 1: the fixed-geometry
# `ann_incremental_probe` measured a 137.8x probe wall at a 100x corpus
# (per-probe random candidates ~ N·L/2^B grow with N at fixed B); this
# variant holds candidates ~constant by choosing B from the index's own
# exact row count, so the probe wall tracks the batch.
# ---------------------------------------------------------------------------

ADX_TABLES = 3
ADX_BITS_MAX = 16  # persist resolution: the 48 seeded planes regrouped 3x16
ADX_BITS_MIN = 4
# target EXPECTED random candidates per probe across all tables: serve_bits
# = min b in [ADX_BITS_MIN, ADX_BITS_MAX] with 2^b * target >= index rows
# (index rows = N_index * ADX_TABLES, so E[candidates] = rows/2^b <= target)
ADX_TARGET_CANDIDATES = 64


def adx_lsh_buckets(emb: DataFrame) -> DataFrame:
    """``sign_lsh_buckets`` at the persisted max resolution, ADX_TABLES x
    ADX_BITS_MAX."""
    return sign_lsh_buckets(emb, ADX_TABLES, ADX_BITS_MAX)


def ann_adaptive_build(spark: SparkSession, sf_dir: str) -> str:
    """Build + persist the max-resolution (16-bit) sign-LSH index over the
    90% corpus slice, table-partitioned. Banding happens ONCE at B_max;
    every serving geometry B <= 16 derives later by integer masking
    (bucket % 2^B — bit r carries weight 2^r), so a re-tune of the serve
    geometry never re-bands the corpus."""
    emb = read_table(spark, sf_dir, "embeddings")
    out_dir = invocation_dir("ann_adx")
    adx_lsh_buckets(emb.filter(F.expr(_ANN_INDEX))).write.mode(
        "overwrite"
    ).partitionBy("tbl").parquet(out_dir)
    return out_dir


def _adx_serve_bits(index: DataFrame) -> DataFrame:
    """1-row (serve_bits int) derived from the index's EXACT row count:
    the smallest B in [ADX_BITS_MIN, ADX_BITS_MAX] with
    2^B * ADX_TARGET_CANDIDATES >= index rows (i.e. expected random
    candidates per probe = rows/2^B <= target), clamped to B_max when the
    index outgrows the persisted resolution. Pure 1-row algebra off a
    count aggregate — broadcast back, never a driver read."""
    nl = index.agg(F.count(F.lit(1)).cast("long").alias("nl"))
    ladder = nl.select(
        "nl",
        F.explode(
            F.sequence(F.lit(ADX_BITS_MIN), F.lit(ADX_BITS_MAX))
        ).alias("b"),
    )
    return (
        ladder.filter(
            F.expr(
                "shiftleft(CAST(1 AS BIGINT), b) * "
                f"{ADX_TARGET_CANDIDATES} >= nl"
            )
        )
        .agg(
            F.coalesce(F.min("b"), F.lit(ADX_BITS_MAX))
            .cast("int")
            .alias("serve_bits"),
        )
    )


def ann_adaptive_serve(
    spark: SparkSession, sf_dir: str, index_dir: str
) -> DataFrame:
    """Probe-only plan against the ALREADY-persisted max-resolution index
    in ``index_dir`` (as returned by ``ann_adaptive_build``): derive
    serve_bits from the index's exact row count, mask both sides to the
    serving geometry (bucket % 2^serve_bits), equi-join on (tbl, masked
    bucket), then exact-cosine rerank — the steady-state batch cost with
    both the index build AND the geometry re-tune amortized away."""
    emb = read_table(spark, sf_dir, "embeddings")
    index = spark.read.parquet(index_dir).select(
        F.col("vec_id").alias("cand_id"),
        F.col("tbl").cast("int").alias("tbl"),
        "bucket",
    )
    # Round 17 (guide §3.3): `serve` is a 1-row frame consumed by TWO
    # broadcasts (the probe mask and the index mask) — unpinned, each
    # broadcast re-ran the index count; pinned, the count runs once.
    serve = checkpoint_pinned(_adx_serve_bits(index))
    mask = F.expr("shiftleft(CAST(1 AS BIGINT), serve_bits)")
    p = (
        adx_lsh_buckets(emb.filter(F.expr(_ANN_PROBE)))
        .select(F.col("vec_id").alias("probe_id"), "tbl", "bucket")
        .crossJoin(F.broadcast(serve))
        .select("probe_id", "tbl", "serve_bits", (F.col("bucket") % mask).alias("mb"))
    )
    i = (
        index.crossJoin(F.broadcast(serve))
        .select("cand_id", "tbl", (F.col("bucket") % mask).alias("mb"))
    )
    hits = checkpoint_pinned(p.join(i, ["tbl", "mb"]))
    stats = hits.groupBy("probe_id", "serve_bits").agg(
        F.countDistinct("tbl").alias("n_tables_hit"),
        F.countDistinct("cand_id").alias("n_candidates"),
    )
    # Round 17 (guide §3.3): normed feeds BOTH sides of the rerank join —
    # unpinned, the embeddings scan + n2 projection executed twice (the
    # ann_recall_audit pinned-normed pattern applied here)
    normed = checkpoint_pinned(
        emb.select("vec_id", "embedding", int_norm2("embedding").alias("n2"))
    )
    pairs = hits.select("probe_id", "cand_id").distinct()
    scored = (
        pairs.join(
            normed.select(
                F.col("vec_id").alias("probe_id"),
                F.col("embedding").alias("p_emb"),
                F.col("n2").alias("p_n2"),
            ),
            "probe_id",
        )
        .join(
            normed.select(
                F.col("vec_id").alias("cand_id"),
                F.col("embedding").alias("c_emb"),
                F.col("n2").alias("c_n2"),
            ),
            "cand_id",
        )
        .select(
            "probe_id",
            "cand_id",
            cosine(
                int_dot("p_emb", "c_emb"), F.col("p_n2"), F.col("c_n2")
            ).alias("cos_sim"),
        )
    )
    w = W.partitionBy("probe_id").orderBy(F.desc("cos_sim"), F.asc("cand_id"))
    best = (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") == 1)
        .select(
            "probe_id",
            F.col("cand_id").alias("best_cand_id"),
            F.col("cos_sim").alias("best_cos"),
        )
    )
    return stats.join(best, "probe_id").select(
        "probe_id",
        "serve_bits",
        "n_tables_hit",
        "n_candidates",
        "best_cand_id",
        "best_cos",
    )


def _adx_sql() -> str:
    return f"""
WITH {_SCALED_SQL},
{sign_lsh_sql("scaled", ADX_TABLES, ADX_BITS_MAX)},
nl AS (
  SELECT CAST(count(*) AS BIGINT) AS nl FROM banded WHERE {_ANN_INDEX}
),
serve AS (
  SELECT CAST(coalesce(min(b), {ADX_BITS_MAX}) AS INTEGER) AS serve_bits
  FROM (SELECT unnest(range({ADX_BITS_MIN}, {ADX_BITS_MAX} + 1)) AS b) g, nl
  WHERE (CAST(1 AS BIGINT) << b) * {ADX_TARGET_CANDIDATES} >= nl
),
hits AS (
  SELECT p.vec_id AS probe_id, i.vec_id AS cand_id, p.tbl, s.serve_bits
  FROM banded p
  JOIN banded i ON p.tbl = i.tbl
  JOIN serve s ON (p.bucket % (CAST(1 AS BIGINT) << s.serve_bits))
                = (i.bucket % (CAST(1 AS BIGINT) << s.serve_bits))
  WHERE p.{_ANN_PROBE} AND i.{_ANN_INDEX}
),
stats AS (
  SELECT probe_id, serve_bits,
         CAST(count(DISTINCT tbl) AS BIGINT) AS n_tables_hit,
         CAST(count(DISTINCT cand_id) AS BIGINT) AS n_candidates
  FROM hits GROUP BY probe_id, serve_bits
),
pairs AS (
  SELECT DISTINCT probe_id, cand_id FROM hits
),
normed AS (
  SELECT vec_id, iv,
         list_sum(list_transform(iv, x -> x * x)) AS n2
  FROM scaled
),
scored AS (
  SELECT pr.probe_id, pr.cand_id,
         round(
           CAST(list_sum(list_transform(list_zip(p.iv, c.iv),
                                        z -> z[1] * z[2])) AS DOUBLE)
           / (sqrt(CAST(p.n2 AS DOUBLE)) * sqrt(CAST(c.n2 AS DOUBLE))), 6)
           AS cos_sim
  FROM pairs pr
  JOIN normed p ON p.vec_id = pr.probe_id
  JOIN normed c ON c.vec_id = pr.cand_id
),
best AS (
  SELECT probe_id, cand_id AS best_cand_id, cos_sim AS best_cos
  FROM (
    SELECT *, row_number() OVER (
             PARTITION BY probe_id ORDER BY cos_sim DESC, cand_id) AS rnk
    FROM scored
  ) WHERE rnk = 1
)
SELECT s.probe_id, s.serve_bits, s.n_tables_hit, s.n_candidates,
       b.best_cand_id, b.best_cos
FROM stats s JOIN best b ON b.probe_id = s.probe_id
"""


@register("ann_adaptive_probe", oracle=_adx_sql(), category="similarity")
def ann_adaptive_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The geometry-ADAPTIVE production ANN serving path (VERDICT r12
    task 1) — ``ann_incremental_probe`` with the ONE change the 100x
    scale probe demanded: instead of serving at a fixed
    (ANN_LSH_TABLES x ANN_LSH_BITS) geometry whose per-probe random
    candidates grow with the index (~N·L/2^B — the measured 137.8x
    probe wall at a 100x corpus, SCALING.md r12), the index is persisted
    banded ONCE at max resolution ({ADX_TABLES} tables x {ADX_BITS_MAX}
    bits, the same 48 seeded ±1 planes regrouped), and the serving
    geometry is DERIVED from the index's exact row count:

        serve_bits = min B in [{ADX_BITS_MIN}, {ADX_BITS_MAX}] with
                     2^B * {ADX_TARGET_CANDIDATES} >= index_rows

    so E[random candidates per probe] = index_rows / 2^serve_bits stays
    <= {ADX_TARGET_CANDIDATES} as the corpus grows — the
    ``ann_geometry_scaling_audit`` pattern (bucket_B = bucket_Bmax % 2^B,
    because bit r carries weight 2^r) promoted from audit to the
    registered serving path. The fixed-geometry probe stays registered
    beside this as the disclosed contrast.

    Batch flow: the 10% new batch bands itself at max resolution (one
    Arrow matmul pass), both sides mask to the derived geometry, a
    (tbl, masked-bucket) equi-join yields candidates, and candidates are
    exact-cosine reranked (int64 dot / sqrt-norm) with deterministic
    ties. Output per colliding probe: the serving geometry, tables hit,
    distinct candidates, and the best candidate with its cosine. FULL
    value oracle: plane literals, the count-derived serve_bits ladder,
    and the masking arithmetic are all engine-portable.

    Scale: the serve-bits rule holds per-probe candidates ~constant, so
    probe cost is O(batch x (L + target_candidates)) — linear in the
    batch, flat in the index — while build stays O(N·L) banding plus a
    partitioned write, both corpus-linear. At 100 TB the persisted
    max-resolution table is bucketBy(bucket) so masked probes co-locate
    by bucket prefix, and a geometry re-tune is a metadata change (new
    serve_bits), never a re-band. When the corpus outgrows 2^B_max, the
    clamp surfaces in the output (serve_bits = {ADX_BITS_MAX} with
    n_candidates > target) — the operational signal to re-band at a
    deeper resolution, which this layout makes a one-pass job.
    """
    return ann_adaptive_serve(spark, sf_dir, ann_adaptive_build(spark, sf_dir))


ann_adaptive_probe.__doc__ = (
    ann_adaptive_probe.__doc__.replace("{ADX_TABLES}", str(ADX_TABLES))
    .replace("{ADX_BITS_MAX}", str(ADX_BITS_MAX))
    .replace("{ADX_BITS_MIN}", str(ADX_BITS_MIN))
    .replace("{ADX_TARGET_CANDIDATES}", str(ADX_TARGET_CANDIDATES))
)

"""Arrow-vectorized Python UDF surface (SURVEY §2.1 rows 32/34/35, §2.3
"UDF surface"): scalar pandas UDF, ``mapInPandas`` per-row ML transform,
``applyInPandas`` grouped-map (fed-avg local training stand-in), and a
grouped one-row pandas UDAF.

The reference crosses the Python boundary with row-pickled ``udf(...)``
(``src/preprocessing_pipeline.py:57,:129`` — no Arrow, no returnType) and
does its per-client training outside Spark entirely (TFF simulation,
``src/federated_learning_pipeline.py:124-153``). Here every crossing is
Arrow-batched, and the fed-avg control flow is the Spark-native split: the
*driver* orchestrates rounds while ``groupBy(client).applyInPandas`` runs
local training distributed — the same control/data split as TFF's
simulation, but each client's work is an executor task.

Scale notes: scalar pandas UDFs and mapInPandas stream Arrow batches
(``maxRecordsPerBatch`` bounds memory); applyInPandas materializes ONE GROUP
per call — safe here because a "client" shard is a deliberate partition of
bounded size, which is exactly when grouped-map is the right tool. Where a
built-in expression exists (both oracle queries below), the UDF is the
*demonstration* of the boundary, not the recommendation — the docstrings say
which form wins at 100 TB.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from big_data_medical_analysis_spark.operators.common import (
    cents,
    checkpoint_pinned,
    fan_out,
)
from big_data_medical_analysis_spark.operators.etl import assign_client
from big_data_medical_analysis_spark.registry import register
from big_data_medical_analysis_spark.sources.readers import read_table

def round_half_away(arr: np.ndarray, ndigits: int) -> np.ndarray:
    """Round half AWAY from zero, matching SQL round() — ``np.round`` is
    half-to-even and the float32 corpus does hit exact .5 ties."""
    s = arr * (10.0**ndigits)
    return np.copysign(np.floor(np.abs(s) + 0.5), s) / (10.0**ndigits)


def round_half_away_int(s: np.ndarray) -> np.ndarray:
    """An ALREADY-scaled array rounded half away from zero to int64 — the
    numpy twin of SQL ``CAST(round(s) AS BIGINT)``. Scaling and dividing
    by 10⁰ are exact, so this is the inline copysign/floor idiom bit for
    bit."""
    return round_half_away(s, 0).astype(np.int64)


# ---------------------------------------------------------------------------
# 1. Scalar pandas UDF (Arrow batches, JVM⇄Python)
# ---------------------------------------------------------------------------


@pandas_udf(T.LongType())
def _disc_price_e4(ep: pd.Series, disc: pd.Series) -> pd.Series:
    """extendedprice·(1−discount) in exact 10⁻⁴ units. Both inputs carry ≤2
    decimals, so the product is an exact multiple of 10⁻⁴ — scaling by 10⁴
    and rounding recovers the integer exactly (no half-even/half-up
    ambiguity for either numpy or SQL engines)."""
    return (
        (ep.astype("float64") * (1.0 - disc.astype("float64")) * 10_000.0)
        .round()
        .astype("int64")
    )


_PANDAS_DISC_SQL = """
SELECT
  l_returnflag,
  count(*) AS n,
  CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT))
       AS DOUBLE) / 10000.0 AS revenue
FROM lineitem
GROUP BY l_returnflag
"""


@register("pandas_udf_revenue", oracle=_PANDAS_DISC_SQL, category="udf")
def pandas_udf_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar pandas UDF in an aggregation pipeline: the UDF emits exact
    int64 10⁻⁴-units per row; Spark sums them JVM-side. Oracle-checked
    against the pure-SQL formulation — proving the Arrow boundary is
    value-exact, not just approximately right.

    At 100 TB you'd use the built-in expression (pricing_summary does);
    this query exists to pin the UDF surface's correctness.
    """
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice", "l_discount"
    )
    # fan_out before the Python stage: the sf0.1 parquet is a single
    # ~20 MiB scan split, which would run the UDF on one core — and the
    # count must be explicit or AQE coalesces the small exchange right back.
    return (
        fan_out(li, "l_returnflag", "l_extendedprice")
        .withColumn(
            "rev_e4", _disc_price_e4("l_extendedprice", "l_discount")
        )
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.sum("rev_e4").cast("double") / F.lit(10_000.0)).alias("revenue"),
        )
    )


# ---------------------------------------------------------------------------
# 2. mapInPandas: per-row ML transform (TF decode/resize equivalent)
# ---------------------------------------------------------------------------

_L2_SQL = """
WITH n AS (
  SELECT vec_id, embedding,
         sqrt(CAST(list_sum(list_transform(embedding,
                y -> CAST(round(y::DOUBLE * 1000000) AS BIGINT)
                     * CAST(round(y::DOUBLE * 1000000) AS BIGINT)))
              AS DOUBLE)) AS norm
  FROM embeddings
)
SELECT vec_id,
       array_to_string(list_transform(embedding,
         x -> CAST(round(x::DOUBLE * 1000000.0 / norm * 1000000.0) AS BIGINT)),
         ',') AS unit_vec_micro
FROM n
"""


def _l2_unit_micro(vec) -> "np.ndarray":
    """One embedding -> int64 micro-units (1e-6) of the L2-normalized vector.

    The squared norm is summed in *int64-scaled* space (the module
    convention): float sums are order-dependent and numpy's SIMD
    accumulation need not match a SQL engine's sequential fold — integer
    sums are exact in any order. The per-element ops after that
    ((x*1e6)/norm)*1e6, then half-away round) are single IEEE operations in
    the same order as the oracle SQL, so both engines produce the same
    int64s."""
    arr = np.asarray(vec, dtype=np.float64)
    iscaled = round_half_away_int(arr * 1_000_000.0)
    norm = float(np.sqrt(float((iscaled * iscaled).sum())))
    return round_half_away_int((arr * 1_000_000.0 / norm) * 1_000_000.0)


def l2_normalize_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Library form of the L2-normalize transform: ``(vec_id, unit_vec
    array<double>)`` with components rounded to 6 decimals. This is what a
    pipeline user composes with; the registered query below serializes the
    same values for the driver's scalar-only canonicalizer."""
    emb = fan_out(read_table(spark, sf_dir, "embeddings"), "vec_id")

    def _l2(batches):
        for pdf in batches:
            out_vecs = [
                (_l2_unit_micro(vec) / 1_000_000.0).tolist()
                for vec in pdf["embedding"]
            ]
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"], "unit_vec": out_vecs}
            )

    return emb.mapInPandas(_l2, "vec_id long, unit_vec array<double>")


@register("embeddings_l2_normalize", oracle=_L2_SQL, category="udf")
def embeddings_l2_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``mapInPandas`` per-row vector transform (the reference's TF
    decode/resize map, src/federated_learning_pipeline.py:36-40, as an
    Arrow-batched Spark stage): L2-normalize each embedding in numpy.

    Driver-canon note: the correctness harness sorts output frames with
    pandas ``sort_values``, which cannot hash list cells, so the registered
    form renders each unit vector as a comma-joined string of int64
    micro-units (integer→string formatting is engine-identical, unlike
    double→string). ``l2_normalize_vectors`` above is the array-typed
    library form; both derive from the same ``_l2_unit_micro`` kernel."""
    emb = fan_out(read_table(spark, sf_dir, "embeddings"), "vec_id")

    def _l2(batches):
        for pdf in batches:
            csv = [
                ",".join(map(str, _l2_unit_micro(vec)))
                for vec in pdf["embedding"]
            ]
            yield pd.DataFrame({"vec_id": pdf["vec_id"], "unit_vec_micro": csv})

    return emb.mapInPandas(_l2, "vec_id long, unit_vec_micro string")


# ---------------------------------------------------------------------------
# 3. applyInPandas grouped-map: federated-averaging local training
# ---------------------------------------------------------------------------

_FIT_SCHEMA = "client int, n long, w0 double, w1 double"


def _local_fit(pdf: pd.DataFrame) -> pd.DataFrame:
    """Closed-form OLS of l_extendedprice on l_quantity for one client shard
    — the 'local training' stand-in for the reference's per-client
    MobileNetV2 fit (src/federated_learning_pipeline.py:124-133). Pure
    function of the shard; float64 lstsq is deterministic."""
    x = pdf["l_quantity"].to_numpy(dtype=np.float64)
    y = pdf["l_extendedprice"].to_numpy(dtype=np.float64)
    a = np.stack([np.ones_like(x), x], axis=1)
    w, *_ = np.linalg.lstsq(a, y, rcond=None)
    return pd.DataFrame(
        {
            "client": [int(pdf["client"].iloc[0])],
            "n": [len(pdf)],
            "w0": [round(float(w[0]), 6)],
            "w1": [round(float(w[1]), 6)],
        }
    )


def client_local_fits(
    spark: SparkSession, sf_dir: str, n_clients: int = 4
) -> DataFrame:
    """One grouped-map training pass: deterministic client assignment
    (pmod(xxhash64), etl.assign_client) → ``applyInPandas`` per-client OLS."""
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"
    )
    shards = assign_client(li, ["l_orderkey", "l_linenumber"], n_clients)
    return shards.groupBy("client").applyInPandas(_local_fit, _FIT_SCHEMA)


def fedavg_weights(fits: DataFrame) -> tuple[float, float, int]:
    """Driver-side weighted average of client weights — the server step of
    federated averaging (reference's build_weighted_fed_avg server update,
    src/federated_learning_pipeline.py:128-133). The collect is K rows (one
    per client), never data rows."""
    rows = fits.collect()
    total = sum(r.n for r in rows)
    w0 = sum(r.w0 * r.n for r in rows) / total
    w1 = sum(r.w1 * r.n for r in rows) / total
    return w0, w1, total


@register("fedavg_client_weights", oracle=None, category="udf")
def fedavg_client_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-client OLS weights from one ``applyInPandas`` round (rows-only:
    lstsq is not SQL-expressible; the weighted-average server step and its
    agreement with a direct numpy fit are property-tested in
    tests/test_udf_surface.py)."""
    return client_local_fits(spark, sf_dir)


# ---------------------------------------------------------------------------
# 3b. Multi-round federated averaging (full oracle)
# ---------------------------------------------------------------------------

FEDAVG_N_ROUNDS = 3
FEDAVG_N_CLIENTS = 4
FEDAVG_LAMBDA = 25.0  # ridge pull toward the server state (warm start)

# Portable client split: md5 hex prefix of "orderkey:linenumber" mod K —
# the same engine-portable hash as sketches.cm_bucket, so DuckDB assigns
# every row to the IDENTICAL client shard (unlike xxhash64's engine-specific
# split in fedavg_client_weights, which is why that one is rows-only).
_FEDAVG_CLIENT_SPARK = (
    "CAST(pmod(CAST(conv(substring(md5(concat(CAST(l_orderkey AS STRING), ':', "
    "CAST(l_linenumber AS STRING))), 1, 8), 16, 10) AS BIGINT), "
    f"{FEDAVG_N_CLIENTS}) AS INT)"
)
_FEDAVG_CLIENT_DUCK = (
    "CAST(CAST(concat('0x', substr(md5(concat(CAST(l_orderkey AS VARCHAR), ':', "
    "CAST(l_linenumber AS VARCHAR))), 1, 8)) AS BIGINT) "
    f"% {FEDAVG_N_CLIENTS} AS INTEGER)"
)


def _fedavg_fit_exprs(lam: float) -> tuple[str, str]:
    """SQL text for the per-client ridge solve — ONE source of truth used by
    BOTH the Spark ``selectExpr`` and the DuckDB oracle, so the IEEE
    operation trees (and therefore every low-order bit) are identical.

    Closed-form 2×2 ridge toward the server state (s0, s1):
        w = (XᵀX + λI)⁻¹ (Xᵀy + λ·s)
    over exact int64 sufficient statistics (n, sx, sy, sxx, sxy) in cents
    space — the integer sums are order-independent, the double arithmetic
    after them is a fixed tree of single IEEE ops, and the result is
    quantized to int64 micro-units so the next round consumes exact values.
    """
    b0 = f"(CAST(sy AS DOUBLE) + {lam} * s0)"
    b1 = f"(CAST(sxy AS DOUBLE) + {lam} * s1)"
    det = (
        f"((CAST(n AS DOUBLE) + {lam}) * (CAST(sxx AS DOUBLE) + {lam}) "
        f"- CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
    )
    w0 = (
        f"(((CAST(sxx AS DOUBLE) + {lam}) * {b0} "
        f"- CAST(sx AS DOUBLE) * {b1}) / {det})"
    )
    w1 = (
        f"(((CAST(n AS DOUBLE) + {lam}) * {b1} "
        f"- CAST(sx AS DOUBLE) * {b0}) / {det})"
    )
    return (
        f"CAST(round({w0} * 1000000.0) AS BIGINT) AS w0m",
        f"CAST(round({w1} * 1000000.0) AS BIGINT) AS w1m",
    )


# Server step, shared text: weighted average of the client micro-weights,
# rounded straight from the single division (NOT divided by 1e6 and
# re-multiplied — one op tree, bit-identical on both engines).
_FEDAVG_SRV_EXPRS = (
    "CAST(round(CAST(sum(n * w0m) AS DOUBLE) / CAST(sum(n) AS DOUBLE)) "
    "AS BIGINT) AS s0m",
    "CAST(round(CAST(sum(n * w1m) AS DOUBLE) / CAST(sum(n) AS DOUBLE)) "
    "AS BIGINT) AS s1m",
    "CAST(sum(n) AS BIGINT) AS total",
)


def _fedavg_cte_prefix() -> str:
    """The shared DuckDB CTE chain for the federated trajectory — shards →
    exact sufficient statistics → srv0..srv{N}. ONE source of truth for
    both _fedavg_oracle and _fedavg_eval_oracle, mirroring how
    _fedavg_train is the one source for both Spark plans: an edit to the
    train path can no longer desynchronize a query from its oracle twin."""
    w0m, w1m = _fedavg_fit_exprs(FEDAVG_LAMBDA)
    s0m, s1m, total = _FEDAVG_SRV_EXPRS
    parts = [
        f"""WITH shards AS (
  SELECT {_FEDAVG_CLIENT_DUCK} AS client,
         CAST(round(l_quantity * 100) AS BIGINT) AS qc,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS yc
  FROM lineitem
), stats AS (
  SELECT client, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(qc) AS BIGINT) AS sx, CAST(sum(yc) AS BIGINT) AS sy,
         CAST(sum(qc * qc) AS BIGINT) AS sxx,
         CAST(sum(qc * yc) AS BIGINT) AS sxy
  FROM shards GROUP BY client
), srv0 AS (SELECT 0.0 AS s0, 0.0 AS s1)"""
    ]
    for r in range(1, FEDAVG_N_ROUNDS + 1):
        parts.append(
            f""", fit{r} AS (
  SELECT client, n, {w0m}, {w1m} FROM stats, srv{r - 1}
), srv{r}agg AS (
  SELECT {s0m}, {s1m}, {total} FROM fit{r}
), srv{r} AS (
  SELECT CAST(s0m AS DOUBLE) / 1000000.0 AS s0,
         CAST(s1m AS DOUBLE) / 1000000.0 AS s1 FROM srv{r}agg
)"""
        )
    return "".join(parts)


def _fedavg_train(spark: SparkSession, sf_dir: str):
    """Shared Spark construction of the federated trajectory: returns
    (shards, per-round fits list, per-round srv list). The fits/srv
    frames are what fedavg_rounds reports; srv[-1] is the final server
    state fedavg_eval_loop evaluates — one construction, two queries, so
    the train path cannot drift between them (review r9)."""
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"
    )
    shards = li.selectExpr(
        f"{_FEDAVG_CLIENT_SPARK} AS client",
        "CAST(round(l_quantity * 100) AS BIGINT) AS qc",
        "CAST(round(l_extendedprice * 100) AS BIGINT) AS yc",
    )
    stats = checkpoint_pinned(  # K rows; cuts the lineitem scan out of the loop
        shards.groupBy("client").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("qc").alias("sx"),
            F.sum("yc").alias("sy"),
            F.sum(F.col("qc") * F.col("qc")).alias("sxx"),
            F.sum(F.col("qc") * F.col("yc")).alias("sxy"),
        )
    )
    w0m, w1m = _fedavg_fit_exprs(FEDAVG_LAMBDA)
    server = spark.range(1).selectExpr("0.0 AS s0", "0.0 AS s1")
    fits_rounds, srv_rounds = [], []
    for _ in range(FEDAVG_N_ROUNDS):
        fits = stats.crossJoin(F.broadcast(server)).selectExpr(
            "client", "n", w0m, w1m
        )
        srv = fits.selectExpr(*_FEDAVG_SRV_EXPRS)
        fits_rounds.append(fits)
        srv_rounds.append(srv)
        server = srv.selectExpr(
            "CAST(s0m AS DOUBLE) / 1000000.0 AS s0",
            "CAST(s1m AS DOUBLE) / 1000000.0 AS s1",
        )
    return shards, fits_rounds, srv_rounds


def _fedavg_oracle() -> str:
    selects = []
    for r in range(1, FEDAVG_N_ROUNDS + 1):
        selects.append(
            f"""SELECT {r} AS fed_round, client, n,
       CAST(w0m AS DOUBLE) / 1000000.0 AS w0,
       CAST(w1m AS DOUBLE) / 1000000.0 AS w1 FROM fit{r}"""
        )
        selects.append(
            f"""SELECT {r} AS fed_round, -1 AS client, total AS n,
       CAST(s0m AS DOUBLE) / 1000000.0 AS w0,
       CAST(s1m AS DOUBLE) / 1000000.0 AS w1 FROM srv{r}agg"""
        )
    return _fedavg_cte_prefix() + "\n" + "\nUNION ALL\n".join(selects)


@register("fedavg_rounds", oracle=_fedavg_oracle(), category="udf")
def fedavg_rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-round federated averaging — the reference's 3-round loop
    (src/federated_learning_pipeline.py:135-153) where each round's local
    fits warm-start from the PREVIOUS round's averaged server weights:
    per-client closed-form ridge regression toward the server state
    (w = (XᵀX+λI)⁻¹(Xᵀy+λ·s)), then a weight-by-sample-count server
    average, iterated {FEDAVG_N_ROUNDS}× with λ={FEDAVG_LAMBDA}. Output: one
    row per (round, client) plus a client=-1 server row per round.

    Unlike fedavg_client_weights (one lstsq round, rows-only), every step
    here is SQL-expressible, so the whole multi-round trajectory carries a
    FULL value oracle: portable md5 client split, exact int64 sufficient
    statistics, and a shared expression template (``_fedavg_fit_exprs``)
    that guarantees Spark and DuckDB execute identical IEEE op trees.

    Scale: the ONLY pass over data computes per-client (n, Σx, Σy, Σx²,
    Σxy) — one map-side-combinable shuffle, localCheckpointed at K rows.
    Every subsequent round is arithmetic on the K-row frame against a
    broadcast 1-row server state: round count never re-touches the 100 TB,
    which is exactly why sufficient-statistics federation beats shipping
    raw shards. The driver-loop-with-K-row-state split of
    ``fedavg_weights`` stays available for non-closed-form local trainers.
    """
    _, fits_rounds, srv_rounds = _fedavg_train(spark, sf_dir)
    out: DataFrame | None = None
    for r, (fits, srv) in enumerate(zip(fits_rounds, srv_rounds), start=1):
        client_rows = fits.selectExpr(
            f"{r} AS fed_round",
            "client",
            "n",
            "CAST(w0m AS DOUBLE) / 1000000.0 AS w0",
            "CAST(w1m AS DOUBLE) / 1000000.0 AS w1",
        )
        server_row = srv.selectExpr(
            f"{r} AS fed_round",
            "-1 AS client",
            "total AS n",
            "CAST(s0m AS DOUBLE) / 1000000.0 AS w0",
            "CAST(s1m AS DOUBLE) / 1000000.0 AS w1",
        )
        out = client_rows if out is None else out.unionAll(client_rows)
        out = out.unionAll(server_row)
    assert out is not None
    return out


# ---------------------------------------------------------------------------
# 4. Grouped pandas UDAF (one row per group): per-label centroid
# ---------------------------------------------------------------------------

_CENTROID_SQL = """
SELECT label, CAST(i - 1 AS INTEGER) AS dim_idx,
       round(CAST(sum(CAST(round(v::DOUBLE * 1000000) AS BIGINT)) AS DOUBLE)
             / 1000000.0 / count(*), 6) AS centroid
FROM (
  SELECT label, unnest(embedding) AS v, generate_subscripts(embedding, 1) AS i
  FROM embeddings
)
GROUP BY label, i
"""


@register("label_centroids", oracle=_CENTROID_SQL, category="udf")
def label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pandas UDAF via ``applyInPandas`` returning ONE row per group: the
    per-label embedding centroid, int-scaled for exact cross-engine sums,
    then posexploded to (label, dim_idx, centroid) for the oracle compare.

    At 100 TB the same result comes from ``posexplode`` + a built-in
    partial-aggregating groupBy (no group materialization); the UDAF form
    is the API-surface demonstration.
    """
    emb = read_table(spark, sf_dir, "embeddings").select("label", "embedding")

    def _centroid(pdf: pd.DataFrame) -> pd.DataFrame:
        mat = np.stack(
            [np.asarray(v, dtype=np.float64) for v in pdf["embedding"]]
        )
        # round half-AWAY-from-zero to match SQL round() — np.round is
        # half-to-even and the float32 corpus does hit exact .5 at 10⁻⁶
        scaled = round_half_away_int(mat * 1_000_000.0).sum(axis=0)
        mean = scaled / 1_000_000.0 / len(pdf)
        cent = round_half_away(mean, 6)
        return pd.DataFrame(
            {"label": [int(pdf["label"].iloc[0])], "centroid": [cent.tolist()]}
        )

    cents = emb.groupBy("label").applyInPandas(
        _centroid, "label int, centroid array<double>"
    )
    return cents.select(
        "label", F.posexplode("centroid").alias("dim_idx", "centroid")
    )


# ---------------------------------------------------------------------------
# 5. Batch inference + metric aggregate (model evaluation)
# ---------------------------------------------------------------------------

_EVAL_SQL = """
WITH scored AS (
  SELECT label,
         list_sum(list_transform(embedding,
           (x, i) -> CAST(round(x::DOUBLE * 1000000) AS BIGINT)
                     * (CASE WHEN i % 2 = 1 THEN 1 ELSE -1 END))) AS s
  FROM embeddings
)
SELECT label,
       count(*) AS n,
       CAST(sum(CASE WHEN s > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pred_pos,
       round(CAST(sum(CASE WHEN (s > 0) = (label >= 2) THEN 1 ELSE 0 END)
                  AS DOUBLE) / count(*), 6) AS accuracy
FROM scored
GROUP BY label
"""


@pandas_udf(T.IntegerType())
def _binary_predict(emb: pd.Series) -> pd.Series:
    """Batch inference stand-in for the reference's ``model.evaluate``
    forward pass (src/federated_learning_pipeline.py:155-171): a fixed
    linear probe with alternating ±1 weights over the int-scaled embedding.
    Deliberately deterministic and integer-exact so the whole eval pipeline
    is oracle-checkable — the Spark-side shape (Arrow batch in, score out)
    is identical for a real model."""
    preds = []
    for vec in emb:
        arr = np.asarray(vec, dtype=np.float64) * 1_000_000.0
        iscaled = round_half_away_int(arr)
        w = np.where(np.arange(iscaled.size) % 2 == 0, 1, -1).astype(np.int64)
        preds.append(int((iscaled * w).sum() > 0))
    return pd.Series(preds, dtype="int32")


@register("model_eval_accuracy", oracle=_EVAL_SQL, category="udf")
def model_eval_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model evaluation aggregate (SURVEY §2.1 row 35): batch inference via
    a pandas UDF, then a JVM-side metric aggregate — per-label count,
    positive-prediction count, and binary accuracy against the ``label >= 2``
    target. The inference stage scales as a pure map (fan_out parallel, no
    state); only per-label metric rows shuffle."""
    emb = fan_out(read_table(spark, sf_dir, "embeddings"), "vec_id")
    scored = emb.withColumn("pred", _binary_predict("embedding"))
    return scored.groupBy("label").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("pred").cast("long").alias("n_pred_pos"),
        F.round(
            F.sum(
                ((F.col("pred") == 1) == (F.col("label") >= 2)).cast("long")
            ).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("accuracy"),
    )


# ---------------------------------------------------------------------------
# 5b. Federated train -> eval loop in ONE query (round 9)
# ---------------------------------------------------------------------------

# Absolute residual of the FINAL global model on one shard row, in exact
# int64 cents: prediction = round((s0m + s1m*qc)/1e6) cents, a single shared
# op tree so Spark and DuckDB agree bit-for-bit. (s0m/s1m are the int64
# micro-unit server weights whose whole trajectory fedavg_rounds already
# value-checks.)
_FEDAVG_EVAL_RESID = (
    "abs(yc - CAST(round(CAST(s0m + s1m * qc AS DOUBLE) / 1000000.0) "
    "AS BIGINT)) AS arc"
)

# Eval metrics over the absolute residual cents — identical text on both
# engines: exact integer sums, ONE rounded division each at the end.
_FEDAVG_EVAL_METRICS = (
    "CAST(count(*) AS BIGINT) AS n",
    "round(CAST(sum(arc) AS DOUBLE) / count(*) / 100.0, 6) AS mae",
    "CAST(max(arc) AS DOUBLE) / 100.0 AS max_abs_err",
    "round(CAST(sum(CASE WHEN arc <= 100000 THEN 1 ELSE 0 END) AS DOUBLE)"
    " / count(*), 6) AS within_1k_rate",
)


def _fedavg_eval_oracle() -> str:
    """DuckDB twin: the SHARED CTE chain (_fedavg_cte_prefix — same text
    as _fedavg_oracle) up to the final server aggregate, then the shared
    residual + metric expressions."""
    metrics = ", ".join(_FEDAVG_EVAL_METRICS)
    return (
        _fedavg_cte_prefix()
        + f""", evalrows AS (
  SELECT shards.client, {_FEDAVG_EVAL_RESID}
  FROM shards, srv{FEDAVG_N_ROUNDS}agg
)
SELECT client, {metrics} FROM evalrows GROUP BY client
UNION ALL
SELECT -1 AS client, {metrics} FROM evalrows"""
    )


@register("fedavg_eval_loop", oracle=_fedavg_eval_oracle(), category="udf")
def fedavg_eval_loop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's FULL federated pipeline in one query: train
    {FEDAVG_N_ROUNDS} federated-averaging rounds, then evaluate the FINAL
    global model on every client's local data plus a pooled global row
    (src/federated_learning_pipeline.py:135-171 — the train loop feeding
    model.evaluate on the trained server state). fedavg_rounds (§2.1 row
    34) and model_eval_accuracy (row 35) pin the two halves separately;
    this query closes the loop end-to-end under ONE full value oracle.

    Train: identical to fedavg_rounds — one map-side-combinable pass
    computes per-client exact int64 sufficient statistics (localCheckpointed
    at K rows), then each round is closed-form ridge arithmetic on the
    K-row frame against a broadcast 1-row server state. Eval: a SECOND
    (and last) pass over the shards joins the broadcast final server
    weights, forms exact integer residual cents per row via a shared
    expression template, and aggregates per client + overall: n, mean
    absolute error, max absolute error, and the share of rows within
    $1,000. Output: one row per client plus a client=-1 pooled row.

    Scale: two linear passes over the 100 TB total — the train-statistics
    pass and the eval pass — both pure map + partial-aggregate shapes with
    only K-row / 1-row states crossing stages; round count touches neither.
    That is the fundamental win of sufficient-statistics federation and
    exactly how a real eval-after-training job should be shaped (never a
    per-round data pass, never a driver-side dataset).
    """
    shards, _, srv_rounds = _fedavg_train(spark, sf_dir)
    srv = srv_rounds[-1]
    evalrows = shards.crossJoin(F.broadcast(srv.select("s0m", "s1m"))).selectExpr(
        "client", _FEDAVG_EVAL_RESID
    )
    # Round 16 (guide §2.4): the per-client and pooled aggregates both
    # consumed evalrows — two full lineitem scans + residual passes.
    # rollup("client") computes the per-client groups AND the grand
    # total in ONE aggregation (map-side Expand + partial agg — no
    # second scan, no checkpoint barrier); the total row (client NULL,
    # flagged by grouping()) IS the pooled client=-1 row, and the
    # metrics render from exact int64 sufficient statistics with the
    # same expression shapes as _FEDAVG_EVAL_METRICS — identical values,
    # one data pass.
    return (
        evalrows.rollup("client")
        .agg(
            F.count(F.lit(1)).alias("n_l"),
            F.sum("arc").alias("s_arc"),
            F.max("arc").alias("mx_arc"),
            F.sum(
                F.when(F.col("arc") <= 100000, F.lit(1)).otherwise(F.lit(0))
            ).alias("w_arc"),
            F.grouping("client").alias("_g"),
        )
        .select(
            F.when(F.col("_g") == 1, F.lit(-1))
            .otherwise(F.col("client"))
            .alias("client"),
            F.col("n_l").cast("long").alias("n"),
            F.expr("round(CAST(s_arc AS DOUBLE) / n_l / 100.0, 6)").alias(
                "mae"
            ),
            F.expr("CAST(mx_arc AS DOUBLE) / 100.0").alias("max_abs_err"),
            F.expr("round(CAST(w_arc AS DOUBLE) / n_l, 6)").alias(
                "within_1k_rate"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Python UDTF (table function, Arrow-optimized) — SURVEY §2.3 UDF surface
# ---------------------------------------------------------------------------

# The UDTF twin of text_analysis.doc_chunk_windows: identical chunking
# semantics (CHUNK_SIZE window every CHUNK_STRIDE, short final window), so
# the pure-SQL chunker's oracle checks every value the Python table
# function emits.

from big_data_medical_analysis_spark.operators.text_analysis import (  # noqa: E402
    _CHUNK_SQL as _CHUNK_UDTF_ORACLE,
)


@register("doc_chunk_udtf", oracle=_CHUNK_UDTF_ORACLE, category="udf")
def doc_chunk_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (``@udtf``, Arrow-optimized): a lateral table function
    that chunks each document into sliding token windows — the genuine
    UDTF surface (one input row → N output rows from Python), completing
    the UDF family next to scalar pandas UDF / mapInPandas /
    applyInPandas / UDAF.

    The UDTF reimplements doc_chunk_windows' exact semantics, and its
    oracle IS the SQL chunker's oracle — so the driver row proves the
    Python table function and the Catalyst expression pipeline agree on
    every chunk. Explode-style fan-out stays the preferred form in
    production (zero Python); the UDTF is for logic a SQL expression
    can't express (real tokenizers), and ``useArrow=True`` keeps the
    boundary batched rather than per-row pickled.

    Scale: a lateral UDTF is a pure map stage — no shuffle, parallel per
    input partition; fan_out spreads the single-file scan first.
    """
    from pyspark.sql.functions import udtf

    from big_data_medical_analysis_spark.operators.text_analysis import (
        CHUNK_SIZE,
        CHUNK_STRIDE,
    )

    @udtf(
        returnType=(
            "doc_id long, chunk_id int, chunk_tokens int, chunk_text string"
        ),
        useArrow=True,
    )
    class ChunkDoc:
        def eval(self, doc_id, text):  # noqa: ANN001 - UDTF signature
            toks = text.split(" ")
            n = len(toks)
            for i in range((n - 1) // CHUNK_STRIDE + 1):
                piece = toks[i * CHUNK_STRIDE : i * CHUNK_STRIDE + CHUNK_SIZE]
                yield doc_id, i, len(piece), " ".join(piece)

    spark.udtf.register("spark_graft_chunk_doc", ChunkDoc)
    fan_out(read_table(spark, sf_dir, "documents"), "doc_id").select(
        "doc_id", "text"
    ).createOrReplaceTempView("doc_chunk_udtf_in")
    return spark.sql(
        "SELECT c.doc_id, c.chunk_id, c.chunk_tokens, c.chunk_text "
        "FROM doc_chunk_udtf_in d, "
        "LATERAL spark_graft_chunk_doc(d.doc_id, d.text) c"
    )


# ---------------------------------------------------------------------------
# Co-grouped map (cogroup().applyInPandas) — the last UDF-family member
# ---------------------------------------------------------------------------

_COGROUP_SQL = """
SELECT e.user_id,
       CAST(count(*) AS BIGINT) AS n_purchases,
       CAST(sum(CAST(round(e.value * 100) AS BIGINT)) AS DOUBLE) / 100.0
         AS total_value,
       max(c.c_mktsegment) AS segment
FROM events e JOIN customer c ON e.user_id = c.c_custkey
WHERE e.event_type = 'purchase'
GROUP BY e.user_id
"""


@register("cogrouped_user_profile", oracle=_COGROUP_SQL, category="udf")
def cogrouped_user_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-grouped map: ``cogroup(A, B).applyInPandas`` receives BOTH
    sides' rows for each key as pandas frames — the UDF surface for
    per-key merge logic no join expresses (custom alignment, per-entity
    model scoring against reference rows). Here it merges each user's
    purchase events with their customer row into a profile; the arithmetic
    is exact int64 cents inside numpy, so a plain SQL join+aggregate
    oracle checks every value.

    Scale: cogroup shuffles each side once on the key (same exchange
    profile as a shuffle join) and streams one key's two frames at a time
    through Arrow — per-key memory, not per-partition. CRITICALLY, the
    Python merge fires once per key in the UNION of both sides' keys, so
    the customer side is semi-join-prefiltered to purchasing users first:
    without it every non-purchasing customer key pays a full Arrow
    round-trip to return an empty frame (measured 35s → 5s at sf0.1 —
    the per-key crossing, not the data volume, was the cost; the residual
    5s is the crossing for the keys that genuinely have work). For logic a
    join CAN express, the join is the right plan (event_customer_enrich);
    this query exists to pin the co-grouped execution path itself.

    Cost model at scale (why this is the slowest query in the bench and
    why that is acceptable): wall ≈ keys x (Arrow batch build + Python
    merge call + result append) + one shuffle per side — row count and
    per-key payload are second-order. Measured r9: pre-aggregating the
    events side to 1 row/key before the cogroup (fewer rows, same keys)
    is NOT faster (3.74s vs 3.36s min-of-3 at sf0.1) — it adds a
    partial-agg exchange while the per-key crossing count, the actual
    cost, stays fixed. So the two real levers are already applied: the
    semi-join prefilter bounds keys to those with work (35s -> 5s -> 3.6s
    across rounds), and at 100 TB the same bound holds because keys enter
    the crossing AFTER the filter — the crossing is sized by the answer,
    not the corpus.
    """
    # Round 16 (optimization): fan_out pins the cogroup's partition count
    # — the per-key Python crossing IS the cost (see cost model below),
    # and AQE's byte-based coalescing was folding the tiny shuffle into
    # ~4 partitions, serializing the ~thousands of per-key merge calls
    # onto 4 cores (measured 6 tasks / 4.33s; with the pin, 32-way:
    # 2.05s). The explicit user count survives AQE (fan_out contract),
    # and both sides share one HashPartitioning(user_id, n) so the
    # cogroup itself adds no further exchange.
    ev = fan_out(
        read_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select("user_id", "value"),
        "user_id",
    )
    cust = fan_out(
        read_table(spark, sf_dir, "customer")
        .select(F.col("c_custkey").alias("user_id"), "c_mktsegment")
        .join(ev.select("user_id"), "user_id", "semi"),
        "user_id",
    )

    def merge(evs: pd.DataFrame, cs: pd.DataFrame) -> pd.DataFrame:
        if evs.empty or cs.empty:
            return pd.DataFrame(
                columns=["user_id", "n_purchases", "total_value", "segment"]
            )
        v = evs["value"].to_numpy("float64") * 100.0
        cents = round_half_away_int(v).sum()
        return pd.DataFrame(
            {
                "user_id": [int(evs["user_id"].iloc[0])],
                "n_purchases": [len(evs)],
                "total_value": [cents / 100.0],
                "segment": [cs["c_mktsegment"].max()],
            }
        )

    return (
        ev.groupBy("user_id")
        .cogroup(cust.groupBy("user_id"))
        .applyInPandas(
            merge,
            "user_id long, n_purchases long, total_value double, "
            "segment string",
        )
    )


# ---------------------------------------------------------------------------
# mapInArrow: RecordBatch-level transform (round 6)
# ---------------------------------------------------------------------------

_L1_ARROW_SQL = """
SELECT vec_id,
       CAST(list_sum(list_transform(embedding,
              x -> abs(CAST(round(x::DOUBLE * 1000000) AS BIGINT))))
            AS BIGINT) AS l1_micro
FROM embeddings
"""


@register("arrow_l1_norms", oracle=_L1_ARROW_SQL, category="udf")
def arrow_l1_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``mapInArrow`` — the lowest-level Python crossing (raw pyarrow
    RecordBatches, no pandas conversion at all): per-embedding L1 norm in
    exact int64 micro-units. Completes the Arrow UDF family next to scalar
    pandas UDF / mapInPandas / applyInPandas / cogroup / UDTF / UDAF; the
    RecordBatch form is what you reach for when pandas' object boxing is
    the bottleneck (pure-numeric kernels, zero-copy into numpy) or when a
    downstream library speaks Arrow natively.

    Exactness: components scale to int64 micros with half-away rounding
    (the module convention), and the L1 sum is an integer sum — the oracle
    is bit-for-bit.

    Scale: pure map stage over fan_out partitions, one Arrow batch in →
    one out, no shuffle.
    """
    import pyarrow as pa

    emb = fan_out(read_table(spark, sf_dir, "embeddings"), "vec_id").select(
        "vec_id", "embedding"
    )

    def _l1(batches):
        for batch in batches:
            vec_ids = batch.column(0).to_pylist()
            norms = []
            for vec in batch.column(1).to_pylist():
                iscaled = round_half_away_int(
                    np.asarray(vec, dtype=np.float64) * 1_000_000.0
                )
                norms.append(int(np.abs(iscaled).sum()))
            yield pa.RecordBatch.from_pydict(
                {
                    "vec_id": pa.array(vec_ids, pa.int64()),
                    "l1_micro": pa.array(norms, pa.int64()),
                }
            )

    return emb.mapInArrow(_l1, "vec_id long, l1_micro long")


# ---------------------------------------------------------------------------
# 9. Grouped-aggregate pandas UDF (custom UDAF surface) — round 7
# ---------------------------------------------------------------------------


@pandas_udf(T.LongType())
def _lower_median_cents(cents_s: pd.Series) -> int:
    """Order-statistic median: sorted[(n-1)//2] over int64 cents — the
    SQL ``percentile_disc(0.5)`` element (np.median would interpolate the
    middle pair on even n, which no discrete SQL percentile matches)."""
    v = np.sort(cents_s.to_numpy(dtype="int64"))
    return int(v[(len(v) - 1) // 2])


@pandas_udf(T.LongType())
def _group_count(cents_s: pd.Series) -> int:
    return int(len(cents_s))


_GROUPED_AGG_SQL = """
SELECT o_orderpriority,
       CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY
              CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0
         AS median_order_value,
       CAST(count(*) AS BIGINT) AS n_orders
FROM orders GROUP BY o_orderpriority
"""


@register("grouped_agg_median_order", oracle=_GROUPED_AGG_SQL, category="udf")
def grouped_agg_median_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPED_AGG pandas UDF — the custom-UDAF member of the UDF surface
    (scalar, iterator, grouped-map/applyInPandas, cogrouped, mapInPandas,
    mapInArrow, and UDTF are covered elsewhere; this is the one remaining
    Arrow crossing form): each group's column arrives as ONE pandas Series
    and the UDF returns one scalar, here the discrete (lower) median of
    order value per priority, matching SQL ``percentile_disc(0.5)``
    exactly because both sides pick the same order statistic from the same
    int64 cents.

    Scale: Spark evaluates grouped-agg UDFs with full-group Arrow
    batches — no partial aggregation, the whole group's values ship to one
    Python worker. That is the honest cost of an arbitrary-function UDAF
    (fine here: 5 priority groups; at 100 TB you'd pre-reduce per
    partition first — e.g. feed the UDAF per-partition top/bottom halves
    or sketch state — or use the built-in approx percentile, which IS
    partially aggregable, trading exactness for a mergeable sketch).
    The exact-percentile built-in (``median_mode_quantity``) and the GK
    sketch (``approx_price_quantiles``) bracket this from both sides.
    """
    orders = read_table(spark, sf_dir, "orders")
    oc = orders.select(
        "o_orderpriority", cents("o_totalprice").alias("oc")
    )
    return (
        fan_out(oc, "o_orderpriority")
        .groupBy("o_orderpriority")
        .agg(
            _lower_median_cents("oc").alias("median_c"),
            _group_count("oc").alias("n_orders"),
        )
        .select(
            "o_orderpriority",
            (F.col("median_c").cast("double") / 100.0).alias(
                "median_order_value"
            ),
            "n_orders",
        )
    )


# ---------------------------------------------------------------------------
# 10. applyInArrow grouped map (pyarrow.Table in/out) — round 7
# ---------------------------------------------------------------------------

_ARROW_GROUPED_SQL = """
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0
         AS total_value,
       CAST(min(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0
         AS min_value,
       CAST(max(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0
         AS max_value
FROM orders GROUP BY o_orderpriority
"""


@register("arrow_grouped_stats", oracle=_ARROW_GROUPED_SQL, category="udf")
def arrow_grouped_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``applyInArrow`` — the grouped-map form that hands each group as a
    ``pyarrow.Table`` and takes one back, skipping pandas entirely (the
    zero-copy sibling of applyInPandas; mapInArrow covers the ungrouped
    form, grouped-agg/scalar/iterator/cogrouped/UDTF live elsewhere —
    this closes the Arrow API family). The kernel computes per-priority
    order-value stats with pyarrow.compute on exact int64 cents, so the
    DuckDB oracle matches bit-for-bit.

    Scale: same contract as every grouped map — whole group to one worker
    as Arrow batches, no partial aggregation; right for group-sized
    kernels (5 priority groups here). For plain stats the built-in
    aggregate is strictly better (map-side combine) — the value of this
    surface is arbitrary columnar kernels (numpy/pyarrow compute) per
    group without a pandas materialization.
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    orders = read_table(spark, sf_dir, "orders")

    def stats(t: pa.Table) -> pa.Table:
        cents_a = pc.cast(
            pc.round(pc.multiply(t.column("o_totalprice"), pa.scalar(100.0))),
            pa.int64(),
        )
        return pa.table(
            {
                "o_orderpriority": [t.column("o_orderpriority")[0].as_py()],
                "n_orders": [t.num_rows],
                "total_value": [pc.sum(cents_a).as_py() / 100.0],
                "min_value": [pc.min(cents_a).as_py() / 100.0],
                "max_value": [pc.max(cents_a).as_py() / 100.0],
            }
        )

    return (
        fan_out(
            orders.select("o_orderpriority", "o_totalprice"), "o_orderpriority"
        )
        .groupBy("o_orderpriority")
        .applyInArrow(
            stats,
            schema=(
                "o_orderpriority string, n_orders long, total_value double, "
                "min_value double, max_value double"
            ),
        )
    )

"""Property tests for the Arrow UDF surface (operators/udf_surface.py):
fed-avg server step agrees with a direct fit, client shards are disjoint
and complete, and the normalized vectors are unit-length.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from big_data_medical_analysis_spark.operators import udf_surface as U
from big_data_medical_analysis_spark.sources.readers import read_table


def test_fedavg_weighted_average_matches_numpy(spark, sf_dir):
    """The driver-side server step (weighted average of client OLS weights)
    must equal a hand computation from the same per-client fits."""
    fits = U.client_local_fits(spark, sf_dir)
    rows = fits.collect()
    assert len(rows) == 4
    w0, w1, total = U.fedavg_weights(fits)
    exp_total = sum(r.n for r in rows)
    exp_w0 = sum(r.w0 * r.n for r in rows) / exp_total
    exp_w1 = sum(r.w1 * r.n for r in rows) / exp_total
    assert total == exp_total
    assert w0 == pytest.approx(exp_w0)
    assert w1 == pytest.approx(exp_w1)


def test_client_fit_shards_cover_everything(spark, sf_dir):
    """Disjointness + completeness of the grouped-map input: Σ n over client
    fits == table rows (no row lost or double-counted by assign_client)."""
    fits = U.client_local_fits(spark, sf_dir)
    n_total = sum(r.n for r in fits.collect())
    assert n_total == read_table(spark, sf_dir, "lineitem").count()


def test_local_fit_is_real_ols():
    """_local_fit on a perfectly linear shard recovers the line exactly."""
    import pandas as pd

    pdf = pd.DataFrame(
        {
            "client": [0] * 10,
            "l_quantity": np.arange(1.0, 11.0),
            "l_extendedprice": 3.0 + 2.5 * np.arange(1.0, 11.0),
        }
    )
    out = U._local_fit(pdf)
    assert out["w0"].iloc[0] == pytest.approx(3.0, abs=1e-6)
    assert out["w1"].iloc[0] == pytest.approx(2.5, abs=1e-6)


def test_l2_normalize_unit_length(spark, sf_dir):
    df = U.l2_normalize_vectors(spark, sf_dir).limit(50)
    for r in df.collect():
        norm = float(np.linalg.norm(np.asarray(r.unit_vec)))
        assert norm == pytest.approx(1.0, abs=1e-4)


def test_l2_normalize_registered_csv_matches_library(spark, sf_dir):
    """Registered (driver-canon CSV micro-units) form ≡ library array form."""
    lib = {
        r.vec_id: np.asarray(r.unit_vec)
        for r in U.l2_normalize_vectors(spark, sf_dir)
        .filter("vec_id < 50")
        .collect()
    }
    reg = {
        r.vec_id: np.array([int(t) for t in r.unit_vec_micro.split(",")]) / 1e6
        for r in U.embeddings_l2_normalize(spark, sf_dir)
        .filter("vec_id < 50")
        .collect()
    }
    assert lib and set(lib) == set(reg)
    for vid, arr in lib.items():
        assert np.allclose(arr, reg[vid], atol=0)


def test_round_half_away():
    arr = np.array([0.0000005, -0.0000005, 0.0000014, -0.0000016])
    out = U.round_half_away(arr, 6)
    assert out.tolist() == [0.000001, -0.000001, 0.000001, -0.000002]

    # the int64 form must equal the inline idiom it replaced, bit for bit
    import pandas as pd

    def inline(s):
        return np.copysign(np.floor(np.abs(s) + 0.5), s).astype(np.int64)

    ties = np.array([0.5, -0.5, 2.5, -2.5, 1e6 + 0.5, -(1e6 + 0.5)])
    got = U.round_half_away_int(ties)
    assert got.dtype == np.int64
    assert got.tolist() == [1, -1, 3, -3, 1_000_001, -1_000_001]
    rng = np.random.default_rng(20261017)
    corpus = rng.normal(size=(64, 64)).astype(np.float32).astype(np.float64)
    for s in (
        ties,
        corpus * 1_000_000.0,
        rng.normal(scale=1e6, size=4096),
        rng.integers(-(10**6), 10**6, size=4096) + 0.5,
        rng.uniform(-1e12, 1e12, size=4096),
    ):
        got = U.round_half_away_int(s)
        assert got.dtype == np.int64
        assert np.array_equal(got, inline(s))
    money = pd.Series(rng.integers(-(10**5), 10**5, size=512) / 100.0) * 100.0
    assert np.array_equal(
        U.round_half_away_int(money).to_numpy(), inline(money).to_numpy()
    )


def test_model_eval_prediction_matches_expression(spark, sf_dir):
    """Batch-inference UDF ≡ the equivalent Catalyst expression: the ±1
    alternating linear probe computed via pandas UDF must agree row-for-row
    with an int-scaled transform/aggregate HOF formulation."""
    from big_data_medical_analysis_spark.operators.udf_surface import (
        _binary_predict,
    )
    from big_data_medical_analysis_spark.sources.readers import read_table

    emb = read_table(spark, sf_dir, "embeddings")
    iscaled = F.transform(
        "embedding",
        lambda x, i: F.round(x.cast("double") * 1_000_000).cast("long")
        * F.when(i % 2 == 0, F.lit(1)).otherwise(F.lit(-1)),
    )
    expr_pred = (
        F.aggregate(iscaled, F.lit(0).cast("long"), lambda a, x: a + x) > 0
    ).cast("int")
    both = emb.select(
        "vec_id",
        _binary_predict("embedding").alias("udf_pred"),
        expr_pred.alias("expr_pred"),
    )
    assert both.filter(F.col("udf_pred") != F.col("expr_pred")).count() == 0


def test_fedavg_rounds_matches_numpy_trajectory(spark, sf_dir):
    """The multi-round fed-avg trajectory (fedavg_rounds) must equal a
    driver-side numpy reproduction from the same per-client sufficient
    statistics: per-round ridge solve toward the quantized server state,
    then the sample-weighted server average — round over round."""
    rows = U.fedavg_rounds(spark, sf_dir).collect()
    by_round: dict[int, dict[int, tuple]] = {}
    for r in rows:
        by_round.setdefault(r.fed_round, {})[r.client] = (r.n, r.w0, r.w1)
    assert sorted(by_round) == list(range(1, U.FEDAVG_N_ROUNDS + 1))
    for rnd in by_round.values():
        assert sorted(rnd) == [-1] + list(range(U.FEDAVG_N_CLIENTS))

    # Rebuild the exact int64 sufficient statistics with Spark (same split),
    # then replay the rounds in numpy.
    li = read_table(spark, sf_dir, "lineitem")
    stats = (
        li.selectExpr(
            f"{U._FEDAVG_CLIENT_SPARK} AS client",
            "CAST(round(l_quantity * 100) AS BIGINT) AS qc",
            "CAST(round(l_extendedprice * 100) AS BIGINT) AS yc",
        )
        .groupBy("client")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("qc").alias("sx"),
            F.sum("yc").alias("sy"),
            F.sum(F.col("qc") * F.col("qc")).alias("sxx"),
            F.sum(F.col("qc") * F.col("yc")).alias("sxy"),
        )
        .collect()
    )
    lam = U.FEDAVG_LAMBDA
    s0 = s1 = 0.0
    for rnd in range(1, U.FEDAVG_N_ROUNDS + 1):
        got = by_round[rnd]
        num0 = num1 = den = 0
        for st in stats:
            b0 = float(st.sy) + lam * s0
            b1 = float(st.sxy) + lam * s1
            det = (float(st.n) + lam) * (float(st.sxx) + lam) - float(
                st.sx
            ) * float(st.sx)
            w0 = ((float(st.sxx) + lam) * b0 - float(st.sx) * b1) / det
            w1 = ((float(st.n) + lam) * b1 - float(st.sx) * b0) / det
            w0m = int(np.copysign(np.floor(abs(w0 * 1e6) + 0.5), w0 * 1e6))
            w1m = int(np.copysign(np.floor(abs(w1 * 1e6) + 0.5), w1 * 1e6))
            gn, gw0, gw1 = got[st.client]
            assert gn == st.n
            assert gw0 == pytest.approx(w0m / 1e6, abs=2e-6)
            assert gw1 == pytest.approx(w1m / 1e6, abs=2e-6)
            num0 += st.n * w0m
            num1 += st.n * w1m
            den += st.n
        r0 = num0 / den
        r1 = num1 / den
        s0m = int(np.copysign(np.floor(abs(r0) + 0.5), r0))
        s1m = int(np.copysign(np.floor(abs(r1) + 0.5), r1))
        gn, gw0, gw1 = got[-1]
        assert gn == den
        assert gw0 == pytest.approx(s0m / 1e6, abs=2e-6)
        assert gw1 == pytest.approx(s1m / 1e6, abs=2e-6)
        s0, s1 = s0m / 1e6, s1m / 1e6


def test_fedavg_rounds_server_converges_toward_ols(spark, sf_dir):
    """Ridge-toward-server has the global OLS solution as its fixed point:
    the server slope must move closer to the pooled OLS slope each round."""
    rows = U.fedavg_rounds(spark, sf_dir).collect()
    servers = {r.fed_round: (r.w0, r.w1) for r in rows if r.client == -1}
    li = read_table(spark, sf_dir, "lineitem")
    st = li.selectExpr(
        "CAST(round(l_quantity * 100) AS BIGINT) AS qc",
        "CAST(round(l_extendedprice * 100) AS BIGINT) AS yc",
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("qc").alias("sx"),
        F.sum("yc").alias("sy"),
        F.sum(F.col("qc") * F.col("qc")).alias("sxx"),
        F.sum(F.col("qc") * F.col("yc")).alias("sxy"),
    ).collect()[0]
    det = st.n * st.sxx - st.sx * st.sx
    ols_w1 = (st.n * st.sxy - st.sx * st.sy) / det
    dists = [
        abs(servers[r][1] - ols_w1) for r in range(1, U.FEDAVG_N_ROUNDS + 1)
    ]
    assert dists == sorted(dists, reverse=True), (
        f"server slope must approach pooled OLS monotonically: {dists}"
    )
    # after the final round the server slope is within 20% of pooled OLS
    assert dists[-1] <= 0.2 * abs(ols_w1)


# --- hypothesis: the closed-form ridge solve is numerically sound ----------

from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=50, deadline=None)
@given(
    n=st.integers(min_value=2, max_value=200_000),
    xs=st.lists(
        st.integers(min_value=1, max_value=5000), min_size=2, max_size=2
    ),
    s0=st.floats(-1e6, 1e6, allow_nan=False),
    s1=st.floats(-1e4, 1e4, allow_nan=False),
)
def test_fedavg_ridge_closed_form_matches_linalg(n, xs, s0, s1):
    """The 2×2 closed-form ridge in _fedavg_fit_exprs must agree with
    numpy.linalg.solve on (XᵀX + λI) w = (Xᵀy + λ s) for arbitrary
    sufficient statistics built from a two-point x distribution."""
    lam = U.FEDAVG_LAMBDA
    a, b = xs
    # synthesize stats as if n/2 points at x=a,y=2a and n/2 at x=b,y=3b
    h = n // 2 or 1
    pts = [(a, 2 * a)] * h + [(b, 3 * b)] * (n - h)
    sx = sum(p[0] for p in pts)
    sy = sum(p[1] for p in pts)
    sxx = sum(p[0] * p[0] for p in pts)
    sxy = sum(p[0] * p[1] for p in pts)
    nn = len(pts)

    b0 = float(sy) + lam * s0
    b1 = float(sxy) + lam * s1
    det = (float(nn) + lam) * (float(sxx) + lam) - float(sx) * float(sx)
    w0 = ((float(sxx) + lam) * b0 - float(sx) * b1) / det
    w1 = ((float(nn) + lam) * b1 - float(sx) * b0) / det

    A = np.array([[nn + lam, sx], [sx, sxx + lam]], dtype=np.float64)
    rhs = np.array([b0, b1], dtype=np.float64)
    ref = np.linalg.solve(A, rhs)
    scale = max(1.0, abs(ref[0]), abs(ref[1]))
    assert abs(w0 - ref[0]) / scale < 1e-8
    assert abs(w1 - ref[1]) / scale < 1e-8


def test_fedavg_eval_loop_pools_and_bounds(spark, sf_dir):
    """Structural invariants of the composed train->eval query beyond what
    the value oracle pins: the pooled (client=-1) row aggregates exactly
    the per-client rows (n sums match), rates are probabilities, and the
    pooled MAE is inside the per-client min/max envelope (it is a
    row-weighted mean of exact per-row residuals)."""
    from big_data_medical_analysis_spark.operators.udf_surface import (
        fedavg_eval_loop,
    )

    rows = fedavg_eval_loop(spark, sf_dir).collect()
    per_client = [r for r in rows if r.client >= 0]
    pooled = [r for r in rows if r.client == -1]
    assert len(pooled) == 1 and len(per_client) >= 2
    p = pooled[0]
    assert p.n == sum(r.n for r in per_client)
    for r in rows:
        assert 0.0 <= r.within_1k_rate <= 1.0
        assert 0.0 <= r.mae <= r.max_abs_err
    # the envelope holds on UNROUNDED values; each side is independently
    # rounded to 6 dp, so allow one ulp of that rounding at the boundary
    assert (
        min(r.mae for r in per_client) - 1e-6
        <= p.mae
        <= max(r.mae for r in per_client) + 1e-6
    )

"""Invariant tests for the end-to-end reference-pipeline twin
(operators/pipeline_twin.py): kernel parity with the byte-returning
multimodal stages, the reference's own audits (dedup guard, disjoint
split, completeness), and trained-model sanity — the checks the rows-only
census contract requires (COVERAGE.md)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from big_data_medical_analysis_spark.operators import pipeline_twin as PT
from big_data_medical_analysis_spark.operators.multimodal import (
    augment_pipeline,
)
from big_data_medical_analysis_spark.sources.readers import read_csv

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def twin_rows(spark):
    df = PT.chexpert_pipeline_twin(spark, SF)
    return {(r.stage, r.idx, r.metric): r.value for r in df.collect()}


def test_twin_report_shape(spark, twin_rows):
    """23 axis-sized rows (stages x clients x rounds), never data-sized."""
    assert len(twin_rows) == 23
    stages = {s for s, _, _ in twin_rows}
    assert stages == {"ingest", "dedup", "augment", "split", "audit",
                      "fedavg", "eval"}


def test_ingest_and_dedup_guard_counts(spark, twin_rows):
    """The planted duplicates are found and dropped: csv rows = unique +
    planted, dup-path audit = planted count, and the arithmetic pins the
    90/10 file split (reference's val/test swap)."""
    n_csv = twin_rows[("ingest", -1, "n_train_csv_rows")]
    n_dup = twin_rows[("ingest", -1, "n_dup_paths")]
    n_unique = twin_rows[("dedup", -1, "n_unique_images")]
    n_eval = twin_rows[("ingest", -1, "n_eval_csv_rows")]
    assert n_dup > 0  # the guard had real work
    assert n_csv == n_unique + n_dup
    # doc_id % 10 != 9 trains, % 10 == 9 evaluates; % 20 == 0 duplicated
    assert n_unique == 450 and n_eval == 50 and n_dup == 25


def test_augment_fanout_split_disjoint_complete(spark, twin_rows):
    """The reference's verify_unique_split + file-count cross-checks as
    data invariants: 9x fan-out exactly, zero overlap keys, client rows
    sum to the augmented total, every client non-empty."""
    n_unique = twin_rows[("dedup", -1, "n_unique_images")]
    n_aug = twin_rows[("augment", -1, "n_augmented")]
    assert n_aug == 9 * n_unique
    assert twin_rows[("audit", -1, "overlap_keys")] == 0.0
    assert twin_rows[("audit", -1, "completeness_delta")] == 0.0
    client_rows = [
        twin_rows[("split", c, "n_rows")] for c in range(PT.TWIN_N_CLIENTS)
    ]
    assert sum(client_rows) == n_aug
    assert all(n > 0 for n in client_rows)
    # stratification profile is populated (test_partitioning twin)
    for c in range(PT.TWIN_N_CLIENTS):
        pos = twin_rows[("split", c, "pneumonia_pos_rows")]
        assert 0 < pos < twin_rows[("split", c, "n_rows")]
    assert twin_rows[("eval", -1, "n_eval_rows")] == 9 * twin_rows[
        ("ingest", -1, "n_eval_csv_rows")
    ]


def test_fedavg_converges_and_eval_is_sane(spark, twin_rows):
    """The trained intercept must sit at the equalized-image mean-pixel
    level (~127.5 in y-micro units x 1e6 quantization) and the held-out
    MSE must be small in pixel^2 units — the model actually fits, it is
    not just plumbing."""
    s0 = twin_rows[("fedavg", PT.TWIN_N_ROUNDS, "s0m")] / 1e12
    assert 100.0 < s0 < 150.0
    mse = twin_rows[("eval", -1, "mse_px2")]
    assert 0.0 < mse < 5.0
    # round-over-round server states are all present and finite
    for r in range(1, PT.TWIN_N_ROUNDS + 1):
        for m in ("s0m", "s1m"):
            assert np.isfinite(twin_rows[("fedavg", r, m)])


def test_twin_is_deterministic(spark, twin_rows):
    """Recompute == compute: every stage is a pure function of the input
    corpus (the reference's global-RNG augment could not satisfy this)."""
    df2 = PT.chexpert_pipeline_twin(spark, SF)
    rows2 = {(r.stage, r.idx, r.metric): r.value for r in df2.collect()}
    assert rows2 == twin_rows


def test_report_rows_one_projection(spark):
    """The report helper emits a frame's rows in declared order, with the
    (stage string, idx int, metric string, value double) schema, from ONE
    copy of the frame's plan: an aggregate with three metrics plans one
    shuffle exchange, where one union branch per metric plans three."""
    from big_data_medical_analysis_spark import plans as P

    agg = spark.range(10).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("id").alias("total"),
        F.max("id").alias("top"),
    )
    df = PT._report_rows(
        agg,
        ("a", -1, "n", F.col("n")),
        ("b", F.lit(7), "total", F.col("total")),
        ("a", 2, "top", F.col("top")),
    )
    assert [(f.name, f.dataType.simpleString()) for f in df.schema] == [
        ("stage", "string"), ("idx", "int"), ("metric", "string"),
        ("value", "double"),
    ]
    # counted on the plan before execution: a finished adaptive plan
    # prints its initial plan too
    assert P.exchange_count(df) == 1, P.physical_plan(df)
    per_metric = (
        agg.select(F.col("n").cast("double"))
        .unionAll(agg.select(F.col("total").cast("double")))
        .unionAll(agg.select(F.col("top").cast("double")))
    )
    assert P.exchange_count(per_metric) == 3
    assert [tuple(r) for r in df.collect()] == [
        ("a", -1, "n", 10.0), ("b", 7, "total", 45.0), ("a", 2, "top", 9.0),
    ]


def test_twin_job_budget(spark):
    """Building and collecting the twin launches at most 23 Spark jobs:
    8 while constructing (label CSV writes and the audited checkpoints)
    and 15 while executing the report (9 shuffle stages, 5 broadcasts,
    the result). Per-metric union branches re-run every frame's shuffles
    and broadcasts once per metric — 38 jobs — and fail here."""
    sc = spark.sparkContext
    group = "test_twin_job_budget"
    sc.setJobGroup(group, "chexpert_pipeline_twin construct + collect")
    try:
        rows = PT.chexpert_pipeline_twin(spark, SF).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(rows) == 23
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert len(jobs) <= 23, len(jobs)


def test_feature_pass_matches_bytes_stages(spark):
    """Kernel parity, byte-exact: the twin's fused feature pass must
    report exactly the pixel sums of the bytes the composable
    normalize->augment->explode stage (augment_pipeline) produces —
    same equalize_hist/augment_variants calls, so a drift in either
    fused form fails here."""
    train_dir, _ = PT.write_label_csvs(spark, SF)
    labels = (
        read_csv(spark, train_dir, PT._LABELS_SCHEMA)
        .select(
            F.concat(F.lit(PT._BASE_DIR), F.col("Path")).alias("path"),
            "Pneumonia",
        )
        .dropDuplicates(["path"])
        .withColumn("is_eval", F.lit(0))
    )
    images = PT._attach_images(labels).filter(F.col("img_id") < 40)
    fused = {
        (r.img_id, r.variant): (r.pix_sum, r.n_pix)
        for r in PT._augment_features(images).collect()
    }
    composed = augment_pipeline(
        images.drop("is_eval").withColumnRenamed("pneumonia", "label")
    ).collect()
    assert len(composed) == len(fused) > 0
    for r in composed:
        ps, npx = fused[(r.img_id, r.variant)]
        arr = np.frombuffer(r.aug_content, np.uint8)
        assert npx == arr.size
        assert ps == int(arr.sum(dtype=np.int64))


# ---------------------------------------------------------------------------
# Round 13: the pinned feature fixture + the full-oracle replay
# ---------------------------------------------------------------------------


def test_fixture_matches_kernels():
    """The committed fixture parquet is exactly what the pure numpy
    kernels produce: recompute a spread-out sample of images via
    tools/gen_twin_fixture.feature_rows (same _synth_content ->
    decode_gray -> equalize_hist -> augment_variants chain the twin's
    Arrow pass runs) and compare value-for-value. A codec change that
    is not reflected by regenerating the fixture fails here."""
    import os
    import sys

    import duckdb

    sys.path.insert(
        0,
        os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "tools",
        ),
    )
    from gen_twin_fixture import FIXTURE, feature_rows

    sample_ids = list(range(0, 5000, 251))  # 20 images across the id space
    want = feature_rows(sample_ids)
    got = duckdb.sql(
        f"SELECT img_id, variant, pix_sum, n_pix FROM '{FIXTURE}' "
        f"WHERE img_id IN ({', '.join(map(str, sample_ids))}) "
        "ORDER BY img_id, variant"
    ).fetchall()
    assert len(got) == len(want["img_id"]) == len(sample_ids) * 9
    for i, (img_id, variant, ps, npx) in enumerate(got):
        assert (img_id, variant, ps, npx) == (
            want["img_id"][i],
            want["variant"][i],
            want["pix_sum"][i],
            want["n_pix"][i],
        )


def test_replay_fixture_coverage_guard_fires(spark, tmp_path):
    """ADVICE r13: at a scale factor whose doc_id space is NOT covered by
    the committed fixture, the replay must fail LOUDLY (in-plan
    assert_true) instead of silently shrinking the augment/split/fedavg
    rows while the ingest counts stay full-corpus."""
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    spark.createDataFrame(
        [(10_000_000, "t", "en", "s", 1)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(str(tmp_path / "documents.parquet"))
    with pytest.raises(SparkRuntimeException, match="does not cover"):
        PT.chexpert_twin_replay(spark, str(tmp_path)).collect()


def test_replay_equals_twin(spark):
    """chexpert_twin_replay must reproduce the twin's 23 (stage, idx,
    metric) -> value rows BIT-FOR-BIT: the replay derives them from the
    committed fixture, the twin from the live fused Arrow pass, so
    equality pins (a) the fixture against the running codec and (b) the
    replay's label/split/fed-avg algebra against the twin's."""
    a = {
        (r.stage, r.idx, r.metric): r.value
        for r in PT.chexpert_pipeline_twin(spark, SF).collect()
    }
    b = {
        (r.stage, r.idx, r.metric): r.value
        for r in PT.chexpert_twin_replay(spark, SF).collect()
    }
    assert set(a) == set(b) and len(a) == 23
    assert {k: (a[k], b[k]) for k in a if a[k] != b[k]} == {}

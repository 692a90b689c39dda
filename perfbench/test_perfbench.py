"""The benchmark's own tests.  Run from the repository root:

    python3 -m pytest perfbench -q

The smoke tests run each workload once with a one-second timed window
(about a minute each); the others need no JVM.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import gen  # noqa: E402
from checks import check_pass  # noqa: E402
from run import tail, tally  # noqa: E402
from workloads import WORKLOADS, OpResult  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)


def _run(*args, cwd=ROOT, timeout=600):
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=timeout,
    )


def _last_json(stdout: str) -> dict:
    return json.loads(stdout.strip().splitlines()[-1])


def test_two_seeds_change_layout_not_counts(tmp_path):
    sizes = gen.sizes_for(0.001)
    a, ma = gen.generate(str(tmp_path), "w", 1, sizes, 2, {"documents": 50})
    b, mb = gen.generate(str(tmp_path), "w", 2, sizes, 2, {"documents": 50})
    assert {t: v["rows"] for t, v in ma["tables"].items()} == \
        {t: v["rows"] for t, v in mb["tables"].items()}
    first_a = pq.read_table(os.path.join(a, "lineitem.parquet", "part-00.parquet"))
    first_b = pq.read_table(os.path.join(b, "lineitem.parquet", "part-00.parquet"))
    assert first_a.num_rows != first_b.num_rows or not first_a.equals(first_b)
    with open(os.path.join(a, "documents_stream", "batch-000.json")) as f:
        batch_a = f.read()
    with open(os.path.join(b, "documents_stream", "batch-000.json")) as f:
        assert f.read() != batch_a
    # same values: the whole table is the same multiset of rows
    whole = [pq.read_table(os.path.join(d, "lineitem.parquet")).to_pandas() for d in (a, b)]
    whole = [w.sort_values(list(w.columns)).reset_index(drop=True) for w in whole]
    assert whole[0].equals(whole[1])


def test_corrupted_result_raises_fail_ratio(tmp_path):
    """A wrong answer is reported by name and counted as a failure."""
    from big_data_medical_analysis_spark import registry
    from checks import _duckdb

    data, _ = gen.generate(str(tmp_path), "w", 5, gen.sizes_for(0.001))
    op = "pricing_summary"
    con = _duckdb(data)
    cur = con.sql(registry.all_queries()[op].oracle)
    cols = [d[0] for d in cur.description]
    rows = cur.fetchall()
    good = OpResult(op, 1.0, rows=rows, columns=cols)
    assert check_pass(None, [good], data, 0) == {}
    bad_rows = [tuple(v + 1 if isinstance(v, int) and i == 0 else v for v in r)
                for i, r in enumerate(rows)]
    bad = OpResult(op, 1.0, rows=bad_rows, columns=cols)
    wrong = check_pass(None, [bad], data, 0)
    assert list(wrong) == [op]
    assert tally([[good]], {}) == (1, 0, {})
    attempted, failed, reasons = tally([[bad]], wrong)
    assert failed / attempted == 1.0 and op in reasons


def test_codec_invariant_mismatch_is_reported():
    cols = ["quality", "n_images", "n_within_bound", "avg_jpeg_bytes", "worst_err", "avg_mean_err"]
    ok = OpResult("jpeg_decode_stats", 1.0, rows=[(50, 10, 10, 1.0, 9, 1.0)], columns=cols)
    off = OpResult("jpeg_decode_stats", 1.0, rows=[(50, 10, 9, 1.0, 99, 1.0)], columns=cols)
    assert check_pass(None, [ok], "", 10) == {}
    assert "jpeg_decode_stats" in check_pass(None, [off], "", 10)


def test_raised_operation_counts_as_failed():
    passes = [[OpResult("a", 1.0), OpResult("b", 0.0, error="boom")]]
    assert tally(passes, {}) == (2, 1, {"b": "boom"})


def test_tail_percentile():
    assert tail([float(i) for i in range(1, 21)]) == (10.0, 50.0, 20)
    assert tail([3.0, 1.0, 2.0]) == (2.0, 50.0, 3)


def test_spec_matches_workloads():
    assert [w["name"] for w in SPEC["workloads"]] == list(WORKLOADS)
    names = [m["name"] for m in SPEC["end_to_end"] + SPEC["per_layer"]]
    assert len(names) == len(set(names))


@pytest.mark.parametrize("workload", list(WORKLOADS))
def test_smoke_prints_every_end_to_end_metric(workload):
    p = _run("--workload", workload, "--seed", "7", "--seconds", "1", "--trace", "0")
    assert p.returncode == 0, p.stderr[-3000:]
    out = _last_json(p.stdout)
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1, p.stderr[-3000:]
    assert {k: v["unit"] for k, v in out["metrics"].items()} == \
        {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert all(v["value"] > 0 for v in out["metrics"].values())


def test_traced_run_prints_every_per_layer_metric():
    p = _run("--workload", "incremental_ingest", "--seed", "7", "--seconds", "1", "--trace", "1")
    assert p.returncode == 0, p.stderr[-3000:]
    out = _last_json(p.stdout)
    assert out["correct"], p.stderr[-3000:]
    assert {k: v["unit"] for k, v in out["metrics"].items()} == \
        {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    assert "largest self-time layer" in p.stderr


def test_fails_without_the_engine(tmp_path):
    """In a directory holding only the benchmark, it exits non-zero and
    prints no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "chexpert_multimodal", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
        env={k: v for k, v in os.environ.items() if k != "PYTHONPATH"},
    )
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout

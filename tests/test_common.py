"""operators/common.py: the portable hash kernels agree with their DuckDB
twins and with a pure-Python md5 reference, row for row; scratch state is
scoped to one invocation, so overlapping calls return the serial answer and
each process cleans up after itself."""

from __future__ import annotations

import hashlib
import os
import random
import struct
import subprocess
import sys
import threading
from concurrent.futures import ThreadPoolExecutor

import duckdb
import pytest
from conftest import SF_CORRECT
from pyspark.sql import functions as F

from big_data_medical_analysis_spark import registry
from big_data_medical_analysis_spark.operators.common import es_key, md5_int
from tools.selfcheck import value_hash


def _keys() -> list[str]:
    """≥ 2000 seeded strings: the empty key, ':'-salted keys the catalog
    uses, non-ASCII (accented, CJK, emoji) and one 64 KiB key."""
    rng = random.Random(20261017)
    alphabet = "abcdefghijklmnopqrstuvwxyz0123456789 :|#-_éüñ漢字テスト😀🧬"
    keys = ["", ":", "é", "漢字", "😀", "a" * 65536]
    keys += [f"{i}:exp1" for i in range(400)]
    keys += [f"tok{i}:{i % 16}" for i in range(400)]
    keys += [f"{i}|N|{i * 37}" for i in range(200)]
    keys += [
        "".join(rng.choice(alphabet) for _ in range(rng.randint(1, 40)))
        for _ in range(1100)
    ]
    return keys


@pytest.mark.parametrize("k", [8, 15])
def test_md5_int_matches_duckdb_and_hashlib(spark, k):
    keys = _keys()
    assert len(keys) >= 2000
    rows = list(enumerate(keys))
    got = dict(
        spark.createDataFrame(rows, "i int, s string")
        .select("i", md5_int("s", k).alias("h"))
        .collect()
    )
    con = duckdb.connect()
    con.execute("CREATE TABLE t (i INTEGER, s VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    duck = dict(
        con.execute(
            f"SELECT i, CAST(concat('0x', substr(md5(s), 1, {k})) AS BIGINT) FROM t"
        ).fetchall()
    )
    ref = {i: int(hashlib.md5(s.encode()).hexdigest()[:k], 16) for i, s in rows}
    assert got == ref
    assert duck == ref


@pytest.mark.parametrize("k", [0, 16])
def test_md5_int_rejects_hexdigits_outside_bigint(k):
    with pytest.raises(ValueError, match="hexdigits"):
        md5_int("s", k)


def test_es_key_matches_duckdb_twin(spark):
    """The hash-derived uniform u is bit-identical in both engines; ``ln``
    is not: Spark evaluates it with ``StrictMath.log`` (fdlibm, < 1 ulp
    error), DuckDB with the C library's. So -ln(u) agrees to within one
    ulp, the weighted key (one more rounding, in the division) to within
    two, and the samplers — which consume the ORDER of the keys (top-K,
    per-group rank) — draw the same rows in the same order."""
    rng = random.Random(7)
    rows = [(i, rng.randint(1, 5000)) for i in range(2000)]
    key = F.col("doc_id").cast("string")
    got = {
        r[0]: (r[1], r[2])
        for r in spark.createDataFrame(rows, "doc_id long, n_chars int")
        .select("doc_id", es_key(key, F.lit(1)), es_key(key, "n_chars"))
        .collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE d (doc_id BIGINT, n_chars INTEGER)")
    con.executemany("INSERT INTO d VALUES (?, ?)", rows)
    neg_ln_u = (
        "-ln((CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))"
        " AS BIGINT) + 0.5) / 4294967296.0)"
    )
    duck = {
        r[0]: (r[1], r[2])
        for r in con.execute(
            f"SELECT doc_id, {neg_ln_u}, {neg_ln_u} / n_chars FROM d"
        ).fetchall()
    }

    def ulps(a: float, b: float) -> int:
        return abs(
            struct.unpack("<q", struct.pack("<d", a))[0]
            - struct.unpack("<q", struct.pack("<d", b))[0]
        )

    assert got.keys() == duck.keys()
    assert max(ulps(got[i][0], duck[i][0]) for i in got) <= 1
    assert max(ulps(got[i][1], duck[i][1]) for i in got) <= 2

    def order(keys: dict) -> list[int]:
        return sorted(keys, key=lambda i: (keys[i][1], i))

    assert order(got) == order(duck)


# ---------------------------------------------------------------------------
# Invocation-scoped scratch state
# ---------------------------------------------------------------------------

# Every registered query that writes files or tables at construction time
# and returns a DataFrame that reads them back.
SCRATCH_QUERIES = [
    "csv_roundtrip_revenue",
    "partitioned_parquet_prune",
    "orc_roundtrip_revenue",
    "schema_evolution_read",
    "jsonl_roundtrip_revenue",
    "corrupt_jsonl_quarantine",
    "xml_roundtrip_revenue",
    "dynamic_partition_pruning",
    "bucketed_colocated_join",
    "bucketed_fact_chain",
    "file_provenance_audit",
    "compact_small_files",
    "user_erasure_rewrite",
    "hll_incremental_daily",
    "histogram_incremental_daily",
    "minhash_incremental_probe",
    "ann_incremental_probe",
    "ann_adaptive_probe",
    "chexpert_pipeline_twin",
    "pkl_png_roundtrip",
]

# The subset whose scratch location once ignored the scale directory too.
UNSCALED_SCRATCH_QUERIES = [
    "csv_roundtrip_revenue",
    "partitioned_parquet_prune",
    "orc_roundtrip_revenue",
    "schema_evolution_read",
    "jsonl_roundtrip_revenue",
    "xml_roundtrip_revenue",
    "dynamic_partition_pruning",
]

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _hash(df) -> str:
    return value_hash([tuple(r) for r in df.collect()], df.columns)


@pytest.mark.parametrize("name", SCRATCH_QUERIES)
def test_second_build_leaves_first_frame_intact(spark, sf_dir, name):
    """Build a query's DataFrame twice, then collect both: the first frame
    still reads its own scratch state, not files the second build replaced."""
    fn = registry.queries()[name]
    serial = _hash(fn(spark, sf_dir))
    first, second = fn(spark, sf_dir), fn(spark, sf_dir)
    assert _hash(first) == serial
    assert _hash(second) == serial


@pytest.mark.parametrize("name", UNSCALED_SCRATCH_QUERIES)
def test_builds_at_two_scales_keep_their_own_scratch(spark, sf_dir, name):
    fn = registry.queries()[name]
    serial_small, serial_big = _hash(fn(spark, sf_dir)), _hash(fn(spark, SF_CORRECT))
    small, big = fn(spark, sf_dir), fn(spark, SF_CORRECT)
    assert _hash(small) == serial_small
    assert _hash(big) == serial_big


def test_concurrent_invocations_return_the_serial_answer(spark, sf_dir):
    """The paper's pipeline and a bucketed-table query, each run twice at
    once from two threads of one driver."""
    for name in ("chexpert_pipeline_twin", "bucketed_fact_chain"):
        fn = registry.queries()[name]
        serial = _hash(fn(spark, sf_dir))
        start = threading.Barrier(2)

        def run():
            start.wait()
            return _hash(fn(spark, sf_dir))

        with ThreadPoolExecutor(2) as pool:
            got = [f.result() for f in [pool.submit(run) for _ in range(2)]]
        assert got == [serial, serial], name


def _scratch_root(tmp_path) -> str:
    return os.path.join(str(tmp_path), f"spark_graft_scratch_{os.getuid()}")


def _run_python(tmp_path, code: str) -> list[str]:
    """Run ``code`` in a fresh interpreter whose temp dir is ``tmp_path``;
    returns its stdout lines."""
    env = dict(os.environ, TMPDIR=str(tmp_path))
    out = subprocess.run(
        [sys.executable, "-c", f"import sys; sys.path.insert(0, {_ROOT!r})\n{code}"],
        env=env, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    return out.stdout.split()


def test_process_scratch_is_removed_at_normal_exit(tmp_path, sf_dir):
    got = _run_python(tmp_path, f"""
import os
from big_data_medical_analysis_spark import registry
from big_data_medical_analysis_spark.session import get_spark
conf = {{"spark.driver.memory": "1g", "spark.ui.enabled": "false"}}
spark = get_spark("scratch-exit", master="local[1]", extra_conf=conf)
registry.queries()["orc_roundtrip_revenue"](spark, {sf_dir!r}).collect()
print(len(os.listdir({_scratch_root(tmp_path)!r})))
""")
    assert got[-1] == "1"  # the process's own subdirectory, while it ran
    assert os.listdir(_scratch_root(tmp_path)) == []


def test_forked_child_keeps_parent_scratch(tmp_path):
    got = _run_python(tmp_path, """
import os
from big_data_medical_analysis_spark.operators.common import invocation_dir
mine = invocation_dir("parent")
pid = os.fork()
if pid == 0:
    invocation_dir("child")
    sys.exit(0)
os.waitpid(pid, 0)
print(os.path.isdir(mine), len(os.listdir(os.path.dirname(os.path.dirname(mine)))))
""")
    assert got == ["True", "1"]  # the child removed only its own subdirectory
    assert os.listdir(_scratch_root(tmp_path)) == []


def test_first_call_removes_scratch_of_dead_processes(tmp_path):
    root = _scratch_root(tmp_path)
    os.mkdir(root, 0o700)
    dead_pid = int(_run_python(tmp_path, "import os; print(os.getpid())")[0])
    dead = os.path.join(root, f"{dead_pid}-abc")
    live = os.path.join(root, f"{os.getpid()}-abc")
    for d in (dead, live):
        os.makedirs(os.path.join(d, "left_behind_0"))
    _run_python(tmp_path, """
from big_data_medical_analysis_spark.operators.common import invocation_dir
invocation_dir("x")
""")
    assert os.listdir(root) == [os.path.basename(live)]

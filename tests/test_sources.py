"""Source/sink coverage tests: CSV write→read round trip with an explicit
schema, multi-part glob scans, and the binaryFile source — the reference's
ingest surface (SURVEY §2.1 rows 1-5, 8) exercised end-to-end.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from big_data_medical_analysis_spark import schemas
from big_data_medical_analysis_spark.sources import readers


def test_csv_roundtrip_with_schema(spark, sf_dir, tmp_path):
    """Write customer as headered CSV, read back with the declared schema:
    row count and values survive (the reference's files-vs-rows
    reconciliation, src/preprocessing_pipeline.py:296-303, as an equality
    check)."""
    out = str(tmp_path / "customer_csv")
    cust = readers.read_table(spark, sf_dir, "customer")
    cust.write.mode("overwrite").option("header", True).csv(out)
    back = readers.read_csv(spark, out, schemas.TABLES["customer"])
    assert back.count() == cust.count()
    a = cust.agg(F.sum("c_custkey").alias("s")).collect()[0].s
    b = back.agg(F.sum("c_custkey").alias("s")).collect()[0].s
    assert a == b


def test_csv_glob_scan_unions_parts(spark, sf_dir, tmp_path):
    """Glob over part files ≡ the reference's manual glob+concat
    (src/federated_learning_pipeline.py:57-59): two separately written CSV
    dirs read back through one glob path."""
    nation = readers.read_table(spark, sf_dir, "nation")
    for i, pred in enumerate(["n_nationkey < 12", "n_nationkey >= 12"]):
        nation.filter(pred).write.mode("overwrite").option("header", True).csv(
            str(tmp_path / f"part{i}")
        )
    glob_df = readers.read_csv(
        spark, str(tmp_path / "part*"), schemas.TABLES["nation"]
    )
    assert glob_df.count() == nation.count()
    assert glob_df.select("n_nationkey").distinct().count() == nation.count()


def test_binary_dir_source(spark, tmp_path):
    """binaryFile source: one row per file, content bytes intact, glob
    filter honored."""
    d = tmp_path / "bin"
    d.mkdir()
    payloads = {f"f{i}.dat": bytes([i]) * (10 + i) for i in range(3)}
    (d / "ignore.txt").write_text("nope")
    for name, blob in payloads.items():
        (d / name).write_bytes(blob)
    df = readers.read_binary_dir(spark, str(d), glob="*.dat")
    rows = df.collect()
    assert len(rows) == 3
    for r in rows:
        name = os.path.basename(r.path)
        assert bytes(r.content) == payloads[name]
        assert r.length == len(payloads[name])


def test_events_reader_handles_all_physical_ts_generations(spark, tmp_path):
    """The driver's events.parquet has shipped with TIMESTAMP(NANOS)
    (rounds 1-3) and TIMESTAMP(MICROS, naive) (round 4+); a tz-adjusted
    variant is the remaining plausible generation. All three must decode
    to identical microsecond instants — the round-4 red rows came from
    decoding one generation with another's path (1000x-shrunk instants)."""
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    from big_data_medical_analysis_spark.sources.readers import read_table

    src_dir = "/root/testdata/sf0.001"
    base = pq.read_table(f"{src_dir}/events.parquet")
    idx = base.schema.get_field_index("ts")

    def variant(name: str, typ, version: str) -> str:
        d = str(tmp_path / name)
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        t = base.set_column(
            idx, pa.field("ts", typ), base.column("ts").cast(typ)
        )
        pq.write_table(t, f"{d}/events.parquet", version=version,
                       coerce_timestamps=None)
        return d

    dirs = {
        "ns": variant("ev_ns", pa.timestamp("ns"), "2.6"),
        "us": variant("ev_us", pa.timestamp("us"), "2.6"),
        "us_tz": variant("ev_tz", pa.timestamp("us", tz="UTC"), "2.6"),
    }
    want = read_table(spark, src_dir, "events").selectExpr(
        "sum(unix_micros(ts)) AS s", "count(*) AS n"
    ).collect()[0]
    for label, d in dirs.items():
        got = read_table(spark, d, "events").selectExpr(
            "sum(unix_micros(ts)) AS s", "count(*) AS n"
        ).collect()[0]
        assert (got.s, got.n) == (want.s, want.n), label


def test_per_user_tmpdir_refuses_squattable_root(tmp_path, monkeypatch):
    """The scratch-root helper must reject a pre-existing directory that
    is group/other-writable (and, when not owned by this uid, reject that
    too — not directly testable without a second uid): makedirs with
    exist_ok=True alone would silently accept an attacker-owned dir."""
    import os

    import pytest as _pytest

    from big_data_medical_analysis_spark.operators.common import (
        per_user_tmpdir,
    )

    monkeypatch.setenv("TMPDIR", str(tmp_path))
    import tempfile

    tempfile.tempdir = None  # force re-read of TMPDIR
    try:
        root = per_user_tmpdir("squat_check")
        assert root.startswith(str(tmp_path))
        assert os.stat(root).st_mode & 0o077 == 0
        # now make it world-writable, as a squatter would have
        os.chmod(root, 0o777)
        with _pytest.raises(PermissionError):
            per_user_tmpdir("squat_check")
    finally:
        tempfile.tempdir = None


def test_all_scratch_paths_go_through_per_user_tmpdir():
    """Convention pin: every scratch location in the engine must come from
    common.per_user_tmpdir (uid-scoped, 0700, ownership-verified). A raw
    tempfile.gettempdir() join reintroduces the squattable-path class the
    round-9 review closed. Operators take per-call scratch from
    common.invocation_dir / invocation_table only: a direct per_user_tmpdir
    call (outside common.py and the npy fixture cache) or a saveAsTable
    whose name is not an invocation_table name is state shared across
    calls, which overlapping calls overwrite."""
    import ast
    import os
    import re

    pkg = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "big_data_medical_analysis_spark",
    )
    offenders = []
    for root, _dirs, files in os.walk(pkg):
        for fn in files:
            if not fn.endswith(".py"):
                continue
            path = os.path.join(root, fn)
            src = open(path).read()
            if fn == "common.py":
                continue  # the helper itself
            for i, ln in enumerate(src.splitlines(), 1):
                if re.search(r"tempfile\.gettempdir\(\)", ln):
                    offenders.append(f"{path}:{i}")
                if "getpass.getuser()" in ln:
                    offenders.append(f"{path}:{i}")
                if "per_user_tmpdir(" in ln and fn != "npy_datasource.py":
                    offenders.append(f"{path}:{i}")
            for func in ast.walk(ast.parse(src)):
                if not isinstance(func, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    continue
                fresh = {
                    t.id
                    for node in ast.walk(func)
                    if isinstance(node, ast.Assign)
                    and isinstance(node.value, ast.Call)
                    and getattr(node.value.func, "id", None) == "invocation_table"
                    for t in node.targets
                    if isinstance(t, ast.Name)
                }
                for node in ast.walk(func):
                    if (
                        isinstance(node, ast.Call)
                        and getattr(node.func, "attr", None) == "saveAsTable"
                        and not (
                            node.args
                            and isinstance(node.args[0], ast.Name)
                            and node.args[0].id in fresh
                        )
                    ):
                        offenders.append(f"{path}:{node.lineno}")
    assert offenders == [], offenders

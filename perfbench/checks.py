"""Correctness gate: every checked operation's output is compared with an
independent answer, and every mismatch is returned by name.

- ``jpeg_decode_stats``: every image decodes within its quality's error
  bound (the invariant its tests assert).
- ``chexpert_pipeline_twin``: the report has its 23 rows, the client split
  has no overlap and is complete, and augmentation fans out 9x.
- Ingest maintainers: the state each stream accumulated equals the batch
  function over all of its input (streaming equals batch).
- Any other registered query: row count, column names and the
  order-insensitive value hash of ``tools/selfcheck.value_hash`` against
  its DuckDB oracle on the same files.
"""

from __future__ import annotations

import os

from gen import TABLES
from workloads import OpResult


def check_pass(spark, results: list[OpResult], data: str, n_docs: int) -> dict[str, str]:
    """Return ``{op: reason}`` for every operation, of those that ran to
    the end, whose output is wrong."""
    bad: dict[str, str] = {}
    con = None
    for res in results:
        try:
            if res.op in _INVARIANTS:
                reason = _INVARIANTS[res.op](spark, res, data, n_docs)
            elif res.op in _STREAM_TWINS:
                reason = _stream_equals_batch(spark, res, data)
            else:
                if con is None:
                    con = _duckdb(data)
                reason = _oracle(con, res)
        except Exception as e:  # noqa: BLE001 - a check that cannot run is a failed check
            reason = f"check raised {type(e).__name__}: {str(e)[:200]}"
        if reason:
            bad[res.op] = reason
    if con is not None:
        con.close()
    return bad


def _duckdb(data: str):
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet/*.parquet'")
    return con


def _oracle(con, res: OpResult) -> str | None:
    from big_data_medical_analysis_spark import registry
    from tools.selfcheck import value_hash

    sql = registry.all_queries()[res.op].oracle
    if sql is None:
        return "no oracle and no invariant registered in the benchmark"
    cur = con.sql(sql)
    cols = [d[0] for d in cur.description]
    rows = cur.fetchall()
    if len(rows) != len(res.rows):
        return f"row count {len(res.rows)} != oracle {len(rows)}"
    if sorted(cols) != sorted(res.columns):
        return f"columns {sorted(res.columns)} != oracle {sorted(cols)}"
    if value_hash(res.rows, res.columns) != value_hash(rows, cols):
        return "value hash differs from the DuckDB oracle"
    return None


def _named(res: OpResult) -> list[dict]:
    return [dict(zip(res.columns, r)) for r in res.rows]


def _sum(rows, col):
    return sum(r[col] for r in rows)


def _jpeg(spark, res, data, n_docs):
    rows = _named(res)
    if not _sum(rows, "n_images") == _sum(rows, "n_within_bound") == n_docs:
        return f"JPEG error bound: {_sum(rows, 'n_within_bound')} within of {n_docs}"
    return None


def _twin(spark, res, data, n_docs):
    m = {(r["stage"], r["idx"], r["metric"]): r["value"] for r in _named(res)}
    problems = []
    if len(m) != 23:
        problems.append(f"{len(m)} report rows, expected 23")
    if m.get(("audit", -1, "overlap_keys")) != 0.0:
        problems.append("client split overlaps")
    if m.get(("audit", -1, "completeness_delta")) != 0.0:
        problems.append("client split incomplete")
    if m.get(("augment", -1, "n_augmented")) != 9 * m.get(("dedup", -1, "n_unique_images"), -1):
        problems.append("augmented rows != 9 x unique images")
    return "; ".join(problems) or None


_INVARIANTS = {
    "jpeg_decode_stats": _jpeg,
    "chexpert_pipeline_twin": _twin,
}


_STREAM_TWINS = {
    # op: (batch function module, name, state dir, compared columns, batch input)
    "pmh_index_stream": ("big_data_medical_analysis_spark.operators.dedup",
                         "pmh_banded_buckets", "index", ("doc_id", "band", "bucket"),
                         "documents_stream"),
    "hll_state_stream": ("big_data_medical_analysis_spark.operators.sketches",
                         "daily_event_registers", "state", ("day", "register", "rho"),
                         "events_stream"),
}


def _read_batch(spark, op: str, path: str):
    """The stream's input files read as one batch, with the stream's own
    schema."""
    from big_data_medical_analysis_spark.streaming import windows

    reader = {
        "documents_stream": windows.read_docs_stream,
        "events_stream": windows.read_event_stream,
    }[_STREAM_TWINS[op][4]]
    stream = reader(spark, path)
    batch = spark.read.schema(stream.schema)
    if op == "hll_state_stream":
        batch = batch.option("timestampFormat", "yyyy-MM-dd HH:mm:ss.SSSSSS")
    return batch.json(path)


def _stream_equals_batch(spark, res: OpResult, data: str) -> str | None:
    import importlib

    from pyspark.sql import functions as F

    mod, fn, state, cols, corpus = _STREAM_TWINS[res.op]
    if not res.batches:
        return "stream processed no micro-batch"
    path = res.out_dirs[state]
    if res.op == "hll_state_stream":
        path = os.path.join(path, "current")
    spark.catalog.refreshByPath(path)
    proj = [F.col(c).cast("string") for c in cols]
    streamed = {tuple(r) for r in spark.read.parquet(path).select(proj).collect()}
    batch_fn = getattr(importlib.import_module(mod), fn)
    expected = {
        tuple(r)
        for r in batch_fn(_read_batch(spark, res.op, os.path.join(data, corpus)))
        .select(proj).collect()
    }
    if streamed != expected:
        return (f"streamed state ({len(streamed)} rows) != {fn} over all input "
                f"({len(expected)} rows)")
    return None

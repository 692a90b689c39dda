"""The benchmark's workloads: which public operations each one runs, on
which generated inputs, and how one pass over them is executed and checked.

Both are closed loops with one client: the next operation starts when
the previous one has finished.  The program is driven only through its
public functions: ``registry.all_queries()``, the ``*_stream`` starters of
``streaming.windows`` and the numpy kernels of ``operators.multimodal``
and ``operators.jpeg_codec``.
"""

from __future__ import annotations

import contextlib
import os
import time
from dataclasses import dataclass, field, replace

from gen import Sizes, sizes_for


@dataclass(frozen=True)
class Workload:
    name: str
    kind: str  # "batch": registered queries; "stream": ingest maintainers
    ops: tuple[str, ...]
    sizes: Sizes
    expected_layer: tuple[str, ...]
    stream_batches: int = 0
    stream_rows: dict[str, int] = field(default_factory=dict)


# Sized so that one run (three set-ups, a settle pass, the timed window)
# stays near a minute on 4 cores: most of a pass is fixed per-job cost,
# so more rows buy little steadiness and cost set-up time.
WORKLOADS: dict[str, Workload] = {
    w.name: w
    for w in (
        Workload(
            "chexpert_multimodal",
            "batch",
            ("chexpert_pipeline_twin", "jpeg_decode_stats"),
            replace(sizes_for(0.001), documents=300),
            ("python", "kernel"),
        ),
        Workload(
            "incremental_ingest",
            "stream",
            ("pmh_index_stream", "hll_state_stream"),
            sizes_for(0.001),
            ("stream",),
            stream_batches=2,
            stream_rows={"documents": 400, "events": 1000},
        ),
    )
}

# ingest starter in streaming.windows -> (input corpus, its output dirs)
_STREAMS = {
    "pmh_index_stream": ("documents_stream", ("index", "matches")),
    "hll_state_stream": ("events_stream", ("state",)),
}


@dataclass
class OpResult:
    op: str
    seconds: float
    cpu_s: float = 0.0  # engine JVM, its Python workers and this process
    op_id: str = ""
    rows: list | None = None  # collected output, on checked passes
    columns: list[str] | None = None
    error: str | None = None
    batches: list[dict] = field(default_factory=list)  # stream progress
    run_id: str | None = None
    out_dirs: dict[str, str] = field(default_factory=dict)


class NullTracer:
    """Stands in for ``trace.Tracer`` on untraced passes: no spans, no
    job groups, no plan forcing."""

    def span(self, name, op_id=None):
        return contextlib.nullcontext()

    def job_group(self, spark, group):
        pass

    def plan(self, df, op_id):
        pass


def run_pass(spark, wl: Workload, data: str, work: str, pass_id: int,
             collect: bool, tracer, cpu_clock) -> list[OpResult]:
    """One pass over every operation of ``wl``.  Batch operations run to
    the ``noop`` sink, or are collected when ``collect`` is set; ingest
    operations backfill every micro-batch file into fresh state dirs.
    ``cpu_clock()`` reads the CPU seconds the engine has used so far."""
    run = _run_stream_op if wl.kind == "stream" else _run_batch_op
    results = []
    with tracer.span("pass", f"p{pass_id}"):
        for op in wl.ops:
            op_id = f"p{pass_id}:{op}"
            c0, t0 = cpu_clock(), time.perf_counter()
            try:
                with tracer.span("op", op_id):
                    res = run(spark, op, data, work, op_id, collect, tracer)
            except Exception as e:  # noqa: BLE001 - counted in fail_ratio, reported by name
                res = OpResult(op, 0.0, error=f"{type(e).__name__}: {str(e)[:300]}")
            res.seconds = time.perf_counter() - t0
            res.cpu_s = cpu_clock() - c0
            res.op_id = op_id
            results.append(res)
    tracer.job_group(spark, None)
    return results


def _run_batch_op(spark, op, data, work, op_id, collect, tracer) -> OpResult:
    from big_data_medical_analysis_spark import registry

    tracer.job_group(spark, "c|" + op_id)
    with tracer.span("construct", op_id):
        df = registry.all_queries()[op].fn(spark, data)
    tracer.plan(df, op_id)
    tracer.job_group(spark, "x|" + op_id)
    with tracer.span("execute", op_id):
        if collect:
            rows = [tuple(r) for r in df.collect()]
            return OpResult(op, 0.0, rows=rows, columns=list(df.columns))
        df.write.mode("overwrite").format("noop").save()
    return OpResult(op, 0.0)


def _run_stream_op(spark, op, data, work, op_id, collect, tracer) -> OpResult:
    from big_data_medical_analysis_spark.streaming import windows

    corpus, outs = _STREAMS[op]
    root = os.path.join(work, "ingest", op_id.replace(":", "_"))
    dirs = {name: os.path.join(root, name) for name in outs}
    tracer.job_group(spark, "c|" + op_id)
    with tracer.span("construct", op_id):
        q = getattr(windows, op)(
            spark, os.path.join(data, corpus), *dirs.values(),
            os.path.join(root, "checkpoint"), available_now=True,
        )
    with tracer.span("execute", op_id):
        if not q.awaitTermination(60):
            q.stop()
            raise TimeoutError(f"{op} backfill did not finish in 60 s")
    if q.exception() is not None:
        raise RuntimeError(str(q.exception())[:300])
    batches = [p for p in q.recentProgress if p.numInputRows > 0]
    return OpResult(op, 0.0, batches=[
        {"durations": dict(p.durationMs), "rows": p.numInputRows} for p in batches
    ], run_id=str(q.runId), out_dirs=dirs)

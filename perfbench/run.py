"""Benchmark of record for the engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root.  One run:

1. builds the workload's inputs from ``--seed`` (``gen.py``) under
   ``.perfbench_work/`` in the repository, where it also keeps every file
   the engine and Spark write;
2. sets up three times: a fresh ``get_spark`` session on ``local[<cpus>]``
   and one untimed, collected warm-up pass of the workload.  The first
   warm-up's outputs go through the correctness gate (``checks.py``);
3. runs three whole timed passes, and more until ``--seconds`` have
   gone by, in the last session: closed loop, one client;
4. prints one JSON line: the end-to-end metrics with ``--trace 0``, the
   per-layer metrics with ``--trace 1`` (see ``BENCHMARK.json``).

With ``--trace 1`` the sessions write a Spark event log, traced passes
alternate with untraced ones, and the spans, the run context and every
metric are written to ``.perfbench_work/records/``.
"""

from __future__ import annotations

import argparse
import functools
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
SETUPS = 3
# the CPU a pass costs keeps falling for many passes while the JIT
# compiles, so every run times the same number of passes
TIMED_PASSES = 3
SPIN_ROWS = 100_000_000
KERNEL_SAMPLE = 32


def _prepare_env(work: str) -> None:
    """Keep every file the run writes inside the repository, and let
    Python workers import the engine from any working directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # the JVM that spark-submit runs first to build the Spark command line
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    sys.path[:0] = [HERE, ROOT]


def _start_session(cpus: int, work: str, trace: bool):
    from big_data_medical_analysis_spark.session import get_spark

    conf = {
        "spark.driver.memory": "2g",
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": log_dir,
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.compress": "false",
        })
    return get_spark("perfbench", master=f"local[{cpus}]", extra_conf=conf)


def _spin(spark, cpus: int) -> float:
    """Frozen JVM spin probe: whole-stage codegen over a range, no I/O, no
    Python.  Best of two; it tracks the box, not the engine."""
    best = float("inf")
    for _ in range(2):
        t0 = time.perf_counter()
        spark.range(0, SPIN_ROWS, 1, cpus).selectExpr("sum(id % 7)").collect()
        best = min(best, time.perf_counter() - t0)
    return best


def _peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def _tree_cpu_s(root: int) -> float:
    """CPU seconds used so far by this process, by process ``root`` and by
    every live descendant of it, reaped children included."""
    tick = os.sysconf("SC_CLK_TCK")
    kids: dict[int, list[int]] = {}
    cpu: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:  # the process left while we listed
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        kids.setdefault(int(fields[1]), []).append(int(entry))
        cpu[int(entry)] = sum(int(x) for x in fields[11:15])
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += cpu.get(pid, 0)
        todo += kids.get(pid, [])
    return total / tick + time.process_time()


def _shutdown(spark) -> None:
    """Stop the session and the JVM it runs in, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:  # noqa: BLE001 - a JVM that will not leave is killed
                proc.kill()
                proc.wait()


def kernel_timings(spark, data: str, seed: int, n_images: int) -> dict[str, float]:
    """Milliseconds per image of the public numpy kernels, on a seeded
    sample of the workload's synthesized images (median of 3 rounds)."""
    import numpy as np
    from pyspark.sql import functions as F

    from big_data_medical_analysis_spark.operators import jpeg_codec, multimodal as mm

    pick = np.random.default_rng(seed).choice(n_images, min(KERNEL_SAMPLE, n_images), replace=False)
    rows = (mm.synth_images(spark, data).filter(F.col("img_id").isin([int(i) for i in pick]))
            .select("img_id", "height", "width", "content").collect())
    ids = [r.img_id for r in rows]
    imgs = [np.frombuffer(r.content, np.uint8).reshape(r.height, r.width) for r in rows]
    jpegs = [jpeg_codec.encode_jpeg(im, (50, 75, 90, 100)[int(i) % 4]) for i, im in zip(ids, imgs)]
    pngs = [mm.encode_png(im, int(i) % 5) for i, im in zip(ids, imgs)]
    norms = [mm.equalize_hist(im) for im in imgs]
    kernels = {
        "decode_jpeg_ms": (jpeg_codec.decode_jpeg, [(b,) for b in jpegs]),
        "decode_png_ms": (mm.decode_png, [(b,) for b in pngs]),
        "equalize_hist_ms": (mm.equalize_hist, [(im,) for im in imgs]),
        "augment_variants_ms": (mm.augment_variants, [(n, n.tobytes()) for n in norms]),
        "dhash64_ms": (mm.dhash64, [(im,) for im in imgs]),
    }
    out = {}
    for name, (fn, args) in kernels.items():
        rounds = []
        for _ in range(3):
            t0 = time.perf_counter()
            for a in args:
                fn(*a)
            rounds.append((time.perf_counter() - t0) * 1000.0 / len(args))
        out[name] = statistics.median(rounds)
    return out


def tail(samples: list[float]) -> tuple[float, float, int]:
    """The highest percentile with at least ten samples beyond it, as
    (value, percentile, sample count); the median below 11 samples."""
    xs = sorted(samples)
    n = len(xs)
    if n < 11:
        return statistics.median(xs), 50.0, n
    return xs[n - 11], 100.0 * (n - 10) / n, n


def _latencies(wl, passes) -> tuple[dict[str, list[float]], list[float]]:
    """Per-operation latencies, and the unit-of-work samples behind
    ``batch_p50_s``: queries for batch workloads, micro-batches (their
    ``triggerExecution``) for ingest."""
    per_op = {op: [] for op in wl.ops}
    units = []
    for results in passes:
        for r in results:
            per_op[r.op].append(r.seconds)
            if wl.kind == "stream":
                units += [b["durations"].get("triggerExecution", 0) / 1000.0 for b in r.batches]
            else:
                units.append(r.seconds)
    return per_op, units


def tally(passes, wrong: dict[str, str]) -> tuple[int, int, dict[str, str]]:
    """Every operation run is attempted; one that raised, or whose checked
    output was wrong, failed.  Returns (attempted, failed, reasons by op)."""
    errors = [r for p in passes for r in p if r.error]
    reasons = {r.op: r.error for r in errors}
    reasons.update(wrong)
    return sum(len(p) for p in passes), len(errors) + len(wrong), reasons


def latency(wl, timed) -> dict[str, tuple[float, str]]:
    """Wall-clock figures of the timed passes: pass wall, the geometric
    mean of the operations' median latencies, and the median unit of
    work."""
    per_op, units = _latencies(wl, timed)
    op_medians = [statistics.median(v) for v in per_op.values()]
    return {
        "wall_s": (statistics.median(sum(r.seconds for r in p) for p in timed), "s"),
        "query_geomean_s": (statistics.geometric_mean(op_medians), "s"),
        "batch_p50_s": (statistics.median(units) if wl.kind == "stream"
                        else statistics.median(op_medians), "s"),
    }


def end_to_end(wl, timed, setups) -> dict[str, tuple[float, str]]:
    """CPU seconds per timed pass and per operation, and set-up time.  CPU
    time is what a pass costs; on a shared box it repeats far better than
    wall time, which neighbours stretch (wall figures are per-layer)."""
    per_op = {op: [r.cpu_s for p in timed for r in p if r.op == op] for op in wl.ops}
    return {
        "cpu_s": (statistics.median(sum(r.cpu_s for r in p) for p in timed), "s"),
        "query_cpu_geomean_s": (
            statistics.geometric_mean([statistics.median(v) for v in per_op.values()]), "s"),
        "setup_s": (statistics.median(setups), "s"),
    }


def layer_self_times(tracer, traced, log) -> dict[str, float]:
    """Self time of each layer over the traced passes.  The wall of a
    construct or execute span goes to the Python workers by their share of
    the task time of the jobs launched in it, the rest to construction or
    to the JVM; an ingest operation's execute wall outside ``addBatch`` is
    the stream's own bookkeeping."""
    from trace import self_times

    results = {r.op_id: r for p in traced for r in p}
    layer = dict.fromkeys(("construct", "plan", "exec", "python", "stream"), 0.0)
    for i, wall in self_times(tracer.spans).items():
        s = tracer.spans[i]
        res = results.get(s["op"])
        if res is None or s["name"] not in ("construct", "plan", "execute"):
            continue
        if s["name"] == "plan":
            layer["plan"] += wall
            continue
        if s["name"] == "construct":
            group, own = "c|" + res.op_id, "construct"
        else:
            group, own = res.run_id or "x|" + res.op_id, "exec"
            if res.run_id:
                in_batch = min(wall, sum(b["durations"].get("addBatch", 0)
                                         for b in res.batches) / 1000.0)
                layer["stream"] += wall - in_batch
                wall = in_batch
        a = log.get(group, {})
        share = min(1.0, a.get("py_run_ms", 0.0) / a["run_ms"]) if a.get("run_ms") else 0.0
        layer["python"] += wall * share
        layer[own] += wall * (1.0 - share)
    return layer


def per_layer(wl, tracer, traced, untraced, log, ctx) -> dict[str, tuple[float, str]]:
    """Per-layer metrics of the traced passes, each a per-pass figure."""
    n = len(traced)
    traced_ids = {r.op_id for p in traced for r in p}
    runs = {r.run_id for p in traced for r in p if r.run_id}
    groups = {"c": [], "x": [], "s": []}
    for g, a in log.items():
        if g.startswith("c|") and g[2:] in traced_ids:
            groups["c"].append(a)
        elif g.startswith("x|") and g[2:] in traced_ids:
            groups["x"].append(a)
        elif g in runs:
            groups["s"].append(a)

    def tot(key, kinds=("x", "s")):
        return sum(a.get(key, 0.0) for k in kinds for a in groups[k])

    by_kind = {"construct": 0.0, "plan": 0.0, "execute": 0.0}
    for s in tracer.spans:
        if s["name"] in by_kind and s["op"] in traced_ids:
            by_kind[s["name"]] += s["end"] - s["start"]
    layer = layer_self_times(tracer, traced, log)
    batches = [b for p in traced for r in p for b in r.batches]

    def dmed(key):
        vals = [b["durations"].get(key, 0) / 1000.0 for b in batches]
        return statistics.median(vals) if vals else 0.0

    tasks = tot("tasks")
    t_val, t_pct, t_n = tail(_latencies(wl, untraced)[1])
    m = {
        **latency(wl, untraced),
        "session.start_s": (statistics.median(ctx["session_start_s"]), "s"),
        "session.warmup_s": (statistics.median(ctx["warmup_s"]), "s"),
        "construct.s": (by_kind["construct"] / n, "s"),
        "construct.jobs": (tot("jobs", ("c",)) / n, "count"),
        "plan.analysis_ms": (sum(p.get("analysis", 0) for p in tracer.phases.values()) / n, "ms"),
        "plan.optimization_ms": (sum(p.get("optimization", 0) for p in tracer.phases.values()) / n, "ms"),
        "plan.planning_ms": (sum(p.get("planning", 0) for p in tracer.phases.values()) / n, "ms"),
        "exec.s": (by_kind["execute"] / n, "s"),
        "exec.jobs": (tot("jobs") / n, "count"),
        "exec.stages": (tot("stages") / n, "count"),
        "exec.tasks": (tasks / n, "count"),
        "exec.task_run_s": (tot("run_ms") / 1000.0 / n, "s"),
        "exec.task_cpu_s": (tot("cpu_ns") / 1e9 / n, "s"),
        "exec.gc_s": (tot("gc_ms") / 1000.0 / n, "s"),
        "exec.shuffle_read_bytes": (tot("shuffle_read") / n, "bytes"),
        "exec.shuffle_write_bytes": (tot("shuffle_write") / n, "bytes"),
        "exec.spill_bytes": (tot("spill") / n, "bytes"),
        "exec.task_success_ratio": (tot("tasks_ok") / tasks if tasks else 1.0, "ratio"),
        "sources.input_bytes": (tot("input_bytes", ("c", "x", "s")) / n, "bytes"),
        "sources.input_records": (tot("input_records", ("c", "x", "s")) / n, "count"),
        "python.sent_bytes": (tot("py_sent_bytes", ("c", "x", "s")) / n, "bytes"),
        "python.returned_bytes": (tot("py_returned_bytes", ("c", "x", "s")) / n, "bytes"),
        "python.returned_rows": (tot("py_returned_rows", ("c", "x", "s")) / n, "count"),
        "python.run_s": (tot("py_run_ms", ("c", "x", "s")) / 1000.0 / n, "s"),
        **{f"kernel.{k}": (v, "ms") for k, v in ctx["kernels"].items()},
        "stream.trigger_s": (dmed("triggerExecution"), "s"),
        "stream.add_batch_s": (dmed("addBatch"), "s"),
        "stream.plan_batch_s": (dmed("queryPlanning"), "s"),
        "stream.offset_s": (statistics.median(
            [sum(b["durations"].get(k, 0) for k in ("latestOffset", "walCommit", "commitOffsets"))
             / 1000.0 for b in batches]) if batches else 0.0, "s"),
        "stream.jobs_per_batch": (tot("jobs", ("s",)) / len(batches) if batches else 0.0, "count"),
        "stream.rows_per_batch": (statistics.fmean(b["rows"] for b in batches) if batches else 0.0, "count"),
        "stream.output_bytes": (tot("output_bytes", ("s",)) / n, "bytes"),
        "batch_tail_s": (t_val, "s"),
        "batch_tail_pct": (t_pct, "%"),
        "batch_samples": (float(t_n), "count"),
        "check.fail_ratio": (ctx["failed"] / ctx["attempted"], "ratio"),
        "trace.wall_s": (statistics.median(sum(r.seconds for r in p) for p in traced), "s"),
        "trace.overhead_s": (
            statistics.median(sum(r.seconds for r in p) for p in traced)
            - statistics.median(sum(r.seconds for r in p) for p in untraced), "s"),
        **{f"self.{k}_s": (v / n, "s") for k, v in layer.items()},
        "peak_rss_mb": (ctx["peak_rss_mb"], "MB"),
        "inputs.gen_s": (ctx["gen_s"], "s"),
        "inputs.bytes": (float(sum(t["bytes"] for t in ctx["inputs"].values())), "bytes"),
        "box.spin_start_s": (ctx["spin_start_s"], "s"),
        "box.spin_close_s": (ctx["spin_close_s"], "s"),
    }
    ctx["top_layer"] = max(layer, key=layer.get)
    return m


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    t_run = time.perf_counter()
    _prepare_env(WORK)
    try:
        import big_data_medical_analysis_spark  # noqa: F401
        import duckdb
        import pyspark
    except ImportError as e:
        print(f"perfbench: the engine is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    import gen
    from checks import check_pass
    from trace import Tracer, read_event_log
    from workloads import WORKLOADS, NullTracer, run_pass

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]
    trace = bool(args.trace)
    run_dir = os.path.join(WORK, "run")
    for stale in ("run", "eventlog", "inputs"):
        shutil.rmtree(os.path.join(WORK, stale), ignore_errors=True)
    os.makedirs(run_dir)

    data, manifest = gen.generate(os.path.join(WORK, "inputs"), wl.name, args.seed,
                                  wl.sizes, wl.stream_batches, wl.stream_rows)
    n_docs = manifest["tables"]["documents"]["rows"]
    cpus = len(os.sched_getaffinity(0))
    ctx = {"workload": wl.name, "seed": args.seed, "cpus": cpus, "master": f"local[{cpus}]",
           "gen_s": manifest["gen_s"], "inputs": manifest["tables"],
           "session_start_s": [], "warmup_s": [], "kernels": {}}

    null = NullTracer()
    spark = None
    try:
        setups, warm, wrong = [], [], {}
        for k in range(SETUPS):
            if spark is not None:
                spark.stop()
            t0 = time.perf_counter()
            spark = _start_session(cpus, WORK, trace)
            t1 = time.perf_counter()
            jvm = spark._jvm.java.lang.ProcessHandle.current().pid()
            cpu = functools.partial(_tree_cpu_s, jvm)
            res = run_pass(spark, wl, data, run_dir, k, True, null, cpu)
            warm.append(res)
            setups.append(time.perf_counter() - t0)
            ctx["session_start_s"].append(t1 - t0)
            ctx["warmup_s"].append(time.perf_counter() - t1)
            if k == 0:
                wrong = check_pass(spark, [r for r in res if not r.error], data, n_docs)
        ctx["versions"] = {
            "python": sys.version.split()[0], "pyspark": pyspark.__version__,
            "java": spark._jvm.java.lang.System.getProperty("java.version"),
            "duckdb": duckdb.__version__,
        }
        ctx["spin_start_s"] = _spin(spark, cpus)

        # closed loop: whole passes, TIMED_PASSES of them and then until
        # --seconds have gone by; a traced run alternates untraced and
        # traced passes
        tracer = Tracer() if trace else null
        traced, untraced = [], []
        t_start = time.perf_counter()
        while (len(untraced) + len(traced) < TIMED_PASSES
               or time.perf_counter() - t_start < args.seconds):
            on = trace and len(untraced) > len(traced)
            res = run_pass(spark, wl, data, run_dir, SETUPS + len(traced) + len(untraced),
                           False, tracer if on else null, cpu)
            (traced if on else untraced).append(res)
        ctx["spin_close_s"] = _spin(spark, cpus)
        ctx["peak_rss_mb"] = _peak_rss_mb(spark)
        if trace:
            ctx["kernels"] = kernel_timings(spark, data, args.seed, n_docs)
    finally:
        if spark is not None:
            _shutdown(spark)

    attempted, failed, failures = tally([*warm, *untraced, *traced], wrong)
    ctx.update(attempted=attempted, failed=failed, failures=failures, setups_s=setups,
               run_s=time.perf_counter() - t_run,
               passes=[{r.op_id: [r.seconds, r.cpu_s] for r in p}
                       for p in (*warm, *untraced, *traced)])
    if trace:
        metrics = per_layer(wl, tracer, traced, untraced,
                            read_event_log(os.path.join(WORK, "eventlog")), ctx)
        ctx["expected_layer"] = list(wl.expected_layer)
        ctx["top_layer_matches"] = ctx["top_layer"] in wl.expected_layer
    else:
        metrics = end_to_end(wl, untraced, setups)
    records = os.path.join(WORK, "records")
    os.makedirs(records, exist_ok=True)
    stem = os.path.join(records, f"{wl.name}_s{args.seed}_t{args.trace}")
    with open(stem + ".json", "w") as f:
        json.dump({"context": ctx, "metrics": metrics}, f, indent=1, default=str)
    if trace:
        tracer.write(stem + "_spans.json")
        print(f"perfbench: largest self-time layer {ctx['top_layer']} "
              f"(expected {'/'.join(wl.expected_layer)})", file=sys.stderr)
    for op, why in sorted(failures.items()):
        print(f"perfbench: FAILED {op}: {why}", file=sys.stderr)
    shutil.rmtree(run_dir, ignore_errors=True)
    shutil.rmtree(os.path.join(WORK, "tmp"), ignore_errors=True)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""SparkSession factory with the engine's tuned config profile.

The reference builds a bare ``local[*]`` session with all defaults
(``src/preprocessing_pipeline.py:244-247``). This engine centralizes a
scale-aware profile instead: AQE on (runtime re-plan, skew-join splitting,
partition coalescing), Arrow on (vectorized Python boundary), UTC session
timezone (oracle comparability), and shuffle partitions sized to the local
core count rather than the 200 default.

At cluster scale the same profile applies with different numbers:
``spark.sql.shuffle.partitions`` ~ 2-3x total executor cores (AQE coalesces
down), ``maxPartitionBytes`` sized so a scan task fits comfortably in an
executor core's memory share.

The profile runs Python workers under the engine's own daemon module,
``pyworker`` (``spark.python.daemon.module``), because stock
``pyspark.daemon`` charges every task of a reused worker a fixed CPU
floor unrelated to the task. ``importlib.invalidate_caches()`` makes each
cached ``pyspark.zip`` importer re-parse the zip's 1,328-entry central
directory (120-220 ms of CPU per task on CPython 3.11), and the full
``gc.collect()`` after each task walks ~73k objects of pyspark, pandas and
pyarrow (25-50 ms). ``pyworker`` skips re-reads of unchanged archives,
and imports and ``gc.freeze``-s that heap once before it forks. A warm
trivial 4-task ``mapInPandas`` job on ``local[4]`` cost 0.9 s of
Python-worker CPU and 0.33 s of wall time under the stock daemon, and
0.01-0.02 s and 0.12-0.16 s under ``pyworker``. To re-check, sum
utime+stime over the JVM's Python descendants (``/proc/<pid>/stat``)
around such a job.

The workers import the daemon, and the engine's UDF modules, from the
package root that ``get_spark`` appends to
``spark.executorEnv.PYTHONPATH``, so a driver launched from any working
directory can run Python stages.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_DRIVER_MEMORY_CAP_MIB = 24 * 1024
# the directory that holds this package: Python workers import the engine
# (its daemon module, its UDF modules) from here
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _mem_total_kib() -> int | None:
    """``MemTotal`` of /proc/meminfo in KiB, or None where it can't be read."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return int(line.split()[1])
    except (OSError, ValueError, IndexError):
        pass
    return None


def _driver_memory() -> str:
    """The driver heap for this box: ~60% of ``MemTotal`` (the JVM's
    off-heap, the Python workers and the OS need the rest — a fixed 24g
    heap on a 16 GB box gets the JVM OOM-killed), capped at 24g, and 24g
    where ``MemTotal`` can't be read."""
    kib = _mem_total_kib()
    if kib is None:
        return f"{_DRIVER_MEMORY_CAP_MIB}m"
    return f"{min(kib * 6 // 10 // 1024, _DRIVER_MEMORY_CAP_MIB)}m"


# Tuned for the local[32] test harness; on a real cluster these are
# overridden by spark-submit conf. AQE handles the runtime delta.
_DEFAULTS: dict[str, str] = {
    # --- adaptive execution: the 100 TB insurance policy ---
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # --- shuffle sizing ---
    "spark.sql.shuffle.partitions": "32",
    "spark.sql.files.maxPartitionBytes": "134217728",  # 128 MiB scan splits
    # --- Python boundary: Arrow everywhere ---
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    # --- determinism / oracle comparability ---
    "spark.sql.session.timeZone": "UTC",
    # events.parquet carries TIMESTAMP(NANOS); read as int64 ns and
    # normalize in sources/readers.py (Spark rejects nanos outright).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # --- broadcast: dims under 32 MiB never shuffle ---
    "spark.sql.autoBroadcastJoinThreshold": str(32 * 1024 * 1024),
    # --- quiet local runs ---
    "spark.ui.enabled": "false",
    "spark.sql.execution.pandas.convertToArrowArraySafely": "true",
    # --- Python workers: forked from the engine's daemon (module docstring)
    "spark.python.daemon.module": "big_data_medical_analysis_spark.pyworker",
}


def _profile(extra_conf: dict[str, str] | None) -> dict[str, str]:
    """The session conf: the profile, ``extra_conf`` over it, and the
    package root appended to ``spark.executorEnv.PYTHONPATH`` after any
    entries the caller gives, so the workers can import the engine."""
    # heap: local[N] puts driver+executors in ONE JVM, and the 1g default
    # OOMs long before the box does. Only effective at JVM launch
    # (getOrCreate), inert when attaching to an existing session.
    conf = {"spark.driver.memory": _driver_memory(), **_DEFAULTS}
    if extra_conf:
        conf.update(extra_conf)
    key = "spark.executorEnv.PYTHONPATH"
    entries = [p for p in conf.get(key, "").split(os.pathsep) if p]
    if _PACKAGE_ROOT not in entries:
        entries.append(_PACKAGE_ROOT)
    conf[key] = os.pathsep.join(entries)
    return conf


def get_spark(
    app_name: str = "big_data_medical_analysis_spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine profile.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32) so
    tests and bench share one knob. ``extra_conf`` wins over the profile
    (see ``_profile`` for ``spark.executorEnv.PYTHONPATH``).
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    builder = SparkSession.builder.appName(app_name).master(master)
    for k, v in _profile(extra_conf).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

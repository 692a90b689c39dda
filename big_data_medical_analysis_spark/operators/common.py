"""Shared helpers for operator modules: exact-arithmetic aggregation and
timestamp rendering conventions that keep the Spark plan and the DuckDB
oracle bit-identical.

Floating-point sums are order-dependent, and Spark and DuckDB will not sum
600k doubles in the same order — so any oracle that hashes a raw ``SUM(double)``
is flaky by construction. The engine's convention: scale each value to an
integer *before* aggregating (``round(x * 10^k)`` is deterministic per row
because both engines see identical IEEE doubles and round half-away-from-zero),
aggregate exactly in int64, and divide once at the end. The same discipline
is what you'd want at 100 TB anyway — money in integer cents.

Timestamps are rendered with an explicit format on both sides
(Spark ``date_format`` ↔ DuckDB ``strftime``) rather than relying on engine
default casts, which differ in fractional-second padding.

Every deterministic "random" decision — client and fold splits, salted
shuffles, portable MinHash, HLL registers, Count-Min and Bloom cells,
rendezvous resharding, weighted-sampling races, watermark jitter — draws
from one **portable hash** (``md5_int``): the first k hex digits of
``md5(key)`` read as a BIGINT. md5 is the only hash function both engines
ship (Spark's ``hash``/``xxhash64`` have no DuckDB twin), so the oracle
rebuilds the identical value and checks it, not just a row count. k is
8 (a non-negative 32-bit value) or 15 (60 bits, for fingerprints that
must not collide); 16 digits would overflow a signed BIGINT in both
engines, so k is limited to 1..15. Salts are part of the key
(``concat(key, ':salt')``), never a second hash function.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Render formats (Spark pattern ↔ DuckDB strftime pattern)
TS_FMT_SPARK = "yyyy-MM-dd HH:mm:ss.SSSSSS"
TS_FMT_DUCK = "%Y-%m-%d %H:%M:%S.%f"
DATE_FMT_SPARK = "yyyy-MM-dd"
DATE_FMT_DUCK = "%Y-%m-%d"


def fan_out(df: DataFrame, *cols: str) -> DataFrame:
    """Repartition to the session's default parallelism with an EXPLICIT
    partition count, ahead of CPU-heavy per-row stages (pandas UDFs, wide
    hash/HOF expression projections).

    Why explicit: ``repartition(col)`` with no count leaves the exchange
    AQE-coalescible; a stage whose shuffle payload is a few KB but whose
    per-row compute is expensive gets coalesced to ONE task, serializing the
    work (observed on the single-file documents/embeddings scans). Spark
    honors a user-specified partition count, so the explicit form pins it.

    At 100 TB inputs already arrive in thousands of scan splits and this
    extra exchange of narrow keys is noise next to the per-row decode/hash
    cost it parallelizes; keyed form keeps hash co-location, keyless form is
    round-robin for key-free projections.
    """
    n = df.sparkSession.sparkContext.defaultParallelism
    if cols:
        return df.repartition(n, *cols)
    return df.repartition(n)


def explode_nonnull_pinned(df: DataFrame, src: str, alias: str, *keep: str) -> DataFrame:
    """``explode`` of a COMPUTED array column without re-deriving it.

    Plain ``F.explode`` makes Catalyst infer ``size(arr) > 0 AND
    isnotnull(arr)`` (InferFiltersFromGenerate) and then push that filter
    through every projection and exchange down to the SCAN — substituting
    the array's full defining expression, so an expensive derivation (HOF
    shingles, hash chains) that an exchange deliberately materialized gets
    re-evaluated per source row in unmaterialized form (measured on
    prefix_filter_jaccard_join: 4.2s of a 5s query was this hidden filter).
    ``explode_outer`` infers nothing; the null-filter on the generator's
    OUTPUT attribute cannot be pushed below the Generate, so the pinned
    materialization is actually reused. Rows with empty/null arrays are
    dropped either way. ONE semantic difference from ``explode``: null
    ELEMENTS inside the array are also dropped (explode keeps them as
    null rows). The ``nonnull`` in the name IS the precondition: only use
    this helper on arrays whose elements are provably non-null
    (concat_ws/hash/cast chains — every current call site); for nullable
    elements, keep ``F.explode`` and pay the inferred filter, or
    pre-coalesce the elements. The precondition is not runtime-checked —
    element nullability in the schema is conservatively True for most
    computed arrays, so a schema assert would reject every sound call
    site; the name makes new call sites self-audit instead.
    """
    cols = [F.col(c) for c in (keep or [c for c in df.columns if c != src])]
    return df.select(*cols, F.explode_outer(src).alias(alias)).filter(
        F.col(alias).isNotNull()
    )


def checkpoint_pinned(df: DataFrame, allow_hof_filter: bool = False) -> DataFrame:
    """``localCheckpoint`` for multi-consumer derived tables, with the
    repo's plan audits applied to the PRE-checkpoint plan first.

    Checkpoints truncate lineage: everything upstream becomes an opaque
    LogicalRDD, invisible to the bench's undisclosed-single-partition-
    window audit and the test suite's HOF-chain-in-Filter audit. A defect
    introduced above a raw ``localCheckpoint`` would therefore pass both
    audits silently. This wrapper closes the hole at the exact point it
    opens: it runs the same two checks on the sub-plan at construction
    time (plan-string inspection only — nothing executes beyond the
    checkpoint job itself) and raises on a violation. A call site whose
    checkpointed plan legitimately carries a HOF predicate passes
    ``allow_hof_filter=True`` and discloses why in its docstring — the
    same discipline as bench.SINGLE_PARTITION_WINDOW_OK.
    """
    from big_data_medical_analysis_spark import plans as P

    n = P.unpartitioned_window_count(df)
    if n:
        raise ValueError(
            f"checkpoint_pinned: {n} single-partition window(s) in the "
            "pre-checkpoint plan would be hidden from the bench audit — "
            "partition the window or checkpoint above it"
        )
    if not allow_hof_filter:
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        bad = [
            ln.strip()[:160]
            for ln in plan.split("\n")
            if "Filter" in ln and "lambdafunction(" in ln
        ]
        if bad:
            raise ValueError(
                "checkpoint_pinned: a Filter evaluates a HOF chain in the "
                f"pre-checkpoint plan ({bad[0]}) — fix the recompute or "
                "pass allow_hof_filter=True with a docstring disclosure"
            )
    return df.localCheckpoint()


def per_user_tmpdir(name: str) -> str:
    """Create-or-validate a per-user scratch root under the system temp
    dir: ``<tmp>/<name>_<uid>``, mode 0700.

    A predictable shared-/tmp path is squattable: another local user
    pre-creates it (possibly world-writable) and can then replace the
    files this engine writes/reads there, poisoning fixtures or persisted
    intermediates. ``makedirs(exist_ok=True)`` alone does NOT close that —
    it happily accepts an attacker-owned pre-existing directory — so this
    helper additionally requires the directory to be OWNED by the current
    uid and not writable by group/other, and raises otherwise. Test/
    fixture scaffolding only; on a real cluster these intermediates live
    on job-scoped shared storage and this concept does not exist.
    """
    import os
    import stat
    import tempfile

    root = os.path.join(tempfile.gettempdir(), f"{name}_{os.getuid()}")
    # Symlink squat: an attacker pre-plants a symlink at the predictable
    # path aimed at a victim-owned dir — makedirs(exist_ok=True) accepts
    # it and os.stat FOLLOWS it, so the uid/mode checks below would pass
    # against the *target*. Reject the link itself before trusting it.
    if os.path.islink(root):
        raise PermissionError(
            f"{root} is a symlink — refusing to use a squattable scratch root"
        )
    os.makedirs(root, mode=0o700, exist_ok=True)
    if os.path.islink(root):  # raced in between: still refuse
        raise PermissionError(
            f"{root} is a symlink — refusing to use a squattable scratch root"
        )
    st = os.stat(root)
    if st.st_uid != os.getuid():
        raise PermissionError(
            f"{root} is owned by uid {st.st_uid}, not {os.getuid()} — "
            "refusing to use a squattable scratch root"
        )
    if st.st_mode & (stat.S_IWGRP | stat.S_IWOTH):
        raise PermissionError(
            f"{root} is group/other-writable (mode {oct(st.st_mode)}) — "
            "refusing to use a squattable scratch root"
        )
    return root


def cents(col: Column | str, scale: int = 100) -> Column:
    """``round(col * scale)`` as int64 — exact-sum building block.

    DuckDB twin: ``CAST(round(col * scale) AS BIGINT)``.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.round(c * F.lit(scale)).cast("long")


def md5_int(s: Column | str, hexdigits: int = 8) -> Column:
    """The portable hash: first ``hexdigits`` hex digits of ``md5(s)`` as
    int64, in [0, 16^hexdigits). ``s`` is a string column (or its name);
    callers cast keys and append salts themselves.

    DuckDB twin: ``CAST(concat('0x', substr(md5(s), 1, k)) AS BIGINT)``.
    """
    if not 1 <= hexdigits <= 15:
        raise ValueError(
            f"md5_int: hexdigits={hexdigits} outside 1..15 (16 hex digits "
            "overflow a signed BIGINT)"
        )
    return F.conv(F.substring(F.md5(s), 1, hexdigits), 16, 10).cast("long")


def es_key(key: Column | str, weight: Column | str) -> Column:
    """Efraimidis–Spirakis weighted-sampling key ``-ln(u) / w`` with
    u = (md5_int(key) + 0.5) / 2^32 in (0, 1): the K smallest keys are a
    weighted sample without replacement. u is bit-identical in both
    engines; ``ln`` is not (Spark's is ``StrictMath.log``) and may differ
    by one ulp, so oracles compare the key rounded or by its order.

    DuckDB twin: ``-ln((CAST(concat('0x', substr(md5(key), 1, 8)) AS BIGINT)
    + 0.5) / 4294967296.0) / w``.
    """
    w = F.col(weight) if isinstance(weight, str) else weight
    u = (md5_int(key).cast("double") + F.lit(0.5)) / F.lit(4294967296.0)
    return -F.log(u) / w


def money_sum(col: Column | str, scale: int = 100) -> Column:
    """Order-independent SUM over doubles via integer scaling.

    DuckDB twin: ``CAST(sum(CAST(round(col*scale) AS BIGINT)) AS DOUBLE)/scale``.
    """
    return F.sum(cents(col, scale)).cast("double") / F.lit(float(scale))


def money_avg(col: Column | str, scale: int = 100, ndigits: int = 6) -> Column:
    """Order-independent AVG: exact integer sum / count, rounded.

    DuckDB twin:
    ``round(CAST(sum(CAST(round(col*scale) AS BIGINT)) AS DOUBLE)/scale/count(*), n)``.
    """
    avg = F.sum(cents(col, scale)).cast("double") / F.lit(float(scale)) / F.count(F.lit(1))
    return F.round(avg, ndigits)


def ts_str(col: Column | str) -> Column:
    """Microsecond-precision timestamp → string (UTC session).

    DuckDB twin: ``strftime(col, '%Y-%m-%d %H:%M:%S.%f')``.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.date_format(c, TS_FMT_SPARK)


def date_str(col: Column | str) -> Column:
    """Date-precision timestamp → 'YYYY-MM-DD' string.

    DuckDB twin: ``strftime(col, '%Y-%m-%d')``.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.date_format(c, DATE_FMT_SPARK)


def weight_below(
    cells: DataFrame,
    group_cols: list[str],
    order_col: str,
    weight_col: str,
    bucket_col: str = "bucket",
) -> DataFrame:
    """Two-level distributed prefix sum: append ``below`` = Σ weight over
    rows of the SAME group with a STRICTLY smaller ``order_col`` — the
    global-order statistic (rank-below) computed WITHOUT a global sort.

    Level 1: a window PARTITIONED BY (group, coarse bucket) accumulates
    weight before the row within its bucket. Level 2: whole lower buckets
    arrive via a broadcast range-join over the tiny per-bucket aggregate
    (buckets ≈ value-range / bucket-width, constant per group). ``cells``
    must already carry ``bucket_col`` (floor(order/width)) and be safe to
    consume three times (checkpoint-pinned by callers).

    Tie semantics: for INTEGRAL ``order_col`` the level-1 window uses a
    RANGE frame (… ≤ order − 1 ≡ strictly smaller), so duplicate
    (group, order) cells are handled exactly. For non-numeric order
    columns (the SNM sort-key callers) RANGE boundaries don't exist, so
    the frame is ROWS and **cells MUST be distinct per (group,
    order_col)** — every current caller guarantees this via
    groupBy/distinct on the order key; a tied pair under ROWS would
    count nondeterministically as "below".

    Shared by ``auc_mann_whitney`` (weight = negatives per score) and
    ``gini_customer_concentration`` (weight = count per value); the
    hypothesis property test in tests/test_round10_close2.py pins the
    helper against an O(n²) brute force over random inputs, including
    duplicate integral cells on the RANGE path.
    """
    from pyspark.sql import Window
    from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType

    order_type = cells.schema[order_col].dataType
    base = Window.partitionBy(*group_cols, bucket_col).orderBy(order_col)
    if isinstance(order_type, (ByteType, ShortType, IntegerType, LongType)):
        # value ≤ current − 1 ≡ strictly smaller for integers; exact
        # under duplicate (group, order) cells
        w = base.rangeBetween(Window.unboundedPreceding, -1)
    else:
        # string/other order keys: strictly-smaller holds only because
        # callers pass distinct (group, order) cells — see docstring
        w = base.rowsBetween(Window.unboundedPreceding, -1)
    within = cells.withColumn(
        "_within_below",
        F.coalesce(F.sum(weight_col).over(w), F.lit(0)).cast("long"),
    )
    bt = cells.groupBy(*group_cols, bucket_col).agg(
        F.sum(weight_col).cast("long").alias("_bucket_w")
    )
    cond = F.col(f"b2.{bucket_col}") < F.col(f"b1.{bucket_col}")
    for g in group_cols:
        cond = cond & (F.col(f"b2.{g}") == F.col(f"b1.{g}"))
    bb = (
        bt.alias("b1")
        .join(F.broadcast(bt.alias("b2")), cond, "left")
        .groupBy(
            *[F.col(f"b1.{g}").alias(g) for g in group_cols],
            F.col(f"b1.{bucket_col}").alias(bucket_col),
        )
        .agg(
            F.coalesce(F.sum(F.col("b2._bucket_w")), F.lit(0))
            .cast("long")
            .alias("_bucket_below")
        )
    )
    return (
        within.join(F.broadcast(bb), [*group_cols, bucket_col])
        .withColumn(
            "below",
            (F.col("_within_below") + F.col("_bucket_below")).cast("long"),
        )
        .drop("_within_below", "_bucket_below")
    )

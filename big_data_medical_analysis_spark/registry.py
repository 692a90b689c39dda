"""Named-query registry: the engine's public operator catalog.

Every operator in SURVEY.md §2 is exposed as a named, composable function
``(spark, sf_dir) -> DataFrame`` with, where SQL-expressible, an ANSI-SQL
oracle twin that DuckDB runs on the same parquet tables. The driver's
correctness harness compares the two (row count + schema + order-insensitive
value hash), so:

- every computed column is aliased identically in the Spark plan and SQL;
- float aggregates are rounded identically on both sides;
- timestamps are rendered to strings identically on both sides
  (Spark ``date_format`` ↔ DuckDB ``strftime``).

Non-SQL-expressible operators (Bernoulli sampling, engine-hash partitioning,
LSH over engine RNG) register with ``oracle=None`` → the driver records a
weaker rows-only check.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class Query:
    name: str
    fn: QueryFn
    oracle: str | None  # ANSI SQL for DuckDB, or None → rows-only check
    category: str

    @property
    def doc(self) -> str:
        """The query's docstring, read at ACCESS time — several operators
        substitute constants into ``__doc__`` after their ``@register``
        decorator has run (the ``.replace(...)`` lines at module bottom);
        a decoration-time snapshot would serve those consumers the raw
        {PLACEHOLDER} text (code-review r14)."""
        return (self.fn.__doc__ or "").strip()


_REGISTRY: dict[str, Query] = {}


def register(name: str, oracle: str | None = None, category: str = "relational"):
    """Decorator: register ``fn(spark, sf_dir) -> DataFrame`` under ``name``."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        _REGISTRY[name] = Query(name, fn, oracle, category)
        return fn

    return deco


def _load_all() -> None:
    """Import every operator module so its @register calls run."""
    # Imported here (not at module top) to avoid import cycles: operator
    # modules import `register` from this module.
    from big_data_medical_analysis_spark.operators import (  # noqa: F401
        analytics,
        dedup,
        etl,
        multimodal,
        pipeline_twin,
        quality,
        relational,
        selection,
        similarity,
        sketches,
        statistics,
        subqueries,
        text_analysis,
        udf_surface,
    )
    from big_data_medical_analysis_spark.sources import npy_datasource  # noqa: F401
    from big_data_medical_analysis_spark.streaming import windows  # noqa: F401


# ---------------------------------------------------------------------------
# Mechanical verification-window rotation.
#
# The driver's correctness harness checks roughly the first _WINDOW queries it
# is handed (every CORRECTNESS_r*.json to date contains exactly 50 names), so
# the order of the dicts returned below is a *priority* order. Rounds 6 and 7
# both shipped a hand-edited priority tuple that led with the just-consumed
# window — the same stale-window defect twice. The priority is therefore now
# COMPUTED from the checked-in driver artifacts (CORRECTNESS_r*.json at the
# repo root) at import time:
#
#   1. queries with NO driver row ever, in registration order — except the
#      names in _DEFER_WITHIN_NEVER_CHECKED, which sort to the end of the
#      never-checked block (lowest-risk full-oracle relational patterns whose
#      building blocks are already green inside other checked queries; when
#      never-checked count exceeds the window, these are the right residue);
#   2. everything else by latest driver round ASCENDING (stalest first),
#      ties broken by registration order.
#
# When a new CORRECTNESS_rN.json lands, the next import rotates automatically:
# freshly-checked queries fall to the back, never-checked and stale ones lead.
# tests/test_entry.py pins the invariant (first min(window, never_checked)
# names are all never-checked).
# ---------------------------------------------------------------------------

_WINDOW = 50

# Editorial tiebreaker *within* the never-checked block only — everything else
# is artifact-driven. When more queries are never-checked than the window
# holds, list here the ones whose failure modes are already covered by green
# queries (plain window/rollup/aggregate shapes), not the ones with novel
# surface; they sort to the end of the never-checked block. Every name must
# be registered (tests/test_entry.py). Empty while no query is never-checked.
_DEFER_WITHIN_NEVER_CHECKED: tuple[str, ...] = ()

# Explicit rotation key AHEAD of plain staleness: a query whose
# implementation changed in round R but whose latest driver row predates R
# is running on an unverified code path — the driver row is the contract
# signal, so these lead the window (right after any never-checked queries).
# Maintained by hand at change time: add/update `name: round` when a round
# edits a query's value-producing code; the entry self-expires once a driver
# row >= that round lands (the comparison below), so stale entries are
# harmless and are deleted once expired. Non-value changes (plan pins,
# docstrings, refactors whose oracle hashes are re-verified unchanged) don't
# belong here. Each key appears once (tests/test_entry.py).
_CODE_CHANGED_ROUND: dict[str, int] = {}

# ---------------------------------------------------------------------------
# Rotation growth cap (VERDICT r10 task 1, written rule):
#
#   net catalog growth in a round MUST stay below
#       _WINDOW − queries_owed
#   where queries_owed = (never-driver-checked) + (code-changed since
#   their last driver row) + (queries whose latest driver row is at the
#   current staleness floor). New registrations lead the priority order,
#   so every query added above that cap evicts an owed query from the
#   next driver window — exactly the lag rounds 8–10 accumulated (+56
#   queries vs 50 slots left 6 queries never checked and a 19-query
#   r5-stale tail for two rounds).
#
# tests/test_entry.py::test_rotation_growth_cap enforces this
# mechanically: the first _WINDOW names of the priority order must
# include EVERY never-checked query and EVERY code-changed-stale query.
#
# Round-13 amendment (VERDICT r12 budgeted 5 owed slots against a
# 48-query floor cohort, which the original all-inclusive cap could not
# admit): never-checked + code-changed remain HARD owed (always inside
# the window); the floor-stale tail is best-effort — it may spill past
# the window only up to the hard-owed count, and the spilled names must
# be exactly the next ones in priority order (they lead the following
# round's window), so the tail still drains mechanically.
# ---------------------------------------------------------------------------


def _repo_root() -> str:
    import os

    return os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


_LATEST_ROUNDS_CACHE: dict[str, int] | None = None


def latest_driver_rounds() -> dict[str, int]:
    """name -> latest round with a driver correctness row, from artifacts.
    Cached per process: the checked-in CORRECTNESS_r*.json set is fixed
    for a process lifetime, and queries()/oracle_sql() are called in
    loops by tests and tooling."""
    global _LATEST_ROUNDS_CACHE
    if _LATEST_ROUNDS_CACHE is not None:
        return _LATEST_ROUNDS_CACHE
    import glob
    import json
    import os
    import re

    latest: dict[str, int] = {}
    for path in sorted(glob.glob(os.path.join(_repo_root(), "CORRECTNESS_r*.json"))):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            with open(path) as f:
                rows = json.load(f)
        except (OSError, ValueError):
            continue
        if not isinstance(rows, dict):
            continue
        for name in rows:
            latest[name] = max(latest.get(name, 0), rnd)
    _LATEST_ROUNDS_CACHE = latest
    return latest


def _priority_order(registered: list[str]) -> list[str]:
    latest = latest_driver_rounds()
    reg_index = {n: i for i, n in enumerate(registered)}
    defer_rank = {n: i for i, n in enumerate(_DEFER_WITHIN_NEVER_CHECKED)}

    def key(name: str):
        if name not in latest:  # never driver-checked: lead
            deferred = name in defer_rank
            return (0, int(deferred), defer_rank.get(name, 0), reg_index[name])
        if latest[name] < _CODE_CHANGED_ROUND.get(name, 0):
            # code changed after the last driver row: unverified path,
            # jumps ahead of plain staleness (oldest driver row first)
            return (1, 0, latest[name], reg_index[name])
        return (2, 0, latest[name], reg_index[name])

    return sorted(registered, key=key)


def all_queries() -> dict[str, Query]:
    _load_all()
    order = _priority_order(list(_REGISTRY))
    return {name: _REGISTRY[name] for name in order}


def queries() -> dict[str, QueryFn]:
    """Driver-contract shape: name -> (spark, sf_dir) -> DataFrame."""
    return {n: q.fn for n, q in all_queries().items()}


def oracle_sql() -> dict[str, str]:
    """Driver-contract shape: name -> DuckDB SQL (only where expressible)."""
    return {n: q.oracle for n, q in all_queries().items() if q.oracle is not None}

"""Streaming pillar over the ``events`` table (SURVEY.md §2.3 rows 20-22):
tumbling / sliding / session windows, watermarks, and stateful dedup.

Spark's windowed aggregations are *mode-agnostic*: the same
``groupBy(window(...))`` logical plan executes as a batch hash aggregate or
as an incremental stateful operator under Structured Streaming. The engine
exploits that directly —

- each aggregation core is a plain ``DataFrame -> DataFrame`` function;
- the **batch** form is registered as an oracle-checked query (DuckDB
  ``time_bucket`` / gaps-and-islands twins), proving the window semantics;
- the **stream** form wraps the same core behind ``readStream`` +
  ``withWatermark``; tests/test_streaming.py proves batch ≡ stream on
  on-time data and exercises watermark late-row drop and
  ``dropDuplicatesWithinWatermark`` — semantics no batch oracle can express.

Scale design: streaming state is keyed by (window, group) — bounded by the
watermark horizon, not by stream length. Sliding windows fan each event into
window/slide copies *inside the aggregate* (no materialized explode), and
session windows shuffle once on the session key. The reference has no
streaming surface at all; this pillar is mandated by the north star.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from big_data_medical_analysis_spark.operators.common import (
    TS_FMT_DUCK,
    money_sum,
    ts_str,
)
from big_data_medical_analysis_spark.registry import register
from big_data_medical_analysis_spark.sources.readers import read_table

TUMBLE_LEN = "6 hours"
SLIDE_WIN = "1 day"
SLIDE_STEP = "6 hours"
SESSION_GAP = "4 hours"
WATERMARK = "30 minutes"


# ---------------------------------------------------------------------------
# Aggregation cores (mode-agnostic: batch DataFrame or streaming DataFrame)
# ---------------------------------------------------------------------------


def tumbling_agg(events: DataFrame) -> DataFrame:
    """Per (6h tumbling window × event_type) counts and exact value sums."""
    return (
        events.groupBy(F.window("ts", TUMBLE_LEN).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            money_sum("value").alias("total_value"),
        )
        .select(
            ts_str(F.col("w.start")).alias("window_start"),
            ts_str(F.col("w.end")).alias("window_end"),
            "event_type",
            "n",
            "total_value",
        )
    )


def sliding_agg(events: DataFrame) -> DataFrame:
    """1-day windows sliding every 6h: each event lands in 4 overlapping
    windows — fanned out inside the aggregate, not via a materialized
    explode."""
    return (
        events.groupBy(F.window("ts", SLIDE_WIN, SLIDE_STEP).alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            money_sum("value").alias("total_value"),
        )
        .select(
            ts_str(F.col("w.start")).alias("window_start"),
            ts_str(F.col("w.end")).alias("window_end"),
            "n",
            "total_value",
        )
    )


def session_agg(events: DataFrame) -> DataFrame:
    """Per-user session windows (gap = 4h): window extends to
    last_event + gap; a new event at ≥ gap from the session end starts a
    new session. One shuffle on the session key (user_id)."""
    return (
        events.groupBy(
            F.session_window("ts", SESSION_GAP).alias("w"), "user_id"
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            ts_str(F.col("w.start")).alias("session_start"),
            ts_str(F.col("w.end")).alias("session_end"),
            "n_events",
        )
    )


# ---------------------------------------------------------------------------
# Batch-registered, oracle-checked forms
# ---------------------------------------------------------------------------

_TUMBLING_SQL = f"""
SELECT
  strftime(time_bucket(INTERVAL 6 HOUR, ts), '{TS_FMT_DUCK}') AS window_start,
  strftime(time_bucket(INTERVAL 6 HOUR, ts) + INTERVAL 6 HOUR, '{TS_FMT_DUCK}')
    AS window_end,
  event_type,
  count(*) AS n,
  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS total_value
FROM events
GROUP BY 1, 2, 3
"""


@register("tumbling_event_counts", oracle=_TUMBLING_SQL, category="streaming")
def tumbling_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 6h windows × event_type (batch form of the streaming core;
    tests prove the stream form emits identical finalized windows)."""
    return tumbling_agg(read_table(spark, sf_dir, "events"))


_SLIDING_SQL = f"""
SELECT
  strftime(wstart, '{TS_FMT_DUCK}') AS window_start,
  strftime(wstart + INTERVAL 24 HOUR, '{TS_FMT_DUCK}') AS window_end,
  count(*) AS n,
  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS total_value
FROM (
  SELECT time_bucket(INTERVAL 6 HOUR, ts) - k.k * INTERVAL 6 HOUR AS wstart,
         value
  FROM events, (SELECT unnest([0, 1, 2, 3]) AS k) k
)
GROUP BY wstart
"""


@register("sliding_event_stats", oracle=_SLIDING_SQL, category="streaming")
def sliding_event_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (1 day every 6h). The oracle expands the 4-way window
    membership explicitly (each event belongs to exactly window/slide = 4
    windows); Spark does the same fan-out inside the aggregate."""
    return sliding_agg(read_table(spark, sf_dir, "events"))


_SESSION_SQL = f"""
WITH marked AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts - lag(ts) OVER w >= INTERVAL 4 HOUR
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), numbered AS (
  SELECT user_id, ts,
         sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS UNBOUNDED PRECEDING) AS sess_id
  FROM marked
)
SELECT user_id,
       strftime(min(ts), '{TS_FMT_DUCK}') AS session_start,
       strftime(max(ts) + INTERVAL 4 HOUR, '{TS_FMT_DUCK}') AS session_end,
       count(*) AS n_events
FROM numbered
GROUP BY user_id, sess_id
"""


@register("session_windows", oracle=_SESSION_SQL, category="streaming")
def session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user session windows, gap 4h. The oracle is the classic
    gaps-and-islands formulation (lag + cumulative new-session flags) —
    Spark's ``session_window`` must produce byte-identical sessions."""
    return session_agg(read_table(spark, sf_dir, "events"))


_RUNNING_TOTALS_SQL = """
SELECT user_id,
       count(*) AS n_events,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0
         AS total_value
FROM events
GROUP BY user_id
"""


@register(
    "running_user_totals_batch", oracle=_RUNNING_TOTALS_SQL, category="streaming"
)
def running_user_totals_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of ``running_user_totals_stream``'s final state: per-user
    event count + exact int64-cents value total. The stream form carries the
    same (n, total_cents) pair in the state store; tests/test_streaming.py
    asserts the stream's last emission per user equals this aggregate, so the
    driver-green row here pins the stateful operator's arithmetic too."""
    return (
        read_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            money_sum("value").alias("total_value"),
        )
    )


# ---------------------------------------------------------------------------
# Streaming forms (used by tests/test_streaming.py; no batch oracle exists
# for watermark drop / stateful dedup semantics)
# ---------------------------------------------------------------------------


def read_event_stream(
    spark: SparkSession,
    input_dir: str,
    max_files_per_trigger: int = 1,
) -> DataFrame:
    """File-source event stream (JSON lines, explicit schema — schema
    inference is disabled in the data plane, same rule as batch readers)."""
    schema = (
        "event_id long, ts timestamp, user_id long, "
        "event_type string, value double, props string"
    )
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .option("timestampFormat", "yyyy-MM-dd HH:mm:ss.SSSSSS")
        .json(input_dir)
    )


def tumbling_stream(events: DataFrame, watermark: str = WATERMARK) -> DataFrame:
    """Watermarked tumbling aggregation: append-mode emits each window once,
    when the watermark passes its end; rows later than the watermark are
    dropped from state, not merged."""
    return tumbling_agg(events.withWatermark("ts", watermark))


def dedup_stream(events: DataFrame, watermark: str = WATERMARK) -> DataFrame:
    """Stateful exact dedup on event_id with bounded state:
    ``dropDuplicatesWithinWatermark`` keeps each key only until the
    watermark passes it — the 100 TB-safe form of streaming dedup (state is
    O(events per watermark horizon), not O(stream))."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def running_user_totals_stream(events: DataFrame) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: per-user
    running event count + exact running value total, state carried across
    micro-batches (the engine's arbitrary-stateful-processing surface —
    semantics Spark's built-in windowed aggregates can't express, e.g.
    unbounded per-key accumulators with custom merge logic).

    State is one (n, total_cents) pair per user — int64 cents so recompute
    order never changes the total. At scale, per-key state lives in the
    state store keyed by the shuffle partitioning of ``user_id``; an
    unbounded-keyspace deployment would add a timeout
    (``GroupStateTimeout.EventTimeTimeout``) to bound it — fixed user
    universe here, so NoTimeout is the honest choice.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = "user_id long, n_events long, total_value double"
    state_schema = "n long, total_cents long"

    def _update(key, pdfs, state):
        n, cents = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            # Half-away-from-zero, matching common.cents (Spark round) and
            # udf_surface.round_half_away — pandas Series.round is
            # half-to-even, which would drift 0.01 from the batch totals.
            v = pdf["value"].to_numpy("float64") * 100.0
            cents += int(
                (np.sign(v) * np.floor(np.abs(v) + 0.5)).astype("int64").sum()
            )
        state.update((n, cents))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "total_value": [cents / 100.0],
            }
        )

    return events.groupBy("user_id").applyInPandasWithState(
        _update,
        out_schema,
        state_schema,
        "update",
        GroupStateTimeout.NoTimeout,
    )


def session_stream(events: DataFrame, watermark: str = WATERMARK) -> DataFrame:
    """Watermarked session-window aggregation (append mode): a session is
    emitted once, when the watermark passes its end (last event + gap);
    events arriving within the gap — even in later micro-batches — merge
    into the open session first. Same core as the batch form, so
    tests/test_streaming.py can assert batch ≡ stream."""
    return session_agg(events.withWatermark("ts", watermark))


# ---------------------------------------------------------------------------
# Stream-static join (enrichment against a dimension table)
# ---------------------------------------------------------------------------

_ENRICH_SQL = """
SELECT c.c_mktsegment,
       count(*) AS n_purchases,
       CAST(sum(CAST(round(e.value * 100) AS BIGINT)) AS DOUBLE) / 100.0
         AS total_value
FROM events e JOIN customer c ON e.user_id = c.c_custkey
WHERE e.event_type = 'purchase'
GROUP BY c.c_mktsegment
"""


def enrich_purchases(events: DataFrame, customer: DataFrame) -> DataFrame:
    """Shared core of the batch twin and the stream-static form: filter to
    purchases, broadcast-join the customer dimension on user_id, aggregate
    count + exact-cents value per market segment."""
    dim = customer.select("c_custkey", "c_mktsegment")
    return (
        events.filter(F.col("event_type") == "purchase")
        .join(F.broadcast(dim), F.col("user_id") == F.col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            money_sum("value").alias("total_value"),
        )
    )


@register("event_customer_enrich", oracle=_ENRICH_SQL, category="streaming")
def event_customer_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the stream-static enrichment join: purchase events
    joined to the customer dimension, aggregated per market segment. The
    driver-green row here pins the join+agg arithmetic the streaming form
    re-executes per micro-batch (tests/test_streaming.py asserts
    stream ≡ batch on the same fixture).

    Scale: the canonical streaming enrichment shape — the dimension side is
    broadcast so each micro-batch joins map-side with no stateful shuffle;
    only the segment aggregate keeps (tiny) state. A dimension too big to
    broadcast would move to a keyed state store lookup instead
    (applyInPandasWithState over user_id).
    """
    return enrich_purchases(
        read_table(spark, sf_dir, "events"),
        read_table(spark, sf_dir, "customer"),
    )


def enrich_stream(events: DataFrame, customer: DataFrame) -> DataFrame:
    """Stream-static join: each micro-batch of the event stream joins the
    static customer dimension (re-broadcast per batch, so dimension updates
    between batches are picked up), then feeds the running per-segment
    aggregate — emit with ``outputMode("update")``/``"complete"``."""
    return enrich_purchases(events, customer)


# ---------------------------------------------------------------------------
# Stream-stream interval join
# ---------------------------------------------------------------------------


def range_pair_stream(
    a_events: DataFrame,
    b_events: DataFrame,
    max_gap: str = "60 seconds",
    watermark: str = "1 hour",
) -> DataFrame:
    """Stream-stream interval join — the streaming form of
    ``event_pairs_range_join`` (driver-green batch twin): same-user event
    pairs where the second event lands within ``max_gap`` after the first.

    Both sides carry watermarks and the join predicate bounds b.ts within
    [a.ts, a.ts + max_gap], so the state store retains each side only for
    watermark + gap — bounded state regardless of stream length, the
    requirement for any stream-stream join at scale. Inner-join matches
    emit as soon as both sides arrive; state for rows older than the
    watermark is evicted.
    """
    a = a_events.withWatermark("ts", watermark).alias("a")
    b = b_events.withWatermark("ts", watermark).alias("b")
    return a.join(
        b,
        (F.col("a.user_id") == F.col("b.user_id"))
        & (F.col("b.ts") > F.col("a.ts"))
        & (F.col("b.ts") <= F.col("a.ts") + F.expr(f"INTERVAL {max_gap}")),
        "inner",
    ).select(
        F.col("a.user_id").alias("user_id"),
        F.col("a.event_id").alias("first_event_id"),
        F.col("b.event_id").alias("next_event_id"),
        (F.unix_micros(F.col("b.ts")) - F.unix_micros(F.col("a.ts"))).alias(
            "gap_us"
        ),
    )


def range_pair_stream_outer(
    a_events: DataFrame,
    b_events: DataFrame,
    max_gap: str = "60 seconds",
    watermark: str = "1 hour",
) -> DataFrame:
    """LEFT OUTER stream-stream interval join — ``range_pair_stream`` plus
    the rows that never matched: a left event whose join window
    [a.ts, a.ts + max_gap] closes below the watermark emits ONCE with
    NULL next_event_id/gap_us. The subtlety this form exists to pin:
    outer results are EVICTION-DRIVEN — they cannot emit before the
    watermark proves no match can still arrive, so they surface one or
    more micro-batches AFTER their matched peers (the pytest drives a
    watermark-advancing sentinel batch and asserts exactly this timing).
    State stays bounded exactly as in the inner form: watermark + gap
    per side.
    """
    a = a_events.withWatermark("ts", watermark).alias("a")
    b = b_events.withWatermark("ts", watermark).alias("b")
    return a.join(
        b,
        (F.col("a.user_id") == F.col("b.user_id"))
        & (F.col("b.ts") > F.col("a.ts"))
        & (F.col("b.ts") <= F.col("a.ts") + F.expr(f"INTERVAL {max_gap}")),
        "left_outer",
    ).select(
        F.col("a.user_id").alias("user_id"),
        F.col("a.event_id").alias("first_event_id"),
        F.col("b.event_id").alias("next_event_id"),
        (F.unix_micros(F.col("b.ts")) - F.unix_micros(F.col("a.ts"))).alias(
            "gap_us"
        ),
    )


# ---------------------------------------------------------------------------
# foreachBatch sink (exactly-once via batch-id idempotence)
# ---------------------------------------------------------------------------


def make_idempotent_batch_writer(out_dir: str):
    """Exactly-once streaming sink for non-transactional targets: a
    ``foreachBatch`` function that writes each micro-batch to a
    ``batch_id=<id>``-partitioned directory with ``mode=overwrite``.

    Structured Streaming guarantees foreachBatch is called with the same
    (data, batch_id) on retry after a failure — so overwriting the
    batch-id directory makes redelivery idempotent: a replayed batch
    replaces its own previous (possibly partial) output instead of
    appending duplicates. This is the portable exactly-once recipe for
    sinks without transactions; a transactional target would instead
    commit (data, batch_id) atomically and skip already-committed ids.

    Scale: each micro-batch write is an independent parquet job with the
    stream's parallelism; downstream readers glob ``batch_id=*`` and get
    partition pruning on replay boundaries for free.
    """

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.write.mode("overwrite").parquet(
                f"{out_dir}/batch_id={batch_id}"
            )
        )

    return _write


def write_stream_idempotent(stream: DataFrame, out_dir: str, checkpoint: str):
    """Start the stream through the idempotent foreachBatch writer; the
    checkpoint directory carries the batch-id sequence across restarts
    (checkpoint + idempotent sink = end-to-end exactly-once)."""
    return (
        stream.writeStream.foreachBatch(make_idempotent_batch_writer(out_dir))
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .start()
    )


def _start_foreach_batch(
    source: DataFrame, fn, checkpoint: str, available_now: bool
):
    """Start ``fn`` as the foreachBatch sink of ``source`` — the one starter
    behind every ``*_stream`` maintainer below; the checkpoint carries the
    source offsets and so the batch-id sequence across restarts.

    ``available_now=True`` is the operational BACKFILL shape
    (Trigger.AvailableNow): drain everything currently in the input dir,
    then terminate — a later start with the same checkpoint tails only
    files the backfill didn't consume. This is how a maintainer is
    (re)started in production: catch up the backlog, exit, run live."""
    writer = (
        source.writeStream.foreachBatch(fn)
        .option("checkpointLocation", checkpoint)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


# ---------------------------------------------------------------------------
# transformWithStateInPandas (Spark 4 arbitrary-stateful API) — round 6
# ---------------------------------------------------------------------------


from pyspark.sql.streaming.stateful_processor import (  # noqa: E402
    StatefulProcessor as _StatefulProcessor,
)


class _RunningTotalsProcessor(_StatefulProcessor):
    """StatefulProcessor for running_user_totals_tws — defined at module
    level (the TWS driver worker unpickles the processor in a fresh
    interpreter; a closure-scoped class can't be re-imported there)."""

    def init(self, handle) -> None:  # noqa: ANN001
        self._state = handle.getValueState("totals", "n long, cents long")

    def handleInputRows(self, key, rows, timer_values):  # noqa: ANN001
        import numpy as np
        import pandas as pd

        n, cents = (0, 0)
        if self._state.exists():
            n, cents = self._state.get()
        for pdf in rows:
            v = pdf["value"].astype("float64") * 100.0
            # half-away rounding, matching money_sum / the batch oracle
            iv = np.copysign(np.floor(np.abs(v) + 0.5), v).astype("int64")
            n += len(pdf)
            cents += int(iv.sum())
        self._state.update((n, cents))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "total_value": [cents / 100.0],
            }
        )

    def handleInitialState(self, key, initialState, timerValues) -> None:  # noqa: ANN001
        # batch-bootstrap handoff (first batch only; no-op unless the
        # query passes initialState): seed the typed state from the
        # backfill aggregate's EXACT integer columns — n and int64 cents,
        # never a re-rounded double
        self._state.update(
            (int(initialState["n"].iloc[0]), int(initialState["cents"].iloc[0]))
        )

    def close(self) -> None:
        pass


def running_user_totals_tws(events: DataFrame, initial_state=None) -> DataFrame:
    """Per-user running totals on ``transformWithStateInPandas`` — Spark 4's
    successor to ``applyInPandasWithState`` (running_user_totals_stream):
    instead of one opaque state tuple threaded through a function, the
    StatefulProcessor declares a typed, named ValueState against a handle
    (and could add ListState/MapState/timers/TTL — the API surface the old
    one lacks). Same semantics as the legacy form: exact int64-cents
    accumulation, one (n, cents) pair per user; the stream ≡ batch
    equivalence test pins both forms against running_user_totals_batch's
    driver-checked oracle.

    Scale: state lives in the per-partition state store (RocksDB at
    production scale), keyed by user — O(active users) state, streamed
    Arrow batches per key, no global structure.

    ``initial_state`` (optional GroupedData over (user_id, n, cents))
    seeds the typed state in the first micro-batch via
    ``handleInitialState`` — the backfill→tail handoff;
    ``running_user_totals_tws_bootstrapped`` builds that aggregate.
    """
    kwargs = {} if initial_state is None else {"initialState": initial_state}
    return events.select("user_id", "value").groupBy(
        "user_id"
    ).transformWithStateInPandas(
        _RunningTotalsProcessor(),
        "user_id long, n_events long, total_value double",
        outputMode="Update",
        timeMode="None",
        **kwargs,
    )


class _TypeBreakdownProcessor(_StatefulProcessor):
    """StatefulProcessor exercising the TWS state surfaces the ValueState
    twin doesn't: a MapState (per-user running count keyed by event_type —
    the state store holds each map entry as its own column-family row, so
    an unbounded type universe never serializes one growing blob) and a
    ListState (the user's event_ids in arrival order — appended per batch,
    never rewritten). Emits one row per (user, type) seen so far."""

    def init(self, handle) -> None:  # noqa: ANN001
        self._by_type = handle.getMapState("by_type", "t string", "n long")
        self._ids = handle.getListState("ids", "event_id long")
        self._n_total = handle.getValueState("n_total", "n long")

    def handleInputRows(self, key, rows, timer_values):  # noqa: ANN001
        import pandas as pd

        n_ids = self._n_total.get()[0] if self._n_total.exists() else 0
        for pdf in rows:
            self._ids.appendList(
                [(int(e),) for e in pdf["event_id"].tolist()]
            )
            n_ids += len(pdf)
            for t, n in pdf.groupby("event_type").size().items():
                prev = (
                    self._by_type.getValue((t,))[0]
                    if self._by_type.containsKey((t,))
                    else 0
                )
                self._by_type.updateValue((t,), (prev + int(n),))
        # the running total rides a ValueState counter — re-counting the
        # ListState would re-materialize the whole per-user history every
        # batch (O(lifetime), not O(batch)); the list stays append-only,
        # an audit log a downstream state reader exports
        self._n_total.update((n_ids,))
        out = [
            {
                "user_id": key[0],
                "event_type": t[0],
                "n": n[0],
                "n_ids_total": n_ids,
            }
            for t, n in self._by_type.iterator()
        ]
        yield pd.DataFrame(out)

    def close(self) -> None:
        pass


def running_user_totals_tws_bootstrapped(
    stream_events: DataFrame, backfill_events: DataFrame
) -> DataFrame:
    """Backfill→tail STATE HANDOFF on TWS ``initialState``: the batch
    backfill's per-user aggregate seeds the typed state in the stream's
    FIRST micro-batch (``handleInitialState``), so the tail continues the
    running totals instead of restarting them — the state-carrying form
    of the ``backfill_available_now`` pattern (which hands off at the
    DATA level by replaying files). Exactness: the handoff columns are
    the count and the int64-cents sum, so the seeded state is
    bit-identical to what a stream over the backfill would have built.

    Scale: the initial-state join is one co-partitioned pass at stream
    start (both sides grouped on user_id); thereafter cost is identical
    to ``running_user_totals_tws``."""
    from big_data_medical_analysis_spark.operators.common import cents

    initial = backfill_events.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(cents("value")).cast("long").alias("cents"),
    )
    return running_user_totals_tws(
        stream_events, initial_state=initial.groupBy("user_id")
    )


IDLE_GAP_MS = 30 * 60 * 1000  # session closes 30 min after its last event


class _IdleSessionCloseProcessor(_StatefulProcessor):
    """StatefulProcessor exercising EVENT-TIME TIMERS — the TWS surface
    neither state-only twin touches: each input batch re-arms one timer
    per user at (last event time + gap); when the WATERMARK passes that
    expiry the engine calls handleExpiredTimer for the key (with or
    without input rows for it in that batch), which emits the closed
    session and evicts the state. This is the timeout arm of session
    semantics — the declarative twin is ``session_window`` aggregation;
    the legacy twin is ``GroupStateTimeout.EventTimeTimeout``."""

    def init(self, handle) -> None:  # noqa: ANN001
        self._handle = handle
        self._sess = handle.getValueState("sess", "n long, max_ts_ms long")

    def handleInputRows(self, key, rows, timer_values):  # noqa: ANN001
        import pandas as pd

        have = self._sess.exists()
        n, max_ms = self._sess.get() if have else (0, 0)
        ts_ms = []
        for pdf in rows:
            ts_ms.extend(
                int(v) // 1_000_000 for v in pdf["ts"].astype("int64").tolist()
            )
        ts_ms.sort()
        closed = []
        for t in ts_ms:
            if have and t >= max_ms + IDLE_GAP_MS:
                # the open session's gap was already met or exceeded by
                # this event (the watermark simply hadn't fired the timer
                # yet): close it NOW at its true expiry and start a new
                # session — merging across the gap would under-count
                # sessions vs the declarative session_window twin. >= (not
                # >): the timer closes at exactly max_ms + gap and
                # session_window's window END is exclusive, so an event
                # timestamped exactly at the expiry starts a NEW session
                # regardless of whether it arrives before or after the
                # watermark fires — arrival order must not change output
                closed.append((key[0], n, max_ms + IDLE_GAP_MS))
                n, max_ms = (0, 0)
            n += 1
            max_ms = max(max_ms, t)
            have = True
        if ts_ms:
            # one live timer per key: re-arm at last-event + gap
            for tmr in list(self._handle.listTimers()):
                self._handle.deleteTimer(tmr)
            self._handle.registerTimer(max_ms + IDLE_GAP_MS)
            self._sess.update((n, max_ms))
        if closed:
            yield pd.DataFrame(
                [
                    {"user_id": u, "n_events": c, "closed_at_ms": e}
                    for u, c, e in closed
                ]
            )

    def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):  # noqa: ANN001
        import pandas as pd

        n, _max_ms = self._sess.get() if self._sess.exists() else (0, 0)
        self._sess.clear()
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "closed_at_ms": [expiredTimerInfo.getExpiryTimeInMs()],
            }
        )

    def close(self) -> None:
        pass


def idle_session_close_tws(events: DataFrame, watermark: str = "0 seconds") -> DataFrame:
    """Idle-session closer on TWS event-time timers: per-user sessions
    emit ONCE, when closed — by the TIMER when the watermark passes
    (last event + {gap} min), or INLINE when a later event for the same
    user already exceeds the open session's gap before the watermark
    got there (watermark lag must split sessions, not merge them — the
    semantics of the declarative ``session_window`` twin). State and
    timer are evicted/re-armed per close, so the store is O(open
    sessions). timeMode='EventTime' requires the input watermark;
    timer emissions fire for keys with no rows in the firing batch (the
    pytest drives watermark-advancing sentinel batches and asserts
    exactly that timing, plus the gap-split path)."""
    return (
        events.withWatermark("ts", watermark)
        .select("user_id", "ts")
        .groupBy("user_id")
        .transformWithStateInPandas(
            _IdleSessionCloseProcessor(),
            "user_id long, n_events long, closed_at_ms long",
            outputMode="Update",
            timeMode="EventTime",
        )
    )


idle_session_close_tws.__doc__ = idle_session_close_tws.__doc__.format(
    gap=IDLE_GAP_MS // 60000
)


def user_type_breakdown_tws(events: DataFrame) -> DataFrame:
    """Per-user per-event-type running counts on MapState + ListState +
    a ValueState counter — the multi-state TWS form next to
    ``running_user_totals_tws``'s single ValueState. Batch twin:
    ``events.groupBy(user_id, event_type).count()`` (the pytest asserts
    final-emission equality), and the emitted running total must equal
    the user's total event count — state-surface coverage the legacy
    applyInPandasWithState API cannot express (one opaque tuple).

    Scale: MapState rows are per-(user, type) — the store scales with
    live keys, not with a per-user blob; ListState appends and the
    counter update are O(batch), and nothing re-reads the accumulated
    list on the hot path."""
    return events.select("user_id", "event_type", "event_id").groupBy(
        "user_id"
    ).transformWithStateInPandas(
        _TypeBreakdownProcessor(),
        "user_id long, event_type string, n long, n_ids_total long",
        outputMode="Update",
        timeMode="None",
    )


# ---------------------------------------------------------------------------
# Streaming HLL state maintenance (round 9): foreachBatch register merge
# ---------------------------------------------------------------------------


def _recover_state_swap(state_dir: str, cur_dir: str, is_complete) -> None:
    """Entry-time recovery for the write-new-then-replace state swap,
    shared by every foreachBatch state merger: if ``current`` is missing
    (death between the two renames), promote the newest staging dir that
    ``is_complete`` accepts, else restore the displaced ``old_*`` copy;
    then delete every leftover ``staging_*``/``old_*`` so a stale dir
    can't wedge the next swap on ENOTEMPTY."""
    import glob
    import os
    import shutil

    # Sort by the NUMERIC batch-id suffix — lexicographic order misranks
    # ids >= 10 (staging_9 > staging_10), which could promote an older
    # state table over a newer one after a crash left multiple leftovers.
    def _bid(p: str) -> int:
        try:
            return int(p.rsplit("_", 1)[1])
        except ValueError:
            return -1

    stagings = sorted(glob.glob(os.path.join(state_dir, "staging_*")), key=_bid)
    olds = sorted(glob.glob(os.path.join(state_dir, "old_*")), key=_bid)
    if not os.path.exists(cur_dir):
        done = [s for s in stagings if is_complete(s)]
        if done:
            os.replace(done[-1], cur_dir)
        elif olds:
            os.replace(olds[-1], cur_dir)
    for d in stagings + olds:
        if os.path.exists(d):
            shutil.rmtree(d)


def _commit_state_swap(
    state_dir: str, cur_dir: str, staging: str, batch_id: int
) -> None:
    """Second half of the swap: displace ``current`` to ``old_<id>``,
    promote the staging table, drop the displaced copy. Crash anywhere
    in here is healed by ``_recover_state_swap`` on the next merge."""
    import os
    import shutil

    old = os.path.join(state_dir, f"old_{batch_id}")
    if os.path.exists(cur_dir):
        os.replace(cur_dir, old)
    os.replace(staging, cur_dir)
    if os.path.exists(old):
        shutil.rmtree(old)


def make_hll_state_merger(state_dir: str):
    """``foreachBatch`` function that folds each micro-batch's per-day HLL
    registers into a persisted (day, register, rho) parquet state table —
    the STREAMING form of ``sketches.hll_incremental_daily``'s state
    build: the batch query materializes the whole table at once; this
    merger maintains the same table incrementally as events arrive.

    Merge semantics are register-max (associative, commutative,
    IDEMPOTENT — max(a, a) = a), which is what makes the fold safe under
    Structured Streaming's at-least-once foreachBatch replay: a
    redelivered batch re-maxes the same rhos and changes nothing, so
    checkpoint + this merger is effectively-once WITHOUT the batch_id
    bookkeeping the row-appending sink needs. The swap is
    write-new-then-replace (never read+overwrite one path in a single
    job — the lazy read would see its own deletes): new state lands in a
    staging dir, then replaces the current table.

    The two-rename swap is NOT atomic, so every merge begins with
    RECOVERY over the swap's crash windows (review r9 — without this, a
    crash between the renames lost the whole accumulated table on
    replay, and a crash before the leftover cleanup wedged the stream on
    ENOTEMPTY): if ``current`` is missing, promote the newest COMPLETE
    staging table (parquet ``_SUCCESS`` marker — a half-written staging
    is never trusted) or else restore the displaced ``old_*`` copy; then
    delete every leftover ``staging_*``/``old_*``. Re-merging a batch
    against recovered post-merge state is exactly the idempotent case.

    Scale: per-batch work is one (day, register) partial aggregate over
    the batch plus a merge against a table bounded by days × m registers
    — KBs; the raw events are never re-read. The same shape runs on a
    cluster with a transactional table format (commit replaces the
    swap+recovery entirely).
    """
    import os

    from big_data_medical_analysis_spark.operators.sketches import (
        daily_event_registers,
    )

    cur_dir = os.path.join(state_dir, "current")

    def _complete(staging: str) -> bool:
        return os.path.exists(os.path.join(staging, "_SUCCESS"))

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        _recover_state_swap(state_dir, cur_dir, _complete)
        new = daily_event_registers(batch_df)
        if os.path.exists(cur_dir):
            cur = spark.read.parquet(cur_dir)
            new = (
                cur.unionByName(new)
                .groupBy("day", "register")
                .agg(F.max("rho").alias("rho"))
            )
        staging = os.path.join(state_dir, f"staging_{batch_id}")
        new.write.mode("overwrite").parquet(staging)
        _commit_state_swap(state_dir, cur_dir, staging, batch_id)

    return _merge


def hll_state_stream(
    spark: SparkSession,
    input_dir: str,
    state_dir: str,
    checkpoint: str,
    available_now: bool = False,
):
    """Start the incremental HLL state maintenance stream: event files →
    per-batch register build → idempotent register-max merge into the
    persisted state table. ``available_now=True``: backfill shape (see
    ``_start_foreach_batch``)."""
    return _start_foreach_batch(
        read_event_stream(spark, input_dir),
        make_hll_state_merger(state_dir),
        checkpoint,
        available_now,
    )


# ---------------------------------------------------------------------------
# Streaming histogram state maintenance (round 9): exactly-once bin-sum fold
# ---------------------------------------------------------------------------

# Underscore prefix => Spark's parquet reader ignores it as a data file, so
# the ledger can live INSIDE the state table dir and swap atomically with it.
HIST_APPLIED_FILE = "_applied_batches.json"


def _ledgered_state_merger(state_dir: str, fold):
    """``foreachBatch`` function for a NON-idempotent state fold — one
    ``fold(batch_df, cur)`` returns the new state table from the batch and
    the current table (``cur`` is None before the first batch) — made
    exactly-once by batch_id bookkeeping: the set of applied batch ids is
    a JSON ledger stored INSIDE the state table dir (underscore-prefixed,
    so Spark's reader ignores it), and a batch already in the ledger is
    skipped wholesale. Because ledger and table live in one directory,
    the write-new-then-replace swap commits them ATOMICALLY together —
    state can never disagree with its ledger.

    Crash windows (same two-rename swap as the HLL merger, shared
    ``_recover_state_swap``/``_commit_state_swap``): a staging table
    counts as COMPLETE only when BOTH the parquet ``_SUCCESS`` marker and
    the ledger file exist — the ledger is written LAST, so a staging that
    died between parquet write and ledger write is never promoted (it
    holds the batch's fold but doesn't record it; promoting it would
    double-apply on redelivery — exactly the failure the marker ordering
    prevents). The ledger grows by one integer per batch (a production
    table format's commit log subsumes it)."""
    import json
    import os

    cur_dir = os.path.join(state_dir, "current")

    def _complete(staging: str) -> bool:
        return os.path.exists(
            os.path.join(staging, "_SUCCESS")
        ) and os.path.exists(os.path.join(staging, HIST_APPLIED_FILE))

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        _recover_state_swap(state_dir, cur_dir, _complete)
        applied: list[int] = []
        ledger = os.path.join(cur_dir, HIST_APPLIED_FILE)
        if os.path.exists(ledger):
            with open(ledger) as f:
                applied = json.load(f)
        if batch_id in applied:
            return  # redelivered batch: already folded in, skip wholesale
        cur = (
            batch_df.sparkSession.read.parquet(cur_dir)
            if os.path.exists(cur_dir)
            else None
        )
        staging = os.path.join(state_dir, f"staging_{batch_id}")
        fold(batch_df, cur).write.mode("overwrite").parquet(staging)
        with open(os.path.join(staging, HIST_APPLIED_FILE), "w") as f:
            json.dump(sorted(set(applied) | {batch_id}), f)
        _commit_state_swap(state_dir, cur_dir, staging, batch_id)

    return _merge


def make_hist_state_merger(state_dir: str):
    """``foreachBatch`` function that folds each micro-batch's per-day
    histogram bin counts into a persisted (day, bin, cnt) parquet state
    table — the streaming form of
    ``sketches.histogram_incremental_daily``'s state build, and the
    DELIBERATE CONTRAST to ``make_hll_state_merger``: bin-count SUM is
    associative and commutative but NOT idempotent (sum(a, a) = 2a), so
    at-least-once foreachBatch replay WOULD double-count. Exactly-once
    therefore goes through the applied-batch ledger of
    ``_ledgered_state_merger``.

    Scale: per-batch work is one map-side-combinable (day, bin) aggregate
    over the batch plus a merge against a table bounded by days × bins —
    KBs. Raw events are never re-read.
    """
    from big_data_medical_analysis_spark.operators.sketches import (
        daily_value_histogram,
    )

    def _fold(batch_df: DataFrame, cur: DataFrame | None) -> DataFrame:
        new = daily_value_histogram(batch_df)
        if cur is None:
            return new
        return (
            cur.select("day", "bin", "cnt")
            .unionByName(new)
            .groupBy("day", "bin")
            .agg(F.sum("cnt").alias("cnt"))
        )

    return _ledgered_state_merger(state_dir, _fold)


def hist_state_stream(
    spark: SparkSession,
    input_dir: str,
    state_dir: str,
    checkpoint: str,
    available_now: bool = False,
):
    """Start the incremental histogram state maintenance stream: event
    files → per-batch bin-count build → ledger-gated exactly-once sum
    merge into the persisted state table (checkpoint carries the source
    offsets; the ledger carries the applied batch ids).

    ``available_now=True``: backfill shape (see ``_start_foreach_batch``).
    The ledger spans the backfill/live boundary unchanged — batch ids
    keep incrementing across restarts because they come from the shared
    checkpoint, so a live redelivery of a backfill batch is still
    skipped by the same ledger lookup."""
    return _start_foreach_batch(
        read_event_stream(spark, input_dir),
        make_hist_state_merger(state_dir),
        checkpoint,
        available_now,
    )


# ---------------------------------------------------------------------------
# Streaming MinHash index ingest (round 10): probe-then-append maintainer
# ---------------------------------------------------------------------------


def read_docs_stream(
    spark: SparkSession,
    input_dir: str,
    max_files_per_trigger: int = 1,
) -> DataFrame:
    """File-source documents stream (JSON lines, explicit schema — the
    documents-table subset the dedup tier needs)."""
    schema = "doc_id long, text string, source string"
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .json(input_dir)
    )


def _has_prior(dirpath: str, batch_id: int) -> bool:
    """Whether ``dirpath`` holds an ``ingest_batch=<id>`` partition from a
    batch before ``batch_id`` (the replay-safe "not the first batch" test:
    a replayed first batch must take the first-batch path again)."""
    import os

    return any(
        e.startswith("ingest_batch=") and int(e.split("=", 1)[1]) < batch_id
        for e in (os.listdir(dirpath) if os.path.isdir(dirpath) else [])
    )


def _probe_then_append(
    index_dir: str, matches_dir: str, bucketer, key: str, part: str, probe
):
    """``foreachBatch`` maintainer shared by every persisted bucket index:
    each ingest batch buckets itself once (``bucketer(batch_df)`` ->
    (``key``, ``part``, bucket) rows), PROBES the accumulated index for
    candidates, then APPENDS its own bucket rows — so the same table
    serves as index and accumulating state, and the NEXT batch probes
    against everything before it. ``probe(banded, index)`` is the
    family's probe aggregation over the batch's rows and the prior index
    rows (the index key renamed to ``cand_id``, ``part`` cast to int on
    both sides); before the first append it sees an empty index.

    Exactly-once on BOTH outputs without a ledger, because both are
    per-batch overwrites keyed by batch_id (the
    ``make_idempotent_batch_writer`` recipe): the batch's rows land in
    ``ingest_batch=<id>`` under ``index_dir`` (sub-partitioned by
    ``part``, so probes prune to one directory per table/band), and its
    probe hits land in ``batch_id=<id>`` under ``matches_dir``.
    Structured Streaming replays a failed batch with the same
    (data, batch_id); each overwrite then replaces its own partial output
    — no double-appended index rows, no duplicated match rows. The probe
    runs before the append, so it never sees half its OWN batch.

    The probe reads only ``ingest_batch < batch_id`` partitions: a
    REPLAYED batch whose index append already committed would otherwise
    probe its own rows (every row self-matches) and write a different
    matches file than the first attempt — partition-pruned replay
    determinism, caught by the redelivery pytests. The batch's rows are
    persisted for the probe and the append and unpersisted after.

    Batch-boundary semantics (same as the batch twins): probe-vs-index
    misses collisions WITHIN the ingest batch; a batch-local self-probe
    (batch-sized cost) runs beside it in production. Scale: per-batch
    cost is O(batch × tables) bucketing + an equi-join against a
    partition-pruned index read — the accumulated corpus is never
    re-bucketed.
    """
    import os

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        banded = bucketer(batch_df).persist()
        try:
            if _has_prior(index_dir, batch_id):
                index = spark.read.parquet(index_dir).filter(
                    F.col("ingest_batch") < batch_id
                )
            else:
                index = banded.limit(0)  # optimizes to an empty relation
            hits = probe(
                banded.withColumn(part, F.col(part).cast("int")),
                index.select(
                    F.col(key).alias("cand_id"),
                    F.col(part).cast("int").alias(part),
                    "bucket",
                ),
            )
            hits.write.mode("overwrite").parquet(
                os.path.join(matches_dir, f"batch_id={batch_id}")
            )
            banded.write.mode("overwrite").partitionBy(part).parquet(
                os.path.join(index_dir, f"ingest_batch={batch_id}")
            )
        finally:
            banded.unpersist()

    return _merge


def make_pmh_index_appender(index_dir: str, matches_dir: str):
    """``_probe_then_append`` over the MinHash band index, closing the loop
    ``minhash_incremental_probe`` documents. Bucketer:
    ``pmh_banded_buckets`` (doc_id, band, bucket). Probe: per batch doc,
    the distinct index docs sharing any (band, bucket) and the smallest
    of them (n_index_matches, min_index_doc)."""
    from big_data_medical_analysis_spark.operators.dedup import (
        pmh_banded_buckets,
    )

    def _probe(banded: DataFrame, index: DataFrame) -> DataFrame:
        return (
            banded.join(index, ["band", "bucket"])
            .groupBy("doc_id")
            .agg(
                F.countDistinct("cand_id").alias("n_index_matches"),
                F.min("cand_id").alias("min_index_doc"),
            )
        )

    return _probe_then_append(
        index_dir, matches_dir, pmh_banded_buckets, "doc_id", "band", _probe
    )


def pmh_index_stream(
    spark: SparkSession,
    input_dir: str,
    index_dir: str,
    matches_dir: str,
    checkpoint: str,
    available_now: bool = False,
):
    """Start the incremental MinHash-index ingest stream: document files →
    per-batch probe against the accumulated band index → idempotent
    append of the batch's own band rows. ``available_now=True`` is the
    backfill shape (see ``_start_foreach_batch``)."""
    return _start_foreach_batch(
        read_docs_stream(spark, input_dir),
        make_pmh_index_appender(index_dir, matches_dir),
        checkpoint,
        available_now,
    )


# ---------------------------------------------------------------------------
# Streaming ANN index ingest (round 10): sign-LSH probe-then-append twin
# ---------------------------------------------------------------------------


def read_embeddings_stream(
    spark: SparkSession,
    input_dir: str,
    max_files_per_trigger: int = 1,
) -> DataFrame:
    """File-source embeddings stream (JSON lines with a float array —
    the embeddings-table subset the ANN tier needs)."""
    schema = "vec_id long, embedding array<double>"
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .json(input_dir)
    )


def _lsh_hit_stats(grouped) -> DataFrame:
    """Per-probe sign-LSH candidate stats: tables hit, distinct candidates
    and the smallest candidate (the exact-cosine rerank happens downstream
    against the vector store by key join, exactly as in the batch twins)."""
    return grouped.agg(
        F.countDistinct("tbl").alias("n_tables_hit"),
        F.countDistinct("cand_id").alias("n_candidates"),
        F.min("cand_id").alias("min_cand"),
    )


def make_ann_index_appender(index_dir: str, matches_dir: str):
    """``_probe_then_append`` over the fixed-geometry sign-LSH index,
    closing the loop ``ann_incremental_probe`` documents. Bucketer:
    ``ann_lsh_buckets`` (one Arrow matmul pass). Probe: a (tbl, bucket)
    equi-join, then ``_lsh_hit_stats`` per probing vector."""
    from big_data_medical_analysis_spark.operators.similarity import (
        ann_lsh_buckets,
    )

    def _probe(banded: DataFrame, index: DataFrame) -> DataFrame:
        return _lsh_hit_stats(
            banded.join(index, ["tbl", "bucket"]).groupBy("vec_id")
        )

    return _probe_then_append(
        index_dir, matches_dir, ann_lsh_buckets, "vec_id", "tbl", _probe
    )


def ann_index_stream(
    spark: SparkSession,
    input_dir: str,
    index_dir: str,
    matches_dir: str,
    checkpoint: str,
    available_now: bool = False,
):
    """Start the incremental sign-LSH index ingest stream (see
    ``make_ann_index_appender``); ``available_now=True`` is the backfill
    shape."""
    return _start_foreach_batch(
        read_embeddings_stream(spark, input_dir),
        make_ann_index_appender(index_dir, matches_dir),
        checkpoint,
        available_now,
    )


# ---------------------------------------------------------------------------
# Streaming ADAPTIVE ANN index maintenance (round 14): the serving path's
# operational loop — band once at B_max, serve at the count-derived mask
# ---------------------------------------------------------------------------


def make_adx_index_appender(index_dir: str, matches_dir: str):
    """``_probe_then_append`` over the geometry-ADAPTIVE ANN index — the
    ``ann_adaptive_probe`` serving path's incremental loop, where the
    serving geometry is NOT fixed. Bucketer: ``adx_lsh_buckets`` at max
    resolution (ADX_TABLES x ADX_BITS_MAX bits — the only resolution ever
    persisted).

    Probe: serve_bits is RE-DERIVED from the prior index's exact row
    count (``_adx_serve_bits``, the same 1-row broadcast ladder the batch
    query uses), BOTH sides are masked to it (bucket % 2^serve_bits — bit
    r carries weight 2^r, so a re-tune is integer masking, never a
    re-band), then a (tbl, masked bucket) equi-join feeds
    ``_lsh_hit_stats`` per (vector, serve_bits). As the index grows the
    derived serve_bits DEEPENS mid-stream — each batch's match rows carry
    the geometry they were served at, and a clamp at ADX_BITS_MAX with
    candidates > target is the operational re-band signal. A replayed
    batch derives the SAME serve_bits from the SAME prior rows (never its
    own). Expected candidates per probe stay <= ADX_TARGET_CANDIDATES, so
    probe work tracks the batch, flat in the index."""
    from big_data_medical_analysis_spark.operators.similarity import (
        _adx_serve_bits,
        adx_lsh_buckets,
    )

    def _probe(banded: DataFrame, index: DataFrame) -> DataFrame:
        serve = F.broadcast(_adx_serve_bits(index))
        mask = F.expr("shiftleft(CAST(1 AS BIGINT), serve_bits)")
        p = banded.crossJoin(serve).select(
            "vec_id", "tbl", "serve_bits", (F.col("bucket") % mask).alias("mb")
        )
        i = index.crossJoin(serve).select(
            "cand_id", "tbl", (F.col("bucket") % mask).alias("mb")
        )
        return _lsh_hit_stats(
            p.join(i, ["tbl", "mb"]).groupBy("vec_id", "serve_bits")
        )

    return _probe_then_append(
        index_dir, matches_dir, adx_lsh_buckets, "vec_id", "tbl", _probe
    )


def adx_index_stream(
    spark: SparkSession,
    input_dir: str,
    index_dir: str,
    matches_dir: str,
    checkpoint: str,
    available_now: bool = False,
):
    """Start the incremental ADAPTIVE ANN index ingest stream (see
    ``make_adx_index_appender``); ``available_now=True`` is the backfill
    shape."""
    return _start_foreach_batch(
        read_embeddings_stream(spark, input_dir),
        make_adx_index_appender(index_dir, matches_dir),
        checkpoint,
        available_now,
    )


# ---------------------------------------------------------------------------
# Streaming SemDeDup index maintenance (round 15): the selection family's
# production loop — route against the frozen coarse codebook, grow fine
# cells from accumulated counts, screen only against persisted cluster-mates
# ---------------------------------------------------------------------------


def make_semdedup_maintainer(state_dir: str, stats_dir: str):
    """``foreachBatch`` maintainer for the hierarchical SemDeDup index
    (VERDICT r14 task 1) — the selection family's incremental production
    loop, mirroring the pmh/adx recipes. The batch queries
    (`semdedup_prune_stats` / `d4_prototype_prune`) re-cluster the whole
    corpus per run; a 100 TB curation loop instead persists the
    hierarchical state ONCE and folds each new batch into it:

    - ``codebook/`` — the coarse kc-cell centroids, Lloyd-trained on the
      BOOTSTRAP batch (the first batch, detected by `ingest_batch <
      batch_id` prior-partition absence, never by directory existence —
      a replayed bootstrap must re-run the bootstrap path) and FROZEN:
      broadcast-sized by construction (kc ∝ sqrt(k)), it is the routing
      table every later batch argmins against in one O(batch·kc) pass.
    - ``counts/ingest_batch=B`` — per-cell routed counts: the exact
      accumulated state each batch RE-DERIVES its per-cell fine capacity
      from, kf_target = max(1, ceil(prior_n/width)) — the adx serve_bits
      move applied to cluster granularity (geometry follows the COUNT,
      prior rows only, so a replayed batch derives the same targets).
    - ``fines/ingest_batch=B`` — append-only fine centroids: the
      bootstrap writes `_hier_fine_centroids`' trained set; a later
      batch whose cell's kf_target exceeds its existing fine count
      APPENDS growth centroids seeded deterministically from the batch's
      first vectors in that cell (production appenders seed, they never
      re-Lloyd the corpus) — a cell crossing the width boundary grows
      mid-stream, observably.
    - ``keepers/ingest_batch=B`` — the screen's survivors WITH their
      vectors: the persisted cluster-mates future batches cosine against.

    Per batch: micro-scale, route (broadcast argmin), derive growth,
    fine-assign against the cell-keyed centroid union, then the
    width-bounded screen with FIRST-ARRIVAL seniority — a batch vector
    is pruned iff it cosine-matches (>= tau) any PERSISTED keeper of its
    fine cluster or any better-ranked batch-mate (d DESC, vec_id ASC —
    the batch screen's rank). The bootstrap batch therefore reproduces
    `_semdedup_screen`'s keeper set bit-for-bit (no priors, same rank,
    same screen), which the pytest pins against the batch twin.

    Exactly-once/replay follows ``_probe_then_append``'s contract: every
    output is a per-batch ``mode=overwrite`` directory keyed by
    batch/ingest id, and every read filters ``ingest_batch < batch_id`` —
    a replayed batch sees the same priors, derives the same growth, and
    rewrites identical outputs. Scale: per-batch cost is O(batch·kc) routing +
    a cell-keyed equi-join against the (width-bounded-per-cell) fine
    centroids + a (cell, fine)-keyed screen join against keepers of the
    batch's own clusters only — work tracks the BATCH, never the
    accumulated corpus (measured by tools/maintainer_probe.py)."""
    import os

    from pyspark.sql import Window as W

    from big_data_medical_analysis_spark.operators.similarity import (
        SEMDEDUP_CELL_SHIFT,
        SEMDEDUP_TARGET_WIDTH,
        SEMDEDUP_TAU,
        _hier_coarse_centroids,
        _hier_fine_assign,
        _hier_fine_centroids,
        _lloyd_assign_agg,
        cosine,
    )

    codebook_dir = os.path.join(state_dir, "codebook")
    counts_dir = os.path.join(state_dir, "counts")
    fines_dir = os.path.join(state_dir, "fines")
    keepers_dir = os.path.join(state_dir, "keepers")

    def _read_prior(spark, dirpath: str, batch_id: int) -> DataFrame:
        spark.catalog.refreshByPath(dirpath)
        return spark.read.parquet(dirpath).filter(
            F.col("ingest_batch") < batch_id
        )

    n2_of = lambda c: F.aggregate(  # noqa: E731 — local expr factory
        F.transform(c, lambda x: x * x),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        vm = batch_df.select(
            "vec_id",
            F.transform(
                "embedding",
                lambda y: F.round(y.cast("double") * 1_000_000).cast("long"),
            ).alias("v"),
        ).persist()
        pinned = [vm]
        try:
            bootstrap = not _has_prior(counts_dir, batch_id)
            if bootstrap and vm.isEmpty():
                # An empty bootstrap batch must not freeze an EMPTY
                # codebook (every later batch would route zero vectors,
                # silently, forever — code-review r15). Write NOTHING: the
                # next non-empty batch sees no prior counts partition and
                # bootstraps properly.
                return
            if bootstrap:
                # persist: the write below AND vr's route both consume the
                # trained codebook — unpersisted, the coarse Lloyd chain
                # would run once per consumer
                codebook = _hier_coarse_centroids(vm).persist()
                pinned.append(codebook)
                codebook.select(
                    F.col("cluster").cast("integer").alias("cell"), "c"
                ).write.mode("overwrite").parquet(codebook_dir)
            else:
                spark.catalog.refreshByPath(codebook_dir)
                codebook = spark.read.parquet(codebook_dir).select(
                    F.col("cell").cast("integer").alias("cluster"), "c"
                )
            route = _lloyd_assign_agg(vm, codebook).select(
                "vec_id", F.col("cluster").cast("integer").alias("cell")
            )
            vr = vm.join(route, "vec_id").select("vec_id", "cell", "v").persist()
            pinned.append(vr)
            if bootstrap:
                ex_fines = spark.createDataFrame(
                    [], "cell int, fine int, c array<bigint>"
                )
                new_fines = _hier_fine_centroids(vr)
            else:
                prior_n = (
                    _read_prior(spark, counts_dir, batch_id)
                    .groupBy("cell")
                    .agg(F.sum("n").cast("long").alias("prior_n"))
                )
                ex_fines = _read_prior(spark, fines_dir, batch_id).select(
                    "cell", "fine", "c"
                )
                # nf (capacity) counts centroids; next_fine numbers NEW
                # ones from max(fine)+1, NOT from the count — Lloyd
                # training can empty out a fine id mid-trajectory (only
                # >= 1 survivor per cell is guaranteed), so surviving ids
                # may be sparse and count-based numbering would collide a
                # new centroid with a surviving one (code-review r15)
                nf = ex_fines.groupBy("cell").agg(
                    F.count(F.lit(1)).cast("long").alias("nf"),
                    (F.max("fine") + F.lit(1)).cast("long").alias("next_fine"),
                )
                w = SEMDEDUP_TARGET_WIDTH
                grow = (
                    vr.select("cell")
                    .distinct()
                    .join(prior_n, "cell", "left")
                    .join(nf, "cell", "left")
                    .selectExpr(
                        "cell",
                        f"greatest(CAST(1 AS BIGINT), "
                        f"(coalesce(prior_n, CAST(0 AS BIGINT)) + {w - 1})"
                        f" DIV {w}) AS kf",
                        "coalesce(nf, CAST(0 AS BIGINT)) AS nf",
                        "coalesce(next_fine, CAST(0 AS BIGINT)) AS next_fine",
                    )
                    .filter(F.col("kf") > F.col("nf"))
                )
                wn = W.partitionBy("cell").orderBy("vec_id")
                new_fines = (
                    vr.withColumn("rn", F.row_number().over(wn))
                    .join(F.broadcast(grow), "cell")
                    .filter(F.col("rn") <= F.col("kf") - F.col("nf"))
                    .select(
                        "cell",
                        (F.col("next_fine") + F.col("rn") - 1)
                        .cast("integer")
                        .alias("fine"),
                        F.col("v").alias("c"),
                    )
                )
            # persist: new_fines feeds the assignment union, its own
            # parquet write, and the stats count — on bootstrap its
            # lineage is the ENTIRE cell-gated fine Lloyd
            new_fines = new_fines.persist()
            pinned.append(new_fines)
            fa = _hier_fine_assign(vr, ex_fines.unionByName(new_fines))
            fav = (
                fa.join(vm, "vec_id")
                .select("vec_id", "cell", "fine", "d", "v")
                .withColumn("n2", n2_of("v"))
                .persist()
            )
            pinned.append(fav)
            if bootstrap:
                pk = spark.createDataFrame(
                    [], "cell int, fine int, v_k array<bigint>"
                )
            else:
                pk = _read_prior(spark, keepers_dir, batch_id).select(
                    "cell", "fine", F.col("v").alias("v_k")
                )
            dot_pk = F.aggregate(
                F.zip_with("v", "v_k", lambda x, y: x * y),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            )
            # persist both pruned sets (slim vec_id relations): each feeds
            # the keeper anti-join AND its own stats count — unpersisted,
            # the (cell, fine)-keyed screen joins would re-execute per
            # consumer (code-review r15)
            pruned_prior = (
                fav.join(pk.withColumn("n2_k", n2_of("v_k")), ["cell", "fine"])
                .filter(
                    cosine(dot_pk, F.col("n2"), F.col("n2_k")) >= SEMDEDUP_TAU
                )
                .select("vec_id")
                .distinct()
                .persist()
            )
            pinned.append(pruned_prior)
            wr = W.partitionBy("cell", "fine").orderBy(
                F.desc("d"), F.asc("vec_id")
            )
            ranked = fav.withColumn("r", F.row_number().over(wr))
            side_a = ranked.select(
                "cell",
                "fine",
                F.col("r").alias("r_a"),
                F.col("v").alias("v_a"),
                F.col("n2").alias("n2_a"),
            )
            side_b = ranked.select(
                "cell",
                "fine",
                F.col("vec_id").alias("vec_b"),
                F.col("r").alias("r_b"),
                F.col("v").alias("v_b"),
                F.col("n2").alias("n2_b"),
            )
            dot_ab = F.aggregate(
                F.zip_with("v_a", "v_b", lambda x, y: x * y),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            )
            pruned_batch = (
                side_a.join(side_b, ["cell", "fine"])
                .filter(F.col("r_a") < F.col("r_b"))
                .filter(
                    cosine(dot_ab, F.col("n2_a"), F.col("n2_b"))
                    >= SEMDEDUP_TAU
                )
                .select(F.col("vec_b").alias("vec_id"))
                .distinct()
                .persist()
            )
            pinned.append(pruned_batch)
            pruned = pruned_prior.unionByName(pruned_batch).distinct()
            # Same packed-id guard as the batch path's `_hier_assign`
            # (ADVICE r14): the LONG-LIVED incremental index is the one
            # surface where fine ids grow without bound (kf_target follows
            # the accumulated count), so a hot cell crossing ~134M routed
            # vectors must fail loudly, never silently merge into the
            # adjacent cell's id space.
            id_guard = F.assert_true(
                F.col("fine") < F.lit(SEMDEDUP_CELL_SHIFT),
                F.lit(
                    "incremental fine id reached SEMDEDUP_CELL_SHIFT (2^20):"
                    " a hot cell accumulated ~134M routed vectors and packed"
                    " cluster ids would collide — re-shard the coarse level"
                ),
            )
            keepers = fav.join(pruned, "vec_id", "left_anti").select(
                "vec_id",
                "cell",
                "fine",
                (
                    F.col("cell").cast("long") * SEMDEDUP_CELL_SHIFT
                    + F.col("fine")
                    + F.coalesce(id_guard.cast("long"), F.lit(0).cast("long"))
                ).alias("cluster"),
                "d",
                "v",
            )
            keepers.write.mode("overwrite").parquet(
                os.path.join(keepers_dir, f"ingest_batch={batch_id}")
            )
            # counts ride the PERSISTED routed table — grouping the lazy
            # `route` would re-run the whole routing argmin (and on
            # bootstrap the coarse Lloyd) once more just for this write
            vr.groupBy("cell").agg(
                F.count(F.lit(1)).cast("long").alias("n")
            ).write.mode("overwrite").parquet(
                os.path.join(counts_dir, f"ingest_batch={batch_id}")
            )
            new_fines.write.mode("overwrite").parquet(
                os.path.join(fines_dir, f"ingest_batch={batch_id}")
            )
            stats = (
                vm.agg(F.count(F.lit(1)).cast("long").alias("n_routed"))
                .crossJoin(
                    new_fines.agg(
                        F.count(F.lit(1)).cast("long").alias("n_new_fines")
                    )
                )
                .crossJoin(
                    pruned_prior.agg(
                        F.count(F.lit(1)).cast("long").alias("n_pruned_prior")
                    )
                )
                .crossJoin(
                    pruned_batch.agg(
                        F.count(F.lit(1)).cast("long").alias("n_pruned_batch")
                    )
                )
                .crossJoin(
                    pruned.agg(F.count(F.lit(1)).cast("long").alias("n_pruned"))
                )
            ).withColumn(
                "n_kept", F.col("n_routed") - F.col("n_pruned")
            )
            stats.write.mode("overwrite").parquet(
                os.path.join(stats_dir, f"batch_id={batch_id}")
            )
        finally:
            for df in pinned:
                df.unpersist()

    return _merge


def semdedup_index_stream(
    spark: SparkSession,
    input_dir: str,
    state_dir: str,
    stats_dir: str,
    checkpoint: str,
    available_now: bool = False,
):
    """Start the incremental SemDeDup index ingest stream (see
    ``make_semdedup_maintainer``); ``available_now=True`` is the backfill
    shape."""
    return _start_foreach_batch(
        read_embeddings_stream(spark, input_dir),
        make_semdedup_maintainer(state_dir, stats_dir),
        checkpoint,
        available_now,
    )


# ---------------------------------------------------------------------------
# Streaming SCD2 dimension maintenance (round 10): ledger-gated version merge
# ---------------------------------------------------------------------------


def make_scd2_state_merger(state_dir: str):
    """``foreachBatch`` function that folds each micro-batch of attribute
    change events into a persisted SCD2 versions table
    (user_id, status, eff_from, eff_to, version) — the STREAMING form of
    ``etl.scd2_dimension_build``'s versions build, completing the
    dimension family (batch build → PIT consumption → live maintenance).

    Per batch, against the current state:

    1. collapse the batch internally (``scd2_collapse``);
    2. cross-boundary collapse: drop a user's FIRST batch change when its
       status equals the user's open version (a no-op across the batch
       seam must not open a version — the pytest drives this seam
       explicitly); the second batch change can never collide with the
       open status after the drop, because it already differed from the
       dropped first;
    3. close each superseded open version at its user's first surviving
       change (eff_to = min es) and renumber survivors from the open
       version's number (the per-user max — versions are assigned in
       order);
    4. new state = closed history ∪ (re)closed opens ∪ survivor versions.

    Version-appending is NOT idempotent, so exactly-once goes through
    the applied-batch ledger of ``_ledgered_state_merger``, as in
    ``make_hist_state_merger``. Input batches are assumed event-time
    ordered per user across batches (the file source delivers files in
    arrival order; an out-of-order feed needs a watermarked re-sort
    upstream, exactly as a production CDC tailer provides) — the equality
    pytest proves the incremental fold converges to the batch builder's
    table bit-for-bit.

    Scale: per-batch work is the batch's own key-partitioned windows
    plus a key-equi-join against ONLY the open versions (dimension-key
    cardinality, not history size); closed history is carried through
    the swap untouched. With a transactional table format the swap
    becomes a MERGE commit and the closed-history rewrite disappears
    (copy-on-write is the plain-parquet cost of the demo, disclosed).
    """
    from pyspark.sql import Window as W

    from big_data_medical_analysis_spark.operators.etl import (
        scd2_collapse,
        scd2_event_log,
        scd2_versions,
    )

    def _fold(batch_df: DataFrame, cur: DataFrame | None) -> DataFrame:
        log_b = scd2_event_log(batch_df)
        if cur is None:
            return scd2_versions(log_b)
        cur = cur.select("user_id", "status", "eff_from", "eff_to", "version")
        opens = cur.filter(F.col("eff_to").isNull()).select(
            "user_id",
            F.col("status").alias("open_status"),
            F.col("eff_from").alias("open_from"),
            F.col("version").alias("open_ver"),
        )
        wb = W.partitionBy("user_id").orderBy("es", "event_id")
        coll = (
            scd2_collapse(log_b)
            .withColumn("rn", F.row_number().over(wb))
            .join(opens, "user_id", "left")
        )
        surv = coll.filter(
            ~(
                (F.col("rn") == 1)
                & F.col("open_status").isNotNull()
                & (F.col("status") == F.col("open_status"))
            )
        )
        surv_v = surv.select(
            "user_id",
            "status",
            F.col("es").alias("eff_from"),
            F.lead("es").over(wb).alias("eff_to"),
            (F.row_number().over(wb) + F.coalesce("open_ver", F.lit(0)))
            .cast("long")
            .alias("version"),
        )
        closes = surv.groupBy("user_id").agg(F.min("es").alias("close_es"))
        opens_new = opens.join(closes, "user_id", "left").select(
            "user_id",
            F.col("open_status").alias("status"),
            F.col("open_from").alias("eff_from"),
            F.col("close_es").cast("long").alias("eff_to"),
            F.col("open_ver").alias("version"),
        )
        return (
            cur.filter(F.col("eff_to").isNotNull())
            .unionByName(opens_new)
            .unionByName(surv_v)
        )

    return _ledgered_state_merger(state_dir, _fold)


def scd2_state_stream(
    spark: SparkSession,
    input_dir: str,
    state_dir: str,
    checkpoint: str,
    available_now: bool = False,
):
    """Start the incremental SCD2 dimension maintenance stream: change
    event files → per-batch collapse + boundary merge → ledger-gated
    exactly-once version append into the persisted dimension table.

    ``available_now=True``: backfill shape (see ``_start_foreach_batch``) —
    drain the backlog into the dimension, exit, run live later on the
    same checkpoint; the ledger spans the boundary unchanged."""
    return _start_foreach_batch(
        read_event_stream(spark, input_dir),
        make_scd2_state_merger(state_dir),
        checkpoint,
        available_now,
    )


def pit_enrich_stream(events: DataFrame) -> DataFrame:
    """Stateful point-in-time enrichment via ``applyInPandasWithState`` —
    the LIVE path of the SCD2 family: per-user state carries the current
    status (latest non-purchase event), and every purchase is emitted
    tagged with the status current AT its event time, '<pre-history>'
    before the first change — exactly
    ``relational.scd2_pit_enriched``'s semantics (the equality pytest
    drives both over the same multi-batch log).

    Within a batch, rows are replayed in (event-second, side, event_id)
    order — status changes sort before purchases in the same second, the
    batch query's tie rule — and the carried state only advances when a
    change's (es, event_id) exceeds the stored position, so a
    same-second change split across the batch seam with a SMALLER
    event_id than the carried one cannot overwrite the newer status
    (the cross-batch tie matches the batch ordering too). Enrichment is
    therefore deterministic for any micro-batch slicing of an
    event-time-ordered feed; state is one (es, event_id, status) triple
    per user, and pre-history purchases emit NULL status exactly like
    the batch helper (consumers coalesce downstream). An unbounded
    keyspace would add an event-time timeout; fixed user universe here,
    so NoTimeout. Purchase cents use half-away-from-zero, matching
    ``common.cents``.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = (
        "event_id long, user_id long, es long, status_at string, v_c long"
    )
    state_schema = "es long, eid long, status string"

    def _update(key, pdfs, state):
        es0, eid0, status = (
            state.get if state.exists else (-1, -1, None)
        )
        out = []
        for pdf in pdfs:
            if not len(pdf):
                continue
            es = (pdf["ts"].astype("int64") // 1_000_000_000).to_numpy()
            side = (pdf["event_type"] == "purchase").to_numpy()
            eid = pdf["event_id"].to_numpy()
            v = pdf["value"].to_numpy("float64") * 100.0
            v_c = (np.sign(v) * np.floor(np.abs(v) + 0.5)).astype("int64")
            et = pdf["event_type"].to_numpy()
            order = np.lexsort((eid, side.astype("int64"), es))
            for i in order:
                if side[i]:
                    out.append(
                        (
                            int(eid[i]),
                            int(key[0]),
                            int(es[i]),
                            status,
                            int(v_c[i]),
                        )
                    )
                elif (int(es[i]), int(eid[i])) > (es0, eid0):
                    es0, eid0, status = int(es[i]), int(eid[i]), str(et[i])
        state.update((es0, eid0, status))
        yield pd.DataFrame(
            out, columns=["event_id", "user_id", "es", "status_at", "v_c"]
        )

    return events.groupBy("user_id").applyInPandasWithState(
        _update,
        out_schema,
        state_schema,
        "update",
        GroupStateTimeout.NoTimeout,
    )

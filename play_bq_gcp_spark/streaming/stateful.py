"""Custom stateful streaming operator via ``applyInPandasWithState``
(SURVEY.md §2.8/§2.9).

The reference keeps its cross-run state in warehouse tables and
re-derives deltas by joining yesterday's snapshot
(/root/reference/main.py:176, :195-203).  The idiomatic Spark
restatement keeps per-key state *inside the engine*: an Arrow-batched
grouped-map function receives each key's new rows per micro-batch plus
a typed ``GroupState``, updates it, and emits the running aggregate.

To make the state path real (not a single-batch degenerate), the
fixture table is re-landed as N chunk files and streamed with
``maxFilesPerTrigger=1`` — N genuine micro-batches, so every key's
state is created in one batch and updated in later ones.

Scale notes: state lives in the executor state store keyed by the
groupBy columns (shuffle on user_id); watermark/timeouts bound state
lifetime for unbounded key spaces — here the key space is finite so
``NoTimeout`` is correct.  Output mode ``update`` emits one running
row per touched key per batch; the final value per key is the row
with the highest running count (monotone within a key).
"""

from __future__ import annotations

import tempfile

import pandas as pd

from pyspark import cloudpickle
from pyspark.sql import DataFrame, SparkSession, Window, functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.streaming.stateful_processor import (
    StatefulProcessor,
    StatefulProcessorHandle,
)

from play_bq_gcp_spark.catalog import ensure_nanos_conf, table_path
from play_bq_gcp_spark.scratch import scratch_dir
from play_bq_gcp_spark.streaming import _protobuf_compat
from play_bq_gcp_spark.streaming._protobuf_compat import WorkerBootstrap
from play_bq_gcp_spark.streaming.available_now import (
    STATE_CONF,
    run_available_now,
)

_CHUNK_DIRS: dict[tuple[str, int], str] = {}

OUTPUT_SCHEMA = "user_id long, n_events long, total_value double"
STATE_SCHEMA = "n_events long, total_value double"


def _chunked_events_dir(spark: SparkSession, sf_dir: str, n_chunks: int) -> str:
    """Re-land the events fixture as ``n_chunks`` parquet files so the
    file stream source can deliver them as separate micro-batches."""
    key = (sf_dir, n_chunks)
    if key not in _CHUNK_DIRS:
        d = scratch_dir("events_chunks_")
        ensure_nanos_conf(spark)
        (
            spark.read.parquet(table_path(sf_dir, "events"))
            .repartition(n_chunks)
            .write.mode("overwrite")
            .parquet(d)
        )
        _CHUNK_DIRS[key] = d
    return _CHUNK_DIRS[key]


def running_user_stats(
    spark: SparkSession,
    sf_dir: str,
    n_chunks: int = 4,
) -> DataFrame:
    """Per-user running (count, sum) maintained in GroupState across
    micro-batches; returns the final per-user totals — which must equal
    the batch ``GROUP BY user_id`` aggregate (the oracle)."""
    chunk_dir = _chunked_events_dir(spark, sf_dir, n_chunks)
    schema = spark.read.parquet(chunk_dir).schema
    ev = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(chunk_dir)
        .select("user_id", "value")
    )

    def update(key, pdfs, state: GroupState):
        n, tot = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            tot += float(pdf["value"].sum())
        state.update((n, tot))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [tot]}
        )

    running = ev.groupBy("user_id").applyInPandasWithState(
        update,
        OUTPUT_SCHEMA,
        STATE_SCHEMA,
        "update",
        GroupStateTimeout.NoTimeout,
    )

    # drive to completion; memory sink collects every per-batch update.
    # NoTimeout + no watermark: the closing no-data micro-batch can
    # never emit or evict anything here — skip its state commit
    updates = run_available_now(
        running, "update", STATE_CONF, no_data_batches=False
    )

    # n_events is strictly increasing within a key → the max-count row
    # is the final state
    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (
        updates.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            "user_id",
            "n_events",
            F.round("total_value", 4).alias("total_value"),
        )
        .orderBy("user_id")
    )


def running_user_stats_native(
    spark: SparkSession,
    sf_dir: str,
    n_chunks: int = 4,
) -> DataFrame:
    """``running_user_stats`` restated as a NATIVE streaming
    aggregation — identical input, output schema, and final totals
    (pinned equal in tests/test_streaming.py), but state lives in the
    JVM state store and updates inside codegen: no Python worker, no
    Arrow round trip.

    WHEN TO USE WHICH (the SCALING.md r9 decision note): the 100×-keys
    probe (tools/state_scale_probe.py) shows ``applyInPandasWithState``
    is bounded by ``allUpdatesTimeMs`` — the per-batch Python/Arrow
    boundary — not by the state store (5 MB state, 118 s summed update
    time at 15k keys vs 3.7 s for THIS native twin on identical input;
    native wall flat 5.3→4.7 s across 150→15k keys while pandas-state
    grows to 20.2 s), and that cost scales with keys × batches.  So:

    * per-key logic expressible as a keyed/windowed NATIVE aggregate
      (counts, sums, min/max, approx sketches, time windows) → restate
      it like THIS function: the update path stays JVM-side and the
      Python tax disappears;
    * genuinely procedural state (conditional emission, per-event
      state machines, session logic with custom timeout semantics,
      state that is not a commutative aggregate) →
      ``applyInPandasWithState`` / transformWithState remain the right
      tool — budget wall-clock for the Python boundary, which is the
      scale ceiling, and keep per-batch emitted rows small."""
    chunk_dir = _chunked_events_dir(spark, sf_dir, n_chunks)
    schema = spark.read.parquet(chunk_dir).schema
    ev = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(chunk_dir)
        .select("user_id", "value")
    )
    agg = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("value").alias("total_value"),
    )
    return (
        run_available_now(agg, "complete", STATE_CONF)
        .select(
            "user_id",
            "n_events",
            F.round("total_value", 4).alias("total_value"),
        )
        .orderBy("user_id")
    )


def tws_available() -> bool:
    """transformWithStateInPandas drives its state protocol over
    protobuf; usable iff ``_protobuf_compat.ensure_protobuf`` can stand
    up a runtime (pip-installed, or the public pure-Python runtime the
    host's Cloud SDK ships) and round-trip a real StateMessage."""
    return _protobuf_compat.ensure_protobuf()


# RocksDB is mandatory for tws typed state, so the r10 recovery probe's
# decision rule applies: ship changelog checkpointing — per-commit
# upload becomes a changelog append instead of zip+upload of changed
# SSTs (-58% commit cost measured, SCALING.md r10 recovery probe), with
# recovery bounded by snapshot cadence.  Pinned in
# tests/test_streaming.py::test_tws_changelog_checkpointing_*
_TWS_CONF = {
    **STATE_CONF,
    "spark.sql.streaming.stateStore.providerClass": (
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider"
    ),
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled": (
        "true"
    ),
}


def _run_tws(
    ev: DataFrame,
    processor: type[StatefulProcessor],
    output_schema: str,
    output_mode: str,
    time_mode: str,
    no_data_batches: bool = True,
    checkpoint: str | None = None,
) -> DataFrame:
    """The transformWithState bootstrap and harness shared by every
    exemplar: refuse without a usable protobuf, ship
    ``_protobuf_compat`` by value (workers cannot import the repo
    package) so ``processor`` — a ``WorkerBootstrap`` subclass — stands
    protobuf up inside each worker, key ``ev`` on user_id, and drain it
    into a memory sink under ``_TWS_CONF``.  ONE definition (r10
    self-review #5: five byte-near-identical copies had to move in
    lockstep).  ``checkpoint`` exists so tests can inspect the kept
    checkpoint (changelog files) after the run."""
    if not tws_available():
        raise RuntimeError(
            "transformWithStateInPandas needs google.protobuf, which is "
            "not usable in this environment; the applyInPandasWithState "
            "twins (running_user_stats, session_close_on_timeout) work "
            "without it"
        )
    cloudpickle.register_pickle_by_value(_protobuf_compat)
    out = ev.groupBy("user_id").transformWithStateInPandas(
        processor(), output_schema, output_mode, time_mode
    )
    return run_available_now(
        out, output_mode.lower(), _TWS_CONF, no_data_batches, checkpoint
    )


def running_user_stats_tws(
    spark: SparkSession,
    sf_dir: str,
    n_chunks: int = 4,
    ckpt_dir: str | None = None,
) -> DataFrame:
    """The same running per-user aggregate on the NEWER arbitrary-state
    API (Spark 4 ``transformWithStateInPandas``): typed ValueState via a
    StatefulProcessor, RocksDB state store (required by the API),
    update mode, no timers.  Semantics — and oracle — identical to
    ``running_user_stats``; having both pins the two stateful surfaces
    against the same batch GROUP BY truth.

    Requires a usable ``google.protobuf`` (see ``tws_available``)."""
    chunk_dir = _chunked_events_dir(spark, sf_dir, n_chunks)
    schema = spark.read.parquet(chunk_dir).schema
    ev = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(chunk_dir)
        .select("user_id", "value")
    )

    class RunningStats(WorkerBootstrap, StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._agg = handle.getValueState(
                "agg", "n_events long, total_value double"
            )

        def handleInputRows(self, key, rows, timerValues):
            n, tot = self._agg.get() if self._agg.exists() else (0, 0.0)
            for pdf in rows:
                n += len(pdf)
                tot += float(pdf["value"].sum())
            self._agg.update((n, tot))
            yield pd.DataFrame(
                {"user_id": [key[0]], "n_events": [n], "total_value": [tot]}
            )

        def close(self) -> None:
            pass

    updates = _run_tws(
        ev,
        RunningStats,
        OUTPUT_SCHEMA,
        "Update",
        "None",
        no_data_batches=False,
        checkpoint=ckpt_dir,
    )
    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (
        updates.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            "user_id",
            "n_events",
            F.round("total_value", 4).alias("total_value"),
        )
        .orderBy("user_id")
    )


_ORDERED_CHUNK_DIRS: dict[tuple[str, int], tuple[str, list[int]]] = {}

SESSION_SCHEMA = "user_id long, n_events long, start_us long, end_us long"
SESSION_STATE_SCHEMA = "n_events long, start_us long, end_us long"


def _time_ordered_chunks(
    spark: SparkSession,
    sf_dir: str,
    n_chunks: int,
    cols: tuple[str, ...] = ("event_id", "user_id", "ts"),
) -> tuple[str, list[int]]:
    """Land events as ``n_chunks`` files covering CONSECUTIVE time
    ranges, mtime-ordered so FileStreamSource delivers them
    chronologically (batch order = file modification time; same-second
    writes tie-break nondeterministically, hence the explicit utime).
    Returns (dir, max event-time µs per chunk) — the per-batch
    watermark inputs the tests reason with."""
    import os
    import shutil

    from play_bq_gcp_spark.catalog import read_table

    key = (sf_dir, n_chunks, cols)
    if key not in _ORDERED_CHUNK_DIRS:
        d = scratch_dir("events_ordered_")
        ev = read_table(spark, sf_dir, "events").select(*cols)
        maxes: list[int] = []
        # deterministic equal-size time ranges: global sort + ntile.
        # Fixture-prep only (single-partition window sort): a real
        # backfill would repartitionByRange(n, "ts") — ranges there are
        # sampled, good enough when exact chunk sizes don't matter.
        ranked = ev.withColumn(
            "__tile",
            F.ntile(n_chunks).over(Window.orderBy(F.col("ts"), F.col("event_id"))),
        )
        for i in range(1, n_chunks + 1):
            part = ranked.filter(F.col("__tile") == i).drop("__tile")
            tmp = tempfile.mkdtemp(prefix="chunk_tmp_")
            part.coalesce(1).write.mode("overwrite").parquet(tmp)
            src = next(
                f for f in os.listdir(tmp) if f.endswith(".parquet")
            )
            dst = os.path.join(d, f"chunk_{i:02d}.parquet")
            shutil.move(os.path.join(tmp, src), dst)
            shutil.rmtree(tmp, ignore_errors=True)
            os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))
            mx = part.agg(F.max("ts")).first()[0]
            maxes.append(int(mx.timestamp() * 1_000_000))
        _ORDERED_CHUNK_DIRS[key] = (d, maxes)
    return _ORDERED_CHUNK_DIRS[key]


def session_close_on_timeout(
    spark: SparkSession,
    sf_dir: str,
    gap_s: int = 1800,
    n_chunks: int = 4,
) -> DataFrame:
    """Event-time-timeout sessionization (the GroupStateTimeout surface
    ``running_user_stats`` doesn't use): per-user sessions accumulate in
    GroupState; a session EMITS when (a) a later row opens the next
    session (gap exceeded — in-batch or cross-batch), or (b) the
    event-time watermark passes session_end + gap and the state times
    out with no new data.  ``AvailableNow`` runs a closing no-data
    batch that advances the watermark over everything seen, so final
    sessions whose horizon has passed time out there too; only sessions
    still inside the horizon at stream end stay in state, unemitted —
    exactly the rows a restart would resume.

    Chunks arrive chronologically (``_time_ordered_chunks``), so the
    watermark advances batch by batch and closures are deterministic;
    tests derive the expected set from batch sessionize + the final
    watermark."""
    chunk_dir, _ = _time_ordered_chunks(spark, sf_dir, n_chunks)
    schema = spark.read.parquet(chunk_dir).schema
    ev = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(chunk_dir)
        .select("user_id", "ts")
        .withWatermark("ts", "0 seconds")
    )
    gap_us = gap_s * 1_000_000

    def update(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            n, s_us, e_us = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "start_us": [s_us],
                    "end_us": [e_us],
                }
            )
            return
        ts_us = sorted(
            int(v.value // 1_000)  # pandas Timestamp ns → µs
            for pdf in pdfs
            for v in pd.to_datetime(pdf["ts"])
        )
        sessions: list[tuple[int, int, int]] = []
        if state.exists:
            cur = state.get
        else:
            cur = None
        for t in ts_us:
            if cur is None:
                cur = (1, t, t)
            elif t - cur[2] > gap_us:
                sessions.append(cur)
                cur = (1, t, t)
            else:
                cur = (cur[0] + 1, cur[1], t)
        out = pd.DataFrame(
            {
                "user_id": [key[0]] * len(sessions),
                "n_events": [s[0] for s in sessions],
                "start_us": [s[1] for s in sessions],
                "end_us": [s[2] for s in sessions],
            }
        )
        wm_ms = state.getCurrentWatermarkMs()
        # ceil to ms: the session closes when wm passes end+gap in µs;
        # floor truncation would fire the timer up to 1 ms EARLY for
        # sub-millisecond event times and diverge from the µs oracle
        close_at_ms = (cur[2] + gap_us + 999) // 1_000
        if close_at_ms <= wm_ms:
            # already past the horizon: close now, keep no state
            out = pd.concat(
                [
                    out,
                    pd.DataFrame(
                        {
                            "user_id": [key[0]],
                            "n_events": [cur[0]],
                            "start_us": [cur[1]],
                            "end_us": [cur[2]],
                        }
                    ),
                ]
            )
            state.remove()
        else:
            state.update(cur)
            state.setTimeoutTimestamp(close_at_ms)
        if len(out):
            yield out

    sessions = ev.groupBy("user_id").applyInPandasWithState(
        update,
        SESSION_SCHEMA,
        SESSION_STATE_SCHEMA,
        "append",
        GroupStateTimeout.EventTimeTimeout,
    )

    return run_available_now(sessions, "append", STATE_CONF).orderBy(
        "user_id", "start_us"
    )


def session_close_on_timer_tws(
    spark: SparkSession,
    sf_dir: str,
    gap_s: int = 1800,
    n_chunks: int = 4,
) -> DataFrame:
    """Timer-based sessionization on the Spark-4 arbitrary-state API —
    the transformWithStateInPandas twin of ``session_close_on_timeout``
    exercising the surface GroupState cannot express directly: explicit
    EVENT-TIME TIMERS (``handle.registerTimer`` / ``deleteTimer``) with
    a dedicated ``handleExpiredTimer`` callback, plus typed ValueState.

    Semantics (identical to the GroupState twin, same oracle): a
    session emits when a later row opens the next session (gap
    exceeded) or when the watermark passes session_end + gap — here via
    a registered timer rather than ``setTimeoutTimestamp``.  Extending
    a session DELETES the stale timer and registers the new horizon;
    ``handleExpiredTimer`` double-checks the stored horizon so a timer
    that raced a same-batch extension is ignored, not emitted."""
    chunk_dir, _ = _time_ordered_chunks(spark, sf_dir, n_chunks)
    schema = spark.read.parquet(chunk_dir).schema
    ev = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(chunk_dir)
        .select("user_id", "ts")
        .withWatermark("ts", "0 seconds")
    )
    gap_us = gap_s * 1_000_000

    class TimerSessions(WorkerBootstrap, StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._handle = handle
            self._sess = handle.getValueState(
                "sess", "n_events long, start_us long, end_us long, timer_ms long"
            )

        def _emit(self, key, sessions):
            return pd.DataFrame(
                {
                    "user_id": [key[0]] * len(sessions),
                    "n_events": [s[0] for s in sessions],
                    "start_us": [s[1] for s in sessions],
                    "end_us": [s[2] for s in sessions],
                }
            )

        def handleInputRows(self, key, rows, timerValues):
            ts_us = sorted(
                int(v.value // 1_000)
                for pdf in rows
                for v in pd.to_datetime(pdf["ts"])
            )
            old_timer = None
            cur = None
            if self._sess.exists():
                n, s_us, e_us, old_timer = self._sess.get()
                cur = (n, s_us, e_us)
            closed = []
            for t in ts_us:
                if cur is None:
                    cur = (1, t, t)
                elif t - cur[2] > gap_us:
                    closed.append(cur)
                    cur = (1, t, t)
                else:
                    cur = (cur[0] + 1, cur[1], t)
            wm_ms = timerValues.getCurrentWatermarkInMs()
            # ceil to ms: the session closes when wm passes end+gap in
            # µs; floor truncation would fire the timer up to 1 ms
            # EARLY for sub-ms event times and diverge from the oracle
            close_at_ms = (cur[2] + gap_us + 999) // 1_000
            if old_timer is not None and old_timer != close_at_ms:
                self._handle.deleteTimer(old_timer)
            if close_at_ms <= wm_ms:
                closed.append(cur)
                self._sess.clear()
            else:
                self._sess.update((cur[0], cur[1], cur[2], close_at_ms))
                if old_timer != close_at_ms:
                    self._handle.registerTimer(close_at_ms)
            if closed:
                yield self._emit(key, closed)

        def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
            if not self._sess.exists():
                return
            n, s_us, e_us, timer_ms = self._sess.get()
            if timer_ms != expiredTimerInfo.getExpiryTimeInMs():
                return  # stale timer raced an in-batch extension
            self._sess.clear()
            yield self._emit(key, [(n, s_us, e_us)])

        def close(self) -> None:
            pass

    return _run_tws(
        ev, TimerSessions, SESSION_SCHEMA, "Append", "EventTime"
    ).orderBy("user_id", "start_us")


FUNNEL_SCHEMA = (
    "user_id long, kind string, start_us long, end_us long, span_us long"
)


def funnel_state_machine_tws(
    spark: SparkSession,
    sf_dir: str,
    gap_s: int = 1800,
    n_chunks: int = 4,
) -> DataFrame:
    """Per-event funnel STATE MACHINE with conditional emission and
    event-time timers — the procedural exemplar the r9 verdict asked
    for: logic that genuinely cannot be restated as a native streaming
    aggregate (the r9 decision rule at ``running_user_stats_native``
    reserves this API for exactly this class).  Per user, over events
    ordered by (ts, event_id):

    * idle --view--> viewed (a later view refreshes ``view_us``);
    * viewed --click--> clicked (any other type resets to idle);
    * clicked --purchase--> EMIT ``converted`` (span view->purchase)
      and reset; --click--> refresh the horizon; --view--> back to
      viewed; signup/error reset SILENTLY;
    * the clicked state carries an event-time HORIZON ``click + gap``:
      an event arriving past it proves no conversion — EMIT
      ``abandoned`` (span view->click) BEFORE processing that event
      from idle — and a registered timer emits the same row when the
      WATERMARK passes the horizon with no further events (stream
      tail).  A user still inside the horizon at stream end stays in
      state, unemitted — the rows a restart would resume.

    Why this is not an aggregate: output depends on the ORDER of
    event types (view click purchase converts; click view purchase
    does not), on RESETS (an error erases progress), and on per-event
    horizon comparisons — none commutative, none expressible as
    sum/min/max merges.  The DuckDB oracle replays the machine
    LITERALLY with a recursive CTE stepping event-by-event (the
    sql_recursive_spine precedent), so the differential checks the
    machine, not a re-derivation of it.

    Mechanics mirror ``session_close_on_timer_tws`` (same ceil-to-ms
    horizon encoding, same stale-timer double-check, RocksDB store,
    AvailableNow, time-ordered chunks so the watermark advances
    deterministically)."""
    chunk_dir, _ = _time_ordered_chunks(
        spark, sf_dir, n_chunks,
        cols=("event_id", "user_id", "ts", "event_type"),
    )
    schema = spark.read.parquet(chunk_dir).schema
    ev = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(chunk_dir)
        .select("event_id", "user_id", "ts", "event_type")
        .withWatermark("ts", "0 seconds")
    )
    gap_us = gap_s * 1_000_000

    class FunnelMachine(WorkerBootstrap, StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._handle = handle
            # phase: 0 idle / 1 viewed / 2 clicked; -1 = no value
            self._fsm = handle.getValueState(
                "fsm", "phase int, view_us long, click_us long, timer_ms long"
            )

        @staticmethod
        def _emit(key, rows):
            return pd.DataFrame(
                {
                    "user_id": [key[0]] * len(rows),
                    "kind": [r[0] for r in rows],
                    "start_us": [r[1] for r in rows],
                    "end_us": [r[2] for r in rows],
                    "span_us": [r[2] - r[1] for r in rows],
                }
            )

        def handleInputRows(self, key, rows, timerValues):
            evs = sorted(
                (int(v.value // 1_000), int(e), str(ty))
                for pdf in rows
                for v, e, ty in zip(
                    pd.to_datetime(pdf["ts"]),
                    pdf["event_id"],
                    pdf["event_type"],
                )
            )
            phase, view_us, click_us, old_timer = 0, -1, -1, None
            if self._fsm.exists():
                phase, view_us, click_us, old_timer = self._fsm.get()
            out = []
            for t, _eid, typ in evs:
                if phase == 2 and t > click_us + gap_us:
                    out.append(("abandoned", view_us, click_us))
                    phase, view_us, click_us = 0, -1, -1
                if phase == 0:
                    if typ == "view":
                        phase, view_us = 1, t
                elif phase == 1:
                    if typ == "view":
                        view_us = t
                    elif typ == "click":
                        phase, click_us = 2, t
                    else:
                        phase, view_us = 0, -1
                else:  # phase 2, t <= click_us + gap_us
                    if typ == "purchase":
                        out.append(("converted", view_us, t))
                        phase, view_us, click_us = 0, -1, -1
                    elif typ == "view":
                        phase, view_us, click_us = 1, t, -1
                    elif typ == "click":
                        click_us = t
                    else:
                        phase, view_us, click_us = 0, -1, -1
            wm_ms = timerValues.getCurrentWatermarkInMs()
            if phase == 2:
                # same ceil-to-ms discipline as the session twin: the
                # horizon passes when wm covers click+gap in µs
                close_at_ms = (click_us + gap_us + 999) // 1_000
                if old_timer is not None and old_timer not in (
                    -1, close_at_ms
                ):
                    self._handle.deleteTimer(old_timer)
                if close_at_ms <= wm_ms:
                    out.append(("abandoned", view_us, click_us))
                    self._fsm.clear()
                else:
                    self._fsm.update((2, view_us, click_us, close_at_ms))
                    if old_timer != close_at_ms:
                        self._handle.registerTimer(close_at_ms)
            else:
                if old_timer is not None and old_timer != -1:
                    self._handle.deleteTimer(old_timer)
                if phase == 0:
                    self._fsm.clear()
                else:
                    self._fsm.update((1, view_us, -1, -1))
            if out:
                yield self._emit(key, out)

        def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
            if not self._fsm.exists():
                return
            phase, view_us, click_us, timer_ms = self._fsm.get()
            if (
                phase != 2
                or timer_ms != expiredTimerInfo.getExpiryTimeInMs()
            ):
                return  # stale timer raced an in-batch transition
            self._fsm.clear()
            yield self._emit(key, [("abandoned", view_us, click_us)])

        def close(self) -> None:
            pass

    return _run_tws(
        ev, FunnelMachine, FUNNEL_SCHEMA, "Append", "EventTime"
    ).orderBy("user_id", "end_us", "start_us", "kind")


TYPE_STATS_SCHEMA = (
    "user_id long, event_type string, n_events long, total_value double"
)


def per_type_user_stats_tws(
    spark: SparkSession,
    sf_dir: str,
    n_chunks: int = 4,
) -> DataFrame:
    """Per-(user, event_type) running (count, sum) via typed MAP STATE
    on transformWithStateInPandas — the keyed-substate surface
    (getMapState: per-key map of event_type → aggregate) that ValueState
    flattens awkwardly and GroupState cannot type at all.  Each
    micro-batch updates only the touched map entries; the final batch's
    full-map emission must equal the batch GROUP BY user_id, event_type
    truth (the oracle).  Update mode; the max-count row per
    (user, type) is the final state, monotone within a key."""
    chunk_dir = _chunked_events_dir(spark, sf_dir, n_chunks)
    schema = spark.read.parquet(chunk_dir).schema
    ev = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(chunk_dir)
        .select("user_id", "event_type", "value")
    )

    class PerTypeStats(WorkerBootstrap, StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._m = handle.getMapState(
                "per_type", "event_type string", "n long, total double"
            )

        def handleInputRows(self, key, rows, timerValues):
            touched: dict[str, tuple[int, float]] = {}
            for pdf in rows:
                for et, grp in pdf.groupby("event_type"):
                    n0, t0 = touched.get(et) or (
                        self._m.getValue((et,)) or (0, 0.0)
                    )
                    touched[et] = (
                        n0 + len(grp), t0 + float(grp["value"].sum())
                    )
            for et, (n, tot) in touched.items():
                self._m.updateValue((et,), (n, tot))
            # emit the FULL current map so the last update per
            # (user, type) is the final state even for untouched types
            out = list(self._m.iterator())
            yield pd.DataFrame(
                {
                    "user_id": [key[0]] * len(out),
                    "event_type": [k[0] for k, _ in out],
                    "n_events": [v[0] for _, v in out],
                    "total_value": [v[1] for _, v in out],
                }
            )

        def close(self) -> None:
            pass

    updates = _run_tws(
        ev,
        PerTypeStats,
        TYPE_STATS_SCHEMA,
        "Update",
        "None",
        no_data_batches=False,
    )
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.col("n_events").desc()
    )
    return (
        updates.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            "user_id",
            "event_type",
            "n_events",
            F.round("total_value", 4).alias("total_value"),
        )
        .orderBy("user_id", "event_type")
    )


RECENT_SCHEMA = "user_id long, n_seen long, pos int, event_id long, ts_us long"


def recent_events_tws(
    spark: SparkSession,
    sf_dir: str,
    k: int = 3,
    n_chunks: int = 4,
) -> DataFrame:
    """Per-user most-recent-``k`` events maintained in typed LIST STATE
    on transformWithStateInPandas — the bounded-buffer surface
    (``getListState`` + ``put``) that completes the API's state-type
    coverage (ValueState: running totals; MapState: keyed substates;
    timers: sessions).  Each micro-batch merges its rows into the
    buffer, trims to the ``k`` latest by event time, and emits the
    buffer tagged with a running seen-count, so the final buffer per
    user is the max-``n_seen`` emission — which must equal the batch
    top-``k``-by-time truth (the oracle)."""
    chunk_dir, _ = _time_ordered_chunks(spark, sf_dir, n_chunks)
    schema = spark.read.parquet(chunk_dir).schema
    ev = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(chunk_dir)
        .select("user_id", "event_id", "ts")
    )

    class RecentEvents(WorkerBootstrap, StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._buf = handle.getListState(
                "recent", "event_id long, ts_us long"
            )
            self._seen = handle.getValueState("seen", "n long")

        def handleInputRows(self, key, rows, timerValues):
            cur = list(self._buf.get()) if self._buf.exists() else []
            n_seen = (self._seen.get() or (0,))[0] if self._seen.exists() else 0
            for pdf in rows:
                n_seen += len(pdf)
                ts_us = (
                    pd.to_datetime(pdf["ts"]).astype("int64") // 1_000
                )
                cur.extend(
                    (int(e), int(t))
                    for e, t in zip(pdf["event_id"], ts_us)
                )
            # latest k by event time (event_id tie-break, deterministic)
            cur.sort(key=lambda r: (-r[1], -r[0]))
            cur = cur[:k]
            self._buf.put(cur)
            self._seen.update((n_seen,))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]] * len(cur),
                    "n_seen": [n_seen] * len(cur),
                    "pos": list(range(1, len(cur) + 1)),
                    "event_id": [r[0] for r in cur],
                    "ts_us": [r[1] for r in cur],
                }
            )

        def close(self) -> None:
            pass

    updates = _run_tws(
        ev,
        RecentEvents,
        RECENT_SCHEMA,
        "Update",
        "None",
        no_data_batches=False,
    )
    w = Window.partitionBy("user_id", "pos").orderBy(F.col("n_seen").desc())
    return (
        updates.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("user_id", "n_seen", "pos", "event_id", "ts_us")
        .orderBy("user_id", "pos")
    )

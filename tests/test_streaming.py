from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from play_bq_gcp_spark.catalog import read_table
from play_bq_gcp_spark.streaming import daily


def test_windowed_counts_total(spark, sf_dir):
    out = daily.windowed_deduped_counts(spark, sf_dir)
    batch_total = read_table(spark, sf_dir, "events").count()
    assert out.agg(F.sum("n")).first()[0] == batch_total


def test_dedup_restores_exactly_once(spark, sf_dir):
    out = daily.windowed_deduped_counts(spark, sf_dir).groupBy("event_type").agg(
        F.sum("n").alias("n")
    )
    batch = (
        read_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    got = {r.event_type: r.n for r in out.collect()}
    want = {r.event_type: r.n for r in batch.collect()}
    assert got == want  # doubled stream deduped back to one copy per event


def test_session_windows_match_batch_sessionize(spark, sf_dir):
    from play_bq_gcp_spark.operators.windows import sessionize

    stream = {r.user_id: r.n_sessions for r in daily.session_window_counts(spark, sf_dir).collect()}
    batch = (
        sessionize(read_table(spark, sf_dir, "events"), "user_id", "ts", 30)
        .groupBy("user_id")
        .agg(F.max("session_id").alias("n"))
    )
    assert stream == {r.user_id: r.n for r in batch.collect()}


def test_stateful_running_totals_match_batch(spark, sf_dir):
    """applyInPandasWithState across 4 real micro-batches converges to
    the batch GROUP BY result."""
    from play_bq_gcp_spark.streaming import stateful

    out = stateful.running_user_stats(spark, sf_dir)
    batch = (
        read_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
    )
    got = {(r.user_id, r.n_events, r.total_value) for r in out.collect()}
    want = {(r.user_id, r.n_events, r.total_value) for r in batch.collect()}
    assert got == want


def test_native_streaming_agg_twin_matches_pandas_state(spark, sf_dir):
    """The SCALING.md r9 A/B: running_user_stats_native (JVM streaming
    aggregate, no Python boundary) produces identical final totals to
    the applyInPandasWithState version — the precondition for the
    'restate aggregable state natively' guidance."""
    from play_bq_gcp_spark.streaming import stateful

    native = stateful.running_user_stats_native(spark, sf_dir)
    pandas_state = stateful.running_user_stats(spark, sf_dir)
    got = {
        (r.user_id, r.n_events, r.total_value) for r in native.collect()
    }
    want = {
        (r.user_id, r.n_events, r.total_value)
        for r in pandas_state.collect()
    }
    assert got == want


def test_stateful_stream_ran_multiple_batches(spark, sf_dir):
    """The chunked source really delivers >1 micro-batch: with 4 chunk
    files and maxFilesPerTrigger=1, most keys are updated more than
    once, so the update-mode sink holds more rows than distinct keys."""
    from play_bq_gcp_spark.streaming import stateful

    d = stateful._chunked_events_dir(spark, sf_dir, 4)
    import glob, os
    assert len(glob.glob(os.path.join(d, "part-*"))) == 4


def test_pandas_udf_token_count(spark):
    from play_bq_gcp_spark.functions.scalar import bpe_token_count_udf

    df = spark.createDataFrame(
        [(1, "hello, world!"), (2, "a b c"), (3, "")],
        "doc_id long, text string",
    )
    count = bpe_token_count_udf()
    got = {r.doc_id: r.n for r in df.select(
        "doc_id", count("text").alias("n")).collect()}
    # hello , world ! → 4; a b c → 3; "" → 0
    assert got == {1: 4, 2: 3, 3: 0}


def test_watermark_append_mode_window_closure(spark, tmp_path):
    """Late-data semantics pinned down (SURVEY §7 hard part 2), as the
    engine actually guarantees them: append mode emits a window ONLY
    once the watermark passes its end, each window at most once, and
    in-horizon data is never lost.  (Row-level dropping of too-late
    data is explicitly best-effort in Spark — observed: a 09:30 event
    arriving at watermark 11:00 is still aggregated and its window
    re-closed — so the pipeline-level dedup of re-emitted windows
    belongs to the sink, e.g. foreachBatch MERGE, as daily.py does.)
    Two files → two micro-batches in mtime order
    (maxFilesPerTrigger=1)."""
    import datetime as dt
    import tempfile
    import uuid

    d = tmp_path / "late_stream"
    d.mkdir()
    t0 = dt.datetime(2024, 1, 1, 10, 0, 0)

    def rows(*ts):
        return spark.createDataFrame([(t,) for t in ts], "ts timestamp")

    # batch 1: events at 10:00 and 12:00 → max event time 12:00,
    # watermark after batch = 11:00
    rows(t0, t0 + dt.timedelta(hours=2)).coalesce(1).write.parquet(
        str(d / "f1.parquet")
    )
    # batch 2: 09:30 (window [09:00,10:00) < watermark 11:00 → DROP)
    # and 11:30 (window [11:00,12:00) ≥ watermark → KEEP)
    rows(
        t0 - dt.timedelta(minutes=30), t0 + dt.timedelta(minutes=90)
    ).coalesce(1).write.parquet(str(d / "f2.parquet"))

    # the file source orders batches by modification time; force
    # f1-before-f2 (same-second writes otherwise tie and order by
    # the UUID part-file names — nondeterministic)
    import glob
    import os
    import time

    now = time.time()
    for f in glob.glob(str(d / "f1.parquet" / "*")):
        os.utime(f, (now - 100, now - 100))
    for f in glob.glob(str(d / "f2.parquet" / "*")):
        os.utime(f, (now, now))

    schema = spark.read.parquet(str(d / "f1.parquet")).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d) + "/*")
    )
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    name = f"late_{uuid.uuid4().hex[:8]}"
    with tempfile.TemporaryDirectory() as ckpt:
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    emitted = [(r.w.start.hour, r.n) for r in spark.table(name).collect()]
    finalized = dict(emitted)
    # no window emitted twice
    assert len(emitted) == len(finalized)
    # [10,11) closed exactly once with its single event
    assert finalized.get(10) == 1
    # [11,12) and [12,13) are still open (watermark 11:00 has not
    # passed their ends) → NOT emitted; in-horizon 11:30 data is held
    # in state, not lost and not prematurely emitted
    assert 11 not in finalized and 12 not in finalized


def test_tws_running_totals_match_batch(spark, sf_dir):
    """transformWithStateInPandas twin of the GroupState operator —
    runs only where its protobuf dependency is usable."""
    import pytest

    from play_bq_gcp_spark.streaming import stateful

    if not stateful.tws_available():
        pytest.skip("google.protobuf unusable in this container")
    out = stateful.running_user_stats_tws(spark, sf_dir)
    batch = (
        read_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
    )
    got = {(r.user_id, r.n_events, r.total_value) for r in out.collect()}
    want = {(r.user_id, r.n_events, r.total_value) for r in batch.collect()}
    assert got == want


def test_stream_stream_interval_join_matches_batch(spark, sf_dir):
    """The watermarked stream-stream interval join emits exactly the
    batch join's matches (single micro-batch over the fixture, so no
    cross-batch-late subtleties cloud the equivalence)."""
    out = daily.purchase_click_interval_join(spark, sf_dir)
    ev = read_table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
    )
    batch = p.join(
        c,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 30 MINUTES")),
    )
    got = {(r.purchase_id, r.click_id) for r in out.collect()}
    want = {(r.purchase_id, r.click_id) for r in batch.collect()}
    assert got == want and len(got) > 0


def test_event_time_timeout_sessions(spark, sf_dir):
    """EventTimeTimeout sessionization: emitted sessions are exactly
    the batch sessions that CLOSED — every session with a successor
    (gap-closed when the next session's rows arrived) plus final
    sessions whose end+gap fell behind the last watermark (timeout- or
    inline-closed). Still-open sessions stay in state, unemitted."""
    from play_bq_gcp_spark.operators.windows import sessionize
    from play_bq_gcp_spark.streaming.stateful import (
        _time_ordered_chunks,
        session_close_on_timeout,
    )

    gap_s = 1800
    out = session_close_on_timeout(spark, sf_dir, gap_s=gap_s, n_chunks=4)
    got = {
        (r.user_id, r.start_us, r.end_us, r.n_events) for r in out.collect()
    }

    # batch truth: sessionize the whole table, aggregate per session
    ev = read_table(spark, sf_dir, "events")
    sess = (
        sessionize(ev, "user_id", "ts", gap_s // 60)
        .groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts").alias("start_ts"),
            F.max("ts").alias("end_ts"),
        )
    )
    # final watermark = GLOBAL max event time: AvailableNow runs a
    # closing no-data batch after the last file, advancing the
    # watermark over everything seen and firing remaining timeouts
    _, maxes = _time_ordered_chunks(spark, sf_dir, 4)
    wm_us = (maxes[-1] // 1000) * 1000
    rows = sess.collect()
    last_per_user = {}
    for r in rows:
        cur = last_per_user.get(r.user_id)
        if cur is None or r.session_id > cur.session_id:
            last_per_user[r.user_id] = r

    def us(ts):
        return int(ts.timestamp() * 1_000_000)

    want = set()
    for r in rows:
        is_last = last_per_user[r.user_id].session_id == r.session_id
        closed = (not is_last) or (us(r.end_ts) + gap_s * 1_000_000 <= wm_us)
        if closed:
            want.add((r.user_id, us(r.start_ts), us(r.end_ts), r.n_events))
    assert got == want
    assert len(got) > 0


def test_ingest_stream_grows_index_across_batches(spark, tmp_path):
    """A batch-1 doc identical to a batch-0 ACCEPTED doc must come back
    exact_dup even though neither is in the seed corpus — the growing
    index is what catches it."""
    import os

    from play_bq_gcp_spark.streaming.ingest import run_ingest_stream

    corpus = spark.createDataFrame(
        [(1, "seed corpus document about alpha beta gamma delta")],
        "doc_id long, text string",
    )
    batches = [
        # batch 0: one dup of the corpus, one genuinely new doc
        [
            (10, "seed corpus document about alpha beta gamma delta"),
            (11, "fresh passage one two three four five six seven"),
        ],
        # batch 1: exact copy of 11 (accepted in batch 0) and a near
        # copy of it (one word changed)
        [
            (20, "fresh passage one two three four five six seven"),
            (21, "fresh passage one two three four five six eight"),
        ],
    ]
    d = str(tmp_path / "batches")
    os.makedirs(d)
    for i, rows in enumerate(batches):
        df = spark.createDataFrame(rows, "doc_id long, text string")
        tmp = str(tmp_path / f"tmp{i}")
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        src = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
        dst = os.path.join(d, f"batch_{i:02d}.parquet")
        os.rename(os.path.join(tmp, src), dst)
        os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))

    out = {
        r.doc_id: (r.verdict, r.n_matches)
        for r in run_ingest_stream(spark, d, corpus).collect()
    }
    assert out[10] == ("exact_dup", 1)   # caught by the seed corpus
    assert out[11] == ("new", 0)         # accepted -> joins the index
    assert out[20] == ("exact_dup", 1)   # caught ONLY by grown index
    assert out[21][0] == "near_dup"      # near match against 11 or 20
    assert len(out) == 4


def test_tws_timer_sessions_match_groupstate_twin(spark, sf_dir):
    """Timer-based TWS sessionization emits the EXACT same session set
    as the GroupState event-time-timeout twin — including in-batch
    closures, cross-batch extensions, stale-timer races, and the
    final-watermark closure rule."""
    import pytest

    from play_bq_gcp_spark.streaming import stateful

    if not stateful.tws_available():
        pytest.skip("google.protobuf unusable in this container")
    timer = [
        tuple(r)
        for r in stateful.session_close_on_timer_tws(spark, sf_dir).collect()
    ]
    group_state = [
        tuple(r)
        for r in stateful.session_close_on_timeout(spark, sf_dir).collect()
    ]
    assert timer == group_state
    assert timer  # sessions actually closed


def test_checkpoint_recovery_resumes_state_without_reprocessing(spark, tmp_path):
    """Kill-and-restart contract: a restarted stateful query on the
    SAME checkpoint must (a) not re-read files already committed to the
    source log and (b) resume its aggregation state, so totals emitted
    after restart include pre-restart history.  The memory sink cannot
    recover, so emissions are captured through foreachBatch — the
    production restart path."""
    from pyspark.sql import functions as F

    src = tmp_path / "src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")

    def write_batch(name, rows):
        spark.createDataFrame(rows, "user_id long, value double").coalesce(
            1
        ).write.mode("overwrite").parquet(str(src / name))

    def run_query():
        emitted = []
        stream = (
            spark.readStream.schema("user_id long, value double")
            .option("recursiveFileLookup", "true")
            .parquet(str(src))
        )
        agg = stream.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n"), F.sum("value").alias("total")
        )
        q = (
            agg.writeStream.foreachBatch(
                lambda bdf, _eid: emitted.extend(bdf.collect())
            )
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        progress = q.lastProgress
        return emitted, progress["numInputRows"] if progress else 0

    write_batch("b1", [(1, 1.0), (1, 2.0), (2, 5.0)])
    out1, rows1 = run_query()
    assert rows1 == 3

    write_batch("b2", [(1, 4.0), (3, 7.0)])
    out2, rows2 = run_query()
    # (a) only the new file was read on restart
    assert rows2 == 2
    got = {r.user_id: (r.n, r.total) for r in out2}
    # (b) user 1's emitted total includes pre-restart state (1+2+4),
    # and untouched user 2 is not re-emitted in update mode
    assert got[1] == (3, 7.0)
    assert got[3] == (1, 7.0)
    assert 2 not in got


def test_watermark_drops_late_rows_and_reports_them(spark, tmp_path):
    """Watermark semantics pinned via the state-operator metrics: an
    event arriving in a later micro-batch, older than (max event time
    seen - watermark), must be EXCLUDED from its window's count and
    show up in numRowsDroppedByWatermark — the operational audit signal
    a production stream monitors."""
    from datetime import datetime

    from pyspark.sql import functions as F

    src = tmp_path / "src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")

    def write_batch(name, rows):
        spark.createDataFrame(rows, "ts timestamp, k string").coalesce(
            1
        ).write.mode("overwrite").parquet(str(src / name))

    # batch 1 advances event time to 12:00; watermark 10 min -> 11:50
    write_batch("b1", [(datetime(2024, 1, 1, 12, 0, 0), "a")])
    # batch 2 carries a 10:30 straggler — its [10:00, 11:00) window
    # closed when the watermark reached 11:50, so it MUST be dropped —
    # and an on-time 12:01 row
    late_rows = [
        (datetime(2024, 1, 1, 10, 30, 0), "a"),
        (datetime(2024, 1, 1, 12, 1, 0), "a"),
    ]

    emitted, progresses = [], []
    agg = (
        spark.readStream.schema("ts timestamp, k string")
        .option("recursiveFileLookup", "true")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"), "k")
        .agg(F.count(F.lit(1)).alias("n"))
    )

    def run():
        q = (
            agg.writeStream.foreachBatch(
                lambda bdf, _eid: emitted.extend(bdf.collect())
            )
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        progresses.extend(q.recentProgress)

    run()
    write_batch("b2", late_rows)
    run()

    dropped = sum(
        op.get("numRowsDroppedByWatermark", 0)
        for p in progresses
        for op in p.get("stateOperators", [])
    )
    assert dropped == 1, f"late row not dropped (dropped={dropped})"
    final = {}
    for r in emitted:  # update mode: later emissions win
        final[(r.w.start, r.k)] = r.n
    # the 10:00 window never got the late row; 12:00 window counts 2
    assert final[(datetime(2024, 1, 1, 12, 0, 0), "a")] == 2
    assert (datetime(2024, 1, 1, 10, 0, 0), "a") not in final


def test_session_horizon_submillisecond_boundary(spark, tmp_path):
    """Pinned boundary rule (ADVICE r4): a session closes only when the
    watermark passes ``end_us + gap_us`` in MICROSECONDS.  The ms-floor
    horizon used to fire the timeout up to 1 ms early for sub-ms event
    times; with ceil-to-ms, a horizon 100 µs past the watermark must
    stay OPEN (unemitted) while a clearly-passed horizon still closes.
    """
    import datetime as dt

    from play_bq_gcp_spark.streaming import stateful

    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        # control user 9: horizon 9.0s + 1s = 10.0s <= final wm -> closes
        (9, base + dt.timedelta(seconds=9), 1),
        # user 1: horizon 10.0005s + 1s = 11.0005s, final wm 11.0004s
        # -> 100 µs short of the horizon; must NOT close
        (1, base + dt.timedelta(seconds=10, microseconds=500), 2),
        # user 2: the watermark driver (latest event, stays open)
        (2, base + dt.timedelta(seconds=11, microseconds=400), 3),
    ]
    ev = spark.createDataFrame(rows, "user_id long, ts timestamp, event_id long")
    sf = str(tmp_path / "subms")
    (tmp_path / "subms").mkdir()
    ev.coalesce(1).write.parquet(f"{sf}/events.parquet")

    for fn in (
        stateful.session_close_on_timeout,
        stateful.session_close_on_timer_tws,
    ):
        out = fn(spark, sf, gap_s=1, n_chunks=3)
        emitted = {r.user_id for r in out.collect()}
        assert emitted == {9}, f"{fn.__name__}: {emitted}"


def test_stream_source_reads_directory_shaped_tables(spark, tmp_path, sf_dir):
    """Pinned r5 probe find: every real table at scale is a DIRECTORY
    of part files, and the stream source used to list a symlinked
    subdirectory and silently stream zero rows.  A directory-shaped
    events table must stream the same rows the batch reader sees."""
    from play_bq_gcp_spark.catalog import read_table
    from play_bq_gcp_spark.streaming import daily

    src = read_table(spark, sf_dir, "events")
    d = str(tmp_path / "dirshaped")
    (tmp_path / "dirshaped").mkdir()
    # write as a MULTI-FILE directory (the at-scale shape)
    src.repartition(4).write.parquet(f"{d}/events.parquet")

    streamed = daily.windowed_deduped_counts(spark, d)
    batch = (
        src.groupBy(
            F.window("ts", "1 hour").alias("w"), "event_type"
        ).agg(F.count(F.lit(1)).alias("n"))
    )
    got = {(r.window_start, r.event_type, r.n) for r in streamed.collect()}
    want = {(r.w.start, r.event_type, r.n) for r in batch.collect()}
    assert got == want and len(got) > 0


def test_right_outer_interval_join_null_completion_edge(spark, tmp_path):
    """The right-outer mirror's defining edge (§2.8): a click with NO
    same-user purchase in [click, click+30min] emits null-completed
    EXACTLY ONCE — but only after the global watermark passes
    click+30min (the last instant a future purchase could match);
    an unmatched click still inside that horizon stays buffered and
    must NOT emit.  Controlled fixture: one matched pair, one
    in-horizon unmatched click, and far-future events on both sides
    that pin the final watermark between the two."""
    import datetime as dt

    d = tmp_path / "ro_edge"
    d.mkdir()
    t0 = dt.datetime(2024, 1, 1, 10, 0, 0)
    hours = dt.timedelta(hours=1)

    def ev(eid, ts, uid, etype):
        return (eid, ts, uid, etype, 1.0, "{}")

    rows = [
        # user 1: click with no purchase ever → must null-complete
        ev(101, t0, 1, "click"),
        # user 2: click then purchase 10 min later → matched pair
        ev(201, t0, 2, "click"),
        ev(202, t0 + dt.timedelta(minutes=10), 2, "purchase"),
        # user 3: unmatched click INSIDE the final horizon → buffered
        ev(301, t0 + 20 * hours, 3, "click"),
        # far-future rows on BOTH sides: the global watermark is the
        # min of (max p_ts, max c_ts) − 1 h = t0 + 19 h, which is past
        # click 101's horizon (t0 + 30 min) but before 301 + 30 min
        ev(901, t0 + 20 * hours, 9, "purchase"),
        ev(902, t0 + 21 * hours, 9, "click"),
    ]
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, "
        "event_type string, value double, props string",
    ).coalesce(1).write.parquet(str(d / "events.parquet"))

    out = daily.purchase_click_right_outer_join(spark, str(d)).collect()
    by_click = {}
    for r in out:
        by_click.setdefault(r.click_id, []).append(r)

    # matched pair emits with both sides populated
    assert [r.purchase_id for r in by_click[201]] == [202]
    # the unmatched in-horizon click null-completes exactly once
    assert len(by_click[101]) == 1
    assert by_click[101][0].purchase_id is None
    assert by_click[101][0].c_user == 1
    # unmatched clicks past the final watermark horizon stay buffered
    assert 301 not in by_click
    # far-future click 902: same-user purchase 901 precedes it by 1 h
    # (outside the 30-min band) and its horizon is past the watermark
    assert 902 not in by_click


def test_left_semi_interval_join_single_emit(spark, tmp_path):
    """The semi join's defining edges (§2.8): a purchase with THREE
    matching clicks emits exactly once, with left columns only; a
    purchase with no in-band click never emits, regardless of the
    watermark (semi emission is match-driven, not watermark-driven)."""
    import datetime as dt

    d = tmp_path / "semi_edge"
    d.mkdir()
    t0 = dt.datetime(2024, 1, 1, 10, 0, 0)

    def ev(eid, ts, uid, etype):
        return (eid, ts, uid, etype, 1.0, "{}")

    rows = [
        # user 1: three clicks inside the 30-min band before purchase
        ev(101, t0 - dt.timedelta(minutes=5), 1, "click"),
        ev(102, t0 - dt.timedelta(minutes=10), 1, "click"),
        ev(103, t0 - dt.timedelta(minutes=15), 1, "click"),
        ev(110, t0, 1, "purchase"),
        # user 2: click 31 min BEFORE the purchase — outside the band
        ev(201, t0 - dt.timedelta(minutes=31), 2, "click"),
        ev(210, t0, 2, "purchase"),
        # user 3: click AFTER the purchase — outside the band
        ev(301, t0 + dt.timedelta(minutes=1), 3, "click"),
        ev(310, t0, 3, "purchase"),
    ]
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, "
        "event_type string, value double, props string",
    ).coalesce(1).write.parquet(str(d / "events.parquet"))

    out = daily.purchase_click_left_semi_join(spark, str(d))
    assert out.columns == ["purchase_id", "p_user", "p_ts"]
    got = [(r.purchase_id, r.p_user) for r in out.collect()]
    # 110 once despite 3 matches; 210 and 310 never
    assert got == [(110, 1)]


def test_countmin_stream_merge_equals_batch_sketch(spark, sf_dir):
    """The streamed (4-micro-batch, foreachBatch-merged) CMS audit
    equals the batch CMS audit row-for-row — the linear-sketch merge
    is exact, not approximate."""
    from play_bq_gcp_spark.operators.aggregates import countmin_sketch

    streamed = daily.countmin_stream_merge(spark, sf_dir).collect()
    batch = countmin_sketch(
        read_table(spark, sf_dir, "events").select(
            F.col("user_id").cast("string").alias("t")
        )
    ).collect()
    assert [tuple(r) for r in streamed] == [tuple(r) for r in batch]
    n_users = (
        read_table(spark, sf_dir, "events").select("user_id").distinct().count()
    )
    assert len(streamed) == min(20, n_users)
    assert all(r.overcount >= 0 for r in streamed)


def test_cms_merge_epoch_guard_is_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: re-delivering the same epoch must
    NOT double-count (the additive sketch merge alone would).  Merge
    epoch 0, then epoch 1, then REPLAY epoch 1 — state must equal the
    two-epoch merge exactly; a genuinely new epoch still merges."""
    from play_bq_gcp_spark.storage import txn_table as tt

    state = str(tmp_path / "cms_state")
    b0 = spark.createDataFrame([(1,), (2,)], "user_id long")
    b1 = spark.createDataFrame([(2,), (3,)], "user_id long")

    def cells():
        return {
            (r.row, r.col): r.cnt
            for r in tt.read(spark, state).collect()
        }

    daily.merge_cms_state(spark, state, b0, 0)
    daily.merge_cms_state(spark, state, b1, 1)
    after_two = cells()
    daily.merge_cms_state(spark, state, b1, 1)  # redelivery
    assert cells() == after_two
    daily.merge_cms_state(spark, state, b1, 2)  # genuinely new epoch
    assert sum(cells().values()) == sum(after_two.values()) + 2 * 4


def _crash_after_batch_1_then_restart(spark, sf_dir, tmp_path, sink):
    """Drive ``sink(batch_df, batch_id)`` over the 4-chunk events
    stream (one file per micro-batch, durable checkpoint).  The first
    run dies after batch 1's commit and before the engine records the
    batch; the restart from the same checkpoint re-delivers batch 1
    and runs the rest.  Returns the chunked source directory."""
    import os

    from pyspark.errors.exceptions.captured import StreamingQueryException

    from play_bq_gcp_spark.streaming.available_now import run_available_now
    from play_bq_gcp_spark.streaming.stateful import _chunked_events_dir

    chunk_dir = _chunked_events_dir(spark, sf_dir, 4)
    schema = spark.read.parquet(chunk_dir).schema
    ckpt = str(tmp_path / "ckpt")
    crash_flag = str(tmp_path / "crashed_once")

    def crashy(batch_df, batch_id):
        sink(batch_df, batch_id)
        if batch_id == 1 and not os.path.exists(crash_flag):
            open(crash_flag, "w").close()
            raise RuntimeError("injected crash after commit, before ack")

    def run():
        ev = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(chunk_dir)
        )
        run_available_now(ev, crashy, checkpoint=ckpt)

    with pytest.raises(StreamingQueryException):
        run()
    assert os.path.exists(crash_flag)
    run()
    return chunk_dir


def _committed_batch_ids(state: str) -> list[int]:
    from play_bq_gcp_spark.storage import txn_table as tt
    from play_bq_gcp_spark.streaming.txn_sink import BATCH_KEY

    return [s.meta[BATCH_KEY] for s in tt.history(state) if BATCH_KEY in s.meta]


def test_user_stats_sink_exactly_once_across_crash_replay(
    spark, sf_dir, tmp_path
):
    """The registry's foreachBatch user-stats sink under a crash
    between batch 1's commit and its ack: the replayed batch 1 is
    skipped, so the final totals equal the batch GROUP BY."""
    from play_bq_gcp_spark.storage import txn_table as tt

    state = str(tmp_path / "user_stats")
    chunk_dir = _crash_after_batch_1_then_restart(
        spark, sf_dir, tmp_path,
        lambda b, i: daily.merge_user_stats(state, b, i),
    )
    want = {
        r.user_id: (r.n, r.v)
        for r in spark.read.parquet(chunk_dir).groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n"), F.sum("value").alias("v")
        ).collect()
    }
    got = {
        r.user_id: (r.n_events, r.total_value)
        for r in tt.read(spark, state).collect()
    }
    assert got.keys() == want.keys()
    for u, (n, v) in want.items():
        assert got[u] == (n, pytest.approx(v, rel=1e-12, abs=1e-9)), u
    assert _committed_batch_ids(state) == [0, 1, 2, 3]  # batch 1 once


def test_cms_sink_exactly_once_across_crash_replay(spark, sf_dir, tmp_path):
    """The registry's streaming Count-Min sink under a crash between
    batch 1's commit and its ack: the final sketch equals the batch
    sketch cell for cell."""
    from play_bq_gcp_spark.operators.aggregates import cms_table
    from play_bq_gcp_spark.storage import txn_table as tt

    state = str(tmp_path / "cms")
    chunk_dir = _crash_after_batch_1_then_restart(
        spark, sf_dir, tmp_path,
        lambda b, i: daily.merge_cms_state(spark, state, b, i),
    )
    want = {
        (r.row, r.col): r.cnt
        for r in cms_table(
            spark.read.parquet(chunk_dir).select(
                F.col("user_id").cast("string").alias("tok")
            )
        ).collect()
    }
    got = {(r.row, r.col): r.cnt for r in tt.read(spark, state).collect()}
    assert got == want
    assert _committed_batch_ids(state) == [0, 1, 2, 3]  # batch 1 once


def test_funnel_fsm_every_transition_hand_corpus(spark, tmp_path):
    """Hand corpus driving EVERY arc of the funnel state machine
    (streaming/stateful.funnel_state_machine_tws, gap 100 s):
    conversion, view-refresh before the click run, click-refresh of
    the horizon, silent error reset, event-time abandonment proven by
    the NEXT event (purchase past the horizon converts nothing),
    timer/watermark abandonment with no further events, a user still
    inside the horizon at stream end (unemitted), and a click with no
    prior view (ignored)."""
    import datetime as dt

    from play_bq_gcp_spark.streaming.stateful import (
        funnel_state_machine_tws,
    )

    base = dt.datetime(2024, 1, 1)

    def t(s):
        return base + dt.timedelta(seconds=s)

    rows, eid = [], 0
    for user, seq in {
        1: [("view", 0), ("click", 10), ("purchase", 50)],
        2: [("view", 0), ("view", 5), ("click", 10), ("click", 60),
            ("purchase", 140)],
        3: [("view", 0), ("click", 10), ("error", 20), ("view", 30),
            ("click", 40)],
        4: [("view", 0), ("click", 10), ("purchase", 200)],
        5: [("click", 0), ("purchase", 10)],
        6: [("view", 250), ("click", 280)],
        7: [("view", 0), ("click", 5)],
    }.items():
        for typ, s in seq:
            eid += 1
            rows.append((eid, t(s), user, typ))
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string"
    )
    ev.write.parquet(str(tmp_path / "events.parquet"))

    out = funnel_state_machine_tws(
        spark, str(tmp_path), gap_s=100, n_chunks=2
    )
    got = {
        (r.user_id, r.kind, r.start_us, r.end_us, r.span_us)
        for r in out.collect()
    }

    def us(s):
        return int(t(s).timestamp() * 1_000_000)

    assert got == {
        # straight conversion
        (1, "converted", us(0), us(50), 50_000_000),
        # view refresh (start = LAST view) + click horizon refresh
        (2, "converted", us(5), us(140), 135_000_000),
        # error reset erased the first run; the restart abandons when
        # the watermark (max ts 280) passes 40+100
        (3, "abandoned", us(30), us(40), 10_000_000),
        # purchase PAST the horizon abandons and converts nothing
        (4, "abandoned", us(0), us(10), 10_000_000),
        # cross-chunk timer abandonment, no further user events
        (7, "abandoned", us(0), us(5), 5_000_000),
        # user 5 (click with no view) and user 6 (horizon 380 beyond
        # the final watermark 280) emit nothing
    }


def test_line_stream_drops_line_only_after_bar_trips(spark, tmp_path):
    """run_line_stream growing-index semantics, pinned on a hand-built
    corpus: the banner line's cumulative doc count is 2 after batch 0
    (seed 1 + batch0 1 — below the bar of 3, so batch 0 KEEPS it) and
    3 after batch 1 (bar trips, batch 1 drops it).  Earlier batches
    are not retroactively re-cleaned — their emitted rows still carry
    the banner, by design."""
    import hashlib
    import os

    from play_bq_gcp_spark.streaming.ingest import run_line_stream

    banner = "accept all cookies now"
    seed = spark.createDataFrame(
        [(1, banner + "\nseed body line")], "doc_id long, text string"
    )
    batches = [
        [(10, banner + "\nalpha beta"), (11, "gamma delta")],
        [(20, banner + "\nepsilon zeta")],
        [(30, banner + "\neta theta")],
    ]
    d = str(tmp_path / "batches")
    os.makedirs(d)
    for i, rows in enumerate(batches):
        f = os.path.join(d, f"b{i:02d}.parquet")
        spark.createDataFrame(rows, "doc_id long, text string").coalesce(
            1
        ).write.parquet(f + ".dir")
        part = next(
            x for x in os.listdir(f + ".dir") if x.endswith(".parquet")
        )
        os.rename(os.path.join(f + ".dir", part), f)
        os.utime(f, (1_700_000_000 + i, 1_700_000_000 + i))

    out = {
        r.doc_id: r
        for r in run_line_stream(spark, d, seed, min_doc_freq=3).collect()
    }

    def fp(s):
        return hashlib.md5(s.encode()).hexdigest()

    # batch 0: banner cumulative df = 2 < 3 -> kept
    assert (out[10].n_lines, out[10].n_kept) == (2, 2)
    assert out[10].cleaned_fp == fp(banner + "\nalpha beta")
    assert (out[11].n_lines, out[11].n_kept) == (1, 1)
    # batch 1: df reaches 3 -> banner dropped from THIS batch on
    assert (out[20].n_lines, out[20].n_kept) == (2, 1)
    assert out[20].cleaned_fp == fp("epsilon zeta")
    # batch 2: still dropped
    assert (out[30].n_lines, out[30].n_kept) == (2, 1)
    assert out[30].cleaned_fp == fp("eta theta")


def _land_line_batches(spark, tmp_path, batches):
    """Land hand-built (doc_id, text) batches as mtime-ordered
    single-file parquet chunks.  Delegates to the ONE copy of the
    rows-list landing idiom in tests/_landing (shared with
    tools/fuzz_stream, which imports it from here — r12 ADVICE:
    production tests must not depend on a dev tool's internals)."""
    from tests._landing import land_rows_batches

    return land_rows_batches(spark, str(tmp_path / "batches"), batches)


def test_line_stream_compaction_is_value_neutral(spark, tmp_path):
    """run_line_stream emits IDENTICAL verdicts whether the frequency
    index never compacts, compacts every batch, or compacts mid-stream
    — sum-of-sums neutrality attested across the transition batch
    (the bar trips in batch 1, right at the compact_every=2 boundary)."""
    banner = "accept all cookies now"
    seed = spark.createDataFrame(
        [(1, banner + "\nseed body line")], "doc_id long, text string"
    )
    batches = [
        [(10, banner + "\nalpha beta"), (11, "gamma delta")],
        [(20, banner + "\nepsilon zeta")],
        [(30, banner + "\neta theta")],
        [(40, banner + "\niota kappa"), (41, "alpha beta\ngamma delta")],
    ]
    d = _land_line_batches(spark, tmp_path, batches)

    from play_bq_gcp_spark.streaming.ingest import run_line_stream

    runs = {
        ce: sorted(
            map(
                tuple,
                run_line_stream(
                    spark, d, seed, min_doc_freq=3, compact_every=ce
                ).collect(),
            )
        )
        for ce in (None, 1, 2)
    }
    assert runs[None] == runs[1] == runs[2]
    # and the semantics are the intended ones, not three-way-equal junk:
    by_id = {r[0]: r for r in runs[None]}
    assert by_id[10][1:3] == (2, 2)  # batch 0: df=2 < 3, banner kept
    assert by_id[20][1:3] == (2, 1)  # batch 1: bar trips, banner dropped
    assert by_id[40][1:3] == (2, 1)  # still dropped after compaction


def test_freq_index_watermark_protocol(spark, tmp_path):
    """The compaction watermark protocol directly: absorbed partials
    are excluded by NAME (so a retried batch rewriting a stale partial
    cannot double count), a retried compaction is a no-op, and a torn
    compaction target (no _SUCCESS) is rebuilt from the still-live
    inputs."""
    import os
    import shutil

    from play_bq_gcp_spark.streaming.ingest import (
        _compact_freq,
        _freq_view,
        _freq_watermark,
    )

    freq = str(tmp_path / "freq")

    def write(name, rows):
        spark.createDataFrame(rows, "line_h string, c long").write.mode(
            "overwrite"
        ).parquet(os.path.join(freq, name))

    def total():
        return {
            r.line_h: r.total
            for r in _freq_view(spark, freq)
            .groupBy("line_h")
            .agg(F.sum("c").alias("total"))
            .collect()
        }

    write("compact_00000", [("a", 2), ("b", 1)])
    write("batch_00000", [("a", 1), ("c", 1)])
    write("batch_00001", [("b", 3)])
    assert total() == {"a": 3, "b": 4, "c": 1}

    _compact_freq(spark, freq, through=1)
    assert _freq_watermark(freq) == 2
    assert sorted(os.listdir(freq)) == ["compact_00002"]
    assert total() == {"a": 3, "b": 4, "c": 1}

    # a retried already-absorbed batch rewrites its partial; the
    # watermark reader must ignore it
    write("batch_00001", [("b", 3)])
    assert total() == {"a": 3, "b": 4, "c": 1}
    # a retried compaction is a completed-target no-op
    _compact_freq(spark, freq, through=1)
    assert total() == {"a": 3, "b": 4, "c": 1}

    # fresh partial past the watermark counts exactly once
    write("batch_00002", [("a", 5)])
    assert total() == {"a": 8, "b": 4, "c": 1}

    # torn target: compact_00003 exists without _SUCCESS -> rebuilt
    os.makedirs(os.path.join(freq, "compact_00003"))
    _compact_freq(spark, freq, through=2)
    assert os.path.exists(os.path.join(freq, "compact_00003", "_SUCCESS"))
    assert sorted(os.listdir(freq))[-1] == "compact_00003"
    assert total() == {"a": 8, "b": 4, "c": 1}
    shutil.rmtree(freq)


def test_land_single_file_batches_empty_batch_lands_schema_only(
    spark, tmp_path
):
    """A zero-row batch partition lands as a schema-only parquet file
    (Spark 4.1's coalesce(1) writes one even for empty data), so a
    sparse b_col fixture gets a deterministic empty micro-batch rather
    than an opaque StopIteration (r10 ADVICE; the named-ValueError
    guard in the helper covers engine versions that emit no file)."""
    import os

    from play_bq_gcp_spark.streaming.ingest import land_single_file_batches

    df = spark.createDataFrame(
        [(1, "x", 0), (2, "y", 2)], "doc_id long, text string, b int"
    )
    d = str(tmp_path / "land")
    os.makedirs(d)
    land_single_file_batches(df, 3, d)
    files = sorted(os.listdir(d))
    assert files == [f"batch_{i:02d}.parquet" for i in range(3)]
    counts = [
        spark.read.parquet(os.path.join(d, f)).count() for f in files
    ]
    assert counts == [1, 0, 1]
    assert spark.read.parquet(os.path.join(d, files[1])).columns == [
        "doc_id",
        "text",
    ]


def test_epoch_stream_append_only_positions(spark, tmp_path):
    """run_epoch_stream semantics on a hand-built corpus: positions
    are contiguous 1..n per (epoch, shard), batch-0 docs always rank
    before batch-1 docs in the same shard (append-only arrival order),
    within a batch the order is the md5 key, and the output is
    identical whether the offset index never compacts, compacts every
    batch, or compacts mid-stream."""
    import hashlib

    from play_bq_gcp_spark.streaming.ingest import run_epoch_stream

    batches = [
        [(i, f"doc {i}") for i in range(0, 8)],
        [(i, f"doc {i}") for i in range(100, 108)],
        [(i, f"doc {i}") for i in range(200, 208)],
    ]
    d = _land_line_batches(spark, tmp_path, batches)

    runs = {
        ce: sorted(
            map(
                tuple,
                run_epoch_stream(
                    spark, d, n_epochs=2, n_shards=4, compact_every=ce
                ).collect(),
            )
        )
        for ce in (None, 1, 2)
    }
    assert runs[None] == runs[1] == runs[2]

    rows = runs[None]
    by_es = {}
    for epoch, shard, pos, doc_id in rows:
        by_es.setdefault((epoch, shard), []).append((pos, doc_id))
    assert {e for e, _s in by_es} == {0, 1}
    for (epoch, shard), lst in by_es.items():
        lst.sort()
        # contiguous ranks from 1
        assert [p for p, _ in lst] == list(range(1, len(lst) + 1))
        # arrival order: batch index (doc_id // 100) never decreases
        batches_seq = [doc_id // 100 for _, doc_id in lst]
        assert batches_seq == sorted(batches_seq), (epoch, shard, lst)
        # within a batch: md5(epoch:id) order
        for b in set(batches_seq):
            ids = [doc for _, doc in lst if doc // 100 == b]
            keys = [
                hashlib.md5(f"{epoch}:{doc}".encode()).hexdigest()
                for doc in ids
            ]
            assert keys == sorted(keys), (epoch, shard, b, ids)
    # every doc appears once per epoch
    assert len(rows) == 2 * sum(len(b) for b in batches)


def test_tws_changelog_checkpointing_adopted(spark, sf_dir, tmp_path):
    """The tws harness ships RocksDB changelog checkpointing (the
    SCALING.md r10 recovery-probe decision rule: where RocksDB is
    mandatory, changelog checkpointing removes the ~2.2x per-commit
    SST zip+upload tax).  Pin that (a) the run actually produces
    .changelog files in the state checkpoint — the per-commit upload
    IS a changelog append — (b) results still match the batch GROUP BY
    truth, and (c) the session confs are restored afterwards."""
    import glob
    import os

    import pytest

    from play_bq_gcp_spark.streaming import stateful

    if not stateful.tws_available():
        pytest.skip("google.protobuf unusable in this container")

    key = (
        "spark.sql.streaming.stateStore.rocksdb."
        "changelogCheckpointing.enabled"
    )
    sentinel = spark.conf.get(key, None)
    ckpt = str(tmp_path / "tws_ckpt")
    out = stateful.running_user_stats_tws(spark, sf_dir, ckpt_dir=ckpt)
    got = {(r.user_id, r.n_events, r.total_value) for r in out.collect()}
    batch = (
        read_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
    )
    want = {(r.user_id, r.n_events, r.total_value) for r in batch.collect()}
    assert got == want

    changelogs = glob.glob(
        os.path.join(ckpt, "state", "**", "*.changelog"), recursive=True
    )
    assert changelogs, "no .changelog files: changelog checkpointing off"
    # restored: the harness must not leak the conf into the session
    assert spark.conf.get(key, None) == sentinel


def test_land_single_file_batches_no_part_file_raises_named_error(
    spark, tmp_path, monkeypatch
):
    """The defensive branch for engines that emit NO part file for an
    empty partition: the error must name the batch, not leak a bare
    StopIteration (r10 ADVICE).  Spark 4.1 always writes a schema-only
    file, so the branch is forced by hiding parquet files from the
    landing scan."""
    import os

    import pytest

    from play_bq_gcp_spark.streaming import ingest

    real_listdir = os.listdir

    def hide_parquet(path):
        names = real_listdir(path)
        if os.path.basename(path).startswith("land_tmp_"):
            return [n for n in names if not n.endswith(".parquet")]
        return names

    monkeypatch.setattr(ingest.os, "listdir", hide_parquet)
    df = spark.createDataFrame(
        [(1, "x", 0)], "doc_id long, text string, b int"
    )
    d = str(tmp_path / "land")
    os.makedirs(d)
    with pytest.raises(ValueError, match="batch 0 of 1"):
        ingest.land_single_file_batches(df, 1, d)


def test_line_stream_resumes_from_checkpoint(spark, tmp_path):
    """The production restart path: run the line stream over two
    batches, then land a third file and RE-INVOKE with the same
    work_dir — the Spark checkpoint skips the processed files, batch
    ids continue, and the new batch is screened against the index the
    first run built (the banner's cumulative count carried across the
    restart, so batch 2 drops it)."""
    import hashlib
    import os

    from play_bq_gcp_spark.streaming.ingest import run_line_stream

    banner = "accept all cookies now"
    seed = spark.createDataFrame(
        [(1, banner + "\nseed body line")], "doc_id long, text string"
    )
    batches = [
        [(10, banner + "\nalpha beta")],          # df(banner) -> 2, kept
        [(20, banner + "\nepsilon zeta")],        # df -> 3, dropped
    ]
    d = _land_line_batches(spark, tmp_path, batches)
    work = str(tmp_path / "work")

    first = sorted(
        map(
            tuple,
            run_line_stream(
                spark, d, seed, min_doc_freq=3, work_dir=work
            ).collect(),
        )
    )
    assert [r[0] for r in first] == [10, 20]

    # land batch 2 AFTER the first run completed, then resume
    _land_line_batches(
        spark, tmp_path, batches + [[(30, banner + "\neta theta")]]
    )
    resumed = sorted(
        map(
            tuple,
            run_line_stream(
                spark, d, seed, min_doc_freq=3, work_dir=work
            ).collect(),
        )
    )

    def fp(s):
        return hashlib.md5(s.encode()).hexdigest()

    by_id = {r[0]: r for r in resumed}
    # earlier batches' emitted rows are unchanged facts
    assert sorted(by_id) == [10, 20, 30]
    assert by_id[10][1:] == (2, 2, fp(banner + "\nalpha beta"))
    assert by_id[20][1:] == (2, 1, fp("epsilon zeta"))
    # the post-restart batch sees the PRE-restart cumulative count
    # (3 >= bar), so the banner stays dropped — state survived
    assert by_id[30][1:] == (2, 1, fp("eta theta"))
    # and only one output dir per batch exists (no double emission)
    assert sorted(os.listdir(os.path.join(work, "out"))) == [
        "batch_00000",
        "batch_00001",
        "batch_00002",
    ]


def test_epoch_stream_resumes_from_checkpoint(spark, tmp_path):
    """Epoch-stream parity with run_line_stream's restart path (r11
    verdict #2): run two batches, land a third, RE-INVOKE with the
    same work_dir — the checkpoint skips processed files, the counts
    index carries the per-(epoch, shard) offsets across the restart,
    and the resumed output is row-identical to a straight-through run
    over all three batches (positions never re-level)."""
    import os

    from play_bq_gcp_spark.streaming.ingest import run_epoch_stream

    batches = [
        [(i, f"doc {i}")] for i in (1, 2)
    ]
    d = _land_line_batches(spark, tmp_path, batches)
    work = str(tmp_path / "epoch_work")

    first = sorted(
        map(
            tuple,
            run_epoch_stream(
                spark, d, n_epochs=2, n_shards=2, work_dir=work
            ).collect(),
        )
    )
    assert {r[3] for r in first} == {1, 2}

    all_batches = batches + [[(3, "doc 3"), (4, "doc 4")]]
    _land_line_batches(spark, tmp_path, all_batches)
    resumed = sorted(
        map(
            tuple,
            run_epoch_stream(
                spark, d, n_epochs=2, n_shards=2, work_dir=work
            ).collect(),
        )
    )
    # pre-restart rows are unchanged facts
    assert [r for r in resumed if r[3] in (1, 2)] == first
    # straight-through run over the same three batches agrees exactly
    d2 = _land_line_batches(spark, tmp_path / "fresh", all_batches)
    straight = sorted(
        map(
            tuple,
            run_epoch_stream(
                spark,
                d2,
                n_epochs=2,
                n_shards=2,
                work_dir=str(tmp_path / "epoch_work2"),
            ).collect(),
        )
    )
    assert resumed == straight
    # one output dir per batch — no double emission across the restart
    assert sorted(os.listdir(os.path.join(work, "out"))) == [
        "batch_00000",
        "batch_00001",
        "batch_00002",
    ]


def test_line_stream_heals_torn_seed_window(spark, tmp_path):
    """A crash between work-dir creation and the seed compaction
    write must not wedge the stream: resume detection keys on a
    COMPLETED compaction (_SUCCESS), not on the out dir existing, so
    a re-invocation against the torn work dir writes the seed and
    proceeds (r11 ADVICE — the old isdir(out_dir) key made this state
    permanently fatal)."""
    import os

    from play_bq_gcp_spark.streaming.ingest import run_line_stream

    seed = spark.createDataFrame(
        [(1, "banner line\nseed body")], "doc_id long, text string"
    )
    d = _land_line_batches(spark, tmp_path, [[(10, "banner line\nalpha")]])
    work = str(tmp_path / "work")
    # simulate the torn window: out dir exists, freq dir has a torn
    # (no _SUCCESS) seed compaction
    os.makedirs(os.path.join(work, "out"))
    os.makedirs(os.path.join(work, "freq", "compact_00000"))
    out = run_line_stream(
        spark, d, seed, min_doc_freq=2, work_dir=work
    ).collect()
    assert [(r.doc_id, r.n_lines, r.n_kept) for r in out] == [(10, 2, 1)]


def test_freq_watermark_is_numeric_and_skips_torn(tmp_path):
    """Watermark selection parses the numeric suffix — lexicographic
    order inverts once ids outgrow the :05d pad ('compact_100000' <
    'compact_99999' as strings) — and ignores compactions without a
    _SUCCESS marker (their inputs are still live)."""
    import os

    import pytest

    from play_bq_gcp_spark.streaming.ingest import (
        _freq_watermark,
        _index_initialized,
    )

    freq = str(tmp_path / "freq")
    for name, done in [
        ("compact_99999", True),
        ("compact_100000", True),
        ("compact_100008", False),  # torn: no _SUCCESS
    ]:
        os.makedirs(os.path.join(freq, name))
        if done:
            open(os.path.join(freq, name, "_SUCCESS"), "w").close()
    assert _freq_watermark(freq) == 100000
    assert _index_initialized(freq)

    empty = str(tmp_path / "empty")
    os.makedirs(os.path.join(empty, "compact_00000"))  # torn seed
    assert not _index_initialized(empty)
    with pytest.raises(FileNotFoundError):
        _freq_watermark(empty)


def test_ingest_stream_resumes_from_checkpoint(spark, tmp_path):
    """run_ingest_stream restart parity (the r12 trio completion): two
    batches screened and accepted, then a third lands and the stream
    RE-INVOKES with the same work_dir — the checkpoint skips processed
    files and the new batch is screened against the index the first
    run GREW, so a re-crawl of a run-1-accepted doc comes back
    exact_dup across the restart."""
    import os

    from play_bq_gcp_spark.streaming.ingest import run_ingest_stream

    seed = spark.createDataFrame(
        [(100, "seed document about alpha topics")],
        "doc_id long, text string",
    )
    batches = [
        [(1, "fresh document one entirely new words")],
        [(2, "fresh document two different content here")],
    ]
    d = _land_line_batches(spark, tmp_path, batches)
    work = str(tmp_path / "ingest_work")

    first = {
        r.doc_id: r.verdict
        for r in run_ingest_stream(spark, d, seed, work_dir=work).collect()
    }
    assert first == {1: "new", 2: "new"}

    # batch 2 re-crawls batch 0's doc under a NEW id: only the grown
    # index (not the seed) can flag it
    _land_line_batches(
        spark, tmp_path,
        batches + [[(3, "fresh document one entirely new words")]],
    )
    resumed = {
        r.doc_id: r.verdict
        for r in run_ingest_stream(spark, d, seed, work_dir=work).collect()
    }
    assert resumed == {1: "new", 2: "new", 3: "exact_dup"}
    assert sorted(os.listdir(os.path.join(work, "verdicts"))) == [
        "batch_00000",
        "batch_00001",
        "batch_00002",
    ]
    # the duplicate was NOT added to the index
    assert sorted(
        n for n in os.listdir(os.path.join(work, "index"))
        if n.startswith("batch_")
    ) == ["batch_00000", "batch_00001", "batch_00002"]
    idx2 = spark.read.parquet(
        os.path.join(work, "index", "batch_00002")
    ).count()
    assert idx2 == 0


def test_ingest_stream_heals_torn_seed_window(spark, tmp_path):
    """A crash between work-dir creation and the seed index write must
    not wedge the ingest stream: resume keys on seed/_SUCCESS, and the
    overwrite-mode seed write rewrites a torn dir."""
    import os

    from play_bq_gcp_spark.streaming.ingest import run_ingest_stream

    seed = spark.createDataFrame(
        [(100, "seed document about alpha topics")],
        "doc_id long, text string",
    )
    d = _land_line_batches(
        spark, tmp_path,
        [[(1, "seed document about alpha topics")]],  # exact re-crawl
    )
    work = str(tmp_path / "work")
    os.makedirs(os.path.join(work, "verdicts"))
    os.makedirs(os.path.join(work, "index", "seed"))  # torn: no _SUCCESS
    out = {
        r.doc_id: r.verdict
        for r in run_ingest_stream(spark, d, seed, work_dir=work).collect()
    }
    # the healed seed is what screens the re-crawl
    assert out == {1: "exact_dup"}


def test_fuzz_stream_harness_smoke(spark):
    """One-seed smoke of the kill-and-retry fuzz harness
    (tools/fuzz_stream.py) so the campaign tool can't bit-rot: the
    line protocol under seed 200 (a seed whose plan injects a crash)
    must come back clean."""
    from tools.fuzz_stream import fuzz_line_stream

    assert fuzz_line_stream(spark, 200) is None


def test_freq_index_survives_pad_boundary(spark, tmp_path):
    """End-to-end pin for the :05d pad boundary (r11 ADVICE): with a
    completed compact_100000 (name wider than the pad) and a live
    batch_100000 partial, the reader must pick the NUMERIC max
    watermark and sum compact + the past-watermark partial; a further
    compaction through batch 100000 must fold it and GC the old
    compaction — not delete the new one (the lexicographic-compare
    failure: 'compact_100000' < 'compact_99999' as strings)."""
    import os

    from pyspark.sql import functions as F

    from play_bq_gcp_spark.streaming.ingest import (
        _compact_freq,
        _freq_view,
        _freq_watermark,
    )

    freq = str(tmp_path / "freq")

    def write(name, rows):
        spark.createDataFrame(rows, "line_h string, c long").coalesce(
            1
        ).write.parquet(os.path.join(freq, name))

    # a stale narrow-pad compaction, the wide live one, and a partial
    # past the wide watermark
    write("compact_99999", [("stale", 999)])
    write("compact_100000", [("a", 10), ("b", 1)])
    write("batch_100000", [("a", 5), ("c", 2)])

    assert _freq_watermark(freq) == 100000
    got = {
        r.line_h: r.c
        for r in _freq_view(spark, freq)
        .groupBy("line_h")
        .agg(F.sum("c").alias("c"))
        .collect()
    }
    assert got == {"a": 15, "b": 1, "c": 2}, got  # no 'stale' leak

    _compact_freq(spark, freq, through=100000)
    names = sorted(os.listdir(freq))
    assert "compact_100001" in names
    assert "compact_99999" not in names and "batch_100000" not in names
    got2 = {
        r.line_h: r.c
        for r in _freq_view(spark, freq)
        .groupBy("line_h")
        .agg(F.sum("c").alias("c"))
        .collect()
    }
    assert got2 == got


def test_snapshot_freq_index_resolution_rules(spark, tmp_path):
    """Deterministic pin for the external-reader snapshot protocol
    (streaming/ingest.snapshot_freq_index, r12 verdict #6 — the
    randomized concurrent campaign lives in tools/fuzz_stream.py):
    newest COMPLETED compaction wins; torn compactions (no _SUCCESS)
    with absurd counts are never trusted; partials below the
    watermark are excluded (no double count with the compaction that
    absorbed them); partials without _SUCCESS (mid-write) are
    invisible; and the result equals the writer-side _freq_view sum."""
    import os
    import shutil

    from play_bq_gcp_spark.streaming import ingest as ing

    freq = str(tmp_path / "freq")

    def land(name, rows):
        spark.createDataFrame(rows, ing._FREQ_SCHEMA).coalesce(
            1
        ).write.parquet(os.path.join(freq, name))

    land("compact_00000", [("a", 5), ("b", 1)])       # seed
    land("batch_00000", [("a", 2), ("c", 1)])          # absorbed below
    land("compact_00001", [("a", 7), ("b", 1), ("c", 1)])  # newest
    land("batch_00001", [("b", 3)])                    # live partial
    land("batch_00002", [("c", 9)])                    # mid-write
    os.remove(os.path.join(freq, "batch_00002", "_SUCCESS"))
    land("compact_00009", [("a", 10**9)])              # torn + absurd
    os.remove(os.path.join(freq, "compact_00009", "_SUCCESS"))

    snap = ing.snapshot_freq_index(freq)
    assert snap == {("a",): 7, ("b",): 4, ("c",): 1}

    # writer-side view agrees on the completed state (it reads the
    # same compaction + live partials; it may also see batch_00002's
    # files mid-write, which is why it is writer-only)
    shutil.rmtree(os.path.join(freq, "batch_00002"))
    view = {
        (r.line_h,): r.c
        for r in ing._freq_view(spark, freq)
        .groupBy("line_h")
        .agg(F.sum("c").alias("c"))
        .collect()
    }
    assert view == snap

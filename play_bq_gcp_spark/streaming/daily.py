"""Structured Streaming restatement of the reference's scheduled batch
(SURVEY.md §2.8).

The reference approximates a stream with a daily cron re-running a
snapshot-diff pipeline; state lives in BigQuery tables
(/root/reference/deploy.sh:8-12, main.py:176,274-284).  Idiomatic Spark:
``readStream`` + event-time watermarks + windowed/session aggregation +
stateful dedup, with ``Trigger.AvailableNow`` reproducing the
batch-cadence semantics (process everything available, then stop) and
``foreachBatch`` performing the reference's append+merge against the
warehouse exactly once per micro-batch.

Scale notes: watermarks bound state (without one, windowed state grows
forever); ``dropDuplicatesWithinWatermark`` keeps only in-horizon keys.
The memory sink below is for tests/oracle parity only — production
sinks are parquet/Kafka via ``foreachBatch``.
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame, SparkSession, functions as F

from play_bq_gcp_spark.catalog import (
    ensure_nanos_conf,
    normalize_nanos_ts,
    read_table,
    table_path,
)
from play_bq_gcp_spark.scratch import scratch_dir
from play_bq_gcp_spark.storage import txn_table as tt
from play_bq_gcp_spark.streaming.available_now import (
    STATE_CONF,
    run_available_now,
)
from play_bq_gcp_spark.streaming.txn_sink import exactly_once_merge


_STREAM_DIRS: dict[str, str] = {}


def _as_stream_dir(sf_dir: str) -> str:
    """The file-stream source wants a flat directory of data files; the
    fixture may be a single parquet file OR a directory of part files
    (every real table at scale is the latter).  Symlink the file — or
    each part file — into a temp dir (cached).  Without the directory
    branch the source listed the symlinked subdirectory, found no
    files, and silently streamed zero rows (caught by the r5 scaling
    probe on directory-shaped fixtures)."""
    import os

    if sf_dir not in _STREAM_DIRS:
        d = scratch_dir("events_stream_")
        src = table_path(sf_dir, "events")
        if os.path.isdir(src):
            for f in sorted(os.listdir(src)):
                if f.endswith(".parquet"):
                    os.symlink(os.path.join(src, f), os.path.join(d, f))
        else:
            os.symlink(src, os.path.join(d, "events.parquet"))
        _STREAM_DIRS[sf_dir] = d
    return _STREAM_DIRS[sf_dir]


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events fixture.  Streams require a
    declared schema; ts is stored as parquet TIMESTAMP(NANOS) — decoded
    as long or TIMESTAMP_NTZ depending on the Spark build, normalized
    to plain TimestampType either way, as in catalog.read_table."""
    ensure_nanos_conf(spark)
    schema = spark.read.parquet(table_path(sf_dir, "events")).schema
    raw = spark.readStream.schema(schema).parquet(_as_stream_dir(sf_dir))
    return normalize_nanos_ts(raw, ("ts",))


def windowed_deduped_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two chained stateful operators in one streaming query: the
    stream doubled via self-union → ``dropDuplicatesWithinWatermark``
    on event_id restores exactly-once → tumbling 1-hour event-time
    windows per event_type (complete mode).  The oracle is the plain
    hourly aggregate of the (unique-keyed) batch table — dedup must
    collapse the doubled stream exactly for the hash to match."""
    a = read_events_stream(spark, sf_dir)
    b = read_events_stream(spark, sf_dir)
    doubled = a.unionByName(b)
    deduped = doubled.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    agg = deduped.groupBy(F.window("ts", "1 hour").alias("w"), "event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value"), 4).alias("total_value"),
    )
    # complete mode: the last DATA batch already emits the final
    # result; the closing no-data batch only evicts state (~1.4 s of
    # commit overhead here) — skip it
    out = run_available_now(
        agg, "complete", STATE_CONF, no_data_batches=False
    )
    return out.select(
        F.col("w.start").alias("window_start"), "event_type", "n", "total_value"
    )


def purchase_click_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream INNER join (§2.8): every purchase
    joined to the same user's clicks in the preceding 30 minutes.

    Both sides carry event-time watermarks and the join condition
    bounds c_ts to [p_ts - 30 min, p_ts], so Spark can prove when a
    buffered row can never match again and evict it — the state-bounded
    form of stream-stream join (an unbounded-condition join would grow
    state forever at 100 TB/day).  Append mode: matches emit exactly
    once.  The batch twin is the identical join of the two filtered
    frames, asserted in tests/test_streaming.py."""
    purchases = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    clicks = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "1 hour")
    )
    joined = purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 30 MINUTES")),
        "inner",
    ).select("purchase_id", "click_id", "p_user", "p_ts", "c_ts")
    return run_available_now(joined, "append", STATE_CONF).orderBy(
        "purchase_id", "click_id"
    )


def purchase_click_left_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream LEFT OUTER interval join (§2.8): every
    purchase joined to same-user clicks in the preceding 30 minutes —
    and purchases with NO such click still emit, null-completed, once
    the watermark proves no future click can match (the outer-join
    state eviction the inner form never exercises).

    The no-data closing batch of ``AvailableNow`` advances the final
    watermark to (min of both sides' max event time) − 1 h, so
    unmatched purchases at or before that horizon emit with null
    click_id; later unmatched purchases stay buffered, exactly the
    rows a restart would resume.  The oracle restates this: batch left
    join, keeping matched rows always and unmatched rows only inside
    the final-watermark horizon."""
    purchases = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    clicks = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "1 hour")
    )
    joined = purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 30 MINUTES")),
        "left_outer",
    ).select("purchase_id", "click_id", "p_user", "p_ts", "c_ts")
    return run_available_now(joined, "append", STATE_CONF).orderBy(
        "purchase_id", "click_id"
    )


def purchase_click_full_outer_join(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Watermarked stream-stream FULL OUTER interval join (§2.8 —
    completes the outer family: inner and left-outer are registered
    separately): matched purchase/click pairs emit as they join;
    purchases with no same-user click in the prior 30 min emit
    null-completed once the watermark passes the purchase time; clicks
    that never preceded a purchase emit null-completed once the
    watermark passes click time + 30 min (the last instant a future
    purchase could still match them).  Both sides' state evicts on
    those same horizons — the bounded-state shape that keeps a
    100 TB/day full-outer join runnable.

    The AvailableNow closing no-data batch advances the final
    watermark to (min of both sides' max event time, ms-truncated)
    − 1 h; the oracle restates the batch FULL JOIN plus exactly that
    emission rule for each null-completed side."""
    purchases = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    clicks = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "1 hour")
    )
    joined = purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 30 MINUTES")),
        "full_outer",
    ).select(
        "purchase_id", "click_id", "p_user", "c_user", "p_ts", "c_ts"
    )
    return run_available_now(joined, "append", STATE_CONF).orderBy(
        "purchase_id", "click_id"
    )


def purchase_click_right_outer_join(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Watermarked stream-stream RIGHT OUTER interval join — the mirror
    of the left-outer form: every click emits, null-completed when the
    watermark passes click time + 30 min with no same-user purchase
    having matched (the right side's state horizon); matched pairs emit
    as they join.  Together with the inner, left-outer, and full-outer
    entries this closes the §2.8 stream-join family."""
    purchases = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    clicks = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "1 hour")
    )
    joined = purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 30 MINUTES")),
        "right_outer",
    ).select(
        "purchase_id", "click_id", "c_user", "p_ts", "c_ts"
    )
    return run_available_now(joined, "append", STATE_CONF).orderBy(
        "click_id", "purchase_id"
    )


def purchase_click_left_semi_join(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Watermarked stream-stream LEFT SEMI interval join — the
    existence test of the family: a purchase emits exactly once, with
    only its own columns, the moment ANY same-user click in the prior
    30 minutes matches; it never re-emits on further matches and
    unmatched purchases never emit at all.  Semi-join state is strictly
    smaller than inner-join state (a matched left row is dropped
    immediately instead of buffering for more matches), which is the
    100 TB reason to prefer it when the downstream only needs
    membership.  With inner / left / right / full outer this completes
    every stream-stream join type Spark supports."""
    purchases = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    clicks = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "1 hour")
    )
    joined = purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 30 MINUTES")),
        "left_semi",
    )
    return run_available_now(joined, "append", STATE_CONF).orderBy("purchase_id")


def session_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time session windows (30-min gap) per user — the streaming
    twin of operators.windows.sessionize."""
    ev = read_events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "30 minutes").alias("sw"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_in_session"))
    )
    out = run_available_now(agg, "complete", STATE_CONF)
    return (
        out.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_sessions"),
            F.sum("n_in_session").alias("n_events"),
        )
        .orderBy("user_id")
    )


def merge_user_stats(state_path: str, batch_df: DataFrame, epoch_id: int) -> None:
    """Add one micro-batch of events into the per-user totals table:
    one ``(user_id, 1, value)`` row per event, summed by the
    exactly-once sink into ``n_events`` and ``total_value``."""
    batch = batch_df.select(
        "user_id",
        F.lit(1).cast("long").alias("n_events"),
        F.col("value").alias("total_value"),
    )
    exactly_once_merge(state_path, ["user_id"], ["n_events", "total_value"])(
        batch, epoch_id
    )


def foreach_batch_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's append+merge restated under ``foreachBatch``:
    each micro-batch's per-user counts and value sums are added into a
    transactional state table (``merge_user_stats``) — the streaming
    twin of the daily pipeline's upsert (main.py:256-287), exactly
    once per batch id."""
    import os

    state_path = os.path.join(scratch_dir("user_stats_"), "user_stats")
    ev = read_events_stream(spark, sf_dir)
    run_available_now(ev, partial(merge_user_stats, state_path))
    return (
        tt.read(spark, state_path)
        .withColumn("total_value", F.round("total_value", 4))
        .orderBy("user_id")
    )


def merge_cms_state(
    spark: SparkSession, state_path: str, batch_df: DataFrame, epoch_id: int
) -> None:
    """Fold one micro-batch's d×w CMS into the sketch state table: the
    exactly-once sink adds its counters on ``(row, col)`` and skips a
    re-delivered epoch (foreachBatch is at-least-once after a crash,
    and the additive merge alone would double-count it)."""
    from play_bq_gcp_spark.operators.aggregates import cms_table

    sketch = cms_table(
        batch_df.select(F.col("user_id").cast("string").alias("tok"))
    )
    exactly_once_merge(state_path, ["row", "col"], ["cnt"])(sketch, epoch_id)


def countmin_stream_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch maintained across micro-batches: each batch
    builds its own d×w counter table (bounded partial agg) and
    ``merge_cms_state`` adds it into a transactional sketch table by
    summing counters on (row, col) — the linear-sketch property
    exercised end-to-end under streaming.

    Because the merge is exact addition, the final streamed sketch is
    IDENTICAL to the batch-built sketch, so the entry's audit (top-20
    user_ids, exact vs estimate) equals the batch CMS and the oracle is
    the plain batch replay — streaming-vs-batch equivalence is the
    assertion, not an approximation.  State is always ≤ d·w rows, no
    matter how many batches or how large each one is.  The source is
    the 4-chunk file stream with ``maxFilesPerTrigger=1`` (the
    stateful-suite harness), so 4 genuine merges happen — a
    single-batch run would leave the merge branch untested.

    ``foreachBatch`` is AT-LEAST-once: after a crash the restarted
    query re-delivers the last unacknowledged epoch, and a plain
    re-merge would double-count it (the sketch merge is additive, not
    idempotent).  The sink (streaming/txn_sink.py) commits each epoch's
    counters and its id in one manifest and skips an id it has already
    committed."""
    import os

    from play_bq_gcp_spark.operators.aggregates import cms_probe
    from play_bq_gcp_spark.streaming.stateful import _chunked_events_dir

    state_path = os.path.join(scratch_dir("cms_state_"), "cms")
    chunk_dir = _chunked_events_dir(spark, sf_dir, 4)
    schema = spark.read.parquet(chunk_dir).schema
    ev = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(chunk_dir)
    )
    run_available_now(ev, partial(merge_cms_state, spark, state_path))

    sketch = tt.read(spark, state_path)
    toks = read_table(spark, sf_dir, "events").select(
        F.col("user_id").cast("string").alias("tok")
    )
    return cms_probe(sketch, toks)


def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment: the events stream joined against a
    STATIC per-user dimension (lifetime purchase value → spend tier) —
    the standard Structured Streaming pattern for dimension lookups.
    The static side is read once per micro-batch plan and broadcast
    (small dimension), so the stream side never shuffles; stateless
    inner join in append mode means the complete streamed result
    equals the batch join, which IS the oracle."""
    from pyspark.sql import functions as F

    ev_static = spark.read.parquet(table_path(sf_dir, "events"))
    dim = (
        ev_static.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.sum("value").alias("total_spend"))
        .select(
            "user_id",
            F.when(F.col("total_spend") >= 100, "high")
            .when(F.col("total_spend") >= 10, "mid")
            .otherwise("low")
            .alias("tier"),
        )
    )
    stream = read_events_stream(spark, sf_dir).filter(
        F.col("event_type") == "click"
    )
    joined = stream.join(F.broadcast(dim), "user_id").select(
        "event_id", "user_id", "tier"
    )
    return run_available_now(joined, "append", STATE_CONF).orderBy("event_id")

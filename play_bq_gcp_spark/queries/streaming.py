"""Structured Streaming entries (SURVEY.md §2.8): each runs a real streaming
query to completion (Trigger.AvailableNow) and returns the materialized
result — thin wrappers over streaming/daily.py and streaming/stateful.py.

Split from the original single-file registry (round 7); behavior and
registration order are unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from play_bq_gcp_spark.queries._registry import QUERIES, ORACLES, QueryFn, register, _t

# ---------------------------------------------------------------------------
# Structured Streaming (§2.8) — each runs a real streaming query to
# completion (Trigger.AvailableNow) and returns the materialized result,
# so the DuckDB oracle checks true end-to-end streaming semantics.
# ---------------------------------------------------------------------------

@register(
    "streaming_window_dedup_counts",
    """
    SELECT date_trunc('hour', ts)::TIMESTAMP AS window_start, event_type,
           count(*) AS n, round(sum(value), 4) AS total_value
    FROM events
    GROUP BY 1, 2
    ORDER BY window_start, event_type
    """,
)
def streaming_window_dedup_counts(spark: SparkSession, sf: str) -> DataFrame:
    """§2.8 watermarked tumbling windows AND stateful streaming dedup,
    chained in ONE streaming query: the stream doubled via self-union →
    dropDuplicatesWithinWatermark(event_id) restores exactly-once →
    1-hour event-time windows per type.  The oracle aggregates the
    plain batch table, so the dedup must collapse the doubled stream
    exactly for the hash to match."""
    from play_bq_gcp_spark.streaming.daily import windowed_deduped_counts

    return windowed_deduped_counts(spark, sf).orderBy("window_start", "event_type")


@register(
    "streaming_session_windows",
    """
    WITH b AS (
        SELECT user_id, ts,
               CASE WHEN epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts)) > 1800
                         OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                    THEN 1 ELSE 0 END AS boundary
        FROM events
    )
    SELECT user_id,
           cast(sum(boundary) AS BIGINT) AS n_sessions,
           count(*)                      AS n_events
    FROM b GROUP BY user_id ORDER BY user_id
    """,
)
def streaming_session_windows(spark: SparkSession, sf: str) -> DataFrame:
    """F.session_window streaming sessions == the batch lag/cumsum
    sessionization (same 30-min gap semantics; a gap of EXACTLY the
    threshold merges — session_window's merge step treats touching
    sessions as one, measured on 4.1.2 — so the oracle boundary is
    strict >; fuzz seed 107 planted the exact-1800 s gap that split
    the old >= rule)."""
    from play_bq_gcp_spark.streaming.daily import session_window_counts

    return session_window_counts(spark, sf)


@register(
    "streaming_foreach_batch_merge",
    """
    SELECT user_id, count(*) AS n_events, round(sum(value), 4) AS total_value
    FROM events
    GROUP BY user_id
    ORDER BY user_id
    """,
)
def streaming_foreach_batch_merge(spark: SparkSession, sf: str) -> DataFrame:
    """foreachBatch append+merge into a transactional state table,
    exactly once per batch id (streaming/txn_sink.py) — the streaming
    restatement of the reference's daily upsert."""
    from play_bq_gcp_spark.streaming.daily import foreach_batch_user_stats

    return foreach_batch_user_stats(spark, sf)


@register(
    "streaming_stateful_user_stats",
    """
    SELECT user_id, count(*) AS n_events, round(sum(value), 4) AS total_value
    FROM events
    GROUP BY user_id
    ORDER BY user_id
    """,
)
def streaming_stateful_user_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Custom stateful operator: applyInPandasWithState running totals
    across 4 genuine micro-batches (maxFilesPerTrigger=1); the final
    state must equal the batch GROUP BY."""
    from play_bq_gcp_spark.streaming.stateful import running_user_stats

    return running_user_stats(spark, sf)


@register(
    "streaming_stateful_tws",
    """
    SELECT user_id, count(*) AS n_events, round(sum(value), 4) AS total_value
    FROM events
    GROUP BY user_id
    ORDER BY user_id
    """,
)
def streaming_stateful_tws(spark: SparkSession, sf: str) -> DataFrame:
    """The SAME running per-user totals on Spark 4's newer
    arbitrary-state API (transformWithStateInPandas + typed ValueState
    + RocksDB store), across 4 genuine micro-batches; protobuf runtime
    stood up by streaming/_protobuf_compat.  Raises (never silently
    degrades) where no usable protobuf exists."""
    from play_bq_gcp_spark.streaming.stateful import running_user_stats_tws

    return running_user_stats_tws(spark, sf)


@register(
    "streaming_interval_join",
    """
    WITH p AS (
        SELECT event_id AS purchase_id, user_id AS p_user, ts AS p_ts
        FROM events WHERE event_type = 'purchase'
    ),
    c AS (
        SELECT event_id AS click_id, user_id AS c_user, ts AS c_ts
        FROM events WHERE event_type = 'click'
    )
    SELECT purchase_id, click_id, p_user, p_ts, c_ts
    FROM p JOIN c ON p_user = c_user
                 AND c_ts <= p_ts
                 AND c_ts >= p_ts - INTERVAL 30 MINUTE
    ORDER BY purchase_id, click_id
    """,
)
def streaming_interval_join(spark: SparkSession, sf: str) -> DataFrame:
    """§2.8 watermarked stream-stream interval join: purchases joined
    to the same user's clicks in the preceding 30 minutes, both sides
    watermarked so buffered state is provably evictable.  Inner-join
    matches emit immediately in append mode, so the complete result
    equals the batch interval join — which IS the oracle."""
    from play_bq_gcp_spark.streaming.daily import purchase_click_interval_join

    return purchase_click_interval_join(spark, sf)

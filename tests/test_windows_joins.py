from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from play_bq_gcp_spark.operators import joins_advanced, windows


def test_lag_delta(spark):
    df = spark.createDataFrame(
        [("u", 1, 10.0), ("u", 2, 15.0), ("u", 3, 12.0), ("v", 1, 5.0)],
        "user string, seq int, value double",
    )
    out = {(r.user, r.seq): r.delta for r in windows.lag_delta(
        df, "user", ["seq"], "value").collect()}
    assert out[("u", 1)] is None
    assert out[("u", 2)] == 5.0
    assert out[("u", 3)] == -3.0
    assert out[("v", 1)] is None


def test_sessionize_gap(spark):
    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        ("u", t0),
        ("u", t0 + dt.timedelta(minutes=10)),   # same session
        ("u", t0 + dt.timedelta(minutes=50)),   # gap 40min > 30 → new session
        ("u", t0 + dt.timedelta(minutes=55)),   # same
    ]
    df = spark.createDataFrame(rows, "user string, ts timestamp")
    out = windows.sessionize(df, "user", "ts", gap_minutes=30).collect()
    sessions = sorted((r.ts, r.session_id) for r in out)
    assert [s for _, s in sessions] == [1, 1, 2, 2]


def test_asof_join_backward(spark):
    quotes = spark.createDataFrame(
        [("A", dt.datetime(2024, 1, 1, 10, 0), 100.0),
         ("A", dt.datetime(2024, 1, 1, 11, 0), 101.0),
         ("B", dt.datetime(2024, 1, 1, 10, 30), 50.0)],
        "sym string, qts timestamp, px double",
    )
    trades = spark.createDataFrame(
        [("A", dt.datetime(2024, 1, 1, 10, 30), 1),
         ("A", dt.datetime(2024, 1, 1, 11, 0), 2),   # equal ts → inclusive
         ("A", dt.datetime(2024, 1, 1, 9, 0), 3),    # before any quote → NULL
         ("B", dt.datetime(2024, 1, 1, 12, 0), 4)],
        "sym string, ts timestamp, trade_id int",
    )
    out = {r.trade_id: r.px for r in joins_advanced.asof_join(
        trades, quotes, "sym", "ts", "qts", ["px"]).collect()}
    assert out == {1: 100.0, 2: 101.0, 3: None, 4: 50.0}


def test_asof_join_pandas_matches_composition(spark):
    quotes = spark.createDataFrame(
        [("A", dt.datetime(2024, 1, 1, 10, 0), 100.0),
         ("A", dt.datetime(2024, 1, 1, 11, 0), 101.0)],
        "sym string, qts timestamp, px double",
    )
    trades = spark.createDataFrame(
        [("A", dt.datetime(2024, 1, 1, 10, 30), 1),
         ("A", dt.datetime(2024, 1, 1, 9, 0), 2)],
        "sym string, ts timestamp, trade_id int",
    )
    comp = {r.trade_id: r.px for r in joins_advanced.asof_join(
        trades, quotes, "sym", "ts", "qts", ["px"]).collect()}
    pdx = {r.trade_id: (None if r.px is None or r.px != r.px else r.px)
           for r in joins_advanced.asof_join_pandas(
               trades, quotes, "sym", "ts", "qts", ["px"]).collect()}
    assert comp == pdx


def test_range_join_bands(spark):
    facts = spark.createDataFrame([(1, 50.0), (2, 150.0), (3, 250.0)], "id int, v double")
    bands = spark.createDataFrame(
        [("lo", 0.0, 100.0), ("hi", 100.0, 300.0)], "band string, lo double, hi double"
    )
    out = {r.id: r.band for r in joins_advanced.range_join_bands(facts, bands, "v").collect()}
    assert out == {1: "lo", 2: "hi", 3: "hi"}


def test_funnel_min_of_firsts_requires_order(spark):
    """A click BEFORE the first view must not count; the earliest
    qualifying click after the view does."""
    from play_bq_gcp_spark.operators.behavior import funnel

    rows = [
        # user 1: full ordered funnel
        (1, "2024-01-01 10:00:00", "view"),
        (1, "2024-01-01 11:00:00", "click"),
        (1, "2024-01-01 12:00:00", "purchase"),
        # user 2: click precedes view, never re-clicks -> stops at view
        (2, "2024-01-01 09:00:00", "click"),
        (2, "2024-01-01 10:00:00", "view"),
        # user 3: purchase before click -> reaches click only
        (3, "2024-01-01 08:00:00", "view"),
        (3, "2024-01-01 08:30:00", "purchase"),
        (3, "2024-01-01 09:00:00", "click"),
        # user 4: never views
        (4, "2024-01-01 07:00:00", "purchase"),
    ]
    ev = spark.createDataFrame(
        [(u, t, ty) for u, t, ty in rows],
        "user_id long, ts_s string, event_type string",
    ).select("user_id", F.to_timestamp("ts_s").alias("ts"), "event_type")
    out = funnel(ev, ["view", "click", "purchase"]).collect()[0]
    assert out.n_step1 == 3  # users 1,2,3
    assert out.n_step2 == 2  # users 1,3
    assert out.n_step3 == 1  # user 1
    assert out.lag_micros_1_2 == (3600 + 3600) * 1_000_000
    assert out.conv_2_3 == 0.5


def test_cohort_retention_offsets_and_fractions(spark):
    from play_bq_gcp_spark.operators.behavior import cohort_retention

    rows = [
        # two users first seen in ISO week of 2024-01-01 (Monday)
        (1, "2024-01-02 10:00:00"),
        (2, "2024-01-03 10:00:00"),
        # user 1 returns the following week
        (1, "2024-01-09 10:00:00"),
    ]
    ev = spark.createDataFrame(
        rows, "user_id long, ts_s string"
    ).select("user_id", F.to_timestamp("ts_s").alias("ts"))
    out = {
        (str(r.cohort_week), r.week_offset): r
        for r in cohort_retention(ev).collect()
    }
    w0 = out[("2024-01-01", 0)]
    w1 = out[("2024-01-01", 1)]
    assert w0.active_users == 2 and w0.retained_frac == 1.0
    assert w1.active_users == 1 and w1.retained_frac == 0.5


def test_resample_gapfill_zero_fill_locf_running(spark):
    from play_bq_gcp_spark.operators.behavior import resample_daily_gapfill

    rows = [
        (1, "2024-01-01 05:00:00", 1.0),
        (1, "2024-01-03 05:00:00", 2.5),
        (2, "2024-01-02 05:00:00", 4.0),
    ]
    ev = spark.createDataFrame(
        rows, "user_id long, ts_s string, value double"
    ).select("user_id", F.to_timestamp("ts_s").alias("ts"), "value")
    out = {
        (r.user_id, str(r.day)): r
        for r in resample_daily_gapfill(ev).collect()
    }
    # spine covers the global span for every user: 3 days x 2 users
    assert len(out) == 6
    # user 1, day 2 is a gap: zero-filled but LOCF carries day 1
    gap = out[(1, "2024-01-02")]
    assert gap.day_cents_filled == 0
    assert gap.locf_cents == 100
    assert gap.running_cents == 100
    assert out[(1, "2024-01-03")].running_cents == 350
    # user 2 day 1 precedes any observation: locf defaults to 0
    assert out[(2, "2024-01-01")].locf_cents == 0


def test_temporal_join_picks_version_at_fact_time(spark):
    from play_bq_gcp_spark.operators.joins_advanced import temporal_join

    versions = spark.createDataFrame(
        [
            (1, 10, 20, "v1"),
            (1, 20, None, "v2"),  # open current version
            (2, 50, 60, "only"),  # closed; facts outside drop
        ],
        "user_id long, effective_ts long, end_ts long, tag string",
    )
    facts = spark.createDataFrame(
        [(100, 1, 15), (101, 1, 20), (102, 1, 99), (103, 2, 60), (104, 2, 5)],
        "event_id long, user_id long, fact_ts long",
    )
    out = {
        r.event_id: r.tag
        for r in temporal_join(facts, versions, "user_id", "fact_ts").collect()
    }
    # 15 in [10,20) -> v1; 20 hits the boundary -> v2; 99 -> open v2
    assert out == {100: "v1", 101: "v2", 102: "v2"}
    # fact at end_ts of a closed version (103) and before any version
    # (104) match nothing


def test_temporal_join_zero_width_version_never_matches(spark):
    from play_bq_gcp_spark.operators.joins_advanced import temporal_join

    versions = spark.createDataFrame(
        [(1, 10, 10, "ghost"), (1, 10, None, "real")],
        "user_id long, effective_ts long, end_ts long, tag string",
    )
    facts = spark.createDataFrame(
        [(1, 1, 10)], "event_id long, user_id long, fact_ts long"
    )
    rows = temporal_join(facts, versions, "user_id", "fact_ts").collect()
    assert [r.tag for r in rows] == ["real"]


def test_runtime_bloom_filter_prunes_fact_scan(spark, sf_dir):
    """At 100 TB the fact side of a selective dim join cannot broadcast
    — Spark plans a shuffle join and injects a runtime Bloom filter
    built from the filtered dim keys, pruning the fact scan before the
    shuffle.  Broadcast is the right plan at fixture scale, so this
    pins the at-scale path explicitly with the thresholds a large
    cluster would clear naturally (broadcast off => shuffle join =>
    bloom semi-join reduction injected)."""
    from pyspark.sql import functions as F

    from play_bq_gcp_spark.catalog import read_table

    conf = spark.conf
    saved = {
        k: conf.get(k)
        for k in (
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
            "100MB",
        )
        conf.set(
            "spark.sql.optimizer.runtime.bloomFilter."
            "applicationSideScanSizeThreshold",
            "1KB",
        )
        # a 100 TB fact's dim side exceeds broadcast too — the rule
        # only injects when the join is shuffle-based
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        orders = read_table(spark, sf_dir, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        lineitem = read_table(spark, sf_dir, "lineitem")
        j = (
            lineitem.join(
                orders, lineitem.l_orderkey == orders.o_orderkey
            )
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan, "runtime bloom filter not injected"
        assert "bloom_filter_agg" in plan
        # correctness unaffected by the pruning filter
        expect = (
            lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        )
        assert j.collect() == expect
    finally:
        for k, v in saved.items():
            conf.set(k, v)


def test_attribution_first_last_hand_computed(spark):
    from datetime import datetime

    from play_bq_gcp_spark.operators.behavior import attribution

    def e(i, day, typ, user=1, value=0.0):
        return (i, datetime(2024, 1, day, 12, 0, 0), user, typ, value, "{}")

    rows = [
        e(1, 1, "view"),
        e(2, 2, "click"),
        e(3, 3, "purchase", value=10.0),   # first=view, last=click
        e(4, 20, "purchase", value=5.0),   # touches >7d old -> none
        e(5, 21, "view"),
        e(6, 22, "purchase", value=2.5),   # first=last=view
        e(7, 5, "purchase", user=2, value=1.0),  # user 2: no touches
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string"
    )
    out = {
        (r.model, r.channel): (r.conversions, r.credited_cents)
        for r in attribution(df).collect()
    }
    assert out[("first_touch", "view")] == (2, 1250)
    assert out[("last_touch", "click")] == (1, 1000)
    assert out[("last_touch", "view")] == (1, 250)
    assert out[("first_touch", "none")] == (2, 600)
    assert out[("last_touch", "none")] == (2, 600)


def test_daily_trend_exact_slope(spark):
    """Known arithmetic sequence: daily cents 100,200,300 on days
    0,1,2 → slope exactly 100 cents/day; single-day key → NULL."""
    from datetime import datetime

    from play_bq_gcp_spark.operators.behavior import daily_trend

    rows = [
        (1, datetime(2024, 1, 1), 1, "a", 1.00, "{}"),
        (2, datetime(2024, 1, 2), 1, "a", 2.00, "{}"),
        (3, datetime(2024, 1, 3), 1, "a", 3.00, "{}"),
        (4, datetime(2024, 1, 5), 1, "b", 9.99, "{}"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string"
    )
    out = {r.etype: r for r in daily_trend(df).collect()}
    a = out["a"]
    # n=3, Sx=3, Sy=600, Sxy=0*100+1*200+2*300=800, Sxx=5
    assert (a.slope_num, a.slope_den) == (3 * 800 - 3 * 600, 3 * 5 - 9)
    assert a.slope_cents_per_day == 100.0
    assert out["b"].slope_den == 0 and out["b"].slope_cents_per_day is None


def test_activity_streaks_hand_computed(spark):
    from datetime import datetime

    from play_bq_gcp_spark.queries import QUERIES
    import tempfile, os

    rows = [
        # user 1: days 0,1,2 then 5,6 -> streaks 3 and 2
        (1, datetime(2024, 1, 1, 9)),
        (1, datetime(2024, 1, 2, 9)),
        (1, datetime(2024, 1, 3, 9)),
        (1, datetime(2024, 1, 6, 9)),
        (1, datetime(2024, 1, 7, 9)),
        # duplicate same-day event must not split or extend streaks
        (1, datetime(2024, 1, 1, 23)),
        # user 2: one day
        (2, datetime(2024, 1, 10, 12)),
    ]
    d = tempfile.mkdtemp(prefix="streaks_")
    spark.createDataFrame(
        [(i, ts, u, "view", 1.0, "{}") for i, (u, ts) in enumerate(rows)],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.parquet(os.path.join(d, "events.parquet"))
    out = {r.user_id: r for r in QUERIES["events_activity_streaks"](spark, d).collect()}
    assert (out[1].n_streaks, out[1].longest_streak, out[1].active_days) == (2, 3, 5)
    assert (out[2].n_streaks, out[2].longest_streak, out[2].active_days) == (1, 1, 1)


def test_sessionize_exact_gap_merges_like_session_window(spark):
    """The repo-wide session boundary rule is STRICT (gap must exceed
    the threshold): Spark's F.session_window merges two events exactly
    one gap apart (measured on 4.1.2: 1800.000000 s -> 1 session,
    1800.000001 s -> 2), so the lag/cumsum batch twin must merge there
    too — fuzz seed 107 planted the exact-1800 s gap that split the
    old >= rule."""
    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)

    def n_sessions_batch(gap_us):
        df = spark.createDataFrame(
            [("u", t0), ("u", t0 + dt.timedelta(microseconds=gap_us))],
            "user string, ts timestamp",
        )
        out = windows.sessionize(df, "user", "ts", gap_minutes=30)
        return out.agg(F.max("session_id")).first()[0]

    def n_sessions_stream_style(gap_us):
        df = spark.createDataFrame(
            [(t0,), (t0 + dt.timedelta(microseconds=gap_us),)],
            "ts timestamp",
        )
        return df.groupBy(F.session_window("ts", "30 minutes")).count().count()

    for gap_us, want in (
        (1_800_000_000, 1),   # exactly the gap: MERGES
        (1_799_999_999, 1),
        (1_800_000_001, 2),   # strictly past the gap: splits
    ):
        assert n_sessions_batch(gap_us) == want, ("batch", gap_us)
        assert n_sessions_stream_style(gap_us) == want, ("stream", gap_us)

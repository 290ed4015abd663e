from __future__ import annotations

from pyspark.sql import Row, functions as F

from play_bq_gcp_spark.catalog import read_table
from play_bq_gcp_spark.operators import aggregates


def test_pricing_summary_shape(spark, sf_dir):
    out = aggregates.pricing_summary(read_table(spark, sf_dir, "lineitem"))
    rows = out.collect()
    assert len(rows) > 0
    assert out.columns == [
        "l_returnflag",
        "l_linestatus",
        "sum_qty",
        "sum_base_price",
        "sum_disc_price",
        "sum_charge",
        "avg_qty",
        "avg_price",
        "avg_disc",
        "count_order",
    ]
    # groups are sorted and counts positive
    keys = [(r.l_returnflag, r.l_linestatus) for r in rows]
    assert keys == sorted(keys)
    assert all(r.count_order > 0 for r in rows)


def test_pricing_summary_exact_tiny(spark):
    li = spark.createDataFrame(
        [
            Row(
                l_returnflag="A",
                l_linestatus="F",
                l_quantity=2.0,
                l_extendedprice=10.0,
                l_discount=0.1,
                l_tax=0.05,
                l_shipdate="1995-01-01",
            ),
            Row(
                l_returnflag="A",
                l_linestatus="F",
                l_quantity=3.0,
                l_extendedprice=20.0,
                l_discount=0.0,
                l_tax=0.0,
                l_shipdate="1995-01-02",
            ),
            # after cutoff → excluded
            Row(
                l_returnflag="B",
                l_linestatus="O",
                l_quantity=1.0,
                l_extendedprice=5.0,
                l_discount=0.0,
                l_tax=0.0,
                l_shipdate="2002-01-01",
            ),
        ]
    ).withColumn("l_shipdate", F.col("l_shipdate").cast("timestamp"))
    out = aggregates.pricing_summary(li).collect()
    assert len(out) == 1
    r = out[0]
    assert r.sum_qty == 5.0
    assert r.sum_base_price == 30.0
    assert r.sum_disc_price == 29.0  # 10*0.9 + 20
    assert abs(r.sum_charge - (10 * 0.9 * 1.05 + 20.0)) < 1e-9
    assert r.count_order == 2


def test_rollup_has_grand_total(spark, sf_dir):
    out = aggregates.agg_rollup(
        read_table(spark, sf_dir, "orders"),
        read_table(spark, sf_dir, "customer"),
        read_table(spark, sf_dir, "nation"),
    ).collect()
    grand = [r for r in out if r.n_name is None and r.o_orderstatus is None]
    assert len(grand) == 1
    assert grand[0].n_orders == sum(
        r.n_orders for r in out if r.n_name is not None and r.o_orderstatus is not None
    )


def test_mv_incremental_equals_recompute(spark, sf_dir):
    """Any sequence of delta refreshes must be bit-identical to the
    one-shot recompute (algebraic state + exact cents)."""
    from pyspark.sql import functions as F

    from play_bq_gcp_spark.catalog import read_table
    from play_bq_gcp_spark.operators.mv import (
        aggregate_state,
        finish,
        incremental_refresh,
    )

    orders = read_table(spark, sf_dir, "orders")
    keys = ["o_custkey"]
    full = finish(aggregate_state(orders, keys, "o_totalprice"), keys)

    # three uneven slices by order key modulus — overlap-free cover
    mv = aggregate_state(
        orders.filter(F.col("o_orderkey") % 7 < 2), keys, "o_totalprice"
    )
    for lo, hi in ((2, 3), (3, 7)):
        d = aggregate_state(
            orders.filter(
                (F.col("o_orderkey") % 7 >= lo) & (F.col("o_orderkey") % 7 < hi)
            ),
            keys,
            "o_totalprice",
        )
        mv = incremental_refresh(mv, d, keys)
    refreshed = finish(mv, keys)
    assert refreshed.exceptAll(full).count() == 0
    assert full.exceptAll(refreshed).count() == 0


def test_mv_cdc_retraction_exact(spark):
    """Insert three orders, retract one: the refreshed MV must equal
    the recompute over survivors, and a fully-retracted key vanishes."""
    from pyspark.sql import functions as F

    from play_bq_gcp_spark.operators.mv import (
        aggregate_state,
        cdc_delta_state,
        compact,
        finish,
        incremental_refresh,
    )

    facts = spark.createDataFrame(
        [(1, 10.00), (1, 20.00), (2, 5.00)], "k long, amt double"
    )
    base = aggregate_state(facts, ["k"], "amt")
    changes = spark.createDataFrame(
        [(1, 20.00, "D"), (2, 5.00, "D"), (3, 7.00, "I")],
        "k long, amt double, op string",
    )
    delta = cdc_delta_state(changes, ["k"], "amt", "op")
    mv = compact(incremental_refresh(base, delta, ["k"]))
    out = {r.k: (r.order_cnt, r.total_rev) for r in finish(mv, ["k"]).collect()}
    assert out == {1: (1, 10.00), 3: (1, 7.00)}  # key 2 fully retracted


def test_misra_gries_capture_and_bound(spark):
    """The Misra-Gries guarantee on a constructed skewed stream spread
    over many partitions: every item with frequency > n/(cap+1) is in
    the summary, every estimate undercounts by at most n/(cap+1), and
    no estimate exceeds the true count."""
    from play_bq_gcp_spark.operators.aggregates import heavy_hitters_mg

    rows = (
        [("hot",)] * 400
        + [("warm",)] * 150
        + [(f"u{i % 97}",) for i in range(450)]
    )
    df = spark.createDataFrame(rows, "t string").repartition(8)
    cap = 8
    summary = heavy_hitters_mg(df, capacity=cap)
    n = len(rows)
    exact = {}
    for (t,) in rows:
        exact[t] = exact.get(t, 0) + 1
    heavy = {t for t, c in exact.items() if c * (cap + 1) > n}
    assert {"hot", "warm"} <= heavy
    for t in heavy:
        assert t in summary, f"heavy hitter {t} missing from summary"
    for t, est in summary.items():
        assert est <= exact[t]  # MG never overcounts
        assert (exact[t] - est) * (cap + 1) <= n
    assert len(summary) <= cap


def test_misra_gries_uniform_stream_stays_bounded(spark):
    """A uniform stream has no heavy hitters; the summary stays within
    capacity and makes no (vacuously false) claims."""
    from play_bq_gcp_spark.operators.aggregates import heavy_hitters_mg

    df = spark.createDataFrame(
        [(f"u{i % 50}",) for i in range(500)], "t string"
    ).repartition(4)
    summary = heavy_hitters_mg(df, capacity=8)
    assert len(summary) <= 8


def test_countmin_never_undercounts_and_merges_linearly(spark, sf_dir):
    """CMS invariants: every point estimate >= the exact count, and the
    sketch is a linear summary — building it on two halves of the
    corpus and summing counters cell-wise equals building it whole."""
    from play_bq_gcp_spark.catalog import read_table
    from play_bq_gcp_spark.operators.aggregates import countmin_sketch
    from play_bq_gcp_spark.operators.text import tokens

    docs = read_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(tokens("text")).alias("t")
    )
    audit = countmin_sketch(toks.select("t")).collect()
    assert len(audit) == 20
    assert all(r.overcount >= 0 for r in audit)
    assert all(r.cms_est == r.exact_n + r.overcount for r in audit)

    # linearity: cell-wise sum of half-sketches == whole sketch —
    # built with the PRODUCTION cms_table, so a change to the hash
    # derivation or the CMS_* constants is exercised here, not against
    # a private re-implementation
    from play_bq_gcp_spark.operators.aggregates import cms_table

    def sketch_cells(df):
        return {
            (r.row, r.col): r.cnt
            for r in cms_table(
                df.select(F.col("t").alias("tok"))
            ).collect()
        }

    whole = sketch_cells(toks)
    a = sketch_cells(toks.filter(F.col("doc_id") % 2 == 0))
    b = sketch_cells(toks.filter(F.col("doc_id") % 2 == 1))
    summed: dict = {}
    for part in (a, b):
        for k, v in part.items():
            summed[k] = summed.get(k, 0) + v
    assert summed == whole


def test_pricing_summary_overflow_guard_fires(spark):
    """long_guarded mode must FAIL LOUDLY (never wrap silently) when a
    group's volume approaches 2^63: under Spark 4's default ANSI mode
    the accumulation itself raises ARITHMETIC_OVERFLOW, and on
    ansi-off sessions pricing_summary's inline certificate ("overflow
    risk") catches the bound — either way the failure names overflow
    and the SAME data succeeds in decimal mode."""
    import pytest
    from pyspark.sql import functions as F

    from play_bq_gcp_spark.operators.aggregates import pricing_summary

    big = spark.range(1_000_000).select(
        F.lit("A").alias("l_returnflag"),
        F.lit("F").alias("l_linestatus"),
        F.lit(1.0).alias("l_quantity"),
        F.lit(10_000_000_000.0).alias("l_extendedprice"),  # 1e12 cents
        F.lit(0.0).alias("l_discount"),
        F.lit(0.0).alias("l_tax"),
        F.lit("2000-01-01").cast("timestamp").alias("l_shipdate"),
    )
    with pytest.raises(Exception, match="(?i)overflow"):
        pricing_summary(big).collect()
    out = pricing_summary(big, exact_mode="decimal").collect()
    assert len(out) == 1 and out[0].count_order == 1_000_000


def test_pricing_summary_guard_certificate_fires_before_wrap(spark):
    """The r9 verdict's red-path pin for the CERTIFICATE itself: a
    corpus where every raw long tick sum still fits int64 (so ANSI's
    ARITHMETIC_OVERFLOW never fires) but a rounding NUMERATOR
    (20000 * sum_price_cents) exceeds 2^63 — only the
    inline certificate in pricing_summary can catch this class, and it must
    fail loudly with its own message, never emit a wrapped average.
    600 rows x $1e10: charge-tick sum 6e18 < 2^63 (no raw overflow),
    numerator 1.2e19 > 2^63 (certificate trips)."""
    import pytest
    from pyspark.sql import functions as F

    from play_bq_gcp_spark.operators.aggregates import pricing_summary

    corpus = spark.range(600).select(
        F.lit("A").alias("l_returnflag"),
        F.lit("F").alias("l_linestatus"),
        F.lit(1.0).alias("l_quantity"),
        F.lit(10_000_000_000.0).alias("l_extendedprice"),  # 1e12 cents
        F.lit(0.0).alias("l_discount"),
        F.lit(0.0).alias("l_tax"),
        F.lit("2000-01-01").cast("timestamp").alias("l_shipdate"),
    )
    with pytest.raises(Exception, match="overflow risk"):
        pricing_summary(corpus).collect()
    # the same data is fine in decimal mode, with exact integer results
    out = pricing_summary(corpus, exact_mode="decimal").collect()
    assert len(out) == 1
    assert out[0].sum_base_price == 600 * 1e10
    assert out[0].sum_charge == 600 * 1e10
    assert out[0].avg_price == 1e10


def test_half_up_cents_overflow_is_loud(spark):
    """Output-domain contract pin (functions/money.py): beyond 2^63
    cents Spark's decimal ``div`` silently WRAPS even under ANSI
    (measured on 4.1.2: a negative long, no error), so half_up_cents
    carries its own assert_true bound.  Below the bound: exact
    half-up cents.  Beyond: loud failure naming the helper, never a
    wrapped value."""
    import pytest
    from pyspark.sql import functions as F

    from play_bq_gcp_spark.functions import money

    ok = spark.sql(
        "SELECT CAST(100000000000000000000 AS DECIMAL(38,0)) AS s"  # 1e20
    )
    got = ok.select(money.half_up_cents("s", 100).alias("cents")).collect()
    assert got[0].cents == 10**18  # exact, inside the 2^63-cent domain

    # exact boundary: a total rounding to exactly 2^63-1 cents is the
    # LAST representable long and must come back, not raise (r10
    # self-review: the first bound rejected it)
    edge = spark.sql(
        f"SELECT CAST({(2**63 - 1) * 100} AS DECIMAL(38,0)) AS s"
    )
    got = edge.select(money.half_up_cents("s", 100).alias("cents")).collect()
    assert got[0].cents == 2**63 - 1

    # first out-of-domain value: s + half reaches 2^63 * tick, the
    # rounded output would be 2^63 — must raise
    first_bad = spark.sql(
        f"SELECT CAST({2**63 * 100 - 50} AS DECIMAL(38,0)) AS s"
    )
    with pytest.raises(Exception, match="half_up_cents overflow"):
        first_bad.select(
            money.half_up_cents("s", 100).alias("cents")
        ).collect()

    # well past the bound must also raise
    bad = spark.sql(
        f"SELECT CAST({2**63 * 100 + 12345} AS DECIMAL(38,0)) AS s"
    )
    with pytest.raises(Exception, match="half_up_cents overflow"):
        bad.select(money.half_up_cents("s", 100).alias("cents")).collect()


def test_half_up_cents_null_sum_passes_through(spark):
    """A zero-match aggregate sums to NULL; the overflow certificate
    must accept it (assert_true(NULL < bound) would otherwise raise a
    spurious overflow — fuzz seed 102, q19 with no bracket matches)
    and the division must propagate NULL like the SQL twin."""
    from pyspark.sql import functions as F

    from play_bq_gcp_spark.functions import money

    li = spark.createDataFrame(
        [(100.0, 0.05)], "l_extendedprice double, l_discount double"
    )
    out = (
        li.filter(F.lit(False))  # zero matching rows
        .agg(
            money.tick_sum(
                money.ticks("l_extendedprice")
                * (100 - money.ticks("l_discount"))
            ).alias("__sr"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            (money.half_up_cents("__sr", 100) / 100.0).alias("revenue"), "n"
        )
        .collect()
    )
    assert len(out) == 1
    assert out[0].revenue is None and out[0].n == 0

"""Group-by aggregation operators (SURVEY.md §2.4).

The reference computed no local aggregation (trophy totals arrived
pre-aggregated; /root/reference/main.py:320), so this module supplies the
engine's aggregation surface directly from Spark: hash aggregate with
automatic partial (map-side) + final phases, multi-dimensional rollup
(CUBE and explicit GROUPING SETS are written in queries/relational.py),
exact percentiles and approximate aggregates.

Scale notes: groupBy on a low-cardinality key set (returnflag ×
linestatus = ~6 groups) partial-aggregates down to almost nothing before
the shuffle, so these queries scale linearly with input; AQE coalesces
the tiny post-shuffle partitions.  Floating-point aggregates are rounded
at the output boundary so results are stable across summation orders and
comparable with the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from play_bq_gcp_spark.functions import money


def pricing_summary(
    lineitem: DataFrame,
    ship_cutoff: str = "2001-09-02",
    exact_mode: str = "long_guarded",
) -> DataFrame:
    """TPC-H Q1-shaped pricing summary: the engine's flagship aggregate.

    Filter → groupBy(2 keys) → 8 aggregates → sort.  Catalyst pushes the
    shipdate predicate into the parquet scan and prunes to 7 columns.

    All money aggregates are computed in EXACT integer ticks
    (functions/money.py): prices as cents, discount/tax as integer
    percent, so the sums are order-free and the half-up cent/6-dp
    roundings are integer divisions — identical in any engine.  The
    float-sum original was the q10/fuzz-94 divergence class:
    boundary_scan showed the sf0.001 raw sum_disc_price 1.8 ulp from a
    half-cent, and Spark/DuckDB round() measurably disagree on
    boundary doubles.  Quantities are exact small integers either way;
    their sum is kept as a plain double (round is the identity on it).

    ``exact_mode``: a single decimal(38,0) sum buffer drops the hash
    aggregate off Spark's vectorized fast path (measured +55% wall at
    sf0.1), so the default accumulates LONG ticks on the fast path and
    certifies no-wrap with an inline assert_true on the six output rows
    (max|tick| × n, and every rounding numerator, < 2^63 — exact, loud
    on failure).  Charge ticks reach ~1.2e11/row, so the guard trips
    around 1e8 rows per group; for the 100 TB global-aggregate regime pass
    ``exact_mode="decimal"`` to take the linear decimal path instead
    (bit-identical values, exact to 1e38)."""
    cents = money.ticks("l_extendedprice")
    d_pct = money.ticks("l_discount")  # integer percent: 2-dp contract
    t_pct = money.ticks("l_tax")
    qty = money.ticks(F.col("l_quantity"), scale=1)  # integer-valued
    r_ticks = cents * (100 - d_pct)
    c_ticks = cents * (100 - d_pct) * (100 + t_pct)
    if exact_mode == "decimal":
        sums = [
            money.tick_sum(qty).alias("__sq"),
            money.tick_sum(cents).alias("__sp"),
            money.tick_sum(r_ticks).alias("__sr"),
            money.tick_sum(c_ticks).alias("__sc"),
            money.tick_sum(d_pct).alias("__sd"),
        ]
        guards = []
    else:
        sums = [
            F.sum(qty).alias("__sq"),
            F.sum(cents).alias("__sp"),
            F.sum(r_ticks).alias("__sr"),
            F.sum(c_ticks).alias("__sc"),
            F.sum(d_pct).alias("__sd"),
        ]
        # one max per summed column (all primitive longs — the fast
        # hash map keeps its vectorized path); max x n certifies each
        # SUM, and only then are the sums themselves trustworthy
        # inputs for the rounding-numerator checks below
        guards = [
            F.max(F.abs(qty)).alias("__mx_q"),
            F.max(F.abs(cents)).alias("__mx_p"),
            F.max(F.abs(r_ticks)).alias("__mx_r"),
            F.max(F.abs(c_ticks)).alias("__mx_c"),
            F.max(F.abs(d_pct)).alias("__mx_d"),
        ]
    agg = (
        lineitem.filter(F.col("l_shipdate") <= F.lit(ship_cutoff).cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(*sums, *guards, F.count(F.lit(1)).alias("count_order"))
    )
    if guards:
        # the certificate covers BOTH the long accumulations (max|tick|
        # x n per column) AND every integer-rounding numerator the
        # select below builds from them (2e6*S+n / 2e4*S+n avg forms,
        # S+half cent divisions) — all evaluated in decimal on the six
        # output rows, loud assert_true on failure (r9 review: the
        # charge-only bound left the avg numerators uncertified)
        bound = (
            "greatest("
            "  CAST(__mx_q AS DECIMAL(38,0)) * count_order,"
            "  CAST(__mx_p AS DECIMAL(38,0)) * count_order,"
            "  CAST(__mx_r AS DECIMAL(38,0)) * count_order,"
            "  CAST(__mx_c AS DECIMAL(38,0)) * count_order,"
            "  CAST(__mx_d AS DECIMAL(38,0)) * count_order,"
            "  2000000 * abs(CAST(__sq AS DECIMAL(38,0))) + count_order,"
            "  20000 * abs(CAST(__sp AS DECIMAL(38,0))) + count_order,"
            "  20000 * abs(CAST(__sd AS DECIMAL(38,0))) + count_order,"
            "  abs(CAST(__sr AS DECIMAL(38,0))) + 50,"
            "  abs(CAST(__sc AS DECIMAL(38,0))) + 5000"
            ")"
        )
        agg = agg.filter(
            F.assert_true(
                F.expr(bound) < F.lit(2**63 - 1).cast("decimal(38,0)"),
                F.lit(
                    "long tick-sum overflow risk: a sum or rounding "
                    "numerator can reach 2^63 — rerun with "
                    "exact_mode='decimal'"
                ),
            ).isNull()
        ).drop("__mx_q", "__mx_p", "__mx_r", "__mx_c", "__mx_d")
    return (
        agg.select(
            "l_returnflag",
            "l_linestatus",
            (F.col("__sq") / 1.0).cast("double").alias("sum_qty"),
            (F.col("__sp") / F.lit(100.0)).cast("double").alias("sum_base_price"),
            (money.half_up_cents("__sr", 100) / 100.0).alias("sum_disc_price"),
            (money.half_up_cents("__sc", 10000) / 100.0).alias("sum_charge"),
            (money.half_up_micro_avg("__sq", "count_order", 1) / 1e6).alias(
                "avg_qty"
            ),
            (money.half_up_micro_avg("__sp", "count_order", 100) / 1e6).alias(
                "avg_price"
            ),
            (money.half_up_micro_avg("__sd", "count_order", 100) / 1e6).alias(
                "avg_disc"
            ),
            "count_order",
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def agg_rollup(orders: DataFrame, customer: DataFrame, nation: DataFrame) -> DataFrame:
    """ROLLUP over a joined star: revenue by (nation, orderstatus) with
    subtotals and a grand total.  nation is tiny → broadcast join."""
    joined = (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
    )
    return (
        joined.rollup("n_name", "o_orderstatus")
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .orderBy(
            F.col("n_name").asc_nulls_first(), F.col("o_orderstatus").asc_nulls_first()
        )
    )


def stats_percentiles(lineitem: DataFrame) -> DataFrame:
    """min/max/stddev plus EXACT interpolated percentiles plus the
    bivariate co-moment family (corr / covar / regression slope) in one
    agg — the checkable twin of the approx sketches (Spark
    ``percentile`` ≡ SQL ``quantile_cont``).  One shuffle; the exact
    percentiles are HOLISTIC — their merge buffer is a per-group
    value→count map bounded by the group's distinct-value cardinality
    (swap to percentile_approx for high-cardinality measures at
    scale); only the co-moments are algebraic partials (count/means/XY
    sums) that merge associatively across executors."""
    return (
        lineitem.groupBy("l_returnflag")
        .agg(
            F.min("l_extendedprice").alias("min_price"),
            F.max("l_extendedprice").alias("max_price"),
            F.round(F.stddev_samp("l_extendedprice"), 4).alias("stddev_price"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            # percentiles interpolate over INTEGER CENTS: prices are
            # 2-decimal, so even-count medians land on exact half-cents
            # where engines' round-tie rules disagree (observed:
            # 52724.245 → .24 vs .25).  On integer-valued doubles the
            # midpoint arithmetic is binary-exact in every engine, so
            # the interpolated value — and any rounding of it — agrees.
            (
                F.percentile(
                    F.round(F.col("l_extendedprice") * 100, 0).cast("long"),
                    F.lit(0.5),
                )
                / 100.0
            ).alias("median_price"),
            # p90 as an INTEGER cents×10 tick, never a rounded dollar
            # value: the 0.9-quantile's interpolation fraction is a
            # multiple of 0.1, so true_value×10 is an integer; a round
            # to integer absorbs any last-ulp op-order difference,
            # whereas round(x/100, 2) sits exactly on a .5 boundary
            # whenever the interpolated cents end in .5 and the two
            # engines' decimal-rounding paths disagree (fuzz seed 82:
            # 81098.525 → .53 Spark / .52 DuckDB)
            F.round(
                F.percentile(
                    F.round(F.col("l_extendedprice") * 100, 0).cast("long"),
                    F.lit(0.9),
                )
                * 10.0,
                0,
            )
            .cast("long")
            .alias("p90_cents_x10"),
            F.round(F.corr("l_quantity", "l_extendedprice"), 4).alias(
                "qty_price_corr"
            ),
            F.round(F.covar_samp("l_quantity", "l_extendedprice"), 2).alias(
                "qty_price_covar"
            ),
            F.round(F.regr_slope("l_extendedprice", "l_quantity"), 4).alias(
                "price_per_qty"
            ),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("l_returnflag")
    )


def approx_sketch_bounds(lineitem: DataFrame) -> DataFrame:
    """Sketch-accuracy attestation: per group, the EXACT distinct count
    (portable, oracle-checkable) plus booleans pinning the HLL++
    distinct estimate within 5% of exact and the GK approx median
    within 2% of the exact median.  Exact and sketch run in the SAME
    single aggregate pass — at 100 TB one would drop the exact legs
    and keep the sketches; here the pairing is the point (the oracle
    can only see TRUE if the sketches actually hold their bounds)."""
    return (
        lineitem.groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_orderkey").alias("exact_orders"),
            F.approx_count_distinct("l_orderkey", 0.01).alias("__hll"),
            F.percentile_approx("l_extendedprice", F.lit(0.5)).alias("__amed"),
            F.expr("percentile(l_extendedprice, 0.5)").alias("__emed"),
        )
        .select(
            "l_returnflag",
            "exact_orders",
            (
                F.abs(F.col("__hll") - F.col("exact_orders"))
                <= F.col("exact_orders") * 0.05
            ).alias("hll_ok"),
            (
                F.abs(F.col("__amed") - F.col("__emed"))
                <= F.abs(F.col("__emed")) * 0.02 + 0.01
            ).alias("median_ok"),
        )
        .orderBy("l_returnflag")
    )


def heavy_hitters_mg(
    items: DataFrame, item_col: str = "t", capacity: int = 16
) -> dict[str, int]:
    """Misra-Gries frequent-items summary over a column — the mergeable
    heavy-hitters sketch (Agarwal et al., "Mergeable Summaries"): any
    item with true frequency > n/(capacity+1) is guaranteed present,
    and every estimate undercounts by at most n/(capacity+1).

    Scale shape: each Arrow batch's exact ``value_counts`` (vectorized
    C, no per-row Python) is itself a valid summary; summaries merge by
    summing counters and, when over capacity, subtracting the
    (capacity+1)-th largest count and dropping non-positives — the
    paper's merge, which preserves the error bound.  Per-partition
    summaries are ≤ capacity rows each, so the driver-side final merge
    reads a bounded model (partitions × capacity), never data."""
    import pandas as pd

    from play_bq_gcp_spark.catalog import spread

    def _truncate(counters: dict, cap: int) -> dict:
        if len(counters) <= cap:
            return counters
        cut = sorted(counters.values(), reverse=True)[cap]
        return {k: v - cut for k, v in counters.items() if v - cut > 0}

    def mg(batches):
        counters: dict = {}
        for pdf in batches:
            for item, cnt in pdf[item_col].value_counts().items():
                counters[item] = counters.get(item, 0) + int(cnt)
            counters = _truncate(counters, capacity)
        yield pd.DataFrame(
            {"item": list(counters), "est": list(counters.values())}
        )

    parts = spread(items.select(item_col)).mapInPandas(
        mg, "item string, est long"
    )
    merged: dict[str, int] = {}
    for r in parts.collect():  # bounded: ≤ partitions × capacity rows
        merged[r.item] = merged.get(r.item, 0) + r.est
    return _truncate(merged, capacity)


# Count-Min defaults, shared with the registry oracle (the queries/
# package f-strings its DuckDB twin from these — parameter drift must break
# loudly, the PQ_EXACT precedent).
CMS_DEPTH = 4
CMS_WIDTH = 256
CMS_PROBE_K = 20


def cms_hash_col(tok, row: int):
    """Counter index for depth row ``row``: first 7 hex digits of
    md5(tok + '#row') mod width — engine-portable, so oracles replay
    it bit-for-bit."""
    return (
        F.conv(
            F.substring(F.md5(F.concat(tok, F.lit(f"#{row}"))), 1, 7),
            16,
            10,
        ).cast("long")
        % CMS_WIDTH
    )


def cms_table(toks: DataFrame, tok_col: str = "tok") -> DataFrame:
    """The d×w counter table for a token column: one groupBy over a
    FIXED keyspace, so partial aggregation collapses every partition to
    ≤ d·w rows before the shuffle.  Two tables merge by summing ``cnt``
    on (row, col) — the linear-sketch property."""
    cells = toks.select(
        F.posexplode(
            F.array(
                *[cms_hash_col(F.col(tok_col), r) for r in range(CMS_DEPTH)]
            )
        ).alias("row", "col")
    )
    return cells.groupBy("row", "col").agg(F.count(F.lit(1)).alias("cnt"))


def countmin_sketch(tokens_df: DataFrame, tok_col: str = "t") -> DataFrame:
    """Count-Min sketch (Cormode & Muthukrishnan) over a token stream,
    plus its accuracy audit: build the d×w counter table, then estimate
    the ``CMS_PROBE_K`` most frequent tokens and report each one's
    guaranteed-nonnegative overcount against the exact count.

    The sketch is the other half of the frequent-items toolkit next to
    Misra-Gries (``heavy_hitters_mg`` undercounts within n/(k+1); CMS
    overcounts within eps·n at width 2/eps): hash each token into one
    counter per depth row (md5-derived, engine-portable), point
    estimates take the min across rows.

    Scale shape — the whole point at 100 TB: the counter table is a
    groupBy over a FIXED d×w keyspace, so partial aggregation collapses
    every partition to ≤ d·w rows before the one shuffle, and two
    sketches merge by plain counter addition (the linear-sketch
    property streaming inherits for free — see
    streaming/daily.py:countmin_stream_merge).  The probe join
    broadcasts the d×w table; only ``CMS_PROBE_K`` audit rows leave."""
    toks = tokens_df.select(F.col(tok_col).alias("tok"))
    return cms_probe(cms_table(toks), toks)


def cms_probe(sketch: DataFrame, toks: DataFrame) -> DataFrame:
    """Accuracy audit of a CMS counter table: exact counts for the
    ``CMS_PROBE_K`` most frequent tokens (ties by token), estimates as
    min-across-rows via a broadcast join against the ≤ d·w sketch, and
    the guaranteed-nonnegative overcount.  Shared by the batch operator
    and the streaming merge so the audit contract cannot diverge."""
    exact = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("exact_n"))
        .orderBy(F.col("exact_n").desc(), "tok")
        .limit(CMS_PROBE_K)
    )
    probe_cells = exact.select(
        "tok",
        "exact_n",
        F.posexplode(
            F.array(
                *[cms_hash_col(F.col("tok"), r) for r in range(CMS_DEPTH)]
            )
        ).alias("row", "col"),
    )
    est = (
        probe_cells.join(
            F.broadcast(sketch.select("row", "col", "cnt")), ["row", "col"]
        )
        .groupBy("tok", "exact_n")
        .agg(F.min("cnt").alias("cms_est"))
    )
    return est.select(
        "tok",
        "exact_n",
        "cms_est",
        (F.col("cms_est") - F.col("exact_n")).alias("overcount"),
    ).orderBy(F.col("exact_n").desc(), "tok")

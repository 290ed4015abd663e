"""Physical-plan assertions (SURVEY.md §4): the optimizations the
engine leans on must actually appear in the plan, not just in
docstrings — pushdown reaching the parquet scan, broadcast picked for
dimension joins, bucketing eliminating the join shuffle.
"""

from __future__ import annotations

import contextlib
import io
import re

from pyspark.sql import functions as F

from play_bq_gcp_spark.catalog import read_table, write_bucketed


def plan_of(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def test_filter_and_projection_reach_parquet_scan(spark, sf_dir):
    df = (
        read_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_totalprice")
    )
    plan = plan_of(df)
    assert "PushedFilters" in plan and "o_orderstatus" in plan.split(
        "PushedFilters"
    )[1].split("\n")[0]
    # column pruning: the scan schema carries only the 3 needed columns
    read_schema = plan.split("ReadSchema")[1].split("\n")[0]
    assert "o_orderkey" in read_schema and "o_totalprice" in read_schema
    assert "o_comment" not in read_schema


def test_dimension_join_broadcasts(spark, sf_dir):
    cust = read_table(spark, sf_dir, "customer")
    nation = read_table(spark, sf_dir, "nation")
    df = cust.join(
        F.broadcast(nation), cust.c_nationkey == nation.n_nationkey
    )
    assert "BroadcastHashJoin" in plan_of(df)


def test_band_join_is_broadcast_nested_loop(spark, sf_dir):
    from play_bq_gcp_spark.operators.joins_advanced import range_join_bands

    bands = spark.createDataFrame(
        [("low", 0.0, 150000.0), ("high", 150000.0, 1e9)],
        "band string, lo double, hi double",
    )
    df = range_join_bands(
        read_table(spark, sf_dir, "orders"), bands, "o_totalprice"
    )
    assert "BroadcastNestedLoopJoin" in plan_of(df)


def test_bucketed_join_has_no_shuffle(spark, sf_dir):
    """Two tables bucketed on the join key: the join's initial physical
    plan contains no Exchange — the layout replaces the shuffle."""
    cust = read_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    orders = read_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_totalprice"
    )
    write_bucketed(cust, "b_cust", "c_custkey", n_buckets=4)
    write_bucketed(
        orders.withColumnRenamed("o_custkey", "c_custkey"),
        "b_orders",
        "c_custkey",
        n_buckets=4,
    )
    # at fixture scale the planner would broadcast (also shuffle-free,
    # but that's not what survives at 100 TB) — force the sort-merge
    # path the big-data plan would take
    thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("b_orders").join(
            spark.table("b_cust"), "c_custkey"
        )
        plan = plan_of(joined, "simple")
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan
        assert "Bucketed: true" in plan
        # and the same join on the unbucketed frames DOES shuffle
        shuffled = orders.withColumnRenamed("o_custkey", "c_custkey").join(
            cust, "c_custkey"
        )
        assert "Exchange" in plan_of(shuffled, "simple")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)


def test_date_partitioned_write_prunes(spark, sf_dir, tmp_path):
    """Fact tables land partitionBy(date): a date-filtered read shows
    PartitionFilters at the scan and touches only matching partitions
    — the 100 TB layout for append-only facts."""
    from play_bq_gcp_spark.catalog import overwrite

    ev = read_table(spark, sf_dir, "events").withColumn(
        "date", F.to_date("ts")
    )
    p = str(tmp_path / "events_by_date")
    overwrite(ev, p, partition_by=["date"])
    one_day = ev.select(F.min(F.to_date("ts"))).first()[0]
    pruned = spark.read.parquet(p).filter(F.col("date") == F.lit(one_day))
    plan = plan_of(pruned)
    part_filters = plan.split("PartitionFilters")[1].split("\n")[0]
    assert "date" in part_filters
    assert pruned.count() == ev.filter(F.to_date("ts") == F.lit(one_day)).count()


def test_aqe_coalesces_small_shuffles(spark, sf_dir):
    """AQE is not just configured — it fires: the executed plan of a
    small aggregation shows AQEShuffleRead coalescing the 32 configured
    shuffle partitions down to the data's actual size."""
    df = read_table(spark, sf_dir, "orders").groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n")
    )
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString()
    assert "AQEShuffleRead" in final and "coalesced" in final


def test_group_analytics_single_fact_scan(spark, sf_dir):
    """agg_group_analytics derives the grouping-sets leg from the cube
    output (grouping_id slice + per-row explode), so the plan scans
    lineitem exactly ONCE — a second scan would mean the sharing
    regressed to a two-branch union."""
    from play_bq_gcp_spark.queries import QUERIES

    df = QUERIES["agg_group_analytics"](spark, sf_dir)
    plan = plan_of(df)
    assert plan.count("lineitem.parquet") == 1


def test_knn_join_broadcasts_query_side(spark, sf_dir):
    """knn_join_bruteforce broadcasts the (small) query side; the
    corpus is never shuffled for the scoring pass."""
    from play_bq_gcp_spark.operators.similarity import knn_join_bruteforce

    e = read_table(spark, sf_dir, "embeddings")
    qs = e.filter(F.col("vec_id") % 100 == 0)
    df = knn_join_bruteforce(qs, e, k=3)
    assert "BroadcastNestedLoopJoin" in plan_of(df)


def test_scalar_suite_is_one_scan_no_shuffle(spark, sf_dir):
    """The fused scalar suite stays a pure map pass: one orders scan,
    no Exchange before the final sort (the crossJoin side is a 1-row
    broadcast)."""
    from play_bq_gcp_spark.queries import QUERIES

    df = QUERIES["scalar_suite_orders"](spark, sf_dir)
    plan = plan_of(df)
    assert plan.count("orders.parquet") == 1
    # the only exchanges allowed are the 1-row broadcast and the
    # rangepartitioning for the final orderBy
    body = plan.split("AdaptiveSparkPlan")[-1]
    hash_exchanges = [
        ln for ln in body.splitlines() if "Exchange hashpartitioning" in ln
    ]
    assert hash_exchanges == []


def executed_plans(spark, after: int = -1) -> list[str]:
    """Physical-plan descriptions of the SQL executions with id above
    ``after``, newest first, as the status store recorded them when
    they ran (AQE final plan included).  An operator that materializes
    eagerly returns only a checkpoint scan, so its shape shows in the
    plans it executed, not in the plan of the DataFrame it returns."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    # the store lists executions in id order
    runs = spark._jsparkSession.sharedState().statusStore().executionsList()
    plans = []
    for i in reversed(range(runs.size())):
        x = runs.apply(i)
        if x.executionId() <= after:
            break
        plans.append(x.physicalPlanDescription())
    return plans


def newest_execution_id(spark) -> int:
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    runs = spark._jsparkSession.sharedState().statusStore().executionsList()
    return runs.last().executionId() if runs.nonEmpty() else -1


def executed_jobs(spark, after: int = -1) -> int:
    """Number of Spark jobs the SQL executions with id above ``after``
    ran (every job belongs to exactly one execution)."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    runs = spark._jsparkSession.sharedState().statusStore().executionsList()
    n = 0
    for i in reversed(range(runs.size())):
        x = runs.apply(i)
        if x.executionId() <= after:
            break
        n += x.jobs().size()
    return n


def join_keys(plan: str) -> set[str]:
    """Column names of every join key in a formatted physical plan."""
    return {
        k.strip().split("#")[0]
        for keys in re.findall(r"(?:Left|Right) keys \[\d+\]: \[([^\]]*)\]", plan)
        for k in keys.split(",")
    }


def executed_shuffles(plans: list[str]) -> int:
    """Shuffles the executions ran: each one is a ``ShuffleQueryStage``
    of an AQE final plan.  The formatted plan lists every node once
    (a cached relation's own plan included) and an initial plan holds
    no stages, so counting the stage headers counts each shuffle once."""
    return sum(
        len(re.findall(r"^\(\d+\) ShuffleQueryStage", p, re.M)) for p in plans
    )


# Jobs and shuffles one call (build + collect) of a registry entry may
# run at sf0.001, read from the status store — what ran, including the
# work behind an eager checkpoint, which the returned DataFrame's plan
# cannot show.  Each row is the count measured when it was pinned.  A
# change that adds an eager action, a query stage or a shuffle fails
# here; lowering a budget is a one-line diff.
JOB_BUDGET = {
    # name: (jobs, shuffles)
    "dedup_containment_governed": (19, 8),
    "dedup_containment_pairs": (26, 9),
}


def test_job_budget_pinned(spark, sf_dir):
    from play_bq_gcp_spark import queries as q

    for name, (jobs, shuffles) in JOB_BUDGET.items():
        before = newest_execution_id(spark)
        q.QUERIES[name](spark, sf_dir).collect()
        got = executed_jobs(spark, after=before)
        assert got <= jobs, f"{name}: {got} jobs > budget {jobs}"
        got = executed_shuffles(executed_plans(spark, after=before))
        assert got <= shuffles, f"{name}: {got} shuffles > budget {shuffles}"


def test_containment_never_joins_on_shingle_hash(spark, sf_dir):
    """containment_pairs builds candidates from the df aggregate's
    posting lists and verifies on the cached hash arrays: no plan it
    executes may join on the shingle hash ``g``: such a join means the
    shingle stream is exploded into an index or verify join again."""
    from play_bq_gcp_spark import queries as q

    before = newest_execution_id(spark)
    q.QUERIES["dedup_containment_governed"](spark, sf_dir).collect()
    ran = executed_plans(spark, after=before)
    keys = join_keys("\n".join(ran))
    assert {"doc_a", "doc_b"} <= keys  # the verify joins are there
    assert "g" not in keys


def test_embedding_dedup_has_no_nested_loop(spark, sf_dir):
    """embedding_cosine_pairs candidates come from LSH bucket
    equi-joins — a BroadcastNestedLoopJoin or CartesianProduct in any
    plan the operator executed means the all-pairs path crept back."""
    from play_bq_gcp_spark.operators.dedup import embedding_cosine_pairs

    e = read_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    before = newest_execution_id(spark)
    embedding_cosine_pairs(e, threshold=0.9)
    ran = executed_plans(spark, after=before)
    assert ran  # the candidate and verify checkpoints
    plan = "\n".join(ran)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("SortMergeJoin") + plan.count("BroadcastHashJoin") >= 1


def test_scd2_is_one_join(spark, sf_dir):
    """SCD2's four per-key cases must come out of ONE full-outer join —
    an inner + two anti-joins creeping back means three scans of the
    current side at 100 TB."""
    from play_bq_gcp_spark import queries as q

    plan = plan_of(q.QUERIES["merge_scd2"](spark, sf_dir), "simple")
    n_joins = sum(
        plan.count(j)
        for j in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin")
    )
    assert n_joins == 1
    assert "FullOuter" in plan


def test_lsh_knn_join_is_equi_never_nested_loop(spark, sf_dir):
    """The scale k-NN path must candidate-join on the signature (hash
    or sort-merge) — a BroadcastNestedLoopJoin/CartesianProduct in this
    plan means the |Q|×|C| form crept back."""
    from play_bq_gcp_spark import queries as q

    plan = plan_of(q.QUERIES["knn_join_lsh"](spark, sf_dir), "simple")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert any(
        j in plan
        for j in ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin")
    )


def test_sampling_suite_is_joinless_map_side(spark, sf_dir):
    """Both sample draws are pure filters (pushable map work); the only
    shuffles allowed are the per-key-cap window and output ordering —
    never a join."""
    from play_bq_gcp_spark import queries as q

    plan = plan_of(q.QUERIES["sampling_suite"](spark, sf_dir), "simple")
    assert "Join" not in plan


def test_q6_predicates_all_reach_scan(spark, sf_dir):
    """Q6 is pure filter+agg: every predicate must push to the parquet
    scan and the plan must contain no Join and at most the single
    partial/final aggregate exchange."""
    from play_bq_gcp_spark import queries as q

    plan = plan_of(q.QUERIES["q6_forecast_revenue"](spark, sf_dir))
    pushed = plan.split("PushedFilters")[1].split("\n")[0]
    assert "l_discount" in pushed and "l_quantity" in pushed
    assert "l_shipdate" in pushed
    assert "Join" not in plan


def test_q8_dimension_chain_broadcasts(spark, sf_dir):
    """Q8's seven-way star must broadcast every dimension — exactly one
    shuffle-bearing join family (the fact-fact orders join) is allowed
    to be sort-merge under AQE."""
    from play_bq_gcp_spark import queries as q

    plan = plan_of(q.QUERIES["q8_market_share"](spark, sf_dir), "simple")
    assert plan.count("BroadcastHashJoin") >= 5
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q4_exists_is_semi_join_with_pushed_quarter(spark, sf_dir):
    """Q4's correlated EXISTS must compile to a LeftSemi hash join (no
    duplicate-inflating inner join + distinct) with the quarter filter
    pushed to the orders scan."""
    from play_bq_gcp_spark import queries as q

    plan = plan_of(q.QUERIES["q4_priority_late_orders"](spark, sf_dir))
    assert "LeftSemi" in plan
    pushed = plan.split("PushedFilters")[1].split("\n")[0]
    assert "o_orderdate" in pushed


def test_q16_not_in_is_anti_join_never_nested_loop(spark, sf_dir):
    """Q16's NOT IN exclusion (non-null keys) must be a broadcast
    LeftAnti hash join, not a null-aware nested loop."""
    from play_bq_gcp_spark import queries as q

    plan = plan_of(q.QUERIES["q16_supplier_variety"](spark, sf_dir), "simple")
    assert "LeftAnti" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_q21_single_fact_aggregate_no_extra_scans(spark, sf_dir):
    """Q21's EXISTS/NOT-EXISTS pair is folded into ONE per-order
    aggregate: the plan must scan lineitem at most twice (the late
    lines and the per-order stats share the join input), never the
    three scans the naive correlated form would need."""
    from play_bq_gcp_spark import queries as q

    plan = plan_of(q.QUERIES["q21_waiting_suppliers"](spark, sf_dir), "simple")
    assert plan.count("lineitem.parquet") <= 2
    assert "BroadcastNestedLoopJoin" not in plan


def test_q2_single_partkey_shuffle_serves_agg_and_window(spark, sf_dir):
    """Q2's correlated-min rewrite: the per-pair aggregate and the
    per-part window minimum must reuse one l_partkey exchange — at
    most one shuffle over the fact side beyond AQE reads."""
    from play_bq_gcp_spark import queries as q

    plan = plan_of(q.QUERIES["q2_min_cost_supplier"](spark, sf_dir), "simple")
    # dimensions broadcast; the only hash-partitioned exchanges allowed
    # are the partkey agg/window pair and the final sort boundary
    assert plan.count("BroadcastHashJoin") >= 3
    assert "Window" in plan


def test_decontaminate_broadcasts_eval_grams(spark, sf_dir):
    """The eval side is benchmarks (small) — its distinct gram hashes
    must broadcast so the corpus scan never shuffles its grams for the
    match; only matched grams reach the groupBy shuffle."""
    from play_bq_gcp_spark.operators.curation import decontaminate

    docs = read_table(spark, sf_dir, "documents")
    pred = F.col("doc_id") % 17 == 3
    plan = plan_of(decontaminate(docs.filter(~pred), docs.filter(pred)))
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_domain_mix_broadcasts_quotas_and_source_filter_pushes(spark, sf_dir):
    """Quotas (one row per source) broadcast to the ranking pass; the
    capacity is a window over the per-source agg (no cross join, no
    nested loop); the source IN-list reaches the parquet scan."""
    from play_bq_gcp_spark.operators.curation import domain_mix

    plan = plan_of(
        domain_mix(
            read_table(spark, sf_dir, "documents"),
            {"src0": 0.5, "src1": 0.3, "src2": 0.2},
        )
    )
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "PushedFilters" in plan and "source" in plan.split(
        "PushedFilters"
    )[1].split("\n")[0]


def test_sequence_pack_single_source_shuffle(spark, sf_dir):
    """Packing is one window pass: exactly one exchange (hash on the
    group key), no join, no global sort exchange."""
    from play_bq_gcp_spark.operators.curation import sequence_pack

    # simple mode lists each physical operator exactly once
    plan = plan_of(
        sequence_pack(read_table(spark, sf_dir, "documents"), 256), "simple"
    )
    assert plan.count("Exchange") == 1
    assert "rangepartitioning" not in plan.lower()


def test_incremental_dedup_probe_is_equi_join(spark, sf_dir):
    """The asymmetric LSH probe must be (band,key) equi-joins end to
    end — a nested-loop anywhere means the new batch is being compared
    all-pairs against the corpus."""
    from play_bq_gcp_spark.operators.dedup import _band_keys_expr
    from play_bq_gcp_spark.operators.text import shingle_hashes

    docs = read_table(spark, sf_dir, "documents")
    pred = F.col("doc_id") % 5 == 0

    def signed(df):
        return df.select(
            "doc_id", shingle_hashes("text", k=2).alias("hs")
        ).filter(F.size("hs") > 0)

    bk = _band_keys_expr(25, 3)
    probe = signed(docs.filter(pred)).select(
        "doc_id", F.posexplode(bk).alias("band", "key")
    )
    index = signed(docs.filter(~pred)).select(
        F.col("doc_id").alias("corpus_id"),
        F.posexplode(bk).alias("band", "key"),
    )
    plan = plan_of(probe.join(index, ["band", "key"]))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_shuffle_budget_pinned(spark, sf_dir):
    """Regression guard on plan shape: each representative query's
    Exchange count must not grow past its pinned budget (the observed
    count at pin time; the output orderBy contributes one range
    exchange everywhere).  A refactor that sneaks in an extra shuffle
    fails here before it costs anything at scale."""
    from play_bq_gcp_spark import queries as q

    budgets = {
        "q1_pricing_summary": 2,          # agg + output order
        "proj_filter_orders": 1,          # output order only
        "semi_join_customers": 2,         # broadcast semi stays shuffle-free
        "mv_incremental_refresh": 5,      # 3 partial-state aggs + merge + order
        "attribution_first_last": 3,      # user window + model agg + order
        "dedup_exact_groups": 3,
        "text_fingerprint_rolling": 1,    # map-only + output order
        "feature_binning_quantile": 4,
        "trend_daily_revenue": 3,         # day rollup + co-moments + order
        "q3_shipping_priority": 3,
        "quality_expectations_orders": 2, # one wide agg + order
        # round-5 additions (pinned at observed counts, sf0.001;
        # dedup_containment_pairs checkpoints eagerly, so its shuffles
        # are pinned from what ran, in JOB_BUDGET):
        "text_boilerplate_spans": 4,      # span hash agg + df threshold + order
        "events_ewma_daily": 6,           # daily rollup + rn window + span self-join
        "text_lang_confusion_matrix": 3,  # predicted×actual groupBy + order
        "scan_provenance_files": 2,       # per-file agg + order
        "quality_referential_integrity": 24,  # 6 FK audits × (anti join + agg) + union
        # round-6 additions:
        "dedup_casefold_exact": 3,            # digest agg + planted union + order
        "quality_length_outliers_mad": 7,     # 2 percentile aggs + broadcasts + order
        "similarity_centroid_separation": 6,  # centroid partials + |labels|² pair agg
        "text_char_entropy": 4,               # (doc,c) agg + doc window reused by agg + order
        "similarity_mmr_exact": 0,            # bounded pool: one broadcast pass, no exchange
        "agg_heavy_hitters_mg": 5,            # partition summaries + merge + exact recount
        "curation_token_budget_select": 5,    # score hist + tiny windows + boundary window + order
        "curation_shard_manifest": 2,         # one combinable groupBy + order
        "sampling_weighted_systematic": 5,    # block sums + tiny offset window + in-block window
        "agg_countmin_sketch": 3,             # d×w-bounded sketch agg + probe top-k + est agg
        "dedup_semantic_semdedup": 4,         # cluster-key pair join + drop anti side + order
        "text_encoding_audit": 1,             # map-only + output order
        # every exchange past the first histogram agg moves grid-bounded
        # rows (≤ value_range·10), not data; AQE reuses the scan subtree
        "events_psi_feature_drift": 19,
        "scan_federated_union": 2,            # tri-format union agg + order
        # round-7 additions:
        "multimodal_audio_fp_exact": 8,       # synth+dup union, (doc,frame,bin)
                                              # agg, peak window, fp agg, group
                                              # window, order
    }
    for name, budget in budgets.items():
        plan = (
            q.QUERIES[name](spark, sf_dir)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        got = plan.count("Exchange")
        assert got <= budget, f"{name}: {got} Exchanges > budget {budget}"


def test_cms_merge_batch_plan_shuffle_budget(spark, tmp_path):
    """The streaming CMS merge (streaming/daily.py:merge_cms_state)
    can't be plan-pinned through the registry (foreachBatch plans live
    inside the micro-batch), so pin what two merges into a fresh state
    table execute: the first lands the batch sketch (ONE bounded
    shuffle of d×w counter rows), the second adds a batch into the
    stored counters (the same shuffle, once per merge leg).  State stays
    ≤ d·w rows however many batches land, so the count must not grow
    with the batch size."""
    from play_bq_gcp_spark.streaming import daily

    for n in (10, 50_000):
        state = str(tmp_path / f"cms_{n}")
        batch = spark.range(n).selectExpr("id % 997 AS user_id")
        before = newest_execution_id(spark)
        daily.merge_cms_state(spark, state, batch, 0)
        daily.merge_cms_state(spark, state, batch, 1)
        got = executed_shuffles(executed_plans(spark, after=before))
        assert got <= 3, f"cms merge of {n} rows: {got} shuffles > 3"


def test_salted_join_splits_zipf_hot_key(spark):
    """The round-8 skew-stress pin (tools/skew_stress.py findings in
    SCALING.md): on a floor-Pareto (zipf s≈2) key distribution where
    the hottest key owns ~50% of rows, salted_join must (a) spread the
    hot key over all n_salts buckets with no bucket holding more than
    2x the per-bucket mean, (b) stay a pure equi-join on (key, salt) —
    no nested-loop or cartesian fallback, and (c) return EXACTLY the
    plain join's result."""
    from play_bq_gcp_spark.operators.skew import _salt_col, salted_join

    n_salts = 16
    u = (F.pmod(F.xxhash64("id"), F.lit(100_000)) + 1) / 100_000.0
    facts = spark.range(200_000).select(
        F.least(F.ceil(1.0 / u), F.lit(1_000)).alias("key"),
        F.pmod(F.xxhash64("id", F.lit(7)), F.lit(1000)).alias("value"),
    )
    dim = spark.range(1, 1_001).select(
        F.col("id").alias("key"), F.pmod("id", F.lit(7)).alias("seg")
    )

    # (a) hot-key spread: every salt bucket materializes, none > 2x mean
    hot = (
        facts.withColumn("__salt", _salt_col(facts, n_salts))
        .filter(F.col("key") == 2)
        .groupBy("__salt")
        .count()
        .collect()
    )
    assert len(hot) == n_salts, "hot key must hit every salt bucket"
    counts = [r["count"] for r in hot]
    mean = sum(counts) / n_salts
    assert max(counts) <= 2 * mean, (max(counts), mean)
    assert sum(counts) > 50_000, "fixture lost its zipf head"

    # (b) plan shape: equi-join carrying the salt in its keys
    joined = salted_join(facts, dim, "key", n_salts=n_salts)
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "__salt" in plan, "salt column must participate in the join"

    # (c) exact equality with the plain join (integer-only payload)
    plain = (
        facts.join(dim, "key")
        .groupBy("seg")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("s"))
    )
    salted = (
        joined.groupBy("seg")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("s"))
    )
    assert sorted(map(tuple, plain.collect())) == sorted(
        map(tuple, salted.collect())
    )


def test_bloom_filter_join_ab_pin(spark, sf_dir):
    """A/B pin for the runtime Bloom-filter join pushdown
    (operators/joins_advanced.runtime_bloom_filter): with the scope's
    thresholds the executed plan carries might_contain/bloom on the
    FACT side; with the feature off it doesn't; results are identical
    both ways, and every touched conf is restored after the scope."""
    from pyspark.sql import functions as F

    from play_bq_gcp_spark.catalog import read_table
    from play_bq_gcp_spark.operators.joins_advanced import (
        bloom_pruned_join,
        runtime_bloom_filter,
    )

    fact = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linestatus", "l_extendedprice"
    )
    dim = read_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    ).select("o_orderkey")

    def agg():
        return (
            bloom_pruned_join(fact, dim, "l_orderkey", "o_orderkey")
            .groupBy("l_linestatus")
            .agg(F.count(F.lit(1)).alias("n"))
        )

    before = {
        k: spark.conf.get(k)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.optimizer.runtime.bloomFilter."
            "applicationSideScanSizeThreshold",
        )
    }
    with runtime_bloom_filter(spark):
        df_on = agg()
        rows_on = sorted(map(tuple, df_on.collect()))
        plan_on = df_on._jdf.queryExecution().executedPlan().toString()
    assert "might_contain" in plan_on.lower(), plan_on[:2000]
    # scope restored every conf it touched
    for k, v in before.items():
        assert spark.conf.get(k) == v

    spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.enabled", "false"
    )
    try:
        df_off = agg()
        rows_off = sorted(map(tuple, df_off.collect()))
        plan_off = df_off._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.unset(
            "spark.sql.optimizer.runtime.bloomFilter.enabled"
        )
    assert "might_contain" not in plan_off.lower()
    assert rows_on == rows_off and rows_on


def test_dpp_join_ab_pin(spark, sf_dir):
    """A/B pin for dynamic partition pruning on the
    join_dpp_partition_pruned shape: with the feature on (default) the
    fact scan's PartitionFilters carry a dynamicpruning expression;
    with it off they don't; results identical both ways."""
    from play_bq_gcp_spark.queries.relational import (
        join_dpp_partition_pruned,
    )

    df_on = join_dpp_partition_pruned(spark, sf_dir)
    rows_on = sorted(map(tuple, df_on.collect()))
    plan_on = df_on._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan_on.lower(), plan_on[:2000]

    spark.conf.set(
        "spark.sql.optimizer.dynamicPartitionPruning.enabled", "false"
    )
    try:
        df_off = join_dpp_partition_pruned(spark, sf_dir)
        rows_off = sorted(map(tuple, df_off.collect()))
        plan_off = df_off._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.unset(
            "spark.sql.optimizer.dynamicPartitionPruning.enabled"
        )
    assert "dynamicpruning" not in plan_off.lower()
    assert rows_on == rows_off and rows_on

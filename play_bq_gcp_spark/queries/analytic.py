"""Multi-table analytic joins (§2.3/§2.4 breadth) plus the below-window rows-
only entries (ANN variants, MMR, streaming suites) and their recall-
floor/exact-twin companions.

Split from the original single-file registry (round 7); behavior and
registration order are unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from play_bq_gcp_spark.functions import money
from play_bq_gcp_spark.operators import aggregates, merge, relational
from play_bq_gcp_spark.queries._registry import QUERIES, ORACLES, QueryFn, register, _t
from play_bq_gcp_spark.queries.llm import _SQL_TOKS

# ---------------------------------------------------------------------------
# Multi-table analytic joins (§2.3/§2.4 breadth: join ordering, broadcast
# dimension chains, join+agg+sort+limit — the shapes BigQuery ran remotely
# for the reference, cf. SURVEY.md §3 entry point 2)
# ---------------------------------------------------------------------------

@register(
    "q3_shipping_priority",
    # Revenue in exact integer ticks (functions/money.py): boundary_scan
    # showed q3-class raw sums landing ON half-cent boundaries on fuzz
    # corpora, and a flipped cent here reorders the top-10.
    """
    SELECT o_orderkey,
           ((sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
                 * (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT)))
             + 50) // 100) / 100.0 AS revenue,
           o_orderdate, o_orderpriority
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1997-06-01'
      AND l_shipdate  > TIMESTAMP '1997-06-01'
    GROUP BY o_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, o_orderkey
    LIMIT 10
    """,
)
def q3_shipping_priority(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q3 shape: selective dim filter → 3-table equi-join chain →
    agg → top-k.  The customer side is filtered to ~1/5 before the join,
    so AQE picks a broadcast for it at small SF; at 100 TB the
    orders⨝lineitem leg stays a shuffle join on the already-filtered
    orders.  Deterministic top-k: revenue is an EXACT integer-cent sum
    (functions/money.py ticks — order-free, engine-portable) so both
    engines order identical values, with o_orderkey as tiebreak."""
    c = _t(spark, sf, "customer").where(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf, "orders").where(
        F.col("o_orderdate") < F.lit("1997-06-01").cast("timestamp")
    )
    l = _t(spark, sf, "lineitem").where(
        F.col("l_shipdate") > F.lit("1997-06-01").cast("timestamp")
    )
    rev_ticks = money.ticks("l_extendedprice") * (
        100 - money.ticks("l_discount")
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(l, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(money.tick_sum(rev_ticks).alias("__sr"))
        .select(
            "o_orderkey",
            (money.half_up_cents("__sr", 100) / 100.0).alias("revenue"),
            "o_orderdate",
            "o_orderpriority",
        )
        .orderBy(F.desc("revenue"), "o_orderkey")
        .limit(10)
    )


@register(
    "q5_region_supplier_volume",
    # Revenue in exact integer ticks (functions/money.py, q10 template).
    """
    SELECT n_name,
           ((sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
                 * (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT)))
             + 50) // 100) / 100.0 AS revenue
    FROM customer, orders, lineitem, supplier, nation, region
    WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      AND l_suppkey = s_suppkey
      AND c_nationkey = s_nationkey AND s_nationkey = n_nationkey
      AND n_regionkey = r_regionkey AND r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1998-01-01'
    GROUP BY n_name
    ORDER BY n_name
    """,
)
def q5_region_supplier_volume(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q5 shape: 6-table join with a dimension chain
    (region→nation→supplier) plus the local-supplier constraint
    c_nationkey = s_nationkey.

    FACT-ANCHORED join order (rewritten r13 after the sf1 ratio run):
    the original plan joined customer into the broadcast dim chain on
    c_nationkey == s_nationkey FIRST — a customers-per-nation ×
    suppliers-per-nation fan-out whose intermediate grows
    QUADRATICALLY with SF (measured 15.8x wall at 10x data; at 100 TB
    it would be the whole job).  Every join below binds a UNIQUE key
    (l→o orderkey, →c custkey, →ASIA-supplier suppkey), so no
    intermediate ever exceeds the lineitem leg, and the local-supplier
    constraint applies as a post-join FILTER with both sides bound —
    multiplicity-free.  Re-measured: 1.45 s at sf1 vs the old plan's
    29.8 s (1.16x wall at 10x data).  region/nation/supplier
    pre-collapse into one broadcast ASIA-supplier dim; Catalyst
    pushes both date predicates into the orders scan."""
    r = _t(spark, sf, "region").where(F.col("r_name") == "ASIA")
    n = _t(spark, sf, "nation")
    s = _t(spark, sf, "supplier")
    sup_asia = F.broadcast(
        s.join(n, s.s_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .select("s_suppkey", "s_nationkey", "n_name")
    )
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    l = _t(spark, sf, "lineitem")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(sup_asia, F.col("l_suppkey") == F.col("s_suppkey"))
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .groupBy("n_name")
        .agg(
            money.tick_sum(
                money.ticks("l_extendedprice") * (100 - money.ticks("l_discount"))
            ).alias("__sr")
        )
        .select(
            "n_name", (money.half_up_cents("__sr", 100) / 100.0).alias("revenue")
        )
        .orderBy("n_name")
    )


@register(
    "text_edit_distance",
    """
    SELECT a.p_brand AS brand, count(*) AS near_pairs,
           min(levenshtein(a.p_name, b.p_name)) AS min_dist
    FROM part a JOIN part b
      ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
    WHERE levenshtein(a.p_name, b.p_name) <= 3
    GROUP BY a.p_brand
    ORDER BY brand
    """,
)
def text_edit_distance(spark: SparkSession, sf: str) -> DataFrame:
    """Edit-distance near-dup pairs via the DISTINCT-VALUE
    decomposition (rewritten r13 after the sf1 probe measured the
    row-level brand self-join at 12.8x wall on 10x data — within-brand
    pairs grow quadratically with the corpus): aggregate to one row
    per (brand, name) with its multiplicity, run codegen'd levenshtein
    on DISTINCT-NAME pairs only, then expand counts exactly —
    same-name groups contribute C(cnt,2) zero-distance pairs, distinct
    near-names cnt_a*cnt_b.  Row-identical to the quadratic reference
    join (the oracle keeps that form), but the lev stage is bounded by
    the name VOCABULARY per brand, not the corpus: re-measured 15.9 s
    → 1.05 s at sf0.1, and 202.7 s → 0.89 s at sf1 — wall-FLAT at 10x
    data.  Honest
    limit: a vocabulary that grows with the corpus degrades this to
    the original; the next tool is ED-Join prefix filtering, and the
    decomposition is exactly what makes that drop-in (filter the
    distinct-pair stage, not the row join)."""
    names = (
        _t(spark, sf, "part")
        .groupBy("p_brand", "p_name")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    a, b = names.alias("a"), names.alias("b")
    dist = F.levenshtein(F.col("a.p_name"), F.col("b.p_name"))
    # distinct near-name pairs (x < y lexically: each unordered name
    # pair once — the row join's p_partkey < p_partkey counts each
    # unordered PART pair once, so the cross multiplicity is cnt*cnt)
    cross = (
        a.join(
            b,
            (F.col("a.p_brand") == F.col("b.p_brand"))
            & (F.col("a.p_name") < F.col("b.p_name")),
        )
        .where(dist <= 3)
        .select(
            F.col("a.p_brand").alias("brand"),
            (F.col("a.cnt") * F.col("b.cnt")).alias("pairs"),
            dist.alias("d"),
        )
    )
    # same-name pairs: C(cnt, 2) at distance 0
    same = names.where(F.col("cnt") >= 2).select(
        F.col("p_brand").alias("brand"),
        (F.col("cnt") * (F.col("cnt") - 1) / 2).cast("long").alias("pairs"),
        F.lit(0).alias("d"),
    )
    return (
        cross.unionByName(same)
        .groupBy("brand")
        .agg(
            F.sum("pairs").alias("near_pairs"),
            F.min("d").alias("min_dist"),
        )
        .orderBy("brand")
    )


@register(
    "agg_correlation",
    """
    SELECT l_returnflag,
           round(corr(l_quantity, l_extendedprice), 4)        AS qty_price_corr,
           round(covar_samp(l_quantity, l_extendedprice), 2)  AS qty_price_covar,
           round(regr_slope(l_extendedprice, l_quantity), 4)  AS price_per_qty
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def agg_correlation(spark: SparkSession, sf: str) -> DataFrame:
    """Bivariate aggregates (corr / covar / regression slope) — single
    shuffle, partial+final merge of the co-moment sketches, so the
    pattern holds unchanged on a 1000-executor cluster."""
    l = _t(spark, sf, "lineitem")
    return (
        l.groupBy("l_returnflag")
        .agg(
            F.round(F.corr("l_quantity", "l_extendedprice"), 4).alias(
                "qty_price_corr"
            ),
            F.round(F.covar_samp("l_quantity", "l_extendedprice"), 2).alias(
                "qty_price_covar"
            ),
            F.round(
                F.regr_slope("l_extendedprice", "l_quantity"), 4
            ).alias("price_per_qty"),
        )
        .orderBy("l_returnflag")
    )


# ---------------------------------------------------------------------------
# Below the driver's 50-entry check window (registration order matters:
# the correctness driver checks the FIRST 50 entries).  These four stay
# registered — runnable by users, timed by bench, validated in pytest —
# but yield their window slots to fully oracle-checked entries: the
# three are rows-only by design (no SQL-expressible twin), and the
# exact-k-NN entry's semantics are now covered more strongly by the
# in-window ``knn_join_lsh`` (whose oracle replays the whole pipeline).
# ---------------------------------------------------------------------------

@register(
    "agg_approx_sketches",
    """
    SELECT l_returnflag,
           CAST(count(DISTINCT l_orderkey) AS BIGINT) AS exact_orders,
           TRUE AS hll_ok, TRUE AS median_ok
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def agg_approx_sketches(spark: SparkSession, sf: str) -> DataFrame:
    """Sketch aggregates with a BOUND-style oracle (the r4 ask: stop
    the perpetual ``err:no_oracle``).  Sketch values are engine-
    specific, so the differential checks what IS portable: the exact
    distinct count per group, plus booleans asserting the HLL++
    estimate (rsd 0.01) lands within 5% of exact and the GK approx
    median within 2% of the exact median — the oracle expects TRUE, so
    a sketch drifting out of tolerance is a driver-visible red, not a
    silent rows-only pass."""
    return aggregates.approx_sketch_bounds(_t(spark, sf, "lineitem"))


def _simhash_oracle_sql() -> str:
    """DuckDB restatement of ``dedup.simhash_pairs`` (md5-bit SimHash).

    Never packs the 64-bit signature: the four 16-bit band keys are
    assembled from the bit votes directly, and hamming distance is the
    sum of per-band ``bit_count(xor(...))`` — the bands partition the
    64 bits, so the sum equals the full-signature hamming while
    staying in INT range (DuckDB's ``<<`` overflows at bit 63)."""
    digit = (
        "position(substr(h, {d}, 1) IN '0123456789abcdef') - 1"
    )
    votes = ",\n    ".join(
        "SUM(CASE WHEN (({dig}) >> {b}) & 1 = 1 THEN 1 ELSE -1 END)"
        " AS b{i}".format(dig=digit.format(d=i // 4 + 1), b=i % 4, i=i)
        for i in range(64)
    )
    keys = ",\n    ".join(
        " + ".join(
            f"(CASE WHEN b{16 * j + t} > 0 THEN {1 << t} ELSE 0 END)"
            for t in range(16)
        )
        + f" AS k{j}"
        for j in range(4)
    )
    ham = " + ".join(f"bit_count(xor(a.k{j}, b.k{j}))" for j in range(4))
    return f"""
WITH tok AS (
  SELECT doc_id, unnest(list_distinct(list_filter(
      string_split_regex(
        regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +'),
      t -> t <> ''))) AS tok
  FROM documents WHERE doc_id % 5 = 0
), th AS (
  SELECT doc_id, md5(tok) AS h FROM tok
), votes AS (
  SELECT doc_id,
    {votes}
  FROM th GROUP BY doc_id
), keys AS (
  SELECT doc_id,
    {keys}
  FROM votes
), banded AS (
  SELECT doc_id, k0, k1, k2, k3, u.band,
    CASE u.band WHEN 0 THEN k0 WHEN 1 THEN k1
                WHEN 2 THEN k2 ELSE k3 END AS key
  FROM keys, (SELECT unnest([0, 1, 2, 3]) AS band) u
), cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
    ({ham})::INT AS hamming
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, hamming FROM cand
WHERE hamming <= 12
ORDER BY doc_a, doc_b
"""


@register("dedup_simhash_pairs", _simhash_oracle_sql())
def dedup_simhash_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Banded SimHash near-dup pairs, oracle-checked: the md5-bit
    signature (operators/dedup.py:simhash) is engine-portable, so the
    DuckDB twin reproduces doc_a/doc_b/hamming exactly."""
    from play_bq_gcp_spark.operators.dedup import simhash_pairs

    docs = _t(spark, sf, "documents").filter(F.col("doc_id") % 5 == 0)
    return simhash_pairs(docs, max_hamming=12).orderBy("doc_a", "doc_b")


# rows-only: ANN recall < 1 by design (no SQL-equivalent result set);
# both ANN layouts in one tagged result — 8-table OR-amplified LSH
# sign-bit buckets with multi-probe (measured recall@10 0.94 at sf0.1
# vs 0.36 single-table), and IVF lists with one Lloyd refinement pass
# probing half the lists (0.88).  Each is separately validated against
# brute force in tests/test_llm_ops.py.
@register("similarity_ann_suite")
def similarity_ann_suite(spark: SparkSession, sf: str) -> DataFrame:
    from play_bq_gcp_spark.operators.similarity import ivf_topk, lsh_topk

    e = _t(spark, sf, "embeddings")
    from play_bq_gcp_spark.catalog import point_embedding

    qvec = point_embedding(sf)
    lsh = lsh_topk(
        e, qvec, k=10, n_planes=6, multi_probe=2, n_tables=8
    ).withColumn("method", F.lit("lsh"))
    ivf = ivf_topk(e, qvec, k=10, n_lists=16, n_probe=8).withColumn(
        "method", F.lit("ivf")
    )
    return lsh.unionByName(ivf).select("method", "vec_id", "cosine")


# Per-method twins of the suite so the bench attributes time to LSH vs
# IVF separately (a regression in either is assignable); same params,
# same recall floors asserted in tests/test_llm_ops.py.
@register("similarity_ann_lsh")
def similarity_ann_lsh(spark: SparkSession, sf: str) -> DataFrame:
    """Permanently rows-only BY DESIGN (approximate result set, no SQL
    twin); recall@10 >= 0.8 is driver-attested via
    ``similarity_ann_recall_floors`` and pinned in pytest."""
    from play_bq_gcp_spark.operators.similarity import lsh_topk

    e = _t(spark, sf, "embeddings")
    from play_bq_gcp_spark.catalog import point_embedding

    qvec = point_embedding(sf)
    return lsh_topk(
        e, qvec, k=10, n_planes=6, multi_probe=2, n_tables=8
    ).select("vec_id", "cosine")


@register("similarity_ann_ivf")
def similarity_ann_ivf(spark: SparkSession, sf: str) -> DataFrame:
    """Permanently rows-only BY DESIGN (approximate result set, no SQL
    twin); recall@10 >= 0.8 is driver-attested via
    ``similarity_ann_recall_floors`` and pinned in pytest."""
    from play_bq_gcp_spark.operators.similarity import ivf_topk

    e = _t(spark, sf, "embeddings")
    from play_bq_gcp_spark.catalog import point_embedding

    qvec = point_embedding(sf)
    return ivf_topk(e, qvec, k=10, n_lists=16, n_probe=8).select(
        "vec_id", "cosine"
    )


@register(
    "similarity_knn_join",
    """
    WITH q AS (
        SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
        FROM embeddings WHERE vec_id % 100 = 0
    ),
    c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings),
    scored AS (
        SELECT query_id, neighbor_id,
               round(list_cosine_similarity(qv, cv), 6) AS cosine
        FROM q JOIN c ON query_id <> neighbor_id
    )
    SELECT query_id, neighbor_id, cosine,
           row_number() OVER (
               PARTITION BY query_id ORDER BY cosine DESC, neighbor_id
           ) AS rank
    FROM scored
    QUALIFY rank <= 5
    ORDER BY query_id, rank
    """,
)
def similarity_knn_join(spark: SparkSession, sf: str) -> DataFrame:
    """Batch k-NN join: exact top-5 neighbors for every sampled query
    vector in one plan (broadcast queries × corpus + one window)."""
    from play_bq_gcp_spark.operators.similarity import knn_join_bruteforce

    e = _t(spark, sf, "embeddings")
    qs = e.filter(F.col("vec_id") % 100 == 0)
    return knn_join_bruteforce(qs, e, k=5).orderBy("query_id", "rank")


@register(
    "rest_stream_ingest",
    """
    WITH n AS (SELECT unnest(range(0, 200))::BIGINT AS n),
    h AS (SELECT n, (n * 2654435761 + 7) % 2147483648 AS h FROM n)
    SELECT 'CUSA' || lpad(n::VARCHAR, 5, '0') || '_00' AS title_id,
           'ps4_game_' || (h % 7) AS category,
           (h % 500) + 1 AS play_count,
           TIMESTAMP '2024-01-01' + (h % 8760) * INTERVAL 1 HOUR
               AS first_played_date_time
    FROM h ORDER BY title_id
    """,
)
def rest_stream_ingest(spark: SparkSession, sf: str) -> DataFrame:
    """S1 × §2.8: the SAME paged API consumed as a STREAM — the Python
    DataSource's streamReader exposes page numbers as offsets (the
    persisted cursor of a tail-the-export-endpoint pipeline), each
    micro-batch pulling the pages published since the last, grouped
    into partitions of at most the token bucket's burst (five pages)
    through the full HTTP seam.  Four pages arrive over four genuine
    micro-batches (pages_per_batch=1, so one page and one task per
    batch; asserted in tests); the oracle replays the fake's page
    arithmetic, so cursor progression, client, parsing, and typing are
    all value-checked."""
    import tempfile
    import time
    import uuid

    from play_bq_gcp_spark.sources.psn_datasource import (
        GameSnapshotDataSource,
    )

    spark.dataSource.register(GameSnapshotDataSource)
    stream = (
        spark.readStream.format("game_snapshot")
        .option("total_pages", 4)
        .option("pages_per_batch", 1)
        .option("page_size", 50)
        .load()
    )
    name = f"s_{uuid.uuid4().hex[:12]}"
    with tempfile.TemporaryDirectory() as ckpt:
        q = (
            stream.writeStream.format("memory")
            .queryName(name)
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="50 milliseconds")
            .start()
        )
        # the cursor advances one page per poll; drain to the end
        # (availableNow would snapshot only the FIRST poll's offset)
        deadline = time.time() + 120
        while time.time() < deadline:
            if spark.table(name).count() >= 200:
                break
            time.sleep(0.2)
        q.stop()
        q.awaitTermination(30)
    out = (
        spark.table(name)
        .select(
            "title_id", "category", "play_count", "first_played_date_time"
        )
        .orderBy("title_id")
        .localCheckpoint(eager=True)
    )
    spark.catalog.dropTempView(name)
    return out


@register(
    "rest_source_snapshot",
    """
    WITH n AS (SELECT unnest(range(0, 200))::BIGINT AS n),
    h AS (SELECT n, (n * 2654435761 + 7) % 2147483648 AS h FROM n)
    SELECT 'CUSA' || lpad(n::VARCHAR, 5, '0') || '_00' AS title_id,
           'Game ' || n AS title_name,
           'https://img.example/' || n || '.png' AS image,
           'ps4_game_' || (h % 7) AS category,
           TIMESTAMP '2024-01-01' + (h % 8760) * INTERVAL 1 HOUR
               AS first_played_date_time,
           TIMESTAMP '2024-01-01'
               + ((h % 8760) + ((h // 8) % 2000)) * INTERVAL 1 HOUR
               AS last_played_date_time,
           (h % 500) + 1 AS play_count,
           ((h % 360000) + 60)::DOUBLE AS play_duration_seconds
    FROM h ORDER BY title_id
    """,
)
def rest_source_snapshot(spark: SparkSession, sf: str) -> DataFrame:
    """S1 end-to-end through the Spark 4 Python DataSource: 4 API pages
    → one input partition (pages are grouped up to the token bucket's
    burst of five), fetched in order through the full HTTP seam
    (per-task RestClient + token bucket + retries over the offline
    transport).  The fake's page arithmetic is replayed in SQL, so the
    oracle checks the ENTIRE source path — partitioning, client,
    parsing, typing — value-for-value.  (Below the driver's 50-entry
    window; checked by tools/compare.py.)"""
    from play_bq_gcp_spark.sources.psn_datasource import (
        GameSnapshotDataSource,
    )

    spark.dataSource.register(GameSnapshotDataSource)
    return (
        spark.read.format("game_snapshot")
        .option("pages", 4)
        .option("page_size", 50)
        .load()
        .orderBy("title_id")
    )


def _profile_oracle_sql() -> str:
    """Per-column profile legs share ONE aggregate CTE, mirroring the
    single wide-agg pass of operators/profiling.profile_table."""
    cols = ("doc_id", "lang", "n_chars", "source", "text")
    aggs = ", ".join(
        f"CAST(sum(({c} IS NULL)::BIGINT) AS BIGINT) AS nulls_{c}, "
        f"count(DISTINCT {c}) AS dist_{c}, "
        f"min({c}::VARCHAR) AS min_{c}, max({c}::VARCHAR) AS max_{c}"
        for c in cols
    )
    legs = "\n    UNION ALL\n".join(
        f"""    SELECT '{c}' AS "column", n_rows, nulls_{c} AS n_nulls,
           round(nulls_{c} / greatest(n_rows, 1)::DOUBLE, 6) AS null_frac,
           dist_{c} AS n_distinct,
           min_{c} AS min_value, max_{c} AS max_value
    FROM s"""
        for c in cols
    )
    return (
        f"WITH s AS (SELECT count(*) AS n_rows, {aggs} FROM documents)\n"
        f"{legs}\n    ORDER BY \"column\""
    )


@register("profile_documents", _profile_oracle_sql())
def profile_documents(spark: SparkSession, sf: str) -> DataFrame:
    """One-pass column profiler (operators/profiling.profile_table) in
    its exact form: per-column rows/nulls/null-frac/distinct/min/max
    from a single wide aggregation — rows scanned once, one 1-row
    shuffle, driver-free explode to long form.  The default
    (approx_count_distinct) is the 100 TB path; ``exact=True`` is the
    differential-check twin.  (Below the driver's 50-entry window;
    checked by tools/compare.py.)"""
    from play_bq_gcp_spark.operators.profiling import profile_table

    return profile_table(_t(spark, sf, "documents"), exact=True).orderBy(
        "column"
    )


@register(
    "text_lm_fluency",
    f"""
    WITH tok AS (SELECT doc_id, {_SQL_TOKS} AS tk FROM documents),
    bg AS (
        SELECT doc_id,
               unnest(list_transform(
                   range(1, len(tk)), i -> tk[i] || ' ' || tk[i + 1]
               )) AS bg
        FROM tok
    ),
    bgc AS (SELECT bg, count(*) AS c_bg FROM bg GROUP BY bg),
    uni AS (SELECT unnest(tk) AS w FROM tok),
    unic AS (SELECT w, count(*) AS c_w FROM uni GROUP BY w),
    v AS (SELECT count(*)::DOUBLE AS v FROM unic),
    scored AS (
        SELECT doc_id,
               -ln((coalesce(c_bg, 0) + 1.0)
                   / (coalesce(c_w, 0) + 1.0 * v)) AS nll
        FROM bg
        LEFT JOIN bgc USING (bg)
        LEFT JOIN unic ON split_part(bg, ' ', 1) = w
        CROSS JOIN v
    )
    SELECT doc_id, round(avg(nll), 4) AS lm_score,
           count(*) AS n_bigrams
    FROM scored GROUP BY doc_id ORDER BY doc_id
    """,
)
def text_lm_fluency(spark: SparkSession, sf: str) -> DataFrame:
    """Bigram-LM fluency scoring (operators/text.lm_perplexity_score):
    add-alpha-smoothed mean bigram NLL per document — the classic cheap
    LM quality filter, model-as-aggregate (two explode→groupBy passes,
    no driver materialization).  The oracle replays counts, smoothing,
    and the mean in SQL.  (Below the driver's 50-entry window; checked
    by tools/compare.py.)"""
    from play_bq_gcp_spark.operators.text import lm_perplexity_score

    return lm_perplexity_score(_t(spark, sf, "documents"), alpha=1.0).orderBy(
        "doc_id"
    )


@register(
    "streaming_timeout_sessions",
    """
    WITH b AS (
        SELECT user_id, ts,
               CASE WHEN epoch(ts) - epoch(lag(ts) OVER w) > 1800
                         OR lag(ts) OVER w IS NULL
                    THEN 1 ELSE 0 END AS boundary
        FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    s AS (
        SELECT user_id, ts,
               sum(boundary) OVER (
                   PARTITION BY user_id ORDER BY ts
                   ROWS UNBOUNDED PRECEDING
               ) AS sid
        FROM b
    ),
    agg AS (
        SELECT user_id, sid, count(*) AS n_events,
               epoch_us(min(ts)) AS start_us, epoch_us(max(ts)) AS end_us
        FROM s GROUP BY user_id, sid
    ),
    wm AS (SELECT (epoch_us(max(ts)) // 1000) * 1000 AS wm_us FROM events),
    mx AS (SELECT user_id, max(sid) AS last_sid FROM agg GROUP BY user_id)
    SELECT user_id, n_events, start_us, end_us
    FROM agg JOIN mx USING (user_id) CROSS JOIN wm
    WHERE sid < last_sid OR end_us + 1800000000 <= wm_us
    ORDER BY user_id, start_us
    """,
)
def streaming_timeout_sessions(spark: SparkSession, sf: str) -> DataFrame:
    """§2.9 GroupStateTimeout.EventTimeTimeout sessionization
    (streaming/stateful.session_close_on_timeout): per-user sessions
    close when a later row opens the next one OR the watermark passes
    session end + gap; sessions still inside the horizon at stream end
    stay in state, unemitted.  The oracle is batch sessionize plus the
    final-watermark closure rule — non-last sessions always emit, the
    last session only if the (ms-truncated) global-max watermark passed
    its end + gap.  (Below the driver's 50-entry window; checked by
    tools/compare.py.)"""
    from play_bq_gcp_spark.streaming.stateful import session_close_on_timeout

    return session_close_on_timeout(spark, sf, gap_s=1800, n_chunks=4).orderBy(
        "user_id", "start_us"
    )


@register(
    "streaming_tws_liststate",
    """
    WITH ranked AS (
        SELECT user_id, event_id, epoch_us(ts) AS ts_us,
               row_number() OVER (
                   PARTITION BY user_id ORDER BY ts DESC, event_id DESC
               ) AS pos,
               count(*) OVER (PARTITION BY user_id) AS n_seen
        FROM events
    )
    SELECT user_id, n_seen, pos::INT AS pos, event_id, ts_us
    FROM ranked WHERE pos <= 3
    ORDER BY user_id, pos
    """,
)
def streaming_tws_liststate(spark: SparkSession, sf: str) -> DataFrame:
    """Typed LIST STATE on the Spark-4 arbitrary-state API
    (streaming/stateful.recent_events_tws): per-user most-recent-3
    buffer merged and trimmed across 4 genuine micro-batches — with
    ValueState, MapState, and timers this completes the API's
    state-type coverage.  Final buffer must equal the batch
    top-3-by-event-time truth."""
    from play_bq_gcp_spark.streaming.stateful import recent_events_tws

    return recent_events_tws(spark, sf, k=3)


@register(
    "streaming_tws_mapstate",
    """
    SELECT user_id, event_type, count(*) AS n_events,
           round(sum(value), 4) AS total_value
    FROM events
    GROUP BY user_id, event_type
    ORDER BY user_id, event_type
    """,
)
def streaming_tws_mapstate(spark: SparkSession, sf: str) -> DataFrame:
    """Typed MAP STATE on the Spark-4 arbitrary-state API
    (streaming/stateful.per_type_user_stats_tws): per-user map of
    event_type → running (count, sum) updated across 4 genuine
    micro-batches — the keyed-substate surface GroupState cannot type.
    Final map must equal the batch GROUP BY truth."""
    from play_bq_gcp_spark.streaming.stateful import per_type_user_stats_tws

    return per_type_user_stats_tws(spark, sf)


@register(
    "streaming_left_outer_interval_join",
    """
    WITH p AS (
        SELECT event_id AS purchase_id, user_id AS p_user, ts AS p_ts
        FROM events WHERE event_type = 'purchase'
    ),
    c AS (
        SELECT event_id AS click_id, user_id AS c_user, ts AS c_ts
        FROM events WHERE event_type = 'click'
    ),
    j AS (
        SELECT p.purchase_id, c.click_id, p.p_user, p.p_ts, c.c_ts
        FROM p LEFT JOIN c
          ON p.p_user = c.c_user AND c.c_ts <= p.p_ts
             AND c.c_ts >= p.p_ts - INTERVAL 30 MINUTE
    ),
    wm AS (
        SELECT least(
            (SELECT (epoch_us(max(p_ts)) // 1000) * 1000 FROM p),
            (SELECT (epoch_us(max(c_ts)) // 1000) * 1000 FROM c)
        ) - 3600000000 AS wm_us
    )
    SELECT purchase_id, click_id, p_user, p_ts, c_ts
    FROM j CROSS JOIN wm
    WHERE click_id IS NOT NULL OR epoch_us(p_ts) <= wm_us
    ORDER BY purchase_id, click_id
    """,
)
def streaming_left_outer_interval_join(spark: SparkSession, sf: str) -> DataFrame:
    """Stream-stream LEFT OUTER interval join (§2.8 — the outer-state
    eviction path the inner join never exercises): purchases with no
    same-user click in the prior 30 min emit NULL-completed once the
    watermark proves no future match; unmatched purchases past the
    final watermark stay buffered, exactly what a restart resumes.
    Oracle: batch left join + the final-watermark emission rule
    (ms-truncated min of both sides' max event time − 1 h)."""
    from play_bq_gcp_spark.streaming.daily import (
        purchase_click_left_outer_join,
    )

    return purchase_click_left_outer_join(spark, sf)


@register(
    "streaming_full_outer_interval_join",
    """
    WITH p AS (
        SELECT event_id AS purchase_id, user_id AS p_user, ts AS p_ts
        FROM events WHERE event_type = 'purchase'
    ),
    c AS (
        SELECT event_id AS click_id, user_id AS c_user, ts AS c_ts
        FROM events WHERE event_type = 'click'
    ),
    j AS (
        SELECT p.purchase_id, c.click_id, p.p_user, c.c_user,
               p.p_ts, c.c_ts
        FROM p FULL JOIN c
          ON p.p_user = c.c_user AND c.c_ts <= p.p_ts
             AND c.c_ts >= p.p_ts - INTERVAL 30 MINUTE
    ),
    wm AS (
        SELECT least(
            (SELECT (epoch_us(max(p_ts)) // 1000) * 1000 FROM p),
            (SELECT (epoch_us(max(c_ts)) // 1000) * 1000 FROM c)
        ) - 3600000000 AS wm_us
    )
    SELECT purchase_id, click_id, p_user, c_user, p_ts, c_ts
    FROM j CROSS JOIN wm
    WHERE (purchase_id IS NOT NULL AND click_id IS NOT NULL)
       OR (click_id IS NULL AND epoch_us(p_ts) <= wm_us)
       OR (purchase_id IS NULL
           AND epoch_us(c_ts) + 1800000000 <= wm_us)
    ORDER BY purchase_id, click_id
    """,
)
def streaming_full_outer_interval_join(
    spark: SparkSession, sf: str
) -> DataFrame:
    """Stream-stream FULL OUTER interval join (§2.8 — completes the
    inner/left/full outer family): both sides null-complete, each on
    its own watermark horizon (purchase time for the left side, click
    time + 30 min for the right).  Oracle: batch FULL JOIN + the
    final-watermark emission rule per side
    (streaming/daily.py:purchase_click_full_outer_join)."""
    from play_bq_gcp_spark.streaming.daily import (
        purchase_click_full_outer_join,
    )

    return purchase_click_full_outer_join(spark, sf)


@register(
    "streaming_right_outer_interval_join",
    """
    WITH p AS (
        SELECT event_id AS purchase_id, user_id AS p_user, ts AS p_ts
        FROM events WHERE event_type = 'purchase'
    ),
    c AS (
        SELECT event_id AS click_id, user_id AS c_user, ts AS c_ts
        FROM events WHERE event_type = 'click'
    ),
    j AS (
        SELECT p.purchase_id, c.click_id, c.c_user, p.p_ts, c.c_ts
        FROM p RIGHT JOIN c
          ON p.p_user = c.c_user AND c.c_ts <= p.p_ts
             AND c.c_ts >= p.p_ts - INTERVAL 30 MINUTE
    ),
    wm AS (
        SELECT least(
            (SELECT (epoch_us(max(p_ts)) // 1000) * 1000 FROM p),
            (SELECT (epoch_us(max(c_ts)) // 1000) * 1000 FROM c)
        ) - 3600000000 AS wm_us
    )
    SELECT purchase_id, click_id, c_user, p_ts, c_ts
    FROM j CROSS JOIN wm
    WHERE purchase_id IS NOT NULL
       OR epoch_us(c_ts) + 1800000000 <= wm_us
    ORDER BY click_id, purchase_id
    """,
)
def streaming_right_outer_interval_join(
    spark: SparkSession, sf: str
) -> DataFrame:
    """Stream-stream RIGHT OUTER interval join — the mirror of the
    left-outer entry; unmatched clicks null-complete once the watermark
    passes click time + 30 min (the last instant a purchase could still
    match).  Oracle: batch RIGHT JOIN + that emission rule
    (streaming/daily.py:purchase_click_right_outer_join)."""
    from play_bq_gcp_spark.streaming.daily import (
        purchase_click_right_outer_join,
    )

    return purchase_click_right_outer_join(spark, sf)


@register(
    "streaming_left_semi_interval_join",
    """
    SELECT p.event_id AS purchase_id,
           p.user_id  AS p_user,
           p.ts       AS p_ts
    FROM events p
    WHERE p.event_type = 'purchase'
      AND EXISTS (
          SELECT 1 FROM events c
          WHERE c.event_type = 'click'
            AND c.user_id = p.user_id
            AND c.ts <= p.ts
            AND c.ts >= p.ts - INTERVAL 30 MINUTE
      )
    ORDER BY purchase_id
    """,
)
def streaming_left_semi_interval_join(
    spark: SparkSession, sf: str
) -> DataFrame:
    """Stream-stream LEFT SEMI interval join (§2.8 — with inner, left,
    right, and full outer this is the complete stream-join family):
    each purchase with at least one same-user click in the prior 30
    minutes emits once, left columns only, on first match — matched
    left state drops immediately instead of buffering for more
    matches, the smallest-state join of the family.  Oracle: batch
    EXISTS — no watermark horizon term, because semi emission happens
    on match arrival, never on watermark
    (streaming/daily.py:purchase_click_left_semi_join)."""
    from play_bq_gcp_spark.streaming.daily import (
        purchase_click_left_semi_join,
    )

    return purchase_click_left_semi_join(spark, sf)


@register(
    "text_boilerplate_spans",
    f"""
    WITH tok AS (
        SELECT doc_id, unnest(tk) AS t, generate_subscripts(tk, 1) AS pos
        FROM (SELECT doc_id, {_SQL_TOKS} AS tk FROM documents)
    ),
    sh AS (
        SELECT DISTINCT doc_id,
               t || ' ' || lead(t, 1) OVER w || ' ' || lead(t, 2) OVER w || ' ' || lead(t, 3) OVER w || ' ' || lead(t, 4) OVER w || ' ' || lead(t, 5) OVER w || ' ' || lead(t, 6) OVER w || ' ' || lead(t, 7) OVER w AS s
        FROM tok WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
        QUALIFY lead(t, 7) OVER w IS NOT NULL
    ),
    spans AS (
        SELECT s, count(DISTINCT doc_id) AS n_docs, min(doc_id) AS sample
        FROM sh GROUP BY s HAVING count(DISTINCT doc_id) >= 3
    )
    SELECT CAST(n_docs AS BIGINT) AS n_docs,
           CAST(count(*) AS BIGINT) AS n_spans,
           min(sample) AS sample_doc
    FROM spans GROUP BY n_docs ORDER BY n_docs
    """,
)
def text_boilerplate_spans(spark: SparkSession, sf: str) -> DataFrame:
    """Boilerplate mining (operators/text.py:boilerplate_spans): word
    8-grams shared by >= 3 distinct documents, summarized per
    document-frequency level.  Grams travel as xxhash64 chains in
    Spark; the oracle mines the SAME spans as strings — counts agree
    because the chained 64-bit hash is collision-free at corpus scale
    (the decontaminate entry's precedent)."""
    from play_bq_gcp_spark.operators.text import boilerplate_spans

    return boilerplate_spans(_t(spark, sf, "documents"))


@register(
    "quality_referential_integrity",
    """
    WITH edges AS (
      SELECT 'lineitem.orderkey' AS edge,
             (SELECT CAST(count(*) AS BIGINT) FROM lineitem) AS n_child,
             (SELECT CAST(sum((l_orderkey IS NULL)::BIGINT) AS BIGINT)
                FROM lineitem) AS n_null_fk,
             (SELECT CAST(count(*) AS BIGINT) FROM lineitem
               WHERE l_orderkey IS NOT NULL
                 AND l_orderkey NOT IN (SELECT o_orderkey FROM orders))
                 AS n_orphans
      UNION ALL
      SELECT 'lineitem.partkey',
             (SELECT CAST(count(*) AS BIGINT) FROM lineitem),
             (SELECT CAST(sum((l_partkey IS NULL)::BIGINT) AS BIGINT)
                FROM lineitem),
             (SELECT CAST(count(*) AS BIGINT) FROM lineitem
               WHERE l_partkey IS NOT NULL
                 AND l_partkey NOT IN (SELECT p_partkey FROM part))
      UNION ALL
      SELECT 'lineitem.suppkey',
             (SELECT CAST(count(*) AS BIGINT) FROM lineitem),
             (SELECT CAST(sum((l_suppkey IS NULL)::BIGINT) AS BIGINT)
                FROM lineitem),
             (SELECT CAST(count(*) AS BIGINT) FROM lineitem
               WHERE l_suppkey IS NOT NULL
                 AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier))
      UNION ALL
      SELECT 'orders.custkey',
             (SELECT CAST(count(*) AS BIGINT) FROM orders),
             (SELECT CAST(sum((o_custkey IS NULL)::BIGINT) AS BIGINT)
                FROM orders),
             (SELECT CAST(count(*) AS BIGINT) FROM orders
               WHERE o_custkey IS NOT NULL
                 AND o_custkey NOT IN (SELECT c_custkey FROM customer))
      UNION ALL
      SELECT 'customer.nationkey',
             (SELECT CAST(count(*) AS BIGINT) FROM customer),
             (SELECT CAST(sum((c_nationkey IS NULL)::BIGINT) AS BIGINT)
                FROM customer),
             (SELECT CAST(count(*) AS BIGINT) FROM customer
               WHERE c_nationkey IS NOT NULL
                 AND c_nationkey NOT IN (SELECT n_nationkey FROM nation))
      UNION ALL
      SELECT 'nation.regionkey',
             (SELECT CAST(count(*) AS BIGINT) FROM nation),
             (SELECT CAST(sum((n_regionkey IS NULL)::BIGINT) AS BIGINT)
                FROM nation),
             (SELECT CAST(count(*) AS BIGINT) FROM nation
               WHERE n_regionkey IS NOT NULL
                 AND n_regionkey NOT IN (SELECT r_regionkey FROM region))
    )
    SELECT edge, n_child, n_null_fk, n_orphans,
           n_orphans = 0 AS intact
    FROM edges ORDER BY edge
    """,
)
def quality_referential_integrity(spark: SparkSession, sf: str) -> DataFrame:
    """Foreign-key orphan audit over the star schema's six edges
    (operators/profiling.py:referential_integrity): per edge, child
    rows, NULL FKs, dangling FKs, and an intact boolean — the standing
    post-load data-quality gate.  Each edge is one left-anti join
    (dims broadcast); output is six rows."""
    from play_bq_gcp_spark.operators.profiling import referential_integrity

    li = _t(spark, sf, "lineitem")
    return referential_integrity([
        ("customer.nationkey", _t(spark, sf, "customer"), "c_nationkey",
         _t(spark, sf, "nation"), "n_nationkey"),
        ("lineitem.orderkey", li, "l_orderkey",
         _t(spark, sf, "orders"), "o_orderkey"),
        ("lineitem.partkey", li, "l_partkey",
         _t(spark, sf, "part"), "p_partkey"),
        ("lineitem.suppkey", li, "l_suppkey",
         _t(spark, sf, "supplier"), "s_suppkey"),
        ("nation.regionkey", _t(spark, sf, "nation"), "n_regionkey",
         _t(spark, sf, "region"), "r_regionkey"),
        ("orders.custkey", _t(spark, sf, "orders"), "o_custkey",
         _t(spark, sf, "customer"), "c_custkey"),
    ])


# Oracle generated from the operator's own span constant so a span
# change breaks loudly in both engines at once (advisor r5: the
# hardcoded 15/16/65536 literals silently diverged on any span edit).
from play_bq_gcp_spark.operators.behavior import EWMA_SPAN as _EWMA_SPAN  # noqa: E402


@register(
    "events_ewma_daily",
    f"""
    WITH daily AS (
      SELECT user_id AS k, CAST(date_trunc('day', ts) AS DATE) AS day,
             CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
                 AS cents,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY CAST(date_trunc('day', ts) AS DATE))
                 AS rn
      FROM events GROUP BY 1, 2
    )
    SELECT a.k AS user_id, a.day,
           CAST(sum(b.cents * CAST(pow(2, {_EWMA_SPAN - 1} - (a.rn - b.rn))
                   AS BIGINT)) AS BIGINT) AS ewma_num,
           CAST({2 ** _EWMA_SPAN} - CAST(pow(2, {_EWMA_SPAN} - count(*))
                   AS BIGINT) AS BIGINT) AS ewma_den,
           round(sum(b.cents * CAST(pow(2, {_EWMA_SPAN - 1} - (a.rn - b.rn))
                     AS BIGINT))
                 / ({2 ** _EWMA_SPAN} - CAST(pow(2, {_EWMA_SPAN} - count(*))
                     AS BIGINT))
                 / 100.0, 4) AS ewma_value
    FROM daily a JOIN daily b
      ON a.k = b.k AND b.rn <= a.rn AND b.rn > a.rn - {_EWMA_SPAN}
    GROUP BY a.k, a.day
    ORDER BY user_id, a.day
    """,
)
def events_ewma_daily(spark: SparkSession, sf: str) -> DataFrame:
    """Per-user exponentially smoothed daily spend
    (operators/behavior.py:ewma_daily): alpha=1/2 truncated to the
    trailing 16 observed days, dyadic integer weights so numerator and
    denominator are exact in both engines; the smoothed value divides
    once at the output boundary."""
    from play_bq_gcp_spark.operators.behavior import ewma_daily

    return ewma_daily(_t(spark, sf, "events"))


@register(
    "scan_provenance_files",
    """
    SELECT 'orders.parquet' AS source_file,
           CAST(count(*) AS BIGINT) AS n_rows,
           min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
    FROM orders
    """,
)
def scan_provenance_files(spark: SparkSession, sf: str) -> DataFrame:
    """Row provenance at file granularity: every scanned row tagged
    with its source file (``F.input_file_name`` — zero-cost metadata,
    no extra I/O), rolled up to per-file row counts and key ranges.
    The audit behind "which landed file produced these rows" — at
    100 TB the same query scoped to one partition answers incident
    triage without re-reading the table.  The path reduces to its
    basename so staging location can't leak into the hash; the oracle
    exploits that every fixture table is a single file (one group,
    known name) — multi-file grouping is pinned separately in pytest
    on a directory-shaped table."""
    o = _t(spark, sf, "orders")
    return (
        o.withColumn(
            "source_file",
            F.regexp_extract(F.input_file_name(), r"([^/]+)$", 1),
        )
        .groupBy("source_file")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("o_orderkey").alias("min_key"),
            F.max("o_orderkey").alias("max_key"),
        )
        .orderBy("source_file")
    )


@register(
    "text_lang_confusion_matrix",
    f"""
    WITH tok AS (
        SELECT doc_id, lang, text, list_distinct({_SQL_TOKS}) AS dt
        FROM documents
    ), scores AS (
        SELECT doc_id, lang, text,
               len(list_intersect(dt, ['the','and','of','to','a','in','is','it','that','for'])) AS s_en,
               len(list_intersect(dt, ['der','die','das','und','ist','von','mit','ein','zu','den'])) AS s_de,
               len(list_intersect(dt, ['le','la','les','et','de','un','une','est','pour','dans'])) AS s_fr,
               len(list_intersect(dt, ['el','la','los','las','y','de','un','una','es','para'])) AS s_es
        FROM tok
    ), pred AS (
        SELECT doc_id, lang AS labeled,
           CASE WHEN regexp_matches(text, '[\\x{{4e00}}-\\x{{9fff}}]') THEN 'zh'
                WHEN greatest(s_en, s_de, s_fr, s_es) = 0 THEN 'und'
                WHEN s_en = greatest(s_en, s_de, s_fr, s_es) THEN 'en'
                WHEN s_de = greatest(s_en, s_de, s_fr, s_es) THEN 'de'
                WHEN s_fr = greatest(s_en, s_de, s_fr, s_es) THEN 'fr'
                ELSE 'es' END AS predicted
        FROM scores
    )
    SELECT labeled, predicted,
           CAST(count(*) AS BIGINT) AS n,
           CAST((count(*) * 1000000)
                // sum(count(*)) OVER (PARTITION BY labeled)
               AS BIGINT) AS row_share_ppm,
           labeled = predicted AS is_correct
    FROM pred
    GROUP BY labeled, predicted
    ORDER BY labeled, predicted
    """,
)
def text_lang_confusion_matrix(spark: SparkSession, sf: str) -> DataFrame:
    """Model-evaluation shape over the labeled corpus: the heuristic
    language classifier (operators/text.py:lang_id) confused against
    the ``lang`` labels — per (labeled, predicted) cell, count, exact
    integer-ppm row share, and the diagonal flag.  The evaluation
    pattern every classifier in the curation stack reports through;
    one small aggregate over the per-doc scan, no shuffle beyond it."""
    from pyspark.sql import Window

    from play_bq_gcp_spark.operators.text import lang_id

    pred = lang_id(_t(spark, sf, "documents")).select(
        F.col("lang").alias("labeled"),
        F.col("pred_lang").alias("predicted"),
    )
    w = Window.partitionBy("labeled")
    return (
        pred.groupBy("labeled", "predicted")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn(
            "row_share_ppm",
            F.floor(
                (F.col("n") * 1000000) / F.sum("n").over(w)
            ).cast("long"),
        )
        .withColumn("is_correct", F.col("labeled") == F.col("predicted"))
        .orderBy("labeled", "predicted")
    )


@register(
    "dedup_containment_pairs",
    f"""
    WITH aug AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 20000000, array_to_string(tk[1:len(tk) // 2], ' ')
        FROM (SELECT doc_id, {_SQL_TOKS} AS tk FROM documents)
        WHERE doc_id % 10 = 0 AND len(tk) >= 6
    ),
    tkv AS (
        SELECT doc_id,
               list_filter(string_split_regex(regexp_replace(lower(text),
                   '[^a-z0-9 ]', ' ', 'g'), ' +'), x -> x <> '') AS tk
        FROM aug
    ),
    tok AS (
        SELECT doc_id, unnest(tk) AS t, generate_subscripts(tk, 1) AS pos
        FROM tkv
    ),
    sh AS (
        SELECT DISTINCT doc_id,
               t || ' ' || lead(t, 1) OVER w || ' ' || lead(t, 2) OVER w AS s
        FROM tok WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
        QUALIFY lead(t, 2) OVER w IS NOT NULL
        -- engine twin: <3-token docs collapse to one whole-doc shingle
        -- (operators/text.py shingle_hashes, r10 short-doc audit)
        UNION ALL
        SELECT doc_id, array_to_string(tk, ' ') AS s
        FROM tkv WHERE len(tk) BETWEEN 1 AND 2
    ),
    sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
        FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           round(i::DOUBLE / least(x.n, y.n), 4) AS containment
    FROM inter
    JOIN sz x ON x.doc_id = doc_a
    JOIN sz y ON y.doc_id = doc_b
    WHERE round(i::DOUBLE / least(x.n, y.n), 4) >= 0.8
    ORDER BY doc_a, doc_b
    """,
)
def dedup_containment_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Containment near-dup (operators/dedup.py:containment_pairs):
    |A∩B| / min set size over trigram shingles, catching truncated
    reposts Jaccard misses.  Input plants every 10th doc re-ingested
    as its FIRST-HALF token prefix (containment 1.0, Jaccard ~0.5);
    the oracle computes exact all-pairs containment over the same
    augmented corpus — the rare-shingle candidate index must reach
    recall 1.0 for the hash to match."""
    from play_bq_gcp_spark.operators.dedup import containment_pairs
    from play_bq_gcp_spark.operators.text import tokens

    d = _t(spark, sf, "documents").select("doc_id", "text")
    toks = tokens(F.col("text"))
    half = F.array_join(
        F.slice(toks, 1, F.floor(F.size(toks) / 2).cast("int")), " "
    )
    aug = d.unionByName(
        d.filter((F.col("doc_id") % 10 == 0) & (F.size(toks) >= 6)).select(
            (F.col("doc_id") + 20000000).alias("doc_id"),
            half.alias("text"),
        )
    )
    return containment_pairs(aug, threshold=0.8).orderBy("doc_a", "doc_b")


# Governor-engaged containment (r9 verdict ask #3): the candidate-volume
# governor's FITTED df cap is deterministic given the corpus, so the
# oracle can replay the whole sizing formula in SQL — cap0 =
# greatest(16, n // 200), cumulative pair volume from the df histogram,
# fitted = max(16, largest d with cumvol <= budget) when vol(cap0)
# exceeds the budget — and a governor-engaged run stays
# differential-checkable instead of logged-divergent.  The x8
# text-identical replication models boilerplate-at-web-scale (df
# multiplies with the corpus instead of diluting), and the explicit
# 200k candidate budget makes the governor engage at EVERY fixture SF
# (measured vol(cap0): 827k/809k/88.3M at sf0.001/0.01/0.1 — all over
# budget).  The companion all-pairs entry above keeps the stronger
# recall-1.0 check on the ungoverned arm.
_CONTAIN_GOV_R = 8
_CONTAIN_GOV_BUDGET = 200_000


@register(
    "dedup_containment_governed",
    f"""
    WITH aug AS (
        SELECT doc_id * {_CONTAIN_GOV_R} + r AS doc_id, text
        FROM documents
        CROSS JOIN (SELECT unnest(generate_series(0, {_CONTAIN_GOV_R - 1})) AS r)
    ),
    tkv AS (
        SELECT doc_id,
               list_filter(string_split_regex(regexp_replace(lower(text),
                   '[^a-z0-9 ]', ' ', 'g'), ' +'), x -> x <> '') AS tk
        FROM aug
    ),
    tok AS (
        SELECT doc_id, unnest(tk) AS t, generate_subscripts(tk, 1) AS pos
        FROM tkv
    ),
    sh AS (
        SELECT DISTINCT doc_id,
               t || ' ' || lead(t, 1) OVER w || ' ' || lead(t, 2) OVER w AS s
        FROM tok WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
        QUALIFY lead(t, 2) OVER w IS NOT NULL
        -- engine twin: <3-token docs collapse to one whole-doc shingle
        -- (operators/text.py shingle_hashes, r10 short-doc audit);
        -- on the x8 corpus these rows enter the df histogram too,
        -- exactly as their hashes do in the engine's governor
        UNION ALL
        SELECT doc_id, array_to_string(tk, ' ') AS s
        FROM tkv WHERE len(tk) BETWEEN 1 AND 2
    ),
    params AS (SELECT greatest(16, count(*) // 200) AS cap0 FROM aug),
    dfreq AS (SELECT s, count(*) AS d FROM sh GROUP BY s),
    hist AS (
        SELECT d, count(*) AS c
        FROM dfreq CROSS JOIN params WHERE d <= cap0 GROUP BY d
    ),
    vols AS (
        SELECT d, sum(c * d * (d - 1) // 2) OVER (ORDER BY d) AS cumvol
        FROM hist
    ),
    fitted AS (
        SELECT CASE
            WHEN cap0 <= 16 THEN cap0
            WHEN (SELECT max(cumvol) FROM vols) <= {_CONTAIN_GOV_BUDGET}
                THEN cap0
            ELSE greatest(16, coalesce((SELECT max(d) FROM vols
                 WHERE cumvol <= {_CONTAIN_GOV_BUDGET}), 16))
        END AS cap
        FROM params
    ),
    rare AS (
        SELECT sh.doc_id, sh.s
        FROM sh JOIN dfreq ON sh.s = dfreq.s CROSS JOIN fitted
        WHERE dfreq.d <= cap
    ),
    sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    cand AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM rare a JOIN rare b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    inter AS (
        SELECT c.doc_a, c.doc_b, count(*) AS i
        FROM cand c
        JOIN sh x ON x.doc_id = c.doc_a
        JOIN sh y ON y.doc_id = c.doc_b AND y.s = x.s
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           round(i::DOUBLE / least(sx.n, sy.n), 4) AS containment
    FROM inter
    JOIN sz sx ON sx.doc_id = doc_a
    JOIN sz sy ON sy.doc_id = doc_b
    WHERE round(i::DOUBLE / least(sx.n, sy.n), 4) >= 0.8
    ORDER BY doc_a, doc_b
    """,
)
def dedup_containment_governed(spark: SparkSession, sf: str) -> DataFrame:
    """Containment dedup WITH the candidate-volume governor engaged
    (operators/dedup.py:containment_pairs): the corpus is every
    document replicated x8 text-identical — boilerplate-style growth
    where shingle df multiplies instead of diluting — under an
    explicit 200k candidate budget, so the governor must lower the
    auto n/200 df cap at every fixture SF.  The oracle replays the
    ENTIRE sizing formula (auto cap, df histogram, cumulative pair
    volume, fitted cap with its df<=16 floor) in SQL and then models
    the engine's candidate generation (rare-shingle index at the
    fitted cap → exact full-intersection verify), so engine and
    oracle agree bit-for-bit even where the governed cap drops
    qualifying pairs — the r9 verdict's 'governed run stays
    differential-checkable' ask.  String-shingle df in SQL equals
    hashed-shingle df in the engine because shingle_hashes is
    distinct-per-doc and xxhash64 collisions are ~1e-10 on this
    vocabulary (a collision would shift the histogram and fail this
    gate loudly)."""
    from play_bq_gcp_spark.operators.dedup import containment_pairs

    d = _t(spark, sf, "documents").select("doc_id", "text")
    aug = d.select(
        "doc_id",
        "text",
        F.explode(
            F.sequence(F.lit(0), F.lit(_CONTAIN_GOV_R - 1))
        ).alias("__r"),
    ).select(
        (F.col("doc_id") * _CONTAIN_GOV_R + F.col("__r")).alias("doc_id"),
        "text",
    )
    return containment_pairs(
        aug, threshold=0.8, candidate_budget=_CONTAIN_GOV_BUDGET
    ).orderBy("doc_a", "doc_b")


# Funnel horizon shared by the engine call and the oracle replay (the
# operator-constant discipline): 24 h — measured as the gap where the
# fixture exercises BOTH emission kinds at every SF (1800 s yields zero
# conversions on this corpus; 86400 s: 11/5, 80/57, 837/514
# converted/abandoned at sf0.001/0.01/0.1).
_FUNNEL_GAP_S = 86400


@register(
    "streaming_funnel_fsm_tws",
    f"""
    WITH RECURSIVE ordered AS (
        SELECT user_id, epoch_us(ts) AS t, event_type AS typ,
               row_number() OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS i
        FROM events
    ),
    machine AS (
        -- literal event-by-event replay of the funnel state machine
        -- (streaming/stateful.py:funnel_state_machine_tws): one row
        -- per (user, step); emit_* carry that step's emission, if any
        SELECT DISTINCT user_id, 0 AS i, 0 AS phase,
               CAST(NULL AS BIGINT) AS view_us,
               CAST(NULL AS BIGINT) AS click_us,
               CAST(NULL AS VARCHAR) AS emit_kind,
               CAST(NULL AS BIGINT) AS emit_start,
               CAST(NULL AS BIGINT) AS emit_end
        FROM ordered
        UNION ALL
        SELECT m.user_id, o.i,
               CASE WHEN p2 = 0 THEN CASE WHEN o.typ = 'view' THEN 1 ELSE 0 END
                    WHEN p2 = 1 THEN CASE WHEN o.typ = 'view' THEN 1
                                          WHEN o.typ = 'click' THEN 2
                                          ELSE 0 END
                    ELSE CASE WHEN o.typ = 'purchase' THEN 0
                              WHEN o.typ = 'view' THEN 1
                              WHEN o.typ = 'click' THEN 2
                              ELSE 0 END
               END AS phase,
               CASE WHEN p2 = 0 THEN CASE WHEN o.typ = 'view' THEN o.t END
                    WHEN p2 = 1 THEN CASE WHEN o.typ = 'view' THEN o.t
                                          WHEN o.typ = 'click' THEN v2 END
                    ELSE CASE WHEN o.typ = 'view' THEN o.t
                              WHEN o.typ = 'click' THEN v2 END
               END AS view_us,
               CASE WHEN p2 = 2 AND o.typ = 'click' THEN o.t
                    WHEN p2 = 1 AND o.typ = 'click' THEN o.t
               END AS click_us,
               CASE WHEN expired THEN 'abandoned'
                    WHEN p2 = 2 AND o.typ = 'purchase' THEN 'converted'
               END AS emit_kind,
               CASE WHEN expired THEN m.view_us
                    WHEN p2 = 2 AND o.typ = 'purchase' THEN v2
               END AS emit_start,
               CASE WHEN expired THEN m.click_us
                    WHEN p2 = 2 AND o.typ = 'purchase' THEN o.t
               END AS emit_end
        FROM machine m
        JOIN ordered o ON o.user_id = m.user_id AND o.i = m.i + 1
        CROSS JOIN LATERAL (
            -- pre-step horizon check: an event past click+gap proves
            -- no conversion; the machine abandons, then processes the
            -- event from idle
            SELECT (m.phase = 2 AND o.t > m.click_us + {_FUNNEL_GAP_S * 1_000_000})
                       AS expired
        ) x
        CROSS JOIN LATERAL (
            SELECT CASE WHEN expired THEN 0 ELSE m.phase END AS p2,
                   CASE WHEN expired THEN NULL
                        ELSE m.view_us END AS v2
        ) y
    ),
    stream_emits AS (
        SELECT user_id, emit_kind AS kind, emit_start AS start_us,
               emit_end AS end_us
        FROM machine WHERE emit_kind IS NOT NULL
    ),
    -- stream tail: users left in the clicked state emit 'abandoned'
    -- iff the FINAL watermark (max event ts, ms-floored — AvailableNow
    -- advances it over everything seen) covers click + gap; the
    -- ceil-to-ms timer encoding makes that exactly click+gap <= wm_us
    wm AS (SELECT (epoch_us(max(ts)) // 1000) * 1000 AS wm_us FROM events),
    last_step AS (
        SELECT user_id, max(i) AS n_i FROM ordered GROUP BY user_id
    ),
    tail_emits AS (
        SELECT m.user_id, 'abandoned' AS kind,
               m.view_us AS start_us, m.click_us AS end_us
        FROM machine m
        JOIN last_step l ON l.user_id = m.user_id AND m.i = l.n_i
        CROSS JOIN wm
        WHERE m.phase = 2 AND m.click_us + {_FUNNEL_GAP_S * 1_000_000} <= wm.wm_us
    ),
    allr AS (
        SELECT * FROM stream_emits UNION ALL SELECT * FROM tail_emits
    )
    SELECT user_id, kind, start_us, end_us,
           end_us - start_us AS span_us
    FROM allr
    ORDER BY user_id, end_us, start_us, kind
    """,
)
def streaming_funnel_fsm_tws(spark: SparkSession, sf: str) -> DataFrame:
    """Procedural per-event state machine on transformWithStateInPandas
    (streaming/stateful.py:funnel_state_machine_tws) — the r9 verdict's
    ask #7: logic that CANNOT be a native streaming aggregate (output
    depends on event-type ORDER, silent resets, and per-event horizon
    comparisons), with conditional emission ('converted' on a
    view->click+->purchase run inside the click horizon, 'abandoned'
    when the horizon passes — in event time at the next event, or by a
    registered timer when only the watermark passes it) — attested by
    a recursive-CTE oracle that replays the machine event-by-event
    rather than re-deriving it."""
    from play_bq_gcp_spark.streaming.stateful import funnel_state_machine_tws

    return funnel_state_machine_tws(
        spark, sf, gap_s=_FUNNEL_GAP_S, n_chunks=4
    )


@register(
    "streaming_session_timers_tws",
    """
    WITH b AS (
        SELECT user_id, ts,
               CASE WHEN epoch(ts) - epoch(lag(ts) OVER w) > 1800
                         OR lag(ts) OVER w IS NULL
                    THEN 1 ELSE 0 END AS boundary
        FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    s AS (
        SELECT user_id, ts,
               sum(boundary) OVER (
                   PARTITION BY user_id ORDER BY ts
                   ROWS UNBOUNDED PRECEDING
               ) AS sid
        FROM b
    ),
    agg AS (
        SELECT user_id, sid, count(*) AS n_events,
               epoch_us(min(ts)) AS start_us, epoch_us(max(ts)) AS end_us
        FROM s GROUP BY user_id, sid
    ),
    wm AS (SELECT (epoch_us(max(ts)) // 1000) * 1000 AS wm_us FROM events),
    mx AS (SELECT user_id, max(sid) AS last_sid FROM agg GROUP BY user_id)
    SELECT user_id, n_events, start_us, end_us
    FROM agg JOIN mx USING (user_id) CROSS JOIN wm
    WHERE sid < last_sid OR end_us + 1800000000 <= wm_us
    ORDER BY user_id, start_us
    """,
)
def streaming_session_timers_tws(spark: SparkSession, sf: str) -> DataFrame:
    """The SAME sessionization on Spark 4's arbitrary-state API with
    EXPLICIT event-time timers (streaming/stateful.
    session_close_on_timer_tws): registerTimer/deleteTimer maintain the
    session-close horizon and handleExpiredTimer emits on watermark
    passage — the timer surface GroupState's setTimeoutTimestamp only
    approximates.  Oracle identical to streaming_timeout_sessions;
    both stateful APIs are pinned to one batch truth."""
    from play_bq_gcp_spark.streaming.stateful import session_close_on_timer_tws

    return session_close_on_timer_tws(spark, sf, gap_s=1800, n_chunks=4).orderBy(
        "user_id", "start_us"
    )

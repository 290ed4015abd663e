"""Write-side curation (round-6/7 additions): token-budget selection,
weighted systematic sampling, shard manifests, CMS streaming merge,
federated scan, PSI drift.

Split from the original single-file registry (round 7); behavior and
registration order are unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from play_bq_gcp_spark.queries._registry import QUERIES, ORACLES, QueryFn, register, _t, sql_hex_digit
from play_bq_gcp_spark.queries.llm import _SQL_TOKS
from play_bq_gcp_spark.scratch import scratch_dir

# ---------------------------------------------------------------------------
# Round 6 late additions: budgeted selection, systematic sampling, shard
# manifests — the write-side curation steps between "clean corpus" and
# "training shards on disk".
# ---------------------------------------------------------------------------


@register(
    "curation_token_budget_select",
    f"""
    WITH d AS (
        SELECT doc_id,
               CAST(len(toks) AS BIGINT) AS n_tokens,
               CAST(len(list_distinct(toks)) AS BIGINT) AS score
        FROM (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents)
    ),
    w AS (
        SELECT doc_id, score, n_tokens,
               CAST(sum(n_tokens) OVER (
                   ORDER BY score DESC, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS cum_tokens,
               CAST((SELECT sum(n_tokens) FROM d) AS BIGINT) AS total
        FROM d
    )
    SELECT doc_id, score, n_tokens, cum_tokens
    FROM w
    WHERE cum_tokens - n_tokens < (total * 1) // 2
    ORDER BY score DESC, doc_id
    """,
)
def curation_token_budget_select(spark: SparkSession, sf: str) -> DataFrame:
    """Greedy quality-ranked selection to a token budget
    (operators/curation.py:token_budget_select): best documents first
    (distinct-token score) until half the corpus's tokens are taken.
    The Spark plan is the scale-safe threshold decomposition (per-score
    histogram + boundary-bucket window — no global ordered window); the
    oracle is the semantically identical single global window, which is
    exactly the equivalence worth proving."""
    from play_bq_gcp_spark.operators.curation import token_budget_select

    return token_budget_select(_t(spark, sf, "documents"))


def _shard_manifest_oracle() -> str:
    """DuckDB twin of the md5 shard bucket: first 6 hex digits of
    md5(doc_id) as an integer, mod n_shards — digit-composed with the
    position() idiom the classifier oracle established."""

    dig = sql_hex_digit

    hexval = dig(1)
    for p in range(2, 7):
        hexval = f"({hexval} * 16 + {dig(p)})"
    return f"""
    WITH d AS (
        SELECT doc_id,
               CAST({hexval} % 8 AS INTEGER) AS shard,
               CAST(len({_SQL_TOKS}) AS BIGINT) AS n_tokens,
               CAST(length(text) AS BIGINT) AS n_chars
        FROM (SELECT doc_id, text, md5(CAST(doc_id AS VARCHAR)) AS h
              FROM documents)
    )
    SELECT shard,
           count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           min(doc_id) AS min_doc_id,
           max(doc_id) AS max_doc_id,
           CAST((sum(n_tokens) + 511) // 512 AS BIGINT) AS n_bins
    FROM d GROUP BY shard ORDER BY shard
    """


@register("curation_shard_manifest", _shard_manifest_oracle())
def curation_shard_manifest(spark: SparkSession, sf: str) -> DataFrame:
    """Training-output write plan (operators/curation.py:shard_manifest):
    md5-bucket shard assignment + the per-shard manifest (doc/token/char
    totals, id range, sequence-pack bin count).  At scale the shard
    column is the repartition key and the manifest is one map-side
    combinable groupBy; md5 keeps the assignment engine- and
    partitioning-independent."""
    from play_bq_gcp_spark.operators.curation import shard_manifest

    return shard_manifest(_t(spark, sf, "documents"))


@register(
    "sampling_weighted_systematic",
    """
    WITH d AS (
        SELECT doc_id, CAST(n_chars AS BIGINT) AS w FROM documents
        WHERE n_chars > 0
    ),
    c AS (
        SELECT doc_id, w,
               CAST(sum(w) OVER (
                   ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS cum_w,
               CAST((SELECT sum(w) FROM d) AS BIGINT) AS total_w
        FROM d
    )
    SELECT doc_id, w, cum_w,
           ((cum_w - w) * 50) // total_w AS slot
    FROM c
    WHERE (cum_w * 50) // total_w > ((cum_w - w) * 50) // total_w
    ORDER BY doc_id
    """,
)
def sampling_weighted_systematic(spark: SparkSession, sf: str) -> DataFrame:
    """Weighted sampling without replacement, systematic/deterministic
    form (operators/sampling.py:weighted_systematic_sample): pick the
    row under every 1/50th of cumulative n_chars mass — inclusion
    probability proportional to weight, selection integer-exact (no
    float pow/log priority keys).  The Spark side runs the two-level
    block prefix sum (no global ordered window); the oracle is the
    plain global-window restatement."""
    from play_bq_gcp_spark.operators.sampling import (
        weighted_systematic_sample,
    )

    return weighted_systematic_sample(_t(spark, sf, "documents"))


def _cms_oracle(
    tok_sql: str = f"SELECT unnest({_SQL_TOKS}) AS tok FROM documents",
) -> str:
    """DuckDB replay of the Count-Min pipeline over any token source,
    f-strung from the operator's own depth/width/probe constants so
    parameter drift breaks the differential loudly (the PQ_EXACT
    precedent)."""
    from play_bq_gcp_spark.operators.aggregates import (
        CMS_DEPTH,
        CMS_PROBE_K,
        CMS_WIDTH,
    )

    def hex7(h: str) -> str:
        val = f"(position(substr({h}, 1, 1) IN '0123456789abcdef') - 1)"
        for p in range(2, 8):
            d = f"(position(substr({h}, {p}, 1) IN '0123456789abcdef') - 1)"
            val = f"({val} * 16 + {d})"
        return val

    cell_rows = "\n        UNION ALL ".join(
        f"SELECT {r} AS row, ({hex7(f'h{r}')}) % {CMS_WIDTH} AS col FROM hs"
        for r in range(CMS_DEPTH)
    )
    probe_rows = "\n        UNION ALL ".join(
        f"SELECT tok, exact_n, {r} AS row,"
        f" ({hex7(f'h{r}')}) % {CMS_WIDTH} AS col FROM ehs"
        for r in range(CMS_DEPTH)
    )
    md5s = ", ".join(
        f"md5(tok || '#{r}') AS h{r}" for r in range(CMS_DEPTH)
    )
    return f"""
    WITH tok AS (
        {tok_sql}
    ),
    hs AS (SELECT tok, {md5s} FROM tok),
    cells AS (
        {cell_rows}
    ),
    sketch AS (
        SELECT row, col, CAST(count(*) AS BIGINT) AS cnt
        FROM cells GROUP BY row, col
    ),
    exact AS (
        SELECT tok, CAST(count(*) AS BIGINT) AS exact_n
        FROM tok GROUP BY tok
        ORDER BY exact_n DESC, tok LIMIT {CMS_PROBE_K}
    ),
    ehs AS (SELECT tok, exact_n, {md5s} FROM exact),
    pc AS (
        {probe_rows}
    ),
    est AS (
        SELECT pc.tok, pc.exact_n, min(s.cnt) AS cms_est
        FROM pc JOIN sketch s USING (row, col)
        GROUP BY pc.tok, pc.exact_n
    )
    SELECT tok, exact_n, cms_est, cms_est - exact_n AS overcount
    FROM est ORDER BY exact_n DESC, tok
    """


@register("agg_countmin_sketch", _cms_oracle())
def agg_countmin_sketch(spark: SparkSession, sf: str) -> DataFrame:
    """Count-Min sketch + accuracy audit
    (operators/aggregates.py:countmin_sketch): the linear overcounting
    frequent-items sketch next to Misra-Gries's undercounting one —
    fixed 4x256 counter table built with one partial-agg-collapsed
    groupBy, point estimates for the top-20 tokens as min-across-rows,
    overcount reported per token.  md5-derived counter indices make the
    oracle a full pipeline replay."""
    from play_bq_gcp_spark.operators.aggregates import countmin_sketch
    from play_bq_gcp_spark.operators.text import tokens

    docs = _t(spark, sf, "documents")
    toks = docs.select(F.explode(tokens("text")).alias("t"))
    return countmin_sketch(toks)


def _semdedup_oracle() -> str:
    """DuckDB replay of the full SemDeDup pipeline — quantization, k
    seeded centroids, unrolled Lloyd rounds with truncating-division
    updates (DuckDB // truncates toward zero; the operator's driver
    side matches), first-index argmin assignment, and the
    cross-multiplied cosine prune — f-strung from the operator's own
    constants (the pagerank/PQ precedent for iterative oracles)."""
    from play_bq_gcp_spark.operators.dedup import (
        SEM_ITERS,
        SEM_K,
        SEM_SCALE,
        SEM_TARGET,
        SEM_THR_DEN,
        SEM_THR_NUM,
    )

    dist = (
        "list_sum(list_transform(list_zip(q.v, c.cv),"
        " z -> (z[1]-z[2])*(z[1]-z[2])))"
    )
    parts = [
        f"""
    aug AS (
        SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
        UNION ALL
        SELECT vec_id + 1000000,
               list_transform(embedding::DOUBLE[], x -> x + 0.01)
        FROM embeddings WHERE vec_id % 25 = 0
    ),
    q AS (
        SELECT vec_id,
               list_transform(e, x -> CAST(floor(x * {SEM_SCALE}) AS BIGINT)) AS v
        FROM aug
    ),
    c0 AS (
        SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER)
                   AS cluster,
               v AS cv
        FROM (SELECT vec_id, v FROM q ORDER BY vec_id
              LIMIT greatest({SEM_K}, (SELECT count(*) FROM q) // {SEM_TARGET}))
    )"""
    ]
    for i in range(1, SEM_ITERS + 2):
        parts.append(f"""
    a{i} AS (
        SELECT vec_id, v, cluster FROM (
            SELECT q.vec_id, q.v, c.cluster,
                   row_number() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY {dist}, c.cluster
                   ) AS rn
            FROM q CROSS JOIN c{i - 1} c
        ) WHERE rn = 1
    )""")
        if i <= SEM_ITERS:
            parts.append(f"""
    u{i} AS (
        SELECT cluster, pos, sum(val) AS s, count(*) AS n
        FROM (SELECT cluster, generate_subscripts(v, 1) AS pos,
                     unnest(v) AS val
              FROM a{i})
        GROUP BY cluster, pos
    ),
    cn{i} AS (
        SELECT cluster, list(CAST(s // n AS BIGINT) ORDER BY pos) AS cv
        FROM u{i} GROUP BY cluster
    ),
    c{i} AS (
        SELECT p.cluster, coalesce(n.cv, p.cv) AS cv
        FROM c{i - 1} p LEFT JOIN cn{i} n USING (cluster)
    )""")
    last = SEM_ITERS + 1
    parts.append(f"""
    f AS (
        SELECT vec_id, cluster, v,
               CAST(list_sum(list_transform(v, x -> x * x)) AS BIGINT) AS n2
        FROM a{last}
    ),
    p AS (
        SELECT b.vec_id AS dup_id, a.n2 AS na2, b.n2 AS nb2,
               CAST(list_sum(list_transform(list_zip(a.v, b.v),
                    z -> z[1]*z[2])) AS BIGINT) AS dot
        FROM f a JOIN f b
          ON a.cluster = b.cluster AND a.vec_id < b.vec_id
    ),
    drp AS (
        SELECT DISTINCT dup_id AS vec_id FROM p
        WHERE dot >= 0
          AND {SEM_THR_DEN * SEM_THR_DEN} * dot * dot
              >= {SEM_THR_NUM * SEM_THR_NUM} * na2 * nb2
    )""")
    body = ",".join(parts)
    return f"""
    WITH {body}
    SELECT f.vec_id, f.cluster, (d.vec_id IS NULL) AS kept
    FROM f LEFT JOIN drp d ON f.vec_id = d.vec_id
    ORDER BY f.vec_id
    """


@register("dedup_semantic_semdedup", _semdedup_oracle())
def dedup_semantic_semdedup(spark: SparkSession, sf: str) -> DataFrame:
    """SemDeDup semantic dedup (operators/dedup.py:semantic_dedup):
    integer-exact k-means (bounded centroid model, map-only HOF
    assignment) + intra-cluster cosine pruning against lower ids —
    pairwise work bounded by cluster size, never corpus size.  Runs on
    the planted-near-dup augmentation the cosine-dedup entry
    established (every 25th vector +0.01-shifted); those copies land in
    their source's cluster and must be the ones pruned."""
    from play_bq_gcp_spark.operators.dedup import semantic_dedup

    e = _t(spark, sf, "embeddings")
    base = e.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    aug = base.unionByName(
        e.filter(F.col("vec_id") % 25 == 0).select(
            (F.col("vec_id") + 1000000).alias("vec_id"),
            F.transform(
                F.col("embedding").cast("array<double>"),
                lambda x: x + F.lit(0.01),
            ).alias("embedding"),
        )
    )
    # k ∝ corpus (one bounded count action, model-side): a FIXED k let
    # cluster sizes — and the quadratic intra-cluster pair stage —
    # grow with the corpus (19.9x wall at 10x data, r13 sf1 probe);
    # auto-k holds clusters at ~SEM_TARGET vectors.  The oracle
    # computes the identical k via greatest(SEM_K, count // SEM_TARGET).
    from play_bq_gcp_spark.operators.dedup import sem_auto_k

    return semantic_dedup(aug, k=sem_auto_k(aug.count()))


@register(
    "streaming_countmin_merge",
    _cms_oracle("SELECT CAST(user_id AS VARCHAR) AS tok FROM events"),
)
def streaming_countmin_merge(spark: SparkSession, sf: str) -> DataFrame:
    """Count-Min sketch maintained across micro-batches
    (streaming/daily.py:countmin_stream_merge): each batch's d×w
    counter table merges into a transactional state table by summing
    on (row, col), exactly once per batch id (streaming/txn_sink.py).
    Because the merge is exact addition, the streamed sketch IS the
    batch sketch — so the oracle is the plain batch CMS replay over
    events user_ids, and the differential asserts streaming-vs-batch
    equivalence, not an approximation.  State stays ≤ d·w rows
    regardless of batch count or size."""
    from play_bq_gcp_spark.streaming.daily import countmin_stream_merge

    return countmin_stream_merge(spark, sf)


@register(
    "text_encoding_audit",
    r"""
    WITH d AS (
        SELECT doc_id,
               CAST(length(text) AS BIGINT) AS n_chars_total,
               CAST(length(text)
                    - length(regexp_replace(text,
                        '[\x00-\x08\x0b\x0c\x0e-\x1f]', '', 'g'))
                    AS BIGINT) AS n_ctrl,
               CAST(length(text)
                    - length(regexp_replace(text, '�', '', 'g'))
                    AS BIGINT) AS n_replacement,
               CAST(length(text)
                    - length(regexp_replace(text, 'Ã', '', 'g'))
                    AS BIGINT)
               + CAST(len(string_split(text, 'â€')) - 1 AS BIGINT)
                   AS n_mojibake,
               CAST(length(regexp_replace(text, '[^\x20-\x7e]', '', 'g'))
                    AS BIGINT) AS ascii_printable
        FROM documents
    )
    SELECT doc_id, n_chars_total, n_ctrl, n_replacement, n_mojibake,
           round(ascii_printable * 1.0 / greatest(n_chars_total, 1), 4)
               AS ascii_ratio,
           (n_ctrl > 0 OR n_replacement > 0 OR n_mojibake > 1) AS suspect
    FROM d ORDER BY doc_id
    """,
)
def text_encoding_audit(spark: SparkSession, sf: str) -> DataFrame:
    """Character-encoding health screen
    (operators/text.py:encoding_audit): control/replacement-char
    counts, double-encoded-UTF-8 marker counts ('Ã', 'â€'), printable-
    ascii ratio, and a suspect flag — the map-only gate that runs
    before any tokenizer at 100 TB.  Counts are length-diffs over
    single-char-class regexp_replace, the engine-portable formulation
    (regexp_count is Spark-only)."""
    from play_bq_gcp_spark.operators.text import encoding_audit

    return encoding_audit(_t(spark, sf, "documents"))


@register(
    "events_psi_feature_drift",
    """
    WITH b AS (
        SELECT (event_type = 'purchase') AS is_ref,
               CAST(floor(value * 10) AS BIGINT) AS vq
        FROM events
        WHERE event_type IN ('purchase', 'view') AND value IS NOT NULL
    ),
    hv AS (SELECT is_ref, vq, count(*) AS c FROM b GROUP BY is_ref, vq),
    cum AS (
        SELECT vq,
               sum(c) OVER (ORDER BY vq
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
               sum(c) OVER () AS n_ref
        FROM hv WHERE is_ref
    ),
    edges AS (
        SELECT DISTINCT edge FROM (
            SELECT need, min(vq) AS edge
            FROM (SELECT c.vq, c.cum, (t.i * c.n_ref + 9) // 10 AS need
                  FROM cum c
                  CROSS JOIN (SELECT unnest(range(1, 10)) AS i) t)
            WHERE cum >= need GROUP BY need
        )
    ),
    vq_bins AS (
        SELECT h.vq, CAST(count(e.edge) AS INTEGER) AS bin
        FROM (SELECT DISTINCT vq FROM hv) h
        LEFT JOIN edges e ON h.vq >= e.edge
        GROUP BY h.vq
    ),
    per_bin AS (
        SELECT bin,
               CAST(sum(CASE WHEN is_ref THEN c ELSE 0 END) AS BIGINT)
                   AS ref_n,
               CAST(sum(CASE WHEN NOT is_ref THEN c ELSE 0 END) AS BIGINT)
                   AS cur_n
        FROM hv JOIN vq_bins USING (vq) GROUP BY bin
    ),
    tot AS (
        SELECT sum(ref_n) AS t_ref, sum(cur_n) AS t_cur, count(*) AS k
        FROM per_bin
    )
    SELECT bin, ref_n, cur_n,
           CAST(floor((p - q) * ln(p / q) * 1e9) AS BIGINT)
               AS psi_contrib_nanos
    FROM (SELECT bin, ref_n, cur_n,
                 (ref_n + 1) * 1.0 / (t_ref + k) AS p,
                 (cur_n + 1) * 1.0 / (t_cur + k) AS q
          FROM per_bin CROSS JOIN tot)
    ORDER BY bin
    """,
)
def events_psi_feature_drift(spark: SparkSession, sf: str) -> DataFrame:
    """PSI numeric-feature drift
    (operators/behavior.py:psi_feature_drift): purchase-value
    distribution as reference, view-value as current, reference-decile
    bins (type-1, integer-exact), per-bin add-1-smoothed contributions
    floored to 1e-9 units.  Completes the drift family next to the
    token KL/TV entry."""
    from play_bq_gcp_spark.operators.behavior import psi_feature_drift

    return psi_feature_drift(_t(spark, sf, "events"))


_FED_DIRS: dict[str, str] = {}


@register(
    "scan_federated_union",
    """
    SELECT CASE doc_id % 3 WHEN 0 THEN 'csv' WHEN 1 THEN 'orc'
           ELSE 'parquet' END AS fmt,
           lang, count(*) AS n,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM documents
    GROUP BY fmt, lang ORDER BY fmt, lang
    """,
)
def scan_federated_union(spark: SparkSession, sf: str) -> DataFrame:
    """Federated multi-format read (§2.1 breadth): one logical corpus
    physically split across parquet, CSV, and ORC landings (the
    lakehouse edge where yesterday's ingest is CSV, the archive is
    ORC, and the native layout is parquet), read back with explicit
    schemas — never inferSchema — unioned by name with a provenance
    column, and aggregated per (format, lang).  The oracle's CASE over
    doc_id%3 restates which rows landed where, so a format that
    dropped or mangled rows breaks the counts."""
    import os
    import tempfile

    docs = _t(spark, sf, "documents").select("doc_id", "lang", "n_chars")
    if sf not in _FED_DIRS:
        d = scratch_dir("federated_")
        docs.filter(F.col("doc_id") % 3 == 0).write.option(
            "header", True
        ).csv(os.path.join(d, "csv"))
        docs.filter(F.col("doc_id") % 3 == 1).write.orc(
            os.path.join(d, "orc")
        )
        docs.filter(F.col("doc_id") % 3 == 2).write.parquet(
            os.path.join(d, "parquet")
        )
        _FED_DIRS[sf] = d
    d = _FED_DIRS[sf]
    schema = "doc_id long, lang string, n_chars long"
    parts = [
        spark.read.schema(schema)
        .option("header", True)
        .csv(os.path.join(d, "csv"))
        .withColumn("fmt", F.lit("csv")),
        spark.read.schema(schema)
        .orc(os.path.join(d, "orc"))
        .withColumn("fmt", F.lit("orc")),
        spark.read.schema(schema)
        .parquet(os.path.join(d, "parquet"))
        .withColumn("fmt", F.lit("parquet")),
    ]
    union = parts[0]
    for p in parts[1:]:
        union = union.unionByName(p)
    return (
        union.groupBy("fmt", "lang")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("n_chars").alias("total_chars"),
        )
        .orderBy("fmt", "lang")
    )


def _epoch_shuffle_oracle() -> str:
    """DuckDB twin of epoch_shuffle: same md5 sort key, same 6-hex-digit
    shard fold (position() idiom), same within-(epoch, shard) rank."""

    dig = sql_hex_digit

    hexval = dig(1)
    for p in range(2, 7):
        hexval = f"({hexval} * 16 + {dig(p)})"
    return f"""
    WITH e AS (SELECT unnest(range(0, 2)) AS epoch),
    x AS (
        SELECT e.epoch, d.doc_id,
               md5(CAST(e.epoch AS VARCHAR) || ':' ||
                   CAST(d.doc_id AS VARCHAR)) AS h
        FROM documents d, e
    ),
    s AS (
        SELECT epoch, doc_id, h,
               CAST({hexval} % 8 AS INTEGER) AS shard
        FROM x
    )
    SELECT CAST(epoch AS INTEGER) AS epoch,
           shard,
           CAST(row_number() OVER (
               PARTITION BY epoch, shard ORDER BY h, doc_id
           ) AS INTEGER) AS pos,
           doc_id
    FROM s
    ORDER BY epoch, shard, pos
    """


@register("curation_epoch_shuffle", _epoch_shuffle_oracle())
def curation_epoch_shuffle(spark: SparkSession, sf: str) -> DataFrame:
    """Seeded per-epoch global shuffle order
    (operators/curation.epoch_shuffle): md5(epoch:id) is the sort key,
    its leading hex digits the shard, the within-shard rank the
    position — deterministic training order with a shard-local sort
    only (no single-partition global sort at any scale)."""
    from play_bq_gcp_spark.operators.curation import epoch_shuffle

    return epoch_shuffle(_t(spark, sf, "documents"))


_EPOCH_STREAM_BATCHES = 3
_EPOCH_STREAM_EPOCHS = 2
_EPOCH_STREAM_SHARDS = 4
_EPOCH_BATCH_DIRS: dict = {}


def _epoch_stream_oracle() -> str:
    """DuckDB twin of run_epoch_stream: same md5 key and 6-hex shard
    fold as the batch oracle, with the streaming append rule unrolled —
    cross-batch order is arrival (b = doc_id % n_batches, the fixture's
    landing rule), within-batch order is (h, doc_id)."""

    dig = sql_hex_digit

    hexval = dig(1)
    for p in range(2, 7):
        hexval = f"({hexval} * 16 + {dig(p)})"
    return f"""
    WITH e AS (SELECT unnest(range(0, {_EPOCH_STREAM_EPOCHS})) AS epoch),
    x AS (
        SELECT e.epoch, d.doc_id,
               CAST(d.doc_id % {_EPOCH_STREAM_BATCHES} AS INT) AS b,
               md5(CAST(e.epoch AS VARCHAR) || ':' ||
                   CAST(d.doc_id AS VARCHAR)) AS h
        FROM documents d, e
    ),
    s AS (
        SELECT epoch, doc_id, b, h,
               CAST({hexval} % {_EPOCH_STREAM_SHARDS} AS INTEGER) AS shard
        FROM x
    )
    SELECT CAST(epoch AS INTEGER) AS epoch,
           shard,
           CAST(row_number() OVER (
               PARTITION BY epoch, shard ORDER BY b, h, doc_id
           ) AS INTEGER) AS pos,
           doc_id
    FROM s
    ORDER BY epoch, shard, pos
    """


@register("streaming_epoch_shuffle", _epoch_stream_oracle())
def streaming_epoch_shuffle(spark: SparkSession, sf: str) -> DataFrame:
    """Epoch training orders built WHILE the corpus streams in
    (streaming/ingest.run_epoch_stream): three deterministic
    micro-batches (b = doc_id % 3) append to every epoch's shard
    order — arrival order across batches, md5(epoch:id) within a
    batch — with the per-(epoch, shard) offset state kept under the
    same idempotent partial-dirs + watermark-compaction protocol as
    the line-frequency index (compact_every=2, so the differential
    crosses a compaction boundary).  The oracle unrolls the append
    rule exactly; emitted positions are append-only facts, never
    re-leveled (contrast curation_epoch_shuffle, which ranks at
    rest)."""
    from play_bq_gcp_spark.streaming.ingest import (
        land_single_file_batches,
        run_epoch_stream,
    )

    key = sf
    if key not in _EPOCH_BATCH_DIRS:
        d = scratch_dir("epoch_batches_")
        docs = _t(spark, sf, "documents").select(
            "doc_id",
            "text",
            (F.col("doc_id") % _EPOCH_STREAM_BATCHES).alias("b"),
        )
        land_single_file_batches(docs, _EPOCH_STREAM_BATCHES, d)
        _EPOCH_BATCH_DIRS[key] = d
    return run_epoch_stream(
        spark,
        _EPOCH_BATCH_DIRS[key],
        n_epochs=_EPOCH_STREAM_EPOCHS,
        n_shards=_EPOCH_STREAM_SHARDS,
        compact_every=2,
    ).orderBy("epoch", "shard", "pos")


# ---------------------------------------------------------------------------
# Round 13: transactional time travel + schema evolution as oracle-checked
# query entries (r12 verdict #3/#4) — the read-side proof that the manifest
# protocol's version pinning and declared-schema reads return exactly the
# relational results a warehouse's AS OF / evolved-table reads would.
# ---------------------------------------------------------------------------

_TXN_TT_TABLES: dict[str, tuple[str, int]] = {}


def _prepare_time_travel_table(spark: SparkSession, sf: str) -> tuple[str, int]:
    """Fixture-prep (NOT part of the measured query, cached per sf):
    a txn table whose v1 is the URGENT slice of orders and whose v2
    appends the HIGH slice — so the LATEST version differs from v1 and
    a correct pinned read must exclude v2's files."""
    from play_bq_gcp_spark.storage import txn_table as tt

    if sf not in _TXN_TT_TABLES:
        d = scratch_dir("txn_tt_")
        path = d + "/orders_tt"
        tt.init_table(path)
        orders = _t(spark, sf, "orders")
        s1 = tt.append(
            orders.filter(F.col("o_orderpriority") == "1-URGENT"), path
        )
        tt.append(
            orders.filter(F.col("o_orderpriority") == "2-HIGH"), path
        )
        _TXN_TT_TABLES[sf] = (path, s1.version)
    return _TXN_TT_TABLES[sf]


@register(
    "txn_time_travel_read",
    """
    SELECT o_orderstatus,
           count(*) AS n_orders,
           CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS revenue_cents
    FROM orders
    WHERE o_orderpriority = '1-URGENT'
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
)
def txn_time_travel_read(spark: SparkSession, sf: str) -> DataFrame:
    """Time-travel read (storage/txn_table.read_at, r12 verdict #3):
    the table's LATEST version holds urgent+high orders, but the read
    pins v1 — snapshot isolation means the result is exactly the
    urgent slice, which the oracle restates as a plain filter on the
    source.  The pinned plan scans only v1's immutable files (a later
    commit can never change it — cross-process pin in
    tests/test_txn_race.py / test_txn_table.py).  Revenue in exact
    integer cents (fuzz-110 discipline)."""
    from play_bq_gcp_spark.storage import txn_table as tt

    path, v1 = _prepare_time_travel_table(spark, sf)
    return (
        tt.read_at(spark, path, version=v1)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")
            ).alias("revenue_cents"),
        )
        .orderBy("o_orderstatus")
    )


_TXN_EVO_TABLES: dict[str, str] = {}


def _prepare_evolved_table(spark: SparkSession, sf: str) -> str:
    """Fixture-prep (NOT part of the measured query, cached per sf): a
    txn table whose v1 files carry (okey INT, o_orderstatus) for even
    order keys and whose v2 EVOLVES the schema — okey widened to LONG,
    o_orderpriority added — for odd keys.  The latest declared schema
    must read both file generations: widened ints, NULL-backfilled
    priority."""
    from play_bq_gcp_spark.storage import txn_table as tt

    if sf not in _TXN_EVO_TABLES:
        d = scratch_dir("txn_evo_")
        path = d + "/orders_evo"
        tt.init_table(path)
        orders = _t(spark, sf, "orders")
        # the v1 generation narrows okey to int32 — guard the cast
        # (non-ANSI cast would silently WRAP past 2^31 on a huge tier
        # and corrupt the widen demonstration instead of failing)
        mx = orders.agg(F.max("o_orderkey")).first()[0]
        assert mx < 2**31, (
            f"fixture o_orderkey max {mx} exceeds int32 — "
            "txn_schema_evolution_read's v1 narrowing needs a new plan"
        )
        tt.append(
            orders.filter(F.col("o_orderkey") % 2 == 0).select(
                F.col("o_orderkey").cast("int").alias("okey"),
                "o_orderstatus",
            ),
            path,
        )
        tt.append(
            orders.filter(F.col("o_orderkey") % 2 != 0).select(
                F.col("o_orderkey").alias("okey"),
                "o_orderstatus",
                "o_orderpriority",
            ),
            path,
            evolve=True,
        )
        _TXN_EVO_TABLES[sf] = path
    return _TXN_EVO_TABLES[sf]


@register(
    "txn_schema_evolution_read",
    """
    SELECT o_orderstatus,
           count(*) AS n,
           count(CASE WHEN o_orderkey % 2 <> 0
                      THEN o_orderpriority END) AS n_tagged,
           CAST(sum(o_orderkey) AS BIGINT) AS sum_okey
    FROM orders
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
)
def txn_schema_evolution_read(spark: SparkSession, sf: str) -> DataFrame:
    """Schema-evolution read (r12 verdict #4): v1 files are physically
    (okey int32, status); v2 declared (okey long, status, priority).
    One declared-schema scan reads BOTH generations — old ints widen
    to long, missing priority NULL-backfills — and the aggregate over
    the union equals the oracle's direct computation on the source
    (count(col) skips the backfilled NULLs, so n_tagged counts exactly
    the post-evolution rows).  Zero extra shuffles vs a plain scan:
    the declared schema is applied AT the parquet reader
    (SPARK-40876), not by a cast-and-union plan."""
    from play_bq_gcp_spark.storage import txn_table as tt

    path = _prepare_evolved_table(spark, sf)
    return (
        tt.read(spark, path)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count("o_orderpriority").alias("n_tagged"),
            F.sum("okey").alias("sum_okey"),
        )
        .orderBy("o_orderstatus")
    )

"""Deduplication operators for training-data pipelines (SURVEY.md §2.10).

Four escalating strategies, each a separate cost/recall point:

1. ``exact_dedup`` — hash-groupBy on the normalized text.  One shuffle
   on a compact digest key; the canonical first pass at any scale.
2. ``ngram_jaccard_pairs`` — exact n-gram (2-token shingle) Jaccard
   over CANDIDATE pairs, where candidates come from banded-MinHash
   buckets over the same shingle hashes — no language-sized or other
   attribute block is ever expanded all-pairs.  The verify stage is
   pure set arithmetic (array_intersect/union) so it is
   oracle-checkable against exact all-pairs Jaccard.
3. ``simhash_pairs`` — 64-bit SimHash per document (xxhash64 token
   hashes, bitwise majority vote), then banded bucketing (4×16-bit
   bands) so only same-band docs are compared; Hamming distance ≤ k
   marks near-dups.  All native expressions — no UDF.
4. ``minhash_lsh_pairs`` — hand-rolled banded MinHash (b bands × r
   rows) in pure DataFrame expressions: per-doc signature via
   ``array_min(transform(toks, xxhash64))``, band keys bucket the
   docs (one groupBy shuffle), pairs expand inside buckets, and an
   exact-Jaccard verify pass filters false candidates.  The scale
   path for fuzzy text dedup; r>1 AND-amplification keeps candidate
   volume ~linear where 1-row banding (spark.ml MinHashLSH) goes
   quadratic.

At 100 TB: 1 and 3 are one-shuffle linear; 2 and 4 are quadratic within
buckets only — band width / LSH table count tune recall vs cost.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, functions as F

from play_bq_gcp_spark.catalog import spread
from play_bq_gcp_spark.operators.text import (
    bind,
    has_tokens,
    shingle_hashes,
    text_fp,
    token_set,
    tokens,
)
from play_bq_gcp_spark.session import cached

_log = logging.getLogger(__name__)

# In-bucket pair expansion is O(m²); one degenerate bucket (boilerplate
# corpus before exact-dedup, an all-zeros embedding cluster) would put
# its whole membership in one task and OOM it.  m=1000 bounds a task at
# ~500k pair structs (a few MB) — generous for real buckets under r>1
# AND-amplification, tight enough that no single task can blow up.
MAX_BUCKET_SIZE = 1000



def _obs_metric(obs, key: str, default: int = 0) -> int:
    """Read one Observation metric, tolerating the zero-row plan case.

    PySpark 4.1.x: ``Observation.get`` raises a ``toPyRow`` assertion
    when the observed node emitted ZERO rows (no metrics row exists) —
    e.g. an LSH corpus with no bucket of size > 1, or an empty pair
    set.  Zero observed rows means the summed metric is vacuously
    ``default``, so that is what we return (fuzz seed 77 caught the
    crash via pipeline_pretrain_corpus on a 16-doc pool with no
    duplicate buckets).  ONLY that signature maps to the default:
    the zero-row path surfaces as a ``Py4JJavaError`` wrapping the
    Scala ``assert`` inside ``PythonSQLUtils.toPyRow`` (both
    substrings appear in the wrapped java stack) — the exception
    CLASS is checked as well as the substrings, so a Python-side
    ``AssertionError`` from unrelated code can never be swallowed.
    Signature observed and pinned on PySpark 4.1.2 (Spark 4.1.x
    classic); if a Spark upgrade changes it, the failure direction is
    safe (hard crash, not silent default) and the pin below is the
    place to update.  Any other failure — timeout, API change, real
    plan error — re-raises, because at connected_dup_groups the
    metric drives the convergence loop and a silently-defaulted read
    would terminate iteration early and emit wrong duplicate groups."""
    try:
        return obs.get[key] or default
    except Exception as e:
        msg = f"{type(e).__name__}: {e}"
        if (
            type(e).__name__ == "Py4JJavaError"
            and "AssertionError" in msg
            and "toPyRow" in msg
        ):
            return default
        raise


def _bucket_candidate_pairs(
    buckets: DataFrame,
    key_cols: tuple[str, str],
    id_col: str,
    out_a: str,
    out_b: str,
    max_bucket_size: int,
) -> DataFrame:
    """Expand LSH buckets to distinct candidate pairs, guarding against
    degenerate buckets.

    One groupBy shuffle collects bucket membership; buckets above
    ``max_bucket_size`` are dropped from pair expansion with a LOGGED
    count (never silently): a pair lost this way means the corpus needs
    exact-dedup first or wider AND-amplification, and the log line says
    so.  The overflow count rides the materializing action as an
    ``Observation`` metric — zero extra jobs, no cache — so the guard
    costs nothing at any scale."""
    from pyspark.sql import Observation

    obs = Observation()
    agg = (
        buckets.groupBy(*key_cols)
        .agg(F.collect_set(id_col).alias("ids"))
        .filter(F.size("ids") > 1)
        .observe(
            obs,
            F.sum(
                (F.size("ids") > max_bucket_size).cast("long")
            ).alias("n_over"),
        )
    )
    ids = F.array_sort(F.col("ids"))
    in_bucket_pairs = F.flatten(
        F.transform(
            ids,
            lambda x, i: F.transform(
                F.slice(ids, i + F.lit(2), F.size(ids)),
                lambda y: F.struct(x.alias(out_a), y.alias(out_b)),
            ),
        )
    )
    cand = (
        agg.filter(F.size("ids") <= max_bucket_size)
        .select(F.explode(in_bucket_pairs).alias("p"))
        .select(f"p.{out_a}", f"p.{out_b}")
        .distinct()
        # one action materializes pairs AND collects the overflow count
        # (bucket shuffle runs once; downstream never recomputes it)
        .localCheckpoint(eager=True)
    )
    n_over = _obs_metric(obs, "n_over")
    if n_over:
        _log.warning(
            "%d LSH bucket(s) exceeded max_bucket_size=%d and were "
            "dropped from pair expansion — run exact dedup first or "
            "increase AND-amplification (rows per band / bits per "
            "table)",
            n_over,
            max_bucket_size,
        )
    return cand


def exact_dedup_groups(documents: DataFrame, min_copies: int = 2) -> DataFrame:
    """Exact-duplicate groups keyed by md5(normalized text): keeper id
    (min doc_id), copy count.  The digest keeps the shuffle key small —
    at scale you never shuffle full documents to find dups.  Only
    (doc_id, text) is spread for the parallel hashing pass; every
    shuffle after that moves digests."""
    key = text_fp("text").alias("text_fp")
    return (
        spread(documents.select("doc_id", "text")).select(key, "doc_id")
        .groupBy("text_fp")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .filter(F.col("n_copies") >= min_copies)
    )


def casefold_dedup_groups(
    documents: DataFrame, min_copies: int = 2
) -> DataFrame:
    """Normalization-INVARIANT exact-duplicate groups: the standard
    web-corpus dedup layer above byte-exact matching — lowercase,
    strip punctuation/symbols to spaces, collapse runs, trim, then
    digest.  Catches the trivial variants exact dedup misses (case
    flips, added punctuation, re-wrapped whitespace) while staying a
    plain digest-key shuffle: normalization is map-side Column
    expressions, and only (digest, doc_id) ever shuffles — the same
    scale shape as ``exact_dedup_groups``."""
    # NULL text normalizes as empty text (NULL≡'' ingest convention,
    # same as tokens()) so NULL and '' docs land in ONE digest group
    # identically in both engines.
    norm = F.trim(
        F.regexp_replace(
            F.lower(F.coalesce(F.col("text"), F.lit(""))), "[^a-z0-9]+", " "
        )
    )
    return (
        spread(documents.select("doc_id", "text"))
        .select(F.md5(F.encode(norm, "utf-8")).alias("digest"), "doc_id")
        .groupBy("digest")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("canonical_doc_id"),
            F.concat_ws(",", F.sort_array(F.collect_list("doc_id"))).alias(
                "members"
            ),
        )
        .filter(F.col("n_docs") >= min_copies)
    )


def exact_dedup(documents: DataFrame) -> DataFrame:
    """Keep one row per distinct normalized text (the min doc_id) —
    dropDuplicates with an explicit deterministic keeper.

    One window pass instead of groupBy + semi-join (r14, the
    pipeline_corpus_clean r13 rewrite applied to the shared operator):
    the two-branch form evaluated ``documents`` — and whatever chain
    derives it — twice; the unordered per-digest min computes the same
    keeper alongside the rows in ONE shuffle on the digest, and doc_id
    is unique so ``doc_id == min per digest`` is exactly the old
    semi-join survivor set.

    Wide-row caveat: the window shuffles FULL rows on the digest, where
    the two-branch form shuffled only (doc_id, digest).  That is the
    right trade for today's callers — narrow document relations whose
    derivation is the expensive part — but a caller passing wide rows
    (many or large columns besides ``text``) should project first, or
    restore the digest groupBy + semi-join shape."""
    from pyspark.sql import Window

    w = Window.partitionBy("__fp")
    return (
        documents.withColumn("__fp", text_fp("text"))
        .withColumn("__min_id", F.min("doc_id").over(w))
        .filter(F.col("doc_id") == F.col("__min_id"))
        .drop("__fp", "__min_id")
    )


def ngram_jaccard_pairs(
    documents: DataFrame,
    threshold: float = 0.7,
    num_bands: int = 25,
    rows_per_band: int = 3,
) -> DataFrame:
    """Exact n-gram (2-token shingle) Jaccard ≥ ``threshold`` pairs.

    Candidate generation is banded MinHash over the SAME bigram-shingle
    hashes (see ``_minhash_banded_pairs``) — never an attribute block:
    a language is not a blocking key (within-block pairs are O(n²) and
    one language is ~the whole corpus at scale).  Recall at the
    threshold is ``1-(1-s^r)^b`` ≥ 0.99997 for s ≥ 0.7 with the
    defaults, so the output deterministically equals the exact
    all-pairs result the DuckDB oracle computes; the verify stage is
    exact set Jaccard over the candidate pairs only."""
    return _minhash_banded_pairs(
        documents,
        sim_threshold=threshold,
        num_bands=num_bands,
        rows_per_band=rows_per_band,
        shingle_k=2,
        out_col="jaccard",
    )


# --- SimHash -----------------------------------------------------------------

_N_BITS = 64
_N_BANDS = 4
_BAND_BITS = _N_BITS // _N_BANDS


def simhash(documents: DataFrame) -> DataFrame:
    """64-bit SimHash per doc: the first 64 bits of md5(token) per
    distinct token, each bit votes ±1, sign of the vote is the bit.
    Entirely built-in expressions: explode → 16 hex-digit extracts →
    64 conditional sums → bit reassembly.

    md5 (not xxhash64) so the hash is reproducible bit-for-bit in any
    engine with a standard md5 — the DuckDB differential oracle
    restates this pipeline exactly.  md5 costs ~2× xxhash64 per token
    but token hashing is a negligible slice of the banded join."""
    tok = documents.select(
        "doc_id", F.explode(token_set("text")).alias("tok")
    ).withColumn("h", F.md5("tok"))
    # hex digit d (0-based) of the md5, as an int 0..15 → 4 bits each
    digits = tok.select(
        "doc_id",
        *[
            F.conv(F.substring("h", d + 1, 1), 16, 10)
            .cast("int")
            .alias(f"d{d}")
            for d in range(_N_BITS // 4)
        ],
    )
    votes = digits.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(
                    F.shiftright(F.col(f"d{i // 4}"), i % 4).bitwiseAND(
                        F.lit(1)
                    )
                    == 1,
                    1,
                ).otherwise(-1)
            ).alias(f"b{i}")
            for i in range(_N_BITS)
        ]
    )
    sim = F.lit(0).cast("long")
    for i in range(_N_BITS):
        sim = sim.bitwiseOR(
            F.when(
                F.col(f"b{i}") > 0, F.shiftleft(F.lit(1).cast("long"), i)
            ).otherwise(F.lit(0).cast("long"))
        )
    return votes.select("doc_id", sim.alias("simhash"))


def simhash_pairs(documents: DataFrame, max_hamming: int = 8) -> DataFrame:
    """Near-dup candidate pairs via banded SimHash: docs sharing any
    16-bit band are compared; Hamming(simhash) ≤ max_hamming survives.
    The band join is an equi-join (shuffle on band value) — never
    all-pairs."""
    sh = simhash(documents)
    banded = sh.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftrightunsigned(F.col("simhash"), i * _BAND_BITS)
                        .bitwiseAND(F.lit((1 << _BAND_BITS) - 1))
                        .alias("key"),
                    )
                    for i in range(_N_BANDS)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "simhash", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    a = banded.alias("a")
    b = banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("sh_a"),
            F.col("b.simhash").alias("sh_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return cand.select(
        "doc_a", "doc_b", hamming.cast("int").alias("hamming")
    ).filter(F.col("hamming") <= max_hamming)


def minhash_lsh_pairs(
    documents: DataFrame,
    jaccard_distance: float = 0.6,
    num_bands: int = 25,
    rows_per_band: int = 3,
) -> DataFrame:
    """Banded MinHash near-dup pairs, entirely in native expressions.

    Signature: ``num_bands × rows_per_band`` min-hashes per doc, each
    ``array_min(transform(toks, t -> xxhash64(t, seed_i)))`` — one
    whole-stage-codegen pass over the token array, no UDF, no ml dep.
    Candidates: docs sharing any band key (xxhash64 of the band's r
    min-hashes) land in one bucket via a single groupBy shuffle; pairs
    expand inside buckets with slice/transform/flatten.  Verify: exact
    token-set Jaccard on candidates only, filtered at
    ``1 - jaccard_distance``.

    Recall for similarity s is ``1-(1-s^r)^b`` — defaults (b=25, r=3)
    give ≈0.99997 at s=0.7 (high enough that the output is
    deterministic-in-practice and oracle-checkable against exact
    all-pairs Jaccard), while genuinely dissimilar pairs (s≈0.001 on a
    shingled corpus) essentially never collide.  r>1
    AND-amplification is what keeps bucket sizes (and thus the m²/2
    in-bucket expansion) bounded at 100 TB; exact-dup groups should be
    collapsed first (``exact_dedup``) so no bucket degenerates.

    The set unit is the 3-token *shingle* (order-sensitive), not the
    unigram: unigram-set Jaccard saturates on any shared-vocabulary
    corpus, which both destroys precision and makes the pair graph
    quadratically dense."""
    return _minhash_banded_pairs(
        documents,
        sim_threshold=1.0 - jaccard_distance,
        num_bands=num_bands,
        rows_per_band=rows_per_band,
        shingle_k=3,
        out_col="jaccard_approx",
    )


def _band_keys_expr(num_bands: int, rows_per_band: int, hs_col: str = "hs"):
    """Banded-MinHash band keys over a shingle-hash array column.

    The whole signature+banding is ONE nested-HOF expression, not
    ``num_bands*rows_per_band`` separate subtrees: per-row work is
    identical but the plan tree is ~75× smaller, which cuts first-run
    Catalyst analysis + codegen from seconds to milliseconds."""
    n_hashes = num_bands * rows_per_band
    sig = F.transform(
        F.sequence(F.lit(0), F.lit(n_hashes - 1)),
        lambda i: F.array_min(
            F.transform(hs_col, lambda h: F.xxhash64(h, i))
        ),
    )
    return bind(
        sig,
        lambda s: F.transform(
            F.sequence(F.lit(0), F.lit(num_bands - 1)),
            lambda b: F.xxhash64(
                F.slice(s, b * rows_per_band + 1, rows_per_band), b
            ),
        ),
    )


def _minhash_banded_pairs(
    documents: DataFrame,
    sim_threshold: float,
    num_bands: int,
    rows_per_band: int,
    shingle_k: int,
    out_col: str,
) -> DataFrame:
    """Shared banded-MinHash engine for the fuzzy text dedup family
    (see ``minhash_lsh_pairs`` for the full plan narrative).  The
    per-doc shingle-hash arrays are cached for the build, so the
    signature pass runs once for both the bucket and verify branches."""
    hashed = (
        # spread ONLY (doc_id, text) across all cores for the signature
        # pass — never the full row — even when the source is a single
        # parquet file
        spread(documents.select("doc_id", "text"))
        # token-free docs filtered on the RAW column (has_tokens ≡
        # size(hs) > 0 — shingle_hashes of an empty token array is
        # empty): a size filter on the derived hs column gets pushed
        # below the projection and re-runs the whole tokenize+shingle
        # chain per row (measured 2× evaluation, −35 % removing it)
        .filter(has_tokens("text"))
        # shingle hashes, never shingle strings: tokens are hashed once
        # and k-grams fold hash-of-hash — every downstream pass (the
        # min-hash derivations, Jaccard verify) works on the long array
        .select("doc_id", shingle_hashes("text", k=shingle_k).alias("hs"))
    )
    with cached(hashed) as docs:
        band_keys = _band_keys_expr(num_bands, rows_per_band)
        buckets = docs.select(
            "doc_id", F.posexplode(band_keys).alias("band", "key")
        )
        cand = _bucket_candidate_pairs(
            buckets,
            key_cols=("band", "key"),
            id_col="doc_id",
            out_a="doc_a",
            out_b="doc_b",
            max_bucket_size=MAX_BUCKET_SIZE,
        )
        ta = docs.select(F.col("doc_id").alias("doc_a"), F.col("hs").alias("hs_a"))
        tb = docs.select(F.col("doc_id").alias("doc_b"), F.col("hs").alias("hs_b"))
        jac = (
            F.size(F.array_intersect("hs_a", "hs_b")).cast("double")
            / F.size(F.array_union("hs_a", "hs_b")).cast("double")
        )
        # materialize while docs is cached; surviving pairs are few
        return (
            cand.join(ta, "doc_a")
            .join(tb, "doc_b")
            .select("doc_a", "doc_b", F.round(jac, 4).alias(out_col))
            .filter(F.col(out_col) >= sim_threshold)
            .localCheckpoint(eager=True)
        )


def auto_planes(
    n_rows: int, target_bucket: int = 4, lo: int = 6, hi: int = 24
) -> int:
    """Hyperplane (AND-bit) count sized to the corpus:
    ``planes ≈ log2(n / target_bucket)`` keeps EXPECTED bucket
    occupancy constant as the corpus grows.  The round-4 scaling probe
    (SCALING.md) showed why this matters: with a FIXED plane count,
    sign-bit bucket occupancy grows linearly with the corpus and
    in-bucket candidate expansion quadratically — 10x corpus cost
    ~200x candidate shuffle.  Recall lost to the extra AND-bits is
    recovered with OR-amplified tables (more tables, same math as
    similarity.py's multi-table recall model).

    ``target_bucket=4`` reproduces the hand-tuned fixture-scale
    operating point (~10 bits at 2k vectors, a few vectors per bucket
    — candidate generation wants TIGHT buckets) and carries it to any
    scale: 13 bits at 20k, 24-bit ceiling near a billion."""
    import math

    if n_rows <= target_bucket:
        return lo
    return max(lo, min(hi, math.ceil(math.log2(n_rows / target_bucket))))


def _sign_bucket_keys(
    docs: DataFrame, n_tables: int, bits_per_table: int, dim: int, seed: int
) -> DataFrame:
    """(vec_id, tbl, key) sign-bit LSH bucket rows: per vector,
    ``n_tables`` keys, each the ``bits_per_table``-bit sign pattern of
    dot products against fixed seeded hyperplanes, all as ONE nested
    HOF expression over a 2-D plane literal (no UDF).  ``docs`` must
    expose ``vec_id`` and ``v: array<double>``."""
    from play_bq_gcp_spark.operators.similarity import _hyperplanes

    planes = _hyperplanes(dim, n_tables * bits_per_table, seed)
    from play_bq_gcp_spark.functions.vector import mat_lit

    planes_lit = mat_lit(planes)
    bits = bind(
        F.col("v"),
        lambda vv: F.transform(
            planes_lit,
            lambda p: F.when(
                F.aggregate(
                    F.zip_with(vv, p, lambda x, y: x * y),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
                > 0,
                F.lit(1).cast("long"),
            ).otherwise(F.lit(0).cast("long")),
        ),
    )
    table_keys = bind(
        bits,
        lambda bs: F.transform(
            F.sequence(F.lit(0), F.lit(n_tables - 1)),
            lambda t: F.aggregate(
                F.slice(bs, t * bits_per_table + 1, bits_per_table),
                F.lit(0).cast("long"),
                lambda acc, x: acc * 2 + x,
            ),
        ),
    )
    return docs.select("vec_id", F.posexplode(table_keys).alias("tbl", "key"))


def embedding_cosine_pairs(
    embeddings: DataFrame,
    threshold: float = 0.9,
    n_tables: int = 16,
    bits_per_table: int | str = 10,
    dim: int = 64,
    seed: int = 7,
) -> DataFrame:
    """Embedding near-dup pairs: random-hyperplane LSH candidate
    generation + exact-cosine verify — never an all-pairs join.

    Candidates: each vector gets ``n_tables`` bucket keys, each the
    ``bits_per_table``-bit sign pattern of dot products against fixed
    seeded hyperplanes (the sign-bit scheme from similarity.py, here in
    OR-amplified multi-table form: a pair is a candidate if it shares
    ANY table's full key).  The whole signature is ONE nested-HOF
    expression over a 2-D plane literal — small plan tree, no UDF.
    Buckets expand to pairs with the same collect_set/slice machinery
    as the MinHash path (one shuffle on (table, key)); exact cosine
    filters candidates at ``threshold``.

    Recall: a pair at cosine s collides per table with prob
    ``(1-acos(s)/pi)^bits``; across tables ``1-(1-p)^L``.  Defaults
    (L=16, b=10) give nominal miss ≈ 1e-10 at s=0.997 while
    near-orthogonal pairs collide at ≈ 1.6% — candidate volume stays
    ~linear.  The >64 planes are linearly dependent in a 64-dim space,
    so per-pair misses CORRELATE and the nominal bound is optimistic —
    which is why the margin is sized this generously; recall is
    verified empirically against exact all-pairs at both sf0.01 and
    sf0.1 (fixed seeds make that deterministic round-over-round).  For
    exhaustive low-threshold sweeps, exact all-pairs is inherently
    O(n²) — use a blocked equi-join, not this.

    ``bits_per_table="auto"`` sizes the AND-bits to the corpus via
    ``auto_planes`` (one cheap count job) so bucket occupancy — and
    with it the candidate shuffle — stays constant as the corpus
    grows; the registry entry pins the fixture-scale value so oracle
    hashes stay stable across rounds."""
    from play_bq_gcp_spark.functions.vector import cosine_similarity

    with cached(
        spread(embeddings.select("vec_id", F.col("embedding").cast("array<double>").alias("v")))
    ) as docs:
        if bits_per_table == "auto":
            bits_per_table = auto_planes(docs.count())
        buckets = _sign_bucket_keys(docs, n_tables, bits_per_table, dim, seed)
        cand = _bucket_candidate_pairs(
            buckets,
            key_cols=("tbl", "key"),
            id_col="vec_id",
            out_a="vec_a",
            out_b="vec_b",
            max_bucket_size=MAX_BUCKET_SIZE,
        )
        va = docs.select(F.col("vec_id").alias("vec_a"), F.col("v").alias("v_a"))
        vb = docs.select(F.col("vec_id").alias("vec_b"), F.col("v").alias("v_b"))
        return (
            cand.join(va, "vec_a")
            .join(vb, "vec_b")
            .select(
                "vec_a",
                "vec_b",
                F.round(
                    cosine_similarity(F.col("v_a"), F.col("v_b")), 4
                ).alias("cosine"),
            )
            .filter(F.col("cosine") >= threshold)
            .localCheckpoint(eager=True)
        )


def connected_dup_groups(
    documents: DataFrame,
    jaccard_distance: float = 0.6,
    max_iterations: int = 20,
) -> DataFrame:
    """Duplicate CLUSTERS from near-dup pairs (the form a dedup
    pipeline actually consumes: keep one doc per component, drop the
    rest).  Connected components via iterative min-label propagation:
    every node starts labeled with its own id; each round takes the min
    of its own and its neighbors' labels; convergence in O(component
    diameter) rounds — duplicate clusters are near-cliques, so 1-3
    rounds in practice.

    Iterative-DataFrame hygiene: per-round ``localCheckpoint`` truncates
    the lineage (otherwise the plan doubles every round), and the edge
    list is cached — the classic Spark shape for label propagation /
    PageRank-style loops.  The driver-side loop iterates over ROUNDS,
    never rows.  Returns (doc_id, group_id = min doc_id of the
    component) for every doc in at least one pair."""
    pairs = minhash_lsh_pairs(documents, jaccard_distance)
    fwd = pairs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
    with cached(
        fwd.unionByName(fwd.select(F.col("b").alias("a"), F.col("a").alias("b")))
    ) as edges:
        labels = (
            edges.select(F.col("a").alias("doc_id"))
            .distinct()
            .withColumn("label", F.col("doc_id"))
            .localCheckpoint(eager=True)
        )
        for _ in range(max_iterations):
            nbr_min = (
                edges.join(
                    labels.select(
                        F.col("doc_id").alias("b"), F.col("label").alias("nl")
                    ),
                    "b",
                )
                .groupBy("a")
                .agg(F.min("nl").alias("nbr_label"))
            )
            from pyspark.sql import Observation

            new_label = F.least(
                F.col("label"), F.coalesce("nbr_label", F.col("label"))
            )
            # the convergence count rides the round's checkpoint action
            # as an Observation metric — the old separate old-vs-new
            # join + count() doubled the per-round job count
            obs = Observation()
            new_labels = (
                labels.join(
                    nbr_min, labels.doc_id == nbr_min.a, "left"
                )
                .select(
                    "doc_id",
                    new_label.alias("label"),
                    (new_label != F.col("label")).alias("__chg"),
                )
                .observe(obs, F.sum(F.col("__chg").cast("long")).alias("n"))
                .select("doc_id", "label")
                .localCheckpoint(eager=True)
            )
            changed = _obs_metric(obs, "n")
            labels = new_labels
            if changed == 0:
                break
        else:
            # chain-shaped components with diameter > max_iterations
            # would silently get split labels — make that loud
            raise RuntimeError(
                f"connected_dup_groups did not converge within "
                f"{max_iterations} iterations ({changed} labels still "
                f"changing); raise max_iterations for long-chain "
                f"components"
            )
        return labels.select("doc_id", F.col("label").alias("group_id"))


def incremental_dedup(
    new_docs: DataFrame,
    corpus: DataFrame,
    threshold: float = 0.7,
    num_bands: int = 25,
    rows_per_band: int = 3,
    shingle_k: int = 2,
    max_bucket_size: int = MAX_BUCKET_SIZE,
) -> DataFrame:
    """Dedup a NEW ingest batch against an already-indexed corpus — the
    production shape of text dedup: each crawl/day is checked against
    the existing index, never corpus-vs-corpus again.

    Two escalating layers, each touching only what the previous one
    passed:

    1. exact — md5(normalized text) semi/anti join against the corpus
       digest set; verdict ``exact_dup`` with the count of matching
       corpus docs.  Shuffles digests only.
    2. near — banded-MinHash band keys on BOTH sides, equi-join
       new-survivors × corpus on (band, key) — an asymmetric LSH probe,
       so corpus-vs-corpus pairs are never generated — then exact
       shingle-set Jaccard verify at ``threshold``; verdict
       ``near_dup`` with the distinct matching corpus-doc count.

    Survivors of both layers come back as ``new``: the rows safe to
    append to the index.  Degenerate corpus buckets (membership above
    ``max_bucket_size``) are excluded from probing with a logged count,
    same policy as ``_bucket_candidate_pairs`` — a boilerplate-bucket
    probe must not quadratically expand one task.

    At 100 TB the corpus side of layers 1-2 is a stored digest/band
    index (computed once per doc at ingest, reread thereafter); here
    both sides are derived in-plan from the same fixture table.
    """
    def signed(df: DataFrame) -> DataFrame:
        # NO shingle-count filter here: a doc too short to shingle
        # (< 2 tokens, including empty text) must still pass through
        # exact-digest screening and come out with a verdict — dropping
        # it here silently LOSES the doc from the ingest (fuzz seed 77
        # caught exactly that: empty docs vanished from the output).
        # The near layer below excludes shingle-less rows explicitly.
        return spread(df.select("doc_id", "text")).select(
            "doc_id",
            text_fp("text").alias("fp"),
            shingle_hashes("text", k=shingle_k).alias("hs"),
        )

    with cached(signed(new_docs), signed(corpus)) as (new_sig, corp_sig):
        # --- layer 1: exact digests --------------------------------------
        corp_fp = corp_sig.groupBy("fp").agg(
            F.count(F.lit(1)).alias("n_matches")
        )
        exact = new_sig.join(corp_fp, "fp").select(
            "doc_id", F.lit("exact_dup").alias("verdict"), "n_matches"
        )
        survivors = new_sig.join(corp_fp, "fp", "left_anti")

        # --- layer 2: asymmetric LSH probe + exact verify -----------------
        band_keys = _band_keys_expr(num_bands, rows_per_band)
        # shingle-less docs can't be probed (an empty signature would
        # hash to one shared key and spuriously bucket them together);
        # they skip the near layer and fall through to `fresh`
        probe = survivors.filter(F.size("hs") > 0).select(
            "doc_id", F.posexplode(band_keys).alias("band", "key")
        )
        index = corp_sig.filter(F.size("hs") > 0).select(
            F.col("doc_id").alias("corpus_id"),
            F.posexplode(band_keys).alias("band", "key"),
        )
        sizes = index.groupBy("band", "key").agg(
            F.count(F.lit(1)).alias("bsz")
        )
        index = (
            index.join(sizes, ["band", "key"])
            .filter(F.col("bsz") <= max_bucket_size)
            .drop("bsz")
        )
        cand = (
            probe.join(index, ["band", "key"])
            .select("doc_id", "corpus_id")
            .distinct()
        )
        jac = F.round(
            F.size(F.array_intersect("hs_n", "hs_c")).cast("double")
            / F.size(F.array_union("hs_n", "hs_c")).cast("double"),
            4,
        )
        near = (
            cand.join(
                survivors.select("doc_id", F.col("hs").alias("hs_n")),
                "doc_id",
            )
            .join(
                corp_sig.select(
                    F.col("doc_id").alias("corpus_id"),
                    F.col("hs").alias("hs_c"),
                ),
                "corpus_id",
            )
            .filter(jac >= threshold)
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_matches"))
            .select("doc_id", F.lit("near_dup").alias("verdict"), "n_matches")
        )
        fresh = (
            survivors.join(near.select("doc_id"), "doc_id", "left_anti")
            .select(
                "doc_id",
                F.lit("new").alias("verdict"),
                F.lit(0).cast("long").alias("n_matches"),
            )
        )
        out = exact.unionByName(near).unionByName(fresh)
        return out.localCheckpoint(eager=True)


def canonical_survivors(
    documents: DataFrame, jaccard_distance: float = 0.3
) -> DataFrame:
    """Survivor selection — the step after duplicate clustering: each
    connected duplicate group keeps ONE canonical document (most
    tokens; doc_id breaks ties deterministically) and reports what it
    absorbed.  This is the curation default ("keep the longest
    near-dup") made explicit and auditable.

    Scale shape: clustering cost dominates (see connected_dup_groups);
    the selection itself is one group-keyed window over the tiny
    (doc_id, group_id) result joined map-side to per-doc token counts.
    """
    from pyspark.sql import Window

    groups = connected_dup_groups(documents, jaccard_distance)
    sized = groups.join(
        documents.select(
            "doc_id", F.size(tokens("text")).alias("n_tokens")
        ),
        "doc_id",
    )
    w = Window.partitionBy("group_id").orderBy(
        F.desc("n_tokens"), F.asc("doc_id")
    )
    ranked = sized.select(
        "group_id",
        "doc_id",
        "n_tokens",
        F.row_number().over(w).alias("rk"),
    )
    return (
        ranked.groupBy("group_id")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.max(F.when(F.col("rk") == 1, F.col("doc_id"))).alias(
                "canonical_doc_id"
            ),
            F.max(F.when(F.col("rk") == 1, F.col("n_tokens"))).alias(
                "canonical_tokens"
            ),
        )
    )


def containment_pairs(
    documents: DataFrame,
    threshold: float = 0.8,
    shingle_k: int = 3,
    max_df: int | str = "auto",
    n_docs: int | None = None,
    observation=None,
    candidate_budget: int | str = "auto",
) -> DataFrame:
    """Asymmetric CONTAINMENT near-dup pairs: |A∩B| / min(|A|, |B|)
    over trigram-shingle sets (bigrams are too common to index on this
    corpus — median df 29 vs 1 for trigrams; rarity is what makes the
    inverted index sub-quadratic) — the doc-quotes-doc / truncated-repost
    detector Jaccard structurally misses (a half-length subset has
    Jaccard ~0.5 but containment 1.0).

    Candidates come from a RARE-SHINGLE inverted index: only shingles
    with document frequency <= ``max_df`` pair docs — the standard
    containment-search index shape.  Common shingles carry no signal
    and would pair quadratically; rare ones bound each posting list to
    <= max_df docs.  One shuffle of the shingle stream by hash builds
    the index: a window counts each shingle's ``df``, and the aggregate
    over the same partitioning collects the sorted posting list
    (``array_sort(collect_list(doc_id))``) from the rows with ``df <=
    max_df`` only, so no aggregation buffer or materialized index ever
    holds a common shingle's list (the window buffers a shingle's rows
    in a spillable row buffer).  Each rare list of 2+ docs emits its
    in-list pairs ``doc_a < doc_b`` (``posexplode`` + ``slice`` of the
    sorted list, no join), and ``groupBy(doc_a, doc_b).count()`` is the
    pair's shared-rare count ``i_rare``; ``explode`` of the same lists,
    grouped by doc, is each doc's rare count ``r``.  Verify never
    re-explodes the shingle stream: the candidates that survive the
    bound prune (below) join the cached hash arrays ``hs`` of both
    docs, and the exact count is ``size(array_intersect(hs_a, hs_b))``
    — ``hs`` is distinct per doc, so that is |A∩B| — over ``n =
    size(hs)``.

    Recall: a qualifying pair could in principle share ONLY high-df
    shingles, and on a fixed-vocabulary corpus the BACKGROUND df of a
    shingle grows with the corpus — so ``max_df="auto"`` sizes the cap
    to the corpus (``max(16, n_docs / 200)``), the same discipline as
    ``auto_planes``: measured on the sf0.1 fixture, qualifying pairs'
    rarest shared shingle reaches df 15 while a fixed cap of 10 missed
    20 of 821 pairs.  Recall vs the all-pairs oracle is 1.0 at every
    fixture scale (the differential would go red otherwise), but the
    ``n/200`` ratio was TUNED ON THESE FIXTURES — on a corpus with a
    different df distribution, qualifying pairs can be missed with no
    error; raising the cap buys recall linearly in candidate volume.
    No-silent-caps: pass a ``pyspark.sql.Observation`` as
    ``observation`` and the run reports ``shingles_total`` /
    ``shingles_dropped`` (distinct shingles excluded by the cap) as
    free map-side metrics on the same job, so cap pressure is visible
    instead of silent.  (Caveat: if the FINAL result is empty, AQE's
    empty-relation propagation may prune the metrics node and
    ``Observation.get`` raises — fetch metrics only on non-empty runs,
    or disable AQE for the diagnostic pass.)

    Jobs: ``max_df="auto"`` needs the corpus size; pass ``n_docs`` if
    known to skip the eager ``documents.count()``.  While the auto cap
    sits on its df<=16 floor (n <= 3200) the only other action is the
    final eager checkpoint of the pairs, whose AQE stages fill the
    ``hs`` cache, then run the df/postings shuffle, the pair and
    rare-count aggregates, the integer bound joins and the two array
    joins of the survivors.  Above the floor, the governor first
    materializes the df/postings relation ONCE (executor-side
    checkpoint, reused by the candidate stage) to read its histogram —
    proportional to distinct shingles, never to pairs; the final
    checkpoint then starts from it.

    Scale: the df/postings shuffle carries one (doc id, 8-byte hash)
    row per shingle occurrence, with no map-side reduction; after it,
    shuffles carry posting lists of <= max_df ids, integer pair and
    per-doc counts, and the hash arrays of docs in surviving pairs.
    Every stage past the df shuffle is bounded (df cap, candidate
    count) — no all-pairs path exists.  Round-8 probe hardening, after
    the 30x corpus OOMed an 8 GB heap (1348 s / 22 GB shuffle on
    32 GB):

    * **Upper-bound candidate prune** (exact, not approximate): a
      candidate's full intersection satisfies
      ``|A∩B| <= i_rare + min(common_a, common_b)``, so pairs whose
      bound cannot reach the threshold are filtered out on integer
      columns before any hash array joins them — at 30x the prune cut
      wall 12x and shuffle 14x with bit-identical output (most
      candidates share ONE mid-df shingle and die here).
    * **Candidate-volume governor** (``candidate_budget``): the df
      HISTOGRAM (a bounded driver read) solves the largest cap whose
      kept-shingle pair volume fits a linear-in-corpus budget —
      engaged only when a replicated-structure corpus makes volume
      genuinely quadratic in the cap, and LOUDLY (log + pytest pin).
    """
    from pyspark.sql import Window

    from play_bq_gcp_spark.operators.text import shingle_hashes

    auto_mode = max_df == "auto"
    if auto_mode:
        n = documents.count() if n_docs is None else n_docs
        max_df = max(16, n // 200)
    # Tokenize + shingle ONCE (r14, the minhash-engine pattern): the
    # df/postings aggregate and the verify's ``bound`` relation both
    # read the per-doc hash ARRAYS, and a lazy reference would re-run
    # scan → tokenize → shingle for each.  Cache the arrays (not the
    # exploded stream: ~8× fewer cached rows); the eager checkpoint of
    # the small pair output materializes everything while the cache is
    # live.
    with cached(
        spread(documents.select("doc_id", "text"))
        .select("doc_id", shingle_hashes("text", k=shingle_k).alias("hs"))
    ) as docs_hs:
        # df first, posting list second, over the one shuffle by ``g``:
        # the window counts each shingle's occurrences and the aggregate
        # (which reuses the window's partitioning, no second exchange)
        # collects doc ids only from rows within the cap, so no
        # aggregation buffer ever holds a common shingle's list.  The
        # window's per-shingle row buffer spills to disk when memory
        # runs short.
        dfreq = (
            docs_hs.select("doc_id", F.explode("hs").alias("g"))
            .withColumn("df", F.count(F.lit(1)).over(Window.partitionBy("g")))
            .groupBy("g")
            .agg(
                F.max("df").alias("df"),
                F.array_sort(
                    F.collect_list(
                        F.when(F.col("df") <= max_df, F.col("doc_id"))
                    )
                ).alias("docs"),
            )
            .select("df", "docs")
        )
        if auto_mode and max_df > 16:
            # Candidate-VOLUME governor (round 8).  The n/200 recall cap
            # grows with the corpus, but candidate work is Σ df·(df-1)/2
            # over kept shingles — on a corpus whose growth REPLICATES
            # structure (boilerplate at web scale), df does not dilute, so
            # mid-frequency shingles that the 1x cap excluded sail under
            # the 30x cap and the pair stage explodes quadratically in the
            # cap (measured: the 30x probe corpus OOMed an 8 GB heap and
            # cost 1348 s / 22 GB shuffle on 32 GB).  Solve the largest
            # cap' <= cap whose kept-shingle pair volume fits a
            # linear-in-corpus budget, from the df HISTOGRAM (<= cap rows
            # to the driver — a bounded model read, the auto_planes
            # discipline applied to the df cap).  The floor stays 16: the
            # r6 sufficiency study put qualifying pairs' rarest shared
            # shingle at df 15, and the governor drops HIGH-df (lowest
            # signal) shingles first, so fixture-scale recall is
            # untouched — the governor only engages when volume actually
            # explodes, and LOUDLY.
            #
            # Gated on max_df > 16 (ADVICE r8): with the cap at its df<=16
            # floor the governor cannot lower it, so small corpora build a
            # fully lazy plan — no eager histogram job.  When it CAN bind,
            # dfreq is materialized ONCE (executor-side checkpoint) and
            # reused by both the histogram and the rare-shingle index, so
            # the governor costs one tiny grouped read of checkpointed
            # data, not a duplicate full aggregation.
            dfreq = dfreq.localCheckpoint(eager=True)
            if candidate_budget == "auto":
                candidate_budget = max(2_000_000, 400 * n)
            hist = sorted(
                (r.df, r.c)
                for r in dfreq.filter(F.col("df") <= max_df)
                .groupBy("df")
                .agg(F.count(F.lit(1)).alias("c"))
                .collect()
            )

            def _volume(cap: int) -> int:
                return sum(c * d * (d - 1) // 2 for d, c in hist if d <= cap)

            if _volume(max_df) > candidate_budget:
                fitted = 16
                for d, _ in hist:
                    if d <= max_df and _volume(d) <= candidate_budget:
                        fitted = max(fitted, d)
                _log.warning(
                    "containment candidate governor: df cap %d -> %d "
                    "(pair volume %d exceeds budget %d; high-df shingles "
                    "dropped first — recall floor df<=16 preserved).  "
                    "NOTE: a governed cap can drop qualifying pairs whose "
                    "rarest shared shingle sits between the fitted and "
                    "ungoverned caps — an oracle modeling the ungoverned "
                    "n/200 cap (or exact all-pairs, as dedup_containment_"
                    "pairs does) may diverge while this governor is "
                    "engaged; the fitted cap is deterministic given the "
                    "corpus, and the dedup_containment_governed registry "
                    "entry replays this entire sizing formula in SQL so a "
                    "governed run stays differential-checkable.  On the "
                    "UNgoverned fixtures it never engages (pinned in "
                    "test_containment_candidate_governor).",
                    max_df, fitted, _volume(max_df), candidate_budget,
                )
                max_df = max(16, fitted)
        if observation is not None:
            dfreq = dfreq.observe(
                observation,
                F.count(F.lit(1)).alias("shingles_total"),
                F.sum((F.col("df") > F.lit(max_df)).cast("long")).alias(
                    "shingles_dropped"
                ),
            )
        # Candidates straight off the rare posting lists: the list is
        # sorted, so each doc pairs with the docs after it, and the pair's
        # count over all lists is i_rare.  The explicit doc_a < doc_b
        # drops the self-pair a repeated doc_id would put in one list.
        rare = dfreq.filter(F.col("df") <= max_df).select("docs")
        cand = (
            rare.filter(F.size("docs") >= 2)
            .select("docs", F.posexplode("docs").alias("pos", "doc_a"))
            .select(
                "doc_a",
                F.explode(
                    F.slice("docs", F.col("pos") + 2, F.size("docs"))
                ).alias("doc_b"),
            )
            .filter(F.col("doc_a") < F.col("doc_b"))
            .groupBy("doc_a", "doc_b")
            .agg(F.count(F.lit(1)).alias("i_rare"))
        )
        n_rare = (
            rare.select(F.explode("docs").alias("doc_id"))
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("r"))
        )
        # Exact upper-bound prune (round 8): shared shingles are rare or
        # above the cap, so |A∩B| <= i_rare + min(common_a, common_b)
        # with common_x = n_x - r_x, and a pair whose bound cannot reach
        # the threshold never verifies (the 1e-4 slack covers the 4-dp
        # output round).  Every candidate doc holds a rare shingle, so
        # the inner join keeps all of them.  The prune reads integer
        # columns only; the ``hs`` arrays join the survivors, so the
        # candidate volume never carries them (SCALING.md, "Containment
        # from posting lists").
        bound = docs_hs.select(
            "doc_id", F.size("hs").cast("long").alias("n")
        ).join(n_rare, "doc_id")

        def side(x: str) -> DataFrame:
            return bound.select(
                F.col("doc_id").alias(f"doc_{x}"),
                F.col("n").alias(f"__n_{x}"),
                (F.col("n") - F.col("r")).alias(f"__c_{x}"),
            )

        def arrays(x: str) -> DataFrame:
            return docs_hs.select(
                F.col("doc_id").alias(f"doc_{x}"), F.col("hs").alias(f"__hs_{x}")
            )

        least_n = F.least(F.col("__n_a"), F.col("__n_b"))
        out = (
            cand.join(side("a"), "doc_a")
            .join(side("b"), "doc_b")
            .filter(
                F.col("i_rare") + F.least(F.col("__c_a"), F.col("__c_b"))
                >= (threshold - 1e-4) * least_n
            )
            .join(arrays("a"), "doc_a")
            .join(arrays("b"), "doc_b")
            .select(
                "doc_a",
                "doc_b",
                F.round(
                    F.size(F.array_intersect("__hs_a", "__hs_b")) / least_n, 4
                ).alias("containment"),
            )
            .filter(F.col("containment") >= threshold)
        )
        return out.localCheckpoint(eager=True)


# ---------------------------------------------------------------------------
# Semantic dedup (SemDeDup): k-means clusters, then intra-cluster
# cosine pruning
# ---------------------------------------------------------------------------

# Shared with the registry oracle (the queries/ package f-strings the twin
# from these, so parameter drift breaks the differential loudly).
SEM_K = 8
SEM_ITERS = 2
SEM_SCALE = 1000
SEM_THR_NUM = 9
SEM_THR_DEN = 10
# auto-k target cluster size: k = max(SEM_K, n // SEM_TARGET) bounds
# the intra-cluster pair stage at ~SEM_TARGET² comparisons per cluster
# regardless of corpus size (the SemDeDup paper's k ∝ n cost model; a
# FIXED k made the pair stage quadratic in corpus — 19.9x wall at 10x
# data on the r13 sf1 probe).  Replayed verbatim in the DuckDB oracle.
SEM_TARGET = 256


def sem_auto_k(n: int) -> int:
    """Cluster count for an n-vector corpus (shared with the oracle's
    ``greatest(SEM_K, count // SEM_TARGET)``)."""
    return max(SEM_K, n // SEM_TARGET)


def semantic_dedup(
    embeddings: DataFrame,
    k: int = SEM_K,
    iters: int = SEM_ITERS,
    scale: int = SEM_SCALE,
    thr_num: int = SEM_THR_NUM,
    thr_den: int = SEM_THR_DEN,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): cluster embeddings with k-means,
    then inside each cluster drop every vector whose cosine similarity
    to a LOWER-id cluster-mate reaches ``thr_num/thr_den`` — pairwise
    comparison happens only within a cluster, never across the corpus.

    Everything is integer-exact so the DuckDB oracle replays the whole
    pipeline: vectors quantize to ``floor(x*scale)`` longs (identical
    IEEE double ops in any engine), distances/dots are integer sums,
    centroid updates are element-wise truncating division (both engines
    truncate toward zero on the driver/SQL side), ties break to the
    lowest cluster index via first-position argmin, and the cosine
    test is the cross-multiplied form ``thr_den²·dot² ≥
    thr_num²·|a|²·|b|²`` (dot ≥ 0) — no sqrt, no float.

    Int64 headroom assumption: the cross-multiplied test stays exact
    only while ``thr_den²·dot²`` fits a signed 64-bit value, i.e.
    |dot| ≤ ~3e8 at the default ``thr_den=100`` — guaranteed for
    roughly-unit-norm inputs quantized at ``scale=1000`` (|dot| ≤
    dim·scale² = 6.4e7 at dim 64) but NOT for arbitrary-magnitude
    embeddings, where Spark (non-ANSI) would wrap silently while
    DuckDB raises on BIGINT overflow.  Callers with unnormalized
    vectors must lower ``scale`` (keep dim·scale²·thr_den² < 2⁶³)
    or L2-normalize upstream; the fixtures and oracle run unit-norm.

    Scale shape: centroids are a bounded model — init is the first
    ``k`` ids' vectors, each Lloyd round collects only k×dim partial
    sums (the IVF precedent: model rows, never data rows) and
    re-broadcasts them as plan literals, so assignment is a map-only
    HOF pass.  The pair stage shuffles once on the cluster key and is
    quadratic only within a cluster — so ``k`` MUST grow with the
    corpus (the registry entry passes ``sem_auto_k(n)``, target
    cluster size ``SEM_TARGET``; a fixed k measured 19.9x wall at 10x
    data before the r13 fix), exactly the SemDeDup paper's cost
    model.  The plan-literal centroid matrix bounds k at ~10⁴
    (k×dim longs in the plan); past that, restate assignment as a
    broadcast join over a centroid DataFrame — same math, same
    oracle.  Empty clusters keep their previous centroid.

    Returns every vector with its final cluster and a ``kept`` flag
    (False = pruned as a semantic duplicate of an earlier id).
    """
    vq = embeddings.select(
        "vec_id",
        F.transform(
            F.col("embedding").cast("array<double>"),
            lambda x: F.floor(x * scale).cast("long"),
        ).alias("v"),
    )
    cents = [list(r.v) for r in vq.orderBy("vec_id").limit(k).collect()]
    if not cents:
        # empty corpus: nothing to cluster or prune
        return vq.select(
            "vec_id",
            F.lit(0).cast("int").alias("cluster"),
            F.lit(True).alias("kept"),
        )
    k = len(cents)  # corpus smaller than k: every vector seeds a cluster
    dim = len(cents[0])

    def assign(df: DataFrame, cs: list[list[int]]) -> DataFrame:
        from play_bq_gcp_spark.functions.vector import int_mat_lit

        cent_lit = int_mat_lit(cs)
        dists = F.transform(
            cent_lit,
            lambda c: F.aggregate(
                F.zip_with(F.col("v"), c, lambda a, b: (a - b) * (a - b)),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ),
        )
        return df.withColumn(
            "cluster",
            (F.array_position(dists, F.array_min(dists)) - 1).cast("int"),
        )

    def trunc_div(s: int, n: int) -> int:
        return -((-s) // n) if s < 0 else s // n

    for _ in range(iters):
        assigned = assign(vq, cents)
        parts = (
            assigned.select(
                "cluster", F.posexplode("v").alias("pos", "val")
            )
            .groupBy("cluster", "pos")
            .agg(F.sum("val").alias("s"), F.count(F.lit(1)).alias("n"))
            .collect()  # bounded: ≤ k×dim model rows, never data rows
        )
        bypos = {(r.cluster, r.pos): (r.s, r.n) for r in parts}
        cents = [
            [
                trunc_div(*bypos[(ci, p)]) for p in range(dim)
            ]
            if (ci, 0) in bypos
            else cents[ci]
            for ci in range(k)
        ]

    final = assign(vq, cents).withColumn(
        "n2",
        F.aggregate(
            F.col("v"),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x * x,
        ),
    )
    a, b = final.alias("a"), final.alias("b")
    dot = F.aggregate(
        F.zip_with(F.col("a.v"), F.col("b.v"), lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    dropped = (
        a.join(
            b,
            (F.col("a.cluster") == F.col("b.cluster"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(F.col("b.vec_id").alias("vec_id"), dot.alias("dot"),
                F.col("a.n2").alias("na2"), F.col("b.n2").alias("nb2"))
        .filter(
            (F.col("dot") >= 0)
            & (
                F.lit(thr_den * thr_den) * F.col("dot") * F.col("dot")
                >= F.lit(thr_num * thr_num) * F.col("na2") * F.col("nb2")
            )
        )
        .select("vec_id")
        .distinct()
    )
    return (
        final.join(dropped.withColumn("is_dup", F.lit(True)), "vec_id", "left")
        .select(
            "vec_id",
            "cluster",
            F.coalesce(~F.col("is_dup"), F.lit(True)).alias("kept"),
        )
        .orderBy("vec_id")
    )


def lined_view(documents: DataFrame) -> DataFrame:
    """``doc_id, line_no, raw_line, line_h`` for every token-bearing
    line of ``text`` — the shared line surface behind ``line_dedup``
    and the streaming line-frequency ingest.  Lines split on ``\n``,
    normalize through the shared ``tokens()`` expression, and key on
    the md5 of the normalized form; token-free lines are dropped
    (they carry nothing trainable).  Map-only, no shuffle."""
    return (
        documents.select(
            "doc_id",
            F.posexplode(
                F.split(F.coalesce(F.col("text"), F.lit("")), "\n")
            ).alias("line_no", "raw_line"),
        )
        # token-free lines filtered on the RAW line (has_tokens ≡
        # norm != '' — array_join of a non-empty token array is
        # non-empty): filtering on the derived norm column pushed the
        # whole tokenize chain into the predicate below the Project,
        # tokenizing every line twice (r13; see text.has_tokens)
        .filter(has_tokens("raw_line"))
        .withColumn("norm", F.array_join(tokens(F.col("raw_line")), " "))
        .withColumn("line_h", F.md5("norm"))
    )


def mark_rebuild(lined: DataFrame, drop: DataFrame) -> DataFrame:
    """ONE pass from a line view + a (tiny) drop set to per-doc
    results: left join the drop set (a NULL mark means the line
    survives), then a single per-doc aggregate computes the total line
    count, the survivor count, and the in-order reconstruction
    together (``collect_list`` skips the NULLed-out dropped lines).
    ``drop`` must expose ``line_h`` and a non-null ``_bp`` marker."""
    marked = lined.join(drop, "line_h", "left")
    keep_struct = F.when(
        F.col("_bp").isNull(), F.struct("line_no", "raw_line")
    )
    return marked.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.count(keep_struct).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(keep_struct)),
                lambda s: s["raw_line"],
            ),
            "\n",
        ).alias("cleaned"),
    )


def finalize_line_outputs(universe: DataFrame, per_doc: DataFrame) -> DataFrame:
    """The shared line-dedup output contract, applied once: left-join
    the doc universe to a ``mark_rebuild`` result, zero-fill the
    counts, and fingerprint the cleaned text (md5('') for docs with no
    token-bearing or no surviving lines).  Used by both ``line_dedup``
    and the streaming ``run_line_stream`` so the batch and streaming
    twins cannot drift (r10 self-review)."""
    return (
        universe.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_lines"), F.lit(0).cast("long")).alias(
                "n_lines"
            ),
            F.coalesce(F.col("n_kept"), F.lit(0).cast("long")).alias("n_kept"),
            F.md5(F.coalesce(F.col("cleaned"), F.lit(""))).alias("cleaned_fp"),
        )
    )


def line_dedup(
    documents: DataFrame,
    min_doc_frac: float = 0.01,
    min_doc_freq: int = 2,
) -> DataFrame:
    """CCNet-style line-level corpus dedup with document reconstruction.

    Web corpora carry per-site boilerplate (nav bars, cookie banners,
    footers) that document-level exact/near dedup cannot touch: the
    DOCUMENTS all differ, the LINES repeat.  CCNet (Wenzek et al.,
    LREC 2020, §3.1) removes lines whose normalized form repeats across
    the corpus before any fuzzy dedup; RefinedWeb and most pretraining
    pipelines keep the same stage.  Reference analogy: the reference
    cleans per-row payloads before load (reference: src/transform.py
    sanitize/normalize steps) but has no cross-row text surgery — this
    operator is the corpus-scale generalization its pipeline would need
    at 100 TB.

    Semantics:
      * a "line" is a ``\\n``-separated segment of ``text``;
      * each line normalizes through the shared ``tokens()`` expression
        (lowercase, non-alnum → space); lines with no tokens are
        dropped outright (they carry nothing trainable);
      * a line is boilerplate when its normalized form appears in
        ``>= max(min_doc_freq, floor(n_docs * min_doc_frac))`` DISTINCT
        documents — corpus-relative, so the bar scales with corpus
        size instead of pinning an absolute count that a 100× corpus
        would trivially exceed with legitimate quotations;
      * surviving lines reassemble in original line order; the output
        carries ``md5`` of the cleaned text, not the text itself, so
        the result stays narrow at any scale.

    Plan shape (all native expressions, zero UDFs).  The text-heavy
    line view (``split`` + ``posexplode`` + per-line ``tokens``) is
    referenced from exactly TWO plan branches — the frequency
    aggregate and the mark-and-rebuild pass — and since r14 it is
    CACHED so those two branches evaluate it once (the first cut of
    this operator carried four lazy branches and measured 3-4x slower
    end to end, SCALING.md r10; the r13 cut got it to two; the cache
    closes the last factor of two):
      1. line frequency — one shuffle on the 128-bit line digest with
         map-side partial aggregation (``count(DISTINCT doc_id)``
         rewrites to a two-phase partial/final under whole-stage
         codegen);
      2. drop set — the ``>= threshold`` slice of the frequency table.
         The FREQUENCY table is corpus-sized; the drop slice is only
         the boilerplate vocabulary (tiny), so the mark join is left
         unhinted for AQE to convert to broadcast at runtime — a hard
         ``broadcast()`` hint would gamble on that size holding at
         every scale, AQE measures it instead;
      3. mark + rebuild — ONE pass over the line view: left join the
         drop set (a NULL mark means the line survives), then a single
         per-doc aggregate computes the total line count, the survivor
         count, and the in-order reconstruction together
         (``collect_list`` skips the NULLed-out dropped lines);
      4. the doc universe re-enters through a doc_id-only left join —
         column pruning keeps that branch free of all text work.

    At 100 TB: two wide shuffles (line digest, doc_id) + one
    runtime-sized broadcast join — linear end to end, no quadratic
    region, no driver-side data movement (the threshold scalar is a
    1-row broadcast; its branch prunes ``text`` away entirely).

    Output: ``doc_id, n_lines, n_kept, cleaned_fp`` sorted by doc_id;
    ``n_lines`` counts token-bearing lines only.
    """
    # r14: cache the line view so its two consumer branches (frequency
    # aggregate, mark-and-rebuild) split + tokenize the corpus ONCE —
    # the r10 design already minimized the branch count to two; the
    # cache takes it to one evaluation (interleaved A/B, both orders:
    # ~ −6 % at sf0.1, collect() outputs identical).  The per-doc
    # output is narrow (ids, counts, one md5), so the eager checkpoint
    # that materializes it while the cache is live stays small; at
    # 100 TB the cached line view spills MEMORY_AND_DISK — the same
    # materialize-once-vs-recompute-twice trade, made explicit.
    with cached(lined_view(documents)) as lined:
        # Corpus-relative threshold: one 1-row aggregate, broadcast by
        # the cross join — never a driver collect.  count(1) prunes
        # text, so this branch never tokenizes.
        thr = documents.agg(
            F.greatest(
                F.lit(int(min_doc_freq)).cast("long"),
                F.floor(F.count(F.lit(1)) * F.lit(float(min_doc_frac))),
            ).alias("_thr")
        )
        freq = lined.groupBy("line_h").agg(
            F.countDistinct("doc_id").alias("doc_freq")
        )
        drop = (
            freq.crossJoin(thr)
            .filter(F.col("doc_freq") >= F.col("_thr"))
            .select("line_h", F.lit(True).alias("_bp"))
        )
        per_doc = mark_rebuild(lined, drop)
        return (
            finalize_line_outputs(documents, per_doc)
            .orderBy("doc_id")
            .localCheckpoint(eager=True)
        )


def duplicate_span_profile(
    documents: DataFrame,
    window: int = 6,
    min_count: int = 2,
) -> DataFrame:
    """Span-level EXACT substring dedup (duplicated token-window marking).

    Document-level dedup (``exact_dedup``) misses documents that share
    long verbatim passages without being copies, and line-level dedup
    (``line_dedup``) only catches repeats that align with line breaks.
    Lee et al. (ACL 2022, "Deduplicating Training Data Makes Language
    Models Better") remove every ≥50-token substring that occurs twice
    anywhere in the corpus, via a corpus-global suffix array.  A suffix
    array is a single-machine construction; the Spark-first equivalent
    is the standard rolling-window factorization of the same predicate:
    a maximal duplicated substring of length ≥ W is exactly a maximal
    run of duplicated W-token windows, so marking every duplicated
    window (total corpus occurrences ≥ ``min_count``) and merging
    overlapping marks per document reproduces the span boundaries
    without any global ordered structure.  Reference analogy: the
    reference sanitizes rows independently (reference: main.py
    clean-transform steps) and has no cross-row surgery; this is the
    corpus-scale stage its pipeline would need before pretraining.

    Stages (all native expressions, zero UDFs):
      1. tokenize — ``split`` on the literal space; NULL text
         coalesces to ``''`` so every doc_id survives to the output;
      2. window keys — docs with ≥ W tokens explode to one row per
         window start (ascending ``sequence`` is guarded by the size
         filter, never descending); the join/group key is ``md5`` of
         the space-joined window, so the wide shuffles carry a
         constant-width digest instead of corpus text (the line_dedup
         digest argument);
      3. global frequency — one shuffle on the digest with map-side
         partial aggregation; duplicated = total occurrences ≥
         ``min_count`` (self-repeats within one doc count, matching
         the suffix-array predicate);
      4. mark — occurrences inner-join the duplicated-key set (left
         unhinted: AQE broadcasts the key set when the duplicated
         vocabulary is small, falls back to shuffle-hash when a
         boilerplate-heavy corpus makes it large);
      5. coverage — each marked window covers positions
         ``start..start+W-1``; a (doc_id, pos) aggregate collapses
         overlaps AND carries a window-start marker, so the per-doc
         duplicated-window count rides the coverage rows instead of
         needing its own occurrence branch (r13: the separate branch
         re-derived the whole window subtree — 5 corpus scans → 3);
      6. mark + rebuild — ONE pass over the exploded position stream
         (the line_dedup branch lesson): the coverage mark left-joins
         on, one doc-ordered window flags island starts (covered with
         an uncovered predecessor — maximal spans without a
         self-join), and a single per-doc aggregate computes every
         count plus the in-order rebuild
         (``sort_array(collect_list(struct(pos, tok)))`` — a
         deterministic per-doc bounded list, covered tokens NULLed
         out so ``collect_list`` skips them); the output carries
         ``md5`` of the kept text, keeping rows narrow at any scale.

    At 100 TB: every stage is corpus-linear with a bounded ×W row
    expansion (windows, coverage); the only data-sized shuffles key on
    16-byte digests or ``doc_id``; no driver-side data movement and no
    quadratic region — the suffix array's O(corpus log corpus) global
    sort is replaced by hash shuffles.  W tunes the Lee-et-al length
    threshold; production would raise it to ~50 and hash with
    ``xxhash64`` (the md5 choice here is oracle parity — DuckDB lacks
    xxhash64).

    Output: ``doc_id, n_tokens, dup_windows, covered_tokens,
    span_count, kept_tokens, kept_fp`` sorted by doc_id.
    """
    from pyspark.sql import Window

    W = int(window)
    toks = documents.select(
        "doc_id",
        F.split(F.coalesce(F.col("text"), F.lit("")), " ").alias("ts"),
    )
    win = (
        toks.where(F.size("ts") >= W)
        .select(
            "doc_id",
            "ts",
            F.explode(
                F.sequence(F.lit(0), F.size("ts") - F.lit(W))
            ).alias("start"),
        )
        .select(
            "doc_id",
            "start",
            F.md5(
                F.array_join(
                    F.slice(F.col("ts"), F.col("start") + 1, W), " "
                ).cast("binary")
            ).alias("w_h"),
        )
    )
    dup = (
        win.groupBy("w_h")
        .count()
        .filter(F.col("count") >= int(min_count))
        .select("w_h")
    )
    occ = win.join(dup, "w_h")
    # Coverage AND the per-doc window count from ONE evaluation of the
    # occurrence view (r13 optimization): a separate
    # ``occ.groupBy(doc_id).count()`` branch re-derived the whole
    # window subtree (scan + split + explode + md5 + the dup join) a
    # second time — the plan scanned ``documents`` five times.  Window
    # starts are unique per doc (``win`` emits one row per (doc_id,
    # start)), so a per-position start marker carries the count
    # losslessly through the coverage aggregate:
    # ``dup_windows = Σ_pos max(pos == start)``.  The old
    # ``.distinct()`` is the same (doc_id, pos) grouping.
    cov = (
        occ.select(
            "doc_id",
            "start",
            F.explode(
                F.sequence(F.col("start"), F.col("start") + F.lit(W - 1))
            ).alias("pos"),
        )
        .groupBy("doc_id", "pos")
        .agg(
            F.max((F.col("pos") == F.col("start")).cast("long")).alias(
                "_starts"
            )
        )
    )
    # Mark + rebuild in ONE pass over the position stream (the
    # line_dedup branch lesson: every extra branch re-reads and
    # re-tokenizes the corpus).  The coverage mark left-joins onto the
    # exploded positions; a single doc-ordered window derives island
    # starts (covered with an uncovered/absent predecessor), and ONE
    # per-doc aggregate computes every stat plus the ordered rebuild
    # (collect_list skips the NULLed-out covered tokens).
    allpos = toks.select(
        "doc_id", F.posexplode("ts").alias("pos", "tok")
    )
    covered = F.col("_starts").isNotNull()
    marked = allpos.join(cov, ["doc_id", "pos"], "left").withColumn(
        "_island_start",
        (
            covered
            & ~F.coalesce(
                F.lag(covered).over(
                    Window.partitionBy("doc_id").orderBy("pos")
                ),
                F.lit(False),
            )
        ).cast("long"),
    )
    stats = marked.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.coalesce(F.sum("_starts"), F.lit(0).cast("long")).alias(
            "dup_windows"
        ),
        F.sum(covered.cast("long")).alias("covered_tokens"),
        F.sum("_island_start").alias("span_count"),
        F.sum((~covered).cast("long")).alias("kept_tokens"),
        F.md5(
            F.array_join(
                F.transform(
                    F.sort_array(
                        F.collect_list(
                            F.when(~covered, F.struct("pos", "tok"))
                        )
                    ),
                    lambda s: s["tok"],
                ),
                " ",
            ).cast("binary")
        ).alias("kept_fp"),
    )
    return stats.select(
        "doc_id",
        "n_tokens",
        "dup_windows",
        "covered_tokens",
        "span_count",
        "kept_tokens",
        "kept_fp",
    ).orderBy("doc_id")

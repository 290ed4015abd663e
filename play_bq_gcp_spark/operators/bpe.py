"""Byte-pair-encoding tokenizer: distributed training + encoding.

The real token counter a training-data pipeline budgets with — the
``text.doc_profile`` BPE-ish regex approximates token counts; this
module LEARNS the merge table (classic Sennrich BPE over the corpus's
word-frequency table) and encodes documents with it.

Scale design:

* **Training operates on the DISTINCT-WORD frequency table, never the
  corpus.**  One aggregation reduces N documents to V (word, freq)
  rows — V is vocabulary-bounded (millions at 100 TB, not billions) —
  and every merge iteration is a pair-count aggregate + a map-side
  HOF rewrite of that small table.  The only driver traffic is ONE
  argmax row per iteration (the PageRank bounded-collect precedent).
* **Each iteration is native Spark.**  Adjacent pairs come from
  ``zip_with`` over the shifted symbol array; the merge rewrite is a
  left-greedy ``aggregate`` fold — no Python in the training loop.
  Lineage is truncated with eager ``localCheckpoint`` every few
  iterations (the PageRank lesson: without it, iteration i re-derives
  all i-1 predecessors).
* **Encoding is Arrow-batched Python** (``mapInPandas``): the learned
  merge ranks broadcast as a plain dict; per-word encoding follows
  lowest-rank-first merge order, memoized per distinct word within a
  batch.  Map-only — no shuffle.

Determinism: ties in the pair argmax break on (count DESC, pair ASC);
pair counting includes overlapping occurrences; merge application is
left-greedy.  The pure-Python reference in tests/test_properties.py
pins all three choices.
"""

from __future__ import annotations

import uuid
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, functions as F

from play_bq_gcp_spark.session import scoped_conf

END_OF_WORD = "▁"  # marks word end so merges can't cross words


def _word_freq(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, freq) over whitespace-split words — the V-row table all
    training iterations run on."""
    return (
        documents.select(
            F.explode(F.split(F.col(text_col), r"\s+")).alias("word")
        )
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def _initial_symbols() -> F.Column:
    """Character-level symbol array with the end-of-word marker
    appended as its own symbol."""
    return F.concat(
        F.split(F.col("word"), ""), F.array(F.lit(END_OF_WORD))
    ).alias("syms")


def _merge_fold(a: str, b: str) -> str:
    """SQL for the left-greedy merge of adjacent (a, b) into ab —
    a single ``aggregate`` fold, evaluated JVM-side."""
    qa, qb = a.replace("'", "\\'"), b.replace("'", "\\'")
    return f"""
    aggregate(
      syms,
      cast(array() as array<string>),
      (acc, x) -> case
        when size(acc) > 0
             and element_at(acc, -1) = '{qa}' and x = '{qb}'
        then concat(slice(acc, 1, size(acc) - 1), array('{qa}' || '{qb}'))
        else concat(acc, array(x))
      end
    )
    """


def bpe_train(
    documents: DataFrame,
    n_merges: int = 100,
    min_pair_count: int = 2,
    text_col: str = "text",
    checkpoint_every: int = 8,
) -> list[tuple[str, str]]:
    """Learn up to ``n_merges`` BPE merges from the corpus.  Returns
    the ordered merge list [(a, b), ...]; training stops early when the
    best remaining pair occurs fewer than ``min_pair_count`` times."""
    wf = _word_freq(documents, text_col).select(
        _initial_symbols(), "freq"
    )
    wf = wf.localCheckpoint(eager=True)
    # The train loop runs n_merges SEQUENTIAL argmax jobs over this
    # V-row vocabulary table, so per-JOB fixed cost — task launch,
    # AQE's per-shuffle stage materialization + re-planning — dominates
    # wall time long before per-row work does (r13 profile: ~130 ms/job
    # × 30 merges with ~50 ms of actual compute each).  Loop-scoped
    # remedies (guide §1.2 step 3, applied after the algorithm itself
    # is shuffle-minimal), all value-neutral:
    #
    # * partition the loop table by its MEASURED size — one partition
    #   per ~64k distinct words (V is vocabulary-bounded: tens of
    #   thousands at fixture scale, millions at 100 TB, never corpus-
    #   sized), floor 1 — instead of inheriting the session's
    #   data-sized shuffle setting.  The count is one job over the
    #   already-materialized checkpoint blocks;
    # * AQE off for the loop: adaptive re-planning exists to right-size
    #   big shuffles from runtime stats, but here every shuffle is
    #   V-bounded and pre-sized, so its per-job stage barrier is pure
    #   overhead (the argmax values are unaffected — the tie-break
    #   (n DESC, a, b) is a total order, partitioning-independent);
    # * shuffle.partitions pinned to the same derived count for the
    #   pair aggregate.
    spark = documents.sparkSession
    n_words = wf.count()
    parts = max(1, -(-n_words // 65536))  # ceil; ~64k words/partition
    if parts <= wf.rdd.getNumPartitions():
        # coalesce even when the width already matches: a checkpointed
        # RDD scan reports UnknownPartitioning, so groupBy still
        # inserts a (1-partition!) exchange above it, while
        # Coalesce(1) reports SinglePartition — which satisfies the
        # aggregate's clustering requirement outright and drops both
        # the shuffle and its extra stage from every loop job
        # (measured: 2 stages/job -> 1 at fixture scale)
        wf = wf.coalesce(parts)
    merges: list[tuple[str, str]] = []
    # Each iteration is ONE constant SQL statement over a re-registered
    # temp view instead of a freshly composed Column tree: the nested
    # zip_with/slice/struct builders cost ~20 Py4J round-trips per
    # iteration × n_merges sequential iterations (the r13 ANN build-path
    # lesson, applied to the loop), while one sql() call parses the
    # identical tree — interleaved A/B: 3.8 s → 2.4 s on the 30-merge
    # loop, merge list asserted identical.  The view binds at analysis
    # time (sql() analyzes eagerly), so re-registering it each
    # iteration cannot retroactively change an earlier plan.  The view
    # name is uuid-suffixed so concurrent trainings on one session
    # cannot clobber each other; it is spliced in by hand because the
    # merge SQL embeds corpus symbols, which may contain the braces
    # ``spark.sql(..., df=...)`` formatting would parse.
    view = f"__bpe_wf_{uuid.uuid4().hex[:12]}"
    pair_sql = f"""
        SELECT p, sum(freq) AS n
        FROM (SELECT explode(zip_with(slice(syms, 1, size(syms) - 1),
                                      slice(syms, 2, size(syms) - 1),
                                      (x, y) -> struct(x AS a, y AS b)))
                         AS p,
                     freq
              FROM {view})
        GROUP BY p ORDER BY n DESC, p.a, p.b LIMIT 1
    """
    loop_conf = {
        "spark.sql.adaptive.enabled": "false",
        "spark.sql.shuffle.partitions": str(parts),
    }
    with scoped_conf(spark, loop_conf):
        try:
            for it in range(n_merges):
                wf.createOrReplaceTempView(view)
                best = spark.sql(pair_sql).first()
                if best is None or best["n"] < min_pair_count:
                    break
                a, b = best["p"]["a"], best["p"]["b"]
                merges.append((a, b))
                wf = spark.sql(
                    "SELECT " + _merge_fold(a, b) + " AS syms, freq "
                    f"FROM {view}"
                )
                if (it + 1) % checkpoint_every == 0:
                    wf = wf.localCheckpoint(eager=True)
                    if parts <= wf.rdd.getNumPartitions():
                        # re-assert SinglePartition/width after the
                        # checkpoint (LogicalRDD forgets it — see above)
                        wf = wf.coalesce(parts)
        finally:
            spark.catalog.dropTempView(view)
    return merges


def _encode_word(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """Apply merges lowest-rank-first until none applies (the standard
    BPE encode loop); left-greedy within a rank pass."""
    syms = list(word) + [END_OF_WORD]
    while len(syms) > 1:
        ranked = [
            (ranks[(syms[i], syms[i + 1])], i)
            for i in range(len(syms) - 1)
            if (syms[i], syms[i + 1]) in ranks
        ]
        if not ranked:
            break
        rank = min(r for r, _ in ranked)
        a, b = None, None
        out: list[str] = []
        i = 0
        while i < len(syms):
            if (
                i + 1 < len(syms)
                and ranks.get((syms[i], syms[i + 1])) == rank
            ):
                out.append(syms[i] + syms[i + 1])
                a, b = syms[i], syms[i + 1]
                i += 2
            else:
                out.append(syms[i])
                i += 1
        syms = out
    return syms


def bpe_encode_stats(
    documents: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document token statistics under the learned tokenizer:
    BPE token count, pre-merge character-symbol count, and the
    compression ratio — the budget numbers a data pipeline reports.
    Map-only Arrow batches; per-distinct-word encodes memoized."""
    from play_bq_gcp_spark.catalog import spread

    ranks = {pair: i for i, pair in enumerate(merges)}

    def enc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        memo: dict[str, int] = {}

        def n_tokens(text: str) -> tuple[int, int]:
            total = chars = 0
            for w in text.split():
                if w not in memo:
                    memo[w] = len(_encode_word(w, ranks))
                total += memo[w]
                chars += len(w) + 1
            return total, chars

        for pdf in batches:
            counted = pdf[text_col].map(n_tokens)
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col],
                    "n_tokens_bpe": counted.map(lambda t: t[0]),
                    "n_symbols_char": counted.map(lambda t: t[1]),
                    # exact half-up 4-dp in integer space — Python's
                    # round() is half-even on binary doubles, which can
                    # split from any SQL oracle on a 4-dp tie (the
                    # fuzz-110 class); (20000c + t) // 2t is the same
                    # expression the DuckDB twin runs
                    "compression": counted.map(
                        lambda t: ((20000 * t[1] + t[0]) // (2 * t[0]))
                        / 10000.0
                        if t[0]
                        else 0.0
                    ),
                }
            )

    return spread(documents.select(id_col, text_col)).mapInPandas(
        enc,
        "doc_id long, n_tokens_bpe long, n_symbols_char long, "
        "compression double",
    )
